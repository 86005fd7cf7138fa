package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ProductAgg, Scd2}
import graft.streaming.BreadthStream
import graft.streaming.BreadthStream.{Direction, Tick}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)

  // ---------------- SCD2 merge ----------------

  def history0 = {
    import spark.implicits._
    Seq(
      ("A", "tech", d("2024-01-01"), Option.empty[java.sql.Date], true),
      ("B", "fin", d("2024-01-01"), Option.empty[java.sql.Date], true),
      ("C", "util", d("2024-01-01"), Option.empty[java.sql.Date], true),
    ).toDF("code", "sector", "valid_from", "valid_to", "is_current")
  }

  test("scd2 merge: change closes+reopens, add inserts, delist closes") {
    import spark.implicits._
    // A changes sector, B unchanged, C missing (delisted), D is new
    val snap = Seq(("A", "health"), ("B", "fin"), ("D", "energy"))
      .toDF("code", "sector")
    val merged = Scd2.merge(history0, snap, Seq("code"), Seq("sector"),
      d("2024-06-01"))
    val rows = merged.collect().map(r => (r.getString(0), r.getString(1),
      r.getAs[java.sql.Date]("valid_to"), r.getBoolean(4))).toSet
    assert(rows == Set(
      ("A", "tech", d("2024-06-01"), false),
      ("A", "health", null, true),
      ("B", "fin", null, true),
      ("C", "util", d("2024-06-01"), false),
      ("D", "energy", null, true)))
    // idempotence: merging the same snapshot again changes nothing
    val again = Scd2.merge(merged, snap, Seq("code"), Seq("sector"),
      d("2024-06-02"))
    assert(again.count() == merged.count())
    assert(again.filter(col("is_current")).count() == 3)
    // at most one current row per key
    val dupCurrent = again.filter(col("is_current"))
      .groupBy("code").count().filter(col("count") > 1).count()
    assert(dupCurrent == 0)
  }

  test("scd2 as-of lookup returns the row valid at the date") {
    import spark.implicits._
    val snap = Seq(("A", "health")).toDF("code", "sector")
    val merged = Scd2.merge(history0, snap, Seq("code"), Seq("sector"),
      d("2024-06-01"))
    val before = Scd2.asOfLookup(merged.filter(col("code") === "A"),
      lit(d("2024-03-01")))
    assert(before.select("sector").collect().map(_.getString(0)).toSeq ==
      Seq("tech"))
    val after = Scd2.asOfLookup(merged.filter(col("code") === "A"),
      lit(d("2024-07-01")))
    assert(after.select("sector").collect().map(_.getString(0)).toSeq ==
      Seq("health"))
  }

  // ---------------- streaming breadth ----------------

  test("streaming breadth state machine matches the batch fold") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val ticks = Seq(
      Tick(1, d("2024-01-01"), 10.0), Tick(1, d("2024-01-02"), 12.0),
      Tick(1, d("2024-01-03"), 11.0), Tick(2, d("2024-01-01"), 5.0),
      Tick(2, d("2024-01-02"), 5.0))

    val stream = MemoryStream[Tick]
    val q = BreadthStream.directions(stream.toDS())
      .writeStream.format("memory").queryName("bdirs")
      .outputMode("append").start()
    stream.addData(ticks)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("bdirs").as[Direction].collect()
      .map(di => (di.userId, di.day, di.dir)).toSet

    val batch = BreadthStream.directionsBatch(ticks.toDS()).collect()
      .map(di => (di.userId, di.day, di.dir)).toSet
    assert(streamed == batch)
    assert(batch == Set(
      (1L, d("2024-01-01"), 0), (1L, d("2024-01-02"), 1),
      (1L, d("2024-01-03"), -1), (2L, d("2024-01-01"), 0),
      (2L, d("2024-01-02"), 0)))
  }

  // ---------------- product aggregator ----------------

  test("decimal product is exact where exp(sum(log)) is not") {
    import spark.implicits._
    val df = Seq("0.2", "5.0", "0.1", "10.0")
      .map(new java.math.BigDecimal(_)).toDF("f")
    val exact = df.agg(ProductAgg.decimalProduct(col("f"))).collect()(0)
      .getDecimal(0)
    assert(exact.compareTo(new java.math.BigDecimal("1")) == 0)
    val viaLogs = df.agg(exp(sum(log(col("f"))))).collect()(0).getDouble(0)
    assert(viaLogs != 1.0) // the rejected formulation drifts
  }

  // ---------------- era dates ----------------

  test("era date parse/format round trip") {
    import spark.implicits._
    val df = Seq("令和6.3.15", "平成31.4.1", "昭和64.1.7", "garbage", "")
      .toDF("s")
      .select(graft.functions.EraDate.parseEraDate(col("s")).as("dt"))
    val got = df.collect().map(r => Option(r.getDate(0)).map(_.toString))
    assert(got.toSeq == Seq(Some("2024-03-15"), Some("2019-04-01"),
      Some("1989-01-07"), None, None))
  }
}
