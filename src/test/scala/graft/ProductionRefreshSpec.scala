package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.jobs.{DailyRefreshJob, LandingJob}
import graft.jobs.LandingJob.{Config, Dataset}
import graft.operators.Upsert
import graft.sources.{Ingest, JobLock, RunLedger}

/** The PRODUCTION refresh DAG over LANDED tables (round-16, the
  * reference's cron-A post-step chain `cron-a-direct.ts:115-147`): the
  * REAL derived programs — the flagship stock-metrics plan and the
  * technical-kernel snapshot — computed from tables the schema-generic
  * landing job wrote, under the full composed control plane.
  *
  *  1. EQUIVALENCE — refresh-over-landed ≡ the same programs over the
  *     source rows directly (landing round-trips the four business
  *     tables losslessly; the published snapshots match row for row).
  *  2. GATING — one unlanded input dataset blocks the WHOLE chain via
  *     a recorded failed claim; landing it and re-running heals.
  */
class ProductionRefreshSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  import ProductionRefreshSpec.{dsCustomer, dsEvents, dsLineitem, dsOrders}

  private val D = "2024-06-03" // the business date everything lands under

  /** Driver-side slices of the sf0.001 tables — the "API" payloads AND
    * the direct-computation inputs (both sides of the equivalence see
    * the exact same rows). */
  private lazy val slices: Map[String, IndexedSeq[Row]] = {
    import spark.implicits._
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
        col("o_totalprice"), col("o_orderdate").cast("date").cast("string"))
      .as[(Long, Long, Double, String)].collect().toIndexedSeq
    val dates = o.map(_._4).distinct.sorted.take(3).toSet
    val oSlice = o.filter(r => dates(r._4))
    val keys = oSlice.map(_._1).toSet
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").cast("long"),
        col("l_linenumber").cast("long"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .as[(Long, Long, Double, Double, Double)].collect().toIndexedSeq
      .filter(r => keys(r._1))
    val cu = Tables.customer(spark, sf)
      .select(col("c_custkey").cast("long"), col("c_mktsegment"),
        col("c_acctbal"))
      .as[(Long, String, Double)].collect().toIndexedSeq
    val ev0 = Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .select(col("event_id").cast("long"), col("user_id").cast("long"),
        col("ts"), col("value"), col("day").cast("string"))
      .as[(Long, Long, java.sql.Timestamp, Double, String)]
      .collect().toIndexedSeq
    val evDays = ev0.map(_._5).distinct.sorted.take(2).toSet
    val ev = ev0.filter(r => evDays(r._5))
    Map(
      "orders" -> oSlice.map(r => Row(r._1, r._2, r._3, r._4, D)),
      "lineitem" -> li.zipWithIndex.map { case (r, i) =>
        Row(i.toLong, r._1, r._2, r._3, r._4, r._5, D) },
      "customer" -> cu.map(r => Row(r._1, r._2, r._3, D)),
      "events" -> ev.map(r => Row(r._1, r._2, r._3, r._4, D)))
  }

  private def pagedFetch(rows: IndexedSeq[Row]): LandingJob.RowFetch =
    (_, cursor) => {
      val start = cursor.map(_.toInt).getOrElse(0)
      val page = rows.slice(start, start + 200)
      val next = if (start + 200 < rows.size)
        Some((start + 200).toString) else None
      (200, page, next)
    }

  private def directDf(ds: Dataset, rows: IndexedSeq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, ds.schema)
  }

  private def mkHarness() = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_prodref")
    val cfg = Config("landing_prod", "prod",
      s"$tmp/landing", s"$tmp/coverage")
    var now = 0L
    val bucket = new Ingest.TokenBucket(requestsPerMinute = 6000,
      minIntervalMs = 1L, nowMs = () => now, sleepMs = now += _)
    (tmp, cfg, bucket, new JobLock(tmp.resolve("locks")),
      new RunLedger(nowMs = () => now), (d: Long) => now += d,
      () => now)
  }

  private def landOne(cfg: Config, bucket: Ingest.TokenBucket,
                      lock: JobLock, runs: RunLedger,
                      sleep: Long => Unit, now: () => Long,
                      ds: Dataset): Unit = {
    val r = LandingJob.runSchedule(spark, lock, runs, cfg,
      Seq(LandingJob.Scheduled(ds, pagedFetch(slices(ds.name)), Seq(D))),
      bucket, sleep, nowMs = now).toOption.get.head._2
    assert(r.status == "success", r.toString)
  }

  private def published(outRoot: String, stage: String): DataFrame =
    spark.read.parquet(Upsert.resolvePublished(s"$outRoot/$stage").get)

  test("landed-table refresh ≡ the same programs over the source rows") {
    val (tmp, cfg, bucket, lock, runs, sleep, now) = mkHarness()
    Seq(dsOrders, dsLineitem, dsCustomer, dsEvents)
      .foreach(landOne(cfg, bucket, lock, runs, sleep, now, _))
    val outRoot = s"$tmp/refresh"
    val out = DailyRefreshJob.runProductionRefresh(spark, lock, runs,
      cfg, dsOrders, dsLineitem, dsCustomer, dsEvents, D, outRoot, "v1")
    val stages = out.toOption.get
    assert(stages.map(_.name) == Seq("stock_metrics", "technical_snapshot"))
    assert(stages.forall(_.error.isEmpty), stages.toString)
    assert(stages.forall(_.rows > 0))

    val directMetrics = graft.analytics.ScreenMetrics.fromTables(
      directDf(dsOrders, slices("orders")),
      directDf(dsLineitem, slices("lineitem")),
      directDf(dsCustomer, slices("customer"))).collect().toSeq
    val landedMetrics =
      published(outRoot, "stock_metrics").orderBy(col("c_custkey"))
        .select(directMetrics.head.schema.fieldNames.map(col): _*)
        .collect().toSeq
    assert(landedMetrics == directMetrics,
      "stock_metrics over landed tables must equal the direct program")

    val directTech = graft.analytics.TechnicalJob.fromEventsDf(
      directDf(dsEvents, slices("events"))).collect().toSeq
    val landedTech =
      published(outRoot, "technical_snapshot").orderBy(col("key"))
        .select(directTech.head.schema.fieldNames.map(col): _*)
        .collect().toSeq
    assert(landedTech == directTech,
      "technical_snapshot over landed tables must equal the direct program")
    Upsert.rmTree(tmp.toFile)
  }

  test("one unlanded input blocks the chain; landing it heals") {
    val (tmp, cfg, bucket, lock, runs, sleep, now) = mkHarness()
    // events never lands on the first pass
    Seq(dsOrders, dsLineitem, dsCustomer)
      .foreach(landOne(cfg, bucket, lock, runs, sleep, now, _))
    val outRoot = s"$tmp/refresh"
    val blocked = DailyRefreshJob.runProductionRefresh(spark, lock, runs,
      cfg, dsOrders, dsLineitem, dsCustomer, dsEvents, D, outRoot, "v1")
    assert(blocked.isLeft && blocked.swap.toOption.get
      .contains("landing not covered"))
    // the blocked attempt is a FAILED run in the shared ledger —
    // visible to monitoring, reclaimable after the heal
    assert(runs.run("daily_refresh", D).get.status == "failed")
    // nothing published
    assert(Upsert.resolvePublished(s"$outRoot/stock_metrics").isEmpty)
    // heal: land events, re-run — the failed claim is reclaimed
    landOne(cfg, bucket, lock, runs, sleep, now, dsEvents)
    val healed = DailyRefreshJob.runProductionRefresh(spark, lock, runs,
      cfg, dsOrders, dsLineitem, dsCustomer, dsEvents, D, outRoot, "v2")
    assert(healed.isRight && healed.toOption.get.forall(_.error.isEmpty))
    assert(runs.run("daily_refresh", D).get.status == "success")
    assert(published(outRoot, "stock_metrics").count() > 0)
    Upsert.rmTree(tmp.toFile)
  }
}

/** The four landed business tables the production refresh reads, with
  * the testdata column names. */
object ProductionRefreshSpec {
  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", StringType, nullable = false),
    StructField("target_date", StringType, nullable = false)))
  val lineitemSchema = StructType(Seq(
    StructField("l_rowid", LongType, nullable = false),
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", LongType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("target_date", StringType, nullable = false)))
  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false),
    StructField("c_acctbal", DoubleType, nullable = false),
    StructField("target_date", StringType, nullable = false)))
  val eventsSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("target_date", StringType, nullable = false)))

  val dsOrders = Dataset("orders", ordersSchema, Seq("o_orderkey"))
  // the synthetic testdata's (l_orderkey, l_linenumber) is NOT unique
  // (6000 rows, 4599 distinct pairs at sf0.001) — the endpoint carries
  // its own unique row id, as the reference's statement rows do
  val dsLineitem =
    Dataset("lineitem", lineitemSchema, Seq("l_rowid"))
  val dsCustomer = Dataset("customer", customerSchema, Seq("c_custkey"))
  val dsEvents = Dataset("events", eventsSchema, Seq("event_id"))
}
