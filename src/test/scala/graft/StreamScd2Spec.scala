package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scd2
import graft.streaming.{StreamRunner, StreamScd2}
import graft.streaming.StreamScd2.Chg

/** Pins the streaming CDC→SCD2 contract ([[StreamScd2]], gated as q196):
  * the maintained history is INVARIANT to micro-batch boundaries and
  * always equals the batch [[Scd2.merge]] replay over the snapshots seen
  * so far. The q196 gate proves one boundary split against the DuckDB
  * oracle; this spec sweeps several splits (including the pathological
  * one-row-per-batch stream) against the batch replay directly. */
class StreamScd2Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  def d(s: String) = java.sql.Date.valueOf(s)

  private val days = Seq(d("2024-01-01"), d("2024-02-01"), d("2024-03-01"))

  /** Three snapshots with every SCD2 transition: carry-through (1),
    * change (2), delist (3 in snap 2), re-add (3 in snap 3), new key (4). */
  private def snapRows(i: Int): Seq[Chg] = {
    val day = days(i - 1)
    i match {
      case 1 => Seq(Chg(day, 1, "a", 10), Chg(day, 2, "a", 20), Chg(day, 3, "a", 30))
      case 2 => Seq(Chg(day, 1, "a", 10), Chg(day, 2, "b", 20))
      case 3 => Seq(Chg(day, 1, "a", 10), Chg(day, 2, "b", 20),
                    Chg(day, 3, "c", 30), Chg(day, 4, "a", 40))
    }
  }

  private def batchReplay(): DataFrame = {
    import spark.implicits._
    def snap(i: Int) = snapRows(i).toDF().select(col("code"), col("seg"), col("nat"))
    val empty = snap(1).filter(lit(false))
      .withColumn("valid_from", lit(null).cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(false))
    val keys = Seq("code"); val attrs = Seq("seg", "nat")
    val h1 = Scd2.merge(empty, snap(1), keys, attrs, days(0)).localCheckpoint()
    val h2 = Scd2.merge(h1, snap(2), keys, attrs, days(1)).localCheckpoint()
    Scd2.merge(h2, snap(3), keys, attrs, days(2))
  }

  private def canon(df: DataFrame): Seq[(Long, String, Long, String, String, Boolean)] =
    df.select(col("code"), col("seg"), col("nat"),
        col("valid_from").cast("string"), col("valid_to").cast("string"),
        col("is_current"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), Option(r.getString(4)).getOrElse(""), r.getBoolean(5)))
      .sortBy(t => (t._1, t._4)).toSeq

  private def streamReplay(batches: Seq[Seq[Chg]],
                           m: StreamScd2.MaintainerBase): Seq[(Long, String, Long, String, String, Boolean)] = {
    import spark.implicits._
    // if a batch feed throws, the runner rethrows it before the flush, so
    // the original exception propagates, not a secondary failure from
    // flushing a partially-fed maintainer
    StreamRunner.foreachBatch(spark, batches)(m.absorb)
    m.flush()
    canon(m.current)
  }

  private def streamReplay(batches: Seq[Seq[Chg]]): Seq[(Long, String, Long, String, String, Boolean)] =
    streamReplay(batches, new StreamScd2.Maintainer(spark))

  test("stream == batch replay under every batch split, incl. one row per batch") {
    val expected = canon(batchReplay())
    val all = snapRows(1) ++ snapRows(2) ++ snapRows(3)
    val splits: Seq[Seq[Seq[Chg]]] = Seq(
      Seq(snapRows(1), snapRows(2), snapRows(3)),          // aligned
      Seq(all),                                            // one giant batch
      all.map(Seq(_)),                                     // one row per batch
      Seq(snapRows(1) ++ snapRows(2).take(1),              // boundary-spanning
          snapRows(2).drop(1) ++ snapRows(3).take(2), snapRows(3).drop(2)))
    for (split <- splits)
      assert(streamReplay(split) == expected, s"split of sizes ${split.map(_.size)}")
    // transitions actually exercised: delist closes 3, re-add reopens it
    assert(expected.count(_._1 == 3L) == 2)
    assert(expected.exists(t => t._1 == 3L && !t._6 && t._5 == "2024-02-01"))
    assert(expected.exists(t => t._1 == 3L && t._6 && t._4 == "2024-03-01"))
  }

  test("late row for an already-merged date fails loud, not silently wrong") {
    import spark.implicits._
    val m = new StreamScd2.Maintainer(spark)
    m.absorb(snapRows(1).toDS())
    m.absorb(snapRows(2).toDS()) // snapshot 1 merges (later date arrived)
    // a straggler for snapshot 1 can no longer be applied; buffering it as
    // a fresh "snapshot" would delist every other key — must throw instead
    val e = intercept[IllegalStateException](
      m.absorb(Seq(Chg(days(0), 9, "z", 99)).toDS()))
    assert(e.getMessage.contains("late CDC row"))
  }

  test("watermarked maintainer: disordered arrival within lateness == batch replay") {
    val expected = canon(batchReplay())
    // snap-1 rows straggle in AFTER snap-2 rows (out of order), and snap-2
    // after snap-3 — all within the 45-day lateness bound, so nothing
    // merges until the watermark (max seen - 45d) proves completeness
    val disordered: Seq[Seq[Chg]] = Seq(
      snapRows(1).take(2),
      snapRows(2) ++ snapRows(1).drop(2),
      snapRows(3).take(1),
      snapRows(3).drop(1))
    val got = streamReplay(disordered,
      new StreamScd2.WatermarkedMaintainer(spark, latenessDays = 45))
    assert(got == expected)
    // and ordered arrival through the watermarked path agrees too
    assert(streamReplay(Seq(snapRows(1), snapRows(2), snapRows(3)),
      new StreamScd2.WatermarkedMaintainer(spark, latenessDays = 45)) == expected)
  }

  test("watermarked maintainer merges below the watermark before any flush") {
    import spark.implicits._
    val m = new StreamScd2.WatermarkedMaintainer(spark, latenessDays = 20)
    m.absorb((snapRows(1) ++ snapRows(2)).toDS())
    // max seen = 2024-02-01, watermark = 2024-01-12: snapshot 1 (01-01) is
    // proven complete and merged; snapshot 2 still buffers
    val h = canon(m.current)
    assert(h.size == 3 && h.forall(_._6), s"snapshot 1 alone, all current: $h")
    // a row older than the lateness bound fails loud — at the WATERMARK
    // check, which now runs before buffering (a rejected row must never
    // mutate maintainer state); the merge-cursor check remains the
    // second line of defense
    val e = intercept[IllegalStateException](
      m.absorb(Seq(Chg(days(0), 9, "z", 99)).toDS()))
    assert(e.getMessage.contains("lateness bound"))
    // state is untouched by the rejected row
    assert(canon(m.current) == h)
  }

  test("watermarked maintainer rejects bound violators even before any merge") {
    import spark.implicits._
    // batch 1 establishes the watermark at 2024-02-09 (max 2024-03-01 −
    // 20d) but merges NOTHING (2024-03-01 is not behind it); batch 2's
    // 2024-01-01 straggler is behind that established watermark with its
    // date never merged — the merge-cursor check can't see it, so the
    // per-batch watermark check must fail loud
    val m = new StreamScd2.WatermarkedMaintainer(spark, latenessDays = 20)
    m.absorb(snapRows(3).toDS())
    val e = intercept[IllegalStateException](
      m.absorb(Seq(Chg(days(0), 9, "z", 99)).toDS()))
    assert(e.getMessage.contains("lateness bound"))
  }

  test("half-arrived snapshot is buffered, not merged as delists") {
    import spark.implicits._
    val m = new StreamScd2.Maintainer(spark)
    StreamRunner.foreachBatch(spark, Seq(snapRows(1)))(m.absorb)
    // snapshot 1 has no successor yet → nothing merged
    intercept[IllegalStateException](m.current)
    // first row of snapshot 2 arrives → snapshot 1 merges COMPLETE;
    // snapshot 2's missing keys must NOT appear delisted
    StreamRunner.foreachBatch(spark, Seq(snapRows(2).take(1)))(m.absorb)
    val h1 = canon(m.current)
    assert(h1.size == 3 && h1.forall(_._6), s"snapshot 1 alone, all current: $h1")
  }
}
