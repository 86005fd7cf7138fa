package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.WindowedAgg
import graft.streaming.WindowedAgg.Event

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("watermarked tumbling window: in-order data aggregates; stale data is dropped") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val stream = MemoryStream[Event]
    val q = WindowedAgg.tumbling(stream.toDS(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()

    // batch 1: two windows for user 1; advances the watermark to 10:25
    stream.addData(
      Event(ts("2024-01-01 10:01:00"), 1, 10.0),
      Event(ts("2024-01-01 10:04:00"), 1, 5.0),
      Event(ts("2024-01-01 10:12:00"), 1, 7.0),
      Event(ts("2024-01-01 10:30:00"), 2, 1.0))
    q.processAllAvailable()
    // batch 2: an event far behind the watermark → its window is closed
    stream.addData(Event(ts("2024-01-01 10:02:00"), 1, 99.0))
    q.processAllAvailable()
    // advance watermark far enough to close and emit all windows
    stream.addData(Event(ts("2024-01-01 11:00:00"), 2, 2.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("winagg").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    // the 10:00 window contains only the two on-time events — the late
    // 99.0 arrived after the watermark passed the window end
    assert(rows.contains(("2024-01-01 10:00:00.0", 1L, 2L, 15.0)))
    assert(rows.contains(("2024-01-01 10:10:00.0", 1L, 1L, 7.0)))
    assert(rows.contains(("2024-01-01 10:30:00.0", 2L, 1L, 1.0)))
    assert(!rows.exists(_._4 == 114.0), "late event leaked into closed window")
  }

  test("session windows merge within the gap and close on inactivity") {
    import spark.implicits._
    implicit val sc = spark.sqlContext

    val stream = MemoryStream[Event]
    val q = WindowedAgg.sessions(stream.toDS(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("sessagg")
      .outputMode("append").start()

    // user 1: two events 5 min apart → ONE session ending 10:05 + gap;
    // user 2: isolated event → its own session
    stream.addData(
      Event(ts("2024-01-01 10:00:00"), 1, 1.0),
      Event(ts("2024-01-01 10:05:00"), 1, 2.0),
      Event(ts("2024-01-01 10:00:00"), 2, 9.0))
    q.processAllAvailable()
    // advance the watermark far past every session end to emit them all
    stream.addData(Event(ts("2024-01-01 12:00:00"), 3, 0.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sessagg").collect()
      .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
        r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(rows.contains(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:15:00.0", 1L, 2L, 3.0)),
      rows.toString)
    assert(rows.contains(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L, 1L, 9.0)))
  }

  test("same aggregation runs identically as a batch plan") {
    import spark.implicits._
    val batch = Seq(
      Event(ts("2024-01-01 10:01:00"), 1, 10.0),
      Event(ts("2024-01-01 10:04:00"), 1, 5.0),
      Event(ts("2024-01-01 10:12:00"), 1, 7.0)).toDS()
    val out = WindowedAgg.tumbling(batch, "10 minutes", "5 minutes")
      .orderBy(col("win_start")).collect()
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq((2L, 15.0), (1L, 7.0)))
  }

  test("streaming near-dup screen flags arrivals against the standing corpus") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.StreamNearDedup
    import graft.streaming.StreamNearDedup.Doc

    val standing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines"))
      .toDF("doc_id", "text")

    val stream = MemoryStream[Doc]
    val q = StreamNearDedup.screen(stream.toDS(), standing, k = 5,
        nHashes = 16, rowsPerBand = 2, minJaccard = 0.3,
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("sneardup")
      .outputMode("append").start()
    val arrivals = Seq(
      Doc(ts("2024-01-01 10:00:00"), 10,
        "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      Doc(ts("2024-01-01 10:01:00"), 11,
        "utterly unrelated manifest of cargo and harbor dues"))
    stream.addData(arrivals: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sneardup").collect()
      .map(r => (r.getAs[Long]("docId"), r.getAs[Long]("dup_of"))).toSet
    assert(got.contains((10L, 1L)))
    assert(!got.exists(_._1 == 11L))
    // each (doc, match) pair is emitted once despite multi-band hits
    assert(spark.table("sneardup").count() ==
      spark.table("sneardup").dropDuplicates("docId", "dup_of").count())

    // stream ≡ batch: the same operator over a static Dataset agrees
    val batch = StreamNearDedup.screen(arrivals.toDS(), standing, k = 5,
        nHashes = 16, rowsPerBand = 2, minJaccard = 0.3,
        lateness = "10 minutes")
      .select("docId", "dup_of").as[(Long, Long)].collect().toSet
    assert(batch == got)
  }

  test("streaming fingerprint dedup keeps first occurrence within the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.StreamDedup
    import graft.streaming.StreamDedup.Doc

    val stream = MemoryStream[Doc]
    val q = StreamDedup.dedup(stream.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()

    stream.addData(
      Doc(ts("2024-01-01 10:00:00"), 1, "Hello  World"),
      Doc(ts("2024-01-01 10:01:00"), 2, "hello world"), // same fingerprint
      Doc(ts("2024-01-01 10:02:00"), 3, "something else"))
    q.processAllAvailable()
    // a later duplicate inside the watermark is dropped too
    stream.addData(Doc(ts("2024-01-01 10:05:00"), 4, "HELLO WORLD"))
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("sdedup").collect().map(_.getAs[Long]("docId")).toSet
    assert(ids == Set(1L, 3L))

    // batch equivalence: the same operator over a static Dataset keeps one
    // row per fingerprint
    val static = Seq(
      Doc(ts("2024-01-01 10:00:00"), 1, "Hello  World"),
      Doc(ts("2024-01-01 10:01:00"), 2, "hello world"),
      Doc(ts("2024-01-01 10:02:00"), 3, "something else")).toDS()
    assert(StreamDedup.dedup(static, "10 minutes")
      .select("fp").distinct().count() == 2)
  }

  test("stream-stream interval join: in-window view matches, out-of-window and cross-user do not") {
    import graft.streaming.StreamStreamJoin
    import graft.streaming.StreamStreamJoin.{Click, View}
    import spark.implicits._
    def ts(s0: String) = java.sql.Timestamp.valueOf(s0)
    val clicks = Seq(Click(ts("2024-01-01 12:00:00"), 1L, 100L)).toDS()
    val views = Seq(
      View(ts("2024-01-01 11:30:00"), 1L, 10L), // in window
      View(ts("2024-01-01 12:00:00"), 1L, 11L), // boundary: viewTs == clickTs
      View(ts("2024-01-01 10:59:59"), 1L, 12L), // out of 1h window
      View(ts("2024-01-01 12:00:01"), 1L, 13L), // after the click
      View(ts("2024-01-01 11:45:00"), 2L, 14L)  // other user
    ).toDS()
    // unified semantics: the streaming join runs as a batch plan here
    val got = StreamStreamJoin.attributed(clicks, views, 3600L, "1 hour")
      .select("view_id", "lag_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1800L), (11L, 0L)))
  }

  test("stream maintenance: state is invariant to micro-batch boundaries") {
    import spark.implicits._
    import graft.streaming.{StreamMaintain, StreamRunner}
    import graft.streaming.StreamMaintain.Ev
    val evs = (1 to 40).map { i =>
      Ev(ts(f"2024-01-01 10:${i % 60}%02d:00"),
        if (i % 3 == 0) "a" else "b", (i * 7 % 23).toLong)
    }
    def runWith(chunks: Seq[Seq[Ev]]): Map[String, (Long, Long, Long, Long)] = {
      val m = StreamMaintain.maintainer
      StreamRunner.foreachBatch(spark, chunks)(m.absorb)
      m.current.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    }
    val oneBatch = runWith(Seq(evs))
    val fiveBatches = runWith(evs.grouped(9).toSeq)
    assert(oneBatch == fiveBatches)
    // and both equal the plain batch aggregation
    val batch = evs.toDF().groupBy("eventType")
      .agg(count(lit(1)), sum("cents"), min("cents"), max("cents"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(oneBatch == batch)
  }

  test("streaming CMS registers are invariant to micro-batch boundaries") {
    import spark.implicits._
    import graft.streaming.{StreamCms, StreamRunner}
    import graft.streaming.StreamCms.Doc
    val docs = (1 to 30).map(i =>
      Doc(i.toLong, s"tok${i % 7} tok${i % 5} tok${i % 3} shared words"))
    def runWith(chunks: Seq[Seq[Doc]]): Map[(Int, Long), Long] = {
      val m = StreamCms.maintainer
      StreamRunner.foreachBatch(spark, chunks)(m.absorb)
      m.current.collect().map(r =>
        (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    }
    val one = runWith(Seq(docs))
    val four = runWith(docs.grouped(8).toSeq)
    assert(one == four)
    // equals the batch-built grid
    val batch = graft.operators.CountMin.registers(
        graft.operators.CountMin.bucketed(
          docs.toDF().select(explode(split(
            graft.functions.Text.normalize(col("text")), " ")).as("tok"))
            .groupBy("tok").agg(count(lit(1)).as("cnt")), "tok", "cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(one == batch)
  }

  test("streaming sessions: in-batch disorder sorted, numbering survives timeout flush, sentinel never emits") {
    import spark.implicits._
    import graft.streaming.StreamSessions
    import graft.streaming.StreamSessions.{Closed, Event}
    implicit val sc = spark.sqlContext
    def run(batches: Seq[Seq[Event]]): Seq[(Long, Long, Long, Long)] = {
      val mem = MemoryStream[Event]
      val q = StreamSessions.sessions(mem.toDS(), gapSec = 600)
        .writeStream.format("memory").queryName("sess")
        .outputMode("append").start()
      try batches.foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val out = spark.table("sess").as[Closed].collect()
        .map(c => (c.userId, c.sessionIdx, c.nEvents, c.sum6))
        .sortBy(t => (t._1, t._2)).toSeq
      spark.catalog.dropTempView("sess")
      out
    }
    // user 1: session A (2 events), >gap pause, session B (1 event);
    // batch 1 is deliberately OUT OF ORDER within the batch
    val b1 = Seq(
      Event(ts("2024-01-01 10:05:00"), 1, 2, 2.0),
      Event(ts("2024-01-01 10:00:00"), 1, 1, 1.0))
    // watermark (10:05 − 10 min delay = 09:55) < session end + gap →
    // session A still open after batch 1; batch 2's far-future event for
    // user 2 pushes the watermark past it → A flushes VIA TIMEOUT, then
    // batch 3 opens user 1's session B — its index must be 2, not 1
    val b2 = Seq(Event(ts("2024-01-01 12:00:00"), 2, 3, 5.0))
    val b3 = Seq(Event(ts("2024-01-01 12:00:30"), 1, 4, 3.0))
    val sentinel = Seq(Event(ts("2030-01-01 00:00:00"), -1, 9, 0.0))
    val got = run(Seq(b1, b2, b3, sentinel))
    assert(got == Seq(
      (1L, 1L, 2L, 3000000L), // A: both events, disorder sorted, sum6 exact
      (1L, 2L, 1L, 3000000L), // B: numbering survived A's timeout flush
      (2L, 1L, 1L, 5000000L)))
    // sentinel user -1 never emitted (its timeout is past the watermark)
    assert(!got.exists(_._1 == -1L))
  }
}
