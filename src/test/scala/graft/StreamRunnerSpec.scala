package graft

import org.apache.spark.sql.GraftInterop
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The streaming gates' one transport ([[graft.streaming.StreamRunner]]):
  * after a gate returns, no query runs on the stream session, no memory
  * sink's temp view is left, the only blocks it leaves pinned are the
  * ones its result reads (a standing-state maintainer releases each state
  * it supersedes), and repeated runs do not grow the SparkContext's
  * listener bus. */
class StreamRunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private val gates = Seq("q92_stream_screen", "q93_stream_windowed_agg",
    "q94_stream_dedup", "q95_stream_cardinality", "q96_stream_breadth",
    "q105_stream_stream_join", "q116_stream_maintain", "q143_stream_cms",
    "q157_stream_sessions", "q187_stream_outer_join", "q196_stream_scd2",
    "q214_stream_exact_substr", "q216_restart_exact_substr")

  gates.foreach { name =>
    test(s"$name leaves no query, no sink view and no pin its result does not read") {
      val sc = spark.sparkContext
      val ss = Session.forStream(spark)
      val before = sc.getPersistentRDDs.keySet
      val out = SparkEntry.queries(name)(spark, sf)
      val left = sc.getPersistentRDDs.keySet -- before
      val read = out.queryExecution.logical.collect {
        case r: LogicalRDD => r.rdd.id
      }.toSet
      assert(ss.streams.active.isEmpty, "a query is still active")
      val views = ss.catalog.listTables().collect().map(_.name)
        .filter(_.contains("_sink_"))
      assert(views.isEmpty, s"sink views left: ${views.mkString(", ")}")
      assert(left.subsetOf(read), s"pinned but not read: ${left -- read}")
      // `out` stays reachable until here: the context cleaner may free the
      // blocks of an unreachable result
      assert(out.count() > 0)
    }
  }

  test("five q93 runs grow the streaming listener buses by at most one") {
    val sc = spark.sparkContext
    val n0 = GraftInterop.streamListenerBuses(sc).size
    (1 to 5).foreach { _ =>
      assert(queries.Advanced.q93StreamWindowedAgg(spark, sf).count() > 0)
    }
    val grown = GraftInterop.streamListenerBuses(sc).size - n0
    assert(grown <= 1, s"$grown new streaming listener buses")
  }
}
