package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The one session config ([[Session.local]]) and the streaming gates'
  * child sessions ([[Session.forStream]]): the test session is built
  * like Bench's and Verify's, and a streaming gate runs its stream at
  * [[Session.StreamStateWidth]] without writing its caller's conf. */
class SessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  private val widthKey = "spark.sql.shuffle.partitions"

  test("the test session is Session.local's, with Bench's and Verify's conf") {
    // Bench and Verify build Session.local(Session.cpus); cpus is 4 unless
    // SPARK_GRAFT_CPUS says otherwise, and the test session pins 4
    assert(Session.cpus == sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt))
    val want = Session.settings(4).toMap
    assert(spark.sparkContext.master == want("spark.master"))
    (want - "spark.master").foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.sparkContext.getConf.get(
      "spark.sql.codegen.cache.maxEntries") ==
      Session.CodegenCacheMaxEntries.toString)
  }

  test("q93 and q216 keep the caller's conf and run their streams at width 8") {
    // Tables.events sets its one-way reader flag on first use; set it
    // before the snapshot so the snapshot is the caller's steady conf
    Tables.events(spark, sf)
    val before = spark.conf.getAll
    assert(before(widthKey) == "4")

    // every streaming run: its state operators' widths, and the widths
    // its micro-batch SQL executions ran with (job group = the run id)
    val runs = mutable.Set.empty[String]
    val stateWidths = mutable.ArrayBuffer.empty[Long]
    val execWidths = mutable.ArrayBuffer.empty[(String, Option[String])]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
        e match {
          case q: QueryStartedEvent => runs += q.runId.toString
          case p: QueryProgressEvent =>
            stateWidths ++= p.progress.stateOperators.map(_.numShufflePartitions)
          case x: SparkListenerSQLExecutionStart =>
            x.jobGroupId.foreach(g => execWidths += g -> x.modifiedConfigs.get(widthKey))
          case _ =>
        }
      }
    }
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) { seen.add(spark.conf.get(widthKey)); Thread.sleep(1) })
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    poller.start()
    try {
      assert(queries.Advanced.q93StreamWindowedAgg(spark, sf).count() > 0)
      assert(queries.ExactSubstr.q216RestartExactSubstr(spark, sf).count() > 0)
    } finally {
      polling = false
      poller.join()
      org.apache.spark.ListenerDrain.drain(sc)
      sc.removeSparkListener(l)
    }

    assert(seen.size == 1 && seen.contains("4"), s"caller width read $seen")
    assert(spark.conf.getAll == before)
    l.synchronized {
      // q93 once, q216 twice (stop and resume)
      assert(runs.size == 3)
      assert(stateWidths.nonEmpty && stateWidths.forall(_ == 8), stateWidths)
      val streamed = execWidths.filter { case (g, _) => runs(g) }
      assert(streamed.nonEmpty)
      assert(streamed.forall(_._2.contains("8")), streamed)
    }
  }

  test("forStream keeps one child per parent and re-reads the parent's conf per call") {
    val p = spark.newSession()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val c = Session.forStream(p)
    assert(c ne p)
    assert(c.conf.get(widthKey) == "8" && p.conf.get(widthKey) == "4")
    p.conf.set(key, "12345")
    assert(Session.forStream(p) eq c)
    assert(c.conf.get(key) == "12345")
    p.conf.unset(key)
    Session.forStream(p)
    assert(c.conf.get(key) == p.conf.get(key))
    assert(c.conf.get(widthKey) == "8" && p.conf.get(widthKey) == "4")
  }
}
