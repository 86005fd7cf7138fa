package graft

import org.apache.spark.sql.SparkSession

/** The one session config of the engine: every main (`Bench`, `Verify`,
  * the `tools`) and the test session build through [[local]], so a query
  * runs under the same settings wherever it is timed or checked. */
object Session {

  /** `spark.sql.codegen.cache.maxEntries`, a static conf (it must be set
    * when the session is built). A cold nightly-refresh pass touches
    * about 450 generated classes, counting the driver's and the
    * executors' class-loader copies, so the 100-entry default evicts and
    * recompiles classes within a single pass. */
  val CodegenCacheMaxEntries = 1000

  /** Shuffle width of every streaming gate's stream: its state stores
    * (fixed at a query's first batch) and its micro-batch shuffles. The
    * gates' micro-batches are batch-slice-sized, so more state-store
    * partitions would be pure per-batch commit overhead. */
  val StreamStateWidth = 8

  /** Local cores: `SPARK_GRAFT_CPUS`, else 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The settings [[local]] builds a session with. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheMaxEntries.toString)

  /** A `local[cpus]` session with [[settings]], logging at WARN. */
  def local(cpus: Int): SparkSession = {
    val spark = settings(cpus).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The child session of each parent, weakly held: a child's streaming
    * query manager registers a listener on the shared listener bus and
    * never removes it, so a new child per call would add two listeners
    * to the bus per streaming run. */
  private val streamChildren = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** The child of `s` to run a streaming gate's stream, memory sink and
    * sink read on: it carries every modifiable SQL conf of `s` as of this
    * call, with the shuffle width set to [[StreamStateWidth]]. SQL conf
    * is per session, so `s`'s own conf is never written. */
  def forStream(s: SparkSession): SparkSession = {
    val c = streamChildren.computeIfAbsent(s, _.newSession())
    val want = s.conf.getAll.filter { case (k, _) => s.conf.isModifiable(k) } +
      ("spark.sql.shuffle.partitions" -> StreamStateWidth.toString)
    c.conf.getAll.keys.foreach { k =>
      if (!want.contains(k) && c.conf.isModifiable(k)) c.conf.unset(k)
    }
    want.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
