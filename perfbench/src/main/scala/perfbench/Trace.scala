package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times. */
object Clock {
  private val e0 = System.currentTimeMillis().toDouble
  private val n0 = System.nanoTime()
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def ms: Double = e0 + (System.nanoTime() - n0) / 1e6
  /** CPU seconds this JVM has used, all threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9
  /** CPU seconds `body` took. */
  def cpuOf(body: => Unit): Double = {
    val c0 = cpuS
    body
    cpuS - c0
  }
}

/** One timed call into a layer. `trace` is the pass it belongs to;
  * `tag` carries the dataset/date of a fetch. */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
                      tag: String, start: Double, var end: Double)

/** In-memory span recorder around the benchmark's calls into each
  * layer. Spans nest by call order on the driver thread; they are kept
  * in memory and written out when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var traceId = -1
  /** Called after each span closes (storage sampling in traced passes). */
  var onClose: () => Unit = () => ()

  def newTrace(id: Int): Unit = traceId = id

  def begin(name: String, tag: String = ""): Span = synchronized {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      traceId, tag, Clock.ms, Double.NaN)
    spans += s
    open.push(s)
    s
  }

  def end(s: Span): Double = {
    synchronized {
      s.end = Clock.ms
      // close anything left open inside `s` (a thunk that threw early)
      while (open.nonEmpty && (open.top ne s)) open.pop().end = s.end
      if (open.nonEmpty) open.pop()
    }
    onClose()
    (s.end - s.start) / 1e3
  }

  def apply[A](name: String, tag: String = "")(body: => A): A = {
    val s = begin(name, tag)
    try body finally end(s)
  }
}

/** Job, stage and task counters from Spark's listener bus. Jobs are
  * attributed to spans later, by time window. */
final class JobListener extends SparkListener {
  private final case class Job(id: Int, start: Long, stages: Seq[Int],
                               var end: Long = -1L, var ok: Boolean = false)
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  // per stage: tasks, run s, cpu s, gc s, scan bytes, shuffle read,
  // shuffle write, spill bytes, output bytes
  private val stageAgg = mutable.Map.empty[Int, Array[Double]]
  private val stagesDone = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesDone += e.stageInfo.stageId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stageAgg.getOrElseUpdate(e.stageId, new Array[Double](9))
    a(0) += 1
    if (m != null) {
      a(1) += m.executorRunTime / 1e3
      a(2) += m.executorCpuTime / 1e9
      a(3) += m.jvmGCTime / 1e3
      a(4) += m.inputMetrics.bytesRead
      a(5) += m.shuffleReadMetrics.totalBytesRead
      a(6) += m.shuffleWriteMetrics.bytesWritten
      a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(8) += m.outputMetrics.bytesWritten
    }
  }

  /** One row per job: id, start ms, end ms, ok, completed stages, then
    * the nine task counters summed over the job's stages. */
  def dump(sc: SparkContext): Seq[Seq[Any]] = {
    BenchBus.drain(sc)
    synchronized {
      jobs.toSeq.map { j =>
        val own = j.stages.filter(s => stageJob.get(s).contains(j.id))
        val sum = new Array[Double](9)
        own.flatMap(stageAgg.get).foreach(a => a.indices.foreach(i => sum(i) += a(i)))
        Seq(j.id, j.start, j.end, j.ok, own.count(stagesDone)) ++ sum.toSeq
      }
    }
  }
}
