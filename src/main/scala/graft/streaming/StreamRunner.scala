package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, GraftInterop,
  SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Materialize

/** The one transport of the in-process streaming gates. A gate brings its
  * rows, its batch split, its operator and its output projection; the
  * runner owns the rest:
  *
  *  - the stream runs on [[graft.Session.forStream]]'s child session, fed
  *    from MemoryStreams one micro-batch at a time (each batch fully
  *    processed before the next is added), then any sentinel `flush`
  *    rows, each as a batch of its own;
  *  - [[sorted]] and [[sorted2]] write to a memory sink and return the
  *    [[Materialize.sorted]] pin of the gate's projection of it;
  *    [[foreachBatch]] hands each micro-batch to a caller's writer (the
  *    standing-state maintainers);
  *  - the query is stopped and the sink's temp view dropped in a
  *    `finally`, also when a batch fails.
  *
  * Spark registers a streaming-query listener bus on the SparkContext for
  * every session whose query manager is first used (each query runs its
  * batches on a clone of the child) and never removes it. The runner
  * removes the idle buses that appeared during its run once the query
  * has stopped, so a long-lived session (Verify, the test JVM) does not
  * grow its listener list by one per streaming run.
  *
  * The rows a gate collects to feed the stream are the in-process test
  * transport, not the operator: production replaces the MemoryStream
  * with a `readStream` source and keeps the operator as it is. */
object StreamRunner {

  /** `xs` as `n` contiguous slices of `xs.length / n` rows; the last
    * slice takes the remainder. */
  def slices[A](xs: Seq[A], n: Int): Seq[Seq[A]] = {
    val w = xs.length / n
    (0 until n).map(i => xs.slice(i * w, if (i == n - 1) xs.length else (i + 1) * w))
  }

  /** Runs `op` over one stream fed `batches`, then each `flush` row as a
    * batch of its own, into a memory sink, and returns the sorted pin of
    * `out` over the sink. */
  def sorted[A: Encoder](s: SparkSession, batches: Seq[Seq[A]], flush: Seq[A])(
      op: Dataset[A] => Dataset[_])(out: DataFrame => DataFrame,
      keys: Column*): DataFrame = {
    val ss = graft.Session.forStream(s)
    val in = MemoryStream[A](ss)
    toMemorySink(ss, op(in.toDS()).toDF(), out, keys)(
      (batches ++ flush.map(Seq(_))).map(b => () => { in.addData(b); () }))
  }

  /** [[sorted]] for an operator over two streams: each batch is a pair,
    * the second stream's rows added first. */
  def sorted2[A: Encoder, B: Encoder](s: SparkSession,
      batches: Seq[(Seq[A], Seq[B])], flush: Seq[(A, B)])(
      op: (Dataset[A], Dataset[B]) => Dataset[_])(
      out: DataFrame => DataFrame, keys: Column*): DataFrame = {
    val ss = graft.Session.forStream(s)
    val (inA, inB) = (MemoryStream[A](ss), MemoryStream[B](ss))
    val steps = batches ++ flush.map { case (a, b) => (Seq(a), Seq(b)) }
    toMemorySink(ss, op(inA.toDS(), inB.toDS()).toDF(), out, keys)(steps.map {
      case (as, bs) => () => { inB.addData(bs); inA.addData(as); () }
    })
  }

  /** Feeds `batches` to `write`, one micro-batch per call, on the stream
    * session; returns once every batch is written. */
  def foreachBatch[A: Encoder](s: SparkSession, batches: Seq[Seq[A]])(
      write: Dataset[A] => Unit): Unit = {
    val ss = graft.Session.forStream(s)
    val in = MemoryStream[A](ss)
    run(ss, in.toDS().writeStream.foreachBatch {
      (b: Dataset[A], _: Long) => write(b)
    }, batches.map(b => () => { in.addData(b); () }))
  }

  private def toMemorySink(ss: SparkSession, stream: DataFrame,
      out: DataFrame => DataFrame, keys: Seq[Column])(
      feed: Seq[() => Unit]): DataFrame = {
    val sink = "stream_sink_" +
      java.util.UUID.randomUUID().toString.takeWhile(_ != '-')
    try {
      run(ss, stream.writeStream.format("memory").queryName(sink)
        .outputMode("append"), feed)
      Materialize.sorted(out(ss.table(sink)), keys: _*)
    } finally ss.catalog.dropTempView(sink)
  }

  private def run[T](ss: SparkSession, writer: DataStreamWriter[T],
      feed: Seq[() => Unit]): Unit = {
    val sc = ss.sparkContext
    // the child's own bus is registered on first use; it belongs to the
    // child for its whole life, so it must exist before the snapshot
    ss.streams.active
    val before = GraftInterop.streamListenerBuses(sc).toSet
    val q = writer.start()
    try feed.foreach { add => add(); q.processAllAvailable() }
    finally {
      q.stop()
      GraftInterop.removeIdleStreamBuses(sc, keep = before)
    }
  }
}
