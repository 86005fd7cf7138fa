package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so the benchmark reads complete job and task counts after a pass. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
