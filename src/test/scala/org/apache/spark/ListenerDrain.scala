package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so a spec reads complete job counts after an action. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
