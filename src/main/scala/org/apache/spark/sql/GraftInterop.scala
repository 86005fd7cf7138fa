package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDDOperationScope
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus
import org.apache.spark.storage.RDDBlockId

/** Minimal bridge to `private[sql]` and `private[spark]` members — the
  * supported extension seam for libraries that define native Catalyst
  * expressions against Spark 4's split Column API, and build a Dataset
  * from a plan they made. */
object GraftInterop {
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Bytes the block manager stores for `rddId`, memory plus disk, summed
    * over every block manager. A synchronous call to the driver's block
    * manager master: no Spark job. */
  def storedBytes(s: SparkSession, rddId: Int): Long =
    s.sparkContext.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.iterator).collect {
        case (RDDBlockId(`rddId`, _), b) => b.memSize + b.diskSize
      }.sum

  /** Runs `fill` and, when it throws, unpersists the RDDs it persisted. A
    * failed eager checkpoint otherwise leaves its RDD registered, holding
    * the blocks of the partitions that finished, until something sweeps
    * `getPersistentRDDs`. Those RDDs are told apart by an operation scope
    * that this thread's local properties hand to every RDD created under
    * it, so an RDD another thread persists meanwhile is never touched. */
  def unpersistIfFails[A](sc: SparkContext)(fill: => A): A = {
    val tag = new RDDOperationScope("pin")
    val prior = sc.getLocalProperty(SparkContext.RDD_SCOPE_KEY)
    sc.setLocalProperty(SparkContext.RDD_SCOPE_KEY, tag.toJson)
    try fill
    catch { case e: Throwable =>
      sc.getPersistentRDDs.values
        .filter(_.scope.exists(_.getAllScopes.exists(_.id == tag.id)))
        .foreach(_.unpersist(blocking = false))
      throw e
    } finally sc.setLocalProperty(SparkContext.RDD_SCOPE_KEY, prior)
  }

  /** `ckpt` rebuilt over the same `LogicalRDD` (same RDD, partitioning,
    * ordering and constraints) with `sizeInBytes` as its statistics. */
  def withSizeInBytes(ckpt: DataFrame, r: LogicalRDD, bytes: Long): DataFrame = {
    val session = ckpt.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, r.copy()(session,
      Some(Statistics(sizeInBytes = BigInt(bytes))), Some(r.constraints)))
  }

  /** The streaming-query listener buses on `sc`'s listener bus. Spark
    * adds one for every session whose query manager is first used
    * (including the clone each streaming query runs its batches on) and
    * never removes it. */
  def streamListenerBuses(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]()

  /** Removes every streaming-query listener bus not in `keep` that
    * forwards to no listener of its own. Such a bus delivers nothing; the
    * one it could still matter to is a session that first used its query
    * manager after `keep` was taken and adds a listener later, so call
    * this where no other thread starts streaming at the same time. */
  def removeIdleStreamBuses(sc: SparkContext,
      keep: Set[SparkListenerInterface]): Unit =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]()
      .filter(b => !keep(b) && b.listeners.isEmpty)
      .foreach(sc.removeSparkListener)
}
