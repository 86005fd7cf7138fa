package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftInterop}
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, Join,
  LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf

/** The materialization vocabulary: [[pin]] (the one eager checkpoint),
  * [[sorted]] (the one sort-and-pin), [[release]] (free a pin's blocks),
  * [[withMaterialized]] (a pin scoped to one block of code) and
  * [[concurrently]] (overlap independent action chains). The engine
  * never caches: every materialized relation is a pin, freed by its
  * handle.
  *
  * Every materialized relation carries its measured size. A bare
  * `localCheckpoint()` copies its origin plan's *estimate* into the
  * checkpoint, and that estimate can be 100x off either way (an explode
  * under-estimates, a join over-estimates), so join selection next to a
  * checkpoint followed a guess. [[pin]] sets the checkpoint's
  * `sizeInBytes` to the bytes its blocks take, and the planner picks
  * broadcast or shuffle from that.
  *
  * Why scopes: a pin whose release is a CONTRACT ("the caller releases
  * once consumed") is one forgotten call site away from a leak, and
  * composed programs like q76 are exactly where a leaked relation ends up
  * taxing every later stage of a long session. `withMaterialized` owns
  * the whole lifecycle in one lexical scope: pin, body, release in a
  * finally.
  *
  * Contract for `body`: it reads the handle it is given, never the frame
  * it scoped (a pin is a new relation; nothing maps the source plan onto
  * it), and it does not return the handle. Anything that must OUTLIVE
  * the scope is materialized inside it: [[pin]] or [[sorted]] for
  * bounded results, a collect, or a sink write. A lazy plan that still
  * reads the handle fails on the released blocks once the scope has
  * returned. */
object Materialize {

  /** Runs `body` over a [[pin]] of `df` and releases the pin on exit,
    * also when `body` throws. */
  def withMaterialized[A](df: DataFrame)(body: DataFrame => A): A = {
    val p = pin(df)
    try body(p) finally release(p)
  }

  /** The one eager checkpoint: Spark's own `localCheckpoint()` action,
    * returned as the same `LogicalRDD` (same RDD, partitioning and
    * ordering) with `sizeInBytes` set to the bytes the block manager
    * stores for that RDD. The size is read on the driver after the
    * action, so a pin runs exactly the jobs of a bare checkpoint. No row
    * count is set: with CBO off no planner rule reads one. A fill that
    * throws leaves no blocks behind. */
  def pin(df: DataFrame): DataFrame = {
    val ckpt = GraftInterop.unpersistIfFails(df.sparkSession.sparkContext)(
      df.localCheckpoint())
    val r = ckpt.queryExecution.logical.asInstanceOf[LogicalRDD]
    GraftInterop.withSizeInBytes(ckpt, r,
      GraftInterop.storedBytes(ckpt.sparkSession, r.rdd.id))
  }

  /** Releases the blocks of one [[pin]] by its handle, once nothing
    * reads it any more. Only the caller's own blocks go — a sweep over
    * `getPersistentRDDs` would also free relations other threads still
    * read. */
  def release(ckpt: DataFrame): Unit =
    ckpt.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** The sorted-output gate: the [[pin]] of `df.orderBy(keys)`, the one
    * way a query result leaves its program sorted and pinned, so a caller
    * may drop its temp view or memory sink, or delete its scratch root,
    * as soon as this returns.
    *
    * Barrier rule, one predicate for every caller: a range sort runs its
    * child twice (a sampling pass for bounds, then the shuffle). When the
    * child's optimized plan is, through `Project` and `Filter`, a join the
    * planner shuffles, the child is pinned first and released once the
    * sorted checkpoint exists (q112's verify tail: 5.1 s lazy, 2.6 s
    * pinned). A join it broadcasts (by hint, or a build side under
    * `autoBroadcastJoinThreshold` and no other strategy hint) is cheaper
    * to run twice than to pin (q25 at sf0.1: 1.4 s, 2.2 s pinned). Any
    * other child, such as a checkpoint, local relation or memory-sink
    * scan, sorts as it is. */
  def sorted(df: DataFrame, keys: Column*): DataFrame =
    if (shuffledJoinTail(df.queryExecution.optimizedPlan,
        df.sparkSession.sessionState.conf)) {
      val pinned = pin(df)
      try pin(pinned.orderBy(keys: _*))
      finally release(pinned)
    } else pin(df.orderBy(keys: _*))

  private object Planner extends JoinSelectionHelper

  private def shuffledJoinTail(plan: LogicalPlan, conf: SQLConf): Boolean =
    plan match {
      case j: Join =>
        val hints = (j.hint.leftHint ++ j.hint.rightHint).flatMap(_.strategy)
        if (hints.nonEmpty) !hints.exists(_ == BROADCAST)
        else Planner.getBroadcastBuildSide(j, hintOnly = false, conf).isEmpty
      case Project(_, child) => shuffledJoinTail(child, conf)
      case Filter(_, child) => shuffledJoinTail(child, conf)
      case _ => false
    }

  /** Driver threads [[concurrently]] runs action chains on. */
  private val ConcurrentChains = 4

  /** Run INDEPENDENT Spark action chains from a bounded driver thread
    * pool and return their results in input order — the optimization
    * guide's §2.6 "overlap independent jobs" pattern: Spark's scheduler
    * happily runs several jobs at once inside one application; chains of
    * eager actions (iterative [[pin]] loops, per-config
    * trainings) are only sequential because the driver calls them
    * sequentially. Overlapping them lets one chain's stage tail backfill
    * with the next chain's tasks — a wall-clock win at ANY scale, and a
    * pure scheduling change: each chain's computation (and therefore the
    * query result) is untouched.
    *
    * Only for thunks with no data dependencies between them, at most
    * [[ConcurrentChains]] at a time. Failures propagate with the original
    * cause (the first failing thunk's exception), after all threads
    * settle. */
  def concurrently[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.size <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(ConcurrentChains, thunks.size))
    try {
      val fs = thunks.map(t => pool.submit(
        new java.util.concurrent.Callable[A] { def call(): A = t() }))
      // settle EVERY future before propagating the first failure
      // (ADVICE r17: rethrowing immediately left sibling Spark action
      // chains running in background threads after the caller unwound)
      val settled = fs.map(f => scala.util.Try(f.get()))
      settled.collectFirst { case scala.util.Failure(e) => e }.foreach {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
        case e => throw e
      }
      settled.map(_.get)
    } finally pool.shutdown()
  }
}
