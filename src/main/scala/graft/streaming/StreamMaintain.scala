package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.{Incremental, Materialize}

/** Streaming materialized-view maintenance — the seventh streaming shape:
  * a standing per-key aggregate absorbs each micro-batch's PARTIALS via
  * `foreachBatch` + [[Incremental.mergePartials]], the streaming face of
  * q110's algebraic-merge contract. Because every measure is associative
  * and exact (integer cents), the maintained state equals the full batch
  * recompute NO MATTER how the stream is micro-batched — which is exactly
  * what the q116 gate and the batch-boundary-invariance spec pin.
  *
  * At scale the standing state is key-cardinality-sized (not stream-sized)
  * and each merge touches only the batch's partials: state store cost is
  * O(keys), the micro-batch cost is one map-side-combinable aggregation —
  * the same reason q110's daily refresh never re-scans the fact table.
  * In production the state would live in a keyed upsert sink
  * (`operators.Upsert.keyed`); in-process it is an eagerly checkpointed
  * bounded DataFrame so the gate can read it back without a storage
  * dependency.
  */
object StreamMaintain {

  case class Ev(ts: java.sql.Timestamp, eventType: String, cents: Long)

  /** Per-batch partial aggregate: the mergeable moment set of q110. */
  def partials(batch: DataFrame): DataFrame =
    batch.groupBy(col("eventType"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))

  /** The q116 maintainer: [[partials]] merged per event type. */
  def maintainer: Maintainer = new Maintainer(partials, Seq("eventType"),
    addCols = Seq("n", "sum_cents"), minCols = Seq("min_cents"),
    maxCols = Seq("max_cents"))

  /** Standing state for an in-process maintenance run: each batch's
    * `partialsOf` merged into the state by [[Incremental.mergePartials]]
    * over `keys` and the column roles. Each merged state is bounded (key
    * cardinality) and pinned, so lineage never chains across batches; the
    * pin it supersedes is released once the new one exists, so only the
    * current state holds blocks. */
  final class Maintainer(partialsOf: DataFrame => DataFrame,
                         keys: Seq[String], addCols: Seq[String],
                         minCols: Seq[String], maxCols: Seq[String]) {
    @volatile private var state: Option[DataFrame] = None
    def absorb(batch: Dataset[_]): Unit = synchronized {
      val p = partialsOf(batch.toDF())
      val next = Materialize.pin(state.fold(p)(st =>
        Incremental.mergePartials(st, p, keys, addCols, minCols, maxCols)))
      state.foreach(Materialize.release)
      state = Some(next)
    }
    def current: DataFrame = state.getOrElse(
      throw new IllegalStateException("no batches absorbed"))
  }
}
