package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental refresh discipline (SURVEY §2.9). Catch-up planning
  * lives with the coverage ledger ([[graft.sources.Coverage.catchUp]]);
  * what stays here is the standing-aggregate merge.
  */
object Incremental {

  /** Algebraic partial-aggregate merge — incremental materialized-view
    * maintenance. A standing aggregate table keyed by `keys` with measure
    * columns (count `n`, sums, mins, maxes) absorbs a delta partition's
    * partials by union + re-aggregation: counts and sums add, mins/maxes
    * combine — all associative/commutative, so
    * `merge(agg(old), agg(delta)) == agg(old ∪ delta)` exactly (sums must
    * be exact integers/decimals per the FP rule; float sums would not
    * commute). At 100 TB this is the difference between re-scanning the
    * fact table daily and touching only the new partition: the standing
    * state is key-cardinality-sized, the delta aggregation map-side
    * combines before one keyed shuffle.
    */
  def mergePartials(state: DataFrame, delta: DataFrame, keys: Seq[String],
                    addCols: Seq[String], minCols: Seq[String],
                    maxCols: Seq[String]): DataFrame = {
    val cols = keys ++ addCols ++ minCols ++ maxCols
    require(cols.distinct.size == cols.size, "overlapping column roles")
    val aggs = addCols.map(c => sum(col(c)).as(c)) ++
      minCols.map(c => min(col(c)).as(c)) ++
      maxCols.map(c => max(col(c)).as(c))
    state.select(cols.map(col): _*)
      .unionByName(delta.select(cols.map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
