package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental / self-healing refresh discipline (SURVEY §2.9) — the
  * reference's watermark + forward-fill + catch-up machinery re-expressed
  * as DataFrame programs:
  *
  * - watermark = `max(date)` with an overlap-by-1 re-read so a partially
  *   written latest day self-heals (`forward-fill.ts:100-133`);
  * - target days clipped to a per-run cap (`forward-fill.ts:51-52`);
  * - catch-up = business-day calendar anti-join success log, bounded by a
  *   lookback window (`catch-up.ts:33-117`);
  * - zero-rows-on-business-day anomaly gate (`forward-fill.ts:36-42`).
  *
  * All plans are metadata-scale (calendars, logs) — they broadcast; the
  * only fact-table touch is the `max(date)` scan, which Parquet answers
  * from footer statistics.
  */
object Incremental {

  /** Refresh window: [watermark, today] re-reading the watermark day itself
    * (overlap-by-1), capped at `maxDays` business days. Returns the business
    * days to (re)process, ascending. */
  def forwardFillTargets(table: DataFrame, dateCol: String,
                         calendar: DataFrame, calDateCol: String,
                         today: java.sql.Date, maxDays: Int): DataFrame = {
    val wm = table.agg(max(col(dateCol)).as("wm"))
    calendar
      .filter(col("is_business_day"))
      .select(col(calDateCol).as("target_day"))
      .crossJoin(broadcast(wm))
      .filter((col("wm").isNull || col("target_day") >= col("wm")) &&
        col("target_day") <= lit(today))
      .orderBy(col("target_day"))
      .limit(maxDays)
      .select(col("target_day"))
  }

  /** Catch-up: business days within `lookbackDays` of today that have no
    * success-log entry, oldest first, capped at `maxDays`
    * (catch-up.ts:33-117). */
  def catchUpTargets(successLog: DataFrame, logDateCol: String,
                     calendar: DataFrame, calDateCol: String,
                     today: java.sql.Date, lookbackDays: Int,
                     maxDays: Int): DataFrame =
    calendar
      .filter(col("is_business_day") &&
        col(calDateCol) <= lit(today) &&
        col(calDateCol) >= date_sub(lit(today), lookbackDays))
      .select(col(calDateCol).as("target_day"))
      .join(successLog.select(col(logDateCol).as("target_day")).distinct(),
        Seq("target_day"), "left_anti")
      .orderBy(col("target_day"))
      .limit(maxDays)

  /** Zero-row anomaly gate: true when `day` is a business day but the batch
    * is empty and the dataset does not allow empties
    * (forward-fill.ts:36-42,191-197). */
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

  def isZeroRowAnomaly(rowCount: Long, isBusinessDay: Boolean,
                       allowEmpty: Boolean): Boolean =
    isBusinessDay && rowCount == 0 && !allowEmpty
}
