package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function building blocks — the heart of the reference
  * (SURVEY.md §2.5). All are single-shuffle plans: one hash partitioning on
  * the window key, sort within partitions; at 100 TB the key (entity code /
  * user id) is high-cardinality so partitions stay balanced.
  */
object Windows {

  /** Top-k rows per group — the `DISTINCT ON` / LATERAL-LIMIT-1 idiom
    * (`00093_rebase_adjusted_bars.sql:53-58`,
    * `00116_create_bottomup_per_bands_rpc.sql:168-184`). `orderCols` must be
    * a total order (include a unique tiebreak) for deterministic output. */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int,
                   rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
  }

  /** Single-scan conditional-aggregation pivot: value of `valueCol` at each
    * requested rank, per group. This is the 00049→00108 war-story plan: the
    * 5-way self-join over a 1.14M-row CTE regressed to >120 s; the pivot
    * form runs in one scan + one aggregation
    * (`00108_refresh_stock_metrics_perf.sql:2-15,42-54`). */
  def rankPivot(df: DataFrame, partitionCol: Column, orderDesc: Seq[Column],
                valueCol: Column, ranks: Seq[Int],
                prefix: String): DataFrame = {
    val w = Window.partitionBy(partitionCol).orderBy(orderDesc.map(_.desc): _*)
    val ranked = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= ranks.max)
    val aggs = ranks.map(r =>
      max(when(col("__rn") === r, valueCol)).as(s"$prefix$r"))
    ranked.groupBy(partitionCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Inverted percentile per partition: `(1 - percent_rank()) * 100`, rank
    * computed only over non-null values ("lower is better" factors,
    * `00108:141-150` with its `case when x is not null` wrapper). Null
    * inputs get a null percentile but are kept as rows. */
  def invertedPercentile(df: DataFrame, partitionCol: Column, valueCol: Column,
                         outCol: String, lowerIsBetter: Boolean): DataFrame = {
    // percent_rank over only the non-null rows (windowing on the full
    // partition would count nulls in the denominator — Postgres parity
    // trap, SURVEY §7.4.2), computed as rank arithmetic over a window
    // partitioned by the sector key ALONE: nulls sort last so non-null
    // rows get the correct rank, and the denominator is count(value).
    // Keeping every scoring window on the same partitioning key lets
    // Catalyst plan ONE exchange + per-window sorts instead of a shuffle
    // per score column.
    val ord = if (lowerIsBetter) valueCol.asc_nulls_last
      else valueCol.desc_nulls_last
    val w = Window.partitionBy(partitionCol).orderBy(ord)
    val nNonNull = count(valueCol).over(Window.partitionBy(partitionCol))
    val pr = when(nNonNull > 1,
      (rank().over(w) - 1).cast("double") / (nNonNull - 1)).otherwise(lit(0.0))
    df.withColumn(outCol,
      when(valueCol.isNotNull, (lit(1.0) - pr) * 100.0))
  }
}
