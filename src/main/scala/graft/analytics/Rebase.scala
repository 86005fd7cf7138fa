package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.ProductAgg

/** Split/merge adjustment rebasing — the 00093 engine
  * (`00093_rebase_adjusted_bars.sql:40-96`): adjusted prices are recomputed
  * locally from raw prices and the adjustment-factor series so the whole
  * history is always on the latest basis, idempotently, without re-calling
  * the upstream API.
  *
  * Conventions (00093 header, verified against live data there):
  *   - the factor sits on the ex-rights day's row (that day's raw is
  *     already post-split);
  *   - adj_price(t) = raw_price(t) × ∏{s > t} factor(s) — the current
  *     day's own factor is NOT applied to its own row;
  *   - adj_volume(t) = raw_volume(t) ÷ ∏{s > t} factor(s), rounded;
  *   - per trade date the factor enters the product once even when
  *     multiple session rows exist (non-null row preferred).
  *
  * The cumulative product uses the exact decimal Aggregator
  * ([[ProductAgg.DecimalProduct]]) over a reverse-ordered window with the
  * frame ending at 1 PRECEDING — `exp(sum(ln))` is explicitly rejected by
  * the reference for precision (00093:24-26).
  */
object Rebase {

  /** Recompute adj_* for a bars table (any number of codes — the whole
    * point of the Spark version is doing every code in one pass instead of
    * the reference's per-code RPC loop). Input columns:
    * local_code, trade_date, session, open/high/low/close (decimal or
    * double), volume (long), adjustment_factor; adj_* columns replaced. */
  def rebase(bars: DataFrame): DataFrame = {
    // day-level factor series: one factor per (code, date), non-null first
    val wDay = Window.partitionBy(col("local_code"), col("trade_date"))
      .orderBy(col("adjustment_factor").asc_nulls_last)
    val dayFactors = bars
      .select(col("local_code"), col("trade_date"), col("adjustment_factor"))
      .withColumn("__rn", row_number().over(wDay))
      .filter(col("__rn") === 1)
      .select(col("local_code"), col("trade_date"),
        coalesce(col("adjustment_factor"), lit(1))
          .cast("decimal(18,10)").as("factor"))

    // cum(t) = ∏{s > t} factor(s): trade_date DESC, frame excludes current
    val wCum = Window.partitionBy(col("local_code"))
      .orderBy(col("trade_date").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = dayFactors.withColumn("cum_factor",
      coalesce(ProductAgg.decimalProduct(col("factor")).over(wCum),
        lit(java.math.BigDecimal.ONE)))
      .select(col("local_code"), col("trade_date"), col("cum_factor"))

    val joined = bars.join(cum, Seq("local_code", "trade_date"), "left")
    def adj(c: String) =
      when(col("cum_factor") > 0,
        (col(c) * col("cum_factor")).cast("decimal(18,6)"))
        .otherwise(col(s"adj_$c")) // invalid factor (≤0): preserve existing
    joined
      .withColumn("adj_open", adj("open"))
      .withColumn("adj_high", adj("high"))
      .withColumn("adj_low", adj("low"))
      .withColumn("adj_close", adj("close"))
      .withColumn("adj_volume",
        when(col("cum_factor") > 0 && col("volume").isNotNull,
          round(col("volume").cast("decimal(28,10)") / col("cum_factor"))
            .cast("long"))
          .otherwise(col("adj_volume")))
      .drop("cum_factor")
  }
}
