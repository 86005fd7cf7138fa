package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Business-day navigation against a trading-calendar table
  * (`src/lib/utils/business-day.ts:19-216`) — kept as table operations
  * (joins against the calendar), never scalar UDFs: the calendar is tiny
  * and broadcasts, so navigation is a map-side lookup at any scale.
  *
  * Navigation is two EQUALITY joins against calendar-derived lookups
  * (snap spine + business-day index): no inequality join (which would
  * materialize |rows|×|matching-days| intermediates) and no
  * groupBy-all-columns (which would silently collapse duplicate input
  * rows — see the duplicate-row regression in OperatorsSpec). Dates
  * outside the calendar's span resolve to null.
  *
  * DENSE-CALENDAR PRECONDITION: the calendar must contain EVERY date in
  * its span, each flagged `is_business_day` (the reference's
  * trading_calendar is dense by construction, 00003:5-15). The equality
  * join resolves a fact date by looking up its calendar row — a date
  * inside the span but missing from the calendar yields null (the old
  * inequality-join formulation would still have resolved it). Use
  * [[validateDense]] once per calendar load to fail loudly instead of
  * silently nulling.
  *
  * The calendar-only windows below are unpartitioned by design: the
  * calendar is bounded (decades ≈ tens of thousands of rows), so a
  * single-task pass over it is constant-cost at any fact-table scale.
  *
  * Calendar schema: `calendar_date date, is_business_day boolean`
  * (00003:5-15).
  */
object BusinessDay {

  /** Assert the dense-calendar precondition: every date between min and
    * max calendar_date has exactly one row. One tiny aggregation over the
    * (bounded) calendar — run once per calendar load, not per query. */
  def validateDense(calendar: DataFrame): Unit = {
    val r = calendar.agg(
      count(lit(1)).as("n"),
      countDistinct(col("calendar_date")).as("nd"),
      (datediff(max(col("calendar_date")), min(col("calendar_date"))) + 1)
        .as("span")).head()
    val (n, nd, span) = (r.getLong(0), r.getLong(1), r.getInt(2).toLong)
    require(n == nd && n == span,
      s"calendar is not dense: $n rows ($nd distinct dates) over a $span-day span")
  }

  /** Index business days 1..N in date order (the navigation backbone). */
  def indexed(calendar: DataFrame): DataFrame =
    calendar.filter(col("is_business_day"))
      .withColumn("bd_idx",
        row_number().over(Window.orderBy(col("calendar_date"))))
      .select(col("calendar_date"), col("bd_idx"))

  /** Every calendar date → running count of business days so far =
    * bd_idx of the latest business day ≤ that date (0 before the first). */
  private def snapSpine(calendar: DataFrame): DataFrame = {
    val wCum = Window.orderBy(col("__cd"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar.select(col("calendar_date").as("__cd"),
        col("is_business_day").as("__bd"))
      .withColumn("__snap_idx",
        sum(when(col("__bd"), 1).otherwise(0)).over(wCum))
      .select(col("__cd"), col("__snap_idx"))
  }

  /** For each row of `df`, the next business day strictly after `dateCol`
    * (null when the date is off-calendar or the calendar runs out). */
  def next(df: DataFrame, dateCol: String, calendar: DataFrame): DataFrame =
    df.join(broadcast(snapSpine(calendar)), col(dateCol) === col("__cd"), "left")
      .join(broadcast(indexed(calendar).select(col("bd_idx").as("__nb_idx"),
          col("calendar_date").as("next_business_day"))),
        col("__nb_idx") === col("__snap_idx") + 1, "left")
      .drop("__cd", "__snap_idx", "__nb_idx")

  /** Shift each row's `dateCol` by `n` business days (n may be negative).
    * Dates not on a business day resolve via the previous business day's
    * index, matching the reference's snap-then-shift behavior; dates
    * before the first business day (or off-calendar) yield null. */
  def addBusinessDays(df: DataFrame, dateCol: String, calendar: DataFrame,
                      n: Int): DataFrame =
    df.join(broadcast(snapSpine(calendar)
          .select(col("__cd"), when(col("__snap_idx") > 0, col("__snap_idx")).as("__idx"))),
        col(dateCol) === col("__cd"), "left")
      .join(broadcast(indexed(calendar).select(col("bd_idx").as("__tb_idx"),
          col("calendar_date").as("shifted_day"))),
        col("__tb_idx") === col("__idx") + n, "left")
      .drop("__cd", "__idx", "__tb_idx")
}
