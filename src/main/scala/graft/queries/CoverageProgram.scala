package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType, StructField,
  StructType}

import graft.Tables
import graft.sources.Coverage

/** q218 — COVERAGE-driven catch-up: the reference's dataset_coverage
  * manifest (`00085_create_dataset_coverage.sql`) composed with the
  * catch-up planner. Where q23/q23-style catch-up infers gaps from
  * OUTPUT PRESENCE (a date with no rows = a date to refill), the
  * manifest records what the ingest actually ESTABLISHED per (dataset,
  * day): `success` (source checked — even with zero rows),
  * or `failed` (claim placeholder / errored attempt). Catch-up then
  * retries exactly the absent-or-failed days — an explicitly-checked
  * empty day is COVERED and never refetched, and a day whose output
  * rows exist but whose attempt died before publishing its manifest is
  * retried.
  *
  * The program builds a deterministic manifest from the orders table so
  * the DuckDB oracle can replay it relationally:
  *
  *  - window: the 60 calendar days up to max(o_orderdate); business
  *    days = Mon–Fri;
  *  - a business day WITH orders rows gets a manifest row: `failed`
  *    when dayofmonth % 7 == 3 (a deterministically-planted failed
  *    attempt), `success` with row_count = 0 when dayofmonth % 7 == 5
  *    (the explicitly-checked-empty contract row — present in the
  *    LEDGER, absent from the catch-up output), else `success` with the
  *    day's row count;
  *  - a business day WITHOUT orders rows — or one where
  *    dayofmonth % 7 == 1 (a deterministically-planted day the
  *    scheduler never ran) — has no manifest row at all (never
  *    claimed), so BOTH catch-up reasons appear in the gate's output;
  *  - catch-up = [[Coverage.catchUp]], the planner the landing scheduler
  *    runs: absent → 'missing', failed → 'failed', oldest first, capped
  *    at 100.
  *
  * Scale shape: ONE map-side-combined per-day count is the only fact
  * scan, besides the `max(o_orderdate)` watermark. The manifest (at most
  * 61 rows) and the calendar's business days are collected to the
  * driver, where the planner runs, and the output is a local relation
  * holding the plan in its order. At 100 TB the manifest stays one row
  * per (dataset, day) regardless of fact volume. */
object CoverageProgram {

  private val LookbackDays = 60

  /** The q218 manifest (one row per business day with orders, in
    * [[Coverage.ledgerSchema]]'s columns), its calendar (`day`,
    * `is_business_day`) and the watermark day. */
  private[graft] def q218Inputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, java.sql.Date) = {
    val o = Tables.orders(s, dir)
    val today = o.agg(max(to_date(col("o_orderdate")))).collect()(0)
      .getDate(0)
    val calendar = s.range(1).select(explode(sequence(
        date_sub(lit(today), LookbackDays), lit(today).cast("date")))
        .as("day"))
      .withColumn("is_business_day", dayofweek(col("day")).between(2, 6))
    val perDay = o.groupBy(to_date(col("o_orderdate")).as("target_date"))
      .agg(count(lit(1)).as("cnt"))
    val ledger = calendar.filter(col("is_business_day"))
      .select(col("day").as("target_date"))
      .filter(dayofmonth(col("target_date")) % 7 =!= 1)
      .join(perDay, Seq("target_date"))
      .select(
        lit("orders").as("dataset"),
        col("target_date"),
        when(dayofmonth(col("target_date")) % 7 === 3, lit(Coverage.Failed))
          .otherwise(lit(Coverage.Success)).as("status"),
        when(dayofmonth(col("target_date")) % 7 === 3, lit(0L))
          .when(dayofmonth(col("target_date")) % 7 === 5, lit(0L))
          .otherwise(col("cnt")).as("row_count"),
        when(dayofmonth(col("target_date")) % 7 === 3, lit(1))
          .otherwise(lit(0)).as("error_count"),
        when(dayofmonth(col("target_date")) % 7 === 3,
          lit(null).cast("long")).otherwise(lit(0L))
          .as("source_observed_at"),
        lit("run-q218").as("run_id"))
    (ledger, calendar, today)
  }

  def q218CoverageCatchup(s: SparkSession, dir: String): DataFrame = {
    val (ledger, calendar, today) = q218Inputs(s, dir)
    val plan = Coverage.catchUp(ledger.collect().toSeq, Seq("orders"),
      Coverage.businessDays(calendar, "day", today, LookbackDays),
      maxDays = 100)
    import scala.jdk.CollectionConverters._
    s.createDataFrame(plan.map { case (_, day, why) => Row(day, why) }.asJava,
      StructType(Seq(StructField("target_day", DateType),
        StructField("reason", StringType))))
  }

  val oracleQ218: String =
    """WITH b AS (
      |  SELECT max(CAST(o_orderdate AS DATE)) AS d1 FROM orders
      |), cal AS (
      |  SELECT CAST(unnest(generate_series(CAST(d1 - 60 AS DATE), d1,
      |           INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM b
      |), biz AS (
      |  SELECT day FROM cal WHERE isodow(day) BETWEEN 1 AND 5
      |), perday AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS cnt
      |  FROM orders GROUP BY 1
      |), ledger AS (
      |  SELECT biz.day,
      |         CASE WHEN day(biz.day) % 7 = 3 THEN 'failed'
      |              ELSE 'success' END AS status
      |  FROM biz JOIN perday USING (day)
      |  WHERE day(biz.day) % 7 <> 1
      |)
      |SELECT biz.day AS target_day,
      |       CASE WHEN l.status IS NULL THEN 'missing'
      |            ELSE 'failed' END AS reason
      |FROM biz LEFT JOIN ledger l ON l.day = biz.day
      |WHERE l.status IS NULL OR l.status = 'failed'
      |ORDER BY target_day
      |LIMIT 100""".stripMargin
}
