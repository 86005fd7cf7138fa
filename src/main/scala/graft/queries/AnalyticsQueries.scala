package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Materialize

/** Derived-analytics operators (SURVEY.md §2.4–§2.8): market-breadth
  * conditional counts, calendar-spine rolling windows, exact median bands,
  * unpivot, catch-up anti-joins, freshness unions, the winsorize→z→clamp
  * factor-vector pipeline, exact-sum Pearson correlation, chained index
  * levels, session expansion, reverse-cumulative rebase products, and
  * weighted harmonic basket aggregates.
  */
object AnalyticsQueries {

  private val D2 = "decimal(12,2)"

  /** §2.5 breadth pass (BreadthAccumulator re-expressed as windows,
    * market-breadth.ts:121-275): daily last value per user = "close";
    * advancers/decliners/unchanged per day vs previous available day. */
  def q19Breadth(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val wDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = ev.withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("close"))
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val withPrev = daily.withColumn("prev_close", lag(col("close"), 1).over(wUser))
    withPrev.groupBy(col("day")).agg(
        count(lit(1)).as("n_users"),
        sum(when(col("prev_close").isNotNull && col("close") > col("prev_close"), 1)
          .otherwise(0)).as("advancers"),
        sum(when(col("prev_close").isNotNull && col("close") < col("prev_close"), 1)
          .otherwise(0)).as("decliners"),
        sum(when(col("close") === col("prev_close"), 1).otherwise(0)).as("unchanged"))
      .orderBy(col("day"))
  }

  /** §2.5 rolling window on a canonical calendar spine with a full-coverage
    * guard (25-day adv/dec ratio, computeAdvDecRatio25,
    * market-breadth.ts:283-299): 5-day rolling sum, null unless all 5
    * consecutive days are present. */
  def q20RollingSpine(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev.withColumn("day", to_date(col("ts")))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("value").cast(D2)).as("dval"))
    val bounds = ev.agg(min(to_date(col("ts"))).as("d0"),
      max(to_date(col("ts"))).as("d1"))
    val days = bounds.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val users = ev.select(col("user_id")).distinct()
    val spine = users.crossJoin(days)
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(-4, 0)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("roll5",
        when(count(col("dval")).over(w) === 5,
          sum(col("dval")).over(w).cast("double")))
      .select(col("user_id"), col("day"), col("dval").cast("double").as("dval"),
        col("roll5"))
      .orderBy(col("user_id"), col("day"))
  }

  /** §2.4 exact median/quartile bands from sorted arrays — the PER-band
    * construction (00116:197-219: array_agg ORDER BY → middle elements),
    * NOT percentile_approx. Type-7 interpolation done with explicit
    * identical arithmetic in both engines. */
  def q21MedianBands(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val grouped = p.groupBy(col("p_type"))
      .agg(sort_array(collect_list(col("p_retailprice"))).as("arr"),
        count(lit(1)).as("n"),
        min(col("p_retailprice")).as("lo"),
        max(col("p_retailprice")).as("hi"))
    def q(frac: Double): Column = {
      val pos = (col("n") - 1) * lit(frac)
      val lower = floor(pos).cast("int")
      val g = pos - floor(pos)
      (lit(1.0) - g) * element_at(col("arr"), lower + 1) +
        g * element_at(col("arr"), lower + 2)
    }
    def qExact(frac: Double): Column = {
      val pos = (col("n") - 1) * lit(frac)
      val lower = floor(pos).cast("int")
      when(pos === lower.cast("double"), element_at(col("arr"), lower + 1))
        .otherwise(q(frac))
    }
    grouped.select(col("p_type"), col("n"), col("lo"), col("hi"),
        qExact(0.25).as("p25"), qExact(0.5).as("median"), qExact(0.75).as("p75"))
      .orderBy(col("p_type"))
  }

  /** §1.1 unpivot / long format (investor_type_trading vertical fact,
    * 00003:95-119; stack mapping): lineitem measures → (metric, value)
    * rows, then exact per-metric sums per return flag. */
  def q22Unpivot(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val long = li.select(col("l_returnflag"),
      explode(array(
        struct(lit("quantity").as("metric"), col("l_quantity").as("value")),
        struct(lit("extendedprice").as("metric"), col("l_extendedprice").as("value")),
        struct(lit("discount").as("metric"), col("l_discount").as("value"))
      )).as("m"))
      .select(col("l_returnflag"), col("m.metric"), col("m.value"))
    long.groupBy(col("l_returnflag"), col("metric"))
      .agg(sum(col("value").cast(D2)).cast("double").as("total"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("metric"))
  }

  /** §2.7 catch-up anti-join (catch-up.ts:99-106): calendar days in the
    * orders date range with no orders at all. */
  def q23MissingDates(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val bounds = o.agg(min(to_date(col("o_orderdate"))).as("d0"),
      max(to_date(col("o_orderdate"))).as("d1"))
    val days = bounds.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val present = o.select(to_date(col("o_orderdate")).as("day")).distinct()
    days.join(present, Seq("day"), "left_anti").orderBy(col("day"))
  }

  /** §2.7 UNION ALL freshness view over tables (00012:7-49): per-table
    * max date + row count. */
  def q24Freshness(s: SparkSession, dir: String): DataFrame = {
    def fresh(df: DataFrame, name: String, dateCol: Column): DataFrame =
      df.agg(max(to_date(dateCol)).as("max_date"), count(lit(1)).as("n_rows"))
        .select(lit(name).as("table_name"), col("max_date"), col("n_rows"))
    fresh(Tables.orders(s, dir), "orders", col("o_orderdate"))
      .unionByName(fresh(Tables.lineitem(s, dir), "lineitem", col("l_shipdate")))
      .unionByName(fresh(Tables.events(s, dir), "events", col("ts")))
      .orderBy(col("table_name"))
  }

  /** §2.8 factor-vector pipeline (transformColumn, factor-vectors.ts:254-309):
    * winsorize at type-7-interpolated p01/p99 (percentile(), :191-213) →
    * population z-score (exact sums) →
    * clamp ±3 → null→0, per dimension over the full cross-section. Output:
    * the transformed dimension values per entity. */
  def q25FactorVectors(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val wRank = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val px = o.withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_totalprice").as("p1"))
    val base0 = c.join(px, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal"), col("p1"))
    // scoped-materialized: the per-dimension bound computations below are
    // ~8 eager actions (sort-sample, counts, rank fetches) and the z-stat
    // aggs re-run at final-action broadcast time — without the pin each
    // one re-executes the orders row_number window + join from scratch
    // (recompute amplification ≈ 10× the base pipeline). The cross-section-
    // sized result leaves the scope as an eager localCheckpoint.
    Materialize.withMaterialized(base0) { base =>

    val dims = Seq("f_p1" -> col("p1"), "f_bal" -> col("c_acctbal"))
    val bounds = graft.operators.Winsorize.interpBoundsMulti(base, dims)

    // with the bounds already driver-side scalars, the winsorized columns
    // are plain projections, so ALL dimensions' z parameters come from ONE
    // aggregation pass over the pinned base and ONE broadcast — not a
    // subquery + crossJoin per dimension
    val wz = dims.foldLeft(base) { case (df, (name, x)) =>
      val (loB, hiB) = bounds(name)
      df.withColumn(s"__wz_$name", least(greatest(x, lit(loB)), lit(hiB)))
    }
    // z parameters from FLOORED winsorized values: scale-0 decimal sums
    // keep the scaled integer < 2^53 at any sf (squares of 2-decimal
    // values at scale 4 overflow the exact-double range past ~1e11 rows·x²)
    def sums(name: String): Seq[Column] = {
      val xd = floor(col(s"__wz_$name")).cast("decimal(18,0)")
      Seq(count(col(s"__wz_$name")).as(s"__n_$name"),
        sum(xd).cast("double").as(s"__sx_$name"),
        sum((xd * xd).cast("decimal(30,0)")).cast("double").as(s"__sxx_$name"))
    }
    val aggCols = dims.map(_._1).flatMap(sums)
    val zStats = wz.agg(aggCols.head, aggCols.tail: _*)
    def zc(name: String): Column = {
      val mu = col(s"__sx_$name") / col(s"__n_$name")
      val msq = col(s"__sxx_$name") / col(s"__n_$name")
      val variance = msq - mu * mu
      val z = when(variance > 0, (col(s"__wz_$name") - mu) / sqrt(variance))
      coalesce(least(greatest(z, lit(-3.0)), lit(3.0)), lit(0.0))
    }
    Materialize.sorted(wz.crossJoin(broadcast(zStats))
      .withColumn("f_p1", zc("f_p1"))
      .withColumn("f_bal", zc("f_bal"))
      .select(col("c_custkey"), col("f_bal"), col("f_p1")), col("c_custkey"))

    } // withMaterialized(base)
  }

  /** §2.8 Pearson correlation from exact decimal sums (basket validation,
    * basket-valuation.ts:623-651) — order-insensitive, bit-stable. */
  def q26CorrStats(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val spend = o.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(D2)).cast("double").as("spend"),
        count(lit(1)).as("n_orders"))
    val base = c.join(spend, col("c_custkey") === col("o_custkey"))
      .select(col("c_nationkey"), col("c_acctbal").as("x"), col("spend").as("y"))
    val xd = col("x").cast(D2)
    // y is a ~1e6-magnitude sum: floored to a scale-0 decimal so y² sums
    // stay under 2^53 when cast back to double
    val yd = floor(col("y")).cast("decimal(14,0)")
    base.groupBy(col("c_nationkey")).agg(
        count(lit(1)).as("n"),
        sum(xd).cast("double").as("sx"),
        sum(yd).cast("double").as("sy"),
        sum((xd * xd).cast("decimal(30,4)")).cast("double").as("sxx"),
        sum((yd * yd).cast("decimal(30,0)")).cast("double").as("syy"),
        sum((xd * yd).cast("decimal(30,2)")).cast("double").as("sxy"))
      .withColumn("corr_xy",
        when((col("n") * col("sxx") - col("sx") * col("sx")) > 0 &&
             (col("n") * col("syy") - col("sy") * col("sy")) > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy")))))
      .select(col("c_nationkey"), col("n"), col("corr_xy"))
      .orderBy(col("c_nationkey"))
  }

  /** §2.8 annualized tracking error + distribution stats — the backfill-
    * validation math (annualizedTrackingError, basket-valuation.ts:643-651;
    * distributionStats, factor-vectors.ts:336-352). Daily return series per
    * sector vs the whole-market benchmark, diff series per day, then:
    * TE = √(sample variance of diffs) · √252 · 100 (null below 2 points),
    * plus count/min/max/mean of the diffs.
    *
    * Numeric parity: the reference folds plain double arrays in
    * chronological order, so the mean and squared-deviation sums here are
    * per-group ordered-array folds (functions.aggregate over
    * sort_array(collect_list)) — bounded by the trading calendar per group,
    * never a whole-column collect — with DuckDB list_reduce doing the
    * identical left-to-right IEEE ops. */
  def q44TrackingError(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev.withColumn("day", to_date(col("ts")))
      .groupBy((col("user_id") % 20).cast("long").as("sector"), col("day"))
      .agg(sum(col("value").cast(D2)).cast("double").as("v"))
    val bench = ev.withColumn("day", to_date(col("ts")))
      .groupBy(col("day")).agg(sum(col("value").cast(D2)).cast("double").as("b"))
    val wS = Window.partitionBy(col("sector")).orderBy(col("day"))
    // benchmark series is one row per calendar day — bounded, the
    // unpartitioned window is safe at any input scale
    val wB = Window.orderBy(col("day"))
    val rs = daily.withColumn("ra", col("v") / lag(col("v"), 1).over(wS) - 1.0)
      .filter(col("ra").isNotNull)
    val rb = bench.withColumn("rb", col("b") / lag(col("b"), 1).over(wB) - 1.0)
      .filter(col("rb").isNotNull)
    val g = rs.join(rb, Seq("day"))
      .withColumn("diff", col("ra") - col("rb"))
      .groupBy(col("sector")).agg(
        count(lit(1)).as("n"),
        min(col("diff")).as("diff_min"),
        max(col("diff")).as("diff_max"),
        sort_array(collect_list(struct(col("day"), col("diff")))).as("arr"))
    val diffs = col("arr.diff")
    val s1 = aggregate(diffs, lit(0.0), (acc, x) => acc + x)
    val withMean = g.withColumn("diff_mean", s1 / col("n"))
    val sumsq = aggregate(diffs, lit(0.0),
      (acc, x) => acc + (x - col("diff_mean")) * (x - col("diff_mean")))
    withMean
      .withColumn("te_annualized",
        when(col("n") >= 2,
          sqrt(sumsq / (col("n") - 1)) * sqrt(lit(252.0)) * 100.0))
      .select(col("sector"), col("n"), col("te_annualized"),
        col("diff_min"), col("diff_max"), col("diff_mean"))
      .orderBy(col("sector"))
  }

  val oracleQ44: String =
    """WITH daily AS (
      |  SELECT CAST(user_id % 20 AS BIGINT) AS sector, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2
      |), bench AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS b
      |  FROM events GROUP BY 1
      |), rs AS (
      |  SELECT sector, day, v / lag(v) OVER (PARTITION BY sector ORDER BY day) - 1.0 AS ra
      |  FROM daily QUALIFY ra IS NOT NULL
      |), rb AS (
      |  SELECT day, b / lag(b) OVER (ORDER BY day) - 1.0 AS rb
      |  FROM bench QUALIFY rb IS NOT NULL
      |), g AS (
      |  SELECT sector, CAST(count(*) AS BIGINT) AS n,
      |    min(ra - rb) AS diff_min, max(ra - rb) AS diff_max,
      |    list(ra - rb ORDER BY day) AS arr
      |  FROM rs JOIN rb USING (day) GROUP BY sector
      |), m AS (
      |  SELECT *, list_reduce(arr, (a, b) -> a + b) / n AS diff_mean FROM g
      |)
      |SELECT sector, n,
      |  CASE WHEN n >= 2 THEN
      |    sqrt(list_reduce(list_transform(arr, x -> (x - diff_mean) * (x - diff_mean)),
      |                     (a, b) -> a + b) / (n - 1)) * sqrt(252.0) * 100.0
      |    END AS te_annualized,
      |  diff_min, diff_max, diff_mean
      |FROM m ORDER BY sector""".stripMargin

  /** Skew-safe two-phase salted aggregation as a gate query: events
    * grouped by event_type — 5 hot keys over the whole table, the exact
    * shape that stalls a naive shuffle at 100 TB — aggregated via
    * Skew.saltedAgg (partial on (key, salt-of-user), final on key).
    * Salting is internal and algebraic, so the oracle is the plain GROUP
    * BY; exact decimal sums make the two-phase combine bit-stable. */
  def q52SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    graft.operators.Skew.saltedAgg(ev, Seq("event_type"), col("user_id"),
        buckets = 16,
        partialAggs = Seq(
          sum(col("value").cast(D2)).as("__ps"),
          count(lit(1)).as("__pc"),
          min(col("value")).as("__pm"),
          max(col("value")).as("__px")),
        finalAggs = Seq(
          sum(col("__ps")).cast("double").as("total"),
          sum(col("__pc")).as("n_events"),
          min(col("__pm")).as("min_value"),
          max(col("__px")).as("max_value")))
      .orderBy(col("event_type"))
  }

  val oracleQ52: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  min(value) AS min_value,
      |  max(value) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** §2.5 chained index levels (chainIndexSeries,
    * basket-valuation.ts:568-616): daily revenue per nation → daily return
    * vs previous day → index = 100 × cumulative product of returns from the
    * anchor day. Product accumulates left-to-right in both engines; the
    * result is js-rounded to 6 digits to absorb final-ulp association
    * differences. */
  def q27ChainedIndex(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val daily = o.join(c, col("c_custkey") === col("o_custkey"))
      .withColumn("day", to_date(col("o_orderdate")))
      .groupBy(col("c_nationkey"), col("day"))
      .agg(sum(col("o_totalprice").cast(D2)).cast("double").as("rev"))
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("day"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRet = daily
      .withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .withColumn("ret",
        when(col("prev_rev").isNotNull && col("prev_rev") > 0,
          col("rev") / col("prev_rev")).otherwise(lit(1.0)))
    withRet
      .withColumn("index_level",
        graft.functions.jsRound(
          lit(100.0) * aggregate(collect_list(col("ret")).over(wf),
            lit(1.0), (acc, x) => acc * x), 6))
      .select(col("c_nationkey"), col("day"), col("index_level"))
      .orderBy(col("c_nationkey"), col("day"))
  }

  /** §2.2 session expansion (1 API row → ≤3 session rows,
    * equity-bars-daily.ts:125-144): explode + filter of conditional
    * struct projections. */
  def q28SessionExpand(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val am = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
      struct(lit("AM").as("session"), (col("o_totalprice") * 0.6).as("amount")))
    val pm = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
      struct(lit("PM").as("session"), (col("o_totalprice") * 0.4).as("amount")))
    val day = struct(lit("DAY").as("session"), col("o_totalprice").as("amount"))
    o.select(col("o_orderkey"),
        explode(filter(array(day, am, pm), x => x.isNotNull)).as("s"))
      .select(col("o_orderkey"), col("s.session"), col("s.amount"))
      .orderBy(col("o_orderkey"), col("session"))
  }

  /** §2.5 split/merge rebase factors (00093:60-70): reverse-cumulative
    * product over trade date DESC with ROWS UNBOUNDED PRECEDING AND 1
    * PRECEDING — the frame *excludes* the current row. Integer-scaled
    * factors keep the product exact. */
  def q29RebaseFactors(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // distinct-on first (00093 day_factors): one factor per (order, line),
    // which also bounds the product depth ≤ 7 so the integer-scaled
    // product stays below 2^53 (exact under any combination order)
    val factors = li.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_tax")).as("tax"))
    val factorScaled = floor(col("tax") * 100 + lit(0.5)) + lit(100.0)
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber").desc)
    val wf = w.rowsBetween(Window.unboundedPreceding, -1)
    factors.withColumn("__f", factorScaled)
      .withColumn("__cnt", count(lit(1)).over(wf))
      .withColumn("__prod",
        coalesce(aggregate(collect_list(col("__f")).over(wf), lit(1.0),
          (acc, x) => acc * x), lit(1.0)))
      .withColumn("cum_factor", col("__prod") / pow(lit(100.0), col("__cnt")))
      .select(col("l_orderkey"), col("l_linenumber"), col("tax"),
        col("cum_factor"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** §2.4 weighted harmonic basket aggregate (harmonicRatio,
    * basket-valuation.ts:512-556): ratio = Σ(w·num)/Σ(w·den) over rows
    * where both legs are non-null; null when the denominator ≤ 0. */
  def q30HarmonicAgg(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
    val wgt = col("p_size").cast(D2)
    val mcap = col("p_retailprice").cast(D2)
    // a deliberately sign-mixed "earnings" leg to exercise the ≤0 guard
    val earn = (col("p_retailprice") - lit(1000.0)).cast(D2)
    val agg = p.groupBy(col("p_brand")).agg(
      sum(when(mcap.isNotNull && earn.isNotNull, (wgt * mcap).cast("decimal(30,4)")))
        .cast("double").as("num"),
      sum(when(mcap.isNotNull && earn.isNotNull, (wgt * earn).cast("decimal(30,4)")))
        .cast("double").as("den"),
      count(lit(1)).as("n"))
    agg.withColumn("per_like", when(col("den") > 0, col("num") / col("den")))
      .select(col("p_brand"), col("n"), col("num"), col("den"), col("per_like"))
      .orderBy(col("p_brand"))
  }

  /** §2.5 frame-expressible indicator subset WITH an oracle: rolling SMA
    * (count-guarded), Bollinger bands from exact sums, rolling high/low and
    * raw stochastic %K — the window-function face of the technical kernels
    * (recursive EMA/RSI/ATR live in [[graft.analytics.TechnicalJob]], checked
    * by the golden-vector spec instead). */
  def q32WindowIndicators(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val wDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = ev.withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("close"))
    val w5 = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(-4, 0)
    val xd = col("close").cast(D2)
    val n5 = count(col("close")).over(w5)
    val sma5 = when(n5 === 5, sum(xd).over(w5).cast("double") / 5)
    val msq5 = sum((xd * xd).cast("decimal(30,4)")).over(w5).cast("double") / 5
    val mu5 = sum(xd).over(w5).cast("double") / 5
    val sd5 = sqrt(msq5 - mu5 * mu5)
    val hh5 = max(col("close")).over(w5)
    val ll5 = min(col("close")).over(w5)
    daily
      .withColumn("sma_5", sma5)
      .withColumn("bb_upper", when(n5 === 5, mu5 + lit(2.0) * sd5))
      .withColumn("bb_lower", when(n5 === 5, mu5 - lit(2.0) * sd5))
      .withColumn("hh_5", when(n5 === 5, hh5))
      .withColumn("ll_5", when(n5 === 5, ll5))
      .withColumn("stoch_k_raw",
        when(n5 === 5 && hh5 =!= ll5,
          (col("close") - ll5) / (hh5 - ll5) * 100))
      .select(col("user_id"), col("day"), col("close"), col("sma_5"),
        col("bb_upper"), col("bb_lower"), col("hh_5"), col("ll_5"),
        col("stoch_k_raw"))
      .orderBy(col("user_id"), col("day"))
  }

  val oracleQ32: String =
    """WITH daily AS (
      |  SELECT user_id, day, close FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS day, value AS close,
      |      ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) t WHERE rn = 1
      |)
      |SELECT user_id, day, close,
      |  CASE WHEN COUNT(close) OVER w = 5
      |       THEN CAST(SUM(CAST(close AS DECIMAL(12,2))) OVER w AS DOUBLE) / 5 END AS sma_5,
      |  CASE WHEN COUNT(close) OVER w = 5 THEN
      |    CAST(SUM(CAST(close AS DECIMAL(12,2))) OVER w AS DOUBLE) / 5
      |    + 2.0 * sqrt(CAST(SUM(CAST(CAST(close AS DECIMAL(12,2))
      |          * CAST(close AS DECIMAL(12,2)) AS DECIMAL(30,4))) OVER w AS DOUBLE) / 5
      |        - (CAST(SUM(CAST(close AS DECIMAL(12,2))) OVER w AS DOUBLE) / 5)
      |          * (CAST(SUM(CAST(close AS DECIMAL(12,2))) OVER w AS DOUBLE) / 5)) END AS bb_upper,
      |  CASE WHEN COUNT(close) OVER w = 5 THEN
      |    CAST(SUM(CAST(close AS DECIMAL(12,2))) OVER w AS DOUBLE) / 5
      |    - 2.0 * sqrt(CAST(SUM(CAST(CAST(close AS DECIMAL(12,2))
      |          * CAST(close AS DECIMAL(12,2)) AS DECIMAL(30,4))) OVER w AS DOUBLE) / 5
      |        - (CAST(SUM(CAST(close AS DECIMAL(12,2))) OVER w AS DOUBLE) / 5)
      |          * (CAST(SUM(CAST(close AS DECIMAL(12,2))) OVER w AS DOUBLE) / 5)) END AS bb_lower,
      |  CASE WHEN COUNT(close) OVER w = 5 THEN MAX(close) OVER w END AS hh_5,
      |  CASE WHEN COUNT(close) OVER w = 5 THEN MIN(close) OVER w END AS ll_5,
      |  CASE WHEN COUNT(close) OVER w = 5 AND MAX(close) OVER w <> MIN(close) OVER w
      |       THEN (close - MIN(close) OVER w)
      |            / (MAX(close) OVER w - MIN(close) OVER w) * 100 END AS stoch_k_raw
      |FROM daily
      |WINDOW w AS (PARTITION BY user_id ORDER BY day
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""".stripMargin

  /** §1.1 wide indicator table with per-column-group ownership
    * (analytics.market_indicators, 00068:21-60; per-group upsert
    * indicators-sync.ts:225-235): independent per-day metric groups merged
    * by full-outer join on the date axis, `coalesce` per column — a group
    * refresh never clobbers another group's columns. */
  def q38ColumnGroupMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val day = to_date(col("ts")).as("day")
    // group A (owner: trading metrics): click volume + value sum
    val a = ev.filter(col("event_type") === "click")
      .groupBy(day).agg(count(lit(1)).as("click_count"),
        sum(col("value").cast(D2)).cast("double").as("click_value"))
    // group B (owner: conversion metrics): purchase count + value
    val b = ev.filter(col("event_type") === "purchase")
      .groupBy(day).agg(count(lit(1)).as("purchase_count"),
        sum(col("value").cast(D2)).cast("double").as("purchase_value"))
    // group C (owner: reliability): error count
    val c = ev.filter(col("event_type") === "error")
      .groupBy(day).agg(count(lit(1)).as("error_count"))
    a.join(b, Seq("day"), "full_outer")
      .join(c, Seq("day"), "full_outer")
      .select(col("day"), col("click_count"), col("click_value"),
        col("purchase_count"), col("purchase_value"), col("error_count"))
      .orderBy(col("day"))
  }

  val oracleQ38: String =
    """WITH a AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS click_count,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY 1
      |), b AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS purchase_count,
      |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS purchase_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |), c AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS error_count
      |  FROM events WHERE event_type = 'error' GROUP BY 1
      |)
      |SELECT COALESCE(a.day, b.day, c.day) AS day,
      |  click_count, click_value, purchase_count, purchase_value, error_count
      |FROM a FULL OUTER JOIN b ON b.day = a.day
      |FULL OUTER JOIN c ON c.day = COALESCE(a.day, b.day)
      |ORDER BY day""".stripMargin

  // --------------------------------------------------------------------
  // DuckDB oracles
  // --------------------------------------------------------------------

  val oracleQ19: String =
    """WITH daily AS (
      |  SELECT user_id, day, close FROM (
      |    SELECT user_id, CAST(ts AS DATE) AS day, value AS close,
      |      ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |        ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events) t WHERE rn = 1
      |), withprev AS (
      |  SELECT *, lag(close) OVER (PARTITION BY user_id ORDER BY day) AS prev_close
      |  FROM daily
      |)
      |SELECT day, COUNT(*) AS n_users,
      |  CAST(SUM(CASE WHEN prev_close IS NOT NULL AND close > prev_close THEN 1 ELSE 0 END) AS BIGINT) AS advancers,
      |  CAST(SUM(CASE WHEN prev_close IS NOT NULL AND close < prev_close THEN 1 ELSE 0 END) AS BIGINT) AS decliners,
      |  CAST(SUM(CASE WHEN close = prev_close THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
      |FROM withprev GROUP BY day ORDER BY day""".stripMargin

  val oracleQ20: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    SUM(CAST(value AS DECIMAL(12,2))) AS dval
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
      |), days AS (
      |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds
      |), spine AS (
      |  SELECT u.user_id, d.day FROM (SELECT DISTINCT user_id FROM events) u, days d
      |)
      |SELECT s.user_id, s.day, CAST(dval AS DOUBLE) AS dval,
      |  CASE WHEN COUNT(dval) OVER w = 5
      |       THEN CAST(SUM(dval) OVER w AS DOUBLE) END AS roll5
      |FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
      |WINDOW w AS (PARTITION BY s.user_id ORDER BY s.day
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |ORDER BY s.user_id, s.day""".stripMargin

  private def sqlQuantile(frac: String): String =
    s"""CASE WHEN (n-1) * $frac = floor((n-1) * $frac)
       |  THEN arr[CAST(floor((n-1) * $frac) AS INT) + 1]
       |  ELSE (1.0 - ((n-1) * $frac - floor((n-1) * $frac)))
       |         * arr[CAST(floor((n-1) * $frac) AS INT) + 1]
       |       + ((n-1) * $frac - floor((n-1) * $frac))
       |         * arr[CAST(floor((n-1) * $frac) AS INT) + 2] END""".stripMargin

  val oracleQ21: String =
    s"""WITH g AS (
       |  SELECT p_type, list_sort(list(p_retailprice)) AS arr, COUNT(*) AS n,
       |    MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi
       |  FROM part GROUP BY p_type
       |)
       |SELECT p_type, n, lo, hi,
       |  ${sqlQuantile("0.25")} AS p25,
       |  ${sqlQuantile("0.5")} AS median,
       |  ${sqlQuantile("0.75")} AS p75
       |FROM g ORDER BY p_type""".stripMargin

  val oracleQ22: String =
    """WITH long AS (
      |  SELECT l_returnflag, 'quantity' AS metric, l_quantity AS value FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL
      |  SELECT l_returnflag, 'discount', l_discount FROM lineitem
      |)
      |SELECT l_returnflag, metric,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
      |  COUNT(*) AS n
      |FROM long GROUP BY l_returnflag, metric
      |ORDER BY l_returnflag, metric""".stripMargin

  val oracleQ23: String =
    """WITH bounds AS (
      |  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
      |         MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders
      |), days AS (
      |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds
      |)
      |SELECT day FROM days
      |WHERE day NOT IN (SELECT DISTINCT CAST(o_orderdate AS DATE) FROM orders)
      |ORDER BY day""".stripMargin

  val oracleQ24: String =
    """SELECT 'orders' AS table_name, MAX(CAST(o_orderdate AS DATE)) AS max_date,
      |       COUNT(*) AS n_rows FROM orders
      |UNION ALL
      |SELECT 'lineitem', MAX(CAST(l_shipdate AS DATE)), COUNT(*) FROM lineitem
      |UNION ALL
      |SELECT 'events', MAX(CAST(ts AS DATE)), COUNT(*) FROM events
      |ORDER BY table_name""".stripMargin

  /** Type-7 interpolated bound (percentile(), factor-vectors.ts:191-213):
    * idx = p·(n−1); s[lo] + (s[hi]−s[lo])·(idx−lo) — identical double ops
    * to the Spark side's interp(). */
  private def sqlBound(p: String, name: String): String =
    s"""CASE WHEN len(arr) = 1 THEN arr[1]
       |         WHEN floor($p * CAST(len(arr)-1 AS DOUBLE)) = ceil($p * CAST(len(arr)-1 AS DOUBLE))
       |         THEN arr[CAST(floor($p * CAST(len(arr)-1 AS DOUBLE)) AS INT) + 1]
       |         ELSE arr[CAST(floor($p * CAST(len(arr)-1 AS DOUBLE)) AS INT) + 1]
       |            + (arr[CAST(ceil($p * CAST(len(arr)-1 AS DOUBLE)) AS INT) + 1]
       |               - arr[CAST(floor($p * CAST(len(arr)-1 AS DOUBLE)) AS INT) + 1])
       |              * ($p * CAST(len(arr)-1 AS DOUBLE) - floor($p * CAST(len(arr)-1 AS DOUBLE)))
       |    END AS $name""".stripMargin

  private def sqlTransform(xExpr: String, from: String, name: String): String =
    s"""b_$name AS (
       |  SELECT
       |    ${sqlBound("0.01", "lo")},
       |    ${sqlBound("0.99", "hi")}
       |  FROM (SELECT list_sort(list(CAST($xExpr AS DOUBLE)) FILTER (WHERE $xExpr IS NOT NULL)) AS arr
       |        FROM $from)
       |), c_$name AS (
       |  SELECT t.*, least(greatest($xExpr, b.lo), b.hi) AS wz_$name
       |  FROM $from t, b_$name b
       |), s_$name AS (
       |  SELECT COUNT(wz_$name) AS n,
       |    CAST(SUM(CAST(floor(wz_$name) AS DECIMAL(18,0))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(CAST(floor(wz_$name) AS DECIMAL(18,0))
       |         * CAST(floor(wz_$name) AS DECIMAL(18,0)) AS DECIMAL(30,0))) AS DOUBLE) AS sxx
       |  FROM c_$name
       |)""".stripMargin

  val oracleQ25: String =
    s"""WITH px AS (
       |  SELECT o_custkey, o_totalprice AS p1 FROM (
       |    SELECT o_custkey, o_totalprice,
       |      ROW_NUMBER() OVER (PARTITION BY o_custkey
       |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) t
       |  WHERE rn = 1
       |), base AS (
       |  SELECT c_custkey, c_acctbal, p1
       |  FROM customer LEFT JOIN px ON o_custkey = c_custkey
       |), ${sqlTransform("c_acctbal", "base", "bal")},
       |${sqlTransform("p1", "base", "p1")}
       |SELECT b1.c_custkey,
       |  COALESCE(least(greatest(
       |    CASE WHEN s1.sxx/s1.n - (s1.sx/s1.n)*(s1.sx/s1.n) > 0
       |         THEN (b1.wz_bal - s1.sx/s1.n)
       |              / sqrt(s1.sxx/s1.n - (s1.sx/s1.n)*(s1.sx/s1.n)) END,
       |    -3.0), 3.0), 0.0) AS f_bal,
       |  COALESCE(least(greatest(
       |    CASE WHEN s2.sxx/s2.n - (s2.sx/s2.n)*(s2.sx/s2.n) > 0
       |         THEN (b2.wz_p1 - s2.sx/s2.n)
       |              / sqrt(s2.sxx/s2.n - (s2.sx/s2.n)*(s2.sx/s2.n)) END,
       |    -3.0), 3.0), 0.0) AS f_p1
       |FROM c_bal b1
       |JOIN c_p1 b2 ON b2.c_custkey = b1.c_custkey, s_bal s1, s_p1 s2
       |ORDER BY b1.c_custkey""".stripMargin

  val oracleQ26: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
      |  FROM orders GROUP BY o_custkey
      |), base AS (
      |  SELECT c_nationkey, c_acctbal AS x, spend AS y
      |  FROM customer JOIN spend ON o_custkey = c_custkey
      |), agg AS (
      |  SELECT c_nationkey, COUNT(*) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(floor(y) AS DECIMAL(14,0))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(CAST(x AS DECIMAL(12,2)) * CAST(x AS DECIMAL(12,2))
      |         AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(CAST(floor(y) AS DECIMAL(14,0)) * CAST(floor(y) AS DECIMAL(14,0))
      |         AS DECIMAL(30,0))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(CAST(x AS DECIMAL(12,2)) * CAST(floor(y) AS DECIMAL(14,0))
      |         AS DECIMAL(30,2))) AS DOUBLE) AS sxy
      |  FROM base GROUP BY c_nationkey
      |)
      |SELECT c_nationkey, n,
      |  CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
      |       THEN (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
      |  END AS corr_xy
      |FROM agg ORDER BY c_nationkey""".stripMargin

  val oracleQ27: String =
    """WITH daily AS (
      |  SELECT c_nationkey, CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  GROUP BY 1, 2
      |), withret AS (
      |  SELECT *, CASE WHEN lag(rev) OVER w IS NOT NULL AND lag(rev) OVER w > 0
      |                 THEN rev / lag(rev) OVER w ELSE 1.0 END AS ret
      |  FROM daily WINDOW w AS (PARTITION BY c_nationkey ORDER BY day)
      |)
      |SELECT c_nationkey, day,
      |  floor(100.0 * product(ret) OVER (PARTITION BY c_nationkey ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000.0 + 0.5)
      |  / 1000000.0 AS index_level
      |FROM withret ORDER BY c_nationkey, day""".stripMargin

  val oracleQ28: String =
    """SELECT o_orderkey, session, amount FROM (
      |  SELECT o_orderkey, 'DAY' AS session, o_totalprice AS amount FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'AM', o_totalprice * 0.6 FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  UNION ALL
      |  SELECT o_orderkey, 'PM', o_totalprice * 0.4 FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |) t ORDER BY o_orderkey, session""".stripMargin

  val oracleQ29: String =
    """WITH factors AS (
      |  SELECT l_orderkey, l_linenumber, MIN(l_tax) AS tax
      |  FROM lineitem GROUP BY l_orderkey, l_linenumber
      |)
      |SELECT l_orderkey, l_linenumber, tax,
      |  COALESCE(product(floor(tax * 100 + 0.5) + 100.0) OVER (
      |    PARTITION BY l_orderkey ORDER BY l_linenumber DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1.0)
      |  / power(100.0, CAST(COUNT(*) OVER (
      |      PARTITION BY l_orderkey ORDER BY l_linenumber DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE))
      |  AS cum_factor
      |FROM factors ORDER BY l_orderkey, l_linenumber""".stripMargin

  val oracleQ30: String =
    """SELECT p_brand, COUNT(*) AS n,
      |  CAST(SUM(CAST(CAST(p_size AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2))
      |       AS DECIMAL(30,4))) AS DOUBLE) AS num,
      |  CAST(SUM(CAST(CAST(p_size AS DECIMAL(12,2))
      |       * CAST(p_retailprice - 1000.0 AS DECIMAL(12,2))
      |       AS DECIMAL(30,4))) AS DOUBLE) AS den,
      |  CASE WHEN CAST(SUM(CAST(CAST(p_size AS DECIMAL(12,2))
      |       * CAST(p_retailprice - 1000.0 AS DECIMAL(12,2)) AS DECIMAL(30,4)))
      |       AS DOUBLE) > 0
      |    THEN CAST(SUM(CAST(CAST(p_size AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2))
      |         AS DECIMAL(30,4))) AS DOUBLE)
      |       / CAST(SUM(CAST(CAST(p_size AS DECIMAL(12,2))
      |         * CAST(p_retailprice - 1000.0 AS DECIMAL(12,2)) AS DECIMAL(30,4))) AS DOUBLE)
      |  END AS per_like
      |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Inactivity gap closing a session (6 h): chosen against the synthetic
    * event density (median inter-event gap per user ≈ 7.3 h) so sessions
    * are non-trivial — ~half of consecutive pairs merge. */
  val SessionGapSec = 21600L

  /** q102 — gap-based sessionization: group each user's events into
    * sessions separated by more than [[SessionGapSec]] of inactivity, and
    * aggregate per session. The canonical islands problem in event
    * analytics (the q08 change-run variant's sibling — there a run breaks
    * on VALUE change, here on TIME gap): flag gap-openers with lag, form
    * session ids with a running sum, aggregate.
    *
    * Determinism: event ordering is (ts, event_id) — event_id breaks ts
    * ties identically in both engines; the session value total is
    * scaled-integer quantized per event BEFORE summation (FP rule 1);
    * duration is integer epoch-microsecond arithmetic.
    *
    * Scale shape: two windows and one aggregation, all partitioned by
    * user_id — one shuffle total (the windows and the groupBy share the
    * user_id clustering; AQE reuses the exchange). Nothing driver-side,
    * nothing quadratic; per-user state is a single lag value, which is why
    * the same rule streams as `mapGroupsWithState` (the breadth-state
    * shape, q96) when run incrementally. */
  def q102Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > SessionGapSec * 1000000L,
          1L).otherwise(0L))
    flagged
      .withColumn("session_idx", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(floor(col("value") * lit(1e6) + lit(0.5)).cast("long")).as("value_sum6"))
      .withColumn("duration_sec", expr(
        "(unix_micros(session_end) - unix_micros(session_start)) DIV 1000000"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("session_start"), col("session_end"), col("duration_sec"),
        col("value_sum6"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val oracleQ102: String =
    s"""WITH f AS (
       |  SELECT user_id, ts, event_id, value,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
       |            > ${SessionGapSec * 1000000L} THEN 1 ELSE 0 END AS new_sess
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), r AS (
       |  SELECT *, CAST(SUM(new_sess) OVER (
       |    PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS session_idx
       |  FROM f
       |)
       |SELECT user_id, session_idx, CAST(COUNT(*) AS BIGINT) AS n_events,
       |  MIN(ts) AS session_start, MAX(ts) AS session_end,
       |  (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_sec,
       |  CAST(SUM(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
       |    AS value_sum6
       |FROM r GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  /** q169 — BURST detection on daily event-type series: flag days whose
    * count exceeds 2.5× the trailing 7-day EXACT median — the
    * ops-monitoring shape behind crawl-anomaly and ingest-spike alerts
    * (median baseline, not mean, so one prior spike cannot mask the
    * next). Only days with a FULL 7-day history are scored: a 7-value
    * median is the 4th order statistic — an exact integer in both
    * engines, no interpolation convention to align. The 2.5× threshold
    * rides integers too (2·cnt > 5·med).
    *
    * Scale shape: one map-side-combined (type, day) count, then one
    * type-partitioned window over the day series (bounded by the
    * calendar, not event rows). */
  def q169BurstDetect(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("nprior", count(lit(1)).over(w))
      .withColumn("med7",
        sort_array(collect_list(col("cnt")).over(w)).getItem(3))
      .filter(col("nprior") === 7)
      .select(col("event_type"), col("d"), col("cnt"), col("med7"),
        (col("cnt") * 2 > col("med7") * 5).as("burst"))
      .orderBy(col("event_type"), col("d"))
  }

  val oracleQ169: String =
    """WITH daily AS (
      |  SELECT event_type, ts::date AS d, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), win AS (
      |  SELECT event_type, d, cnt,
      |    COUNT(*) OVER w AS nprior,
      |    list_sort(list(cnt) OVER w)[4] AS med7
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT event_type, d, cnt, CAST(med7 AS BIGINT) AS med7,
      |  cnt * 2 > med7 * 5 AS burst
      |FROM win WHERE nprior = 7
      |ORDER BY event_type, d""".stripMargin

  /** q177 — BENFORD'S-LAW first-digit test on lineitem prices: observed
    * leading-digit counts vs log₁₀(1+1/d) expectations and the χ²
    * decomposition — the forensic data-quality screen for fabricated or
    * truncated financial feeds (a vendor padding prices flattens the
    * digit curve long before any range check fires).
    *
    * Exactness: digits come from the CENTS integer's decimal string (no
    * double→string formatting divergence); expectations are quantized to
    * exp6 BIGINTs; each digit's χ² term is computed from exact integer
    * operands and quantized to cp6 BEFORE the 9-term total, so the
    * global statistic is an exact integer sum. One map-side projection +
    * one 9-group rollup. */
  def q177Benford(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
    val obs = Tables.lineitem(s, dir)
      .select(cents.as("c"))
      .filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("int").as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("obs"))
    val withExp = obs
      .withColumn("n", sum(col("obs")).over(
        Window.partitionBy()))
      .withColumn("exp6", floor(
        log10(lit(1.0) + lit(1.0) / col("d").cast("double"))
          * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("cp6", floor(
        ((col("obs") * lit(1000000L) - col("n") * col("exp6")).cast("double")
          * (col("obs") * lit(1000000L) - col("n") * col("exp6")).cast("double"))
          / (col("n") * col("exp6")).cast("double") / lit(1e6)
          + lit(0.5)).cast("long"))
    withExp
      .withColumn("chi2_6", sum(col("cp6")).over(Window.partitionBy()))
      .select(col("d"), col("obs"), col("n"), col("exp6"), col("cp6"),
        col("chi2_6"))
      .orderBy(col("d"))
  }

  val oracleQ177: String =
    """WITH c AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      |  FROM lineitem
      |), digits AS (
      |  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS d
      |  FROM c WHERE c > 0
      |), obs AS (
      |  SELECT d, CAST(COUNT(*) AS BIGINT) AS obs FROM digits GROUP BY d
      |), e AS (
      |  SELECT d, obs, (SELECT CAST(SUM(obs) AS BIGINT) FROM obs) AS n,
      |    CAST(floor(log10(1.0 + 1.0 / CAST(d AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT) AS exp6
      |  FROM obs
      |), parts AS (
      |  SELECT d, obs, n, exp6,
      |    CAST(floor(
      |      CAST(obs * 1000000 - n * exp6 AS DOUBLE)
      |        * CAST(obs * 1000000 - n * exp6 AS DOUBLE)
      |        / CAST(n * exp6 AS DOUBLE) / 1e6 + 0.5) AS BIGINT) AS cp6
      |  FROM e
      |)
      |SELECT d, obs, n, exp6, cp6,
      |  (SELECT CAST(SUM(cp6) AS BIGINT) FROM parts) AS chi2_6
      |FROM parts ORDER BY d""".stripMargin

  /** q178 — MANN-KENDALL trend test per event-type daily series: S =
    * Σ_{i<j} sign(x_j − x_i), the tie-corrected variance, and the normal
    * z statistic — the nonparametric "is this metric trending"
    * monitoring test (q169 flags spikes; this flags drifts a spike
    * detector never sees). S and the variance numerator are exact
    * integers from a pairwise self-join; z is one pinned expression.
    *
    * Scale shape: the O(n²) pair join runs on the per-type DAILY series
    * (calendar-bounded — 30×30 pairs per type at any corpus size), never
    * on event rows; the event stream collapses map-side first. */
  def q178MannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    Materialize.withMaterialized(daily) { dm =>
      val a = dm.select(col("event_type"), col("d").as("di"),
        col("cnt").as("xi"))
      val b = dm.select(col("event_type"), col("d").as("dj"),
        col("cnt").as("xj"))
      val sAgg = a.join(b, Seq("event_type"))
        .filter(col("di") < col("dj"))
        .groupBy(col("event_type"))
        .agg(sum(signum(col("xj") - col("xi")).cast("long")).as("s"))
      val ties = dm.groupBy(col("event_type"), col("cnt"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
          .as("tie_term"),
          sum(col("t")).as("n"))
      Materialize.pin(sAgg.join(ties, Seq("event_type"))
        .withColumn("var18",
          col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)
            - col("tie_term"))
        .select(col("event_type"), col("n"), col("s"), col("var18"),
          when(col("var18") > 0,
            when(col("s") > 0, (col("s") - 1).cast("double"))
              .when(col("s") < 0, (col("s") + 1).cast("double"))
              .otherwise(lit(0.0))
              / sqrt(col("var18").cast("double") / lit(18.0)))
            .as("z")))
        .orderBy(col("event_type"))
    }
  }

  val oracleQ178: String =
    """WITH daily AS (
      |  SELECT event_type, ts::date AS d, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), sagg AS (
      |  SELECT a.event_type,
      |    CAST(SUM(CASE WHEN b.cnt > a.cnt THEN 1
      |                  WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS BIGINT)
      |      AS s
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.d < b.d
      |  GROUP BY a.event_type
      |), ties AS (
      |  SELECT event_type,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
      |    CAST(SUM(t) AS BIGINT) AS n
      |  FROM (SELECT event_type, cnt, CAST(COUNT(*) AS BIGINT) AS t
      |        FROM daily GROUP BY event_type, cnt)
      |  GROUP BY event_type
      |)
      |SELECT s.event_type, t.n, s.s,
      |  CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term AS BIGINT)
      |    AS var18,
      |  CASE WHEN t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term > 0 THEN
      |    (CASE WHEN s.s > 0 THEN CAST(s.s - 1 AS DOUBLE)
      |          WHEN s.s < 0 THEN CAST(s.s + 1 AS DOUBLE)
      |          ELSE 0.0 END)
      |    / sqrt(CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term
      |        AS DOUBLE) / 18.0) END AS z
      |FROM sagg s JOIN ties t ON t.event_type = s.event_type
      |ORDER BY s.event_type""".stripMargin

  /** q179 — THEIL-SEN slope per event-type daily series: the (lower)
    * median of all pairwise slopes (x_j−x_i)/(d_j−d_i) — the robust
    * trend MAGNITUDE companion to q178's Mann-Kendall direction test
    * (one outlier day corrupts an OLS slope; it moves one of ~435
    * pairwise slopes here). The median is the exact ⌈n/2⌉-th order
    * statistic under (slope, di, dj) ordering — a deterministic element
    * pick, no interpolation.
    *
    * Scale shape: same calendar-bounded pair join as q178 (30×30 per
    * type, independent of corpus size) + one per-type rank. */
  def q179TheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    Materialize.withMaterialized(daily) { dm =>
      val a = dm.select(col("event_type"), col("d").as("di"),
        col("cnt").as("xi"))
      val b = dm.select(col("event_type"), col("d").as("dj"),
        col("cnt").as("xj"))
      val slopes = a.join(b, Seq("event_type"))
        .filter(col("di") < col("dj"))
        .select(col("event_type"), col("di"), col("dj"),
          ((col("xj") - col("xi")).cast("double") /
            datediff(col("dj"), col("di")).cast("double")).as("slope"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("slope"), col("di"), col("dj"))
      Materialize.pin(slopes
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("np", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
        .filter(col("rn") === expr("(np + 1) DIV 2"))
        .select(col("event_type"), col("np").as("n_pairs"),
          col("slope").as("theil_sen")))
        .orderBy(col("event_type"))
    }
  }

  val oracleQ179: String =
    """WITH daily AS (
      |  SELECT event_type, ts::date AS d, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2
      |), slopes AS (
      |  SELECT a.event_type, a.d AS di, b.d AS dj,
      |    CAST(b.cnt - a.cnt AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
      |      AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.d < b.d
      |), ranked AS (
      |  SELECT event_type, slope,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY slope, di, dj) AS BIGINT) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
      |  FROM slopes
      |)
      |SELECT event_type, np AS n_pairs, slope AS theil_sen
      |FROM ranked WHERE rn = (np + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** q180 — single CHANGEPOINT detection per event-type daily series
    * (binary segmentation, the first split of CUSUM/PELT): the boundary
    * τ minimizing SSE_left + SSE_right — "when did this metric's level
    * shift", the retrospective counterpart of q169's online spike flag.
    * SSEs derive from exact integer prefix sums (Σx, Σx²); each
    * candidate's cost is quantized to floor(cost·10⁶+½) BIGINTs so the
    * argmin is a deterministic integer compare (tie → earliest date).
    *
    * Scale shape: one (type, day) count, one prefix-sum window over the
    * calendar-bounded series, one per-type rank — corpus rows are read
    * once. */
  def q180Changepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val pre = daily
      .withColumn("k", count(lit(1)).over(wCum))
      .withColumn("sx", sum(col("x")).over(wCum))
      .withColumn("sxx", sum(col("x") * col("x")).over(wCum))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tx", sum(col("x")).over(wAll))
      .withColumn("txx", sum(col("x") * col("x")).over(wAll))
      .filter(col("k") < col("n")) // τ = last day of the LEFT segment
    val costL = col("sxx").cast("double") -
      (col("sx") * col("sx")).cast("double") / col("k").cast("double")
    val costR = (col("txx") - col("sxx")).cast("double") -
      ((col("tx") - col("sx")) * (col("tx") - col("sx"))).cast("double") /
        (col("n") - col("k")).cast("double")
    val scored = pre.withColumn("cost6",
      floor((costL + costR) * lit(1e6) + lit(0.5)).cast("long"))
    val wMin = Window.partitionBy(col("event_type"))
      .orderBy(col("cost6"), col("d"))
    scored.withColumn("rn", row_number().over(wMin))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("d").as("tau"),
        col("k").as("n_left"), (col("n") - col("k")).as("n_right"),
        (col("sx").cast("double") / col("k").cast("double"))
          .as("mean_left"),
        ((col("tx") - col("sx")).cast("double")
          / (col("n") - col("k")).cast("double")).as("mean_right"),
        col("cost6"))
      .orderBy(col("event_type"))
  }

  val oracleQ180: String =
    """WITH daily AS (
      |  SELECT event_type, ts::date AS d, CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2
      |), pre AS (
      |  SELECT event_type, d,
      |    CAST(COUNT(*) OVER wc AS BIGINT) AS k,
      |    CAST(SUM(x) OVER wc AS BIGINT) AS sx,
      |    CAST(SUM(x * x) OVER wc AS BIGINT) AS sxx,
      |    CAST(COUNT(*) OVER wa AS BIGINT) AS n,
      |    CAST(SUM(x) OVER wa AS BIGINT) AS tx,
      |    CAST(SUM(x * x) OVER wa AS BIGINT) AS txx
      |  FROM daily
      |  WINDOW wc AS (PARTITION BY event_type ORDER BY d
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wa AS (PARTITION BY event_type)
      |), scored AS (
      |  SELECT event_type, d, k, n, sx, tx,
      |    CAST(floor((
      |      (CAST(sxx AS DOUBLE) - CAST(sx * sx AS DOUBLE)
      |        / CAST(k AS DOUBLE))
      |      + (CAST(txx - sxx AS DOUBLE)
      |        - CAST((tx - sx) * (tx - sx) AS DOUBLE)
      |          / CAST(n - k AS DOUBLE))) * 1e6 + 0.5) AS BIGINT) AS cost6
      |  FROM pre WHERE k < n
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY cost6, d) AS rn
      |  FROM scored
      |)
      |SELECT event_type, d AS tau, k AS n_left,
      |  CAST(n - k AS BIGINT) AS n_right,
      |  CAST(sx AS DOUBLE) / CAST(k AS DOUBLE) AS mean_left,
      |  CAST(tx - sx AS DOUBLE) / CAST(n - k AS DOUBLE) AS mean_right,
      |  cost6
      |FROM ranked WHERE rn = 1 ORDER BY event_type""".stripMargin

  /** q181 — DAY-OF-WEEK seasonality profile per event type: observed
    * counts per weekday vs the uniform expectation, with the χ²
    * decomposition — the weekly-seasonality screen run before any
    * day-over-day comparison is trusted (a Monday/Sunday imbalance
    * masquerades as growth in naive diffs). Same integer discipline as
    * q177's Benford test: expectations and χ² terms quantized to
    * BIGINTs before the total, the only doubles are displayed shares.
    *
    * Scale shape: one map-side-combined (type, dow) count — 35 groups —
    * then arithmetic. */
  def q181DowProfile(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .groupBy(col("event_type"),
        dayofweek(to_date(col("ts"))).cast("long").as("dow"))
      .agg(count(lit(1)).as("obs"))
    val w = Window.partitionBy(col("event_type"))
    obs
      .withColumn("n", sum(col("obs")).over(w))
      .withColumn("ndays", count(lit(1)).over(w))
      // χ² term vs uniform: (obs·ndays − n)² / (n·ndays), scaled to ¢6
      .withColumn("cp6", floor(
        ((col("obs") * col("ndays") - col("n")).cast("double")
          * (col("obs") * col("ndays") - col("n")).cast("double"))
          / (col("n") * col("ndays")).cast("double") * lit(1e6)
          + lit(0.5)).cast("long"))
      .withColumn("chi2_6", sum(col("cp6")).over(w))
      .select(col("event_type"), col("dow"), col("obs"), col("n"),
        (col("obs").cast("double") / col("n").cast("double")).as("share"),
        col("cp6"), col("chi2_6"))
      .orderBy(col("event_type"), col("dow"))
  }

  val oracleQ181: String =
    """WITH obs AS (
      |  -- +1: DuckDB dayofweek is 0-6 (Sun=0); Spark's is 1-7 (Sun=1)
      |  SELECT event_type, CAST(dayofweek(ts::date) + 1 AS BIGINT) AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS obs
      |  FROM events GROUP BY 1, 2
      |), e AS (
      |  SELECT event_type, dow, obs,
      |    CAST(SUM(obs) OVER w AS BIGINT) AS n,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS ndays
      |  FROM obs WINDOW w AS (PARTITION BY event_type)
      |), parts AS (
      |  SELECT event_type, dow, obs, n,
      |    CAST(floor(
      |      CAST(obs * ndays - n AS DOUBLE)
      |        * CAST(obs * ndays - n AS DOUBLE)
      |        / CAST(n * ndays AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS cp6
      |  FROM e
      |)
      |SELECT event_type, dow, obs, n,
      |  CAST(obs AS DOUBLE) / CAST(n AS DOUBLE) AS share, cp6,
      |  CAST(SUM(cp6) OVER (PARTITION BY event_type) AS BIGINT) AS chi2_6
      |FROM parts ORDER BY event_type, dow""".stripMargin

  /** Half-life in days for q170's exponential decay. */
  val DecayHalfLifeDays = 7.0

  /** q170 — time-DECAYED activity score per event type: Σ over days of
    * count · 2^(−age/halflife) — the recency-weighted rollup behind
    * freshness-aware source scoring (a source active last week outranks
    * one equally active last month). Weights are quantized per DAY
    * (floor(2^(−k/7)·10⁶+½), k an integer age) BEFORE the weighted sum,
    * so the aggregate is an exact Σ cnt·w6 BIGINT — the repo's
    * post-transcendental discipline applied to pow.
    *
    * Scale shape: one (type, day) map-side-combined count, one tiny
    * per-type max-date join, one rollup — the event stream is read
    * once. */
  def q170DecayedActivity(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val latest = daily.groupBy(col("event_type")).agg(max(col("d")).as("dmax"))
    daily.join(latest, Seq("event_type"))
      .withColumn("age", datediff(col("dmax"), col("d")).cast("long"))
      .withColumn("w6", floor(
        pow(lit(2.0), -col("age").cast("double") / lit(DecayHalfLifeDays))
          * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("event_type"))
      .agg(max(col("dmax")).as("dmax"), sum(col("cnt")).as("total"),
        sum(col("cnt") * col("w6")).as("decayed6"))
      .withColumn("decayed", col("decayed6").cast("double") / lit(1e6))
      .orderBy(col("event_type"))
  }

  val oracleQ170: String =
    s"""WITH daily AS (
       |  SELECT event_type, ts::date AS d, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events GROUP BY 1, 2
       |), latest AS (
       |  SELECT event_type, MAX(d) AS dmax FROM daily GROUP BY event_type
       |), wtd AS (
       |  SELECT dd.event_type, l.dmax, dd.cnt,
       |    CAST(floor(pow(2.0, -CAST(l.dmax - dd.d AS DOUBLE)
       |      / $DecayHalfLifeDays) * 1e6 + 0.5) AS BIGINT) AS w6
       |  FROM daily dd JOIN latest l USING (event_type)
       |)
       |SELECT event_type, MAX(dmax) AS dmax,
       |  CAST(SUM(cnt) AS BIGINT) AS total,
       |  CAST(SUM(cnt * w6) AS BIGINT) AS decayed6,
       |  CAST(SUM(cnt * w6) AS DOUBLE) / 1e6 AS decayed
       |FROM wtd GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Lag sweep for q160 (days of B-shift, negative = B leads A). */
  val LeadLagRange: Seq[Int] = -3 to 3

  /** q160 — LEAD-LAG cross-correlation sweep: Pearson corr between the
    * 'view' and 'purchase' daily-sum series at every shift in
    * [[LeadLagRange]] — the lead/lag screen the reference's macro layer
    * points at indicator pairs (does A move before B?), gated as a full
    * curve rather than one point (q26 gates lag-0 corr of returns).
    *
    * Exactness: daily sums ride floor(v·100+½) cent integers; per lag,
    * n/Σx/Σy/Σxy/Σx²/Σy² are exact BIGINTs (bounded: 30 days × ~2.4e7
    * cents → n·Σxy ≲ 5e17 < 2⁶³) and the Pearson ratio is assembled in
    * one pinned expression shape in both engines; zero-variance series
    * yield null, not NaN.
    *
    * Scale shape: one map-side-combined (date, type) aggregation
    * collapses the stream to ≤ days×types rows; the 7-lag sweep is a
    * bounded explode over that tiny dim — the event stream is read
    * once. */
  def q160LeadLag(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long"))
        .as("cents"))
    Materialize.withMaterialized(daily) { dm =>
      val a = dm.filter(col("event_type") === "view")
        .select(col("d"), col("cents").as("x"))
      val b = dm.filter(col("event_type") === "purchase")
        .select(col("d").as("bd"), col("cents").as("y"))
      val lags = LeadLagRange.map(l => lit(l))
      val sums = a
        .crossJoin(broadcast(
          s.range(1).select(explode(array(lags: _*)).as("lag"))))
        .join(b, expr("bd = date_add(d, CAST(lag AS INT))"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      Materialize.pin(sums.select(col("lag").cast("long").as("lag"), col("n"),
          col("sxy"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
               col("n") * col("syy") - col("sy") * col("sy") > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                  .cast("double"))
                 * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double"))))
            .as("corr")))
        .orderBy(col("lag"))
    }
  }

  val oracleQ160: String =
    """WITH daily AS (
      |  SELECT ts::date AS d, event_type,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  GROUP BY 1, 2
      |), a AS (
      |  SELECT d, cents AS x FROM daily WHERE event_type = 'view'
      |), b AS (
      |  SELECT d AS bd, cents AS y FROM daily WHERE event_type = 'purchase'
      |), lags(lag) AS (VALUES (-3), (-2), (-1), (0), (1), (2), (3)),
      |sums AS (
      |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x*y) AS BIGINT) AS sxy,
      |    CAST(SUM(x*x) AS BIGINT) AS sxx,
      |    CAST(SUM(y*y) AS BIGINT) AS syy
      |  FROM a CROSS JOIN lags JOIN b ON bd = d + lag
      |  GROUP BY lag
      |)
      |SELECT CAST(lag AS BIGINT) AS lag, n, sxy,
      |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
      |    CAST(n*sxy - sx*sy AS DOUBLE)
      |      / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
      |         * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) END AS corr
      |FROM sums ORDER BY lag""".stripMargin

  /** q157 — STREAMING gap-sessionization run TO COMPLETION in-process
    * ([[graft.streaming.StreamSessions]], flatMapGroupsWithState +
    * EventTimeTimeout — the tenth streaming shape and the last state API
    * surface): globally sorted micro-batch slices, then a far-future
    * sentinel raises the watermark so every user's final open session
    * times out and flushes. The sentinel's own session times out PAST
    * the final watermark, so it never emits (the q93 flush trick).
    * Gate contract: stream ≡ batch — the oracle is q102's, verbatim. */
  def q157StreamSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamRunner, StreamSessions}
    import graft.streaming.StreamSessions.Event
    val evs = Tables.events(s, dir)
      .select(col("ts"), col("user_id"), col("event_id"), col("value"))
      .as[(java.sql.Timestamp, Long, Long, Double)].collect().toSeq
      .sortBy(t => (t._1.getTime, t._3)) // in-order arrival per user
      .map { case (ts, u, e, v) => Event(ts, u, e, v) }
    StreamRunner.sorted(s, StreamRunner.slices(evs, 3), Seq(Event(
        java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L, 0L, 0.0)))(
      StreamSessions.sessions(_, SessionGapSec))(
      _.select(col("userId").as("user_id"),
        col("sessionIdx").as("session_idx"),
        col("nEvents").as("n_events"),
        timestamp_micros(col("startUs")).as("session_start"),
        timestamp_micros(col("endUs")).as("session_end"),
        expr("(endUs - startUs) DIV 1000000").as("duration_sec"),
        col("sum6").as("value_sum6")), col("user_id"), col("session_idx"))
  }

  lazy val oracleQ157: String = oracleQ102

  /** Funnel conversion window: each later stage must land within 24 h of
    * the previous one. */
  val FunnelWindowSec = 86400L

  /** q103 — ordered funnel (view → click → purchase): per user, the
    * earliest view anchors the funnel; the next stage is the earliest
    * qualifying event AFTER the previous stage's timestamp and within
    * [[FunnelWindowSec]]. Output is per-user stage depth plus the stage
    * timestamps (epoch µs), the shape a conversion report aggregates.
    *
    * Scale shape: three user_id-partitioned conditional aggregations
    * chained by left joins on user_id — every join is co-partitioned on
    * the same key (one clustering, AQE-reused), no window over the full
    * event stream, nothing quadratic. Timestamps stay integer epoch µs
    * end-to-end. */
  def q103Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val winUs = FunnelWindowSec * 1000000L
    val users = ev.select(col("user_id")).distinct()
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
    val t2 = t1.join(ev.filter(col("event_type") === "click"), Seq("user_id"))
      .groupBy(col("user_id"), col("t1"))
      .agg(min(when(col("us") >= col("t1") &&
        col("us") - col("t1") <= winUs, col("us"))).as("t2"))
    val t3 = t2.filter(col("t2").isNotNull)
      .join(ev.filter(col("event_type") === "purchase"), Seq("user_id"))
      .groupBy(col("user_id"), col("t2"))
      .agg(min(when(col("us") >= col("t2") &&
        col("us") - col("t2") <= winUs, col("us"))).as("t3"))
    users
      .join(t1, Seq("user_id"), "left")
      .join(t2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(t3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"),
        (when(col("t3").isNotNull, 3L)
          .when(col("t2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L)
          .otherwise(0L)).as("stage"))
      .orderBy(col("user_id"))
  }

  val oracleQ103: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
       |), users AS (
       |  SELECT DISTINCT user_id FROM ev
       |), t1 AS (
       |  SELECT user_id, MIN(us) AS t1 FROM ev
       |  WHERE event_type = 'view' GROUP BY user_id
       |), t2 AS (
       |  SELECT t1.user_id, t1.t1,
       |    MIN(CASE WHEN e.us >= t1.t1
       |             AND e.us - t1.t1 <= ${FunnelWindowSec * 1000000L}
       |        THEN e.us END) AS t2
       |  FROM t1 JOIN ev e ON t1.user_id = e.user_id
       |  WHERE e.event_type = 'click'
       |  GROUP BY t1.user_id, t1.t1
       |), t3 AS (
       |  SELECT t2.user_id, t2.t2,
       |    MIN(CASE WHEN e.us >= t2.t2
       |             AND e.us - t2.t2 <= ${FunnelWindowSec * 1000000L}
       |        THEN e.us END) AS t3
       |  FROM t2 JOIN ev e ON t2.user_id = e.user_id
       |  WHERE t2.t2 IS NOT NULL AND e.event_type = 'purchase'
       |  GROUP BY t2.user_id, t2.t2
       |)
       |SELECT u.user_id, t1.t1, t2.t2, t3.t3,
       |  CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3
       |       WHEN t2.t2 IS NOT NULL THEN 2
       |       WHEN t1.t1 IS NOT NULL THEN 1
       |       ELSE 0 END AS BIGINT) AS stage
       |FROM users u
       |LEFT JOIN t1 ON u.user_id = t1.user_id
       |LEFT JOIN t2 ON u.user_id = t2.user_id
       |LEFT JOIN t3 ON u.user_id = t3.user_id
       |ORDER BY u.user_id""".stripMargin

  /** q104 — retention cohort grid: users cohorted by first-activity day,
    * counted active at each day offset since their cohort day. The
    * third member of the canonical event-analytics trio (sessionize q102,
    * funnel q103): pure date/integer arithmetic, so the grid is
    * deterministic by construction.
    *
    * Scale shape: one (user, day) distinct (map-side combine), one
    * user-keyed min-aggregation, one co-partitioned join on user_id, one
    * grid aggregation — all ordinary key-partitioned shuffles, nothing
    * quadratic, no windows over the raw stream. */
  def q104RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    activity.join(cohorts, Seq("user_id"))
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("offset_days"))
      .groupBy(col("cohort_day"), col("offset_days"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("cohort_day"), col("offset_days"))
  }

  val oracleQ104: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), cohorts AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
      |)
      |SELECT c.cohort_day,
      |  CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS offset_days,
      |  CAST(COUNT(*) AS BIGINT) AS n_active
      |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
      |GROUP BY c.cohort_day, date_diff('day', c.cohort_day, a.day)
      |ORDER BY cohort_day, offset_days""".stripMargin

  /** q106 — grouped OLS regression (slope / intercept / R² of daily value
    * vs day index, per event type): the trend-fitting primitive every
    * monitoring dashboard and drift report needs, expressed as the
    * closed-form normal equations over EXACT integer moment sums.
    *
    * Determinism (FP rule 1): y is quantized to cents (the column is
    * 2-decimal by generation) and x is an integer day index, so the six
    * moments (n, Σx, Σy, Σx², Σxy, Σy²) are exact integers — carried as
    * DECIMAL(38,0) so a 100 TB group cannot silently wrap a BIGINT (per-row
    * products are bounded: y² ≤ 3.2e9, x·y ≤ 1.7e6). The doubles are then
    * derived from those exact sums via the identical expression tree in
    * both engines, so slope/intercept/R² are bit-identical.
    *
    * Scale shape: one map-side-combinable aggregation by event_type — the
    * moments are associative/commutative sums, so partial aggregation does
    * ~all the work before the one tiny shuffle; no window, no join. */
  def q106GroupedOls(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val ev = Tables.events(s, dir).select(
      col("event_type"),
      datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
        .cast("long").as("x"),
      floor(col("value") * 100 + lit(0.5)).cast("long").as("ys"))
    val sums = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(d38)).as("sx"),
      sum(col("ys").cast(d38)).as("sy"),
      sum((col("x") * col("x")).cast(d38)).as("sxx"),
      sum((col("x") * col("ys")).cast(d38)).as("sxy"),
      sum((col("ys") * col("ys")).cast(d38)).as("syy"))
    // exact decimal sums → doubles once, then one shared expression tree
    val nD = col("n").cast("double")
    def dd(c: String) = col(c).cast("double")
    sums
      .withColumn("cov_n", nD * dd("sxy") - dd("sx") * dd("sy"))
      .withColumn("var_xn", nD * dd("sxx") - dd("sx") * dd("sx"))
      .withColumn("var_yn", nD * dd("syy") - dd("sy") * dd("sy"))
      .select(
        col("event_type"), col("n"),
        (col("cov_n") / col("var_xn") / lit(100.0)).as("slope"),
        ((dd("sy") - col("cov_n") / col("var_xn") * dd("sx")) / nD
          / lit(100.0)).as("intercept"),
        (col("cov_n") * col("cov_n")
          / (col("var_xn") * col("var_yn"))).as("r2"))
      .orderBy(col("event_type"))
  }

  val oracleQ106: String =
    """WITH m AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
      |        AS BIGINT) AS DECIMAL(38,0))) AS sx,
      |    SUM(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
      |        AS DECIMAL(38,0))) AS sy,
      |    SUM(CAST(CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
      |          AS BIGINT)
      |        * CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
      |          AS BIGINT) AS DECIMAL(38,0))) AS sxx,
      |    SUM(CAST(CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
      |          AS BIGINT)
      |        * CAST(floor(value * 100 + 0.5) AS BIGINT)
      |        AS DECIMAL(38,0))) AS sxy,
      |    SUM(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
      |        * CAST(floor(value * 100 + 0.5) AS BIGINT)
      |        AS DECIMAL(38,0))) AS syy
      |  FROM events GROUP BY event_type
      |), d AS (
      |  SELECT event_type, n,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov_n,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS var_xn,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS var_yn,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM m
      |)
      |SELECT event_type, n,
      |  cov_n / var_xn / 100.0 AS slope,
      |  (syd - cov_n / var_xn * sxd) / CAST(n AS DOUBLE) / 100.0 AS intercept,
      |  cov_n * cov_n / (var_xn * var_yn) AS r2
      |FROM d ORDER BY event_type""".stripMargin

  /** Control arm for q114's treatment-vs-control comparisons. */
  val ControlGroup = "view"

  /** q114 — Welch's unequal-variance t-test of every event type's value
    * distribution against the [[ControlGroup]] arm: the A/B experiment
    * readout (t statistic + Welch–Satterthwaite df), computed from the
    * same exact integer moment sums as q106 so the result is bit-exact
    * cross-engine — the nontrivial part of distributed hypothesis testing
    * is not the formula, it is making Σy and Σy² reproducible, which the
    * cents quantization + DECIMAL(38,0) carry solves.
    *
    * Scale shape: one map-side-combinable moments aggregation (5 rows
    * out), then a broadcast join of the control row onto the treatment
    * rows — nothing else touches the fact table. */
  def q114WelchTTest(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val moments = Materialize.pin(Tables.events(s, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("ys"))
      .groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("ys").cast(d38)).as("sy"),
        sum((col("ys") * col("ys")).cast(d38)).as("syy"))
      .select(col("event_type"), col("n"),
        (col("sy").cast("double") / col("n").cast("double") / lit(100.0))
          .as("mean"),
        ((col("syy").cast("double")
          - col("sy").cast("double") * col("sy").cast("double")
            / col("n").cast("double"))
          / (col("n").cast("double") - lit(1.0)) / lit(10000.0)).as("v")))
      // bounded (one row per arm) — checkpoint so the control lookup does
      // not re-scan the fact table for a second moments pass
    val control = moments.filter(col("event_type") === ControlGroup)
      .select(col("n").as("n0"), col("mean").as("mean0"), col("v").as("v0"))
    val se2 = col("v") / col("n").cast("double")
    val se20 = col("v0") / col("n0").cast("double")
    moments.filter(col("event_type") =!= ControlGroup)
      .crossJoin(broadcast(control))
      .select(col("event_type"), col("n"), col("mean"), col("v"),
        ((col("mean") - col("mean0")) / sqrt(se2 + se20)).as("t_stat"),
        ((se2 + se20) * (se2 + se20)
          / (se2 * se2 / (col("n").cast("double") - lit(1.0))
            + se20 * se20 / (col("n0").cast("double") - lit(1.0)))).as("df"))
      .orderBy(col("event_type"))
  }

  val oracleQ114: String =
    s"""WITH m AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
       |        AS DECIMAL(38,0))) AS sy,
       |    SUM(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
       |        * CAST(floor(value * 100 + 0.5) AS BIGINT)
       |        AS DECIMAL(38,0))) AS syy
       |  FROM events GROUP BY event_type
       |), mm AS (
       |  SELECT event_type, n,
       |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
       |    (CAST(syy AS DOUBLE)
       |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       |      / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS v
       |  FROM m
       |), c AS (
       |  SELECT n AS n0, mean AS mean0, v AS v0 FROM mm
       |  WHERE event_type = '$ControlGroup'
       |)
       |SELECT event_type, n, mean, v,
       |  (mean - mean0)
       |    / sqrt(v / CAST(n AS DOUBLE) + v0 / CAST(n0 AS DOUBLE)) AS t_stat,
       |  (v / CAST(n AS DOUBLE) + v0 / CAST(n0 AS DOUBLE))
       |    * (v / CAST(n AS DOUBLE) + v0 / CAST(n0 AS DOUBLE))
       |    / ((v / CAST(n AS DOUBLE)) * (v / CAST(n AS DOUBLE))
       |        / (CAST(n AS DOUBLE) - 1.0)
       |      + (v0 / CAST(n0 AS DOUBLE)) * (v0 / CAST(n0 AS DOUBLE))
       |        / (CAST(n0 AS DOUBLE) - 1.0)) AS df
       |FROM mm, c WHERE event_type <> '$ControlGroup'
       |ORDER BY event_type""".stripMargin

  /** Type-7 median over a `sort_array(collect_list(...))`-shaped group
    * row (columns `arr`, `n`) — the q21 interpolation, shared by q122's
    * median and MAD stages. */
  private def arrMedian: Column = {
    val pos = (col("n") - 1) * lit(0.5)
    val lower = floor(pos).cast("int")
    val g = pos - floor(pos)
    when(pos === lower.cast("double"), element_at(col("arr"), lower + 1))
      .otherwise((lit(1.0) - g) * element_at(col("arr"), lower + 1) +
        g * element_at(col("arr"), lower + 2))
  }

  /** Iglewicz–Hoaglin scaling constant for the modified z-score. */
  val RobustZScale = 0.6745

  /** q122 — robust (median/MAD) z-scores per sector: the outlier-resistant
    * sibling of q04's mean/σ z-score — a handful of extreme balances can
    * drag a mean-based z past any threshold, while the median/MAD version
    * moves only with the bulk. Exact type-7 medians (q21's interpolation)
    * for both the center and the deviation scale; `robust_z` is null when
    * MAD is 0 (a degenerate constant group), never ±inf.
    *
    * Scale note: per-group `sort_array(collect_list(...))` bounds group
    * state at the largest sector's cross-section (the q21 sanction —
    * fine for per-sector cross-sections); past that, swap both median
    * stages for the Winsorize rank-selection path (3 jobs for ALL groups,
    * no whole-group arrays). The med/mad relations are nation-sized and
    * broadcast onto the customer scan. */
  def q122RobustZ(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("double").as("x"))
      .filter(col("x").isNotNull)
    val med = cust.groupBy(col("c_nationkey"))
      .agg(sort_array(collect_list(col("x"))).as("arr"),
        count(lit(1)).as("n"))
      .select(col("c_nationkey"), arrMedian.as("med"))
    val mad = cust.join(med, Seq("c_nationkey"))
      .select(col("c_nationkey"), abs(col("x") - col("med")).as("d"))
      .groupBy(col("c_nationkey"))
      .agg(sort_array(collect_list(col("d"))).as("arr"),
        count(lit(1)).as("n"))
      .select(col("c_nationkey"), arrMedian.as("mad"))
    cust.join(med, Seq("c_nationkey")).join(mad, Seq("c_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("x").as("acctbal"),
        col("med"), col("mad"),
        when(col("mad") > 0,
          lit(RobustZScale) * (col("x") - col("med")) / col("mad"))
          .as("robust_z"))
      .orderBy(col("c_custkey"))
  }

  val oracleQ122: String =
    s"""WITH cust AS (
       |  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DOUBLE) AS x
       |  FROM customer WHERE c_acctbal IS NOT NULL
       |), g AS (
       |  SELECT c_nationkey, list_sort(list(x)) AS arr, COUNT(*) AS n
       |  FROM cust GROUP BY c_nationkey
       |), med AS (
       |  SELECT c_nationkey, ${sqlQuantile("0.5")} AS med FROM g
       |), g2 AS (
       |  SELECT c.c_nationkey, list_sort(list(abs(c.x - m.med))) AS arr,
       |    COUNT(*) AS n
       |  FROM cust c JOIN med m ON c.c_nationkey = m.c_nationkey
       |  GROUP BY c.c_nationkey
       |), mad AS (
       |  SELECT c_nationkey, ${sqlQuantile("0.5")} AS mad FROM g2
       |)
       |SELECT c.c_custkey, c.c_nationkey, c.x AS acctbal, m.med, d.mad,
       |  CASE WHEN d.mad > 0
       |    THEN $RobustZScale * (c.x - m.med) / d.mad END AS robust_z
       |FROM cust c
       |JOIN med m ON m.c_nationkey = c.c_nationkey
       |JOIN mad d ON d.c_nationkey = c.c_nationkey
       |ORDER BY c_custkey""".stripMargin

  /** Rolling-active window for q121 (inclusive, in days). */
  val WauWindowDays = 7

  /** q121 — growth metrics: rolling [[WauWindowDays]]-day active users
    * (WAU) plus the cumulative-uniques growth curve, per activity day.
    *
    * Scale shape: the rolling distinct does NOT range-join the activity
    * table against the day spine (quadratic in window width × activity);
    * each (user, day) activity row explodes map-side onto the ≤7 target
    * days it supports, then one countDistinct per day — the standard
    * window-densification trick. Cumulative uniques ride the first-seen
    * trick (min day per user → new-user counts → running sum); the one
    * unpartitioned window runs over the DAY SPINE, which is metadata-
    * scale (rule 6's calendar sanction), never the event stream. */
  def q121GrowthMetrics(s: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val days = activity.select(col("day")).distinct()
    val wau = activity
      .select(col("user_id"),
        explode(sequence(col("day"),
          date_add(col("day"), WauWindowDays - 1))).as("d"))
      .join(days.withColumnRenamed("day", "d"), Seq("d"))
      .groupBy(col("d")).agg(countDistinct(col("user_id")).as("wau"))
      .withColumnRenamed("d", "day")
    val firsts = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("nu"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(firsts, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("nu"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .join(wau, Seq("day"))
      .select(col("day"), col("wau"), col("new_users"), col("cum_users"))
      .orderBy(col("day"))
  }

  val oracleQ121: String =
    s"""WITH act AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
       |), days AS (
       |  SELECT DISTINCT day FROM act
       |), wau AS (
       |  SELECT d.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS wau
       |  FROM days d JOIN act a
       |    ON a.day <= d.day AND a.day > d.day - ${WauWindowDays}
       |  GROUP BY d.day
       |), firsts AS (
       |  SELECT fd AS day, CAST(COUNT(*) AS BIGINT) AS nu
       |  FROM (SELECT user_id, MIN(day) AS fd FROM act GROUP BY user_id)
       |  GROUP BY fd
       |)
       |SELECT d.day, w.wau, COALESCE(f.nu, 0) AS new_users,
       |  CAST(SUM(COALESCE(f.nu, 0)) OVER (ORDER BY d.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_users
       |FROM days d
       |JOIN wau w ON w.day = d.day
       |LEFT JOIN firsts f ON f.day = d.day
       |ORDER BY d.day""".stripMargin

  /** q117 — time-series resampling with LINEAR interpolation: each user's
    * daily closes are expanded onto a dense calendar spine between their
    * first and last observation, and gap days get the straight-line value
    * between the bracketing observations — the resampling sibling of the
    * repo's forward-fill (q20's spine carries the last value; this carries
    * the line). The division makes gap values doubles; both engines derive
    * them from exact integer cents/day-counts through one shared tree.
    *
    * Scale shape: daily close is the q19 rank-1 window; the spine explode
    * is a cheap int-sequence generate (rule 7 exempt); prev/next carries
    * are two frames over ONE user_id clustering (shared exchange); nothing
    * driver-side, nothing quadratic. */
  def q117LinearInterp(s: SparkSession, dir: String): DataFrame = {
    val wDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = Tables.events(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
    val bounds = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val spine = bounds.select(col("user_id"),
      explode(sequence(col("mn"), col("mx"), expr("interval 1 day")))
        .as("day"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wPrev))
      .withColumn("pd", last(when(col("cents").isNotNull, col("day")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wNext))
      .withColumn("nd", first(when(col("cents").isNotNull, col("day")),
        ignoreNulls = true).over(wNext))
      .select(col("user_id"), col("day"),
        col("cents").isNotNull.as("observed"),
        ((when(col("cents").isNotNull, col("cents").cast("double"))
          .otherwise(col("pv").cast("double")
            + (col("nv") - col("pv")).cast("double")
              * (datediff(col("day"), col("pd")).cast("double")
                / datediff(col("nd"), col("pd")).cast("double"))))
          / lit(100.0)).as("px"))
      .orderBy(col("user_id"), col("day"))
  }

  val oracleQ117: String =
    """WITH ranked AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |      ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |), daily AS (
      |  SELECT user_id, day, cents FROM ranked WHERE rn = 1
      |), bounds AS (
      |  SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
      |  FROM daily GROUP BY user_id
      |), spine AS (
      |  SELECT user_id,
      |    CAST(unnest(generate_series(mn, mx, INTERVAL '1 day')) AS DATE)
      |      AS day
      |  FROM bounds
      |), j AS (
      |  SELECT s.user_id, s.day, d.cents
      |  FROM spine s LEFT JOIN daily d
      |    ON s.user_id = d.user_id AND s.day = d.day
      |), f AS (
      |  SELECT user_id, day, cents,
      |    last_value(cents IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER wp AS pd,
      |    first_value(cents IGNORE NULLS) OVER wn AS nv,
      |    first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER wn AS nd
      |  FROM j
      |  WINDOW wp AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wn AS (PARTITION BY user_id ORDER BY day
      |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT user_id, day, cents IS NOT NULL AS observed,
      |  CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
      |    ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE)
      |      * (CAST(date_diff('day', pd, day) AS DOUBLE)
      |        / CAST(date_diff('day', pd, nd) AS DOUBLE))
      |  END / 100.0 AS px
      |FROM f ORDER BY user_id, day""".stripMargin
}
