package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.analytics.Baskets
import graft.functions.jsRound
import graft.operators.Materialize

/** q55 — the assembled basket-valuation daily program, end-to-end
  * (refresh-basket-metrics.ts:116-258 run as ONE dataflow): current
  * constituents → PIT FY financials (basket-valuation.ts pitFy, :239-252)
  * → PIT forward EPS with the target-FY rule (:254-267) → split events →
  * constituent-day rows (buildConstituentDay, :475-506: mcap = raw close ×
  * PIT shares ÷ cum split factor; per-share metrics × unadjusted shares;
  * forward EPS converted from ITS disclosure date) → weighted harmonic
  * aggregates (aggregateBasketDay, :529-556) → 2-day index chain
  * (chainIndexSeries on [prev, target], :568-616) → one metrics row per
  * basket with the reference's output roundings (:216-231).
  *
  * Synthetic mapping: suppliers are constituents, nations are baskets,
  * monthly last-day bars come from lineitem, FY disclosures are per
  * (supplier, ship-year) aggregates disclosed the following March 15,
  * forward forecasts the following May 20. Every derived metric is kept on
  * a coarse decimal grid (floors / dyadic split factors 2.0 and 1.25) so
  * the decimal(30,6) harmonic casts in [[Baskets.aggregateBasketDays]]
  * round identically in Spark and the DuckDB oracle.
  *
  * Scale shape: bars/yearly are map-side-combined aggregations on
  * (supplier, period); PIT selection is the running-argmax + as-of-carry
  * window from [[Baskets.pitFy]] (one shuffle on code); the dim-sized
  * constituents/splits tables broadcast; nothing collects to the driver.
  */
object BasketProgram {
  private val D2 = "decimal(12,2)"

  private val PrevDay = java.sql.Date.valueOf("1998-09-30")
  private val TargetDay = java.sql.Date.valueOf("1998-10-31")

  def q55BasketValuation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)

    // current constituents: factor (weight_factor) and the equal-split
    // official weight sector33_auto baskets use (100/N per basket,
    // effectiveCoverageWeight in refresh-basket-metrics.ts:148-151)
    val cons = sup.select(col("s_nationkey").as("basket"),
        col("s_suppkey").as("code"))
      .withColumn("factor",
        lit(1.0) + (col("code") % 5).cast("double") / 10)
      .withColumn("official_weight",
        lit(100.0) / count(lit(1)).over(Window.partitionBy(col("basket"))))

    // ONE lineitem scan: monthly partials carry everything both grains
    // need; bars project them, the yearly disclosures re-aggregate the
    // (exact decimal) monthly sums — associative, so values are identical
    // to a direct per-year aggregation, but the raw-row shuffle happens
    // once and the second stage shuffles ~12× fewer rows
    val monthly = Materialize.pin(li.groupBy(col("l_suppkey").as("code"),
        last_day(to_date(col("l_shipdate"))).as("day"))
      .agg(
        max(col("l_extendedprice").cast(D2)).as("__maxp"),
        sum(col("l_extendedprice").cast(D2)).as("__sump"),
        sum(col("l_quantity").cast(D2)).as("__sumq"),
        sum(col("l_discount").cast(D2)).as("__sumd"),
        sum(col("l_tax").cast(D2)).as("__sumt"),
        count(lit(1)).as("__n")))
      // both grains consume this (bars, fy, fwd — so the monthly plan
      // would be embedded 4+ times downstream); localCheckpoint
      // materializes once AND truncates the subtree out of every
      // downstream analysis/broadcast-planning pass (the q58/q61 lineage
      // lesson applied to a deep program plan)

    // monthly last-day bars; close floored to a 2-dp grid so downstream
    // double products stay far from decimal rounding boundaries
    val bars = monthly.select(col("code"), col("day"),
      (floor(col("__maxp").cast("double") / 10) / 100).as("close"))

    // FY actual + forward-forecast disclosures per (supplier, ship-year)
    val yearly = monthly.groupBy(col("code"), year(col("day")).as("y"))
      .agg(
        (sum(col("__sump")).cast("double") / 1000).as("sales"),
        (floor(sum(col("__sumq")).cast("double")) / 100).as("eps"),
        sum(col("__sumd")).cast("double").as("bps"),
        (sum(col("__sumt")).cast("double") / 10).as("dividend_annual"),
        (sum(col("__n")) * 10).cast("double").as("shares"))
    val fy = yearly.select(col("code"),
      make_date(col("y") + 1, lit(3), lit(15)).as("disclosed_date"),
      lit("09:00").as("disclosed_time"),
      make_date(col("y"), lit(12), lit(31)).as("fiscal_year_end"),
      col("sales"), col("eps"), col("bps"), col("dividend_annual"),
      col("shares"))
    val fwd = yearly.select(col("code"),
      make_date(col("y") + 1, lit(5), lit(20)).as("disclosed_date"),
      lit("10:00").as("disclosed_time"),
      make_date(col("y") + 1, lit(12), lit(31)).as("target_fy_end"),
      (col("eps") * 1.1).as("forecast_eps"))

    // split events: dyadic factors so shares ÷ cum stays exact; codes
    // ≡ 0 (mod 7) get both events (exercises the multi-factor product)
    val splits = sup.filter(col("s_suppkey") % 7 === 0)
      .select(col("s_suppkey").as("code"),
        lit(java.sql.Date.valueOf("1998-06-30")).as("event_date"),
        lit(2.0).as("factor"))
      .unionByName(sup.filter(col("s_suppkey") % 7 === 0 ||
          col("s_suppkey") % 7 === 3)
        .select(col("s_suppkey").as("code"),
          lit(java.sql.Date.valueOf("1998-10-15")).as("event_date"),
          lit(1.25).as("factor")))

    // valuation days: prev (chain origin) and target, per constituent
    val days = sup.select(col("s_suppkey").as("code"),
      explode(array(lit(PrevDay), lit(TargetDay))).as("day"))

    val pit = Baskets.pitFy(fy, days)
    val pfw = Baskets.pitForward(fwd, pit)

    // constituent-day input: close required (missing → excluded, :479),
    // PIT shares required (:481-482)
    val cd0 = pit.filter(col("shares").isNotNull && col("shares") > 0)
      .join(pfw, Seq("code", "day"), "left")
      .join(bars, Seq("code", "day"))
      .join(broadcast(cons), Seq("code"))
    val cd1 = Baskets.cumSplitFactor(cd0, splits, "fy_disclosed", "day", "cum_fy")
    val cd2 = Baskets.cumSplitFactor(cd1, splits, "forward_disclosed", "day", "cum_fwd")

    val sharesAdj = col("shares") / col("cum_fy")
    val items = Materialize.pin(cd2.select(
      col("basket"), col("day"), col("code"), col("factor"),
      col("official_weight"),
      (col("close") * sharesAdj).as("mcap"),
      (col("eps") * col("shares")).as("earnings"),
      when(col("forecast_eps").isNotNull,
        col("forecast_eps") * col("cum_fwd") * sharesAdj).as("forward_earnings"),
      (col("bps") * col("shares")).as("book"),
      col("sales"),
      (col("dividend_annual") * col("shares")).as("dividend_total"),
      col("close")))
      // the harmonic aggregation and the chain both consume items; one
      // shared materialization instead of re-running PIT + joins per leg,
      // truncated for the same reason as `monthly`

    val agg = Baskets.aggregateBasketDays(items)

    // 2-day chain (chainIndexSeries with dates=[prev, target], weights at
    // prev): r = Σ w·(adj_t/adj_prev) / Σ w over codes priced both days,
    // prev > 0; w = f·mcap(prev) — the totalFm normalization cancels.
    // Sums are floor-scaled to integer-valued doubles (exact, order-
    // insensitive at any partitioning; magnitudes < 2^53 at tested SFs).
    val prevItems = items.filter(col("day") === lit(PrevDay))
      .select(col("basket"), col("code"),
        (col("factor") * col("mcap")).as("fm"), col("close").as("prev_close"))
    val curBars = bars.filter(col("day") === lit(TargetDay))
      .select(col("code"), col("close").as("cur_close"))
    val rets = prevItems.join(curBars, Seq("code"))
      .filter(col("prev_close") > 0)
      .groupBy(col("basket"))
      .agg(
        sum(floor(col("fm") * (col("cur_close") / col("prev_close")) * 1e6 + 0.5))
          .as("__num"),
        sum(floor(col("fm") * 1e6 + 0.5)).as("__den"))
      .select(col("basket"),
        when(col("__den") > 0, col("__num") / col("__den")).as("r"))

    // one metrics row per basket at the target date, reference roundings
    // (refresh-basket-metrics.ts:216-231); prev index level anchored 1000
    val indexRaw = lit(1000.0) * col("r")
    agg.filter(col("day") === lit(TargetDay))
      .join(rets, Seq("basket"), "left")
      .select(
        col("basket"),
        col("day").as("as_of"),
        jsRound(indexRaw, 4).as("index_level"),
        jsRound(col("weighted_per"), 2).as("weighted_per"),
        jsRound(col("weighted_per_forward"), 2).as("weighted_per_forward"),
        jsRound(col("weighted_pbr"), 2).as("weighted_pbr"),
        jsRound(col("weighted_psr"), 2).as("weighted_psr"),
        jsRound(col("weighted_div_yield"), 3).as("weighted_div_yield"),
        jsRound(when(col("r").isNotNull && col("weighted_per") > 0,
          indexRaw / col("weighted_per")), 4).as("weighted_eps_level"),
        jsRound(col("coverage_pct"), 1).as("coverage_pct"))
      .orderBy(col("basket"))
  }

  /** q59 — water-filling weight caps (waterFillCap +
    * resolveConstituentWeights): mcap-share weights capped per constituent
    * with proportional redistribution to the fixed point, via the
    * closed-form prefix selection in [[Baskets.waterfillWeights]].
    * Integer raws and dyadic cap tiers make every selection comparison
    * exact, so the capped set is bit-reproducible in the oracle. The cap
    * tiers exercise all three paths across SFs: binding caps, the no-cap
    * prefix (k=0), and the all-capped renormalization fallback. */
  def q59WaterfillWeights(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
    val anchors = sup.select(col("s_nationkey").as("basket"),
      col("s_suppkey").as("code"),
      (floor(abs(col("s_acctbal"))) + lit(1.0)).as("raw"),
      when(col("s_suppkey") % 7 === 0, lit(0.03125))
        .when(col("s_suppkey") % 7 === 1 || col("s_suppkey") % 7 === 2,
          lit(0.25))
        .otherwise(lit(0.5)).as("cap"))
    Baskets.waterfillWeights(anchors).orderBy(col("basket"), col("code"))
  }

  val oracleQ59: String = {
    val wexpr =
      """CASE WHEN s.ks IS NULL THEN
        |      CASE WHEN abs(r.capsum - 1.0) > 1e-9 THEN r.cap / r.capsum ELSE r.cap END
        |    WHEN r.k <= s.ks THEN r.cap
        |    ELSE (1.0 - s.capk) * r.raw / (r.t - s.rawk) END""".stripMargin
    s"""WITH anchors AS (
       |  SELECT s_nationkey AS basket, s_suppkey AS code,
       |    floor(abs(s_acctbal)) + 1.0 AS raw,
       |    CASE WHEN s_suppkey % 7 = 0 THEN 0.03125
       |         WHEN s_suppkey % 7 = 1 OR s_suppkey % 7 = 2 THEN 0.25
       |         ELSE 0.5 END AS cap
       |  FROM supplier
       |), ranked AS (
       |  SELECT basket, code, raw, cap,
       |    SUM(raw) OVER (PARTITION BY basket) AS t,
       |    SUM(cap) OVER (PARTITION BY basket) AS capsum,
       |    COUNT(*) OVER (PARTITION BY basket) AS n,
       |    ROW_NUMBER() OVER wf AS k,
       |    SUM(cap) OVER (wf ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcap,
       |    SUM(raw) OVER (wf ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumraw,
       |    LEAD(raw, 1) OVER wf AS nraw,
       |    LEAD(cap, 1) OVER wf AS ncap
       |  FROM anchors
       |  WINDOW wf AS (PARTITION BY basket ORDER BY cap / raw, code)
       |), cand AS (
       |  SELECT basket, 0 AS ks, 0.0 AS capk, 0.0 AS rawk FROM ranked
       |  WHERE k = 1 AND raw <= cap * t
       |  UNION ALL
       |  SELECT basket, k, cumcap, cumraw FROM ranked
       |  WHERE k < n AND (1.0 - cumcap) > 0
       |    AND cap * (t - cumraw) <= (1.0 - cumcap) * raw
       |    AND (1.0 - cumcap) * nraw <= ncap * (t - cumraw)
       |), kstar AS (
       |  SELECT basket, ks, capk, rawk FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY basket ORDER BY ks) AS rn
       |    FROM cand
       |  ) WHERE rn = 1
       |)
       |SELECT r.basket, r.code,
       |  $wexpr AS weight,
       |  $wexpr * r.t / r.raw AS weight_factor,
       |  $wexpr * 100.0 AS official_weight
       |FROM ranked r LEFT JOIN kstar s ON s.basket = r.basket
       |ORDER BY r.basket, r.code""".stripMargin
  }

  /** DuckDB oracle replaying the same dataflow (same IEEE op order, same
    * decimal casts as [[Baskets.aggregateBasketDays]]). */
  val oracleQ55: String =
    """WITH cons AS (
      |  SELECT s_nationkey AS basket, s_suppkey AS code,
      |    1.0 + CAST(s_suppkey % 5 AS DOUBLE)/10 AS factor,
      |    100.0 / COUNT(*) OVER (PARTITION BY s_nationkey) AS official_weight
      |  FROM supplier
      |), bars AS (
      |  SELECT l_suppkey AS code, last_day(l_shipdate) AS day,
      |    floor(CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)/10)/100 AS close
      |  FROM lineitem GROUP BY 1, 2
      |), yearly AS (
      |  SELECT l_suppkey AS code, CAST(year(l_shipdate) AS INT) AS y,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)/1000 AS sales,
      |    floor(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE))/100 AS eps,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS bps,
      |    CAST(SUM(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE)/10 AS dividend_annual,
      |    CAST(COUNT(*) * 10 AS DOUBLE) AS shares
      |  FROM lineitem GROUP BY 1, 2
      |), fy AS (
      |  SELECT code, make_date(y+1, 3, 15) AS disclosed_date,
      |    make_date(y, 12, 31) AS fiscal_year_end,
      |    sales, eps, bps, dividend_annual, shares
      |  FROM yearly
      |), fwd AS (
      |  SELECT code, make_date(y+1, 5, 20) AS disclosed_date,
      |    make_date(y+1, 12, 31) AS target_fy_end, eps * 1.1 AS forecast_eps
      |  FROM yearly
      |), splits AS (
      |  SELECT s_suppkey AS code, DATE '1998-06-30' AS event_date, 2.0 AS factor
      |  FROM supplier WHERE s_suppkey % 7 = 0
      |  UNION ALL
      |  SELECT s_suppkey, DATE '1998-10-15', 1.25
      |  FROM supplier WHERE s_suppkey % 7 = 0 OR s_suppkey % 7 = 3
      |), days AS (
      |  SELECT s_suppkey AS code, d.day FROM supplier,
      |    (SELECT DATE '1998-09-30' AS day UNION ALL SELECT DATE '1998-10-31') d
      |), pit AS (
      |  SELECT code, day, fy_end, fy_disclosed, sales, eps, bps,
      |    dividend_annual, shares
      |  FROM (
      |    SELECT d.code, d.day, f.fiscal_year_end AS fy_end,
      |      f.disclosed_date AS fy_disclosed, f.sales, f.eps, f.bps,
      |      f.dividend_annual, f.shares,
      |      ROW_NUMBER() OVER (PARTITION BY d.code, d.day
      |        ORDER BY f.fiscal_year_end DESC, f.disclosed_date DESC) AS rn
      |    FROM days d JOIN fy f
      |      ON f.code = d.code AND f.disclosed_date <= d.day
      |  ) WHERE rn = 1
      |), pfw AS (
      |  SELECT code, day, forecast_eps, forward_disclosed FROM (
      |    SELECT p.code, p.day, w.forecast_eps,
      |      w.disclosed_date AS forward_disclosed,
      |      ROW_NUMBER() OVER (PARTITION BY p.code, p.day
      |        ORDER BY w.disclosed_date DESC NULLS LAST) AS rn
      |    FROM pit p LEFT JOIN fwd w
      |      ON w.code = p.code AND w.disclosed_date <= p.day
      |      AND (p.fy_end IS NULL OR w.target_fy_end > p.fy_end)
      |  ) WHERE rn = 1
      |), cd AS (
      |  SELECT c.basket, c.factor, c.official_weight, p.code, p.day,
      |    p.fy_disclosed, p.sales, p.eps, p.bps, p.dividend_annual,
      |    p.shares, pf.forecast_eps, pf.forward_disclosed, b.close
      |  FROM pit p
      |  JOIN bars b ON b.code = p.code AND b.day = p.day
      |  JOIN cons c ON c.code = p.code
      |  LEFT JOIN pfw pf ON pf.code = p.code AND pf.day = p.day
      |  WHERE p.shares IS NOT NULL AND p.shares > 0
      |), cumfy AS (
      |  SELECT cd.code, cd.day, COALESCE(PRODUCT(sp.factor), 1.0) AS cum_fy
      |  FROM cd LEFT JOIN splits sp ON sp.code = cd.code
      |    AND sp.event_date > cd.fy_disclosed AND sp.event_date <= cd.day
      |  GROUP BY cd.code, cd.day
      |), cumfw AS (
      |  SELECT cd.code, cd.day, COALESCE(PRODUCT(sp.factor), 1.0) AS cum_fwd
      |  FROM cd LEFT JOIN splits sp ON sp.code = cd.code
      |    AND sp.event_date > cd.forward_disclosed AND sp.event_date <= cd.day
      |  GROUP BY cd.code, cd.day
      |), items AS (
      |  SELECT cd.basket, cd.day, cd.code, cd.factor, cd.official_weight,
      |    cd.close * (cd.shares / cf.cum_fy) AS mcap,
      |    cd.eps * cd.shares AS earnings,
      |    CASE WHEN cd.forecast_eps IS NOT NULL
      |      THEN cd.forecast_eps * cw.cum_fwd * (cd.shares / cf.cum_fy)
      |    END AS forward_earnings,
      |    cd.bps * cd.shares AS book,
      |    cd.sales AS sales,
      |    cd.dividend_annual * cd.shares AS dividend_total,
      |    cd.close
      |  FROM cd
      |  JOIN cumfy cf ON cf.code = cd.code AND cf.day = cd.day
      |  JOIN cumfw cw ON cw.code = cd.code AND cw.day = cd.day
      |), agg AS (
      |  SELECT basket, day,
      |    CAST(SUM(CASE WHEN earnings IS NOT NULL
      |      THEN CAST(factor * mcap AS DECIMAL(30,6)) END) AS DOUBLE) AS n_per,
      |    CAST(SUM(CASE WHEN earnings IS NOT NULL
      |      THEN CAST(factor * earnings AS DECIMAL(30,6)) END) AS DOUBLE) AS d_per,
      |    CAST(SUM(CASE WHEN forward_earnings IS NOT NULL
      |      THEN CAST(factor * mcap AS DECIMAL(30,6)) END) AS DOUBLE) AS n_perf,
      |    CAST(SUM(CASE WHEN forward_earnings IS NOT NULL
      |      THEN CAST(factor * forward_earnings AS DECIMAL(30,6)) END) AS DOUBLE) AS d_perf,
      |    CAST(SUM(CASE WHEN book IS NOT NULL
      |      THEN CAST(factor * mcap AS DECIMAL(30,6)) END) AS DOUBLE) AS n_pbr,
      |    CAST(SUM(CASE WHEN book IS NOT NULL
      |      THEN CAST(factor * book AS DECIMAL(30,6)) END) AS DOUBLE) AS d_pbr,
      |    CAST(SUM(CASE WHEN sales IS NOT NULL
      |      THEN CAST(factor * mcap AS DECIMAL(30,6)) END) AS DOUBLE) AS n_psr,
      |    CAST(SUM(CASE WHEN sales IS NOT NULL
      |      THEN CAST(factor * sales AS DECIMAL(30,6)) END) AS DOUBLE) AS d_psr,
      |    CAST(SUM(CASE WHEN dividend_total IS NOT NULL
      |      THEN CAST(factor * mcap AS DECIMAL(30,6)) END) AS DOUBLE) AS n_div,
      |    CAST(SUM(CASE WHEN dividend_total IS NOT NULL
      |      THEN CAST(factor * dividend_total AS DECIMAL(30,6)) END) AS DOUBLE) AS d_div,
      |    CAST(SUM(CAST(official_weight AS DECIMAL(18,6))) AS DOUBLE) AS coverage_pct
      |  FROM items GROUP BY 1, 2
      |), rets AS (
      |  SELECT i.basket,
      |    CASE WHEN SUM(floor(i.factor * i.mcap * 1e6 + 0.5)) > 0
      |      THEN SUM(floor(i.factor * i.mcap * (b.close / i.close) * 1e6 + 0.5))
      |           / SUM(floor(i.factor * i.mcap * 1e6 + 0.5))
      |    END AS r
      |  FROM items i JOIN bars b ON b.code = i.code AND b.day = DATE '1998-10-31'
      |  WHERE i.day = DATE '1998-09-30' AND i.close > 0
      |  GROUP BY i.basket
      |)
      |SELECT a.basket, a.day AS as_of,
      |  floor(1000.0 * r.r * 1e4 + 0.5)/1e4 AS index_level,
      |  floor(CASE WHEN n_per > 0 AND d_per > 0 THEN n_per / d_per END * 1e2 + 0.5)/1e2 AS weighted_per,
      |  floor(CASE WHEN n_perf > 0 AND d_perf > 0 THEN n_perf / d_perf END * 1e2 + 0.5)/1e2 AS weighted_per_forward,
      |  floor(CASE WHEN n_pbr > 0 AND d_pbr > 0 THEN n_pbr / d_pbr END * 1e2 + 0.5)/1e2 AS weighted_pbr,
      |  floor(CASE WHEN n_psr > 0 AND d_psr > 0 THEN n_psr / d_psr END * 1e2 + 0.5)/1e2 AS weighted_psr,
      |  floor(CASE WHEN n_div > 0 THEN d_div / n_div * 100 END * 1e3 + 0.5)/1e3 AS weighted_div_yield,
      |  floor(CASE WHEN r.r IS NOT NULL AND (CASE WHEN n_per > 0 AND d_per > 0 THEN n_per / d_per END) > 0
      |    THEN (1000.0 * r.r) / (CASE WHEN n_per > 0 AND d_per > 0 THEN n_per / d_per END)
      |  END * 1e4 + 0.5)/1e4 AS weighted_eps_level,
      |  floor(coverage_pct * 1e1 + 0.5)/1e1 AS coverage_pct
      |FROM agg a LEFT JOIN rets r ON r.basket = a.basket
      |WHERE a.day = DATE '1998-10-31'
      |ORDER BY a.basket""".stripMargin
}
