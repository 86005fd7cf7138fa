package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{cosineSim, jsRound}
import graft.operators.{Materialize, Winsorize}

/** q56 — the full 13-dimension factor-vector build + similarity search as
  * ONE program (refresh-factor-vectors.ts + factor-vectors.ts): screen rows
  * → exclusion rules (00101_stock_factor_vectors.sql:9-10 / shouldExclude-
  * Stock: no market cap, or per AND pbr both null) → derived raw dimensions
  * in the frozen DIMENSIONS order with weights (factor-vectors.ts:33-47;
  * earnings yield = 1/per if per > 0, log pbr / log mcap if > 0, rest
  * pass-through, :139-182) → per-dimension transform pipeline (:254-309:
  * winsorize at type-7 p01/p99 over the non-null set → population z-score
  * (std = 0 ⇒ 0) → clamp ±3 → null→0 → × weight) → vector(13) assembly →
  * cosine top-k against a query stock (analytics.similar_stocks pgvector
  * search, 00101; cosineSimilarity :319-333).
  *
  * Engine-defined numeric contract (same family as q25): winsorize bounds
  * come from [[Winsorize.interpBoundsMulti]] — ONE stacked distributed sort
  * for all 13 dimensions; z parameters are computed from FLOOR-QUANTIZED
  * winsorized values (per-dimension scale, 4 or 2 decimal digits) so the
  * sums are exact integer-valued decimals — order-insensitive at any
  * partitioning, bit-reproducible in the DuckDB oracle. The log-derived
  * dimensions are quantized to 6 dp ([[jsRound]]) first because JVM
  * `Math.log` and DuckDB's libm may differ in the last ulp; every other
  * op in the pipeline is correctly-rounded IEEE and needs no rounding.
  *
  * Scale shape: one shuffle for the screen aggregation, one stacked sort
  * for all bounds, ONE aggregation + broadcast for all 13 z-stat triples,
  * a broadcast 1-row query vector, and a top-k sort — no per-dimension
  * passes, no driver-side column collect.
  */
object FactorVectorProgram {
  private val D2 = "decimal(12,2)"

  /** (dimension, weight, z-stat quantization scale) in the frozen
    * DIMENSIONS order (factor-vectors.ts:34-47). */
  private val Dims: Seq[(String, Double, Double)] = Seq(
    ("earnings_yield", 1.0, 1e4),
    ("log_pbr", 1.0, 1e4),
    ("dividend_yield", 1.0, 1e4),
    ("roe", 1.0, 1e2),
    ("log_mcap", 1.0, 1e4),
    ("value_pct", 1.0, 1e2),
    ("quality_pct", 1.0, 1e2),
    ("momentum_pct", 1.0, 1e2),
    ("dev_25", 0.5, 1e2),
    ("dev_200", 0.75, 1e2),
    ("rsi_14", 0.5, 1e2),
    ("atr_pct", 1.0, 1e4),
    ("vol_ratio_20", 0.5, 1e4))

  def q56FactorVectorSearch(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)

    // synthetic stock_screen: one row per customer; per/pbr come from the
    // order stream (both null together when no orders → exclusion rule 2),
    // market_cap null on non-positive balances (exclusion rule 1), and
    // deterministic key-modulo null patterns on the technical columns
    val ords = o.groupBy(col("o_custkey")).agg(
      max(col("o_totalprice").cast(D2)).cast("double").as("max_price"),
      count(lit(1)).cast("double").as("n_orders"))
    val screen = c.join(ords, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey").as("code"),
        when(col("c_acctbal") > 0, col("c_acctbal") * 1000).as("market_cap"),
        ((col("max_price") - 100000) / 1000).as("per"),
        (col("n_orders") / 10).as("pbr"),
        when(col("c_custkey") % 7 =!= 0,
          (col("c_custkey") % 7).cast("double") * 0.5).as("dividend_yield"),
        (col("c_acctbal") / 100).as("roe"),
        (col("c_custkey") % 101).cast("double").as("value_pct"),
        ((col("c_custkey") + 37) % 101).cast("double").as("quality_pct"),
        ((col("c_custkey") * 7 + 11) % 101).cast("double").as("momentum_pct"),
        ((col("c_custkey") % 41) - 20).cast("double").as("dev_25"),
        ((col("c_custkey") % 81) - 40).cast("double").as("dev_200"),
        when(col("c_custkey") % 11 =!= 0,
          ((col("c_custkey") * 13) % 101).cast("double")).as("rsi_14"),
        ((col("c_custkey") % 50).cast("double") / 10).as("atr_pct"),
        when(col("c_custkey") % 13 =!= 0,
          (col("c_custkey") % 30).cast("double") / 10).as("vol_ratio_20"))

    // exclusion (shouldExcludeStock) then raw dimension derivation
    val included = screen.filter(col("market_cap").isNotNull &&
      (col("per").isNotNull || col("pbr").isNotNull))
    val derived = included.select(col("code"),
      when(col("per").isNotNull && col("per") > 0, lit(1.0) / col("per"))
        .as("earnings_yield"),
      when(col("pbr").isNotNull && col("pbr") > 0, jsRound(log(col("pbr")), 6))
        .as("log_pbr"),
      col("dividend_yield"), col("roe"),
      when(col("market_cap") > 0, jsRound(log(col("market_cap")), 6))
        .as("log_mcap"),
      col("value_pct"), col("quality_pct"), col("momentum_pct"),
      col("dev_25"), col("dev_200"), col("rsi_14"), col("atr_pct"),
      col("vol_ratio_20"))

    // ~6 downstream actions (stacked-sort bounds ×3 jobs, z-stat
    // broadcast, final top-k) share this base — scoped-materialized; the
    // 10-row result leaves as an eager localCheckpoint
    Materialize.withMaterialized(derived) { derived =>

    val bounds = Winsorize.interpBoundsMulti(derived,
      Dims.map { case (d, _, _) => d -> col(d) })

    // quantized winsorized value per dimension (integer-valued double)
    def qcol(d: String, scale: Double): Column = {
      val (lo, hi) = bounds(d)
      floor(least(greatest(col(d), lit(lo)), lit(hi)) * scale)
    }
    // ALL dimensions' z parameters from ONE aggregation pass + broadcast
    val statCols = Dims.flatMap { case (d, _, scale) =>
      val q = qcol(d, scale)
      Seq(count(q).as(s"__n_$d"),
        sum(q.cast("decimal(18,0)")).cast("double").as(s"__sx_$d"),
        sum((q.cast("decimal(18,0)") * q.cast("decimal(18,0)"))
          .cast("decimal(30,0)")).cast("double").as(s"__sxx_$d"))
    }
    val stats = derived.agg(statCols.head, statCols.tail: _*)

    def fcol(d: String, weight: Double, scale: Double): Column = {
      val q = qcol(d, scale)
      val mu = col(s"__sx_$d") / col(s"__n_$d")
      val variance = col(s"__sxx_$d") / col(s"__n_$d") - mu * mu
      val z = when(variance > 0, (q - mu) / sqrt(variance))
        .otherwise(when(q.isNotNull, lit(0.0)))
      coalesce(least(greatest(z, lit(-3.0)), lit(3.0)), lit(0.0)) * lit(weight)
    }
    val coverage = Dims.map { case (d, _, _) =>
      when(col(d).isNotNull, 1).otherwise(0) }.reduce(_ + _)
    val vecs = derived.crossJoin(broadcast(stats))
      .select(col("code"), coverage.as("coverage"),
        array(Dims.map { case (d, w, sc) => fcol(d, w, sc) }: _*).as("vec"))

    // similarity search: top-10 vs the lowest-coded vector (similar_stocks)
    val qv = vecs.orderBy(col("code")).limit(1)
      .select(col("code").as("__qcode"), col("vec").as("__qvec"))
    Materialize.pin(vecs.crossJoin(broadcast(qv))
      .filter(col("code") =!= col("__qcode"))
      .select(col("code"), col("coverage"),
        cosineSim(col("vec"), col("__qvec")).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc_nulls_last, col("code"))
      .limit(10))

    } // withMaterialized(derived)
  }

  /** DuckDB oracle: the same pipeline with the same IEEE op shapes —
    * type-7 bounds interpolated from the sorted non-null list, z from the
    * identical floor-quantized decimal sums, same clamp/fill/weight, same
    * fold-order dot products. */
  val oracleQ56: String = {
    def bound(p: String, name: String): String =
      s"""CASE WHEN len(arr) = 1 THEN arr[1]
         |     WHEN floor($p * CAST(len(arr)-1 AS DOUBLE)) = ceil($p * CAST(len(arr)-1 AS DOUBLE))
         |     THEN arr[CAST(floor($p * CAST(len(arr)-1 AS DOUBLE)) AS INT) + 1]
         |     ELSE arr[CAST(floor($p * CAST(len(arr)-1 AS DOUBLE)) AS INT) + 1]
         |        + (arr[CAST(ceil($p * CAST(len(arr)-1 AS DOUBLE)) AS INT) + 1]
         |           - arr[CAST(floor($p * CAST(len(arr)-1 AS DOUBLE)) AS INT) + 1])
         |          * ($p * CAST(len(arr)-1 AS DOUBLE) - floor($p * CAST(len(arr)-1 AS DOUBLE)))
         |END AS $name""".stripMargin
    val dimCtes = Dims.map { case (d, _, scale) =>
      val q = s"floor(least(greatest(t.$d, b.lo), b.hi) * $scale)"
      s"""b_$d AS (
         |  SELECT ${bound("0.01", "lo")}, ${bound("0.99", "hi")}
         |  FROM (SELECT list_sort(list($d) FILTER (WHERE $d IS NOT NULL)) AS arr FROM derived)
         |), s_$d AS (
         |  SELECT COUNT($q) AS n,
         |    CAST(SUM(CAST($q AS DECIMAL(18,0))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(CAST($q AS DECIMAL(18,0)) * CAST($q AS DECIMAL(18,0))
         |         AS DECIMAL(30,0))) AS DOUBLE) AS sxx
         |  FROM derived t, b_$d b
         |)""".stripMargin
    }.mkString(",\n")
    val fExprs = Dims.map { case (d, w, scale) =>
      val q = s"floor(least(greatest(t.$d, b_$d.lo), b_$d.hi) * $scale)"
      s"""COALESCE(least(greatest(
         |    CASE WHEN s_$d.sxx/s_$d.n - (s_$d.sx/s_$d.n)*(s_$d.sx/s_$d.n) > 0
         |         THEN ($q - s_$d.sx/s_$d.n)
         |              / sqrt(s_$d.sxx/s_$d.n - (s_$d.sx/s_$d.n)*(s_$d.sx/s_$d.n))
         |         WHEN $q IS NOT NULL THEN 0.0 END,
         |    -3.0), 3.0), 0.0) * $w""".stripMargin
    }
    val covExpr = Dims.map { case (d, _, _) =>
      s"CASE WHEN t.$d IS NOT NULL THEN 1 ELSE 0 END" }.mkString(" + ")
    val fromClause = "derived t, " +
      Dims.map { case (d, _, _) => s"b_$d, s_$d" }.mkString(", ")
    s"""WITH ords AS (
       |  SELECT o_custkey,
       |    CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
       |    CAST(COUNT(*) AS DOUBLE) AS n_orders
       |  FROM orders GROUP BY o_custkey
       |), screen AS (
       |  SELECT c_custkey AS code,
       |    CASE WHEN c_acctbal > 0 THEN c_acctbal * 1000 END AS market_cap,
       |    (max_price - 100000) / 1000 AS per,
       |    n_orders / 10 AS pbr,
       |    CASE WHEN c_custkey % 7 <> 0
       |         THEN CAST(c_custkey % 7 AS DOUBLE) * 0.5 END AS dividend_yield,
       |    c_acctbal / 100 AS roe,
       |    CAST(c_custkey % 101 AS DOUBLE) AS value_pct,
       |    CAST((c_custkey + 37) % 101 AS DOUBLE) AS quality_pct,
       |    CAST((c_custkey * 7 + 11) % 101 AS DOUBLE) AS momentum_pct,
       |    CAST((c_custkey % 41) - 20 AS DOUBLE) AS dev_25,
       |    CAST((c_custkey % 81) - 40 AS DOUBLE) AS dev_200,
       |    CASE WHEN c_custkey % 11 <> 0
       |         THEN CAST((c_custkey * 13) % 101 AS DOUBLE) END AS rsi_14,
       |    CAST(c_custkey % 50 AS DOUBLE) / 10 AS atr_pct,
       |    CASE WHEN c_custkey % 13 <> 0
       |         THEN CAST(c_custkey % 30 AS DOUBLE) / 10 END AS vol_ratio_20
       |  FROM customer LEFT JOIN ords ON o_custkey = c_custkey
       |), derived AS (
       |  SELECT code,
       |    CASE WHEN per IS NOT NULL AND per > 0 THEN 1.0 / per END AS earnings_yield,
       |    CASE WHEN pbr IS NOT NULL AND pbr > 0
       |         THEN floor(ln(pbr) * 1e6 + 0.5) / 1e6 END AS log_pbr,
       |    dividend_yield, roe,
       |    CASE WHEN market_cap > 0
       |         THEN floor(ln(market_cap) * 1e6 + 0.5) / 1e6 END AS log_mcap,
       |    value_pct, quality_pct, momentum_pct, dev_25, dev_200, rsi_14,
       |    atr_pct, vol_ratio_20
       |  FROM screen
       |  WHERE market_cap IS NOT NULL AND (per IS NOT NULL OR pbr IS NOT NULL)
       |),
       |$dimCtes,
       |vecs AS (
       |  SELECT t.code, $covExpr AS coverage,
       |    [${fExprs.mkString(",\n     ")}] AS vec
       |  FROM $fromClause
       |), q AS (
       |  SELECT code AS qcode, vec AS qvec FROM vecs ORDER BY code LIMIT 1
       |)
       |SELECT v.code, v.coverage,
       |  CASE WHEN sqrt(list_dot_product(v.vec, v.vec)) > 0
       |        AND sqrt(list_dot_product(q.qvec, q.qvec)) > 0
       |       THEN list_dot_product(v.vec, q.qvec)
       |            / (sqrt(list_dot_product(v.vec, v.vec))
       |               * sqrt(list_dot_product(q.qvec, q.qvec)))
       |  END AS cosine_sim
       |FROM vecs v, q
       |WHERE v.code <> q.qcode
       |ORDER BY cosine_sim DESC NULLS LAST, v.code LIMIT 10""".stripMargin
  }
}
