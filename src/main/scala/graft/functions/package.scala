package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column helpers shared across the engine.
  *
  * These are plain `Column` expression builders (whole-stage-codegen'd by
  * Catalyst) — no UDFs in the hot path. Reference sites cited per function.
  */
package object functions {

  /** JS `Math.round` parity: `floor(x * 10^d + 0.5) / 10^d`.
    *
    * The reference deliberately computes in IEEE-754 double and replicates
    * JS rounding in SQL the same way
    * (`supabase/migrations/00116_create_bottomup_per_bands_rpc.sql:32-35,221-225`,
    * `src/lib/analytics/technical.ts:64-68`). NOT Spark's `round` (HALF_UP on
    * the decimal rendering) — the double-path semantics must match exactly.
    */
  def jsRound(x: Column, digits: Int): Column = {
    val p = math.pow(10.0, digits)
    floor(x * lit(p) + lit(0.5)) / lit(p)
  }

  /** Null-aware row-wise mean over an arbitrary column list — the
    * `(select avg(v) from (values ...) t(v))` idiom of
    * `00108_refresh_stock_metrics_perf.sql:161-169`: average the non-null
    * entries, null when all entries are null.
    */
  def rowMean(cols: Column*): Column = {
    val arr = array(cols: _*)
    val nonNull = filter(arr, _.isNotNull)
    when(size(nonNull) > 0,
      aggregate(nonNull, lit(0.0), (acc, x) => acc + x) / size(nonNull))
  }

  /** Dot product of two double-array columns (`factor-vectors.ts:319-333`)
    * — a native codegen'd loop ([[VectorExprs.DotProductExpr]]); formerly
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, which Catalyst
    * INTERPRETS (PLANS.md rule 9). Bit-identical ascending left fold. */
  def dotProduct(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  /** Euclidean norm of a double-array column — sqrt over the native
    * codegen'd Σx² fold ([[VectorExprs.SumSquaresExpr]]). */
  def l2Norm(a: Column): Column = sqrt(VectorExprs.sumSquares(a))

  /** Cosine similarity between two double-array columns; null when either
    * norm is zero (reference returns null for degenerate vectors,
    * `factor-vectors.ts:319-333`). */
  def cosineSim(a: Column, b: Column): Column = {
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(na > 0 && nb > 0, dotProduct(a, b) / (na * nb))
  }

  /** Clamp into [lo, hi] (`factor-vectors.ts:233-235`). */
  def clamp(x: Column, lo: Double, hi: Double): Column =
    least(greatest(x, lit(lo)), lit(hi))

  /** Exact decimal sum of a double column: cast each value to
    * DECIMAL(18,scale) before summing so the result is order-insensitive
    * (double summation across shuffle partitions is not), then cast back to
    * double for a stable, oracle-matchable output. Values up to ~2^53 stay
    * exact through the final cast. */
  def exactSum(x: Column, scale: Int = 4): Column =
    sum(x.cast(s"decimal(18,$scale)")).cast("double")
}
