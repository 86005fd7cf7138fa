package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed PCA top component by POWER ITERATION — the spectral
  * operator of the embedding-analysis family (the direction your
  * embedding cloud stretches most; the first thing computed before
  * whitening, JL sanity checks, or drift analysis of a vector corpus).
  *
  * Algorithm: center X, then iterate v ← normalize(Xᵀ(Xv)). Each
  * iteration is two distributed passes over the rows — a per-row dot
  * product s = x·v (v broadcast as a literal), then the component-wise
  * accumulation w_i = Σ_rows x_i·s (posexplode + groupBy(i), map-side
  * combined: 64 keys, so the shuffle is 64 rows per partition
  * regardless of corpus size). Normalization touches only the
  * 64-element w vector and runs on the driver — metadata-sized
  * `.collect()`, same policy as q74's centroids.
  *
  * Cross-engine determinism (the interesting part — a naive double
  * implementation would never hash-match DuckDB):
  *  - embeddings quantize ONCE to a 10⁻³ integer grid (xq), the mean
  *    is an integer floor-division on that grid, and every matvec is
  *    pure BIGINT arithmetic — order-free, so Spark's partial
  *    aggregation and DuckDB's single-threaded SUM agree exactly;
  *  - w is floor-scaled by 2²⁴ before normalization so Σw'² stays
  *    under 2⁵³ — exactly representable in a double on BOTH engines,
  *    making `sqrt` inputs (and hence the norm) bit-identical;
  *  - the next v quantizes back to the 10⁻³ grid with the repo's
  *    floor(x·1000 + 0.5) convention.
  * All bounds documented in-line. Scale bound, stated honestly: the
  * per-row terms are bounded by the grid (|x·s| ≤ dim·1000·dim·10⁶ ≈
  * 7.7·10¹⁰ worst case at dim=64), so the BIGINT accumulator w is exact
  * up to ~10⁸ rows — beyond that the distributed sum must pre-scale the
  * per-row product (divide s by a power of two before the multiply) or
  * widen to DECIMAL(38,0); the 100-TB deployment note is that bound, not
  * a claim the unmodified carrier survives arbitrary row counts.
  *
  * Reference scope: the reference's screener computes factor loadings
  * server-side (`00116_per_bands`-era SQL); a spectral summary of the
  * embedding table is the vector-corpus analogue.
  */
object Pca {

  /** Per-iteration state returned for the gate: the scaled accumulator
    * and the quantized unit direction. */
  final case class PcaRow(i: Int, loading: Double, w_scaled: Long)

  /** @param emb   (vec_id, embedding: array&lt;float&gt;) — dim entries
    * @param dim   embedding dimensionality
    * @param iters power-iteration count (3 suffices for a gate: the
    *              direction is pinned, not the convergence tail) */
  def topComponent(s: SparkSession, emb: DataFrame, dim: Int,
                   iters: Int): DataFrame = {
    import s.implicits._
    // 10^-3-grid integer carrier; float->double cast is exact
    val xq = Materialize.pin(emb.select(col("vec_id"),
      expr("transform(embedding, e -> " +
        "CAST(floor(CAST(e AS DOUBLE) * 1000 + 0.5) AS BIGINT))").as("xq")))
    val n = xq.count()
    require(n > 0, "empty embedding table")
    // integer mean on the grid: floor(sum / n) via exact doubles (sums
    // <= n*1000 stay far under 2^53)
    val colSums = xq.select(posexplode(col("xq")).as(Seq("i", "v")))
      .groupBy(col("i")).agg(sum(col("v")).as("sv"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val mu = Array.tabulate(dim)(i =>
      math.floor(colSums(i).toDouble / n).toLong)
    val xc = Materialize.pin(xq.select(col("vec_id"),
      zip_with(col("xq"), typedlit(mu.toSeq), (a, b) => a - b).as("xc")))
      // iterations re-read this; plans stay flat
    var vq = Array.fill(dim)(1000L) // v0 = all-ones on the grid
    var wScaled = Array.fill(dim)(0L)
    for (_ <- 1 to iters) {
      val vquant = typedlit(vq.toSeq)
      // s = x·v: BIGINT fold, |term| <= ~1100*1000, 64 terms -> exact
      val w = xc
        .select(aggregate(zip_with(col("xc"), vquant, (a, b) => a * b),
          lit(0L), (acc, e) => acc + e).as("s"), col("xc"))
        .select(col("s"), posexplode(col("xc")).as(Seq("i", "xi")))
        .groupBy(col("i")).agg(sum(col("xi") * col("s")).as("w"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // floor-scale by 2^24: |w| <= rows*1100*7e7 ~ 1e14 -> |w'| <= 1e7,
      // sum of squares <= 64e14 < 2^53: exact in double on both engines
      wScaled = Array.tabulate(dim)(i =>
        math.floor(w(i).toDouble / 16777216.0).toLong)
      val sumSq = wScaled.map(x => x * x).sum // BIGINT-exact, < 2^53
      val norm = math.sqrt(sumSq.toDouble)
      require(norm > 0, "power iteration collapsed to the zero vector")
      vq = Array.tabulate(dim)(i =>
        math.floor(wScaled(i).toDouble / norm * 1000 + 0.5).toLong)
    }
    val out = (0 until dim).map(i => PcaRow(i, vq(i) / 1000.0, wScaled(i)))
    s.createDataset(out).toDF().orderBy(col("i"))
  }
}
