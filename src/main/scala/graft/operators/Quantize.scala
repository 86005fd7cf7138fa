package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) for embedding columns — the memory-side scale
  * lever the ANN family (`Similarity`) has not covered yet: store each
  * float dimension as one uint8 code against per-dimension corpus [min,max]
  * ranges, cutting vector bytes 4× (and 8× vs the double-widened form) so
  * a 100 TB embedding corpus's candidate-generation pass shuffles and
  * caches codes, not floats. This is the faiss `SQ8` / Milvus `SQ8`
  * analog, re-expressed as pure Spark projections:
  *
  *  - [[dimRanges]] — one tiny aggregation (posexplode → per-dimension
  *    min/max, `dims` output rows). The ranges are bounded metadata
  *    (PLANS.md rule 6) and come back to the driver as literals, so the
  *    encode/decode projections below are map-side with NO join against a
  *    stats relation.
  *  - [[sq8Code]] — `code_d = clamp(floor((x_d-mn_d)/(mx_d-mn_d)*255+0.5))`
  *    per dimension; constant-range dimensions collapse to code 0.
  *  - [[sq8Recon]] — `mn_d + code_d/255*(mx_d-mn_d)`, the dequantized
  *    vector for symmetric distance computation.
  *
  * Every step is deterministic IEEE double arithmetic with a fixed
  * operation order, so a DuckDB oracle replays the codes bit-identically
  * (the gate ranks by reconstructed cosine and compares top-k SETS, which
  * additionally makes the comparison robust by construction).
  *
  * Reference anchor: the reference keeps its 13-dim factor vectors as
  * float4[] and scans them exactly (`factor-vectors.ts:319-333`,
  * `00121_create_factor_vectors.sql`); SQ8 is the standard first
  * compression step when that exact scan outgrows memory.
  */
object Quantize {

  /** Embedding dimensionality of the driver testdata (all SFs). */
  val Dims = 64

  /** Per-dimension [min, max] over the corpus as driver-side arrays.
    * One shuffle of `dims` groups; the collect is bounded metadata
    * (`dims` rows), same sanction as q74's centroid collect. */
  def dimRanges(emb: DataFrame, vecCol: String, dims: Int): (Array[Double], Array[Double]) = {
    val rows = emb
      .select(posexplode(Similarity.asDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val mn = Array.ofDim[Double](dims)
    val mx = Array.ofDim[Double](dims)
    rows.foreach { r =>
      val p = r.getInt(0)
      mn(p) = r.getDouble(1)
      mx(p) = r.getDouble(2)
    }
    (mn, mx)
  }

  private def litArray(xs: Array[Double]): Column = array(xs.map(lit).toSeq: _*)

  /** Uint8 code array for a double-array column, against literal ranges.
    * Fixed-order scalar math (`(x-mn)/(mx-mn)*255.0 + 0.5` then floor then
    * clamp) — replayed verbatim by the oracle SQL. */
  def sq8Code(vec: Column, mn: Array[Double], mx: Array[Double]): Column = {
    val mnA = litArray(mn)
    val mxA = litArray(mx)
    transform(sequence(lit(1), lit(mn.length)), i => {
      val x = element_at(vec, i)
      val lo = element_at(mnA, i)
      val hi = element_at(mxA, i)
      when(hi === lo, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor((x - lo) / (hi - lo) * lit(255.0) + lit(0.5)))))
    })
  }

  /** Dequantized vector from a code array: `mn_d + code_d/255*(mx_d-mn_d)`. */
  def sq8Recon(codes: Column, mn: Array[Double], mx: Array[Double]): Column = {
    val mnA = litArray(mn)
    val mxA = litArray(mx)
    transform(sequence(lit(1), lit(mn.length)), i => {
      val c = element_at(codes, i)
      val lo = element_at(mnA, i)
      val hi = element_at(mxA, i)
      lo + c.cast("double") / lit(255.0) * (hi - lo)
    })
  }

  /** (vec_id, m, sv) subvector expansion for product quantization: one
    * map-side posexplode of the [[nSub]] slices. `sv` stays in the input's
    * double form; callers needing the exact-integer training carrier add it
    * with [[intScaled]]. */
  def pqSubvectors(vecs: DataFrame, idCol: String, vecCol: String,
                   nSub: Int, subDim: Int): DataFrame =
    vecs.select(col(idCol), posexplode(array((0 until nSub).map(m =>
      slice(col(vecCol), m * subDim + 1, subDim)): _*)).as(Seq("m", "sv")))

  /** Product-quantization codebook trainer: per-subspace k-means, all
    * [[nSub]] subspaces in ONE grouped Lloyd program (centroid key =
    * (m, k), assignment partitioned by (vec_id, m)) — same exact-integer
    * discipline as [[Similarity.kmeansAssign]] (q74): train on
    * `floor(x·1e6+0.5)` carriers so component sums are exact, seed from
    * the first [[k]] vec_ids, empty cells keep their previous centroid,
    * localCheckpoint between iterations (iterative-lineage rule).
    *
    * Returns (m, k, cw) with centroids UNSCALED back to the input range
    * (one division per component) — ready for code assignment and ADC
    * tables in original-vector units. Bounded output (nSub × k rows),
    * escapes as an eager localCheckpoint. */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
              nSub: Int, subDim: Int, k: Int, iters: Int): DataFrame = {
    val subs0 = pqSubvectors(
        emb.select(col(idCol), Similarity.asDouble(col(vecCol)).as("__v")),
        idCol, "__v", nSub, subDim)
      .select(col(idCol), col("m"),
        expr("transform(sv, x -> CAST(floor(x * 1e6 + 0.5) AS DOUBLE))").as("svi"))
    Materialize.withMaterialized(subs0) { subs =>
      // two-term score: dot(t,t) is constant per (vec, m) row, so ranking
      // (and the k tie-break) matches the full d² — mirrors oracle SQL
      val score = graft.functions.dotProduct(col("cw"), col("cw")) -
        lit(2.0) * graft.functions.dotProduct(col("svi"), col("cw"))
      var cents = Materialize.pin(subs.filter(col(idCol) < k)
        .select(col("m"), col(idCol).cast("int").as("k"), col("svi").as("cw")))
      for (_ <- 1 to iters) {
        val assigned = subs.join(broadcast(cents), Seq("m"))
          .select(col(idCol), col("m"), col("k"), col("svi"), score.as("__s"))
          .groupBy(col(idCol), col("m"))
          .agg(min_by(struct(col("k"), col("svi")), struct(col("__s"), col("k"))).as("a"))
          .select(col("m"), col("a.k").as("k"), col("a.svi").as("svi"))
        val upd = assigned
          .select(col("m"), col("k"), posexplode(col("svi")).as(Seq("pos", "x")))
          .groupBy(col("m"), col("k"), col("pos"))
          .agg((sum(col("x")) / count(lit(1))).as("cm"))
          .groupBy(col("m"), col("k"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), " +
            "s -> s.cm)").as("cwNew"))
        cents = Materialize.pin(cents.join(upd, Seq("m", "k"), "left")
          .select(col("m"), col("k"), coalesce(col("cwNew"), col("cw")).as("cw")))
      }
      Materialize.pin(cents.select(col("m"), col("k"),
          transform(col("cw"), x => x / lit(1e6)).as("cw")))
    }
  }
}
