package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{cosineSim, dotProduct}

/** Similarity search over an embedding column (`Array[Float]`) — the
  * reference's pgvector cosine top-k (`00101_stock_factor_vectors.sql:86-95`)
  * generalized to the training-pipeline ANN operators.
  *
  * - [[bruteForceTopK]]: exact scan — the reference's own choice at its
  *   scale ("3.7k rows, exact scan, no index", 00101:32-35). In Spark the
  *   query vector is broadcast and the scan is embarrassingly parallel.
  * - [[hyperplaneBuckets]] / [[annTopK]]: random-hyperplane LSH — the scale
  *   path: vectors sharing a sign-pattern bucket are candidates; probe the
  *   query's bucket only. Hyperplanes are deterministic (seeded from index
  *   via integer math) so results are reproducible across engines/runs.
  */
object Similarity {

  /** Cast a float-array column to double for stable cross-engine math. */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Exact cosine top-k of `emb` table vs one query vector (broadcast). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    emb.select(col(idCol),
        cosineSim(asDouble(col(vecCol)), q).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  /** Exact cosine pairs above a threshold within a blocking key (embedding
    * near-dup dedup). Blocks bound the quadratic join; at scale pass an
    * LSH bucket as the block. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  blockCol: String, minSim: Double): DataFrame = {
    val a = emb.select(col(blockCol), col(idCol).as("id1"),
      asDouble(col(vecCol)).as("v1"))
    val b = emb.select(col(blockCol), col(idCol).as("id2"),
      asDouble(col(vecCol)).as("v2"))
    a.join(b, Seq(blockCol))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine_sim", cosineSim(col("v1"), col("v2")))
      .filter(col("cosine_sim") > minSim)
      .select(col(blockCol), col("id1"), col("id2"), col("cosine_sim"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * integer LCG-style mix scaled into [-1, 1). Exactly reproducible in SQL:
    * `((1103515245 * (p*D + d) + 12345) % 2147483647) / 2147483647.0 * 2 - 1`.
    */
  private def planeComponent(p: Int, d: Int, dims: Int): Double = {
    val x = (1103515245L * (p.toLong * dims + d) + 12345L) % 2147483647L
    x.toDouble / 2147483647.0 * 2.0 - 1.0
  }

  /** Sign-pattern bucket id over `nPlanes` deterministic hyperplanes. */
  def bucketExpr(vec: Column, dims: Int, nPlanes: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val plane = array((0 until dims).map(d =>
        lit(planeComponent(p, d, dims))): _*)
      when(dotProduct(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Assign each vector its LSH bucket. */
  def hyperplaneBuckets(emb: DataFrame, vecCol: String,
                        dims: Int, nPlanes: Int): DataFrame =
    emb.withColumn("bucket", bucketExpr(asDouble(col(vecCol)), dims, nPlanes))

  // NOTE: an MLlib-KMeans IVF variant (ivfTrain/ivfTopK) lived here through
  // round 5, spec-gated only — MLlib's k-means|| init and FP reduction
  // order cannot be replayed in an external oracle. It is SUPERSEDED by
  // [[ivfKmeansGated]], which runs real Lloyd training over a
  // scaled-integer carrier so the identical training replays bit-for-bit
  // in DuckDB (gate row q74), and was deleted so no spec-only ANN variant
  // remains. If MLlib's optimized k-means ever matters operationally, its
  // model can feed [[ivfTopK]]-shaped search unchanged — the search
  // semantics are exactly the probe/assign steps of [[ivfKmeansGated]].

  /** IVF with a deterministic coarse quantizer: the `nCells` lowest-id
    * vectors seed the cells (k-means iteration zero). Same search semantics
    * as [[ivfKmeansGated]]'s final stage — assign each vector to its
    * nearest cell, probe the `nProbe` cells nearest the query, rank
    * exactly within the probed cells — and every step is replayable in
    * plain SQL, so this variant is oracle-gated (q57); the trained
    * quantizer ([[ivfKmeansGated]]) is gated as q74. Assignment ranks by
    * ‖c‖² − 2·v·c (≡ argmin ‖v−c‖²; the constant ‖v‖² drops out) using the
    * same ascending-index fold as the SQL `list_dot_product`, ties to the
    * lowest cell. Centroids/probes broadcast; the per-vector argmin is one
    * shuffle on the id — the standard IVF assign shape at any scale. */
  def ivfDeterministic(emb: DataFrame, idCol: String, vecCol: String,
                       queryId: Long, nCells: Int, nProbe: Int,
                       k: Int): DataFrame = {
    val vecs = emb.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val cents = vecs.filter(col(idCol) < nCells)
      .select(col(idCol).as("cell"), col("v").as("cv"))
    val qv = vecs.filter(col(idCol) === queryId).select(col("v").as("qv"))
    def score(v: Column): Column =
      dotProduct(col("cv"), col("cv")) - lit(2.0) * dotProduct(v, col("cv"))
    val wMin = Window.partitionBy(col(idCol))
      .orderBy(col("__score"), col("cell"))
    val assigned = vecs.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(cents))
      .withColumn("__score", score(col("v")))
      .withColumn("__rn", row_number().over(wMin))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("cell"), col("v"))
    val probes = cents.crossJoin(broadcast(qv))
      .withColumn("__score", score(col("qv")))
      .orderBy(col("__score"), col("cell")).limit(nProbe)
      .select(col("cell"))
    assigned.join(broadcast(probes), Seq("cell"))
      .crossJoin(broadcast(qv))
      .select(col(idCol), cosineSim(col("v"), col("qv")).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF with a GATEABLE k-means quantizer: `iters` full Lloyd
    * iterations from the deterministic lowest-id seeds, then the standard
    * IVF search (assign under the trained centroids, probe the nProbe
    * nearest cells, exact cosine within). Bridges [[ivfDeterministic]]
    * (0 iterations, oracle-gated) and an opaque MLlib k-means (whose init
    * and FP reduction order no oracle can replay — see the supersession
    * note above): real k-means training, yet every step replays in SQL.
    *
    * Determinism across engines, the part k-means usually denies you:
    * input components are quantized ONCE to integer-valued doubles
    * (floor(x·1e6 + 0.5)), so every centroid-update SUM is exact integer
    * arithmetic — order-independent under Spark's partial aggregation and
    * bit-identical to the oracle's sum regardless of row order. Distance
    * ranking uses the ‖c‖² − 2·v·c form with the same ascending-index
    * fold as SQL `list_dot_product` (the q57 contract); centroid means
    * (exact-sum ÷ exact-count) are single-rounded doubles, identical in
    * both engines. Per-iteration centroids are localCheckpoint'ed — the
    * iterative-lineage rule (see connectedComponents).
    *
    * Scale shape: centroids are a broadcast dim everywhere; assignment is
    * one map-side argmin per vector (no shuffle beyond the id window);
    * the update is a (cell, dim)-keyed partial/final aggregation over
    * dims·rows — the feature-mean shape. Final ranking is cosine over
    * the ORIGINAL (unquantized) doubles, as in q17/q57. */
  /** K-means cluster ASSIGNMENT over the whole corpus — [[ivfKmeansGated]]'s
    * training loop without a query exclusion, for clustering-as-an-operator
    * consumers (SemDeDup's cluster stage, q86). Same determinism contract
    * (scaled-integer update sums, lowest-id seeds, per-iteration
    * localCheckpoint); returns (idCol, cell, vd) with the ORIGINAL doubles
    * carried so downstream pair math needs no second corpus join. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   nCells: Int, iters: Int): DataFrame = {
    val vecs0 = emb.select(col(idCol), asDouble(col(vecCol)).as("vd"))
      .withColumn("v",
        expr("transform(vd, x -> CAST(floor(x * 1e6 + 0.5) AS DOUBLE))"))
    Materialize.withMaterialized(vecs0) { vecs =>
      val cents = lloyd(vecs, idCol, nCells, iters)
      Materialize.pin(kmAssignUnder(vecs, idCol, cents)
        .select(col(idCol), col("cell"), col("vd")))
    }
  }

  /** Exact-integer Lloyd training loop (the q74/q86 quantizer) over a
    * MATERIALIZED (idCol, vd, v) relation: seeds = the nCells lowest-id
    * vectors, `iters` full iterations, empty cells keep their previous
    * centroid. Factored out so the q164 elbow sweep can train several k
    * against one carrier. */
  private[graft] def lloyd(vecs: DataFrame, idCol: String, nCells: Int,
                           iters: Int): DataFrame = {
    var cents = Materialize.pin(vecs.filter(col(idCol) < nCells)
      .select(col(idCol).cast("int").as("cell"), col("v").as("cv")))
    for (_ <- 1 to iters) {
      val upd = kmAssignUnder(vecs, idCol, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("x")) / count(lit(1))).as("m"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
          "s -> s.m)").as("cvNew"))
      cents = Materialize.pin(cents.join(upd, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("cvNew"), col("cv")).as("cv")))
    }
    cents
  }

  /** Argmin-cell assignment of `vecs` under broadcast `cents` (ties →
    * lowest cell id); carries all of vecs' columns plus `cell`. */
  private[graft] def kmAssignUnder(vecs: DataFrame, idCol: String,
                                   cents: DataFrame): DataFrame = {
    val score =
      dotProduct(col("cv"), col("cv")) -
        lit(2.0) * dotProduct(col("v"), col("cv"))
    val wMin = Window.partitionBy(col(idCol))
      .orderBy(col("__score"), col("cell"))
    vecs.crossJoin(broadcast(cents))
      .withColumn("__score", score)
      .withColumn("__rn", row_number().over(wMin))
      .filter(col("__rn") === 1)
  }

  /** k-means ELBOW sweep: train [[lloyd]] for every k in `ks` against ONE
    * materialized carrier and report per-k inertia (Σ of each vector's
    * distance² to its assigned centroid, per-row quantized to
    * floor(d²+½) BIGINTs so the sum is exact) plus the number of cells
    * actually used — the model-selection curve read before fixing an IVF
    * or SemDeDup cell count. Centroids broadcast; each k costs
    * iters+1 map-side argmin passes; nothing pairwise. */
  def kmeansElbow(emb: DataFrame, idCol: String, vecCol: String,
                  ks: Seq[Int], iters: Int): DataFrame = {
    val vecs0 = emb.select(col(idCol), asDouble(col(vecCol)).as("vd"))
      .withColumn("v",
        expr("transform(vd, x -> CAST(floor(x * 1e6 + 0.5) AS DOUBLE))"))
    Materialize.withMaterialized(vecs0) { vecs =>
      // the per-k training chains are independent given the materialized
      // carrier, but each is a SEQUENCE of eager actions (lloyd's
      // per-iteration localCheckpoints) — run the k's from a driver
      // thread pool (guide §2.6) so one k's stage tail backfills with
      // the next k's tasks; each chain's computation is unchanged and
      // the ordered union keeps the output deterministic
      val perK = Materialize.concurrently(ks.map { k => () =>
        val cents = lloyd(vecs, idCol, k, iters)
        Materialize.pin(kmAssignUnder(vecs, idCol, cents)
          .withColumn("__d2", col("__score") + dotProduct(col("v"), col("v")))
          .agg(count(lit(1)).as("n_vecs"),
            countDistinct(col("cell")).as("n_cells_used"),
            sum(floor(col("__d2") + lit(0.5)).cast("long")).as("inertia6"))
          .withColumn("k", lit(k.toLong))
          .select(col("k"), col("n_vecs"), col("n_cells_used"),
            col("inertia6")))
          // 1-row: pin this k's result inside its thread
      })
      Materialize.sorted(perK.reduce(_ unionByName _), col("k"))
    }
  }

  def ivfKmeansGated(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, nCells: Int, iters: Int, nProbe: Int,
                     k: Int): DataFrame = {
    val vecs0 = emb.select(col(idCol), asDouble(col(vecCol)).as("vd"))
      .withColumn("v",
        expr("transform(vd, x -> CAST(floor(x * 1e6 + 0.5) AS DOUBLE))"))
    // consumed per iteration + search — scoped-materialized
    Materialize.withMaterialized(vecs0) { vecs =>
      val corpus = vecs.filter(col(idCol) =!= queryId)
      def score(v: Column): Column =
        dotProduct(col("cv"), col("cv")) - lit(2.0) * dotProduct(v, col("cv"))
      val wMin = Window.partitionBy(col(idCol))
        .orderBy(col("__score"), col("cell"))
      def assign(cents: DataFrame): DataFrame =
        corpus.crossJoin(broadcast(cents))
          .withColumn("__score", score(col("v")))
          .withColumn("__rn", row_number().over(wMin))
          .filter(col("__rn") === 1)
      var cents = Materialize.pin(vecs.filter(col(idCol) < nCells)
        .select(col(idCol).cast("int").as("cell"), col("v").as("cv")))
      for (_ <- 1 to iters) {
        val upd = assign(cents)
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos"))
          .agg((sum(col("x")) / count(lit(1))).as("m"))
          .groupBy(col("cell"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
            "s -> s.m)").as("cvNew"))
        cents = Materialize.pin(cents.join(upd, Seq("cell"), "left")
          .select(col("cell"), coalesce(col("cvNew"), col("cv")).as("cv")))
          // truncate the per-iteration lineage
      }
      val qRow = vecs.filter(col(idCol) === queryId)
        .select(col("v").as("qv"), col("vd").as("qvd"))
      val probes = cents.crossJoin(broadcast(qRow))
        .withColumn("__score", score(col("qv")))
        .orderBy(col("__score"), col("cell")).limit(nProbe)
        .select(col("cell"))
      Materialize.pin(assign(cents)
        .join(broadcast(probes), Seq("cell"))
        .crossJoin(broadcast(qRow))
        .select(col(idCol), cosineSim(col("vd"), col("qvd")).as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col(idCol))
        .limit(k))
    }
  }

  /** Per-plane query dots — the probe-selection inputs, computed with the
    * same ascending-d left fold as [[bucketExpr]]'s dotProduct so the SQL
    * oracle agrees bitwise. */
  private def queryDots(query: Seq[Double], dims: Int,
                        nPlanes: Int): IndexedSeq[Double] =
    (0 until nPlanes).map { p =>
      var acc = 0.0
      var d = 0
      while (d < dims) { acc += query(d) * planeComponent(p, d, dims); d += 1 }
      acc
    }

  /** Multi-probe ANN top-k: probe the query's own bucket plus the buckets
    * reached by flipping the `nProbe−1` planes whose margins |q·plane| are
    * smallest (the near-boundary planes — the classic multi-probe LSH
    * heuristic, Lv et al. VLDB'07). Single-probe recall falls off a cliff
    * as planes grow; multi-probe recovers most of it for a bounded
    * candidate-set increase. Probe selection is O(nPlanes) driver math
    * (like IVF's probe-cell choice); the scan stays a bucket-pruned
    * broadcast-free filter. */
  def annTopKMultiProbe(emb: DataFrame, idCol: String, vecCol: String,
                        query: Seq[Double], dims: Int, nPlanes: Int,
                        k: Int, nProbe: Int): DataFrame = {
    val dots = queryDots(query, dims, nPlanes)
    var base = 0L
    dots.zipWithIndex.foreach { case (dt, p) => if (dt >= 0) base += (1L << p) }
    val flips = dots.zipWithIndex
      .sortBy { case (dt, p) => (math.abs(dt), p) } // deterministic tie-break
      .take(nProbe - 1).map { case (_, p) => base ^ (1L << p) }
    val probes = base +: flips
    hyperplaneBuckets(emb, vecCol, dims, nPlanes)
      .filter(col("bucket").isin(probes.map(Long.box): _*))
      .select(col(idCol),
        cosineSim(asDouble(col(vecCol)), array(query.map(lit): _*))
          .as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  /** Exact cosine pairs within a blocking key, skew-safe: IDENTICAL output
    * to [[cosinePairs]], but each block's all-pairs work is decomposed
    * into a 2-D grid of chunk-pair cells so no single task ever owns a
    * whole hot block. Rows get a chunk c ∈ [0, nc) (nc = ⌈bsz/chunk⌉);
    * the left side replicates each row across grid row (c, *), the right
    * side across grid column (*, c); joining on (block, i, j) meets every
    * pair in EXACTLY one cell, so per-task work is bounded at ~chunk²
    * comparisons while the result stays exact — the standard blocked
    * decomposition of a similarity matrix. Total work remains O(Σ bsz²)
    * (inherent to exact all-pairs) but is spread over (bsz/chunk)² tasks
    * instead of concentrated in one straggler, which is what survives a
    * skewed 100× block. Replication factor is nc per side — the price of
    * the bound; small blocks (bsz ≤ chunk) have nc = 1 and degenerate to
    * the plain block join, paying nothing. Chunk ids come from Spark's
    * `hash` — they never affect output, only task placement.
    *
    * vs [[cosinePairsCapped]]: capped TRADES RECALL for boundedness
    * (cross-sub-bucket pairs are missed); this variant keeps exact
    * semantics and bounds only per-task concentration. Use this when the
    * contract is exact; capped when blocks are so hot that even
    * distributed O(bsz²) is unaffordable. */
  def cosinePairsBlocked(emb: DataFrame, idCol: String, vecCol: String,
                         blockCol: String, chunk: Int,
                         minSim: Double): DataFrame = {
    val wBlk = Window.partitionBy(col(blockCol))
    val keyed0 = emb
      .select(col(blockCol), col(idCol), asDouble(col(vecCol)).as("__v"))
      // per-row norm ONCE, map-side: higher-order array expressions are
      // interpreted (no codegen), so evaluating ‖v‖ per PAIR is 2/3 of
      // the per-pair cost for nothing — dot/(n1·n2) with per-row norms is
      // the bit-identical expression (same fold order, same zero guard)
      .withColumn("__n", graft.functions.l2Norm(col("__v")))
      .withColumn("__nc",
        ceil(count(lit(1)).over(wBlk) / lit(chunk.toDouble)).cast("int"))
      .withColumn("__c", pmod(hash(col(idCol)), col("__nc")))
    // scoped-materialized: both grid sides derive from it (scan + block
    // window would otherwise run twice); the threshold-filtered pair
    // result leaves as an eager localCheckpoint
    Materialize.withMaterialized(keyed0) { keyed =>
      val a = keyed.select(col(blockCol), col("__nc"), col("__c").as("__i"),
          col(idCol).as("id1"), col("__v").as("v1"), col("__n").as("__n1"))
        .withColumn("__j", explode(sequence(lit(0), col("__nc") - 1)))
        .drop("__nc")
      val b = keyed.select(col(blockCol), col("__nc"), col("__c").as("__j"),
          col(idCol).as("id2"), col("__v").as("v2"), col("__n").as("__n2"))
        .withColumn("__i", explode(sequence(lit(0), col("__nc") - 1)))
        .drop("__nc")
      val sim = when(col("__n1") > 0 && col("__n2") > 0,
        dotProduct(col("v1"), col("v2")) / (col("__n1") * col("__n2")))
      Materialize.pin(a.join(b, Seq(blockCol, "__i", "__j"))
        .filter(col("id1") < col("id2"))
        .withColumn("cosine_sim", sim)
        .filter(col("cosine_sim") > minSim)
        .select(col(blockCol), col("id1"), col("id2"), col("cosine_sim")))
    }
  }

  /** Exact cosine pairs with a per-block size cap: blocks no larger than
    * `maxBlock` are compared exactly; hot blocks (the skew risk of plain
    * label blocking) are split by hyperplane sub-bucket, bounding each
    * task's quadratic work at the cost of missing cross-sub-bucket pairs —
    * the standard recall-for-boundedness trade, and the 100 TB-safe shape
    * of [[cosinePairs]]. */
  def cosinePairsCapped(emb: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, dims: Int, nPlanes: Int,
                        maxBlock: Int, minSim: Double): DataFrame = {
    val wBlk = Window.partitionBy(col(blockCol))
    val keyed = emb
      .withColumn("__bsz", count(lit(1)).over(wBlk))
      .withColumn("__sub",
        when(col("__bsz") > maxBlock,
          bucketExpr(asDouble(col(vecCol)), dims, nPlanes))
          .otherwise(lit(-1L)))
    val a = keyed.select(col(blockCol), col("__sub"), col(idCol).as("id1"),
      asDouble(col(vecCol)).as("v1"))
    val b = keyed.select(col(blockCol), col("__sub"), col(idCol).as("id2"),
      asDouble(col(vecCol)).as("v2"))
    a.join(b, Seq(blockCol, "__sub"))
      .filter(col("id1") < col("id2"))
      .withColumn("cosine_sim", cosineSim(col("v1"), col("v2")))
      .filter(col("cosine_sim") > minSim)
      .select(col(blockCol), col("id1"), col("id2"), col("cosine_sim"))
  }

  /** Graph-ANN beam search — the navigating-small-world search loop
    * (Malkov & Yashunin, "Efficient and robust approximate nearest
    * neighbor search using HNSW", TPAMI 2020 — the single-layer NSW
    * walk), run BATCHED over a precomputed kNN graph: every query starts
    * from the shared entry points, and each round expands the `beamWidth`
    * best visited nodes through their graph out-edges, scores the unseen
    * neighbors against the query, and folds them into the visited set.
    * After `rounds` rounds the visited set's top-k is the answer — the
    * third ANN tier (after hashing: LSH q47, and partitioning: IVF
    * q57/q74), and the structure real vector stores reach for first at
    * scale because search cost is O(rounds · beam · degree) regardless of
    * corpus size.
    *
    * Inputs: `edges` (id1, id2) — the directed kNN graph (e.g. the q89
    * relation); `vecs` (vec_id, v, n) — corpus vectors with hoisted norms
    * (PLANS.md rule 9); `queries` (qid, qv, qn) and `entries` (vec_id) —
    * broadcast-sized. Returns the visited relation (qid, vec_id, sim).
    *
    * Scale shape: per-query state is bounded at |entries| + rounds ·
    * beamWidth · degree rows, so the visited/beam relations are
    * broadcast-sized BY CONSTRUCTION — each round is two broadcast joins
    * (frontier onto the edge relation, then candidates onto the corpus
    * for scoring); the big sides (edges, vecs) never shuffle. Rounds
    * localCheckpoint (the iterative-lineage rule). Zero-norm candidates
    * score null and are dropped — the q18/q86 null-sim contract.
    * Determinism: sims are the ascending-index fold (bit-identical to
    * the oracle's `list_dot_product`), ranking ties break on vec_id. */
  def beamSearch(edges: DataFrame, vecs: DataFrame, queries: DataFrame,
                 entries: DataFrame, beamWidth: Int, rounds: Int): DataFrame = {
    def score(cands: DataFrame): DataFrame =
      vecs.join(broadcast(cands), Seq("vec_id"))
        .join(broadcast(queries), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          when(col("n") > 0 && col("qn") > 0,
            dotProduct(col("v"), col("qv")) / (col("n") * col("qn")))
            .as("sim"))
        .filter(col("sim").isNotNull)
    var visited = Materialize.pin(score(
        queries.select(col("qid")).crossJoin(broadcast(entries))
          .filter(col("vec_id") =!= col("qid"))))
    val wBeam = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    for (_ <- 1 to rounds) {
      val beam = visited.withColumn("__rn", row_number().over(wBeam))
        .filter(col("__rn") <= beamWidth)
        .select(col("qid"), col("vec_id"))
      val expanded = edges.join(broadcast(beam),
          edges("id1") === beam("vec_id"))
        .select(col("qid"), col("id2").as("vec_id"))
        .filter(col("vec_id") =!= col("qid"))
        .distinct()
      val fresh = expanded.join(visited.select(col("qid"), col("vec_id")),
        Seq("qid", "vec_id"), "left_anti")
      visited = Materialize.pin(visited.unionByName(score(fresh)))
    }
    visited
  }

  /** ANN top-k: exact cosine ranking restricted to the query's bucket. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], dims: Int, nPlanes: Int, k: Int): DataFrame = {
    val qBucket = {
      // compute the query's bucket on the driver with the same math
      var acc = 0L
      for (p <- 0 until nPlanes) {
        val dot = (0 until dims).map(d =>
          query(d) * planeComponent(p, d, dims)).sum
        if (dot >= 0) acc += (1L << p)
      }
      acc
    }
    hyperplaneBuckets(emb, vecCol, dims, nPlanes)
      .filter(col("bucket") === qBucket)
      .select(col(idCol),
        cosineSim(asDouble(col(vecCol)), array(query.map(lit): _*))
          .as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }
}
