package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Near-duplicate detection for the training-data pipeline: exact
  * fingerprint dedup, character-shingle Jaccard, MinHash + LSH banding, and
  * SimHash. All hash math is built on [[Text.hash60]] (md5-derived 60-bit
  * hash) with modular arithmetic kept below 2^62, so every step is exact,
  * portable across engines (DuckDB oracle included), and overflow-free.
  *
  * Scale design: shingling explodes each document into O(len) rows — at
  * 100 TB this is a map-side generate + one shuffle per aggregation, all
  * keyed by doc or shingle (high cardinality, well balanced). LSH banding
  * turns the quadratic all-pairs problem into per-bucket self-joins; bucket
  * sizes are bounded in practice and the verify step only touches candidate
  * pairs, mirroring the standard MinHash-LSH pipeline (Broder; MMDS ch.3).
  */
object Dedup {

  /** Mersenne prime 2^31-1: (a*h'+b) mod P with h',a,b < 2^31 never exceeds
    * 2^62 — no overflow in Spark longs or DuckDB BIGINTs. */
  val P: Long = 2147483647L

  /** Deterministic hash-family parameters (i = 0..n-1). */
  def hashParamsA(i: Int): Long = 2L * i + 3
  def hashParamsB(i: Int): Long = 7L * i + 1

  /** Per-doc DISTINCT character-k-gram array over the normalized text,
    * computed entirely map-side: generation AND dedup happen inside one
    * projection (`array_distinct` on the per-doc array), so no shuffle is
    * spent deduplicating |shingles| exploded rows — at 100 TB that shuffle
    * was the single largest cost of the LSH pipeline. */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val norm = Text.normalize(col(textCol))
    docs.select(col(idCol), norm.as("__norm"))
      .filter(length(col("__norm")) >= k)
      .select(col(idCol),
        expr(s"array_distinct(transform(sequence(1, length(__norm) - ${k - 1}), " +
          s"i -> substring(__norm, i, $k)))").as("sharr"))
  }

  /** The hashed-shingle array as a COLUMN over a normalized-text column —
    * the expression form of [[shingleHashArrays]] for callers that must
    * carry extra columns through the projection (streaming keeps its
    * event-time). Single source of truth for the carrier expression. */
  // array_sort: the carrier is SORTED ascending so the verify stage can
  // intersect with the native two-pointer SortedIntersectExpr count
  // (codegen'd) instead of the interpreted hash-set array_intersect.
  // Every consumer treats harr as a SET (signature folds, banding,
  // explode, jaccard) — order is free to choose; sorted is the one that
  // makes intersection linear-merge cheap.
  def shingleHashCol(normCol: String, k: Int): Column =
    expr(s"array_sort(array_distinct(transform(sequence(1, length($normCol) - ${k - 1}), " +
      s"i -> CAST(conv(substring(md5(CAST(substring($normCol, i, $k) AS BINARY)), " +
      "1, 15), 16, 10) AS BIGINT))))")

  /** Per-doc DISTINCT 60-bit shingle-hash array ([[Text.hash60]] of each
    * k-gram), computed entirely map-side — the scale-preferred carrier for
    * the whole LSH pipeline: signatures fold over it, the verify stage
    * intersects it, and it is what gets pinned/shuffled. Longs are ~2-3×
    * smaller than the string shingles and intersect faster; md5 is computed
    * once per shingle occurrence here and never again. Distinctness is on
    * the hash (not the string): a 60-bit collision within one ~300-shingle
    * doc has probability ~4e-14, and BOTH engines (the DuckDB oracle uses
    * the identical md5-derived hash) see the same collisions, so results
    * stay bit-identical. */
  def shingleHashArrays(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val norm = Text.normalize(col(textCol))
    docs.select(col(idCol), norm.as("__norm"))
      .filter(length(col("__norm")) >= k)
      .select(col(idCol), shingleHashCol("__norm", k).as("harr"))
  }

  /** Exploded (id, shingle) rows — already distinct per doc (see
    * [[shingleArrays]]); kept for the pairwise/verify joins which need the
    * row form. */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame =
    shingleArrays(docs, idCol, textCol, k)
      .select(col(idCol), explode(col("sharr")).as("shingle"))

  /** Exact pairwise Jaccard over shingle sets, restricted to candidate
    * pairs (both docs share at least one shingle) with id1 < id2. O(pairs
    * sharing a shingle); use [[minhashCandidates]] first at scale. */
  def jaccardPairs(sh: DataFrame, idCol: String): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.select(col(idCol).as("id1"), col("shingle"))
    val b = sh.select(col(idCol).as("id2"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")), Seq("id1"))
      .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")), Seq("id2"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")))
  }

  /** Exact Jaccard restricted to a given candidate-pair set — the verify
    * stage of the LSH pipeline, in its exploded-row form (the reference
    * the array formulations are tested against). Work is bounded by
    * Σ|shingles(id1)| over candidate pairs (NOT by co-occurrence: a
    * stop-shingle present in every doc makes [[jaccardPairs]] quadratic —
    * 210s vs ~2s on the 500-doc table — and would be fatal at real
    * scale).
    *
    * Pin lifecycle: `cand0` is scoped-materialized while the
    * (candidate-sized) result is computed — it feeds both the intersection
    * join and the output join — and the result returns as a
    * [[Materialize.pin]], so no other pin outlives the call and nothing is
    * the caller's to release. Same contract as [[minhashCandidates]]. */
  def jaccardForCandidates(cand0: DataFrame, sh: DataFrame,
                           idCol: String): DataFrame =
    Materialize.withMaterialized(cand0) { cand =>
      val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
      val s1 = sh.select(col(idCol).as("id1"), col("shingle"))
      val s2 = sh.select(col(idCol).as("id2"), col("shingle"))
      val inter = cand.join(s1, Seq("id1"))
        .join(s2, Seq("id2", "shingle"), "left_semi")
        .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
      Materialize.pin(cand.join(inter, Seq("id1", "id2"), "left")
        .join(sizes.select(col(idCol).as("id1"), col("sz").as("sz1")),
          Seq("id1"))
        .join(sizes.select(col(idCol).as("id2"), col("sz").as("sz2")),
          Seq("id2"))
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (col("sz1") + col("sz2") - col("inter"))))
    }

  /** Exact Jaccard on candidate pairs from the per-doc HASHED shingle
    * arrays ([[shingleHashArrays]]): two id-keyed joins attach each
    * pair's arrays and the intersection is a per-row merge count over
    * longs, so no exploded shingle rows ever shuffle — the cheapest
    * formulation at scale. Same values as [[jaccardForCandidates]].
    *
    * The (candidate-sized, slim) result is materialized HERE as a
    * [[Materialize.pin]] — load-bearing twice over, measured at sf0.1 with
    * 151k candidates (q15 15.8s → the fix restores ~4s):
    *  1. A caller's `filter(jaccard >= τ)` over the lazy form gets pushed
    *     by Catalyst INTO the join as a non-equi condition, where the
    *     substituted jaccard expression evaluates `array_intersect`
    *     THREE times per candidate row — join conditions get no
    *     codegen subexpression elimination; a Project does. The barrier
    *     keeps the intersect in a projection, evaluated once per pair.
    *  2. A caller's `orderBy` (range sort = sample pass + output pass)
    *     would re-execute the whole verify join per pass; the checkpoint
    *     makes those passes read 4 numeric columns per pair instead. */
  def jaccardForCandidatesHashes(cand: DataFrame, harrs: DataFrame,
                                 idCol: String): DataFrame = {
    // no join hint: the candidate side is a pin and carries its measured
    // size, so the planner picks each join from sizes; the shuffle_hash
    // hints this replaced measured no faster (PLANS.md "One pin entry")
    val a1 = harrs.select(col(idCol).as("id1"), col("harr").as("__h1"))
    val a2 = harrs.select(col(idCol).as("id2"), col("harr").as("__h2"))
    Materialize.pin(cand.join(a1, Seq("id1")).join(a2, Seq("id2"))
      // native two-pointer merge count over the SORTED harr carrier
      // (codegen'd) — replaces the interpreted hash-set array_intersect
      .withColumn("inter",
        graft.functions.SortedIntersectExpr.count(col("__h1"), col("__h2")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("__h1")).cast("long") + size(col("__h2")).cast("long") - col("inter")))
      .drop("__h1", "__h2"))
  }

  /** MinHash signatures, wide form: one row per doc with columns
    * `mh0..mh{n-1}` = min over the doc's shingle hashes of (a_i·h'+b_i)
    * mod P (h' = hash60 mod P).
    *
    * Deliberately ONE aggregation with n min columns rather than an
    * n-way row explosion: partial (map-side) aggregation collapses each
    * input partition to one row per doc before the shuffle — the exploded
    * form shuffles |shingles|·n rows instead and was the dominant cost of
    * the LSH pipeline. */
  def minhashSignatures(sh: DataFrame, idCol: String, n: Int): DataFrame = {
    val h = (Text.hash60(col("shingle")) % P).as("__h")
    val aggs = (0 until n).map { i =>
      min((lit(hashParamsA(i)) * col("__h") + lit(hashParamsB(i))) % P)
        .as(s"mh$i")
    }
    sh.select(col(idCol), h)
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signatures from the HASHED shingle arrays — the md5 work is
    * already done in [[shingleHashArrays]], so this is just n affine
    * `array_min` folds over longs in one codegen'd projection, with no
    * shuffle. Same values as [[minhashSignatures]]: min over h' mod P of
    * the same distinct shingle set (duplicate post-mod values cannot
    * change a min). `keep` carries extra columns through the projection
    * (streaming keeps its event-time and the verify-stage hash array). */
  def minhashSignaturesFromHashes(harrs: DataFrame, idCol: String, n: Int,
                                  keep: Seq[String] = Nil): DataFrame = {
    val hs = expr(s"transform(harr, x -> x % $P)").as("__hs")
    val mins = (0 until n).map { i =>
      expr(s"array_min(transform(__hs, h -> " +
        s"(${hashParamsA(i)}L * h + ${hashParamsB(i)}L) % $P))").as(s"mh$i")
    }
    val keepCols = keep.map(col)
    harrs.select(col(idCol) +: keepCols :+ hs: _*)
      .select(col(idCol) +: keepCols ++: mins: _*)
  }

  /** LSH banding over wide signatures: band b's key is the ordered concat
    * of `mh(b·rowsPerBand) .. mh(b·rowsPerBand + rowsPerBand - 1)`. Docs
    * sharing any (band, key) bucket become candidate pairs (id1 < id2,
    * distinct). */
  /** Banded (id, band, bkey) relation for a signature frame — the LSH
    * bucket carrier shared by the self-join ([[minhashCandidates]]), the
    * cross-corpus join ([[minhashCandidatesCross]]) and the streaming
    * screen. `keep` carries extra columns through the explode
    * (streaming's event-time + verify array). */
  def bandedSignatures(sig: DataFrame, idCol: String, rowsPerBand: Int,
                       keep: Seq[String] = Nil): DataFrame = {
    val n = sig.columns.count(_.startsWith("mh"))
    val nBands = n / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", (0 until rowsPerBand).map(p =>
          col(s"mh${b * rowsPerBand + p}")): _*).as("bkey"))
    }
    val keepCols = keep.map(col)
    sig.select(col(idCol) +: keepCols :+
        explode(array(bandStructs: _*)).as("bb"): _*)
      .select(col(idCol) +: keepCols ++:
        Seq(col("bb.band"), col("bb.bkey")): _*)
  }

  def minhashCandidates(sig: DataFrame, idCol: String,
                        rowsPerBand: Int): DataFrame =
    // scoped-materialized: the bucket self-join reads the banded relation
    // from both sides; the candidate-sized result leaves the scope as a
    // pin, so nothing else outlives the call
    Materialize.withMaterialized(
        bandedSignatures(sig, idCol, rowsPerBand)) { banded =>
      Materialize.pin(banded
        .select(col("band"), col("bkey"), col(idCol).as("id1"))
        .join(banded.select(col("band"), col("bkey"), col(idCol).as("id2")),
          Seq("band", "bkey"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2")).distinct())
    }

  /** Cross-corpus LSH candidates: (id1 = new, id2 = standing) pairs
    * sharing a band bucket between TWO signature sets — the
    * incremental-dedup shape: today's batch is screened against the
    * standing corpus without re-banding or re-clustering it (at scale the
    * standing side's banded relation is a bucketed table maintained
    * incrementally). No id ordering between the sides; each banded
    * relation has a single consumer, so neither needs the self-join's
    * scoped pin — only the bounded candidate output is materialized
    * (eager localCheckpoint, nothing for the caller to release).
    *
    * Scale shape: one bucket equi-join; the batch side is small and
    * broadcasts, the standing side keeps its partitioning. */
  def minhashCandidatesCross(sigNew: DataFrame, sigOld: DataFrame,
                             idCol: String, rowsPerBand: Int): DataFrame =
    Materialize.pin(bandedSignatures(sigNew, idCol, rowsPerBand)
      .select(col("band"), col("bkey"), col(idCol).as("id1"))
      .join(bandedSignatures(sigOld, idCol, rowsPerBand)
        .select(col("band"), col("bkey"), col(idCol).as("id2")),
        Seq("band", "bkey"))
      .select(col("id1"), col("id2")).distinct())

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * — the MOSS algorithm): over the ORDERED k-gram hash sequence, slide a
    * window of `w` hashes and keep each window's minimum; the distinct kept
    * values are the fingerprint set. Guarantees any shared substring of
    * length ≥ w+k-1 contributes at least one common fingerprint, at a
    * fraction ~2/(w+1) of all k-grams — the standard sub-linear sketch for
    * partial-overlap detection (containment, clone detection), which
    * MinHash (whole-set resemblance) does not give.
    *
    * Entirely map-side per document, like the rest of the pipeline. The
    * windowed min is [[graft.functions.SlidingMinExpr]] — the ascending-
    * minima O(m) native Expression (amortized one deque op per k-gram)
    * rather than the O(m·w) `array_min(slice(...))` formulation, which
    * does w reads per window and dominates for book-length texts at
    * recommended w. Docs shorter than w+k-1 chars (no full window) are
    * dropped, per the algorithm's contract. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    val norm = Text.normalize(col(textCol))
    docs.select(col(idCol), norm.as("__norm"))
      .filter(length(col("__norm")) >= k + w - 1)
      .select(col(idCol),
        expr(s"transform(sequence(1, length(__norm) - ${k - 1}), " +
          s"i -> CAST(conv(substring(md5(CAST(substring(__norm, i, $k) AS BINARY)), " +
          "1, 15), 16, 10) AS BIGINT))").as("__hl"))
      .select(col(idCol),
        array_distinct(
          graft.functions.SlidingMinExpr.slidingMin(col("__hl"), w)).as("fp"))
  }

  /** Exact-substring duplication spans (the Spark-shaped analog of Lee et
    * al. 2022's ExactSubstr dedup, "Deduplicating Training Data Makes
    * Language Models Better" — they build a corpus suffix array; a
    * distributed engine gets the same spans from positional k-gram
    * hashes): a position is DUPLICATED when its k-gram occurs in at least
    * one other document; runs of duplicated positions within gap ≤ k
    * merge into maximal disjoint spans (two marked positions ≤ k apart
    * overlap in text), which is what a dedup pass would cut.
    *
    * Returns per-doc span stats (docs with no duplicated position produce
    * NO row — callers left-join and read absence as zero). Output:
    * (idCol, doc_len, n_spans, n_dup_positions, dup_chars, dup_frac).
    *
    * Scale shape: the positional hash array is built map-side and
    * scoped-materialized before explosion (standing rule 7 — md5 per
    * position is the expensive class); the duplicated-hash dim uses the
    * min≠max trick (one map-side-combined aggregation, NO count-distinct
    * expand); marking is a hash-keyed shuffle semi-join (well balanced:
    * k-gram hashes are near-unique); islands/spans are doc-partitioned
    * windows. Nothing is corpus-quadratic. */
  /** C4-style global span dedup WITH remediation (Raffel et al. 2020 §2.2
    * deduplicated three-sentence spans corpus-wide, keeping one
    * occurrence; this is the block-aligned analog for whitespace corpora):
    * the normalized text is cut into non-overlapping `w`-token blocks, and
    * for every distinct block text exactly ONE occurrence survives — the
    * globally first by (doc, block index). Unlike the detection-only
    * [[exactDupSpans]], this operator APPLIES the removal and returns the
    * per-doc rebuild: kept/removed block counts, surviving token count,
    * and the md5 fingerprint of the reassembled (kept-blocks-in-order)
    * text — null when every block of a doc lost its keep race (an exact
    * dup of earlier content).
    *
    * `posCap` bounds block indices per doc (fail-loud via the keeper-key
    * encoding; callers pass the same cap the oracle uses so both engines
    * agree on the (doc, blk) → scalar min encoding).
    *
    * Scale shape: the block-array carrier is scoped-materialized before
    * its explode (rule 7 — array_join per element is the expensive
    * class); the keeper table is ONE map-side-combined min aggregation
    * keyed on the 16-byte block md5 (never the block text); the mark join
    * fans out linearly in block occurrences (a hot boilerplate block
    * costs its occurrence count, never a quadratic pair set — contrast
    * the df-cap discussion in [[containmentPairs]]); the rollup is one
    * doc-keyed aggregation. Three shuffles total, all combinable. The
    * per-doc result leaves the scope as a [[Materialize.pin]]. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                w: Int, posCap: Long): DataFrame = {
    val toks = docs.select(col(idCol),
      split(Text.normalize(col(textCol)), " ").as("tk"))
    val barr0 = toks.select(col(idCol),
      expr(s"transform(sequence(0, CAST(ceil(size(tk) / $w.0) AS INT) - 1), " +
        s"i -> struct(CAST(i AS BIGINT) AS blk, " +
        s"array_join(slice(tk, i * $w + 1, $w), ' ') AS btxt))").as("barr"))
    Materialize.withMaterialized(barr0) { b =>
      val blk = b.select(col(idCol), explode(col("barr")).as("bs"))
        .select(col(idCol), col("bs.blk").as("blk"), col("bs.btxt").as("btxt"))
        .withColumn("bh", md5(col("btxt").cast("binary")))
        // fail-loud if a doc outgrows the (doc, blk) scalar encoding —
        // silent wraparound would quietly misrank keepers
        .withColumn("__k", when(col("blk") < posCap,
            col(idCol) * posCap + col("blk"))
          .otherwise(raise_error(concat(lit(s"spanDedup posCap $posCap " +
            "exceeded at blk="), col("blk").cast("string")))))
      val keep = blk.groupBy(col("bh")).agg(min(col("__k")).as("kmin"))
      Materialize.pin(blk.join(keep, Seq("bh"))
        .withColumn("kept", col("__k") === col("kmin"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_blocks"),
          count(when(!col("kept"), lit(1))).as("n_removed"),
          sum(when(col("kept"), size(split(col("btxt"), " "))))
            .cast("long").as("n_tokens_kept"),
          sort_array(collect_list(
            when(col("kept"), struct(col("blk"), col("btxt"))))).as("karr"))
        .select(col(idCol), col("n_blocks"), col("n_removed"),
          col("n_tokens_kept"),
          when(size(col("karr")) > 0,
            md5(expr("array_join(transform(karr, x -> x.btxt), ' ')")
              .cast("binary"))).as("kept_fp")))
    }
  }

  def exactDupSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val norm = Text.normalize(col(textCol))
    val harrs0 = docs.select(col(idCol), norm.as("__norm"))
      .filter(length(col("__norm")) >= k)
      .select(col(idCol), length(col("__norm")).cast("long").as("doc_len"),
        expr(s"transform(sequence(1, length(__norm) - ${k - 1}), " +
          s"i -> CAST(conv(substring(md5(CAST(substring(__norm, i, $k) AS BINARY)), " +
          "1, 15), 16, 10) AS BIGINT))").as("harr"))
    Materialize.withMaterialized(harrs0) { harrs =>
      val pos = harrs.select(col(idCol), col("doc_len"),
          posexplode(col("harr")).as(Seq("__p0", "__h")))
        .select(col(idCol), col("doc_len"), (col("__p0") + 1).as("pos"),
          col("__h"))
      val dups = pos.groupBy(col("__h"))
        .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
        .filter(col("__mn") =!= col("__mx"))
        .select(col("__h"))
      val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      val spans = pos.join(dups, Seq("__h"), "left_semi")
        .withColumn("__prev", lag(col("pos"), 1).over(w))
        .withColumn("__brk",
          when(col("__prev").isNull || col("pos") - col("__prev") > k, 1L)
            .otherwise(0L))
        .withColumn("__isl", sum(col("__brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col(idCol), col("doc_len"), col("__isl"))
        .agg(min(col("pos")).as("__s"), max(col("pos")).as("__e"),
          count(lit(1)).as("__np"))
      Materialize.pin(spans.groupBy(col(idCol), col("doc_len"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("__np")).as("n_dup_positions"),
          sum(col("__e") - col("__s") + lit(k)).as("dup_chars"))
        .withColumn("dup_frac",
          col("dup_chars").cast("double") / col("doc_len")))
    }
  }

  /** Containment pairs from winnowing fingerprint sets
    * ([[winnowFingerprints]]): for every document pair sharing at least one
    * pairing-eligible fingerprint, containment =
    * |fp(A) ∩ fp(B)| / min(|fp(A)|, |fp(B)|) — the asymmetric overlap
    * measure that flags a short document embedded in a longer one, which
    * whole-set resemblance (Jaccard / MinHash) structurally under-reports
    * (Broder's containment-vs-resemblance distinction; winnowing guarantees
    * any shared run of ≥ w+k-1 chars contributes a common fingerprint).
    *
    * Fingerprints occurring in more than `maxDf` documents are excluded
    * from PAIRING (the MOSS noise-suppression rule for boilerplate) — which
    * is also the skew guard: a header shared by m documents would otherwise
    * fan out m²/2 candidate pairs through the self-join. Containment
    * denominators stay the FULL per-doc fingerprint counts, so suppression
    * only lowers scores, never inflates them.
    *
    * Scale shape: the exploded relation is fingerprint-sampled (~2/(w+1)
    * of k-grams), the df filter and the pair self-join share one hash
    * partitioning on the fingerprint value (window + join, no second
    * shuffle), every bucket is ≤ maxDf rows, and the aggregation shuffles
    * only (id1, id2) pairs — the same envelope as the LSH banding join.
    *
    * Pin lifecycle: `fps0` and the df-filtered exploded relation are
    * scoped-materialized (the former feeds the explode and both size
    * joins; the latter both sides of the pair self-join); the pair-sized
    * result leaves as an eager localCheckpoint — nothing for the caller
    * to release. Same contract as [[minhashCandidates]]. */
  def containmentPairs(fps0: DataFrame, idCol: String, maxDf: Int,
                       minContainment: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Materialize.withMaterialized(fps0) { fps =>
      val kept0 = fps.select(col(idCol), explode(col("fp")).as("__v"))
        .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("__v"))))
        .filter(col("__df") <= maxDf)
        .drop("__df")
      Materialize.withMaterialized(kept0) { kept =>
        val pairs = kept.select(col(idCol).as("id1"), col("__v"))
          .join(kept.select(col(idCol).as("id2"), col("__v")), Seq("__v"))
          .filter(col("id1") < col("id2"))
          .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("shared_fp"))
        val sz = fps.select(col(idCol), size(col("fp")).cast("long").as("__n"))
        Materialize.pin(pairs
          .join(sz.select(col(idCol).as("id1"), col("__n").as("__n1")), Seq("id1"))
          .join(sz.select(col(idCol).as("id2"), col("__n").as("__n2")), Seq("id2"))
          .withColumn("containment",
            col("shared_fp").cast("double") / least(col("__n1"), col("__n2")))
          .filter(col("containment") >= minContainment)
          .drop("__n1", "__n2"))
      }
    }
  }

  /** Benchmark decontamination by character n-gram overlap: score every
    * training document by the fraction of its distinct k-gram hashes that
    * also occur anywhere in the evaluation corpus — the standard
    * train/test-contamination check run before training (n-gram collision
    * decontamination as in GPT-3 appendix C / PaLM §7; character k-grams
    * here, same carrier as [[shingleHashArrays]]).
    *
    * Scale shape (100 TB training corpus, MB-scale benchmark): the
    * distinct eval k-gram hashes broadcast (benchmarks are small by
    * construction) into a semi-join against the exploded training
    * hashes, so the broadcast hash table is built ONCE per task — NOT
    * per row, which is what a per-row `array_intersect` against a
    * collected eval array degenerates to (rebuilding a 10^5-entry set
    * per document took q68 to 22 s at sf0.1; this form is ~20×
    * cheaper). Only matching (doc, hash) rows reach the overlap count's
    * shuffle, and the per-doc counts relation (bounded by the training
    * docs that share ≥1 k-gram) broadcasts back onto the map-side
    * n_ngrams projection. No shuffle ever touches the full training
    * corpus. Documents shorter than k produce NO output row (they have no
    * k-gram); callers must left-join and decide what absence means —
    * q76 treats it as contamination 0 via left join + coalesce.
    *
    * Returns (idCol, n_ngrams, overlap_ngrams, contamination) — one row
    * per training document that produced at least one k-gram. */
  def ngramContamination(train: DataFrame, evalDocs: DataFrame, idCol: String,
                         textCol: String, k: Int): DataFrame =
    ngramContaminationFromHashes(
      shingleHashArrays(train, idCol, textCol, k),
      shingleHashArrays(evalDocs, idCol, textCol, k), idCol)

  /** [[ngramContamination]] over PREBUILT (idCol, harr) k-gram-hash frames
    * — the composition entry point: q76 derives both sides from its one
    * pinned normalized-text carrier, so the normalize+md5 pass is not
    * repeated per stage. Both frames are scoped-materialized here
    * (explode over an unmaterialized transform(...) array re-evaluates
    * the hashing expression per OUTPUT row — O(shingles²) md5 calls per
    * doc, measured 18 s vs 0.2 s at sf0.1); the per-doc result leaves as
    * an eager localCheckpoint. */
  def ngramContaminationFromHashes(th0: DataFrame, eh0: DataFrame,
                                   idCol: String): DataFrame =
    Materialize.withMaterialized(th0)(th =>
        Materialize.withMaterialized(eh0) { eh =>
      val evalHashes = eh
        .select(explode(col("harr")).as("__h")).distinct()
      val overlap = th.select(col(idCol), explode(col("harr")).as("__h"))
        .join(broadcast(evalHashes), Seq("__h"), "left_semi")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("__overlap"))
      Materialize.pin(th
        .select(col(idCol), size(col("harr")).cast("long").as("n_ngrams"))
        .join(broadcast(overlap), Seq(idCol), "left")
        .select(col(idCol), col("n_ngrams"),
          coalesce(col("__overlap"), lit(0L)).as("overlap_ngrams"))
        .withColumn("contamination",
          col("overlap_ngrams").cast("double") / col("n_ngrams")))
    })

  /** Connected components over a (small-degree) near-dup edge set by
    * min-label propagation: every vertex repeatedly adopts the smallest
    * label in its neighborhood until fixpoint. Rounds are bounded by the
    * component diameter — near-dup clusters are dense and clique-like
    * (diameter 2-3), so this converges in a handful of one-shuffle rounds,
    * each with a bounded driver-side convergence count. For adversarial
    * long-chain graphs the alternating large-star / small-star algorithm
    * is IMPLEMENTED as [[connectedComponentsStars]] (O(log n) rounds on
    * any topology); near-dup clustering does not produce such chains, so
    * this cheaper-per-round variant stays the default.
    *
    * Returns (doc_id, cluster = min doc id of its component), one row per
    * vertex that appears in an edge. Every intermediate is released here:
    * a round's labels as soon as the next round's are pinned, the edges
    * on exit; the result reads the final round's pin only.
    *
    * Lineage discipline: persist() caches DATA, not plans — without
    * truncation each round's labels still embed the full edge-producing
    * pipeline plus one join per completed round in their LOGICAL plan, so
    * Catalyst re-analyzes a plan that roughly doubles per iteration and
    * planning time grows exponentially even with every input cached
    * (measured on the q15 LSH graph: rounds of 2.0s, 8.3s, 61.8s).
    * A [[Materialize.pin]] materializes AND truncates the plan to the
    * stored partitions, keeping every round constant-size — the standard
    * move for iterative algorithms (GraphX/Pregel checkpoint on the same
    * schedule).
    * On a cluster where executor loss must be survivable, swap for
    * reliable checkpoint() (setCheckpointDir); same contract. */
  def connectedComponents(edges0: DataFrame): DataFrame = {
    val edges = Materialize.pin(edges0.select(
      col("id1").cast("long").as("id1"), col("id2").cast("long").as("id2")))
    val bedges0 = edges.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(edges.select(col("id2").as("src"), col("id1").as("dst")))
    try Materialize.withMaterialized(bedges0) { bedges =>
      // `round` is this round's pin; the one it supersedes is released as
      // soon as it exists, so one labels relation is stored at a time
      var round = Materialize.pin(bedges.select(col("src").as("id"))
        .distinct().withColumn("lbl", col("id")))
      var labels = round
      var changed = 1L
      var rounds = 0
      try {
        while (changed > 0 && rounds < 64) {
          val nbrMin = bedges
            .join(labels.select(col("id").as("src"), col("lbl").as("__sl")),
              Seq("src"))
            .groupBy(col("dst")).agg(min(col("__sl")).as("__nm"))
          val next = Materialize.pin(
            labels.join(nbrMin, col("id") === col("dst"), "left")
              .select(col("id"), col("lbl"),
                least(col("lbl"), coalesce(col("__nm"), col("lbl")))
                  .as("__lbl2")))
          Materialize.release(round)
          round = next
          changed = next.filter(col("__lbl2") =!= col("lbl")).count()
          labels = next.select(col("id"), col("__lbl2").as("lbl"))
          rounds += 1
        }
        // fail loudly rather than return non-converged (wrong) cluster
        // labels on a pathological high-diameter graph; switch such
        // callers to connectedComponentsStars (O(log n) rounds on any
        // topology)
        require(changed == 0,
          s"connectedComponents did not converge within $rounds rounds — " +
            "use connectedComponentsStars for high-diameter graphs")
      } catch {
        case e: Throwable => Materialize.release(round); throw e
      }
      // labels reads the final round's pin only — not bedges or edges —
      // so it safely outlives both
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
    } finally Materialize.release(edges)
  }

  /** DBSCAN-discipline role assignment over a verified similarity-pair
    * graph (Ester et al. KDD'96 with the pair set as the eps-neighborhood
    * relation): core = a vertex with ≥ minPts−1 neighbors, clusters =
    * connected components of the CORE-CORE subgraph, border = non-core
    * adjacent to a core (labeled with the smallest cluster label among
    * its core neighbors), noise = the rest of `universe`. Unlike plain
    * [[connectedComponents]], a low-degree bridge pair cannot chain two
    * clusters — it classifies as border/noise instead of merging.
    *
    * @param pairs    distinct undirected pairs (id1, id2), id1 != id2
    * @param universe one row per (doc_id) to classify — also defines the
    *                 output row set (isolated vertices → noise)
    * @return (doc_id, role ∈ core|border|noise, cluster BIGINT or null)
    */
  def dbscanRoles(pairs: DataFrame, universe: DataFrame,
                  minPts: Int): DataFrame = {
    val bedges = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
    val deg = bedges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val core = deg.filter(col("deg") + 1 >= minPts).select(col("a").as("id"))
    val coreEdges = pairs
      .join(core.select(col("id").as("id1")), Seq("id1"), "left_semi")
      .join(core.select(col("id").as("id2")), Seq("id2"), "left_semi")
    val cc = connectedComponents(coreEdges)
    // singleton cores (no core neighbor) never appear in coreEdges —
    // they are their own cluster
    val coreCl = core.join(cc, core("id") === cc("doc_id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    val borders = bedges
      .join(coreCl.select(col("id").as("b"), col("cluster").as("ncl")),
        Seq("b"))
      .join(core.select(col("id").as("a")), Seq("a"), "left_anti")
      .groupBy(col("a")).agg(min(col("ncl")).as("bcl"))
    universe
      .join(coreCl.select(col("id").as("doc_id"), col("cluster").as("ccl")),
        Seq("doc_id"), "left")
      .join(borders.select(col("a").as("doc_id"), col("bcl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ccl").isNotNull, "core")
          .when(col("bcl").isNotNull, "border")
          .otherwise("noise").as("role"),
        coalesce(col("ccl"), col("bcl")).as("cluster"))
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris/Lattanzi/Mirrokni/Rastogi/Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the O(log n)-ROUND
    * upgrade path [[connectedComponents]]'s docs name: min-label
    * propagation needs diameter-many rounds (a 300-node chain = 300
    * shuffles), star contraction collapses any topology in logarithmically
    * many. Same contract as [[connectedComponents]]: returns (doc_id,
    * cluster = min id of the component), one row per vertex appearing in
    * an edge.
    *
    * Per round (each one bounded-size joins/aggs over localCheckpoint'ed
    * edges — the iterative-lineage rule):
    *  - LARGE-STAR: for every node u, attach each STRICTLY LARGER
    *    neighbor to m = min(Γ(u) ∪ {u}). Processes each edge from both
    *    orientations; keeps components connected while strictly reducing
    *    large-id attachment height.
    *  - SMALL-STAR: orient each edge toward its larger endpoint u and
    *    attach u and all its (smaller) neighbors to the minimum.
    * Fixpoint = the canonical edge set stops changing; the result is a
    * star forest rooted at component minima, read off directly as labels.
    *
    * Kept alongside [[connectedComponents]] rather than replacing it:
    * near-dup clusters are dense and clique-like (diameter 2-3), where
    * min-label converges in 3-4 cheaper rounds; star contraction is the
    * right tool when the graph's shape is unknown or adversarial
    * (reference-chain link graphs, long citation chains). */
  def connectedComponentsStars(edges0: DataFrame): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    val raw = edges0.select(col("id1").cast("long").as("u"),
      col("id2").cast("long").as("v"))
    // vertex set from the RAW edges, before canon() drops self-loops — a
    // vertex whose only edge is a self-loop must still be labeled (its own
    // singleton component), matching connectedComponents' contract
    val vertices = Materialize.pin(raw.select(col("u").as("id"))
      .unionByName(raw.select(col("v").as("id"))).distinct())
    var edges = Materialize.pin(canon(raw))
    def largeStar(e: DataFrame): DataFrame = {
      val bi = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = bi.groupBy(col("u")).agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("__mv"), col("u")).as("__m"))
      canon(bi.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient toward the larger endpoint: key = larger, value = smaller
      val oriented = e.select(col("v").as("u"), col("u").as("v")) // v>u in canon
      val m = oriented.groupBy(col("u")).agg(min(col("v")).as("__m"))
      canon(oriented.join(m, Seq("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .unionByName(m.select(col("u"), col("__m").as("v"))))
    }
    // Fixpoint test: canon() output is DISTINCT, so set equality reduces to
    // (count, sum(hash(u,v))) equality — two scalar aggregates over the
    // just-checkpointed (in-memory) edges, vs the two full exceptAll
    // anti-join shuffles per round this replaces (which doubled per-round
    // cost). A false fixpoint needs a colliding 64-bit hash SUM at equal
    // cardinality (~2^-64/round). Fingerprints carry across rounds, so
    // each round pays exactly one aggregate over `next`.
    def fingerprint(e: DataFrame): (Long, BigDecimal) = {
      // decimal(38,0) sum: ANSI sum(long) throws on overflow, and 64-bit
      // hash sums overflow routinely; decimal is exact to 10^38
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var changed = true
    var rounds = 0
    try {
      var fpEdges = fingerprint(edges)
      while (changed && rounds < 64) {
        // each round's edge set is released once its successor is pinned
        val next = Materialize.pin(smallStar(largeStar(edges)))
        Materialize.release(edges)
        edges = next
        val fpNext = fingerprint(next)
        changed = fpNext != fpEdges
        fpEdges = fpNext
        rounds += 1
      }
      require(!changed,
        s"connectedComponentsStars did not converge within $rounds rounds")
    } catch {
      case e: Throwable =>
        Materialize.release(edges); Materialize.release(vertices); throw e
    }
    // final star forest: canon edges are (root, member); roots label
    // themselves
    val labels = edges.select(col("v").as("id"), col("u").as("lbl"))
    vertices.join(labels, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("lbl"), col("id")).as("cluster"))
  }

  /** Connected components with a runtime strategy choice — the AQE
    * philosophy applied to clustering: the near-dup PAIR set is orders of
    * magnitude smaller than the corpus (pairs ≈ dup-rate × n, and callers
    * have it materialized and counted already), so when it fits
    * comfortably on the driver the log-round distributed iteration is
    * pure fixed overhead — each round is a join + aggregation + barrier
    * over a few thousand rows. Below `broadcastEdgeLimit` edges this
    * collects the pair list and runs union-find with min-label roots
    * (exactly [[connectedComponents]]' contract: cluster = min id of the
    * component, one row per vertex incident to an edge); above it, it
    * delegates to the distributed [[connectedComponents]]. Composed
    * pipelines (q69/q76) use this; q61/q79 gate the distributed
    * algorithms directly so their plans stay measured.
    *
    * The limit is EDGES, not vertices: 4M edges ≈ 64 MB of longs on the
    * driver — same order as a default broadcast-join side. */
  def connectedComponentsAdaptive(edges: DataFrame,
                                  broadcastEdgeLimit: Long = 4L << 20): DataFrame = {
    val spark = edges.sparkSession
    val n = edges.count()
    if (n > broadcastEdgeLimit)
      connectedComponents(edges)
    else {
      val es = edges.select(col("id1").cast("long"), col("id2").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        // always hang the larger root under the smaller one, so every
        // root IS its component's minimum when the scan finishes
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      import spark.implicits._
      parent.keys.toSeq.sorted.map(v => (v, find(v)))
        .toDF("doc_id", "cluster")
    }
  }

  /** SimHash Hamming near-dup pairs (Manku/Jain/Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW'07): split the `bandBits`×
    * `nBands`-bit hash into `nBands` bands — by pigeonhole, any pair
    * within Hamming distance `maxHamming` ≤ nBands-1 shares at least one
    * band verbatim — bucket-join on (band, band-key), then verify with an
    * exact `bit_count(xor)`. Turns the all-pairs Hamming search into the
    * same bounded bucket self-join shape as MinHash LSH banding: the only
    * shuffles are the band join and the candidate distinct, and the
    * verify is one codegen'd projection over candidate rows.
    *
    * Pin lifecycle: the banded relation is scoped-materialized across
    * the two sides of the self-join; the candidate-sized result leaves as
    * an eager localCheckpoint. Same contract as [[minhashCandidates]]. */
  def simhashNearDupPairs(sh: DataFrame, idCol: String, hashCol: String,
                          nBands: Int, bandBits: Int,
                          maxHamming: Int): DataFrame = {
    require(maxHamming < nBands,
      s"pigeonhole needs maxHamming < nBands ($maxHamming >= $nBands)")
    val mask = (1L << bandBits) - 1
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("b"),
        shiftright(col(hashCol), bandBits * b).bitwiseAND(lit(mask))
          .as("bkey"))
    }
    val banded0 = sh.select(col(idCol), col(hashCol),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col(hashCol).as("__s"),
        col("bb.b").as("b"), col("bb.bkey").as("bkey"))
    Materialize.withMaterialized(banded0) { banded =>
      Materialize.pin(banded
        .select(col("b"), col("bkey"), col(idCol).as("id1"), col("__s").as("__s1"))
        .join(banded.select(col("b"), col("bkey"), col(idCol).as("id2"),
            col("__s").as("__s2")),
          Seq("b", "bkey"))
        .filter(col("id1") < col("id2"))
        .select(col("id1"), col("id2"), col("__s1"), col("__s2")).distinct()
        .withColumn("hamming", expr("bit_count(__s1 ^ __s2)").cast("long"))
        .filter(col("hamming") <= maxHamming)
        .select(col("id1"), col("id2"), col("hamming")))
    }
  }

  /** SimHash (64-bit, packed as 8 byte-planes of the md5-derived hash):
    * per doc, for each bit position sum ±1 over token hashes; bit set when
    * the sum is positive. Returns (id, simhash as 16 lowercase hex chars).
    * Implemented with integer ops only — portable. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(Text.normalize(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val h = Text.hash60(col("tok"))
    // 60-bit hash → 60 bit-planes; accumulate sign per plane
    val withH = toks.select(col(idCol), h.as("__h"))
    val bitCols = (0 until 60).map { bit =>
      sum(when(shiftright(col("__h"), bit) % 2 === 1, 1).otherwise(-1))
        .as(s"__b$bit")
    }
    val acc = withH.groupBy(col(idCol)).agg(bitCols.head, bitCols.tail: _*)
    val value = (0 until 60).map { bit =>
      when(col(s"__b$bit") > 0,
        lit(BigDecimal(2).pow(bit).toLong)).otherwise(lit(0L))
    }.reduce(_ + _)
    acc.select(col(idCol), value.as("simhash"))
  }
}
