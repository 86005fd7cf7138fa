package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text
import graft.operators.{Dedup, Materialize, PrefixJoin, Quantize, Similarity}

/** Training-data pipeline operators over `documents` / `embeddings`:
  * text statistics, language ID, quality scoring, exact + MinHash-LSH +
  * SimHash dedup, and cosine similarity search. Every query has a DuckDB
  * oracle; hashes are md5-derived (portable) and all scores are
  * deterministic integer-derived double math.
  */
object TextQueries {

  val ShingleK = 5
  val WinnowW = 8
  val MaxFpDf = 50
  val ContainmentThreshold = 0.5
  // 4 bands × 15 bits cover the 60-bit simhash; pigeonhole guarantees
  // recall for Hamming distance ≤ 3
  val SimhashBands = 4
  val SimhashBandBits = 15
  val SimhashMaxHamming = 3
  val NumHashes = 16
  val RowsPerBand = 4
  val JaccardThreshold = 0.3
  val CosineThreshold = 0.4
  val AnnDims = 64
  val AnnPlanes = 8
  val AnnProbes = 4
  val SubPlanes = 4
  val MaxBlock = 50
  val IvfCells = 16
  val IvfProbes = 4

  def q11TokenStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    docs.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text")).cast("long")).as("total_tokens"),
        sum(Text.subwordCount(col("text")).cast("long")).as("total_subwords"),
        sum(col("n_chars")).as("total_chars"))
      .withColumn("avg_tokens",
        col("total_tokens").cast("double") / col("n_docs"))
      .orderBy(col("source"))
  }

  def q12LangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("actual_lang"),
        Text.langId(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))

  def q13QualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  def q14MinhashCandidates(s: SparkSession, dir: String): DataFrame = {
    val harrs = Dedup.shingleHashArrays(Tables.documents(s, dir), "doc_id", "text", ShingleK)
    val sig = Dedup.minhashSignaturesFromHashes(harrs, "doc_id", NumHashes)
    Dedup.minhashCandidates(sig, "doc_id", RowsPerBand)
      .orderBy(col("id1"), col("id2"))
  }

  /** LSH candidates verified by exact shingle Jaccard ≥ τ — the full
    * near-dup pipeline (candidate generation bounds the quadratic join;
    * the verify join touches only candidates). The whole pipeline rides the
    * hashed-shingle carrier (shingleHashArrays): shingle generation, dedup,
    * md5 and the MinHash signatures are all map-side, the pinned relation
    * holds long arrays (not strings), and the only shuffles left are the
    * banded bucket self-join and the candidate-verify join. */
  def q15NearDupPairs(s: SparkSession, dir: String): DataFrame =
    // the hashed-shingle carrier is reused by signatures and both sides of
    // the verify join — scoped-materialized; the pair-sized result leaves
    // the scope as an eager localCheckpoint
    Materialize.withMaterialized(Dedup.shingleHashArrays(
        Tables.documents(s, dir), "doc_id", "text", ShingleK)) { harrs =>
      val sig = Dedup.minhashSignaturesFromHashes(harrs, "doc_id", NumHashes)
      val cand = Dedup.minhashCandidates(sig, "doc_id", RowsPerBand)
      Materialize.sorted(Dedup.jaccardForCandidatesHashes(cand, harrs, "doc_id")
        .filter(col("jaccard") >= JaccardThreshold)
        .select(col("id1"), col("id2"), col("jaccard")), col("id1"), col("id2"))
    }

  /** Exact-join threshold for q123 — higher than [[JaccardThreshold]]
    * because the exact join's contract is exhaustiveness at a decision
    * boundary, the regime where LSH's per-pair miss probability matters. */
  val AllPairsTau = 0.5

  /** Shingle width for the exact join: LONG shingles (k=16), not the LSH
    * pipeline's k=5. Prefix filtering's selectivity comes from element
    * RARITY, which requires a sparse universe: at k=5 this corpus has
    * only ~2k distinct shingles across ~1M memberships (df up to 78% of
    * the corpus), and the "rarest-element" prefix join degenerates to
    * ~11M candidates for a 256-pair answer — no τ fixes that (τ=0.9
    * still left 5.3M). At k=16 the universe is ~600k shingles (max df
    * ~6%), candidates drop 130× to ~87k, and the filter works as
    * designed. Same reason Lee et al. 2022 run exact dedup on 50-gram
    * windows: long shingles are what make exact joins tractable at
    * 100 TB. (Measured at sf0.1; see PLANS.md q123.) */
  val AllPairsK = 16

  /** q123 — EXACT all-pairs Jaccard join via prefix filtering
    * ([[PrefixJoin.allPairsJaccard]]): every pair with shingle-set Jaccard
    * ≥ τ, guaranteed complete (no LSH miss probability). The oracle is the
    * unrestricted brute-force join, so the gate proves the prefix filter
    * dropped NOTHING — the exactness claim itself is what's hash-pinned. */
  def q123AllPairsJoin(s: SparkSession, dir: String): DataFrame =
    Materialize.sorted(PrefixJoin.allPairsJaccard(
      Dedup.shingleHashArrays(Tables.documents(s, dir), "doc_id", "text",
        AllPairsK),
      "doc_id", AllPairsTau)
      .select(col("id1"), col("id2"), col("jaccard")), col("id1"), col("id2"))

  lazy val oracleQ123: String =
    s"""${shingleHashCtesK(AllPairsK)}, sz AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM hs0 GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS i1, b.doc_id AS i2, COUNT(*) AS i
       |  FROM hs0 a JOIN hs0 b USING (h60)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
       |)
       |SELECT i1 AS id1, i2 AS id2,
       |  CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS jaccard
       |FROM inter
       |JOIN sz s1 ON s1.doc_id = i1
       |JOIN sz s2 ON s2.doc_id = i2
       |WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= $AllPairsTau
       |ORDER BY id1, id2""".stripMargin

  /** MMR re-ranking constants — [[MmrPenalty]] is written as its own
    * literal (0.3), never `1 - MmrLambda`, which is 1 ulp off in IEEE
    * double and would de-sync the oracle. */
  val MmrQueries = 8
  val MmrCandN = 20
  val MmrK = 5
  val MmrLambda = 0.7
  val MmrPenalty = 0.3

  /** q128 — MMR diversity re-ranking ([[graft.operators.Mmr]]): for each
    * of [[MmrQueries]] query vectors, cut top-[[MmrCandN]] by cosine,
    * then greedily select [[MmrK]] maximizing λ·rel − (1−λ)·max-sim-to-
    * selected. The oracle unrolls the greedy rounds, so the gate pins the
    * whole sequential selection (each round's argmax depends on every
    * earlier pick's pairwise sims). */
  def q128MmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Mmr
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") < MmrQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val rel = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.cosineSim(col("v"), col("qv")).as("rel"), col("v"))
      .filter(col("rel").isNotNull)
    val cand = rel.withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rel").desc, col("vec_id"))))
      .filter(col("rn") <= MmrCandN)
      .select(col("qid"), col("vec_id").as("vecId"), col("rel"), col("v"))
      .as[Mmr.Cand]
    Mmr.select(cand, MmrLambda, MmrPenalty, MmrK)
      .orderBy(col("query_id"), col("rank"))
  }

  lazy val oracleQ128: String = {
    val cosine = (a: String, b: String) =>
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
        s"sqrt(list_dot_product($b, $b)))"
    def round(n: Int): String =
      s"""s$n AS (
         |  SELECT t.qid, t.vec_id, t.rel, c.v, t.mmr, CAST($n AS INT) AS rank
         |  FROM (
         |    SELECT qid, vec_id, rel, mmr,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY mmr DESC, vec_id)
         |        AS rn
         |    FROM (
         |      SELECT c.qid, c.vec_id, c.rel,
         |        CAST('$MmrLambda' AS DOUBLE) * c.rel
         |          - CAST('$MmrPenalty' AS DOUBLE)
         |            * MAX(${cosine("c.v", "s.v")}) AS mmr
         |      FROM cand c JOIN sel${n - 1} s ON s.qid = c.qid
         |      WHERE NOT EXISTS (SELECT 1 FROM sel${n - 1} x
         |        WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
         |      GROUP BY c.qid, c.vec_id, c.rel
         |    )
         |  ) t JOIN cand c ON c.qid = t.qid AND c.vec_id = t.vec_id
         |  WHERE t.rn = 1
         |), sel$n AS (
         |  SELECT * FROM sel${n - 1} UNION ALL SELECT * FROM s$n
         |)""".stripMargin
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |    CAST(embedding AS DOUBLE[])) > 0
       |), q AS (
       |  SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id < $MmrQueries
       |), rel AS (
       |  SELECT q.qid, e.vec_id, ${cosine("e.v", "q.qv")} AS rel, e.v
       |  FROM emb e, q WHERE e.vec_id <> q.qid
       |), cand AS (
       |  SELECT qid, vec_id, rel, v FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY rel DESC, vec_id) AS rn FROM rel
       |  ) WHERE rn <= $MmrCandN
       |), s1 AS (
       |  SELECT qid, vec_id, rel, v,
       |    CAST('$MmrLambda' AS DOUBLE) * rel AS mmr, CAST(1 AS INT) AS rank
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY rel DESC, vec_id) AS rn FROM cand) WHERE rn = 1
       |), sel1 AS (SELECT * FROM s1),
       |${(2 to MmrK).map(round).mkString(", ")}
       |SELECT qid AS query_id, rank, vec_id, mmr
       |FROM sel$MmrK ORDER BY query_id, rank""".stripMargin
  }

  /** JL projection: 64-dim embeddings → [[JlK]] dims with a deterministic
    * Achlioptas ±1 sign matrix (md5-derived per (row, col), embedded as
    * literals in BOTH engines). [[JlK]] = 16 makes the 1/√k scale exactly
    * 0.25 — no sqrt in the hot path. */
  val JlK = 16
  val JlD = 64
  val JlProbeN = 8

  private lazy val jlSigns: IndexedSeq[IndexedSeq[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Int = {
      val hex = md.digest(s"jl:$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1
      else -1
    }
    (0 until JlK).map(j => (0 until JlD).map(i => sign(j, i)))
  }

  /** q131 — Johnson-Lindenstrauss random projection (Achlioptas 2003
    * database-friendly ±1 form): project the [[JlD]]-dim embeddings to
    * [[JlK]] dims and report, for every probe pair, the original and
    * projected squared L2 distances and their distortion ratio — the
    * quantity the JL lemma bounds, and what a pipeline checks before
    * swapping the cheap projected vectors into its ANN recall path.
    *
    * Scale shape: the sign matrix is 1 KiB of LITERALS compiled into the
    * projection expression (k native codegen dot folds per row — no join,
    * no shuffle, no md5 at runtime); the whole projection is map-side.
    * The pair grid here is probe-bounded ([[JlProbeN]]² pairs); corpus-
    * scale consumers feed the projected column into the existing blocked
    * /banded pair machinery instead. */
  def q131JlProjection(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs
    val emb = Tables.embeddings(s, dir).filter(col("vec_id") < JlProbeN)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val proj = emb.select(col("vec_id"), col("v"),
      array(jlSigns.map(row =>
        (VectorExprs.dot(col("v"),
          array(row.map(x => lit(x.toDouble)): _*)) / lit(4.0))): _*).as("p"))
    val a = proj.select(col("vec_id").as("id1"), col("v").as("va"),
      col("p").as("pa"))
    val b = proj.select(col("vec_id").as("id2"), col("v").as("vb"),
      col("p").as("pb"))
    a.crossJoin(b).filter(col("id1") < col("id2"))
      .withColumn("orig_d2",
        VectorExprs.sumSquares(zip_with(col("va"), col("vb"), (x, y) => x - y)))
      .withColumn("proj_d2",
        VectorExprs.sumSquares(zip_with(col("pa"), col("pb"), (x, y) => x - y)))
      .filter(col("orig_d2") > 0)
      .select(col("id1"), col("id2"), col("orig_d2"), col("proj_d2"),
        (col("proj_d2") / col("orig_d2")).as("ratio"))
      .orderBy(col("id1"), col("id2"))
  }

  lazy val oracleQ131: String = {
    val rows = jlSigns.map(row =>
      "CAST([" + row.map(x => s"$x.0").mkString(", ") + "] AS DOUBLE[])")
    val pEntries = rows.map(r => s"list_dot_product(v, $r) / 4.0")
      .mkString(",\n    ")
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id < $JlProbeN
       |), proj AS (
       |  SELECT vec_id, v, [$pEntries] AS p FROM emb
       |), pairs AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2,
       |    list_transform(range(1, ${JlD + 1}),
       |      i -> a.v[CAST(i AS INT)] - b.v[CAST(i AS INT)]) AS dv,
       |    list_transform(range(1, ${JlK + 1}),
       |      i -> a.p[CAST(i AS INT)] - b.p[CAST(i AS INT)]) AS dp
       |  FROM proj a JOIN proj b ON a.vec_id < b.vec_id
       |)
       |SELECT id1, id2, list_dot_product(dv, dv) AS orig_d2,
       |  list_dot_product(dp, dp) AS proj_d2,
       |  list_dot_product(dp, dp) / list_dot_product(dv, dv) AS ratio
       |FROM pairs WHERE list_dot_product(dv, dv) > 0
       |ORDER BY id1, id2""".stripMargin
  }

  /** RRF constant (Cormack et al. 2009's k=60) and run cut for q134. */
  val RrfK = 60
  val RrfCut = 20
  val RrfTopN = 10

  /** q134 — reciprocal-rank fusion of three retrieval runs (cosine /
    * dot-product / negative-L2 rankings of the same query vector): the
    * standard zero-tuning combiner for hybrid retrieval (lexical +
    * dense, or multiple dense metrics). Per run, candidates cut at
    * rank ≤ [[RrfCut]]; fused score = Σ 1/([[RrfK]] + rank) over the
    * runs that retrieved the doc; top [[RrfTopN]] by (score, vec_id).
    *
    * Exactness: ranks are integers, each run contributes the double
    * `1/(k+rank)`, and the fused sum is the fixed-order three-term
    * expression `c + d + l` (null → 0) — no data-ordered summation
    * anywhere, so the gate pins it bit-exactly.
    *
    * Scale shape: the three scorings share ONE scan+broadcast of the
    * query vector (three score columns in a single projection); each
    * run's rank is a window over the top-cut; fusion is a 3-way
    * full-outer join on doc id of rank-cut-sized relations. */
  def q134RrfFusion(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("v").as("qv"))
    val scored = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.cosineSim(col("v"), col("qv")).as("s_cos"),
        VectorExprs.dot(col("v"), col("qv")).as("s_dot"),
        (-VectorExprs.sumSquares(zip_with(col("v"), col("qv"),
          (x, y) => x - y))).as("s_l2"))
    def run(scoreCol: String): DataFrame =
      scored.filter(col(scoreCol).isNotNull)
        .withColumn("rk", row_number().over(
          Window.orderBy(col(scoreCol).desc, col("vec_id"))))
        .filter(col("rk") <= RrfCut)
        .select(col("vec_id"), col("rk"))
    val fused = run("s_cos").withColumnRenamed("rk", "r_cos")
      .join(run("s_dot").withColumnRenamed("rk", "r_dot"),
        Seq("vec_id"), "full")
      .join(run("s_l2").withColumnRenamed("rk", "r_l2"),
        Seq("vec_id"), "full")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("r_cos")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_dot")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_l2")), lit(0.0)))
    fused.orderBy(col("rrf").desc, col("vec_id")).limit(RrfTopN)
      .select(col("vec_id"), col("r_cos"), col("r_dot"), col("r_l2"),
        col("rrf"))
      .orderBy(col("rrf").desc, col("vec_id"))
  }

  lazy val oracleQ134: String = {
    val cosine =
      "list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * " +
        "sqrt(list_dot_product(qv, qv)))"
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
       |scored AS (
       |  SELECT vec_id, $cosine AS s_cos,
       |    list_dot_product(v, qv) AS s_dot,
       |    -list_dot_product(dv, dv) AS s_l2
       |  FROM (SELECT e.vec_id, e.v, q.qv,
       |      list_transform(range(1, ${JlD + 1}),
       |        i -> e.v[CAST(i AS INT)] - q.qv[CAST(i AS INT)]) AS dv
       |    FROM emb e, q WHERE e.vec_id <> 0)
       |), rc AS (
       |  SELECT vec_id, rk FROM (SELECT vec_id, ROW_NUMBER() OVER
       |    (ORDER BY s_cos DESC, vec_id) AS rk FROM scored
       |    WHERE s_cos IS NOT NULL) WHERE rk <= $RrfCut
       |), rd AS (
       |  SELECT vec_id, rk FROM (SELECT vec_id, ROW_NUMBER() OVER
       |    (ORDER BY s_dot DESC, vec_id) AS rk FROM scored) WHERE rk <= $RrfCut
       |), rl AS (
       |  SELECT vec_id, rk FROM (SELECT vec_id, ROW_NUMBER() OVER
       |    (ORDER BY s_l2 DESC, vec_id) AS rk FROM scored) WHERE rk <= $RrfCut
       |), fused AS (
       |  SELECT COALESCE(rc.vec_id, rd.vec_id, rl.vec_id) AS vec_id,
       |    rc.rk AS r_cos, rd.rk AS r_dot, rl.rk AS r_l2,
       |    COALESCE(1.0 / ($RrfK + rc.rk), 0.0)
       |      + COALESCE(1.0 / ($RrfK + rd.rk), 0.0)
       |      + COALESCE(1.0 / ($RrfK + rl.rk), 0.0) AS rrf
       |  FROM rc
       |  FULL JOIN rd ON rd.vec_id = rc.vec_id
       |  FULL JOIN rl ON rl.vec_id = COALESCE(rc.vec_id, rd.vec_id)
       |)
       |SELECT vec_id, r_cos, r_dot, r_l2, rrf FROM fused
       |ORDER BY rrf DESC, vec_id LIMIT $RrfTopN""".stripMargin
  }

  /** q145 — per-document n-gram NOVELTY: for each doc, the fraction of
    * its distinct shingles whose globally FIRST occurrence (min doc_id)
    * is this doc — the freshness/memorization profile dataset curators
    * chart over ingest order (a collapsing novelty curve means the crawl
    * is re-reading itself; a doc near 0 is assembled from seen text even
    * if no single source passes the q15 resemblance bar).
    *
    * Scale shape: shingle-hash carrier built map-side; first-occurrence
    * is ONE map-side-combined min aggregation on the hash; the novelty
    * count is an aggregation over the exploded carrier joined to that
    * dim on the hash (fan-out = occurrence count, linear); one doc-keyed
    * rollup. Nothing pairwise anywhere — novelty is the linear-cost
    * cousin of the quadratic dup-pair queries. */
  def q145NoveltyCurve(s: SparkSession, dir: String): DataFrame = {
    val harrs = Dedup.shingleHashArrays(Tables.documents(s, dir), "doc_id",
      "text", ShingleK)
    Materialize.withMaterialized(harrs) { h =>
      val ex = h.select(col("doc_id"), explode(col("harr")).as("el"))
      val firstDoc = ex.groupBy(col("el")).agg(min(col("doc_id")).as("fd"))
      Materialize.sorted(ex.join(firstDoc, Seq("el"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kgrams"),
          count(when(col("fd") === col("doc_id"), lit(1))).as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_kgrams").cast("double")),
        col("doc_id"))
    }
  }

  lazy val oracleQ145: String =
    s"""$shingleHashCtes, fd AS (
       |  SELECT h60, MIN(doc_id) AS fd FROM hs0 GROUP BY h60
       |)
       |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kgrams,
       |  CAST(COUNT(*) FILTER (f.fd = s.doc_id) AS BIGINT) AS n_novel,
       |  CAST(COUNT(*) FILTER (f.fd = s.doc_id) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS novelty
       |FROM hs0 s JOIN fd f USING (h60)
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** q152 — LSH CALIBRATION report: per estimated-similarity decile, how
    * far the [[NumHashes]]-component minhash estimate m/n sits from the
    * exact shingle Jaccard on the SAME candidate pairs — the empirical
    * artifact that justifies a chosen (bands, rows) configuration before
    * pointing the q15 pipeline at a new corpus (est⁻exact bias per decile
    * is exactly what moves when n or the banding changes).
    *
    * Exactness: both ratios are quantized by pure integer arithmetic —
    * x6 = (2·10⁶·num + den) ÷ (2·den) is floor(num/den·10⁶ + ½) without
    * touching a double — so per-bucket sums and the absolute errors are
    * exact BIGINTs; the only doubles are the final per-bucket means.
    *
    * Scale shape: candidates come from the banded self-join (never
    * all-pairs); the match count is a candidate-bounded join against the
    * slim wide-signature relation, the exact side a candidate-bounded
    * join against the hashed-shingle carrier; the decile rollup is a
    * ≤10-group aggregation. The four lookup sides keep a shuffle_hash
    * hint by measurement: with them deleted q152 ran 32.7 s at the sf1
    * equivalent against 32.2 s hinted, outside the hinted runs' 0.1 s
    * spread (PLANS.md "One pin entry"). */
  def q152LshCalibration(s: SparkSession, dir: String): DataFrame = {
    val n = NumHashes
    Materialize.withMaterialized(Dedup.shingleHashArrays(
        Tables.documents(s, dir), "doc_id", "text", ShingleK)) { harrs =>
      val sig = Dedup.minhashSignaturesFromHashes(harrs, "doc_id", n)
      val cand = Dedup.minhashCandidates(sig, "doc_id", RowsPerBand)
      val s1 = sig.select(col("doc_id").as("id1") +:
        (0 until n).map(i => col(s"mh$i").as(s"__a$i")): _*).hint("shuffle_hash")
      val s2 = sig.select(col("doc_id").as("id2") +:
        (0 until n).map(i => col(s"mh$i").as(s"__b$i")): _*).hint("shuffle_hash")
      val m = (0 until n).map(i =>
        when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val a1 = harrs.select(col("doc_id").as("id1"), col("harr").as("__h1"))
        .hint("shuffle_hash")
      val a2 = harrs.select(col("doc_id").as("id2"), col("harr").as("__h2"))
        .hint("shuffle_hash")
      val paired = Materialize.pin(cand
        .join(s1, Seq("id1")).join(s2, Seq("id2"))
        .withColumn("m", m)
        .select(col("id1"), col("id2"), col("m"))
        .join(a1, Seq("id1")).join(a2, Seq("id2"))
        .withColumn("i",
          graft.functions.SortedIntersectExpr.count(col("__h1"), col("__h2")))
        .withColumn("u", size(col("__h1")).cast("long")
          + size(col("__h2")).cast("long") - col("i"))
        .select(col("id1"), col("id2"), col("m"), col("i"), col("u")))
      // candidate-bounded; stops filter/agg pushdown from re-evaluating
      // the intersects (rule 8)
      Materialize.pin(paired
        .withColumn("bucket", least(expr(s"m * 10 DIV $n"), lit(9L)))
        .withColumn("est6", expr(s"(2000000 * m + $n) DIV (2 * $n)"))
        .withColumn("j6", expr("(2000000 * i + u) DIV (2 * u)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("est6")).as("sum_est6"),
          sum(col("j6")).as("sum_j6"),
          sum(abs(col("est6") - col("j6"))).as("sum_abs_err6"))
        .withColumn("mae",
          col("sum_abs_err6").cast("double") / lit(1e6) / col("n_pairs")))
        .orderBy(col("bucket"))
    }
  }

  lazy val oracleQ152: String =
    s"""$minhashCtes, mm AS (
       |  SELECT c.id1, c.id2,
       |    CAST(SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) AS BIGINT)
       |      AS m
       |  FROM cand c
       |  JOIN sig s1 ON s1.doc_id = c.id1
       |  JOIN sig s2 ON s2.doc_id = c.id2 AND s2.i = s1.i
       |  GROUP BY c.id1, c.id2
       |), sz AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM hs0
       |  GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS i1, b.doc_id AS i2, CAST(COUNT(*) AS BIGINT) AS i
       |  FROM hs0 a JOIN hs0 b USING (h60)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
       |), pairs2 AS (
       |  SELECT c.id1, c.id2, mm.m, COALESCE(it.i, 0) AS i,
       |    s1.sz + s2.sz - COALESCE(it.i, 0) AS u
       |  FROM cand c
       |  JOIN mm ON mm.id1 = c.id1 AND mm.id2 = c.id2
       |  LEFT JOIN inter it ON it.i1 = c.id1 AND it.i2 = c.id2
       |  JOIN sz s1 ON s1.doc_id = c.id1
       |  JOIN sz s2 ON s2.doc_id = c.id2
       |), scored AS (
       |  SELECT least(m * 10 // $NumHashes, 9) AS bucket,
       |    (2000000 * m + $NumHashes) // (2 * $NumHashes) AS est6,
       |    (2000000 * i + u) // (2 * u) AS j6
       |  FROM pairs2
       |)
       |SELECT CAST(bucket AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(est6) AS BIGINT) AS sum_est6,
       |  CAST(SUM(j6) AS BIGINT) AS sum_j6,
       |  CAST(SUM(ABS(est6 - j6)) AS BIGINT) AS sum_abs_err6,
       |  CAST(SUM(ABS(est6 - j6)) AS DOUBLE) / 1e6 / COUNT(*) AS mae
       |FROM scored GROUP BY bucket ORDER BY bucket""".stripMargin

  def q16Simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Exact cosine top-k vs the vec_id=0 query vector (pgvector `<=>` top-k,
    * 00101:86-95) — query vector joined in-plan (broadcast), math in double. */
  def q17CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.asDouble(col("embedding")).as("qv"))
    val dot = graft.functions.dotProduct(col("v"), col("qv"))
    val sim = dot / (sqrt(graft.functions.dotProduct(col("v"), col("v"))) *
      sqrt(graft.functions.dotProduct(col("qv"), col("qv"))))
    emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), sim.as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** 2-D grid chunk edge for q18's blocked decomposition: sf0.01 label
    * blocks run ~50-60 rows (nc = 2) and sf0.1 ~220 (nc = 6), so the gate
    * exercises real multi-cell grids at both SFs. */
  val PairChunk = 40

  /** Embedding near-dup pairs within a label block above a cosine
    * threshold — EXACT block-join semantics (the oracle is the plain
    * quadratic join, unchanged), executed as the skew-safe 2-D blocked
    * decomposition ([[Similarity.cosinePairsBlocked]]): per-task work is
    * bounded at ~[[PairChunk]]² comparisons, so one hot label at 100×
    * parallelizes across (bsz/chunk)² tasks instead of concentrating in
    * one straggler. The recall-trading variant (hyperplane sub-buckets,
    * [[Similarity.cosinePairsCapped]]) is gated separately as q48. */
  def q18EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairsBlocked(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", PairChunk, CosineThreshold)
      .select(col("label"), col("id1"), col("id2"), col("cosine_sim"))
      .orderBy(col("id1"), col("id2"))

  /** §2.6 multi-probe hyperplane-LSH ANN — q17's 100 TB scale path with
    * the recall cliff of single-probe LSH addressed: probe the query's
    * bucket plus the near-boundary 1-bit flips (Similarity.annTopKMultiProbe).
    * The query vector + probe set are O(nPlanes) driver scalars (same
    * pattern as IVF probe-cell selection). */
  def q47AnnMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val query = emb.filter(col("vec_id") === 0)
      .select(Similarity.asDouble(col("embedding")).as("q"))
      .head().getSeq[Double](0).toIndexedSeq
    Similarity.annTopKMultiProbe(emb.filter(col("vec_id") =!= 0), "vec_id",
      "embedding", query, AnnDims, AnnPlanes, k = 10, nProbe = AnnProbes)
  }

  /** Near-dup CLUSTERING — the dedup pipeline's final step: connected
    * components over the LSH-verified pair graph
    * ([[Dedup.connectedComponents]]), cluster = smallest member id,
    * `is_canonical` marks the one document per cluster a dedup pass would
    * keep. */
  def q61NearDupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        q15NearDupPairs(s, dir).select(col("id1"), col("id2")))
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
      .orderBy(col("doc_id"))

  // lazy: derived from oracleQ15, which is declared later in this object.
  // `pairs AS MATERIALIZED` is load-bearing: under WITH RECURSIVE DuckDB
  // inlines non-materialized CTEs into the recursive term, re-evaluating
  // the whole LSH pipeline every iteration — at sf0.1 that exhausted 80 GB
  // of temp disk; materialized it completes in ~30 s. Shared by the q61
  // clustering oracle and the q69 dedup-applied corpus oracle; ends inside
  // the CTE list (after `reach`), ready for more CTEs or a final SELECT.
  private[queries] lazy val clusterCtes: String = {
    val withRecursive = oracleQ15.replaceFirst("^WITH ", "WITH RECURSIVE ")
    val out = withRecursive.replace(""")
SELECT c.id1, c.id2,
  CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS jaccard
FROM cand c
JOIN inter ON inter.i1 = c.id1 AND inter.i2 = c.id2
JOIN sz s1 ON s1.doc_id = c.id1
JOIN sz s2 ON s2.doc_id = c.id2
WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= """ + JaccardThreshold +
        "\nORDER BY id1, id2",
        s"""), pairs AS MATERIALIZED (
           |  SELECT c.id1, c.id2
           |  FROM cand c
           |  JOIN inter ON inter.i1 = c.id1 AND inter.i2 = c.id2
           |  JOIN sz s1 ON s1.doc_id = c.id1
           |  JOIN sz s2 ON s2.doc_id = c.id2
           |  WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= $JaccardThreshold
           |), bedges AS (
           |  SELECT id1 AS a, id2 AS b FROM pairs
           |  UNION ALL SELECT id2, id1 FROM pairs
           |), verts AS (
           |  SELECT DISTINCT a AS id FROM bedges
           |), reach(a, b) AS (
           |  SELECT id, id FROM verts
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN bedges e ON e.a = r.b
           |)""".stripMargin)
    // the replace() is an exact-literal match on oracleQ15's tail — if that
    // tail is ever edited the replace silently no-ops and the clustering
    // oracles degenerate into q15's pair query; fail loudly at first use
    require(out != withRecursive,
      "clusterCtes: oracleQ15's final SELECT changed — update the literal " +
        "being replaced when deriving the clustering oracle")
    out
  }

  lazy val oracleQ61: String =
    clusterCtes + """
SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster,
  (a = MIN(b)) AS is_canonical
FROM reach GROUP BY a ORDER BY doc_id"""

  /** q61's clustering semantics under the ALTERNATE algorithm — star
    * contraction ([[Dedup.connectedComponentsStars]], Kiveris SoCC'14,
    * O(log n) rounds on any topology vs min-label's diameter-many). Gated
    * against the same reachability oracle: connected components are a
    * semantic contract, so any correct algorithm must hash-match it —
    * which is exactly what makes having both implementations cheap to
    * keep honest. */
  def q79NearDupClustersStars(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponentsStars(
        q15NearDupPairs(s, dir).select(col("id1"), col("id2")))
      .withColumn("is_canonical", col("doc_id") === col("cluster"))
      .orderBy(col("doc_id"))

  lazy val oracleQ79: String = oracleQ61

  /** Minimum eps-neighborhood size (INCLUDING the point itself) for a
    * document to be a DBSCAN core in q150. */
  val DbscanMinPts = 3

  /** Terms reported per cluster by q151. */
  val ClusterLabelTopK = 5

  /** q151 — c-TF-IDF cluster labeling (the BERTopic class-TF-IDF
    * statistic): for each near-dup cluster, the [[ClusterLabelTopK]]
    * terms maximizing tf_{c,t} · ln(1 + A/f_t), where f_t is the term's
    * frequency across all clustered docs and A the average tokens per
    * cluster — the human-readable "what is this duplicate group ABOUT"
    * report curators attach to dedup audits.
    *
    * Exactness: with A = T/C, ln(1 + A/f_t) = ln((C·f_t + T)/(C·f_t)) —
    * a ln of one exact-integer ratio, quantized to the repo's
    * floor(x·1e6 + 0.5) BIGINT convention (q81's lp6 discipline), so the
    * score tf·idf6 is exact integer arithmetic and the top-K cut is
    * deterministic (score desc, term).
    *
    * Scale shape: the per-(cluster, term) count is the ONLY corpus-sized
    * aggregation (one map-side-combined shuffle of the exploded tokens);
    * f_t, T, and C all derive from that materialized carrier — the token
    * stream is never re-read; the final rank runs per cluster over its
    * distinct terms (WindowGroupLimit prunes to top-K per partition). */
  def q151ClusterLabels(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = Dedup.connectedComponents(
      q15NearDupPairs(s, dir).select(col("id1"), col("id2")))
    val tf0 = Tables.documents(s, dir)
      .join(clusters.select(col("doc_id"), col("cluster")), Seq("doc_id"))
      .select(col("cluster"),
        explode(split(Text.normalize(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("cluster"), col("term"))
      .agg(count(lit(1)).as("tf"))
    Materialize.withMaterialized(tf0) { tf =>
      val ft = tf.groupBy(col("term")).agg(sum(col("tf")).as("ft"))
      val tot = tf.agg(sum(col("tf")).as("tt"))
      val nc = tf.select(col("cluster")).distinct()
        .agg(count(lit(1)).as("nc"))
      val idf6 = floor(log(
        (col("nc") * col("ft") + col("tt")).cast("double")
          / (col("nc") * col("ft")).cast("double")) * lit(1e6) + lit(0.5))
        .cast("long")
      val scored = tf
        .join(ft, Seq("term"))
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(nc))
        .withColumn("idf6", idf6)
        .withColumn("score", col("tf") * col("idf6"))
      val rk = row_number().over(Window.partitionBy(col("cluster"))
        .orderBy(col("score").desc, col("term")))
      Materialize.sorted(scored.withColumn("rk", rk)
        .filter(col("rk") <= ClusterLabelTopK)
        .select(col("cluster"), col("term"), col("tf"), col("ft"),
          col("idf6"), col("score"), col("rk").cast("long").as("rk")),
        col("cluster"), col("rk"))
    }
  }

  lazy val oracleQ151: String =
    clusterCtes + s""", cl AS (
  SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster FROM reach GROUP BY a
), ctoks AS (
  SELECT c.cluster, t.tok AS term
  FROM (SELECT doc_id, unnest(string_split(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents) t
  JOIN cl c USING (doc_id)
  WHERE len(t.tok) > 0
), tf AS (
  SELECT cluster, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ctoks GROUP BY cluster, term
), ft AS (
  SELECT term, CAST(SUM(tf) AS BIGINT) AS ft FROM tf GROUP BY term
), tot AS (
  SELECT CAST(SUM(tf) AS BIGINT) AS tt FROM tf
), ncl AS (
  SELECT CAST(COUNT(DISTINCT cluster) AS BIGINT) AS nc FROM tf
), scored AS (
  SELECT f.cluster, f.term, f.tf, g.ft,
    CAST(floor(ln(CAST(n.nc * g.ft + t.tt AS DOUBLE)
      / CAST(n.nc * g.ft AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS idf6
  FROM tf f JOIN ft g USING (term) CROSS JOIN tot t CROSS JOIN ncl n
), ranked AS (
  SELECT cluster, term, tf, ft, idf6,
    CAST(tf * idf6 AS BIGINT) AS score,
    row_number() OVER (PARTITION BY cluster
      ORDER BY tf * idf6 DESC, term) AS rk
  FROM scored
)
SELECT cluster, term, tf, ft, idf6, score, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= $ClusterLabelTopK
ORDER BY cluster, rk"""

  /** q150 — DBSCAN-discipline clustering of the near-dup graph: core =
    * a doc with ≥ [[DbscanMinPts]]−1 neighbors at jaccard ≥ threshold,
    * border = non-core adjacent to a core (assigned the smallest cluster
    * label among its core neighbors), noise = everything else. Clusters
    * are connected components of the CORE-CORE subgraph (Ester et al.
    * KDD'96 density-reachability, with the q15 eps-neighborhood).
    *
    * Why alongside q61: plain CC merges through EVERY verified pair, so
    * one borderline false-positive pair chains two unrelated dup groups
    * into one cluster; DBSCAN only chains through core points, so
    * low-degree bridge pairs become border/noise instead of merge edges —
    * the principled anti-chaining variant of dedup clustering at corpus
    * scale.
    *
    * Scale shape: everything after q15's candidate-bounded pair set is
    * pair-bounded — degree count, core filter, core-core semi-joins, CC
    * over the (smaller) core subgraph, one min-label border aggregation;
    * the only corpus-sized relation is the final doc_id left-join roll-up.
    * No broadcast assumptions: cluster maps join by key (at 100 TB a
    * 30%-dup corpus's cluster map outgrows a broadcast). */
  def q150Dbscan(s: SparkSession, dir: String): DataFrame =
    Dedup.dbscanRoles(q15NearDupPairs(s, dir).select(col("id1"), col("id2")),
        Tables.documents(s, dir).select(col("doc_id")), DbscanMinPts)
      .orderBy(col("doc_id"))

  // DuckDB allows several recursive CTEs in one WITH RECURSIVE list, so
  // this appends a core-restricted reachability (reach2) after
  // clusterCtes; the unreferenced full `reach` is never evaluated.
  lazy val oracleQ150: String =
    clusterCtes + s""", deg AS (
  SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS c FROM bedges GROUP BY a
), core AS (
  SELECT id FROM deg WHERE c + 1 >= $DbscanMinPts
), coreedges AS (
  SELECT a, b FROM bedges
  WHERE a IN (SELECT id FROM core) AND b IN (SELECT id FROM core)
), reach2(a, b) AS (
  SELECT id, id FROM core
  UNION
  SELECT r.a, e.b FROM reach2 r JOIN coreedges e ON e.a = r.b
), corecl AS (
  SELECT a AS id, CAST(MIN(b) AS BIGINT) AS cluster FROM reach2 GROUP BY a
), borders AS (
  SELECT e.a AS id, MIN(c.cluster) AS cluster
  FROM bedges e JOIN corecl c ON c.id = e.b
  WHERE e.a NOT IN (SELECT id FROM core)
  GROUP BY e.a
)
SELECT d.doc_id,
  CASE WHEN cc.id IS NOT NULL THEN 'core'
       WHEN bb.id IS NOT NULL THEN 'border'
       ELSE 'noise' END AS role,
  CAST(COALESCE(cc.cluster, bb.cluster) AS BIGINT) AS cluster
FROM documents d
LEFT JOIN corecl cc ON cc.id = d.doc_id
LEFT JOIN borders bb ON bb.id = d.doc_id
ORDER BY d.doc_id"""

  /** q136 — QUALITY-AWARE dedup keeper selection: within each near-dup
    * cluster keep the highest-quality member (tie: lowest doc_id), not
    * the arbitrary min-id canonical q61/q69 use. This is the keeper rule
    * real curation stacks prefer (SemDeDup and friends keep the best
    * exemplar, dropping near-dups of LOWER quality); min-id is only
    * right when members are interchangeable. Quality compares as the
    * 1e-6 scaled INTEGER (q13's score quantized), so the argmax has no
    * FP-tie ambiguity.
    *
    * Scale shape: clusters come from the gated CC; quality joins on
    * doc_id; the keeper is one grouped max over a (q6, -doc_id) struct
    * (combinable — no window over the corpus), joined back onto the
    * cluster-member relation (pair-graph-sized, not corpus-sized). */
  def q136QualityKeeper(s: SparkSession, dir: String): DataFrame = {
    val cc = Dedup.connectedComponentsAdaptive(
      q15NearDupPairs(s, dir).select(col("id1"), col("id2")))
    val qv = Tables.documents(s, dir).select(col("doc_id"),
      floor(Text.qualityScore(col("text")) * lit(1e6) + lit(0.5)).as("q6"))
    val mq = cc.select(col("doc_id"), col("cluster")).join(qv, Seq("doc_id"))
    val keeper = mq.groupBy(col("cluster"))
      .agg(max(struct(col("q6"), (-col("doc_id")).as("nid"))).as("k"))
      .select(col("cluster"), (-col("k.nid")).as("keeper"))
    mq.join(keeper, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("q6"), col("keeper"),
        (col("doc_id") === col("keeper")).as("keep"))
      .orderBy(col("doc_id"))
  }

  lazy val oracleQ136: String =
    s"""$clusterCtes, mem AS (
       |  SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster
       |  FROM reach GROUP BY a
       |), qv AS (
       |  SELECT doc_id, CAST(floor(($qualityExpr) * 1e6 + 0.5) AS BIGINT)
       |    AS q6
       |  FROM (SELECT doc_id, text,
       |      len(regexp_extract_all(text, '\\w+')) AS n_tokens,
       |      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ',
       |        'g'), ' ') AS toks
       |    FROM documents) t
       |), mq AS (
       |  SELECT mem.doc_id, mem.cluster, qv.q6
       |  FROM mem JOIN qv USING (doc_id)
       |), kp AS (
       |  SELECT cluster, doc_id AS keeper FROM (
       |    SELECT cluster, doc_id, ROW_NUMBER() OVER (PARTITION BY cluster
       |      ORDER BY q6 DESC, doc_id) AS rn FROM mq) WHERE rn = 1
       |)
       |SELECT mq.doc_id, mq.cluster, mq.q6, kp.keeper,
       |  (mq.doc_id = kp.keeper) AS keep
       |FROM mq JOIN kp USING (cluster) ORDER BY doc_id""".stripMargin

  /** Semantic-contamination flag threshold for q137. */
  val SemContamTau = 0.92

  /** q137 — SEMANTIC decontamination (the dense-embedding counterpart of
    * q68's exact k-gram screen, per the contamination analyses in GPT-3
    * §4 / PaLM app. / SemDeDup): for every TRAIN document (vec_id =
    * doc_id contract), the maximum cosine to any EVAL-benchmark
    * document ([[graft.queries.Curation.DecontamEvalSource]]) and the
    * eval doc attaining it; `contaminated` flags max-cos ≥
    * [[SemContamTau]]. Catches paraphrase-level leakage exact n-gram
    * overlap misses.
    *
    * Scale shape: the eval benchmark is SMALL by nature — it broadcasts
    * (same asymmetry q68 exploits), the train corpus never shuffles, and
    * the per-train argmax is a combinable grouped max over a
    * (cos, -eval_id) struct. Train-side norms are hoisted per row
    * (rule 9), native codegen dot folds do the math. */
  def q137SemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs
    val evalIds = Tables.documents(s, dir)
      .filter(col("source") === Curation.DecontamEvalSource)
      .select(col("doc_id").as("vec_id"))
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(VectorExprs.sumSquares(col("v")) > 0)
    val evalV = emb.join(evalIds, Seq("vec_id"))
      .select(col("vec_id").as("eid"), col("v").as("ev"))
    val trainV = emb.join(evalIds, Seq("vec_id"), "left_anti")
    trainV.crossJoin(broadcast(evalV))
      .select(col("vec_id"),
        struct(graft.functions.cosineSim(col("v"), col("ev")).as("c"),
          (-col("eid")).as("ne")).as("s"))
      .groupBy(col("vec_id"))
      .agg(max(col("s")).as("m"))
      .select(col("vec_id"), (-col("m.ne")).as("best_eval"),
        col("m.c").as("max_cos"),
        (col("m.c") >= SemContamTau).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  lazy val oracleQ137: String = {
    val cosine =
      "list_dot_product(v, evv) / (sqrt(list_dot_product(v, v)) * " +
        "sqrt(list_dot_product(evv, evv)))"
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |    CAST(embedding AS DOUBLE[])) > 0
       |), evset AS (
       |  SELECT e.vec_id AS eid, e.v AS evv FROM emb e
       |  JOIN documents d ON d.doc_id = e.vec_id
       |  WHERE d.source = '${Curation.DecontamEvalSource}'
       |), tr AS (
       |  SELECT e.vec_id, e.v FROM emb e
       |  WHERE e.vec_id NOT IN (SELECT eid FROM evset)
       |), scored AS (
       |  SELECT t.vec_id, s.eid, $cosine AS c
       |  FROM tr t CROSS JOIN evset s
       |), best AS (
       |  SELECT vec_id, eid, c FROM (
       |    SELECT vec_id, eid, c, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, eid) AS rn FROM scored) WHERE rn = 1
       |)
       |SELECT vec_id, eid AS best_eval, c AS max_cos,
       |  (c >= $SemContamTau) AS contaminated
       |FROM best ORDER BY vec_id""".stripMargin
  }

  /** The dedup pipeline APPLIED, end to end: shingle → MinHash-LSH
    * candidates → Jaccard verify → connected components → drop every
    * non-canonical cluster member → per-source surviving-corpus report.
    * This is the program a training-data pipeline actually runs nightly;
    * q14/q15/q61 gate its stages, this gates the composition.
    *
    * Scale shape: the drop set (non-canonical members) is tiny relative to
    * the corpus — the final join is a broadcast left join carrying only
    * doc_id, so the full-corpus side never shuffles; the per-source report
    * is one map-side-combined aggregation. */
  def q69DedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dropped = Dedup.connectedComponentsAdaptive(
        q15NearDupPairs(s, dir).select(col("id1"), col("id2")))
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id"), lit(1).as("__drop"))
    docs.join(broadcast(dropped), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__drop").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("__drop").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__drop").isNull, col("n_chars"))).as("kept_chars"),
        sum(when(col("__drop").isNull,
          Text.tokenCount(col("text")).cast("long"))).as("kept_tokens"))
      .orderBy(col("source"))
  }

  lazy val oracleQ69: String =
    clusterCtes + """, dropped AS (
  SELECT a AS doc_id FROM reach GROUP BY a HAVING a <> MIN(b)
)
SELECT d.source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed,
  CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN d.n_chars END) AS BIGINT)
    AS kept_chars,
  CAST(SUM(CASE WHEN dr.doc_id IS NULL
    THEN len(regexp_extract_all(d.text, '\w+')) END) AS BIGINT)
    AS kept_tokens
FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
GROUP BY d.source ORDER BY d.source"""

  // BM25 (Robertson/Zaragoza) with Lucene's idf = ln(1 + (N-df+0.5)/(df+0.5))
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  /** Fixed query: one rare term (df ≈ 5% of docs) and two common ones. */
  val Bm25Query: Seq[String] = Seq("query", "vector", "dup")
  val Bm25TopK = 15

  /** BM25 top-k ranking over the corpus for the fixed [[Bm25Query]] —
    * keyword retrieval, the lexical complement of the embedding search
    * family (q17/q47/q57).
    *
    * Scale shape: corpus stats (N, avgdl) are a 1-row broadcast, per-term
    * document frequencies a |Q|-row broadcast; the only per-corpus
    * shuffles are the doc-length count and the (doc, term) tf count, both
    * map-side combined and term-filtered before the shuffle. Per-term
    * contributions are pivoted to columns and summed in fixed query order
    * so the double addition order is deterministic (FP addition is not
    * associative; a groupBy sum would be partial-agg-order-dependent). */
  /** Impact-list cut for q129. */
  val InvIndexTopK = 3

  /** q129 — inverted-index construction: per token, document frequency,
    * collection frequency, the md5 fingerprint of the FULL doc-ordered
    * posting list ("doc:tf,…"), and the top-[[InvIndexTopK]]
    * impact-ordered postings (tf desc — the entries an impact-ordered /
    * WAND-style query evaluator visits first). The retrieval-infra
    * counterpart to q71's BM25 scoring: q71 consumes these statistics,
    * this builds the index itself.
    *
    * Scale shape: (doc, tok) term frequencies are one map-side-combined
    * shuffle; the per-token rollup is a second. The known hazard is the
    * stop-token posting list (corpus-sized group state under
    * collect_list) — the impact cut is computed in the same aggregate and
    * is what a production index would PERSIST per block (doc-ordered
    * full lists live as segmented runs, not one array; the fingerprint
    * here stands in for those segments). */
  def q129InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(Text.normalize(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        sort_array(collect_list(struct(col("doc_id"), col("tf"))))
          .as("post"),
        sort_array(collect_list(struct((-col("tf")).as("ntf"),
          col("doc_id")))).as("imp"))
      .select(col("tok").as("token"), col("df"), col("cf"),
        md5(expr("array_join(transform(post, x -> " +
          "concat(x.doc_id, ':', x.tf)), ',')").cast("binary"))
          .as("postings_fp"),
        expr(s"array_join(transform(slice(imp, 1, $InvIndexTopK), " +
          "x -> concat(x.doc_id, ':', -x.ntf)), ',')").as("top_impact"))
      .orderBy(col("token"))
  }

  val oracleQ129: String =
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm)
       |  WHERE len(tok) > 0 GROUP BY doc_id, tok
       |), imp AS (
       |  SELECT tok, doc_id, tf,
       |    ROW_NUMBER() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id)
       |      AS rn
       |  FROM tf
       |), impcut AS (
       |  SELECT tok, string_agg(CAST(doc_id AS VARCHAR) || ':' ||
       |      CAST(tf AS VARCHAR), ',' ORDER BY tf DESC, doc_id)
       |    AS top_impact
       |  FROM imp WHERE rn <= $InvIndexTopK GROUP BY tok
       |)
       |SELECT f.tok AS token,
       |  CAST(COUNT(*) AS BIGINT) AS df,
       |  CAST(SUM(f.tf) AS BIGINT) AS cf,
       |  md5(string_agg(CAST(f.doc_id AS VARCHAR) || ':' ||
       |    CAST(f.tf AS VARCHAR), ',' ORDER BY f.doc_id)) AS postings_fp,
       |  ANY_VALUE(i.top_impact) AS top_impact
       |FROM tf f JOIN impcut i ON i.tok = f.tok
       |GROUP BY f.tok ORDER BY token""".stripMargin

  def q71Bm25(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(Text.normalize(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl").cast("double")).as("avgdl"))
    val tf = toks.filter(col("tok").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(df), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("__s",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            + lit(1.0)) *
          (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
    contrib.groupBy(col("doc_id")).pivot("tok", Bm25Query).agg(first(col("__s")))
      .withColumn("bm25", graft.functions.jsRound(
        Bm25Query.map(t => coalesce(col(s"`$t`"), lit(0.0))).reduceLeft(_ + _),
        6))
      .select(col("doc_id"), col("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  lazy val oracleQ71: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    val pivotSum = Bm25Query.map(t =>
        s"COALESCE(MAX(CASE WHEN tok = '$t' THEN sc END), 0.0)")
      .mkString("\n    + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM documents
       |), toks2 AS (
       |  SELECT doc_id, tok FROM toks WHERE len(tok) > 0
       |), dl AS (
       |  SELECT doc_id, COUNT(*) AS dl FROM toks2 GROUP BY doc_id
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM dl
       |), tf AS (
       |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks2
       |  WHERE tok IN ($terms) GROUP BY doc_id, tok
       |), df AS (
       |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
       |), contrib AS (
       |  SELECT t.doc_id, t.tok,
       |    ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
       |      * (t.tf * ${Bm25K1 + 1.0})
       |      / (t.tf + $Bm25K1 * (${1.0 - Bm25B} + $Bm25B * l.dl / s.avgdl))
       |      AS sc
       |  FROM tf t JOIN df d USING (tok) JOIN dl l USING (doc_id), stats s
       |), agg AS (
       |  SELECT doc_id,
       |    $pivotSum AS raw
       |  FROM contrib GROUP BY doc_id
       |)
       |SELECT doc_id, floor(raw * 1e6 + 0.5) / 1e6 AS bm25
       |FROM agg ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin
  }

  /** §2.6 IVF ANN with the deterministic coarse quantizer
    * ([[Similarity.ivfDeterministic]]): cells seeded by the 16 lowest-id
    * vectors, assign → probe the 4 nearest cells → exact cosine top-10
    * within them. The TRAINED quantizer ([[Similarity.ivfKmeansGated]])
    * is gated as q74; this variant gates the search semantics at
    * iteration zero. */
  /** Probe widths swept by q155. */
  val SweepNprobes: Seq[Int] = Seq(1, 2, 4, 8)
  val SweepQueries = 8
  val SweepK = 10

  /** q155 — IVF recall-vs-nprobe SWEEP: recall@[[SweepK]] of the
    * [[Similarity.ivfDeterministic]] index for every probe width in
    * [[SweepNprobes]], over [[SweepQueries]] held-out queries — the
    * tuning curve an ANN deployment reads before fixing nProbe (q57/q74
    * gate ONE operating point; this gates the whole curve).
    *
    * The sweep costs ONE assignment pass: recall(q, p) = #{exact top-k
    * members whose assigned cell has probe-rank ≤ p under q} / k — an
    * exact-top-k member inside the probed cells always survives the
    * probed-subset top-k cut (no more than k−1 vectors beat it anywhere),
    * so no per-p search is run at all. Cells, probe ranks and hit counts
    * are exact integers; recall is one final division.
    *
    * Scale shape: centroids and the query set are broadcast dims; the
    * corpus is scanned once for assignment and once for the exact top-k
    * (both argmin/top-k per row groups, WindowGroupLimit-prunable); the
    * sweep explode fans out k·|queries|·|probes| bounded rows. */
  def q155IvfSweep(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val vecs = emb.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val corpus = vecs.filter(col("vec_id") >= SweepQueries)
    val cents = vecs
      .filter(col("vec_id") >= SweepQueries &&
        col("vec_id") < SweepQueries + IvfCells)
      .select(col("vec_id").as("cell"), col("v").as("cv"))
    val queries = vecs.filter(col("vec_id") < SweepQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def l2m2dot(v: Column): Column =
      graft.functions.dotProduct(col("cv"), col("cv")) -
        lit(2.0) * graft.functions.dotProduct(v, col("cv"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("__score"), col("cell"))
    val assigned = corpus.crossJoin(broadcast(cents))
      .withColumn("__score", l2m2dot(col("v")))
      .withColumn("__rn", row_number().over(wAssign))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("cell"))
    val cos = graft.functions.dotProduct(col("v"), col("qv")) /
      (sqrt(graft.functions.dotProduct(col("v"), col("v"))) *
        sqrt(graft.functions.dotProduct(col("qv"), col("qv"))))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("__cos").desc, col("vec_id"))
    val topk = corpus.crossJoin(broadcast(queries))
      .withColumn("__cos", cos)
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= SweepK)
      .select(col("qid"), col("vec_id"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("__score"), col("cell"))
    val probeRank = cents.crossJoin(broadcast(queries))
      .withColumn("__score", l2m2dot(col("qv")))
      .select(col("qid"), col("cell"),
        row_number().over(wProbe).cast("long").as("pr"))
    val nprobes = SweepNprobes.map(p => lit(p.toLong))
    topk
      .join(assigned, Seq("vec_id"))
      .join(probeRank.hint("broadcast"), Seq("qid", "cell"))
      .crossJoin(broadcast(
        s.range(1).select(explode(array(nprobes: _*)).as("nprobe"))))
      .groupBy(col("qid"), col("nprobe"))
      .agg(sum(when(col("pr") <= col("nprobe"), 1L).otherwise(0L))
        .as("hits"))
      .withColumn("recall",
        col("hits").cast("double") / lit(SweepK.toDouble))
      .orderBy(col("qid"), col("nprobe"))
  }

  lazy val oracleQ155: String = {
    val probeValues = SweepNprobes.map(p => s"($p)").mkString(", ")
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), corpus AS (
       |  SELECT * FROM vecs WHERE vec_id >= $SweepQueries
       |), cents AS (
       |  SELECT vec_id AS cell, v AS cv FROM vecs
       |  WHERE vec_id >= $SweepQueries
       |    AND vec_id < ${SweepQueries + IvfCells}
       |), qs AS (
       |  SELECT vec_id AS qid, v AS qv FROM vecs
       |  WHERE vec_id < $SweepQueries
       |), assigned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT t.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
       |        list_dot_product(c.cv, c.cv)
       |          - 2.0 * list_dot_product(t.v, c.cv), c.cell) AS rn
       |    FROM corpus t, cents c
       |  ) WHERE rn = 1
       |), topk AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, t.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
       |        list_dot_product(t.v, q.qv)
       |          / (sqrt(list_dot_product(t.v, t.v))
       |             * sqrt(list_dot_product(q.qv, q.qv))) DESC,
       |        t.vec_id) AS rn
       |    FROM corpus t, qs q
       |  ) WHERE rn <= $SweepK
       |), pr AS (
       |  SELECT qid, cell, CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY list_dot_product(cv, cv)
       |      - 2.0 * list_dot_product(qv, cv), cell) AS BIGINT) AS pr
       |  FROM cents, qs
       |), np(nprobe) AS (VALUES $probeValues)
       |SELECT t.qid, CAST(np.nprobe AS BIGINT) AS nprobe,
       |  CAST(SUM(CASE WHEN a_pr.pr <= np.nprobe THEN 1 ELSE 0 END)
       |    AS BIGINT) AS hits,
       |  CAST(SUM(CASE WHEN a_pr.pr <= np.nprobe THEN 1 ELSE 0 END)
       |    AS DOUBLE) / ${SweepK.toDouble} AS recall
       |FROM topk t
       |JOIN assigned a ON a.vec_id = t.vec_id
       |JOIN pr a_pr ON a_pr.qid = t.qid AND a_pr.cell = a.cell
       |CROSS JOIN np
       |GROUP BY t.qid, np.nprobe
       |ORDER BY t.qid, nprobe""".stripMargin
  }

  def q57IvfSearch(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfDeterministic(Tables.embeddings(s, dir), "vec_id",
      "embedding", queryId = 0L, nCells = IvfCells, nProbe = IvfProbes, k = 10)

  val oracleQ57: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), cents AS (
       |  SELECT vec_id AS cell, v AS cv FROM vecs WHERE vec_id < $IvfCells
       |), q AS (
       |  SELECT v AS qv FROM vecs WHERE vec_id = 0
       |), assigned AS (
       |  SELECT vec_id, cell, v FROM (
       |    SELECT t.vec_id, c.cell, t.v,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
       |        list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(t.v, c.cv),
       |        c.cell) AS rn
       |    FROM vecs t, cents c WHERE t.vec_id <> 0
       |  ) WHERE rn = 1
       |), probes AS (
       |  SELECT cell FROM cents c, q
       |  ORDER BY list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(q.qv, c.cv),
       |    c.cell
       |  LIMIT $IvfProbes
       |)
       |SELECT a.vec_id,
       |  CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
       |        AND sqrt(list_dot_product(q.qv, q.qv)) > 0
       |  THEN list_dot_product(a.v, q.qv)
       |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv)))
       |  END AS cosine_sim
       |FROM assigned a JOIN probes p ON p.cell = a.cell, q
       |ORDER BY cosine_sim DESC, a.vec_id LIMIT 10""".stripMargin

  /** q77's batch split: docs with doc_id % 10 ≥ this are "today's batch",
    * the rest the standing corpus — deterministic and scale-stable. */
  val NewBatchMod = 8

  /** Incremental dedup: screen today's batch against the standing corpus
    * ([[Dedup.minhashCandidatesCross]]) without re-clustering it — the
    * nightly shape once a corpus exists (q14/q15/q61 build it; this keeps
    * it clean as new crawls land). Output: each new doc's best standing
    * match above the Jaccard threshold (ties to the lowest standing id) —
    * the drop/keep decision an incremental ingest applies. */
  def q77IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the carrier feeds two signature builds + both verify sides —
    // scoped-materialized; result leaves as an eager localCheckpoint
    Materialize.withMaterialized(Dedup.shingleHashArrays(
        docs, "doc_id", "text", ShingleK)) { harrs =>
      val isNew = col("doc_id") % 10 >= NewBatchMod
      val cand = Dedup.minhashCandidatesCross(
        Dedup.minhashSignaturesFromHashes(harrs.filter(isNew), "doc_id",
          NumHashes),
        Dedup.minhashSignaturesFromHashes(harrs.filter(!isNew), "doc_id",
          NumHashes),
        "doc_id", RowsPerBand)
      val w = Window.partitionBy(col("id1"))
        .orderBy(col("jaccard").desc, col("id2"))
      Materialize.sorted(Dedup.jaccardForCandidatesHashes(cand, harrs, "doc_id")
        .filter(col("jaccard") >= JaccardThreshold)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("id1").as("new_doc_id"), col("id2").as("dup_of"),
          col("jaccard")), col("new_doc_id"))
    }
  }

  lazy val oracleQ77: String =
    s"""$minhashCtes, xcand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM banded a JOIN banded b USING (band, bkey)
       |  WHERE a.doc_id % 10 >= $NewBatchMod AND b.doc_id % 10 < $NewBatchMod
       |), sz AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM hs0 GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS i1, b.doc_id AS i2, COUNT(*) AS i
       |  FROM hs0 a JOIN hs0 b USING (h60)
       |  WHERE a.doc_id % 10 >= $NewBatchMod AND b.doc_id % 10 < $NewBatchMod
       |  GROUP BY 1, 2
       |), jac AS (
       |  SELECT c.id1, c.id2,
       |    CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS jaccard
       |  FROM xcand c
       |  JOIN inter ON inter.i1 = c.id1 AND inter.i2 = c.id2
       |  JOIN sz s1 ON s1.doc_id = c.id1
       |  JOIN sz s2 ON s2.doc_id = c.id2
       |  WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= $JaccardThreshold
       |), top AS (
       |  SELECT id1, id2, jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY id1 ORDER BY jaccard DESC, id2)
       |      AS rn
       |  FROM jac
       |)
       |SELECT id1 AS new_doc_id, id2 AS dup_of, jaccard
       |FROM top WHERE rn = 1 ORDER BY new_doc_id""".stripMargin

  /** The STREAMING near-dup screen ([[graft.streaming.StreamNearDedup]])
    * run TO COMPLETION in-process — the stream ≡ batch claim as a
    * CORRECTNESS row, not just a spec: the q77 batch split's "today's
    * docs" arrive on a [[org.apache.spark.sql.execution.streaming.runtime.MemoryStream]]
    * in TWO micro-batches (so the screen must behave incrementally, not
    * one-shot), are LSH-banded with the exact batch expressions, joined
    * stream-static against the standing corpus's banded signatures, and
    * Jaccard-verified; the memory sink's accumulated output must
    * hash-match the pure-batch DuckDB oracle (every pair ≥ threshold —
    * the screen emits all matches; q77's top-1 rule is the ingest
    * policy's job).
    *
    * The driver-side collect feeds ONLY the in-process test transport —
    * it is the bounded "today's batch" slice by construction, and a
    * production deployment replaces MemoryStream with readStream
    * (Kafka/files); the screened plan itself is identical. */
  def q92StreamScreen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamNearDedup, StreamRunner}
    import graft.streaming.StreamNearDedup.Doc
    val docs = Tables.documents(s, dir)
    val isNew = col("doc_id") % 10 >= NewBatchMod
    val standing = docs.filter(!isNew).select(col("doc_id"), col("text"))
    // deterministic event times ascending in doc_id: batch 2 (higher ids)
    // is strictly later than batch 1, so nothing is watermark-late
    val arriving = docs.filter(isNew)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      .sortBy(_._1)
      .map { case (id, t) =>
        Doc(new java.sql.Timestamp(1704067200000L + id * 1000L), id, t) }
    // the standing banded relation is read by EVERY micro-batch —
    // materialize it once for the streaming run's whole lifetime (the
    // in-process analog of the bucketed standing table at real scale)
    Materialize.withMaterialized(
        StreamNearDedup.standingBanded(standing, ShingleK, NumHashes,
          RowsPerBand)) { sBand =>
      StreamRunner.sorted(s, StreamRunner.slices(arriving, 2), Nil)(
        StreamNearDedup.screenBanded(_, sBand, ShingleK, NumHashes,
          RowsPerBand, JaccardThreshold, lateness = "10 minutes"))(
        _.select(col("docId").as("new_doc_id"), col("dup_of"),
          col("jaccard")), col("new_doc_id"), col("dup_of"))
    }
  }

  /** The STREAMING ingest exact-dedup ([[graft.streaming.StreamDedup]])
    * run TO COMPLETION in-process, third of the streaming gates: every
    * document arrives on a MemoryStream, batch k carrying each
    * fingerprint's k-th occurrence — a pure transport arrangement that
    * makes the kept row the decision of the OPERATOR'S cross-batch
    * dedup state (Spark leaves within-batch tie-breaking arbitrary, so
    * co-batched duplicates would be a nondeterministic gate). The
    * lateness horizon exceeds the feed's event-time span, so no state
    * evicts mid-run and the kept set must equal batch q09's
    * first-per-fingerprint exactly; a production deployment sizes the
    * horizon to its re-crawl window and leans on the periodic batch
    * dedup for older dups (the documented lambda split). */
  def q94StreamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamDedup, StreamRunner}
    import graft.streaming.StreamDedup.Doc
    val ranked = Tables.documents(s, dir)
      .withColumn("fp", graft.functions.Text.fingerprint(col("text")))
      .withColumn("occ", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .select(col("doc_id"), col("text"), col("occ"))
      .as[(Long, String, Int)].collect()
    val stepMs = (ranked.map(_._1).max + 1) * 1000L + 601000L
    val batches = ranked.groupBy(_._3).toSeq.sortBy(_._1).map(_._2.toSeq
      .map { case (id, t, occ) =>
        Doc(new java.sql.Timestamp(
          1704067200000L + occ * stepMs + id * 1000L), id, t) })
    StreamRunner.sorted(s, batches, Nil)(
      StreamDedup.dedup(_, lateness = "3650 days"))(
      _.select(col("docId").as("doc_id"), col("fp")), col("doc_id"))
  }

  /** Same contract as batch q09: first doc per content fingerprint. */
  val oracleQ94: String =
    """SELECT doc_id, fp FROM (
      |  SELECT doc_id, fp, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |  FROM (SELECT doc_id,
      |          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |        FROM documents) t
      |) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  lazy val oracleQ92: String =
    s"""$minhashCtes, xcand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM banded a JOIN banded b USING (band, bkey)
       |  WHERE a.doc_id % 10 >= $NewBatchMod AND b.doc_id % 10 < $NewBatchMod
       |), sz AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM hs0 GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS i1, b.doc_id AS i2, COUNT(*) AS i
       |  FROM hs0 a JOIN hs0 b USING (h60)
       |  WHERE a.doc_id % 10 >= $NewBatchMod AND b.doc_id % 10 < $NewBatchMod
       |  GROUP BY 1, 2
       |)
       |SELECT c.id1 AS new_doc_id, c.id2 AS dup_of,
       |  CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS jaccard
       |FROM xcand c
       |JOIN inter ON inter.i1 = c.id1 AND inter.i2 = c.id2
       |JOIN sz s1 ON s1.doc_id = c.id1
       |JOIN sz s2 ON s2.doc_id = c.id2
       |WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= $JaccardThreshold
       |ORDER BY new_doc_id, dup_of""".stripMargin

  val IvfKmIters = 2

  /** §2.6 IVF ANN with a TRAINED coarse quantizer, oracle-gated end to
    * end ([[Similarity.ivfKmeansGated]]): two full Lloyd iterations from
    * the lowest-id seeds, then assign → probe → exact cosine. The
    * scaled-integer input carrier makes the centroid updates exact
    * integer math, so real k-means training replays bit-identically in
    * DuckDB — closing the gap where the trained quantizer (vs q57's
    * iteration-zero one) was only spec-gated. */
  def q74IvfKmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfKmeansGated(Tables.embeddings(s, dir), "vec_id",
      "embedding", queryId = 0L, nCells = IvfCells, iters = IvfKmIters,
      nProbe = IvfProbes, k = 10)

  // one Lloyd iteration: assignment under `prev` centroids, exact
  // integer component sums, list rebuild in pos order, empty cells keep
  // their previous centroid. `excl` restricts the training set (q74
  // holds out the query row; q86 trains on everything).
  private def kmIteration(prev: String, next: String, excl: String): String =
    s"""a_$next AS (
       |  SELECT vec_id, cell, v FROM (
       |    SELECT t.vec_id, c.cell, t.v,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
       |        list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(t.v, c.cv),
       |        c.cell) AS rn
       |    FROM vecs t, $prev c$excl
       |  ) WHERE rn = 1
       |), m_$next AS (
       |  SELECT cell, i AS pos, SUM(v[CAST(i AS INT)]) AS sx,
       |    COUNT(*) AS n
       |  FROM a_$next, range(1, ${AnnDims + 1}) r(i)
       |  GROUP BY cell, i
       |), u_$next AS (
       |  SELECT cell, list(sx / n ORDER BY pos) AS cv
       |  FROM m_$next GROUP BY cell
       |), $next AS (
       |  SELECT p.cell, COALESCE(u.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN u_$next u USING (cell)
       |)""".stripMargin

  lazy val oracleQ74: String = {
    def iteration(prev: String, next: String): String =
      kmIteration(prev, next, " WHERE t.vec_id <> 0")
    s"""WITH vecs0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings
       |), vecs AS (
       |  SELECT vec_id, vd,
       |    list_transform(vd, x -> floor(x * 1e6 + 0.5)) AS v
       |  FROM vecs0
       |), c0 AS (
       |  SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM vecs
       |  WHERE vec_id < $IvfCells
       |), ${iteration("c0", "c1")}, ${iteration("c1", "c2")}, q AS (
       |  SELECT v AS qv, vd AS qvd FROM vecs WHERE vec_id = 0
       |), probes AS (
       |  SELECT cell FROM c2, q
       |  ORDER BY list_dot_product(cv, cv) - 2.0 * list_dot_product(qv, cv),
       |    cell
       |  LIMIT $IvfProbes
       |), af AS (
       |  SELECT vec_id, cell, vd FROM (
       |    SELECT t.vec_id, c.cell, t.vd,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
       |        list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(t.v, c.cv),
       |        c.cell) AS rn
       |    FROM vecs t, c2 c WHERE t.vec_id <> 0
       |  ) WHERE rn = 1
       |)
       |SELECT af.vec_id,
       |  CASE WHEN sqrt(list_dot_product(af.vd, af.vd)) > 0
       |        AND sqrt(list_dot_product(q.qvd, q.qvd)) > 0
       |  THEN list_dot_product(af.vd, q.qvd)
       |    / (sqrt(list_dot_product(af.vd, af.vd))
       |       * sqrt(list_dot_product(q.qvd, q.qvd)))
       |  END AS cosine_sim
       |FROM af JOIN probes p ON p.cell = af.cell, q
       |ORDER BY cosine_sim DESC, af.vec_id LIMIT 10""".stripMargin
  }

  /** Cell counts swept by the q164 elbow. */
  val ElbowKs: Seq[Int] = Seq(4, 8, 16)

  /** q164 — k-means ELBOW sweep ([[Similarity.kmeansElbow]]): inertia
    * (exact per-row-quantized Σd²) and used-cell counts for each k in
    * [[ElbowKs]] under the gated exact-integer Lloyd trainer — the
    * model-selection curve behind q74's IvfCells and q86's SemDeDup cell
    * count, gated as a whole curve. The oracle replays all three
    * trainings with the q74 kmIteration chains under per-k CTE names. */
  def q164KmeansElbow(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansElbow(Tables.embeddings(s, dir), "vec_id",
      "embedding", ElbowKs, IvfKmIters)

  lazy val oracleQ164: String = {
    def chain(k: Int): String = {
      val (c0, c1, c2) = (s"c0k$k", s"c1k$k", s"c2k$k")
      s"""$c0 AS (
         |  SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM vecs
         |  WHERE vec_id < $k
         |), ${kmIteration(c0, c1, "")}, ${kmIteration(c1, c2, "")},
         |ak$k AS (
         |  SELECT vec_id, cell, sc, sd FROM (
         |    SELECT t.vec_id, c.cell,
         |      list_dot_product(c.cv, c.cv)
         |        - 2.0 * list_dot_product(t.v, c.cv) AS sc,
         |      list_dot_product(t.v, t.v) AS sd,
         |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
         |        list_dot_product(c.cv, c.cv)
         |          - 2.0 * list_dot_product(t.v, c.cv), c.cell) AS rn
         |    FROM vecs t, $c2 c
         |  ) WHERE rn = 1
         |), agg$k AS (
         |  SELECT CAST($k AS BIGINT) AS k,
         |    CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |    CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_cells_used,
         |    CAST(SUM(CAST(floor(sc + sd + 0.5) AS BIGINT)) AS BIGINT)
         |      AS inertia6
         |  FROM ak$k
         |)""".stripMargin
    }
    s"""WITH vecs0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings
       |), vecs AS MATERIALIZED (
       |  SELECT vec_id, vd,
       |    list_transform(vd, x -> floor(x * 1e6 + 0.5)) AS v
       |  FROM vecs0
       |), ${ElbowKs.map(chain).mkString(", ")}
       |${ElbowKs.map(k => s"SELECT * FROM agg$k").mkString("\nUNION ALL ")}
       |ORDER BY k""".stripMargin
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space, then drop all but one member of every
    * near-identical group WITHIN each cluster — semantic dedup that
    * scales because the quadratic pair search is confined to clusters.
    * Stage composition, each individually gated: the q74 exact-integer
    * Lloyd trainer ([[Similarity.kmeansAssign]], here with NO held-out
    * query), the q18 blocked exact pair search (cluster id as the block
    * key), and the q61 connected-components representative rule (keep
    * the min-id member of each similarity component).
    *
    * Scale shape: centroids broadcast; assignment is map-side argmin;
    * pairs use the 2-D blocked grid (per-task work ≤ chunk²); CC runs on
    * the pair graph only. The corpus never self-joins unblocked. */
  def q86SemDedup(s: SparkSession, dir: String): DataFrame = {
    val assigned = Similarity.kmeansAssign(Tables.embeddings(s, dir),
      "vec_id", "embedding", IvfCells, IvfKmIters)
    val pairs = Similarity.cosinePairsBlocked(assigned, "vec_id", "vd",
      "cell", PairChunk, CosineThreshold)
    val cc = Dedup.connectedComponentsAdaptive(pairs.select(col("id1"), col("id2")))
      .withColumnRenamed("doc_id", "vec_id")
    assigned.select(col("vec_id"), col("cell"))
      .join(broadcast(cc), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster"), col("vec_id")).as("rep"),
        (coalesce(col("cluster"), col("vec_id")) === col("vec_id")).as("kept"))
      .orderBy(col("vec_id"))
  }

  // whole-corpus k-means assignment CTEs (no held-out query): the oracle
  // face of Similarity.kmeansAssign, shared by q86 and q89. Ends at
  // `af(vec_id, cell, vd)`, ready for more CTEs.
  private lazy val kmeansAfCtes: String =
    s"""vecs0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings
       |), vecs AS (
       |  SELECT vec_id, vd,
       |    list_transform(vd, x -> floor(x * 1e6 + 0.5)) AS v
       |  FROM vecs0
       |), c0 AS (
       |  SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM vecs
       |  WHERE vec_id < $IvfCells
       |), ${kmIteration("c0", "c1", "")}, ${kmIteration("c1", "c2", "")},
       |af AS MATERIALIZED (
       |  SELECT vec_id, cell, vd FROM (
       |    SELECT t.vec_id, c.cell, t.vd,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
       |        list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(t.v, c.cv),
       |        c.cell) AS rn
       |    FROM vecs t, c2 c
       |  ) WHERE rn = 1
       |)""".stripMargin

  lazy val oracleQ86: String =
    s"""WITH RECURSIVE $kmeansAfCtes, pairs AS MATERIALIZED (
       |  -- zero-norm guard: same contract as the Spark side (null sim →
       |  -- pair dropped); unguarded NaN would pass NaN > t here
       |  SELECT a.vec_id AS id1, b.vec_id AS id2
       |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_dot_product(a.vd, a.vd) > 0
       |    AND list_dot_product(b.vd, b.vd) > 0
       |    AND list_dot_product(a.vd, b.vd)
       |      / (sqrt(list_dot_product(a.vd, a.vd))
       |         * sqrt(list_dot_product(b.vd, b.vd))) > $CosineThreshold
       |), bedges AS (
       |  SELECT id1 AS a, id2 AS b FROM pairs
       |  UNION ALL SELECT id2, id1 FROM pairs
       |), verts AS (
       |  SELECT DISTINCT a AS id FROM bedges
       |), reach(a, b) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN bedges e ON e.a = r.b
       |), rep AS (
       |  SELECT a AS vec_id, MIN(b) AS r FROM reach GROUP BY a
       |)
       |SELECT af.vec_id, af.cell,
       |  CAST(COALESCE(rep.r, af.vec_id) AS BIGINT) AS rep,
       |  COALESCE(rep.r, af.vec_id) = af.vec_id AS kept
       |FROM af LEFT JOIN rep USING (vec_id)
       |ORDER BY af.vec_id""".stripMargin

  val KnnK = 3

  /** Batch k-NN graph construction over the embedding corpus — the
    * primitive under SemDeDup variants, kNN-LM datastores, and
    * graph-based diversity selection: every vector's [[KnnK]] nearest
    * within-cell neighbors under the q74/q86 trained quantizer (IVF
    * restriction = the standard recall/cost trade; nProbe > 1 widens it,
    * as in q57/q74's probed search).
    *
    * Scale shape: one cell-keyed self-join of the assignment (cells
    * bound the quadratic work to Σ|cell|²; hot cells would take the q18
    * grid or the q48 cap — named, not needed at gate scale), per-row
    * norms hoisted, ranking per-vector windows. The shuffle key is the
    * cell, exactly how a 1000-executor IVF kNN join co-locates. */
  /** The q89 edge relation (id1, id2, cell, cosine_sim, rk ≤ k),
    * unordered — shared with the q195 beam search, whose navigation graph
    * is this kNN graph at a higher degree ([[BeamDegree]]; real graph-ANN
    * indexes use degree 16-64, and recall scales with it). */
  private def knnGraphRanked(s: SparkSession, dir: String,
                             k: Int): DataFrame = {
    val assigned = Similarity.kmeansAssign(Tables.embeddings(s, dir),
        "vec_id", "embedding", IvfCells, IvfKmIters)
      .withColumn("__n", graft.functions.l2Norm(col("vd")))
    val a = assigned.select(col("cell"), col("vec_id").as("id1"),
      col("vd").as("v1"), col("__n").as("__n1"))
    val b = assigned.select(col("cell"), col("vec_id").as("id2"),
      col("vd").as("v2"), col("__n").as("__n2"))
    val w = Window.partitionBy(col("id1"))
      .orderBy(col("cosine_sim").desc, col("id2"))
    // both sides are the whole vector set: shuffle_hash stays by
    // measurement (q89 at the sf1 equivalent, two runs: 14.1 and 10.8 s
    // hinted, 16.3 and 12.4 s without; PLANS.md "One pin entry")
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("cell"))
      .filter(col("id1") =!= col("id2"))
      .withColumn("cosine_sim",
        when(col("__n1") > 0 && col("__n2") > 0,
          graft.functions.dotProduct(col("v1"), col("v2"))
            / (col("__n1") * col("__n2"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("id1"), col("id2"), col("cell"), col("cosine_sim"),
        col("rk"))
  }

  def q89KnnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphRanked(s, dir, KnnK).orderBy(col("id1"), col("rk"))

  /** Shared q89/q195 oracle CTE prefix: the kNN-graph construction over
    * the trained-quantizer assignment, ending at `ranked(id1, id2, cell,
    * cosine_sim, rk)`. */
  private lazy val knnEdgeCtes: String =
    s"""$kmeansAfCtes, j AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2, a.cell,
       |    CASE WHEN sqrt(list_dot_product(a.vd, a.vd)) > 0
       |          AND sqrt(list_dot_product(b.vd, b.vd)) > 0
       |      THEN list_dot_product(a.vd, b.vd)
       |        / (sqrt(list_dot_product(a.vd, a.vd))
       |           * sqrt(list_dot_product(b.vd, b.vd))) END AS cosine_sim
       |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |), ranked AS (
       |  SELECT id1, id2, cell, cosine_sim,
       |    row_number() OVER (PARTITION BY id1
       |      ORDER BY cosine_sim DESC, id2) AS rk
       |  FROM j
       |)""".stripMargin

  lazy val oracleQ89: String =
    s"""WITH $knnEdgeCtes
       |SELECT id1, id2, cell, cosine_sim, CAST(rk AS INT) AS rk
       |FROM ranked WHERE rk <= $KnnK ORDER BY id1, rk""".stripMargin

  /** q195 beam-search geometry: [[BeamQueries]] probe queries navigate
    * from the [[IvfCells]] Lloyd seeds (they double as the shared entry
    * points — one per initial cell region, so the walk can cross cells
    * even though the q89 graph's edges are within-cell) with beam width
    * [[BeamWidth]] for [[BeamRounds]] rounds; recall@[[BeamK]] is scored
    * against the exact top-k. */
  val BeamQueries = 4
  val BeamWidth = 8
  val BeamRounds = 3
  val BeamK = 10
  /** Navigation-graph out-degree — deliberately higher than the q89
    * showcase graph's [[KnnK]]: beam-search recall is degree-bound (HNSW
    * production degree is 16-64), and at degree 3 the walk starves. */
  val BeamDegree = 8

  /** q195 — graph-ANN beam search over the [[BeamDegree]]-degree variant
    * of the q89 kNN graph with an exact recall gate
    * ([[Similarity.beamSearch]]): the third ANN tier after hashing (q47)
    * and partitioning (q57/q74/q98/q99). Per query: the beam's rank-1
    * neighbor, the visited-set size, and overlap/recall@k vs the exact
    * full-corpus cosine top-k (the q98/q99 gate shape).
    *
    * On the reported recall (~0.2-0.3 here): the synthetic embeddings are
    * i.i.d.-random (measured: mean pairwise cosine 0.000, the true top-10
    * sims ~0.25-0.39 sit at the p99 noise floor 0.287), so the space has
    * NO navigable neighborhood structure — descending through a neighbor
    * graph cannot beat chance much on such data (the classic failure mode
    * of graph ANN on unstructured vectors; SQ8/PQ recall stays high on
    * the same corpus because quantizers approximate the same ranking
    * rather than navigate it). The gate therefore pins the SEMANTICS
    * (every visited/beam/round step replays bit-exactly in SQL) and
    * reports recall as a measurement; on clustered real embeddings the
    * identical program's recall rises with graph degree and beam width.
    *
    * Scale shape: the graph build is q89's (cell-bounded self-join); the
    * search itself touches O(entries + rounds · beam · [[BeamDegree]])
    * vectors per query REGARDLESS of corpus size — visited/beam
    * relations stay broadcast-sized by construction, the edge and vector
    * relations never shuffle (see [[Similarity.beamSearch]]). */
  def q195BeamSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val vecs0 = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("n", graft.functions.l2Norm(col("v")))
    // the navigation graph is the ANN index — consumed once per round,
    // so it is scoped-materialized alongside the vector carrier
    val edges0 = knnGraphRanked(s, dir, BeamDegree)
      .select(col("id1"), col("id2"))
    Materialize.withMaterialized(vecs0)(vecs =>
        Materialize.withMaterialized(edges0) { edges =>
      val queries = vecs.filter(col("vec_id") < BeamQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("n").as("qn"))
      val entries = vecs.filter(col("vec_id") < IvfCells)
        .select(col("vec_id"))
      val visited = Similarity.beamSearch(edges, vecs, queries, entries,
        BeamWidth, BeamRounds)
      val wk = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("vec_id"))
      val bk = visited.withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= BeamK)
      // exact full-corpus top-k — the recall denominator (q98's shape)
      val ex = vecs.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          when(col("n") > 0 && col("qn") > 0,
            graft.functions.dotProduct(col("v"), col("qv"))
              / (col("n") * col("qn"))).as("sim"))
        .filter(col("sim").isNotNull)
      val exk = ex.withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= BeamK)
        .select(col("qid"), col("vec_id"))
      val ovl = bk.select(col("qid"), col("vec_id"))
        .join(exk, Seq("qid", "vec_id"))
        .groupBy(col("qid")).agg(count(lit(1)).as("overlap"))
      val nv = visited.groupBy(col("qid"))
        .agg(count(lit(1)).as("n_visited"))
      Materialize.sorted(bk.filter(col("rn") === 1)
        .select(col("qid"), col("vec_id").as("beam_top1"))
        .join(nv, Seq("qid"))
        .join(ovl, Seq("qid"), "left")
        .select(col("qid").as("query_id"), col("beam_top1"),
          col("n_visited"),
          coalesce(col("overlap"), lit(0L)).as("overlap"),
          (coalesce(col("overlap"), lit(0L)).cast("double")
            / lit(BeamK.toDouble)).as("recall")), col("query_id"))
    })
  }

  lazy val oracleQ195: String = {
    val roundCtes = (1 to BeamRounds).map { r =>
      val prev = s"v${r - 1}"
      s"""b$r AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, vec_id) AS rn FROM $prev)
         |  WHERE rn <= $BeamWidth
         |), x$r AS (
         |  SELECT DISTINCT b.qid, e.id2 AS vec_id
         |  FROM b$r b JOIN edges e ON e.id1 = b.vec_id
         |  WHERE e.id2 <> b.qid
         |), v$r AS MATERIALIZED (
         |  SELECT qid, vec_id, sim FROM $prev
         |  UNION
         |  SELECT s.qid, s.vec_id, s.sim FROM sims s
         |  JOIN x$r x ON s.qid = x.qid AND s.vec_id = x.vec_id
         |  WHERE s.sim IS NOT NULL
         |)""".stripMargin
    }.mkString(", ")
    val vLast = s"v$BeamRounds"
    s"""WITH $knnEdgeCtes, edges AS MATERIALIZED (
       |  SELECT id1, id2 FROM ranked WHERE rk <= $BeamDegree
       |), q AS (
       |  SELECT vec_id AS qid, vd AS qv FROM vecs0
       |  WHERE vec_id < $BeamQueries
       |), sims AS MATERIALIZED (
       |  SELECT q.qid, t.vec_id,
       |    CASE WHEN sqrt(list_dot_product(t.vd, t.vd)) > 0
       |          AND sqrt(list_dot_product(q.qv, q.qv)) > 0
       |      THEN list_dot_product(t.vd, q.qv)
       |        / (sqrt(list_dot_product(t.vd, t.vd))
       |           * sqrt(list_dot_product(q.qv, q.qv))) END AS sim
       |  FROM vecs0 t, q WHERE t.vec_id <> q.qid
       |), v0 AS MATERIALIZED (
       |  SELECT s.qid, s.vec_id, s.sim
       |  FROM sims s JOIN (SELECT vec_id FROM vecs0
       |                    WHERE vec_id < $IvfCells) e
       |    ON s.vec_id = e.vec_id
       |  WHERE s.sim IS NOT NULL
       |), $roundCtes, bk AS (
       |  SELECT qid, vec_id, rn FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, vec_id) AS rn FROM $vLast)
       |  WHERE rn <= $BeamK
       |), exk AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY sim DESC, vec_id) AS rn FROM sims
       |    WHERE sim IS NOT NULL)
       |  WHERE rn <= $BeamK
       |), ovl AS (
       |  SELECT b.qid, CAST(COUNT(*) AS BIGINT) AS overlap
       |  FROM bk b JOIN exk e ON b.qid = e.qid AND b.vec_id = e.vec_id
       |  GROUP BY b.qid
       |), nv AS (
       |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_visited
       |  FROM $vLast GROUP BY qid
       |), t1 AS (
       |  SELECT qid, vec_id AS beam_top1 FROM bk WHERE rn = 1
       |)
       |SELECT t1.qid AS query_id, t1.beam_top1, nv.n_visited,
       |  CAST(COALESCE(ovl.overlap, 0) AS BIGINT) AS overlap,
       |  CAST(COALESCE(ovl.overlap, 0) AS DOUBLE) / $BeamK.0 AS recall
       |FROM t1 JOIN nv ON t1.qid = nv.qid
       |LEFT JOIN ovl ON t1.qid = ovl.qid
       |ORDER BY query_id""".stripMargin
  }

  /** q204 synchronous label-propagation rounds — enough for labels to
    * traverse the within-cell kNN components at gate scale; fixed so the
    * oracle unrolls. */
  val LpaRounds = 4

  /** q204 — label-propagation community detection (Raghavan et al.,
    * PRE'07) over the symmetrized q89 kNN graph: every node starts with
    * its own label; each synchronous round it adopts the most frequent
    * label among its neighbors (ties → lowest label; isolated nodes keep
    * their own). Completes the graph family (CC q61/q79 = reachability,
    * PageRank q113 = centrality, k-core q153 = density) with the
    * COMMUNITY notion semantic curation pipelines use for topic-balanced
    * sampling and near-dup cluster splitting.
    *
    * Determinism: plain LPA is notoriously order-dependent; the
    * synchronous min-label tie-break makes every round a pure function
    * of the previous labeling, so Spark and the unrolled-round oracle
    * agree exactly.
    *
    * Scale shape: each round is one keyed join (edges ⋈ labels on the
    * neighbor id) + one map-side-combinable count + one per-node argmax
    * window — all shuffles keyed on node ids, never pairwise;
    * `localCheckpoint` per round caps lineage (the q61 rule). Rounds are
    * O(1), so the whole program is O(rounds · |E|) shuffled bytes — the
    * GraphX/Pregel LPA plan expressed as DataFrames. */
  /** The synchronous LPA round loop over an arbitrary symmetrized edge
    * relation (id1, id2) and node set (node): each node takes its
    * neighbors' most frequent label, ties to the smallest. Exposed so
    * the fixed-point spec can drive it on a planted-community fixture
    * for round counts N and N+1. */
  private[graft] def lpaRun(sym0: DataFrame, nodes: DataFrame,
                            rounds: Int): DataFrame = {
    val sym = Materialize.pin(sym0)
    var labels = Materialize.pin(nodes
      .select(col("node"), col("node").as("lbl")))
    var r = 0
    while (r < rounds) {
      val neigh = sym.join(labels, sym("id2") === labels("node"))
        .select(sym("id1"), labels("lbl"))
      val counts = neigh.groupBy(col("id1"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("id1"))
        .orderBy(col("c").desc, col("lbl"))
      val pick = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id1").as("node"), col("lbl").as("newl"))
      labels = Materialize.pin(labels.join(pick, Seq("node"), "left")
        .select(col("node"), coalesce(col("newl"), col("lbl")).as("lbl")))
      r += 1
    }
    labels
  }

  def q204LabelProp(s: SparkSession, dir: String): DataFrame = {
    val e0 = knnGraphRanked(s, dir, KnnK).select(col("id1"), col("id2"))
    val sym = e0.union(e0.select(col("id2").as("id1"), col("id1").as("id2")))
      .distinct()
    val nodes = Tables.embeddings(s, dir).select(col("vec_id").as("node"))
    lpaRun(sym, nodes, LpaRounds)
      .select(col("node"), col("lbl").as("label"))
      .orderBy(col("node"))
  }

  lazy val oracleQ204: String = {
    val roundCtes = (1 to LpaRounds).map { t =>
      s"""lpc$t AS (
         |  SELECT s.id1 AS node, l.lbl, count(*) AS c
         |  FROM sym s JOIN lpl${t - 1} l ON s.id2 = l.node
         |  GROUP BY 1, 2
         |), lpp$t AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, lbl) AS rn FROM lpc$t)
         |  WHERE rn = 1
         |), lpl$t AS MATERIALIZED (
         |  SELECT a.node, coalesce(p.lbl, a.lbl) AS lbl
         |  FROM lpl${t - 1} a LEFT JOIN lpp$t p ON p.node = a.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $knnEdgeCtes, e0 AS (
       |  SELECT id1, id2 FROM ranked WHERE rk <= $KnnK
       |), sym AS MATERIALIZED (
       |  SELECT DISTINCT id1, id2 FROM (
       |    SELECT id1, id2 FROM e0
       |    UNION ALL SELECT id2, id1 FROM e0)
       |), lpl0 AS MATERIALIZED (
       |  SELECT vec_id AS node, vec_id AS lbl FROM embeddings
       |), $roundCtes
       |SELECT node, lbl AS label FROM lpl$LpaRounds ORDER BY node""".stripMargin
  }

  val HnQueries = 8
  val HnK = 5

  /** Hard-negative mining for contrastive retrieval training (DPR,
    * Karpukhin et al. 2020 §3.2; ANCE): for each query vector, the
    * most-similar corpus vectors OUTSIDE the query's own class — the
    * near-misses a dense retriever must learn to push away. Exact
    * brute-force ranking (the q17 baseline shape); at index scale the
    * candidate stage swaps for the gated ANN paths (q47/q57/q74) with
    * the same exclusion + rerank tail.
    *
    * Scale shape: the query set is a broadcast dim; scoring is one
    * map-side pass over the corpus (norms hoisted per row — rule 9);
    * ranking is a window partitioned by query_id, never a global sort. */
  def q87HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.select(col("vec_id"), col("label"),
        Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("__n", graft.functions.l2Norm(col("v")))
    val qs = corpus.filter(col("vec_id") < HnQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("__n").as("__qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
    corpus.crossJoin(broadcast(qs))
      .filter(col("label") =!= col("qlabel") &&
        col("vec_id") =!= col("query_id"))
      .withColumn("cosine_sim",
        when(col("__n") > 0 && col("__qn") > 0,
          graft.functions.dotProduct(col("v"), col("qv"))
            / (col("__n") * col("__qn"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= HnK)
      .select(col("query_id"), col("vec_id"), col("label"),
        col("cosine_sim"), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  val oracleQ87: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, label AS qlabel, v AS qv
       |  FROM e WHERE vec_id < $HnQueries
       |), scored AS (
       |  SELECT q.query_id, e.vec_id, e.label,
       |    CASE WHEN sqrt(list_dot_product(e.v, e.v)) > 0
       |          AND sqrt(list_dot_product(q.qv, q.qv)) > 0
       |      THEN list_dot_product(e.v, q.qv)
       |        / (sqrt(list_dot_product(e.v, e.v))
       |           * sqrt(list_dot_product(q.qv, q.qv))) END AS cosine_sim
       |  FROM e, q
       |  WHERE e.label <> q.qlabel AND e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, label, cosine_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine_sim DESC, vec_id) AS rk
       |  FROM scored
       |)
       |SELECT query_id, vec_id, label, cosine_sim, CAST(rk AS INT) AS rk
       |FROM ranked WHERE rk <= $HnK ORDER BY query_id, rk""".stripMargin

  /** Winnowing fingerprint summary per document (rolling-hash document
    * fingerprinting for partial-overlap dedup — see
    * [[Dedup.winnowFingerprints]]). Output is the fingerprint-set summary
    * (count + extremes), integer-exact in both engines. */
  def q54WinnowFingerprint(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
        ShingleK, WinnowW)
      .select(col("doc_id"),
        size(col("fp")).cast("long").as("n_fp"),
        expr("array_min(fp)").as("min_fp"),
        expr("array_max(fp)").as("max_fp"))
      .orderBy(col("doc_id"))

  /** Containment (partial-overlap) pairs from the winnowing fingerprints —
    * the asymmetric dedup measure MinHash/Jaccard miss: a short document
    * quoted inside a longer one scores high containment but low
    * resemblance. Boilerplate fingerprints (df > [[MaxFpDf]]) are dropped
    * from pairing, MOSS-style ([[Dedup.containmentPairs]]). */
  def q62ContainmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(
        Dedup.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
          ShingleK, WinnowW),
        "doc_id", MaxFpDf, ContainmentThreshold)
      .orderBy(col("id1"), col("id2"))

  /** SimHash Hamming near-dup pairs ([[Dedup.simhashNearDupPairs]],
    * Manku WWW'07): band-bucket candidates over q16's simhash values,
    * exact popcount verify at distance ≤ [[SimhashMaxHamming]] — the
    * constant-space complement to MinHash-LSH (one 60-bit word per doc
    * instead of a shingle set). */
  def q66SimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(
        Dedup.simhash(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id", "simhash", SimhashBands, SimhashBandBits, SimhashMaxHamming)
      .orderBy(col("id1"), col("id2"))

  /** §2.6 embedding near-dup with the hot-block cap: blocks over MaxBlock
    * members are split by hyperplane sub-bucket (bounded quadratic work per
    * task — q18's documented skew risk closed), small blocks stay exact. */
  def q48NearDupCapped(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairsCapped(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", AnnDims, SubPlanes, MaxBlock, CosineThreshold)
      .orderBy(col("id1"), col("id2"))

  // --------------------------------------------------------------------
  // DuckDB oracles (generated from the same constants/word lists so the
  // two sides cannot drift).
  // --------------------------------------------------------------------

  /** LCG hyperplane table (Similarity.planeComponent) as a DuckDB CTE —
    * identical integer math and double scaling. */
  private def planesSql(nPlanes: Int): String =
    s"""planes AS (
       |  SELECT p, list_transform(range(0, $AnnDims), d ->
       |    CAST((1103515245 * (p*$AnnDims + d) + 12345) % 2147483647 AS DOUBLE)
       |      / 2147483647.0 * 2.0 - 1.0) AS plane
       |  FROM range(0, $nPlanes) t(p)
       |)""".stripMargin

  val oracleQ47: String =
    s"""WITH ${planesSql(AnnPlanes)},
       |q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
       |), qd AS (
       |  SELECT p.p, list_dot_product(q.qv, p.plane) AS dt FROM planes p, q
       |), qb AS (
       |  SELECT CAST(SUM(CASE WHEN dt >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS b
       |  FROM qd
       |), probes AS (
       |  SELECT b AS bucket FROM qb
       |  UNION ALL
       |  SELECT xor(qb.b, CAST(1 AS BIGINT) << f.p)
       |  FROM (SELECT p FROM qd ORDER BY abs(dt), p LIMIT ${AnnProbes - 1}) f, qb
       |), corpus AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id <> 0
       |), bucketed AS (
       |  SELECT c.vec_id,
       |    CAST(SUM(CASE WHEN list_dot_product(c.v, p.plane) >= 0
       |         THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM corpus c, planes p GROUP BY c.vec_id
       |)
       |SELECT c.vec_id,
       |  list_dot_product(v, qv)
       |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
       |  AS cosine_sim
       |FROM corpus c JOIN bucketed bk ON bk.vec_id = c.vec_id, q
       |WHERE bk.bucket IN (SELECT bucket FROM probes)
       |ORDER BY cosine_sim DESC, c.vec_id LIMIT 10""".stripMargin

  val oracleQ48: String =
    s"""WITH ${planesSql(SubPlanes)},
       |base AS (
       |  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    count(*) OVER (PARTITION BY label) AS bsz
       |  FROM embeddings
       |), keyed AS (
       |  SELECT b.label, b.vec_id, b.v,
       |    CASE WHEN b.bsz > $MaxBlock THEN (
       |      SELECT CAST(SUM(CASE WHEN list_dot_product(b.v, p.plane) >= 0
       |             THEN (CAST(1 AS BIGINT) << p.p) ELSE 0 END) AS BIGINT)
       |      FROM planes p)
       |    ELSE CAST(-1 AS BIGINT) END AS sub
       |  FROM base b
       |)
       |SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
       |  list_dot_product(a.v, b.v)
       |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
       |  AS cosine_sim
       |FROM keyed a JOIN keyed b
       |  ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.v, b.v)
       |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
       |  > $CosineThreshold
       |ORDER BY id1, id2""".stripMargin

  private[queries] def hitsExpr(words: Seq[String]): String =
    s"len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b'))"

  /** Per-language stopword-hit select-list (needs `text` in scope) —
    * shared by oracleQ12 and Curation.oracleQ70. */
  private[queries] val langHitCols: String =
    Text.stopwordLists.map { case (l, ws) => s"${hitsExpr(ws)} AS h_$l" }
      .mkString(",\n    ")

  /** The langId argmax as a scalar CASE over the h_<lang> columns: fold
    * with strict > so earlier lists win ties — same as the Column
    * reduceLeft in Text.langId. Shared by oracleQ12 and
    * Curation.oracleQ70. */
  private[queries] val predLangCase: String = {
    val langs = Text.stopwordLists
    var bestH = s"h_${langs.head._1}"
    var bestL = s"'${langs.head._1}'"
    for ((l, _) <- langs.tail) {
      val nh = s"CASE WHEN h_$l > ($bestH) THEN h_$l ELSE ($bestH) END"
      val nl = s"CASE WHEN h_$l > ($bestH) THEN '$l' ELSE ($bestL) END"
      bestH = nh; bestL = nl
    }
    s"CASE WHEN ($bestH) > 0 THEN ($bestL) ELSE 'und' END"
  }

  /** The q13 quality score as a scalar (needs `text`, `n_tokens`, `toks`
    * in scope) — shared by oracleQ13 and Curation.oracleQ70. */
  private[queries] val qualityExpr: String = {
    val allStops = Text.stopwordLists.flatMap(_._2).distinct
    s"""(least(CAST(len(text) AS DOUBLE) / 400.0, 1.0) * 0.3)
       |  + ((CASE WHEN CAST(len(text) AS DOUBLE) > 0
       |        THEN CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
       |             / CAST(len(text) AS DOUBLE) ELSE 0.0 END) * 0.3)
       |  + ((CASE WHEN len(toks) > 0
       |        THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
       |        ELSE 0.0 END) * 0.2)
       |  + ((CASE WHEN CAST(n_tokens AS DOUBLE) > 0
       |        THEN least(CAST(${hitsExpr(allStops)} AS DOUBLE)
       |             / CAST(n_tokens AS DOUBLE) * 4.0, 1.0) ELSE 0.0 END) * 0.2)""".stripMargin
  }

  val oracleQ11: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(text, '\w+'))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS total_subwords,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(len(regexp_extract_all(text, '\w+'))) AS DOUBLE) / COUNT(*) AS avg_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  val oracleQ12: String =
    s"""SELECT doc_id, actual_lang,
       |  $predLangCase AS pred_lang
       |FROM (
       |  SELECT doc_id, lang AS actual_lang,
       |    $langHitCols
       |  FROM documents
       |) t ORDER BY doc_id""".stripMargin

  val oracleQ13: String =
    s"""SELECT doc_id, n_tokens,
       |  $qualityExpr
       |  AS quality
       |FROM (
       |  SELECT doc_id, text,
       |    len(regexp_extract_all(text, '\\w+')) AS n_tokens,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents
       |) t ORDER BY doc_id""".stripMargin

  /** Oracle position-generator cap: start positions are enumerated with
    * `range(1, OraclePosCap)` because DuckDB 1.0's `range` only accepts
    * CONSTANT bounds (no lateral column refs, no scalar subqueries) — a
    * per-doc `range(1, len(t))` does not bind. [[capGuardCte]] makes the
    * cap fail LOUDLY: if any normalized document reaches it, the oracle
    * errors instead of silently dropping positions past the cap (which
    * would surface as an inscrutable hash mismatch at a larger SF). */
  private[queries] val OraclePosCap = 100000
  private[queries] def capGuardCte(name: String, normRel: String): String =
    s"""$name AS (
       |  SELECT CASE WHEN max(len(t)) >= $OraclePosCap THEN error(
       |    'oracle position cap $OraclePosCap exceeded - raise OraclePosCap')
       |    ELSE 1 END AS ok
       |  FROM $normRel
       |)""".stripMargin

  /** Shared CTE prefix at an arbitrary shingle width: normalize →
    * k-shingles → DISTINCT 60-bit hashes (`hs0(doc_id, h60)` — the DuckDB
    * mirror of [[Dedup.shingleHashArrays]]). */
  private def shingleHashCtesK(k: Int): String =
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), ${capGuardCte("capg", "norm")}, sh AS (
       |  SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), $k) AS shingle
       |  FROM norm, range(1, $OraclePosCap) r(i), capg
       |  WHERE capg.ok = 1 AND len(t) >= $k AND i <= len(t) - ${k - 1}
       |), hs0 AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h60
       |  FROM sh
       |)""".stripMargin

  /** [[shingleHashCtesK]] at the LSH pipeline's [[ShingleK]] — composed
    * into [[minhashCtes]]. */
  private lazy val shingleHashCtes: String = shingleHashCtesK(ShingleK)

  /** [[shingleHashCtes]] extended with minhash signatures → bands. */
  private val minhashCtes: String =
    s"""$shingleHashCtes, hs AS (
       |  SELECT doc_id, h60 % ${Dedup.P} AS h FROM hs0
       |), params AS (
       |  SELECT i, 2*i + 3 AS a, 7*i + 1 AS b FROM range(0, $NumHashes) t(i)
       |), sig AS (
       |  SELECT doc_id, i, MIN((a*h + b) % ${Dedup.P}) AS mh
       |  FROM hs, params GROUP BY doc_id, i
       |), banded AS (
       |  SELECT doc_id, CAST(i // $RowsPerBand AS INT) AS band,
       |    concat_ws(':',
       |      ${(0 until RowsPerBand).map(p =>
            s"MAX(CASE WHEN i % $RowsPerBand = $p THEN mh END)").mkString(", ")}) AS bkey
       |  FROM sig GROUP BY doc_id, band
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM banded a JOIN banded b USING (band, bkey)
       |  WHERE a.doc_id < b.doc_id
       |)""".stripMargin

  val oracleQ14: String =
    s"""$minhashCtes
       |SELECT id1, id2 FROM cand ORDER BY id1, id2""".stripMargin

  val oracleQ15: String =
    s"""$minhashCtes, sz AS (
       |  SELECT doc_id, COUNT(*) AS sz FROM hs0 GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS i1, b.doc_id AS i2, COUNT(*) AS i
       |  FROM hs0 a JOIN hs0 b USING (h60)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
       |)
       |SELECT c.id1, c.id2,
       |  CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS jaccard
       |FROM cand c
       |JOIN inter ON inter.i1 = c.id1 AND inter.i2 = c.id2
       |JOIN sz s1 ON s1.doc_id = c.id1
       |JOIN sz s2 ON s2.doc_id = c.id2
       |WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= $JaccardThreshold
       |ORDER BY id1, id2""".stripMargin

  /** Shared winnowing-fingerprint CTE prefix (normalize → k-gram hash list
    * → windowed-min fingerprint set `fp(doc_id, f)`) — the DuckDB mirror of
    * [[Dedup.winnowFingerprints]], composed into oracleQ54 and oracleQ62. */
  private val winnowFpCtes: String =
    s"""norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), hl AS (
       |  SELECT doc_id, list_transform(range(1, len(t) - ${ShingleK - 2}), i ->
       |    CAST(('0x' || substr(md5(substr(t, CAST(i AS INT), $ShingleK)), 1, 15)) AS BIGINT)
       |  ) AS hlist
       |  FROM norm WHERE len(t) >= ${ShingleK + WinnowW - 1}
       |), fp AS (
       |  SELECT doc_id, list_distinct(
       |    list_transform(range(1, len(hlist) - ${WinnowW - 2}), j ->
       |      list_min(list_slice(hlist, CAST(j AS INT), CAST(j AS INT) + ${WinnowW - 1})))
       |  ) AS f
       |  FROM hl
       |)""".stripMargin

  val oracleQ54: String =
    s"""WITH $winnowFpCtes
       |SELECT doc_id, CAST(len(f) AS BIGINT) AS n_fp,
       |  CAST(list_min(f) AS BIGINT) AS min_fp,
       |  CAST(list_max(f) AS BIGINT) AS max_fp
       |FROM fp ORDER BY doc_id""".stripMargin

  val oracleQ62: String =
    s"""WITH $winnowFpCtes, ex AS (
       |  SELECT doc_id, unnest(f) AS v FROM fp
       |), kept AS (
       |  SELECT doc_id, v FROM (
       |    SELECT doc_id, v, COUNT(*) OVER (PARTITION BY v) AS df FROM ex
       |  ) WHERE df <= $MaxFpDf
       |), pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
       |  FROM kept a JOIN kept b ON a.v = b.v AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), sz AS (
       |  SELECT doc_id, len(f) AS n FROM fp
       |)
       |SELECT p.id1, p.id2, CAST(p.shared AS BIGINT) AS shared_fp,
       |  CAST(p.shared AS DOUBLE) / least(s1.n, s2.n) AS containment
       |FROM pairs p
       |JOIN sz s1 ON s1.doc_id = p.id1
       |JOIN sz s2 ON s2.doc_id = p.id2
       |WHERE CAST(p.shared AS DOUBLE) / least(s1.n, s2.n) >= $ContainmentThreshold
       |ORDER BY id1, id2""".stripMargin

  /** Shared SimHash CTE prefix ending in `sh(doc_id, simhash)` — the
    * DuckDB mirror of [[Dedup.simhash]], composed into oracleQ16 and
    * oracleQ66. */
  private val simhashCtes: String = {
    val bitSums = (0 until 60).map(b =>
      s"SUM(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n    ")
    val value = (0 until 60).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM documents
       |), hs AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM toks WHERE len(tok) > 0
       |), acc AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM hs GROUP BY doc_id
       |), sh AS (
       |  SELECT doc_id, $value AS simhash FROM acc
       |)""".stripMargin
  }

  val oracleQ16: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin

  val oracleQ66: String =
    s"""WITH $simhashCtes, bands AS (
       |  SELECT doc_id, simhash, b,
       |    (simhash >> (${SimhashBandBits} * b)) & ${(1L << SimhashBandBits) - 1} AS bkey
       |  FROM sh, (SELECT unnest([${(0 until SimhashBands).mkString(", ")}]) AS b)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2,
       |    a.simhash AS s1, c.simhash AS s2
       |  FROM bands a JOIN bands c
       |    ON a.b = c.b AND a.bkey = c.bkey AND a.doc_id < c.doc_id
       |)
       |SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(s1, s2)) <= $SimhashMaxHamming
       |ORDER BY id1, id2""".stripMargin

  val oracleQ17: String =
    """WITH q AS (
      |  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
      |)
      |SELECT vec_id,
      |  list_dot_product(v, qv)
      |    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
      |  AS cosine_sim
      |FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |      FROM embeddings WHERE vec_id <> 0) e, q
      |ORDER BY cosine_sim DESC, vec_id LIMIT 10""".stripMargin

  // the zero-norm CASE guard mirrors the Spark side's explicit null-out
  // (Similarity.cosinePairsBlocked): without it a zero-norm embedding
  // yields NaN here, and DuckDB treats NaN > t as TRUE while Spark drops
  // the null pair — a latent mismatch the guard makes contractual
  val oracleQ18: String =
    s"""SELECT label, id1, id2, cosine_sim FROM (
       |  SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
       |    CASE WHEN list_dot_product(av, av) > 0
       |          AND list_dot_product(bv, bv) > 0
       |      THEN list_dot_product(av, bv)
       |        / (sqrt(list_dot_product(av, av))
       |           * sqrt(list_dot_product(bv, bv))) END AS cosine_sim
       |  FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS av FROM embeddings) a
       |  JOIN (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS bv FROM embeddings) b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |) WHERE cosine_sim > $CosineThreshold
       |ORDER BY id1, id2""".stripMargin

  /** Probe-query count / top-k width for the quantization recall gates. */
  val SqNumQueries = 8
  val SqK = 10

  /** q98 — SQ8 scalar-quantization recall gate ([[Quantize]]).
    *
    * Quantizes the whole corpus to uint8 codes against per-dimension
    * corpus ranges, runs symmetric top-[[SqK]] cosine search on the
    * DEQUANTIZED vectors for [[SqNumQueries]] probe queries, and scores the
    * quantized path against the exact float top-[[SqK]] — per query:
    * the rank-1 neighbor under quantization, the overlap with the exact
    * set, and recall@k. This is the acceptance test a pipeline runs before
    * switching its candidate generation from float to SQ8 storage.
    *
    * Scale shape: ranges are ONE tiny aggregation (64 groups) collected as
    * bounded metadata; encode/decode are map-side projections (codes, not
    * floats, are what a 100 TB corpus would cache/shuffle — 4× smaller);
    * the per-row reconstruction norm is hoisted into the carrier (PLANS.md
    * rule 9); probe queries broadcast; and the rank-k cut is a
    * `row_number() <= k` filter that Spark plans as WindowGroupLimit —
    * each partition keeps only its local top-k before the qid shuffle, so
    * per-query reducers see O(partitions × k) rows, not O(N). */
  def q98Sq8Recall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (mn, mx) = Quantize.dimRanges(emb, "embedding", Quantize.Dims)
    val corpus = emb
      .select(col("vec_id"),
        Quantize.sq8Recon(
          Quantize.sq8Code(Similarity.asDouble(col("embedding")), mn, mx),
          mn, mx).as("rv"))
      .withColumn("nv", graft.functions.l2Norm(col("rv")))
    val probes = corpus.filter(col("vec_id") < SqNumQueries)
      .select(col("vec_id").as("qid"), col("rv").as("qv"), col("nv").as("qn"))
    val ap = corpus.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        when(col("nv") > 0 && col("qn") > 0,
          graft.functions.dotProduct(col("rv"), col("qv")) / (col("nv") * col("qn")))
          .as("sim"))
    val wk = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    val apk = ap.withColumn("rn", row_number().over(wk)).filter(col("rn") <= SqK)
      .select(col("qid"), col("vec_id"), col("rn"))

    val ve = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("n", graft.functions.l2Norm(col("v")))
    val eProbes = ve.filter(col("vec_id") < SqNumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n").as("qn"))
    val ex = ve.crossJoin(broadcast(eProbes))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        when(col("n") > 0 && col("qn") > 0,
          graft.functions.dotProduct(col("v"), col("qv")) / (col("n") * col("qn")))
          .as("sim"))
    val exk = ex.withColumn("rn", row_number().over(wk)).filter(col("rn") <= SqK)
      .select(col("qid"), col("vec_id"))

    val ovl = apk.join(exk, Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("overlap"))
    apk.filter(col("rn") === 1).select(col("qid"), col("vec_id").as("approx_top1"))
      .join(ovl, Seq("qid"), "left")
      .select(col("qid").as("query_id"), col("approx_top1"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        (coalesce(col("overlap"), lit(0L)).cast("double") / lit(10.0)).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Shared oracle CTE prefix replaying SQ8 end-to-end: per-dimension
    * ranges → uint8 codes → dequantized vectors — same fixed-order scalar
    * math as [[Quantize]], so codes are bit-identical. */
  private val sq8Ctes: String =
    s"""ve AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), dims AS (
       |  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
       |  FROM ve, (SELECT unnest(range(1, ${Quantize.Dims + 1})) AS i) idx
       |  GROUP BY i
       |), lims AS (
       |  SELECT list(mn ORDER BY i) AS mnl, list(mx ORDER BY i) AS mxl FROM dims
       |), codes AS (
       |  SELECT vec_id, list_transform(range(1, ${Quantize.Dims + 1}), i ->
       |    CASE WHEN mxl[i] = mnl[i] THEN 0
       |         ELSE LEAST(255, GREATEST(0, CAST(floor(
       |           (v[i] - mnl[i]) / (mxl[i] - mnl[i]) * 255.0 + 0.5) AS BIGINT)))
       |    END) AS code
       |  FROM ve, lims
       |), recon AS (
       |  SELECT vec_id, list_transform(range(1, ${Quantize.Dims + 1}), i ->
       |    mnl[i] + code[i] / 255.0 * (mxl[i] - mnl[i])) AS rv
       |  FROM codes, lims
       |)""".stripMargin

  val oracleQ98: String =
    s"""WITH $sq8Ctes, q AS (
       |  SELECT vec_id AS qid, rv AS qv FROM recon WHERE vec_id < $SqNumQueries
       |), ap AS (
       |  SELECT q.qid, r.vec_id,
       |    CASE WHEN list_dot_product(r.rv, r.rv) > 0
       |          AND list_dot_product(qv, qv) > 0
       |      THEN list_dot_product(r.rv, qv)
       |        / (sqrt(list_dot_product(r.rv, r.rv)) * sqrt(list_dot_product(qv, qv)))
       |    END AS sim
       |  FROM recon r, q WHERE r.vec_id <> q.qid
       |), apk AS (
       |  SELECT qid, vec_id, rn FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
       |    FROM ap) WHERE rn <= $SqK
       |), eq AS (
       |  SELECT vec_id AS qid, v AS qv FROM ve WHERE vec_id < $SqNumQueries
       |), ex AS (
       |  SELECT eq.qid, r.vec_id,
       |    CASE WHEN list_dot_product(r.v, r.v) > 0
       |          AND list_dot_product(qv, qv) > 0
       |      THEN list_dot_product(r.v, qv)
       |        / (sqrt(list_dot_product(r.v, r.v)) * sqrt(list_dot_product(qv, qv)))
       |    END AS sim
       |  FROM ve r, eq WHERE r.vec_id <> eq.qid
       |), exk AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
       |    FROM ex) WHERE rn <= $SqK
       |), ovl AS (
       |  SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS overlap
       |  FROM apk a JOIN exk e ON a.qid = e.qid AND a.vec_id = e.vec_id
       |  GROUP BY a.qid
       |), t1 AS (
       |  SELECT qid, vec_id AS approx_top1 FROM apk WHERE rn = 1
       |)
       |SELECT t1.qid AS query_id, t1.approx_top1,
       |  CAST(COALESCE(ovl.overlap, 0) AS BIGINT) AS overlap,
       |  CAST(COALESCE(ovl.overlap, 0) AS DOUBLE) / 10.0 AS recall
       |FROM t1 LEFT JOIN ovl ON t1.qid = ovl.qid
       |ORDER BY query_id""".stripMargin

  /** Product-quantization geometry: 8 subspaces × 8 dims, 16 codewords per
    * subspace (codes are 8 × 4 bits = 4 bytes/vector vs 256 float bytes —
    * 64× compression). The codebook is TRAINED: per-subspace k-means via
    * [[Quantize.pqTrain]] (the q74 exact-integer Lloyd discipline, all 8
    * subspaces in one grouped program), seeded from the first [[PqK]]
    * vec_ids. */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16
  val PqIters = 2

  /** ADC shortlist width for the exact re-rank stage (5% of the sf0.1
    * corpus): PQ's role at scale is CANDIDATE GENERATION — the compressed
    * codes cut the corpus to a shortlist that the float vectors re-rank
    * exactly (the faiss IVFPQ+refine composition). */
  val PqShortlist = 100

  /** q99 — product quantization with asymmetric-distance (ADC) search and
    * an exact-recall gate (Jégou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011).
    *
    * Pipeline: slice each vector into [[PqM]] subvectors (posexplode — one
    * map-side generate); assign every (vector, subspace) to its nearest
    * codeword by squared L2 (broadcast 128-row codebook, `min_by` aggregate
    * so the argmin partial-aggregates map-side instead of window-sorting);
    * per probe query, build the M×K table of squared distances to every
    * codeword (broadcast back); approximate each corpus distance as the
    * SUM of 8 table lookups; keep the [[PqShortlist]]-wide ADC shortlist;
    * re-rank the shortlist EXACTLY with the float vectors (the faiss
    * IVFPQ+refine composition — codes generate candidates, floats decide);
    * score overlap/recall@k against the exact full-corpus L2 top-k.
    *
    * Determinism: d² uses the fixed-order three-dot form
    * `dot(s,s) - 2·dot(s,c) + dot(c,c)` with per-row Σx² hoisted (PLANS.md
    * rule 9); ADC table entries are scaled-integer quantized
    * (`floor(d²·1e6+0.5)`) BEFORE the per-query sum so the 8-term addition
    * is order-free (FP toolbox rule 1); argmin ties break on codeword id.
    *
    * 100 TB shape: codebook and distance tables are tiny broadcasts; codes
    * are 4 bytes/vector — the scan side never shuffles floats; the rank-k
    * cut is WindowGroupLimit-planned. */
  def q99PqAdcRecall(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExprs
    val emb = Tables.embeddings(s, dir)
    val ve = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val subs = Quantize.pqSubvectors(ve, "vec_id", "v", PqM, PqSubDim)
      .withColumn("ss2", VectorExprs.sumSquares(col("sv")))
    val cb = Quantize.pqTrain(emb, "vec_id", "embedding", PqM, PqSubDim, PqK, PqIters)
      .withColumn("cw2", VectorExprs.sumSquares(col("cw")))

    // assignment ranks by the two-term score (dot(t,t) is constant per
    // row); the ADC table needs the true d², so it adds the ss2 term
    val score2 = col("cw2") - lit(2.0) * graft.functions.dotProduct(col("sv"), col("cw"))
    val codes = subs.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("k"), score2.as("__s"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("k"), struct(col("__s"), col("k"))).as("code"))

    val qt = subs.filter(col("vec_id") < SqNumQueries)
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id").as("qid"), col("m").as("qm"), col("k"),
        floor((col("ss2") + score2) * lit(1e6) + lit(0.5)).cast("long").as("tq"))
    val ad = codes.join(broadcast(qt),
        col("m") === col("qm") && col("code") === col("k"))
      .groupBy(col("qid"), col("vec_id")).agg(sum(col("tq")).as("adist"))
      .filter(col("vec_id") =!= col("qid"))
    val wk = Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))
    val short = ad.withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= PqShortlist).select(col("qid"), col("vec_id"))

    val ven = ve.withColumn("n2", VectorExprs.sumSquares(col("v")))
    val eq = ven.filter(col("vec_id") < SqNumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    // exact re-rank of the ADC shortlist: same three-dot d² as the exact
    // side, so shortlist survivors rank identically in both engines
    val rer = short.join(ven, Seq("vec_id")).join(broadcast(eq), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        (col("n2") - lit(2.0) * graft.functions.dotProduct(col("v"), col("qv"))
          + col("qn2")).as("d2"))
    val wkr = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
    val apk = rer.withColumn("rn", row_number().over(wkr)).filter(col("rn") <= SqK)
      .select(col("qid"), col("vec_id"), col("rn"))

    val ex = ven.crossJoin(broadcast(eq))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (col("n2") - lit(2.0) * graft.functions.dotProduct(col("v"), col("qv"))
          + col("qn2")).as("d2"))
    val wke = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
    val exk = ex.withColumn("rn", row_number().over(wke)).filter(col("rn") <= SqK)
      .select(col("qid"), col("vec_id"))

    val ovl = apk.join(exk, Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("overlap"))
    apk.filter(col("rn") === 1).select(col("qid"), col("vec_id").as("approx_top1"))
      .join(ovl, Seq("qid"), "left")
      .select(col("qid").as("query_id"), col("approx_top1"),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        (coalesce(col("overlap"), lit(0L)).cast("double") / lit(10.0)).as("recall"))
      .orderBy(col("query_id"))
  }

  /** One grouped-Lloyd iteration over all PQ subspaces — the q74
    * `kmIteration` shape with (m, k) centroid keys: assignment under
    * `prev`, exact integer component sums, list rebuild in pos order,
    * empty cells keep their previous centroid. */
  private def pqIteration(prev: String, next: String): String =
    s"""a_$next AS (
       |  SELECT vec_id, m, k, svi FROM (
       |    SELECT t.vec_id, t.m, c.k, t.svi,
       |      ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.m ORDER BY
       |        list_dot_product(c.cw, c.cw) - 2.0 * list_dot_product(t.svi, c.cw),
       |        c.k) AS rn
       |    FROM isubs t JOIN $prev c ON t.m = c.m
       |  ) WHERE rn = 1
       |), m_$next AS (
       |  SELECT m, k, i AS pos, SUM(svi[CAST(i AS INT)]) AS sx, COUNT(*) AS n
       |  FROM a_$next, range(1, ${PqSubDim + 1}) r(i)
       |  GROUP BY m, k, i
       |), u_$next AS (
       |  SELECT m, k, list(sx / n ORDER BY pos) AS cw FROM m_$next GROUP BY m, k
       |), $next AS (
       |  SELECT p.m, p.k, COALESCE(u.cw, p.cw) AS cw
       |  FROM $prev p LEFT JOIN u_$next u USING (m, k)
       |)""".stripMargin

  lazy val oracleQ99: String =
    s"""WITH ve AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), subs AS (
       |  SELECT vec_id, m, v[m*$PqSubDim+1 : m*$PqSubDim+$PqSubDim] AS sv
       |  FROM ve, (SELECT unnest(range(0, $PqM)) AS m) mm
       |), isubs AS (
       |  SELECT vec_id, m,
       |    list_transform(sv, x -> floor(x * 1e6 + 0.5)) AS svi
       |  FROM subs
       |), c0 AS (
       |  SELECT m, CAST(vec_id AS INT) AS k, svi AS cw FROM isubs
       |  WHERE vec_id < $PqK
       |), ${pqIteration("c0", "c1")}, ${pqIteration("c1", "c2")}, cb AS (
       |  SELECT m, k, list_transform(cw, x -> x / 1e6) AS cw FROM c2
       |), asg AS (
       |  SELECT s.vec_id, s.m, c.k,
       |    list_dot_product(c.cw, c.cw) - 2.0*list_dot_product(s.sv, c.cw) AS s2
       |  FROM subs s JOIN cb c ON s.m = c.m
       |), codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY s2, k) AS rn
       |    FROM asg) WHERE rn = 1
       |), qt AS (
       |  SELECT q.vec_id AS qid, q.m, c.k,
       |    CAST(floor((list_dot_product(c.cw, c.cw)
       |      - 2.0*list_dot_product(q.sv, c.cw)
       |      + list_dot_product(q.sv, q.sv)) * 1e6 + 0.5) AS BIGINT) AS tq
       |  FROM subs q JOIN cb c ON q.m = c.m WHERE q.vec_id < $SqNumQueries
       |), ad AS (
       |  SELECT qt.qid, codes.vec_id, CAST(SUM(tq) AS BIGINT) AS adist
       |  FROM codes JOIN qt ON codes.m = qt.m AND codes.code = qt.k
       |  GROUP BY qt.qid, codes.vec_id
       |), short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rn
       |    FROM ad WHERE vec_id <> qid) WHERE rn <= $PqShortlist
       |), eq AS (
       |  SELECT vec_id AS qid, v AS qv FROM ve WHERE vec_id < $SqNumQueries
       |), rer AS (
       |  SELECT s.qid, s.vec_id,
       |    list_dot_product(r.v, r.v) - 2*list_dot_product(r.v, eq.qv)
       |      + list_dot_product(eq.qv, eq.qv) AS d2
       |  FROM short s JOIN ve r ON s.vec_id = r.vec_id
       |  JOIN eq ON s.qid = eq.qid
       |), apk AS (
       |  SELECT qid, vec_id, rn FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn
       |    FROM rer) WHERE rn <= $SqK
       |), exd AS (
       |  SELECT eq.qid, r.vec_id,
       |    list_dot_product(r.v, r.v) - 2*list_dot_product(r.v, qv)
       |      + list_dot_product(qv, qv) AS d2
       |  FROM ve r, eq WHERE r.vec_id <> eq.qid
       |), exk AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rn
       |    FROM exd) WHERE rn <= $SqK
       |), ovl AS (
       |  SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS overlap
       |  FROM apk a JOIN exk e ON a.qid = e.qid AND a.vec_id = e.vec_id
       |  GROUP BY a.qid
       |), t1 AS (
       |  SELECT qid, vec_id AS approx_top1 FROM apk WHERE rn = 1
       |)
       |SELECT t1.qid AS query_id, t1.approx_top1,
       |  CAST(COALESCE(ovl.overlap, 0) AS BIGINT) AS overlap,
       |  CAST(COALESCE(ovl.overlap, 0) AS DOUBLE) / 10.0 AS recall
       |FROM t1 LEFT JOIN ovl ON t1.qid = ovl.qid
       |ORDER BY query_id""".stripMargin

  /** Quantization step for q108's moment sums: 1e4 keeps every per-row
    * product exactly representable in a long AND bounds the global Σv²
    * under 2^63 out to ~2.5e11 rows (see [[graft.operators.VectorStats]]).
    */
  val StatsScale = 10000.0

  /** q108 — per-dimension embedding statistics (mean / population variance
    * per dimension): the "fit the standardizer" pass run before training,
    * whitening, or drift monitoring.
    *
    * Scale shape: the custom [[graft.operators.VectorStats.MomentsAgg]]
    * Aggregator folds each partition into ONE 64-long moment state and
    * merges states — no posexplode, so nothing row×dim-shaped ever
    * shuffles. The final posexplode runs on a single merged struct. All
    * sums are exact quantized integers (fail-loud on overflow), and the
    * derived doubles share one expression tree with the oracle. */
  def q108EmbedStats(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.VectorStats
    val scaled = Tables.embeddings(s, dir)
      .filter(col("embedding").isNotNull)
      .select(transform(col("embedding"),
        e => floor(e.cast("double") * lit(StatsScale) + lit(0.5))
          .cast("long")).as("v"))
    scaled.agg(VectorStats.moments(col("v")).as("m"))
      .select(col("m.n").as("n"), col("m.s").as("s"), col("m.ss").as("ss"))
      .select(col("n"), posexplode(arrays_zip(col("s"), col("ss"))))
      .select(col("pos").cast("long").as("dim"), col("n"),
        col("col.s").as("sum4"), col("col.ss").as("sumsq4"))
      .withColumn("mean",
        col("sum4").cast("double") / col("n").cast("double") / lit(StatsScale))
      .withColumn("var_pop",
        (col("sumsq4").cast("double")
          - col("sum4").cast("double") * col("sum4").cast("double")
            / col("n").cast("double"))
          / col("n").cast("double") / lit(1e8))
      .orderBy(col("dim"))
  }

  /** q112 edit-distance verify parameters: distance computed on the first
    * [[LevPrefix]] normalized chars (bounds the O(L²) DP per pair at a
    * constant), pairs kept at distance ≤ [[LevMaxDist]]. */
  val LevPrefix = 80
  val LevMaxDist = 40

  /** q112 — edit-distance verification of LSH candidate pairs: the fuzzy
    * string-matching half of entity resolution. Candidate generation is
    * the gated MinHash/LSH pipeline (bounded, NOT all-pairs); each
    * candidate pair is then verified with an exact Levenshtein distance
    * over a fixed normalized prefix — character-level evidence where
    * Jaccard (q15) gives set-level evidence.
    *
    * Scale shape: the quadratic surface stays banded (candidates only);
    * the DP cost per pair is constant ([[LevPrefix]]²); prefix lookups
    * join by doc_id with shuffle_hash hinted on the prefix side. The
    * hint stays by measurement, not for missing stats (the candidate side
    * is a pin and carries its measured size): at sf0.1, 9.3 s hinted vs
    * 23.0 s without (PLANS.md "One pin entry"). The likely cause: without
    * it the planner broadcasts a side, so [[Materialize.sorted]] reads a
    * broadcast tail, does not pin it, and the range sort runs the
    * Levenshtein DP in both of its passes. */
  def q112LevPairs(s: SparkSession, dir: String): DataFrame = {
    // one carrier holds BOTH the hashed-shingle array and the comparison
    // prefix, so the corpus is normalized and scanned once; signatures and
    // both prefix lookups all read the materialized relation
    val carrier = Tables.documents(s, dir)
      .select(col("doc_id"), Text.normalize(col("text")).as("__norm"))
      .filter(length(col("__norm")) >= ShingleK)
      .select(col("doc_id"),
        Dedup.shingleHashCol("__norm", ShingleK).as("harr"),
        substring(col("__norm"), 1, LevPrefix).as("p"))
    Materialize.withMaterialized(carrier) { carr =>
      val sig = Dedup.minhashSignaturesFromHashes(
        carr.select(col("doc_id"), col("harr")), "doc_id", NumHashes)
      val cand = Dedup.minhashCandidates(sig, "doc_id", RowsPerBand)
      val pfx = carr.select(col("doc_id"), col("p"))
      val lev = cand
        .join(pfx.select(col("doc_id").as("id1"), col("p").as("p1"))
          .hint("shuffle_hash"), Seq("id1"))
        .join(pfx.select(col("doc_id").as("id2"), col("p").as("p2"))
          .hint("shuffle_hash"), Seq("id2"))
        // thresholded form: banded O(L·d) DP that returns -1 past
        // LevMaxDist — the distance itself is exact when within bound,
        // so the kept rows match the oracle's plain levenshtein filter
        .select(col("id1"), col("id2"),
          levenshtein(col("p1"), col("p2"), LevMaxDist)
            .cast("long").as("lev"))
        .filter(col("lev") >= 0)
      val out = Materialize.sorted(lev, col("id1"), col("id2"))
      Materialize.release(cand)
      out
    }
  }

  /** q115 — cross-source shingle-overlap matrix: exact Jaccard between
    * every pair of sources' k-gram hash SETS — the corpus-composition
    * audit that finds mirrored/syndicated content BETWEEN ingestion
    * sources before it becomes intra-corpus duplication (the source-level
    * grain of what q14/q15 do at document grain).
    *
    * Scale shape: the shingle-hash carrier is scoped-materialized before
    * the explode (rule 7 — md5-per-element arrays must not re-evaluate per
    * output row); (source, h) distinct is one shuffle with map-side
    * combine; the pair join runs on h where per-hash fanout is bounded by
    * the source count (≤ 6² rows per hash value, never corpus-quadratic);
    * source sizes broadcast back onto the 15-row pair relation. */
  def q115SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val carrier = Tables.documents(s, dir)
      .select(col("source"), Text.normalize(col("text")).as("__norm"))
      .filter(length(col("__norm")) >= ShingleK)
      .select(col("source"), Dedup.shingleHashCol("__norm", ShingleK).as("harr"))
    Materialize.withMaterialized(carrier) { carr =>
      val hs = carr.select(col("source"), explode(col("harr")).as("h"))
        .distinct()
      Materialize.withMaterialized(hs) { hsm =>
        val sizes = hsm.groupBy(col("source")).agg(count(lit(1)).as("sz"))
        val inter = hsm.select(col("source").as("s1"), col("h"))
          .join(hsm.select(col("source").as("s2"), col("h")), Seq("h"))
          .filter(col("s1") < col("s2"))
          .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("inter"))
        Materialize.sorted(inter
          .join(broadcast(sizes.select(col("source").as("s1"),
            col("sz").as("sz1"))), Seq("s1"))
          .join(broadcast(sizes.select(col("source").as("s2"),
            col("sz").as("sz2"))), Seq("s2"))
          .select(col("s1"), col("s2"), col("inter"), col("sz1"), col("sz2"),
            (col("inter").cast("double")
              / (col("sz1") + col("sz2") - col("inter")).cast("double"))
              .as("jaccard")), col("s1"), col("s2"))
      }
    }
  }

  val oracleQ115: String =
    s"""WITH norm AS (
       |  SELECT source, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), ${capGuardCte("capg115", "norm")}, sh AS (
       |  SELECT DISTINCT source, substr(t, CAST(i AS INT), $ShingleK) AS shingle
       |  FROM norm, range(1, $OraclePosCap) r(i), capg115
       |  WHERE capg115.ok = 1 AND len(t) >= $ShingleK
       |    AND i <= len(t) - ${ShingleK - 1}
       |), hs AS (
       |  SELECT DISTINCT source,
       |    CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
       |  FROM sh
       |), sz AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM hs GROUP BY source
       |), inter AS (
       |  SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM hs a JOIN hs b USING (h)
       |  WHERE a.source < b.source GROUP BY 1, 2
       |)
       |SELECT i.s1, i.s2, i.inter, z1.sz AS sz1, z2.sz AS sz2,
       |  CAST(i.inter AS DOUBLE) / CAST(z1.sz + z2.sz - i.inter AS DOUBLE)
       |    AS jaccard
       |FROM inter i
       |JOIN sz z1 ON z1.source = i.s1
       |JOIN sz z2 ON z2.source = i.s2
       |ORDER BY s1, s2""".stripMargin

  val oracleQ112: String =
    s"""$minhashCtes, pfx AS (
       |  SELECT doc_id, substr(t, 1, $LevPrefix) AS p FROM norm
       |)
       |SELECT c.id1, c.id2, CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev
       |FROM cand c
       |JOIN pfx a ON a.doc_id = c.id1
       |JOIN pfx b ON b.doc_id = c.id2
       |WHERE levenshtein(a.p, b.p) <= $LevMaxDist
       |ORDER BY id1, id2""".stripMargin

  val oracleQ108: String =
    s"""WITH sc AS (
       |  SELECT t.i AS dim,
       |    CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 10000.0 + 0.5)
       |      AS BIGINT) AS v
       |  FROM embeddings, range($AnnDims) t(i)
       |  WHERE embedding IS NOT NULL
       |), m AS (
       |  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(v) AS BIGINT) AS sum4,
       |    CAST(SUM(v * v) AS BIGINT) AS sumsq4
       |  FROM sc GROUP BY dim
       |)
       |SELECT dim, n, sum4, sumsq4,
       |  CAST(sum4 AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0 AS mean,
       |  (CAST(sumsq4 AS DOUBLE)
       |    - CAST(sum4 AS DOUBLE) * CAST(sum4 AS DOUBLE) / CAST(n AS DOUBLE))
       |    / CAST(n AS DOUBLE) / 1e8 AS var_pop
       |FROM m ORDER BY dim""".stripMargin
}
