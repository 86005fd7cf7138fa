package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Materialize

/** Unigram-LM tokenizer segmentation (the SentencePiece unigram model,
  * Kudo ACL'18 §3, evaluated as hard-Viterbi): a frequency-trained piece
  * vocabulary scores every substring piece by its quantized
  * log-probability, and each document is segmented by the maximum-score
  * Viterbi path. This is the OTHER major subword family next to BPE
  * (q125/q127): BPE composes greedily bottom-up from merge rules; the
  * unigram model searches globally over all segmentations — the two
  * together cover the tokenizers production LLM pipelines actually run.
  */
object Unigram {

  /** Max piece length (SentencePiece seeds with short substrings). */
  val UgMaxLen = 4

  /** Trained-vocabulary size cut (top by frequency); every single
    * character is force-included so the lattice is always complete. */
  val UgVocab = 256

  /** Score scale: pieces score floor(ln(freq/total)·1e6 + 0.5) — the
    * q72 scaled-integer-carrier rule, so Viterbi sums are exact BIGINT
    * adds in both engines and the one transcendental is quantized at
    * the boundary where JVM and DuckDB libm agree. */
  val UgScale = 1e6

  final case class UgDoc(doc_id: Long, text: String)
  final case class UgSeg(doc_id: Long, n_pieces: Long, total_score: Long)

  /** Candidate piece counts: every occurrence of every substring of
    * length 1..[[UgMaxLen]] (overlapping, the SentencePiece seed
    * statistic). One typed flatMap per doc — bounded fanout
    * len·[[UgMaxLen]] — then one map-side-combined count. */
  private def pieceCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"), col("text")).as[UgDoc]
      .flatMap { d =>
        val t = d.text
        for {
          j <- 0 until t.length
          l <- 1 to math.min(UgMaxLen, t.length - j)
        } yield t.substring(j, j + l)
      }
      .toDF("piece")
      .groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
  }

  /** q208 — Viterbi segmentation under the trained unigram vocabulary:
    * per document, the max-total-score segmentation's piece count and
    * score (ties on score resolved to the FEWEST pieces — a total,
    * path-free tie-break both engines replay).
    *
    * Scale shape: vocabulary training is one corpus count + a bounded
    * top-k cut; the trained table (≤ [[UgVocab]] + alphabet rows) is a
    * driver-collected broadcast — bounded metadata, the q74/q125
    * centroid/merge-table discipline. Segmentation is then one typed
    * map per document (O(len·[[UgMaxLen]]) each, embarrassingly
    * parallel; document bytes never shuffle). The oracle replays the
    * DP as a per-position recursive CTE carrying a rolling
    * [[UgMaxLen]]-slot window (the q156 fold idiom). */
  def q208UnigramSegment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fail-loud bound check mirroring SuffixArray.rankLevels: the oracle's
    // position range is hardcoded to 1024, so a longer doc would make it
    // silently miss pieces while Spark processes them all
    val maxLen = Tables.documents(s, dir)
      .agg(max(length(col("text")))).collect()(0).getInt(0)
    require(maxLen <= 1024,
      s"document of $maxLen chars exceeds the oracle's 1024-position bound")
    val counts = Materialize.pin(pieceCounts(s, dir))
    val total = counts.agg(sum(col("cnt"))).collect()(0).getLong(0)
    val w = Window.orderBy(col("cnt").desc, col("piece"))
    val vocabRows = counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= UgVocab || length(col("piece")) === 1)
      .select(col("piece"), col("cnt"))
      .collect() // bounded: <= UgVocab + alphabet
    val vocab: Map[String, Long] = vocabRows.map { r =>
      val cnt = r.getLong(1)
      r.getString(0) ->
        math.floor(math.log(cnt.toDouble / total) * UgScale + 0.5).toLong
    }.toMap
    val out = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).as[UgDoc]
      .map(d => viterbi(d.doc_id, d.text, vocab))
    out.toDF().orderBy(col("doc_id"))
  }

  /** The Viterbi DP: max total score over all segmentations into vocab
    * pieces of length ≤ [[UgMaxLen]]; score ties → fewest pieces. */
  private[graft] def viterbi(docId: Long, t: String,
                               vocab: Map[String, Long]): UgSeg = {
    val n = t.length
    val sc = new Array[Long](n + 1) // dp score
    val np = new Array[Long](n + 1) // fewest pieces at optimal score
    var j = 1
    while (j <= n) {
      var best = Long.MinValue
      var pieces = Long.MaxValue
      var l = 1
      while (l <= math.min(UgMaxLen, j)) {
        vocab.get(t.substring(j - l, j)) match {
          case Some(psc) =>
            val cand = sc(j - l) + psc
            if (cand > best) { best = cand; pieces = np(j - l) + 1 }
            else if (cand == best && np(j - l) + 1 < pieces)
              pieces = np(j - l) + 1
          case None =>
        }
        l += 1
      }
      sc(j) = best; np(j) = pieces
      j += 1
    }
    UgSeg(docId, np(n), sc(n))
  }

  lazy val oracleQ208: String =
    s"""WITH RECURSIVE d AS MATERIALIZED (
       |  SELECT doc_id, text, length(text) AS n FROM documents
       |), pc AS MATERIALIZED (
       |  SELECT piece, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT substr(text, CAST(j + 1 AS INT), CAST(l AS INT)) AS piece
       |    FROM d, range(0, 1024) t(j), range(1, ${UgMaxLen + 1}) u(l)
       |    WHERE j + l <= n)
       |  GROUP BY piece
       |), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM pc),
       |vocab AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE) / total) * 1e6 + 0.5)
       |      AS BIGINT) AS sc
       |  FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM pc), tot
       |  WHERE rn <= $UgVocab OR length(piece) = 1
       |), candp AS MATERIALIZED (
       |  SELECT doc_id, i,
       |    max(CASE WHEN l = 1 THEN sc END) AS c1,
       |    max(CASE WHEN l = 2 THEN sc END) AS c2,
       |    max(CASE WHEN l = 3 THEN sc END) AS c3,
       |    max(CASE WHEN l = 4 THEN sc END) AS c4
       |  FROM (
       |    SELECT dd.doc_id, CAST(i AS BIGINT) AS i, CAST(l AS BIGINT) AS l,
       |      v.sc
       |    FROM d dd, range(1, 1025) t(i), range(1, ${UgMaxLen + 1}) u(l),
       |      vocab v
       |    WHERE i <= dd.n AND i - l + 1 >= 1
       |      AND v.piece =
       |        substr(dd.text, CAST(i - l + 1 AS INT), CAST(l AS INT)))
       |  GROUP BY doc_id, i
       |), rec(doc_id, i, s0, n0, s1, n1, s2, n2, s3, n3) AS (
       |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT),
       |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
       |  FROM d
       |  UNION ALL
       |  SELECT doc_id, i,
       |    best,
       |    least(CASE WHEN v1 = best THEN p0 + 1 END,
       |          CASE WHEN v2 = best THEN p1 + 1 END,
       |          CASE WHEN v3 = best THEN p2 + 1 END,
       |          CASE WHEN v4 = best THEN p3 + 1 END),
       |    ps0, pn0, ps1, pn1, ps2, pn2
       |  FROM (
       |    SELECT doc_id, i, greatest(v1, v2, v3, v4) AS best,
       |      v1, v2, v3, v4, p0, p1, p2, p3,
       |      ps0, pn0, ps1, pn1, ps2, pn2
       |    FROM (
       |      SELECT r.doc_id, c.i,
       |        CASE WHEN c.c1 IS NOT NULL AND r.s0 IS NOT NULL
       |          THEN r.s0 + c.c1 END AS v1,
       |        CASE WHEN c.c2 IS NOT NULL AND r.s1 IS NOT NULL
       |          THEN r.s1 + c.c2 END AS v2,
       |        CASE WHEN c.c3 IS NOT NULL AND r.s2 IS NOT NULL
       |          THEN r.s2 + c.c3 END AS v3,
       |        CASE WHEN c.c4 IS NOT NULL AND r.s3 IS NOT NULL
       |          THEN r.s3 + c.c4 END AS v4,
       |        r.n0 AS p0, r.n1 AS p1, r.n2 AS p2, r.n3 AS p3,
       |        r.s0 AS ps0, r.n0 AS pn0, r.s1 AS ps1, r.n1 AS pn1,
       |        r.s2 AS ps2, r.n2 AS pn2
       |      FROM rec r JOIN candp c
       |        ON c.doc_id = r.doc_id AND c.i = r.i + 1) x0) x1
       |)
       |SELECT r.doc_id, r.n0 AS n_pieces, r.s0 AS total_score
       |FROM rec r JOIN d ON d.doc_id = r.doc_id AND r.i = d.n
       |ORDER BY r.doc_id""".stripMargin
}
