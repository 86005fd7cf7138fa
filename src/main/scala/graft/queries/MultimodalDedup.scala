package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Materialize}

/** The multimodal near-dup ENDGAME: one dedup program over every
  * modality's pair relation. The per-modality matchers exist as their
  * own gates — image pHash pairs (q199), audio constellation matches
  * (q201), video clipped-copy matches (q202) — but a 100-TB pipeline
  * doesn't stop at pairs: it unions the evidence, clusters it, and
  * keeps one representative per cluster. q212 is that composition:
  * per-modality fingerprint pairs → one tagged edge relation → ONE
  * connected-components pass ([[Dedup.connectedComponents]], the same
  * machinery the text side's q61 uses) → quality-aware keeper (longest
  * document text, ties to the smallest id — the q136 keeper discipline).
  *
  * The output pins per-modality containment in the hash: each doc's
  * `modalities` column lists which matchers put it in the graph, so a
  * modality silently dropping out (or leaking extra pairs) changes the
  * gate row even when the clustering happens to agree.
  *
  * Scale shape: each modality's matcher is already banded/keyed (see
  * the q199/q201/q202 scaladocs — payload bytes never shuffle); the
  * union is pair-sized; CC runs min-label rounds over clique-like
  * clusters (diameter 2-3, a handful of one-shuffle rounds with
  * checkpointed lineage); the keeper pass is one window over the
  * cluster key. Nothing here touches media bytes — it is pure
  * pair-relation algebra, which is the point: at 100 TB the modality
  * matchers stream fingerprints out of the decode pass once, and the
  * endgame only ever moves 16-byte edges. */
object MultimodalDedup {

  /** Minimum temporally-consistent landmark votes for an audio best
    * match to count as near-dup evidence (drops cross-content
    * coincidences the 16-point-DFT hash space admits). */
  val AudioMinVotes = 4L

  /** Minimum aligned-frame votes for a video best match: a genuine
    * clipped twin shares ≥ nf−1 ≥ 3 frames at offset −1. */
  val VideoMinVotes = 3L

  def q212MultimodalDedup(s: SparkSession, dir: String): DataFrame = {
    // ONE decode pass: every modality's fingerprints come off a single
    // scan+synthesize+decode stage (operators.Multimodal.allFingerprints),
    // materialized once — the standalone gates q199/q201/q202 each pay
    // their own decode; the composition must not pay it three times over.
    val fp = Materialize.pin(graft.operators.Multimodal.allFingerprints(s, dir))
    val img = Advanced.phashPairsFrom(
        fp.filter(col("mod") === "img")
          .select(col("doc_id"), col("h").as("phash")))
      .select(col("doc1").as("id1"), col("doc2").as("id2"),
        lit("img").as("mod"))
    val aud = Advanced.audioMatchFrom(
        fp.filter(col("mod") === "aud")
          .select(col("doc_id"), col("h"), col("frame_idx")))
      .filter(col("votes") >= AudioMinVotes)
      .select(least(col("query_doc"), col("matched_doc")).as("id1"),
        greatest(col("query_doc"), col("matched_doc")).as("id2"),
        lit("aud").as("mod"))
    val vid = Advanced.videoMatchFrom(
        fp.filter(col("mod") === "vid")
          .select(col("doc_id"), col("h").as("phash"), col("frame_idx")))
      .filter(col("votes") >= VideoMinVotes)
      .select(least(col("query_doc"), col("matched_doc")).as("id1"),
        greatest(col("query_doc"), col("matched_doc")).as("id2"),
        lit("vid").as("mod"))
    // eager checkpoint: the three matchers each end in their own
    // checkpointed relations, but the union feeds BOTH the CC loop and
    // the incidence rollup — materialize once, read twice
    val edges = Materialize.pin(img.unionByName(aud).unionByName(vid)
      .filter(col("id1") =!= col("id2"))
      .distinct())
    val cc = Dedup.connectedComponents(
      edges.select(col("id1"), col("id2")).distinct())
    val inc = edges.select(col("id1").as("doc_id"), col("mod"))
      .unionByName(edges.select(col("id2").as("doc_id"), col("mod")))
      .groupBy(col("doc_id"))
      .agg(array_join(sort_array(collect_set(col("mod"))), ",")
        .as("modalities"))
    val qual = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("__q"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__q").desc, col("doc_id"))
    cc.join(inc, Seq("doc_id"))
      .join(qual, Seq("doc_id"))
      .withColumn("__rn", row_number().over(w))
      .select(col("doc_id"), col("cluster"), col("modalities"),
        (col("__rn") === 1).as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** The oracle replays all three modality matchers (their own gate
    * oracles, embedded verbatim as WITH-subqueries — DuckDB scopes each
    * chain's CTE names inside its subquery), unions the thresholded
    * pairs, and runs the q61 recursive-reachability clustering plus the
    * same quality-keeper window. */
  lazy val oracleQ212: String =
    s"""WITH RECURSIVE imgp AS MATERIALIZED (
       |  SELECT doc1 AS id1, doc2 AS id2, 'img' AS mod
       |  FROM (${Advanced.oracleQ199}) iq
       |), audp AS MATERIALIZED (
       |  SELECT least(query_doc, matched_doc) AS id1,
       |    greatest(query_doc, matched_doc) AS id2, 'aud' AS mod
       |  FROM (${Advanced.oracleQ201}) aq
       |  WHERE votes >= $AudioMinVotes
       |), vidp AS MATERIALIZED (
       |  SELECT least(query_doc, matched_doc) AS id1,
       |    greatest(query_doc, matched_doc) AS id2, 'vid' AS mod
       |  FROM (${Advanced.oracleQ202}) vq
       |  WHERE votes >= $VideoMinVotes
       |), medges AS MATERIALIZED (
       |  SELECT DISTINCT id1, id2, mod FROM (
       |    SELECT * FROM imgp
       |    UNION ALL SELECT * FROM audp
       |    UNION ALL SELECT * FROM vidp)
       |  WHERE id1 <> id2
       |), mpairs AS (
       |  SELECT DISTINCT id1, id2 FROM medges
       |), mbedges AS (
       |  SELECT id1 AS a, id2 AS b FROM mpairs
       |  UNION ALL SELECT id2, id1 FROM mpairs
       |), mverts AS (
       |  SELECT DISTINCT a AS id FROM mbedges
       |), mreach(a, b) AS (
       |  SELECT id, id FROM mverts
       |  UNION
       |  SELECT r.a, e.b FROM mreach r JOIN mbedges e ON e.a = r.b
       |), mcc AS (
       |  SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS cluster
       |  FROM mreach GROUP BY a
       |), minc AS (
       |  SELECT doc_id, string_agg(DISTINCT mod, ',' ORDER BY mod)
       |    AS modalities
       |  FROM (SELECT id1 AS doc_id, mod FROM medges
       |        UNION ALL SELECT id2, mod FROM medges)
       |  GROUP BY doc_id
       |), mql AS (
       |  SELECT doc_id, len(text) AS ql FROM documents
       |), mranked AS (
       |  SELECT c.doc_id, c.cluster, i.modalities,
       |    row_number() OVER (PARTITION BY c.cluster
       |      ORDER BY q.ql DESC, c.doc_id) AS rn
       |  FROM mcc c
       |  JOIN minc i USING (doc_id)
       |  JOIN mql q USING (doc_id)
       |)
       |SELECT doc_id, cluster, modalities, (rn = 1) AS is_keeper
       |FROM mranked ORDER BY doc_id""".stripMargin
}
