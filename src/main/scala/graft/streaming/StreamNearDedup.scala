package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Dedup

/** Streaming NEAR-dup screen at ingest — the streaming counterpart of the
  * q77 incremental batch dedup: documents arrive on a stream, each is
  * shingle-hashed, MinHash-signed and LSH-banded with the SAME expressions
  * as the batch pipeline ([[Dedup.shingleHashCol]] /
  * [[Dedup.minhashSignaturesFromHashes]] / [[Dedup.bandedSignatures]] —
  * one source of truth, so stream and batch cannot drift), then joined
  * stream-static against the standing corpus's banded signature relation
  * and verified by exact Jaccard on the hashed shingle arrays.
  *
  * Scale shape: the whole stream side is stateless projections + one
  * stream-static join (supported without watermark state); the standing
  * side is a static relation the caller should pin — or, at real scale,
  * maintain as a bucketed table keyed on (band, bkey) so each micro-batch
  * joins co-located. The only stateful operator is the final
  * `dropDuplicatesWithinWatermark` that collapses multi-band hits of the
  * same (doc, match) pair, with state bounded by the lateness horizon —
  * the same honest streaming contract as [[StreamDedup]].
  */
object StreamNearDedup {

  final case class Doc(ts: java.sql.Timestamp, docId: Long, text: String)

  /** The standing corpus's banded-signature relation, with the verify
    * array carried to the bucket: the static side of [[screen]]. Exposed
    * so callers can materialize it ONCE (`Materialize.withMaterialized`
    * around the whole streaming run, or a bucketed table at real scale) —
    * otherwise every micro-batch recomputes the full corpus
    * shingle→minhash→band pipeline (q92 ran 2× slower before this
    * split). */
  def standingBanded(standing: DataFrame, k: Int, nHashes: Int,
                     rowsPerBand: Int): DataFrame = {
    val sHarrs = Dedup.shingleHashArrays(standing, "doc_id", "text", k)
    Dedup.bandedSignatures(
        Dedup.minhashSignaturesFromHashes(sHarrs, "doc_id", nHashes),
        "doc_id", rowsPerBand)
      .join(sHarrs, Seq("doc_id")) // carry the verify array to the bucket
      .select(col("band"), col("bkey"), col("doc_id").as("dup_of"),
        col("harr").as("__h2"))
  }

  /** Screen `docs` (streaming or static) against `standing(doc_id, text)`.
    * Emits one row per (arriving doc, standing match) with Jaccard ≥
    * `minJaccard`. On a static Dataset the same code degrades to the
    * batch cross-screen (modulo the watermark), which is how the spec
    * proves stream ≡ batch. */
  def screen(docs: Dataset[Doc], standing: DataFrame, k: Int, nHashes: Int,
             rowsPerBand: Int, minJaccard: Double,
             lateness: String): DataFrame =
    screenBanded(docs, standingBanded(standing, k, nHashes, rowsPerBand),
      k, nHashes, rowsPerBand, minJaccard, lateness)

  /** [[screen]] against a PREBUILT (ideally materialized) standing
    * banded relation from [[standingBanded]]. */
  def screenBanded(docs: Dataset[Doc], sBand: DataFrame, k: Int,
                   nHashes: Int, rowsPerBand: Int, minJaccard: Double,
                   lateness: String): DataFrame = {
    val nHarrs = docs.toDF()
      .withColumn("__norm", Text.normalize(col("text")))
      .filter(length(col("__norm")) >= k)
      .withColumn("harr", Dedup.shingleHashCol("__norm", k))
      .select(col("ts"), col("docId"), col("harr"))
    val nBand = Dedup.bandedSignatures(
      Dedup.minhashSignaturesFromHashes(nHarrs, "docId", nHashes,
        keep = Seq("ts", "harr")),
      "docId", rowsPerBand, keep = Seq("ts", "harr"))
    val verified = nBand.join(sBand, Seq("band", "bkey"))
      .withColumn("inter",
        graft.functions.SortedIntersectExpr.count(col("harr"), col("__h2")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("harr")).cast("long") + size(col("__h2")).cast("long")
            - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("ts"), col("docId"), col("dup_of"), col("jaccard"))
    // collapse multi-band hits of the same pair; watermark bounds the state
    if (docs.isStreaming)
      verified.withWatermark("ts", lateness)
        .dropDuplicatesWithinWatermark("docId", "dup_of")
    else verified.dropDuplicates("docId", "dup_of")
  }
}
