package graft.tools

import org.apache.spark.sql.functions._

/** Build an SF1-EQUIVALENT test directory from sf0.1 so the scale-ratio
  * probe can MEASURE a 100× point (vs sf0.01) instead of extrapolating
  * from the 10× two-point fit:
  *
  *   runMain graft.tools.Probe100 [srcDir] [outDir]    # build (once)
  *   SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_BENCH_ONLY=q15...,q76... \
  *     runMain graft.Bench                              # measure
  *
  * Synthesis contract — the blow-up must be ORGANIC, not degenerate:
  *  - `documents`: 10 copies, doc_id shifted by 10M per copy, text
  *    passed through a PER-COPY Caesar cipher (letters AND digits
  *    rotated by k; whitespace/punctuation fixed). The cipher rewrites
  *    essentially every CHARACTER k-gram — the dedup pipeline shingles
  *    characters (Dedup.shingleHashCol), so this is the transform that
  *    actually makes cross-copy texts non-similar — while preserving
  *    document lengths, word boundaries and the within-copy duplicate
  *    structure exactly. Result: 10 disjoint sf0.1-shaped corpora —
  *    dup rate, cluster structure and per-doc cost match sf0.1, pair
  *    volume scales ~10×. (First attempt suffixed each TOKEN with a
  *    copy tag; char k-grams interior to words survived, leaving
  *    cross-copy jaccard high enough to flood the LSH candidate stage
  *    with pairs no organic crawl would have — measured q15 34× over
  *    sf0.1 on that corpus. A lesson the probe exists to teach.)
  *  - `lineitem`: 10 copies with l_orderkey AND l_partkey shifted by
  *    100M per copy. The graph pipelines (q113/q146/q153) build edges
  *    from lineitem keys alone, so disjoint orderkeys+partkeys give 10
  *    disjoint co-purchase graphs — an organic ×10 (same degree
  *    distribution per copy), not a densified single graph. l_suppkey is
  *    left unshifted because q55 joins `supplier`: suppliers stay
  *    dim-sized with per-key fan-in ×10, the conservative
  *    (skew-stressing) direction for the basket program.
  *  - `embeddings`: 10 copies, vec_id shifted by 10M, and each vector
  *    CYCLICALLY ROTATED by 6·k coordinates. Rotation preserves norms
  *    and all WITHIN-copy pairwise dot products exactly (the copy is
  *    geometrically identical to sf0.1) while decorrelating cross-copy
  *    vectors — a verbatim union would duplicate every vector 10× and
  *    hand the ANN/SemDeDup pipelines a degenerate 10-way-dup corpus.
  *  - every other table: byte-for-byte copy of the sf0.1 file.
  */
object Probe100 {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val spark = graft.Session.local(graft.Session.cpus)

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    def rot(s: String, k: Int): String = s.drop(k % s.length) + s.take(k % s.length)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until 10).map { k =>
      val from = lower + lower.toUpperCase + digits
      val to = rot(lower, k) + rot(lower, k).toUpperCase + rot(digits, k)
      docs.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        translate(col("text"), from, to).as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionAll _)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until 10).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * 100000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(k * 100000000L))
    }.reduce(_ unionAll _)
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until 10).map { k =>
      val r = 6 * k // rotate coordinates: norm- and within-copy-geometry-preserving
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      emb.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    import java.nio.file.{Files, Paths, StandardCopyOption}
    for (t <- graft.Tables.names
         if t != "documents" && t != "lineitem" && t != "embeddings")
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$out/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)

    println(s"PROBE100 built $out: documents x10 (ciphered), lineitem x10 " +
      s"(order+part-shifted), embeddings x10 (rotated), rest copied from $src")
    spark.stop()
  }
}
