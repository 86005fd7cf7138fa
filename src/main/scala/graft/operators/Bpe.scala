package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Text

/** Byte-pair-encoding merge training (Sennrich et al. 2016, the tokenizer-
  * training loop of every modern LLM pipeline) as a distributed program:
  * each round counts adjacent symbol pairs across the corpus (weighted by
  * word frequency), takes the globally most frequent pair (ties broken by
  * (left, right) lexicographic order, so the result is deterministic), and
  * merges it greedily left-to-right non-overlapping — the standard BPE
  * application order ("aaaa" + merge (a,a) → "(aa)(aa)").
  *
  * Scale shape: BPE trains on the WORD-FREQUENCY table, not the corpus —
  * the one corpus-sized operation is the initial word count (one
  * map-side-combined shuffle over the token explode); everything after
  * runs on the distinct-word relation (vocabulary-sized — millions of
  * rows at 100 TB, not billions). Per round: one pair-count aggregation
  * (map-side partials; adjacent-pair explode is bounded by symbols-per-
  * word) and ONE top-1 row collected to the driver (bounded metadata,
  * rule 6). The merge application is a map-side regexp_replace; `\b`-
  * anchored patterns are exact token-boundary matches because symbols
  * are `\w`-only and space-separated. The word table is scoped-
  * materialized once; per-round lineage adds one projection, so no
  * iterative checkpointing is needed at these round counts (a 30k-merge
  * production run would checkpoint every ~50 rounds).
  */
object Bpe {

  /** Adjacent-pair counts over spaced-symbol words `(sp, freq)`. */
  private def pairCounts(words: DataFrame): DataFrame =
    words.select(split(col("sp"), " ").as("ss"), col("freq"))
      .filter(size(col("ss")) > 1)
      .select(explode(expr(
        "transform(sequence(1, size(ss) - 1), " +
          "i -> struct(element_at(ss, CAST(i AS INT)) AS l, " +
          "element_at(ss, CAST(i + 1 AS INT)) AS r))")).as("p"),
        col("freq"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** Train `rounds` merges AND apply them: returns (merges, encodedVocab)
    * where merges has one (round, l, r, cnt) row per merge in order, and
    * encodedVocab is the post-merge vocabulary (word, encoded, n_sym,
    * freq) — `encoded` being the space-joined symbol sequence the trained
    * tokenizer produces for the word. The encode side is what a corpus
    * pipeline joins back onto documents (vocabulary-sized relation, one
    * regexp_replace chain — never a per-document loop). */
  def trainAndEncode(docs: DataFrame, textCol: String,
                     rounds: Int): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val words0 = docs
      .select(explode(split(Text.normalize(col(textCol)), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"),
        array_join(regexp_extract_all(col("word"), lit("."), lit(0)),
          " ").as("sp"), col("freq"))
    val (merges, encoded) = Materialize.withMaterialized(words0) { words =>
      var cur: DataFrame = words
      val acc = Seq.newBuilder[(Int, String, String, Long)]
      for (rd <- 0 until rounds) {
        val top = pairCounts(cur)
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        top.headOption.foreach { t =>
          val (l, r, c) = (t.getString(0), t.getString(1), t.getLong(2))
          acc += ((rd, l, r, c))
          // symbols are \w-only: \b-anchored literal pattern is an exact
          // token-boundary match, and both engines' regex scans resume
          // after each match (greedy left-to-right non-overlapping)
          cur = cur.withColumn("sp",
            regexp_replace(col("sp"), "\\b" + l + " " + r + "\\b", l + r))
        }
      }
      val enc = Materialize.pin(cur.select(col("word"), col("sp").as("encoded"),
        size(split(col("sp"), " ")).cast("long").as("n_sym"), col("freq")))
        // vocabulary-sized; must outlive the scope's pin
      (acc.result(), enc)
    }
    val schema = StructType(Seq(StructField("round", IntegerType, false),
      StructField("l", StringType, false), StructField("r", StringType, false),
      StructField("cnt", LongType, false)))
    val mergesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        merges.map { case (rd, l, r, c) => Row(rd, l, r, c) }, 1),
      schema)
    (mergesDf, encoded)
  }

  /** Train `rounds` merges over `docs(textCol)`; returns one row per merge:
    * (round, l, r, cnt) in merge order. */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    trainAndEncode(docs, textCol, rounds)._1
}
