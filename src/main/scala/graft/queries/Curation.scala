package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text
import graft.operators.{Dedup, Materialize, Packing, Sampling}

/** Corpus-curation queries over `documents`: deterministic stratified
  * sampling (language rebalancing) and sequence packing — the two shaping
  * steps between dedup/quality filtering and writing training shards. */
object Curation {

  /** Per-mille keep rates by language: downsample the dominant English,
    * halve Chinese, keep the rest. */
  val SamplePermille: Map[String, Int] = Map("en" -> 250, "zh" -> 500)
  val DefaultPermille = 1000

  val SeqLen = 2048L
  val PackBucketWidth = 1000L

  /** Deterministic language-rebalancing sample ([[Sampling.stratifiedHash]]):
    * membership is a pure hash of doc_id, so the draw is reproducible and
    * stable under corpus appends. */
  def q63StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedHash(Tables.documents(s, dir), "doc_id", "lang",
        SamplePermille, DefaultPermille)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** The q63 per-mille rate as a scalar CASE over `lang` — shared with
    * the q76 manifest's sampling stage. */
  private[queries] lazy val samplePermilleCase: String = {
    val cases = SamplePermille.toSeq.sorted
      .map { case (l, p) => s"WHEN '$l' THEN $p" }.mkString(" ")
    s"CASE lang $cases ELSE $DefaultPermille END"
  }

  val oracleQ63: String =
    s"""SELECT doc_id, lang, source, n_chars
       |FROM documents
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
       |  < $samplePermilleCase
       |ORDER BY doc_id""".stripMargin

  /** Sequence packing ([[Packing.packSequences]]): concatenate each
    * language's documents in doc_id order and chunk into [[SeqLen]]-token
    * sequences; every document reports the pack it starts in and its token
    * offset there. Token counts are q11's `\\w+` convention. */
  def q64SequencePacking(s: SparkSession, dir: String): DataFrame =
    Packing.packSequences(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            Text.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "lang", "n_tokens", SeqLen, PackBucketWidth)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("pack_id"), col("pack_offset"))
      .orderBy(col("doc_id"))

  /** Vocabulary size for q65: top tokens by global count (ties broken by
    * token ascending, so the set is deterministic in both engines). */
  val VocabK = 20

  /** Corpus-derived vocabulary coverage: build the top-[[VocabK]] token
    * vocabulary from the corpus itself, broadcast it back, and score every
    * document's out-of-vocabulary rate — the curation signal for
    * tokenizer-fit / gibberish filtering.
    *
    * Scale shape: the token aggregation is map-side combined on the token
    * key; the top-K is `TakeOrderedAndProject` (per-partition top-K, one
    * bounded driver merge — never a global sort); the K-row vocabulary
    * broadcasts back onto the exploded token stream, so the only real
    * shuffles are the token count and the per-doc regroup. The
    * build-small-dim-from-big-fact-then-broadcast shape is the standard
    * answer at 100 TB. */
  def q65VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(Text.normalize(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("tok")).limit(VocabK)
      .select(col("tok"), lit(1).as("__in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val oracleQ65: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM documents
       |), toks2 AS (
       |  SELECT doc_id, tok FROM toks WHERE len(tok) > 0
       |), vocab AS (
       |  SELECT tok FROM toks2 GROUP BY tok
       |  ORDER BY COUNT(*) DESC, tok LIMIT $VocabK
       |)
       |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS oov_rate
       |FROM toks2 t LEFT JOIN vocab v ON v.tok = t.tok
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  /** Gopher/C4-style repetition statistics per document (Rae et al. 2021,
    * "Scaling Language Models" §A1.1; Raffel et al. 2020 C4 heuristics):
    * the fraction of the document covered by its single most frequent
    * bigram, and the fraction of duplicated trigrams — the standard
    * boilerplate / degenerate-repetition filters ahead of training.
    *
    * Scale shape: n-gram arrays and their distinct counts are one
    * map-side projection (same carrier discipline as the LSH shingles);
    * only the top-bigram mode needs a shuffle, and it ships (doc,
    * bigram-hash) longs — two partial/final aggregations, nothing else. */
  def q67RepetitionStats(s: SparkSession, dir: String): DataFrame =
    repetitionSignals(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        col("top_bigram_frac"), col("dup_trigram_frac"))
      .orderBy(col("doc_id"))

  /** Per-doc repetition signals over docs with ≥3 whitespace tokens
    * (shorter docs have no trigram and are excluded — q70 left-joins and
    * treats them as unassessable). Shared by q67 and the q70 cleaning
    * program. */
  private def repetitionSignals(docs: DataFrame): DataFrame =
    repetitionSignalsFromTokens(docs.select(col("doc_id"),
      split(Text.normalize(col("text")), " ").as("t")))

  /** [[repetitionSignals]] from a prebuilt (doc_id, t: array<string>)
    * token frame — the composition entry point: q76 feeds its one
    * normalized-text carrier so the normalize pass is not repeated.
    * The n-gram arrays are scoped-materialized BEFORE the explode
    * (exploding an unmaterialized transform(...) re-evaluates the array
    * expression per OUTPUT row — O(tokens²) concat work per doc took q67
    * to ~10 s at sf0.1, ~0.9 s materialized); the per-doc result leaves
    * as an eager localCheckpoint. */
  private[graft] def repetitionSignalsFromTokens(tok: DataFrame): DataFrame = {
    val base0 = tok
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        expr("transform(sequence(1, size(t)-1), i -> " +
          "concat(element_at(t, i), ' ', element_at(t, i+1)))").as("bg"),
        expr("transform(sequence(1, size(t)-2), i -> " +
          "concat(element_at(t, i), ' ', element_at(t, i+1), ' ', " +
          "element_at(t, i+2)))").as("tg"))
    Materialize.withMaterialized(base0) { base =>
      val mapSide = base.select(col("doc_id"),
        size(col("bg")).cast("long").as("n_bigrams"),
        size(col("tg")).cast("long").as("n_trigrams"),
        size(array_distinct(col("tg"))).cast("long").as("n_distinct_trigrams"))
      val topBg = base.select(col("doc_id"), explode(col("bg")).as("v"))
        .groupBy(col("doc_id"), col("v")).agg(count(lit(1)).as("__c"))
        .groupBy(col("doc_id")).agg(max(col("__c")).as("top_bigram_n"))
      Materialize.pin(mapSide.join(topBg, Seq("doc_id"))
        .withColumn("top_bigram_frac",
          col("top_bigram_n").cast("double") / col("n_bigrams"))
        .withColumn("dup_trigram_frac",
          lit(1.0) - col("n_distinct_trigrams").cast("double") / col("n_trigrams")))
    }
  }

  val oracleQ67: String =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents
       |), arrs AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(t)), i ->
       |      t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]) AS bg,
       |    list_transform(range(1, len(t) - 1), i ->
       |      t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' ||
       |      t[CAST(i AS INT) + 2]) AS tg
       |  FROM base WHERE len(t) >= 3
       |), ms AS (
       |  SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
       |    CAST(len(tg) AS BIGINT) AS n_trigrams,
       |    CAST(len(list_distinct(tg)) AS BIGINT) AS n_distinct_trigrams
       |  FROM arrs
       |), top AS (
       |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n FROM (
       |    SELECT doc_id, COUNT(*) AS c
       |    FROM (SELECT doc_id, unnest(bg) AS v FROM arrs)
       |    GROUP BY doc_id, v
       |  ) GROUP BY doc_id
       |)
       |SELECT ms.doc_id, ms.n_bigrams, top.top_bigram_n,
       |  CAST(top.top_bigram_n AS DOUBLE) / ms.n_bigrams AS top_bigram_frac,
       |  1.0 - CAST(ms.n_distinct_trigrams AS DOUBLE) / ms.n_trigrams
       |    AS dup_trigram_frac
       |FROM ms JOIN top ON top.doc_id = ms.doc_id
       |ORDER BY ms.doc_id""".stripMargin

  /** Decontamination k-gram length: long enough that a collision means a
    * genuinely shared phrase, not a common word (16 chars ≈ a 3-4 token
    * n-gram at English word lengths). */
  val DecontamK = 16
  /** The held-out benchmark corpus: every document from this source. */
  val DecontamEvalSource = "src0"
  /** Flag a training doc when ≥30% of its distinct k-grams appear in the
    * benchmark — the drop threshold a decontamination pass would act on. */
  val DecontamThreshold = 0.3

  /** Benchmark decontamination ([[Dedup.ngramContamination]]): treat
    * [[DecontamEvalSource]] as the held-out eval benchmark and score every
    * other document's k-gram overlap against it; `contaminated` marks the
    * docs a decontamination pass would drop before training. */
  def q68Decontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.ngramContamination(
        docs.filter(col("source") =!= DecontamEvalSource),
        docs.filter(col("source") === DecontamEvalSource),
        "doc_id", "text", DecontamK)
      .withColumn("contaminated", col("contamination") >= DecontamThreshold)
      .orderBy(col("doc_id"))
  }

  /** The q68 contamination CTE list with prefixed names
    * (`<p>norm … <p>ts(doc_id, n), <p>ov(doc_id, o)`) so q76 can compose
    * it next to the clustering CTEs (whose list also uses `norm`). */
  private[queries] def contamCtes(p: String): String =
    s"""${p}norm AS (
       |  SELECT doc_id, source,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), ${TextQueries.capGuardCte(s"${p}capg", s"${p}norm")}, ${p}ev AS (
       |  SELECT DISTINCT CAST(('0x' || substr(md5(substr(t, CAST(i AS INT),
       |    $DecontamK)), 1, 15)) AS BIGINT) AS h
       |  FROM ${p}norm, range(1, ${TextQueries.OraclePosCap}) r(i), ${p}capg
       |  WHERE ${p}capg.ok = 1 AND source = '$DecontamEvalSource'
       |    AND len(t) >= $DecontamK AND i <= len(t) - ${DecontamK - 1}
       |), ${p}trh AS (
       |  SELECT DISTINCT doc_id, CAST(('0x' || substr(md5(substr(t,
       |    CAST(i AS INT), $DecontamK)), 1, 15)) AS BIGINT) AS h
       |  FROM ${p}norm, range(1, ${TextQueries.OraclePosCap}) r(i), ${p}capg
       |  WHERE ${p}capg.ok = 1 AND source <> '$DecontamEvalSource'
       |    AND len(t) >= $DecontamK AND i <= len(t) - ${DecontamK - 1}
       |), ${p}ts AS (
       |  SELECT doc_id, COUNT(*) AS n FROM ${p}trh GROUP BY doc_id
       |), ${p}ov AS (
       |  SELECT t.doc_id, COUNT(*) AS o FROM ${p}trh t JOIN ${p}ev USING (h)
       |  GROUP BY t.doc_id
       |)""".stripMargin

  val oracleQ68: String =
    s"""WITH ${contamCtes("")}
       |SELECT ts.doc_id, CAST(ts.n AS BIGINT) AS n_ngrams,
       |  CAST(COALESCE(ov.o, 0) AS BIGINT) AS overlap_ngrams,
       |  CAST(COALESCE(ov.o, 0) AS DOUBLE) / ts.n AS contamination,
       |  CAST(COALESCE(ov.o, 0) AS DOUBLE) / ts.n >= $DecontamThreshold
       |    AS contaminated
       |FROM ts LEFT JOIN ov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // q70 cleaning-gate thresholds, set from the corpus signal distributions
  // (top_bigram_frac p95 ≈ 0.087, dup_trigram_frac p99 ≈ 0.018, quality
  // p05 ≈ 0.494, whitespace-token p05 = 16); mean-word-length bounds are
  // Gopher's published [3, 10] rule (Rae et al. 2021 §A1.1).
  val CleanMinTokens = 15L
  val CleanQualityMin = 0.5
  val CleanTopBigramMax = 0.1
  val CleanDupTrigramMax = 0.05
  val CleanMeanWordLenMin = 3.0
  val CleanMeanWordLenMax = 10.0

  /** The assembled corpus-cleaning program (C4/Gopher-style document
    * filtering, Raffel et al. 2020 / Rae et al. 2021): every document is
    * scored on four gate families — language identifiability (q12's
    * langId), composite quality (q13), degenerate repetition (q67's
    * bigram/trigram stats), and length/word-shape (Gopher) — and the
    * verdict is `keep` plus the first failing gate as `reason`. This is
    * the keep/drop decision a training-data pipeline applies between
    * ingestion and dedup; q12/q13/q67 gate the signals, this gates the
    * assembled decision.
    *
    * Scale shape: every signal except the top-bigram mode is one map-side
    * projection over the document text; the repetition join ships only
    * per-doc counts. One shuffle (the bigram mode), one broadcast-sized
    * join — same envelope as q67. */
  def q70CorpusClean(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = docs.select(col("doc_id"),
      Text.langId(col("text")).as("pred_lang"),
      Text.qualityScore(col("text")).as("quality"),
      split(Text.normalize(col("text")), " ").as("t"))
    cleanGated(cleanFeatures(base),
        repetitionSignalsFromTokens(base.select(col("doc_id"), col("t"))))
      .orderBy(col("doc_id"))
  }

  /** The map-side half of the q70 gates, over a (doc_id, pred_lang,
    * quality, t: array<string>) frame — shared by q70 and the q76
    * capstone (which feeds its one persisted carrier). */
  private[graft] def cleanFeatures(base: DataFrame): DataFrame =
    base.select(col("doc_id"), col("pred_lang"), col("quality"),
      size(col("t")).cast("long").as("n_tokens"),
      (expr("CAST(aggregate(transform(t, w -> length(w)), " +
        "CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE)") / size(col("t")))
        .as("mean_wlen"))

  /** Gate verdicts: join [[cleanFeatures]] to the repetition signals and
    * apply the thresholds — `keep` plus the first failing gate as
    * `reason`. */
  private[graft] def cleanGated(feat: DataFrame, rep: DataFrame): DataFrame =
    feat
      .join(rep
        .select(col("doc_id"), col("top_bigram_frac"), col("dup_trigram_frac")),
        Seq("doc_id"), "left")
      .withColumn("lang_ok", col("pred_lang") =!= "und")
      .withColumn("quality_ok", col("quality") >= CleanQualityMin)
      .withColumn("repetition_ok",
        coalesce(col("top_bigram_frac") <= CleanTopBigramMax &&
          col("dup_trigram_frac") <= CleanDupTrigramMax, lit(true)))
      .withColumn("length_ok",
        col("n_tokens") >= CleanMinTokens &&
          col("mean_wlen") >= CleanMeanWordLenMin &&
          col("mean_wlen") <= CleanMeanWordLenMax)
      .withColumn("keep",
        col("lang_ok") && col("quality_ok") && col("repetition_ok") &&
          col("length_ok"))
      .withColumn("reason",
        when(!col("lang_ok"), "lang")
          .when(!col("quality_ok"), "quality")
          .when(!col("repetition_ok"), "repetition")
          .when(!col("length_ok"), "length"))

  /** The q70 cleaning gates as a composable CTE list ending in
    * `gated(doc_id, …, lang_ok, quality_ok, repetition_ok, length_ok)`.
    * CTE names are csig/feat/feat0/rep/gated — chosen not to collide with
    * the clustering/contamination CTE lists q76 composes them with. */
  private[queries] lazy val cleanCtes: String =
    s"""csig AS (
       |  SELECT doc_id, text,
       |    len(regexp_extract_all(text, '\\w+')) AS n_tokens,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks,
       |    ${TextQueries.langHitCols}
       |  FROM documents
       |), feat AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(toks)), i ->
       |      toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]) AS bg,
       |    list_transform(range(1, len(toks) - 1), i ->
       |      toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] || ' ' ||
       |      toks[CAST(i AS INT) + 2]) AS tg
       |  FROM csig WHERE len(toks) >= 3
       |), feat0 AS (
       |  SELECT doc_id,
       |    ${TextQueries.predLangCase} AS pred_lang,
       |    ${TextQueries.qualityExpr}
       |    AS quality,
       |    CAST(len(toks) AS BIGINT) AS n_ws_tokens,
       |    CAST(list_aggregate(list_transform(toks, w -> len(w)), 'sum')
       |      AS DOUBLE) / len(toks) AS mean_wlen
       |  FROM csig
       |), rep AS (
       |  SELECT f.doc_id,
       |    CAST(t.topn AS DOUBLE) / len(f.bg) AS top_bigram_frac,
       |    1.0 - CAST(len(list_distinct(f.tg)) AS DOUBLE) / len(f.tg)
       |      AS dup_trigram_frac
       |  FROM feat f JOIN (
       |    SELECT doc_id, MAX(c) AS topn FROM (
       |      SELECT doc_id, COUNT(*) AS c
       |      FROM (SELECT doc_id, unnest(bg) AS v FROM feat)
       |      GROUP BY doc_id, v
       |    ) GROUP BY doc_id
       |  ) t ON t.doc_id = f.doc_id
       |), gated AS (
       |  SELECT f.doc_id, f.pred_lang, f.quality,
       |    f.n_ws_tokens AS n_tokens, f.mean_wlen,
       |    r.top_bigram_frac, r.dup_trigram_frac,
       |    f.pred_lang <> 'und' AS lang_ok,
       |    f.quality >= $CleanQualityMin AS quality_ok,
       |    COALESCE(r.top_bigram_frac <= $CleanTopBigramMax
       |      AND r.dup_trigram_frac <= $CleanDupTrigramMax, TRUE)
       |      AS repetition_ok,
       |    f.n_ws_tokens >= $CleanMinTokens
       |      AND f.mean_wlen >= $CleanMeanWordLenMin
       |      AND f.mean_wlen <= $CleanMeanWordLenMax AS length_ok
       |  FROM feat0 f LEFT JOIN rep r ON r.doc_id = f.doc_id
       |)""".stripMargin

  lazy val oracleQ70: String =
    s"""WITH $cleanCtes
       |SELECT doc_id, pred_lang, quality, n_tokens, mean_wlen,
       |  top_bigram_frac, dup_trigram_frac,
       |  lang_ok, quality_ok, repetition_ok, length_ok,
       |  (lang_ok AND quality_ok AND repetition_ok AND length_ok) AS keep,
       |  CASE WHEN NOT lang_ok THEN 'lang'
       |       WHEN NOT quality_ok THEN 'quality'
       |       WHEN NOT repetition_ok THEN 'repetition'
       |       WHEN NOT length_ok THEN 'length' END AS reason
       |FROM gated ORDER BY doc_id""".stripMargin

  /** CCNet-style unigram language-model quality score (Wenzek et al.
    * 2020 use a KenLM perplexity; the unigram LM is its
    * corpus-self-contained analog): train token probabilities on the
    * corpus itself, score every document by its mean token log-prob —
    * low scores flag gibberish / tokenizer-hostile documents.
    *
    * Determinism: per-token log-probs are quantized to scaled INTEGERS
    * (floor(ln p · 1e6 + 0.5) as BIGINT) before the per-doc sum, so the
    * reduction is exact integer addition — order-independent under
    * Spark's partial aggregation AND bit-identical to the oracle's sum,
    * which a double sum over a shuffled relation cannot guarantee (FP
    * addition is not associative). The ln itself is quantized at 1e-6,
    * the repo's standard transcendental grid (cf. jsRound notes).
    *
    * Scale shape: the vocabulary relation (token, count) is a dim built
    * from the fact by one map-side-combined aggregation; the total is a
    * 1-row broadcast; scoring is a broadcast join of the vocab onto the
    * exploded token stream followed by one (doc_id) count/sum — the
    * build-small-from-big-then-broadcast-back shape (same as q65). */
  def q72LmScore(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(Text.normalize(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val lm = counts.crossJoin(broadcast(total))
      .select(col("tok"),
        floor(log(col("cnt").cast("double") / col("total")) * lit(1e6)
          + lit(0.5)).cast("long").as("lp6"))
    toks.join(broadcast(lm), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp6")).as("sum_lp6"))
      .withColumn("avg_logprob",
        col("sum_lp6").cast("double") / lit(1e6) / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val oracleQ72: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM documents
       |), toks2 AS (
       |  SELECT doc_id, tok FROM toks WHERE len(tok) > 0
       |), counts AS (
       |  SELECT tok, COUNT(*) AS cnt FROM toks2 GROUP BY tok
       |), tot AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts
       |), lm AS (
       |  SELECT tok,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1e6
       |      + 0.5) AS BIGINT) AS lp6
       |  FROM counts, tot
       |)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(lm.lp6) AS BIGINT) AS sum_lp6,
       |  CAST(SUM(lm.lp6) AS DOUBLE) / 1e6 / COUNT(*) AS avg_logprob
       |FROM toks2 t JOIN lm USING (tok)
       |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  val ShardCount = 8

  /** Training-shard assignment ([[Sampling.shardAssign]]): the
    * deterministic corpus shuffle + sharding a pretraining pipeline runs
    * last, after cleaning/dedup/sampling — shard membership and
    * within-shard order are pure functions of doc_id. */
  def q73ShardAssign(s: SparkSession, dir: String): DataFrame =
    Sampling.shardAssign(Tables.documents(s, dir), "doc_id", ShardCount)
      .select(col("doc_id"), col("shard"), col("pos"), col("source"))
      .orderBy(col("doc_id"))

  val oracleQ73: String =
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) AS h
       |  FROM documents
       |)
       |SELECT doc_id, CAST(h % $ShardCount AS INT) AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY h % $ShardCount
       |    ORDER BY h, doc_id) - 1 AS BIGINT) AS pos,
       |  source
       |FROM h ORDER BY doc_id""".stripMargin

  val ChunkSize = 200
  val ChunkStride = 150 // 50-char overlap between consecutive chunks

  /** Overlapping document chunking (RAG / context-window prep): fixed-size
    * windows over the normalized text at a fixed stride, each chunk
    * carrying its offset and 60-bit content fingerprint (the exact-dedup
    * key downstream chunk-level dedup joins on). Start positions are
    * chosen so every character is covered and the final chunk may run
    * short; single-chunk docs degenerate to one full-text chunk.
    *
    * Scale shape: pure map-side — an int-sequence explode (cheap
    * per-element, exempt from the array-materialization rule) and one
    * substring + md5 per OUTPUT chunk, never per (chunk × chunk). */
  def q75Chunking(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Text.normalize(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1),
          greatest(length(col("t")) - lit(ChunkSize - ChunkStride), lit(1)),
          lit(ChunkStride))).as("start"))
      .select(col("doc_id"),
        expr(s"CAST((start - 1) div $ChunkStride AS BIGINT)").as("chunk_id"),
        col("start").cast("long").as("start"),
        length(expr(s"substring(t, start, $ChunkSize)")).cast("long")
          .as("chunk_len"),
        Text.hash60(expr(s"substring(t, start, $ChunkSize)")).as("fp"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val oracleQ75: String =
    s"""WITH norm AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), ${TextQueries.capGuardCte("capg", "norm")}, st AS (
       |  SELECT doc_id, t, CAST(i AS BIGINT) AS start
       |  FROM norm, range(1, ${TextQueries.OraclePosCap}) r(i), capg
       |  WHERE capg.ok = 1
       |    AND i <= greatest(len(t) - ${ChunkSize - ChunkStride}, 1)
       |    AND (i - 1) % $ChunkStride = 0
       |)
       |SELECT doc_id,
       |  CAST((start - 1) // $ChunkStride AS BIGINT) AS chunk_id, start,
       |  CAST(len(substr(t, CAST(start AS INT), $ChunkSize)) AS BIGINT)
       |    AS chunk_len,
       |  CAST(('0x' || substr(md5(substr(t, CAST(start AS INT), $ChunkSize)),
       |    1, 15)) AS BIGINT) AS fp
       |FROM st ORDER BY doc_id, chunk_id""".stripMargin

  /** THE capstone program: the complete nightly training-data build as
    * one query — C4/Gopher cleaning gates (q70) → drop near-dup
    * non-canonicals (q14/q15/q61 LSH clustering) → drop
    * benchmark-contaminated docs and the benchmark source itself (q68)
    * → language-rebalancing stratified sample (q63) → deterministic
    * shard assignment with within-shard order (q73) → the final
    * training manifest (doc, shard, position, token count). Every stage
    * is individually gated; this gates their COMPOSITION — including the
    * part unions of stage outputs can't check: shard positions are
    * ranks over the final survivor set, so they're only right if every
    * upstream keep/drop decision is.
    *
    * Scale shape: each stage keeps its reviewed plan (see PLANS.md
    * entries for q70/q68/q61/q63/q73); the composition adds only the
    * survivor joins — the dedup drop set broadcasts, the cleaning and
    * contamination relations join per-doc on the id.
    *
    * Carrier discipline (the round-5 `weak` fix): every stage used to
    * re-derive `Text.normalize` + tokenize/md5 over the full corpus
    * (cleaning gates, LSH shingles, contamination k-grams — ~2× total
    * recompute even measured fresh). Now ONE scoped-materialized carrier
    * holds (doc_id, lang, source, normalized text, pred_lang, quality,
    * n_tokens, k=5 shingle-hash array) — normalize/langId/quality/
    * tokenCount/shingle-md5 each run exactly once over one scan — and the
    * cleaning gates, the k=5 LSH pipeline, and the k=16 contamination
    * stage all project from it (only the k=16 grams re-derive from
    * __norm; md5 k-grams aren't composable across k). The cleaning
    * verdict is materialized before the survivor join so its regexes
    * never re-run. At 100 TB, re-tokenizing the corpus 3× is the
    * difference between one nightly build and three. */
  def q76TrainingManifest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the k=5 LSH shingle-hash array rides IN the carrier: the md5 sweep
    // happens once in the same pinned pass as normalize/langId/quality,
    // and the LSH signature fold + the candidate-verify intersect both
    // project it straight from the carrier's pin — no second
    // materialization pass. The k=16 contamination grams still derive
    // from __norm separately (md5 k-grams aren't composable across k; a
    // measured 0.5s pass at sf0.1, see PLANS.md q76 stage table).
    val carrier = docs.select(col("doc_id"), col("lang"), col("source"),
      Text.normalize(col("text")).as("__norm"),
      Text.langId(col("text")).as("pred_lang"),
      Text.qualityScore(col("text")).as("quality"),
      Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("__h5", when(length(col("__norm")) >= TextQueries.ShingleK,
        Dedup.shingleHashCol("__norm", TextQueries.ShingleK)))
    Materialize.withMaterialized(carrier) { base =>
      def harr(side: DataFrame, k: Int): DataFrame = side
        .filter(length(col("__norm")) >= k)
        .select(col("doc_id"), Dedup.shingleHashCol("__norm", k).as("harr"))
      // cleaning gates (q70's exact semantics) from the carrier's tokens;
      // materialized so the survivor join replays a 1-column verdict, not
      // the gate expressions
      val withToks = base.select(col("doc_id"), col("pred_lang"),
        col("quality"), split(col("__norm"), " ").as("t"))
      // the cleaning-verdict chain and the near-dup chain (LSH pipeline →
      // CC) are independent given the materialized carrier, but each is a
      // sequence of eager checkpoints — overlap them from a driver thread
      // pool (guide §2.6); both computations are unchanged
      val branches = Materialize.concurrently(Seq(
        () => Materialize.pin(cleanGated(cleanFeatures(withToks),
            repetitionSignalsFromTokens(withToks.select(col("doc_id"), col("t"))))
          .filter(col("keep")).select(col("doc_id"))),
        // near-dup drop set (q14/q15/q61's exact pipeline) from the
        // carrier's precomputed hash arrays
        () => {
          val h = base.filter(col("__h5").isNotNull)
            .select(col("doc_id"), col("__h5").as("harr"))
          val sig = Dedup.minhashSignaturesFromHashes(h, "doc_id",
            TextQueries.NumHashes)
          val cand = Dedup.minhashCandidates(sig, "doc_id",
            TextQueries.RowsPerBand)
          val pairs = Materialize.pin(
            Dedup.jaccardForCandidatesHashes(cand, h, "doc_id")
            .filter(col("jaccard") >= TextQueries.JaccardThreshold)
            .select(col("id1"), col("id2")))
          Materialize.pin(Dedup.connectedComponentsAdaptive(pairs)
            .filter(col("doc_id") =!= col("cluster"))
            .select(col("doc_id"), lit(true).as("__dup")))
            // cluster-count-sized; pin inside the thread
        }))
      val (clean, dupDrop) = (branches(0), branches(1))
      // contamination (q68's exact semantics) from the carrier at k=16
      val contam = Dedup.ngramContaminationFromHashes(
          harr(base.filter(col("source") =!= DecontamEvalSource), DecontamK),
          harr(base.filter(col("source") === DecontamEvalSource), DecontamK),
          "doc_id")
        .select(col("doc_id"), col("contamination"))
      val surv = base
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
        .filter(col("source") =!= DecontamEvalSource)
        .join(clean, Seq("doc_id"))
        .join(broadcast(dupDrop), Seq("doc_id"), "left")
        .filter(col("__dup").isNull)
        .join(contam, Seq("doc_id"), "left")
        .filter(coalesce(col("contamination"), lit(0.0)) < DecontamThreshold)
      val sampled = Sampling.stratifiedHash(surv, "doc_id", "lang",
        SamplePermille, DefaultPermille)
      Materialize.sorted(Sampling.shardAssign(sampled, "doc_id", ShardCount)
        .select(col("doc_id"), col("lang"), col("source"), col("shard"),
          col("pos"), col("n_tokens")), col("doc_id"))
    }
  }

  lazy val oracleQ76: String = {
    val clusterBody = TextQueries.clusterCtes.stripPrefix("WITH RECURSIVE ")
    s"""WITH RECURSIVE $clusterBody, $cleanCtes, ${contamCtes("c_")},
       |dropped AS (
       |  SELECT a AS doc_id FROM reach GROUP BY a HAVING a <> MIN(b)
       |), surv AS (
       |  SELECT d.doc_id, d.lang, d.source,
       |    CAST(len(regexp_extract_all(d.text, '\\w+')) AS BIGINT)
       |      AS n_tokens
       |  FROM documents d
       |  JOIN gated g ON g.doc_id = d.doc_id
       |  LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
       |  LEFT JOIN c_ts ON c_ts.doc_id = d.doc_id
       |  LEFT JOIN c_ov ON c_ov.doc_id = d.doc_id
       |  WHERE d.source <> '$DecontamEvalSource'
       |    AND g.lang_ok AND g.quality_ok AND g.repetition_ok AND g.length_ok
       |    AND dr.doc_id IS NULL
       |    AND COALESCE(CAST(c_ov.o AS DOUBLE) / c_ts.n, 0.0)
       |      < $DecontamThreshold
       |    AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
       |        AS BIGINT) % 1000 < $samplePermilleCase
       |), shrd AS (
       |  SELECT doc_id, lang, source, n_tokens,
       |    CAST(h % $ShardCount AS INT) AS shard,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY h % $ShardCount
       |      ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
       |  FROM (
       |    SELECT surv.*, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
       |      1, 15)) AS BIGINT) AS h
       |    FROM surv
       |  )
       |)
       |SELECT doc_id, lang, source, shard, pos, n_tokens
       |FROM shrd ORDER BY doc_id""".stripMargin
  }

  /** Blocklist scrub terms + the C4-style drop threshold: docs whose
    * blocklisted-token rate exceeds the cap get `keep = false` (the
    * dirty-word document filter, Raffel et al. 2020 §2.2); survivors
    * carry a redaction fingerprint for downstream exact dedup of the
    * SCRUBBED text. Terms are configurable; these three exist in the
    * synthetic vocabulary so the gate exercises real hits. */
  val BlockWords: Seq[String] = Seq("customer", "vector", "merge")
  val ScrubMaxRate = 0.08
  val ScrubToken = "<scrub>"

  /** Blocklist scrubbing (C4 §2.2 dirty-word filtering + redaction): per
    * document, count blocklisted tokens, decide keep/drop on the hit
    * rate, and fingerprint the REDACTED text (blocklisted tokens replaced
    * by [[ScrubToken]]) — the key downstream chunk/exact dedup joins on
    * after scrubbing, so two docs differing only in scrubbed terms
    * collapse.
    *
    * Scale shape: pure map-side — tokenize once, one `filter` + one
    * `transform` lambda over the token array, no shuffle before the
    * gate's output sort. Token-exact matching (no regex) keeps the two
    * engines trivially in parity and the blocklist check O(tokens). */
  def q80BlocklistScrub(s: SparkSession, dir: String): DataFrame = {
    val inList = (w: org.apache.spark.sql.Column) => w.isInCollection(BlockWords)
    Tables.documents(s, dir)
      .select(col("doc_id"), split(Text.normalize(col("text")), " ").as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(filter(col("t"), inList)).cast("long").as("n_hits"),
        Text.hash60(array_join(
          transform(col("t"), w => when(inList(w), lit(ScrubToken)).otherwise(w)),
          " ")).as("redacted_fp"))
      .withColumn("hit_rate", col("n_hits").cast("double") / col("n_tokens"))
      .withColumn("keep", col("hit_rate") <= ScrubMaxRate)
      .orderBy(col("doc_id"))
  }

  val oracleQ80: String = {
    val terms = BlockWords.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents
       |)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(toks, w -> w IN ($terms))) AS BIGINT) AS n_hits,
       |  CAST(('0x' || substr(md5(array_to_string(
       |    list_transform(toks, w -> CASE WHEN w IN ($terms)
       |      THEN '$ScrubToken' ELSE w END), ' ')), 1, 15)) AS BIGINT)
       |    AS redacted_fp,
       |  CAST(len(list_filter(toks, w -> w IN ($terms))) AS DOUBLE)
       |    / len(toks) AS hit_rate,
       |  CAST(len(list_filter(toks, w -> w IN ($terms))) AS DOUBLE)
       |    / len(toks) <= $ScrubMaxRate AS keep
       |FROM t ORDER BY doc_id""".stripMargin
  }

  val DsirTargetSource = "src0"
  val DsirBuckets = 256
  val DsirTopK = 100

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): estimate target-domain
    * and raw-corpus distributions over HASHED bigram features (the
    * paper's hashed n-gram generative model), score every raw document by
    * its importance log-ratio log p_target(x) - log p_raw(x), and select
    * the top-K — the standard recipe for skimming a 100 TB crawl for
    * documents that look like a curated target (here: source
    * [[DsirTargetSource]] plays the target domain).
    *
    * Determinism: per-bucket log-probs (add-1 smoothed over
    * [[DsirBuckets]] buckets) are quantized to scaled integers at the
    * repo's 1e-6 transcendental grid BEFORE the per-doc sum, so the
    * reduction is exact integer addition (cf. q72). Selection ties break
    * on doc_id.
    *
    * Scale shape: the bucket table is a [[DsirBuckets]]-row dim built
    * from the exploded bigram fact by one map-side-combined aggregation,
    * then broadcast back onto the stream (build-small-from-big, as
    * q65/q72); the top-K cut is TakeOrderedAndProject + a broadcast
    * membership join — no corpus-sized window anywhere. */
  def q81DsirImportance(s: SparkSession, dir: String): DataFrame = {
    // sequence(1, n) with n < 1 counts DOWN in Spark — the size >= 2
    // filter is load-bearing, and the oracle mirrors it (docs with < 2
    // tokens produce no row)
    val bg0 = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        filter(split(Text.normalize(col("text")), " "),
          w => length(w) > 0).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr("transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("bg"))
      .select(col("doc_id"), col("source"),
        (Text.hash60(col("bg")) % DsirBuckets).as("bucket"))
    // two consumers (bucket counts + per-doc scoring) — scoped-materialize
    // so normalize + md5 run once over the corpus, not twice (rule 5)
    Materialize.withMaterialized(bg0)(bg =>
      Materialize.pin(q81FromBigrams(s, bg)))
  }

  private def q81FromBigrams(s: SparkSession,
                             bg: DataFrame): DataFrame = {
    val counts = bg.groupBy(col("bucket")).agg(
      sum(when(col("source") === DsirTargetSource, 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") === DsirTargetSource, 0L).otherwise(1L)).as("cr"))
    val tot = counts.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    def lp6(cnt: org.apache.spark.sql.Column, total: org.apache.spark.sql.Column) =
      floor(log((cnt + lit(1)).cast("double") / (total + lit(DsirBuckets)))
        * lit(1e6) + lit(0.5)).cast("long")
    val lrdim = s.range(DsirBuckets).withColumnRenamed("id", "bucket")
      .join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        (lp6(col("ct"), col("tt")) - lp6(col("cr"), col("tr"))).as("lr6"))
    val scored = bg.join(broadcast(lrdim), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lr6")).as("sum_lr6"))
      .withColumn("avg_logratio",
        col("sum_lr6").cast("double") / lit(1e6) / col("n_bigrams"))
    val cut = scored
      .orderBy(col("avg_logratio").desc, col("doc_id")).limit(DsirTopK)
      .select(col("doc_id").as("__sel"))
    scored.join(broadcast(cut), col("doc_id") === col("__sel"), "left")
      .withColumn("selected", col("__sel").isNotNull)
      .drop("__sel")
      .orderBy(col("doc_id"))
  }

  val oracleQ81: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, source, list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    w -> len(w) > 0) AS t
       |  FROM documents
       |), bgl AS (
       |  SELECT doc_id, source,
       |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS bgs
       |  FROM t0 WHERE len(t) >= 2
       |), bg AS (
       |  SELECT doc_id, source,
       |    CAST(('0x' || substr(md5(unnest(bgs)), 1, 15)) AS BIGINT)
       |      % $DsirBuckets AS bucket
       |  FROM bgl
       |), cnt AS (
       |  SELECT bucket,
       |    CAST(SUM(CASE WHEN source = '$DsirTargetSource' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ct,
       |    CAST(SUM(CASE WHEN source = '$DsirTargetSource' THEN 0 ELSE 1 END)
       |      AS BIGINT) AS cr
       |  FROM bg GROUP BY bucket
       |), tot AS (
       |  SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr
       |  FROM cnt
       |), dim AS (
       |  SELECT r.i AS bucket,
       |    CAST(floor(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
       |        / (tt + $DsirBuckets)) * 1e6 + 0.5) AS BIGINT)
       |    - CAST(floor(ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE)
       |        / (tr + $DsirBuckets)) * 1e6 + 0.5) AS BIGINT) AS lr6
       |  FROM range(0, $DsirBuckets) r(i)
       |  LEFT JOIN cnt ON cnt.bucket = r.i CROSS JOIN tot
       |), scored AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(lr6) AS BIGINT) AS sum_lr6
       |  FROM bg JOIN dim USING (bucket) GROUP BY doc_id
       |), ranked AS (
       |  SELECT doc_id, n_bigrams, sum_lr6,
       |    CAST(sum_lr6 AS DOUBLE) / 1e6 / n_bigrams AS avg_logratio,
       |    row_number() OVER (ORDER BY CAST(sum_lr6 AS DOUBLE) / 1e6 / n_bigrams
       |      DESC, doc_id) AS rn
       |  FROM scored
       |)
       |SELECT doc_id, n_bigrams, sum_lr6, avg_logratio, rn <= $DsirTopK AS selected
       |FROM ranked ORDER BY doc_id""".stripMargin

  val BoilerN = 5
  val BoilerMinDf = 3
  val BoilerTopK = 50

  /** Boilerplate n-gram mining: the highest-document-frequency word
    * [[BoilerN]]-grams (df ≥ [[BoilerMinDf]], top [[BoilerTopK]]) — the
    * survey step behind boilerplate-removal rules (C4 strips pages by
    * repeated-line heuristics; at corpus scale you first MINE what the
    * boilerplate is, then codify filters).
    *
    * Scale shape: map-side n-gram generation (one `transform` over the
    * token array, no per-position explode of the text), then two
    * map-side-combined aggregations — (ngram, doc_id) occurrence counts,
    * then per-ngram df/tf — and a TakeOrderedAndProject top-K. The
    * (df desc, tf desc, ngram) order is total, so the cut is
    * deterministic. */
  def q83BoilerplateNgrams(s: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"),
        filter(split(Text.normalize(col("text")), " "),
          w => length(w) > 0).as("t"))
      .filter(size(col("t")) >= BoilerN)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(t) - ${BoilerN - 1}), " +
          s"i -> array_join(slice(t, i, $BoilerN), ' '))")).as("ngram"))
    occ.groupBy(col("ngram"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"))
      .filter(col("df") >= BoilerMinDf)
      .orderBy(col("df").desc, col("tf").desc, col("ngram"))
      .limit(BoilerTopK)
  }

  val oracleQ83: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    w -> len(w) > 0) AS t
       |  FROM documents
       |), ngl AS (
       |  SELECT doc_id, list_transform(range(1, len(t) - ${BoilerN - 2}),
       |    i -> array_to_string(t[i:i + ${BoilerN - 1}], ' ')) AS ngs
       |  FROM t0 WHERE len(t) >= $BoilerN
       |), occ AS (
       |  SELECT doc_id, unnest(ngs) AS ngram FROM ngl
       |), perdoc AS (
       |  SELECT ngram, doc_id, COUNT(*) AS c FROM occ GROUP BY ngram, doc_id
       |)
       |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(c) AS BIGINT) AS tf
       |FROM perdoc GROUP BY ngram HAVING COUNT(*) >= $BoilerMinDf
       |ORDER BY df DESC, tf DESC, ngram LIMIT $BoilerTopK""".stripMargin

  /** Per-source distribution drift: KL(p_source ‖ p_corpus) over unigram
    * token distributions — the monitoring scan that catches a crawl
    * source going off-distribution (spam injection, encoding breakage)
    * between corpus builds.
    *
    * Determinism: per-token log-ratios are quantized to the 1e-6 integer
    * grid (cf. q72/q81), and each source's KL numerator is the exact
    * integer Σ count·lr6 — order-independent under partial aggregation.
    * The numerator is carried as DECIMAL(38,0) (count ~1e12 × lr6 ~1e7
    * exceeds 2^63 at true 100 TB scale) and cast back to the BIGINT
    * output contract through an overflow guard that raises instead of
    * wrapping; the oracle's HUGEINT sum → BIGINT cast fails loudly on
    * the DuckDB side symmetrically.
    *
    * Scale shape: one (source, tok) map-side-combined count; the corpus
    * and per-source totals are dims DERIVED from that fact (vocab-sized
    * and nSources-sized) broadcast back; the vocab join is broadcast here
    * and a well-balanced shuffle join on tok at web scale. */
  def q84SourceDrift(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        explode(split(Text.normalize(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val st = toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cst"))
    val corpus = st.groupBy(col("tok")).agg(sum(col("cst")).as("ct"))
    val totS = st.groupBy(col("source")).agg(sum(col("cst")).as("ts"))
    val totA = corpus.agg(sum(col("ct")).as("ta"))
    def lp6(cnt: org.apache.spark.sql.Column, total: org.apache.spark.sql.Column) =
      floor(log(cnt.cast("double") / total) * lit(1e6) + lit(0.5)).cast("long")
    st.join(broadcast(corpus), Seq("tok"))
      .join(broadcast(totS), Seq("source"))
      .crossJoin(broadcast(totA))
      .select(col("source"), col("ts"),
        (col("cst").cast("decimal(18,0)")
          * (lp6(col("cst"), col("ts")) - lp6(col("ct"), col("ta")))
              .cast("decimal(18,0)"))
          .as("c6"))
      .groupBy(col("source"), col("ts"))
      .agg(sum(col("c6")).as("kl6d"))
      .select(col("source"), col("ts").as("n_tokens"),
        when(abs(col("kl6d")) <= lit(Long.MaxValue), col("kl6d").cast("long"))
          .otherwise(raise_error(concat(lit("q84 KL numerator overflows "
            + "BIGINT for source "), col("source")))).as("kl6"))
      .withColumn("kl", col("kl6").cast("double") / lit(1e6) / col("n_tokens"))
      .orderBy(col("source"))
  }

  val oracleQ84: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM documents
       |), toks2 AS (
       |  SELECT source, tok FROM toks WHERE len(tok) > 0
       |), st AS (
       |  SELECT source, tok, COUNT(*) AS cst FROM toks2 GROUP BY source, tok
       |), corpus AS (
       |  SELECT tok, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY tok
       |), tots AS (
       |  SELECT source, CAST(SUM(cst) AS BIGINT) AS ts FROM st GROUP BY source
       |), tota AS (
       |  SELECT CAST(SUM(ct) AS BIGINT) AS ta FROM corpus
       |), contrib AS (
       |  SELECT st.source, tots.ts, st.cst *
       |    (CAST(floor(ln(CAST(cst AS DOUBLE) / ts) * 1e6 + 0.5) AS BIGINT)
       |     - CAST(floor(ln(CAST(ct AS DOUBLE) / ta) * 1e6 + 0.5) AS BIGINT))
       |    AS c6
       |  FROM st JOIN corpus USING (tok) JOIN tots USING (source)
       |  CROSS JOIN tota
       |)
       |SELECT source, ts AS n_tokens, CAST(SUM(c6) AS BIGINT) AS kl6,
       |  CAST(SUM(c6) AS DOUBLE) / 1e6 / ts AS kl
       |FROM contrib GROUP BY source, ts ORDER BY source""".stripMargin

  val WsTopK = 20

  /** Deterministic weighted sampling without replacement
    * (Efraimidis-Spirakis 2006 A-ES), [[WsTopK]] docs per language with
    * weight = n_chars: each doc draws u = (hash60(doc_id)+1)/2^60 ∈ (0,1]
    * and the top-K by u^(1/w) win — equivalent to ordering on ln(u)/w,
    * which is what both engines compare (ln quantized on the 1e-6 grid,
    * then ONE double division). Deterministic, append-stable, and
    * exactly the length-weighted mixing draw a training-data build uses.
    *
    * Scale shape: pure map-side scoring + a per-language window top-K
    * (partitioned by lang — no global sort, no corpus-sized
    * single-reducer window). */
  def q85WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, dir)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        floor(log((Text.hash60(col("doc_id").cast("string")) + lit(1))
            .cast("double") / lit(1152921504606846976.0))
          * lit(1e6) + lit(0.5)).cast("long").as("lnu6"))
      .withColumn("es_score",
        col("lnu6").cast("double") / col("n_chars"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("es_score").desc, col("doc_id"))))
      .filter(col("rk") <= WsTopK)
      .orderBy(col("lang"), col("rk"))
  }

  val oracleQ85: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(floor(ln(CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
       |      1, 15)) AS BIGINT) + 1 AS DOUBLE) / 1152921504606846976.0)
       |      * 1e6 + 0.5) AS BIGINT) AS lnu6
       |  FROM documents WHERE n_chars > 0
       |), keyed AS (
       |  SELECT doc_id, lang, n_chars, lnu6,
       |    CAST(lnu6 AS DOUBLE) / n_chars AS es_score
       |  FROM scored
       |), ranked AS (
       |  SELECT doc_id, lang, n_chars, lnu6, es_score,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY es_score DESC, doc_id) AS rk
       |  FROM keyed
       |)
       |SELECT doc_id, lang, n_chars, lnu6, es_score, CAST(rk AS INT) AS rk
       |FROM ranked WHERE rk <= $WsTopK ORDER BY lang, rk""".stripMargin

  val DupSpanK = 40

  /** Exact-substring duplication spans ([[Dedup.exactDupSpans]], the
    * Lee et al. 2022 ExactSubstr analog): per-document maximal duplicated
    * spans of ≥ [[DupSpanK]] chars shared verbatim with another document
    * — the signal their dedup pass CUTS (vs q15's whole-doc resemblance
    * and q62's fingerprint containment, which only flag). Docs with no
    * duplicated position produce no row (absence = clean). */
  def q88DupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDupSpans(Tables.documents(s, dir), "doc_id", "text", DupSpanK)
      .orderBy(col("doc_id"))

  val oracleQ88: String =
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), ${TextQueries.capGuardCte("capg", "norm")}, kg AS (
       |  SELECT doc_id, CAST(i AS INT) AS pos,
       |    CAST(('0x' || substr(md5(substr(t, CAST(i AS INT), $DupSpanK)),
       |      1, 15)) AS BIGINT) AS h
       |  FROM norm, range(1, ${TextQueries.OraclePosCap}) r(i), capg
       |  WHERE capg.ok = 1 AND len(t) >= $DupSpanK
       |    AND i <= len(t) - ${DupSpanK - 1}
       |), dups AS (
       |  SELECT h FROM kg GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)
       |), lagged AS (
       |  SELECT kg.doc_id, kg.pos,
       |    lag(kg.pos) OVER (PARTITION BY kg.doc_id ORDER BY kg.pos) AS prev
       |  FROM kg JOIN dups USING (h)
       |), isl AS (
       |  SELECT doc_id, pos,
       |    SUM(CASE WHEN prev IS NULL OR pos - prev > $DupSpanK
       |        THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
       |      AS g
       |  FROM lagged
       |), spans AS (
       |  SELECT doc_id, g, MIN(pos) AS s, MAX(pos) AS e, COUNT(*) AS np
       |  FROM isl GROUP BY doc_id, g
       |), agg AS (
       |  SELECT doc_id, COUNT(*) AS n_spans,
       |    CAST(SUM(np) AS BIGINT) AS n_dup_positions,
       |    CAST(SUM(e - s + $DupSpanK) AS BIGINT) AS dup_chars
       |  FROM spans GROUP BY doc_id
       |)
       |SELECT a.doc_id, CAST(len(n.t) AS BIGINT) AS doc_len, a.n_spans,
       |  a.n_dup_positions, a.dup_chars,
       |  CAST(a.dup_chars AS DOUBLE) / len(n.t) AS dup_frac
       |FROM agg a JOIN norm n USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin

  /** Block width (tokens) for the q124 span-dedup pass. */
  val SpanW = 10

  /** q124 — C4-style global span dedup APPLIED ([[Dedup.spanDedup]]):
    * corpus-wide keep-first over non-overlapping [[SpanW]]-token blocks,
    * with the per-doc rebuild (counts + reassembled-text fingerprint)
    * hash-pinned. Complements q88 (detection/stats only) the way q69
    * complements q15: this is the remediation operator a C4-style
    * pipeline actually runs. kept_fp is NULL for docs that lost every
    * block (pure duplicates of earlier content). */
  def q124SpanDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(Tables.documents(s, dir), "doc_id", "text", SpanW,
        TextQueries.OraclePosCap)
      .orderBy(col("doc_id"))

  val oracleQ124: String =
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), ${TextQueries.capGuardCte("capg", "norm")}, tok AS (
       |  SELECT doc_id, string_split(t, ' ') AS tk FROM norm
       |), blk AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS blk,
       |    array_to_string(list_slice(tk, CAST(i*$SpanW+1 AS INT),
       |      CAST(i*$SpanW+$SpanW AS INT)), ' ') AS btxt
       |  FROM tok, range(0, ${TextQueries.OraclePosCap}) r(i), capg
       |  WHERE capg.ok = 1 AND i*$SpanW < len(tk)
       |), keep AS (
       |  SELECT btxt, MIN(doc_id * ${TextQueries.OraclePosCap} + blk) AS kmin
       |  FROM blk GROUP BY btxt
       |), flag AS (
       |  SELECT b.doc_id, b.blk, b.btxt,
       |    (b.doc_id * ${TextQueries.OraclePosCap} + b.blk = k.kmin) AS kept
       |  FROM blk b JOIN keep k ON k.btxt = b.btxt
       |)
       |SELECT doc_id,
       |  COUNT(*) AS n_blocks,
       |  COUNT(*) FILTER (NOT kept) AS n_removed,
       |  CAST(SUM(len(string_split(btxt, ' '))) FILTER (kept) AS BIGINT)
       |    AS n_tokens_kept,
       |  md5(string_agg(btxt, ' ' ORDER BY blk) FILTER (kept)) AS kept_fp
       |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** BPE training rounds for q125. */
  val BpeRounds = 8
  /** Symbols-per-word cap for the q125 oracle's positional enumeration
    * (same fail-loud convention as [[TextQueries.OraclePosCap]], but words
    * are short — 1000 is orders of magnitude above any real token). */
  val BpeSymCap = 1000

  /** q125 — BPE merge training ([[graft.operators.Bpe.trainMerges]]): the
    * first [[BpeRounds]] byte-pair merges learned from the corpus, with
    * counts — hash-pinning the full iterative loop (pair counting, the
    * deterministic (cnt desc, l, r) argmax, AND the greedy left-to-right
    * merge application, since round N's counts only come out right if
    * every earlier merge rewrote the vocabulary identically; the gate
    * corpus learns a composed merge (m+er→mer) by round 6, so
    * merged-symbol rewriting is genuinely exercised). */
  def q125BpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainMerges(Tables.documents(s, dir), "text",
      BpeRounds)

  /** Shared q125/q127 CTE chain: word-freq table → spaced symbols →
    * [[BpeRounds]] unrolled (pair-count, argmax, merge-apply) rounds.
    * Exposes `m0..m{R-1}` (the merges) and `s$BpeRounds` (the encoded
    * vocabulary, carrying `word`). */
  private[graft] lazy val bpeCtes: String = {
    def roundCtes(i: Int): String =
      s"""p$i AS (
         |  SELECT list_extract(ss, CAST(i AS INT)) AS l,
         |    list_extract(ss, CAST(i+1 AS INT)) AS r,
         |    CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(sp, ' ') AS ss, freq FROM s$i),
         |    range(1, $BpeSymCap) rng(i), g
         |  WHERE g.ok = 1 AND i <= len(ss) - 1
         |  GROUP BY 1, 2
         |), m$i AS (
         |  SELECT CAST($i AS INT) AS round, l, r, cnt FROM p$i
         |  ORDER BY cnt DESC, l, r LIMIT 1
         |), s${i + 1} AS (
         |  SELECT word, regexp_replace(sp, '\\b' || l || ' ' || r || '\\b',
         |    l || r, 'g') AS sp, freq
         |  FROM s$i, m$i
         |)""".stripMargin
    s"""WITH norm AS (
       |  SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), w AS (
       |  SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(t, ' ')) AS tok FROM norm)
       |  GROUP BY tok
       |), s0 AS (
       |  SELECT word,
       |    array_to_string(regexp_extract_all(word, '.'), ' ') AS sp,
       |    freq
       |  FROM w
       |), g AS (
       |  SELECT CASE WHEN max(len(string_split(sp, ' '))) >= $BpeSymCap
       |    THEN error('bpe symbol cap $BpeSymCap exceeded')
       |    ELSE 1 END AS ok FROM s0
       |), ${(0 until BpeRounds).map(roundCtes).mkString(", ")}""".stripMargin
  }

  lazy val oracleQ125: String =
    s"""$bpeCtes
       |SELECT round, l, r, cnt FROM (
       |  ${(0 until BpeRounds).map(i => s"SELECT round, l, r, cnt FROM m$i")
            .mkString(" UNION ALL ")}
       |) ORDER BY round""".stripMargin

  /** q127 — BPE ENCODE (apply the q125-trained merges): the post-merge
    * vocabulary with each word's symbol sequence and symbol count — what
    * a tokenizer actually emits, and the relation a corpus pipeline joins
    * back onto documents for subword token budgeting. Gates the
    * application path end-to-end: round N's encoded forms are only right
    * if all N merges rewrote identically. */
  def q127BpeEncode(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainAndEncode(Tables.documents(s, dir), "text",
        BpeRounds)._2
      .orderBy(col("word"))

  lazy val oracleQ127: String =
    s"""$bpeCtes
       |SELECT word, sp AS encoded,
       |  CAST(len(string_split(sp, ' ')) AS BIGINT) AS n_sym, freq
       |FROM s$BpeRounds ORDER BY word""".stripMargin

  /** Probe count per end (top/bottom) for the q126 CMS gate. */
  val CmsProbes = 3

  /** q126 — Count-Min sketch frequency estimation
    * ([[graft.operators.CountMin]]): register grid built from the
    * pre-aggregated vocab, probed at the [[CmsProbes]] most- and
    * least-frequent tokens; output carries the TRUE count beside the
    * estimate so the gate pins both the register state (through the
    * estimates) and the overestimate-only contract. */
  def q126CmsEstimate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val vocab = Tables.documents(s, dir)
      .select(explode(split(Text.normalize(col("text")), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    Materialize.withMaterialized(vocab) { v =>
      val buck = CountMin.bucketed(v, "tok", "cnt")
      Materialize.withMaterialized(buck) { b =>
        val regs = CountMin.registers(b)
        val probes = v.orderBy(col("cnt").desc, col("tok")).limit(CmsProbes)
          .select(col("tok"))
          .union(v.orderBy(col("cnt").asc, col("tok")).limit(CmsProbes)
            .select(col("tok")))
          .distinct()
        Materialize.sorted(CountMin.estimates(probes, b, regs)
          .join(v, Seq("tok"))
          .select(col("tok").as("token"), col("cnt").as("true_cnt"),
            col("cms_est")), col("token"))
      }
    }
  }

  val oracleQ126: String =
    s"""WITH norm AS (
       |  SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), cnt AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(t, ' ')) AS tok FROM norm)
       |  GROUP BY tok
       |), buck AS (
       |  SELECT tok, c, i,
       |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || tok),
       |      1, 15)) AS BIGINT) % ${graft.operators.CountMin.Width} AS bucket
       |  FROM cnt, range(0, ${graft.operators.CountMin.Depth}) t(i)
       |), regs AS (
       |  SELECT i, bucket, CAST(SUM(c) AS BIGINT) AS rc
       |  FROM buck GROUP BY i, bucket
       |), probes AS (
       |  SELECT tok FROM (SELECT tok FROM cnt ORDER BY c DESC, tok
       |    LIMIT $CmsProbes)
       |  UNION
       |  SELECT tok FROM (SELECT tok FROM cnt ORDER BY c ASC, tok
       |    LIMIT $CmsProbes)
       |), est AS (
       |  SELECT p.tok, MIN(r.rc) AS cms_est
       |  FROM probes p
       |  JOIN buck b ON b.tok = p.tok
       |  JOIN regs r ON r.i = b.i AND r.bucket = b.bucket
       |  GROUP BY p.tok
       |)
       |SELECT e.tok AS token, c.c AS true_cnt, e.cms_est
       |FROM est e JOIN cnt c ON c.tok = e.tok
       |ORDER BY token""".stripMargin

  /** q130 classifier constants: feature-hash width, per-mille weight
    * range, per-mille bias. Weights are DETERMINISTIC pseudo-weights
    * (md5 of the bucket id) standing in for a trained vector — the
    * operator under test is the inference plumbing (hashed features →
    * sparse dot with a broadcast weight vector → mean pool → sigmoid →
    * decision), which is identical whatever the weights are. */
  val ClfBuckets = 256
  val ClfWeightRange = 2001
  val ClfBias = 0.1

  /** q130 — fastText-style quality-classifier INFERENCE (Joulin et al.
    * 2017 architecture: hashed-bigram bag → mean-pooled linear score →
    * sigmoid): the model-based quality gate modern curation stacks run
    * beside the heuristic one (q70). Per-doc logits accumulate as EXACT
    * integer per-mille weight sums (order-free), the one transcendental
    * (sigmoid's exp) is quantized on the 1e-6 grid per the repo's
    * cross-engine rule, and `keep` is the thresholded decision.
    *
    * Scale shape: the weight vector is a [[ClfBuckets]]-row dim built
    * from `spark.range` and broadcast onto the hashed-bigram stream
    * (map-side join); scoring is one doc-keyed combinable aggregation.
    * Swapping real trained weights in changes a 256-row table, not the
    * plan. */
  def q130QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val bg0 = Tables.documents(s, dir)
      .select(col("doc_id"),
        filter(split(Text.normalize(col("text")), " "),
          w => length(w) > 0).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
          .as("bg"))
      .select(col("doc_id"), (Text.hash60(col("bg")) % ClfBuckets).as("bucket"))
    val wdim = s.range(ClfBuckets).select(col("id").as("bucket"),
      (Text.hash60(concat(lit("w:"), col("id").cast("string")))
        % ClfWeightRange - lit(1000L)).as("w3"))
    val z = bg0.join(broadcast(wdim), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w3")).as("z3"))
      .withColumn("z", col("z3").cast("double") / lit(1000.0)
        / col("n_bigrams").cast("double") + lit(ClfBias))
    z.select(col("doc_id"), col("n_bigrams"), col("z3"),
        graft.functions.jsRound(
          lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("prob"))
      .withColumn("keep", col("prob") >= 0.5)
      .orderBy(col("doc_id"))
  }

  val oracleQ130: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    w -> len(w) > 0) AS t
       |  FROM documents
       |), bg AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(b), 1, 15)) AS BIGINT) % $ClfBuckets
       |      AS bucket
       |  FROM (SELECT doc_id,
       |      unnest(list_transform(range(1, len(t)),
       |        i -> t[i] || ' ' || t[i + 1])) AS b
       |    FROM t0 WHERE len(t) >= 2)
       |), wdim AS (
       |  SELECT i AS bucket,
       |    CAST(('0x' || substr(md5('w:' || CAST(i AS VARCHAR)), 1, 15))
       |      AS BIGINT) % $ClfWeightRange - 1000 AS w3
       |  FROM range(0, $ClfBuckets) r(i)
       |), sc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(w.w3) AS BIGINT) AS z3
       |  FROM bg JOIN wdim w USING (bucket) GROUP BY doc_id
       |), zz AS (
       |  SELECT doc_id, n_bigrams, z3,
       |    CAST(z3 AS DOUBLE) / 1e3 / CAST(n_bigrams AS DOUBLE)
       |      + CAST('$ClfBias' AS DOUBLE) AS z
       |  FROM sc
       |)
       |SELECT doc_id, n_bigrams, z3,
       |  floor((1.0 / (1.0 + exp(-z))) * 1e6 + 0.5) / 1e6 AS prob,
       |  (floor((1.0 / (1.0 + exp(-z))) * 1e6 + 0.5) / 1e6) >= 0.5 AS keep
       |FROM zz ORDER BY doc_id""".stripMargin

  /** Target output-group capacity (chars) for the q132 compaction plan. */
  val CompactTarget = 4000L

  /** q132 — small-file compaction planning: group a partition's files
    * into ~[[CompactTarget]]-sized output groups, the way
    * `FileSourceScanExec` packs splits under `maxPartitionBytes` and
    * table-maintenance jobs (Delta OPTIMIZE / Iceberg rewrite) plan
    * rewrite groups. Files (here: `documents` rows, size = n_chars)
    * sort size-DESCENDING per partition (`source`) and pack next-fit:
    * group = ⌊(running-sum − size) / target⌋ — the windowed form of the
    * planner loop, deterministic and shuffle-minimal (one window over
    * the manifest, which is METADATA — at 100 TB the file manifest is
    * millions of rows, not billions; a single window per partition key
    * is the right cost). Emits the plan plus per-group rollups a rewrite
    * job executes from. */
  def q132CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val planned = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("grp",
        ((sum(col("n_chars")).over(w) - col("n_chars")) / CompactTarget)
          .cast("long"))
    planned.groupBy(col("source"), col("grp"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("grp_bytes"),
        min(col("doc_id")).as("first_file"), max(col("doc_id")).as("last_file"))
      .orderBy(col("source"), col("grp"))
  }

  val oracleQ132: String =
    s"""WITH planned AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST((SUM(n_chars) OVER (PARTITION BY source
       |        ORDER BY n_chars DESC, doc_id
       |        ROWS UNBOUNDED PRECEDING) - n_chars)
       |      // $CompactTarget AS BIGINT) AS grp
       |  FROM documents
       |)
       |SELECT source, grp, CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(SUM(n_chars) AS BIGINT) AS grp_bytes,
       |  MIN(doc_id) AS first_file, MAX(doc_id) AS last_file
       |FROM planned GROUP BY source, grp
       |ORDER BY source, grp""".stripMargin

  /** q133 — exact class rebalancing ([[Sampling.balanceToMinority]]):
    * every language downsampled to the minority language's count by
    * deterministic hash rank. The gate pins the exact kept SET (not just
    * counts): which doc survives depends on the full within-stratum hash
    * order. */
  def q133Rebalance(s: SparkSession, dir: String): DataFrame =
    Sampling.balanceToMinority(
        Tables.documents(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang")
      .orderBy(col("doc_id"))

  val oracleQ133: String =
    s"""WITH c AS (
       |  SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
       |), m AS (SELECT MIN(cnt) AS m FROM c),
       |rk AS (
       |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
       |    ORDER BY CAST(('0x' || substr(md5('rb:' ||
       |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id) AS rk
       |  FROM documents
       |)
       |SELECT doc_id, lang FROM rk, m WHERE rk <= m
       |ORDER BY doc_id""".stripMargin

  /** q135 — the per-source "dataset card": the nightly corpus report a
    * curation pipeline publishes beside its shards — doc/token counts,
    * mean quality, exact-dup rate (md5 fingerprints duplicated anywhere
    * in the corpus, attributed to each source), and language entropy.
    * Every continuous statistic rides the scaled-integer discipline:
    * per-doc quality and per-language ln(p) are quantized to 1e-6
    * integers BEFORE any data-ordered sum, so the aggregation is exact
    * integer math and the gate pins it bit-identically.
    *
    * Scale shape: ONE corpus scan builds the materialized (source, lang,
    * tokens, q6, fingerprint) base; everything after is group-by rollups
    * of that base plus a fingerprint-keyed semi-join for the dup count —
    * all map-side combinable, nothing corpus-quadratic. */
  def q135DatasetCard(s: SparkSession, dir: String): DataFrame = {
    val base0 = Tables.documents(s, dir).select(col("source"), col("lang"),
      Text.tokenCount(col("text")).cast("long").as("nt"),
      floor(Text.qualityScore(col("text")) * lit(1e6) + lit(0.5)).as("q6"),
      Text.fingerprint(col("text")).as("fp"))
    Materialize.withMaterialized(base0) { base =>
      val dupFps = base.groupBy(col("fp")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("fp"))
      val nDup = base.join(dupFps, Seq("fp"), "leftsemi")
        .groupBy(col("source")).agg(count(lit(1)).as("n_dup"))
      val ns = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"), sum(col("q6")).as("sq6"))
      val lg = base.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val ent = lg.join(broadcast(ns.select(col("source"), col("n_docs"))),
          Seq("source"))
        .select(col("source"), (col("c") *
          floor(log(col("c").cast("double") / col("n_docs").cast("double"))
            * lit(1e6) + lit(0.5))).as("hterm"))
        .groupBy(col("source")).agg(sum(col("hterm")).as("hsum"))
      Materialize.sorted(ns.join(ent, Seq("source"))
        .join(nDup, Seq("source"), "left")
        .na.fill(0L, Seq("n_dup"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("sq6").cast("double")
            / (col("n_docs").cast("double") * lit(1e6))).as("mean_quality"),
          col("n_dup"),
          (col("n_dup").cast("double") / col("n_docs").cast("double"))
            .as("dup_rate"),
          (-col("hsum").cast("double")
            / (col("n_docs").cast("double") * lit(1e6))).as("lang_entropy")),
        col("source"))
    }
  }

  val oracleQ135: String =
    s"""WITH base AS (
       |  SELECT source, lang,
       |    CAST(len(regexp_extract_all(text, '\\w+')) AS BIGINT) AS nt,
       |    CAST(floor((${TextQueries.qualityExpr}) * 1e6 + 0.5) AS BIGINT)
       |      AS q6,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM (SELECT source, lang, text,
       |      len(regexp_extract_all(text, '\\w+')) AS n_tokens,
       |      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ',
       |        'g'), ' ') AS toks
       |    FROM documents) t
       |), dup AS (
       |  SELECT fp FROM base GROUP BY fp HAVING COUNT(*) > 1
       |), nd AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dup
       |  FROM base WHERE fp IN (SELECT fp FROM dup) GROUP BY source
       |), ns AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |    CAST(SUM(q6) AS BIGINT) AS sq6
       |  FROM base GROUP BY source
       |), lg AS (
       |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM base GROUP BY source, lang
       |), ent AS (
       |  SELECT lg.source,
       |    CAST(SUM(lg.c * CAST(floor(ln(CAST(lg.c AS DOUBLE)
       |      / CAST(ns.n_docs AS DOUBLE)) * 1e6 + 0.5) AS BIGINT))
       |      AS BIGINT) AS hsum
       |  FROM lg JOIN ns USING (source) GROUP BY lg.source
       |)
       |SELECT ns.source, n_docs, n_tokens,
       |  CAST(sq6 AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6)
       |    AS mean_quality,
       |  CAST(COALESCE(nd.n_dup, 0) AS BIGINT) AS n_dup,
       |  CAST(COALESCE(nd.n_dup, 0) AS DOUBLE) / CAST(n_docs AS DOUBLE)
       |    AS dup_rate,
       |  -CAST(ent.hsum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1e6)
       |    AS lang_entropy
       |FROM ns JOIN ent USING (source) LEFT JOIN nd USING (source)
       |ORDER BY source""".stripMargin

  /** Nucleus mass (×10) for q138 — p = 0.8 carried as the integer 8 so
    * the cutoff compares exact integers, never floats. */
  val TopPNum = 8

  /** q138 — top-p (nucleus) cutoff sets over the corpus bigram
    * distribution (Holtzman et al. 2020's sampling rule, computed as a
    * dataset statistic): for every context token, the SMALLEST
    * most-probable next-token set whose mass reaches p, reported with
    * its size and exact mass. The decoding-side companion to q100's
    * bigram LM — and the membership rule is pure integer arithmetic:
    * token counts are exact, and "mass before this token < p·total"
    * compares `(cum−cnt)·10 < 8·total` with no division anywhere.
    *
    * Scale shape: bigram counts are one map-side-combined shuffle; the
    * per-context ranking window runs over the (context, next) VOCAB
    * relation (vocabulary²-bounded, not corpus-bounded); the rollup is
    * one grouped aggregation. */
  def q138TopP(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(filter(split(Text.normalize(col("text")), " "),
        w => length(w) > 0).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr("transform(sequence(1, size(t) - 1), " +
        "i -> struct(element_at(t, i) AS prev, " +
        "element_at(t, i + 1) AS next))")).as("p"))
      .groupBy(col("p.prev").as("prev"), col("p.next").as("next"))
      .agg(count(lit(1)).as("cnt"))
    val tot = bg.groupBy(col("prev")).agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_next"))
    val w = Window.partitionBy(col("prev"))
      .orderBy(col("cnt").desc, col("next"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bg.withColumn("cum", sum(col("cnt")).over(w))
      .join(broadcast(tot), Seq("prev"))
      .filter((col("cum") - col("cnt")) * 10 < lit(TopPNum) * col("total"))
      .groupBy(col("prev"))
      .agg(count(lit(1)).as("topp_size"), max(col("cum")).as("topp_cnt"),
        first(col("total")).as("total"), first(col("n_next")).as("n_next"))
      .select(col("prev"), col("n_next"), col("topp_size"),
        col("topp_cnt"), col("total"))
      .orderBy(col("prev"))
  }

  val oracleQ138: String =
    s"""WITH t0 AS (
       |  SELECT list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    w -> len(w) > 0) AS t
       |  FROM documents
       |), tg AS (
       |  SELECT CASE WHEN max(len(t)) >= ${TextQueries.OraclePosCap}
       |    THEN error('q138 token cap exceeded') ELSE 1 END AS ok FROM t0
       |), bg AS (
       |  SELECT t[CAST(i AS INT)] AS prev, t[CAST(i+1 AS INT)] AS next,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM t0, range(1, ${TextQueries.OraclePosCap}) r(i), tg
       |  WHERE tg.ok = 1 AND len(t) >= 2 AND i <= len(t) - 1
       |  GROUP BY 1, 2
       |), tot AS (
       |  SELECT prev, CAST(SUM(cnt) AS BIGINT) AS total,
       |    CAST(COUNT(*) AS BIGINT) AS n_next
       |  FROM bg GROUP BY prev
       |), ranked AS (
       |  SELECT bg.prev, bg.cnt,
       |    SUM(bg.cnt) OVER (PARTITION BY bg.prev
       |      ORDER BY bg.cnt DESC, bg.next ROWS UNBOUNDED PRECEDING) AS cum,
       |    tot.total, tot.n_next
       |  FROM bg JOIN tot USING (prev)
       |)
       |SELECT prev, n_next, CAST(COUNT(*) AS BIGINT) AS topp_size,
       |  CAST(MAX(cum) AS BIGINT) AS topp_cnt, total
       |FROM ranked WHERE (cum - cnt) * 10 < $TopPNum * total
       |GROUP BY prev, n_next, total ORDER BY prev""".stripMargin

  /** Pair cut for the q139 PMI survey. */
  val PmiTopK = 30

  /** q139 — pointwise-mutual-information co-occurrence mining (Church &
    * Hanks 1990): the [[PmiTopK]] most frequent within-document word
    * pairs with their exact document-co-occurrence counts and PMI =
    * ln(c12·D / (c1·c2)), quantized on the 1e-6 grid. The collocation/
    * topic-signal survey a corpus audit runs beside the unigram KL
    * drift (q84). Ranking is by EXACT integers (c12, w1, w2) — the
    * transcendental only decorates the result, it never orders it.
    *
    * Scale shape: the distinct (doc, word) relation is one
    * map-side-combined distinct; the pair self-join keys on doc_id with
    * per-doc fan-out bounded by distinct-words-per-doc² (vocabulary
    * discipline — the corpus-wide pair space is vocab²-bounded, not
    * corpus²); df and D attach as broadcast dims to the TOP-K cut only. */
  def q139PmiPairs(s: SparkSession, dir: String): DataFrame = {
    val dt0 = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(
        filter(split(Text.normalize(col("text")), " "),
          w => length(w) > 0))).as("w"))
    Materialize.withMaterialized(dt0) { dt =>
      val dfw = dt.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nd = dt.agg(countDistinct(col("doc_id")).as("d"))
      val pairs = dt.select(col("doc_id"), col("w").as("w1"))
        .join(dt.select(col("doc_id"), col("w").as("w2")), Seq("doc_id"))
        .filter(col("w1") < col("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      Materialize.sorted(pairs
        .orderBy(col("c12").desc, col("w1"), col("w2")).limit(PmiTopK)
        .join(broadcast(dfw.select(col("w").as("w1"), col("c").as("c1"))),
          Seq("w1"))
        .join(broadcast(dfw.select(col("w").as("w2"), col("c").as("c2"))),
          Seq("w2"))
        .crossJoin(broadcast(nd))
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          floor(log((col("c12") * col("d")).cast("double")
            / (col("c1") * col("c2")).cast("double")) * lit(1e6) + lit(0.5))
            .as("pmi6")), col("c12").desc, col("w1"), col("w2"))
    }
  }

  val oracleQ139: String =
    s"""WITH dt AS (
       |  SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(
       |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |      x -> len(x) > 0)) AS w
       |    FROM documents)
       |), dfw AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM dt GROUP BY w
       |), nd AS (
       |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d FROM dt
       |), pairs AS (
       |  SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c12
       |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.w < b.w
       |  GROUP BY 1, 2
       |), top AS (
       |  SELECT * FROM pairs ORDER BY c12 DESC, w1, w2 LIMIT $PmiTopK
       |)
       |SELECT t.w1, t.w2, t.c12, f1.c AS c1, f2.c AS c2,
       |  CAST(floor(ln(CAST(t.c12 * nd.d AS DOUBLE)
       |    / CAST(f1.c * f2.c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS pmi6
       |FROM top t
       |CROSS JOIN nd
       |JOIN dfw f1 ON f1.w = t.w1
       |JOIN dfw f2 ON f2.w = t.w2
       |ORDER BY c12 DESC, w1, w2""".stripMargin

  /** Skip-gram window for q141; weights 1/d carried as 6/d (d ≤ 3 →
    * 6, 3, 2) so the weighted counts are exact integers. */
  val SkipGramW = 3

  /** q141 — skip-gram co-occurrence counts (the word2vec/GloVe input
    * statistic): ordered within-window pairs (first, second) at distance
    * d ≤ [[SkipGramW]], with plain counts and the distance-decayed
    * weight Σ 1/d — carried as the exact integer Σ 6/d, so nothing
    * floats. Corpus → embedding-training-input, the step before any
    * embedding job.
    *
    * Scale shape: positions explode map-side into their ≤W forward
    * targets (the q121 window-densification trick — an equi-join on
    * (doc, pos), never a per-doc quadratic range join); the pair rollup
    * is one vocab²-bounded map-side-combined aggregation. */
  def q141SkipGrams(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(filter(
        split(Text.normalize(col("text")), " "),
        w => length(w) > 0)).as(Seq("pos", "w")))
    Materialize.withMaterialized(toks) { t =>
      val targets = t.select(col("doc_id"), col("w").as("w1"),
          explode(expr(s"transform(sequence(1, $SkipGramW), " +
            "d -> struct(pos + d AS tpos, CAST(6 / d AS BIGINT) AS w6))"))
            .as("tg"))
        .select(col("doc_id"), col("w1"), col("tg.tpos").as("pos"),
          col("tg.w6").as("w6"))
      Materialize.sorted(targets
        .join(t.select(col("doc_id"), col("pos"), col("w").as("w2")),
          Seq("doc_id", "pos"))
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt"), sum(col("w6")).as("wsum6")),
        col("w1"), col("w2"))
    }
  }

  val oracleQ141: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    x -> len(x) > 0) AS t
       |  FROM documents
       |), tg AS (
       |  SELECT CASE WHEN max(len(t)) >= ${TextQueries.OraclePosCap}
       |    THEN error('q141 token cap exceeded') ELSE 1 END AS ok FROM t0
       |), pos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p, t[CAST(i AS INT)] AS w
       |  FROM t0, range(1, ${TextQueries.OraclePosCap}) r(i), tg
       |  WHERE tg.ok = 1 AND i <= len(t)
       |)
       |SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS cnt,
       |  CAST(SUM(CAST(6 / (b.p - a.p) AS BIGINT)) AS BIGINT) AS wsum6
       |FROM pos a JOIN pos b
       |  ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND $SkipGramW
       |GROUP BY a.w, b.w ORDER BY w1, w2""".stripMargin

  /** q142 — Zipf rank-frequency fit: OLS slope/intercept of ln(freq)
    * against ln(rank) over the corpus vocabulary — the standard sanity
    * check that a text corpus is natural-language-shaped (slope ≈ −1)
    * rather than template spam. ln terms are quantized to 1e-6 integers
    * (the q84 discipline), every OLS moment is an exact integer sum, and
    * the two final divisions are single deterministic double ops — so a
    * regression THROUGH transcendentals still gates bit-exactly.
    *
    * Scale shape: one vocab count shuffle; the rank window runs over the
    * VOCABULARY (q129's discipline); moments fold in one single-row
    * aggregation. */
  def q142ZipfFit(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(filter(split(Text.normalize(col("text")), " "),
        w => length(w) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val ranked = vocab.withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("w"))))
      .select(
        floor(log(col("rank").cast("double")) * lit(1e6) + lit(0.5)).as("x6"),
        floor(log(col("cnt").cast("double")) * lit(1e6) + lit(0.5)).as("y6"))
    ranked.agg(count(lit(1)).as("n"), sum(col("x6")).as("sx"),
        sum(col("y6")).as("sy"), sum(col("x6") * col("y6")).as("sxy"),
        sum(col("x6") * col("x6")).as("sxx"))
      .select(col("n").as("n_vocab"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .as("slope"),
        ((col("sy").cast("double")
          - ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * col("sx").cast("double"))
          / (col("n").cast("double") * lit(1e6))).as("intercept"))
  }

  val oracleQ142: String =
    s"""WITH vocab AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    x -> len(x) > 0)) AS w FROM documents)
       |  GROUP BY w
       |), ranked AS (
       |  SELECT
       |    CAST(floor(ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w)
       |      AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x6,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y6
       |  FROM vocab
       |), m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x6) AS BIGINT) AS sx,
       |    CAST(SUM(y6) AS BIGINT) AS sy,
       |    CAST(SUM(x6 * y6) AS BIGINT) AS sxy,
       |    CAST(SUM(x6 * x6) AS BIGINT) AS sxx
       |  FROM ranked
       |)
       |SELECT n AS n_vocab,
       |  CAST(n * sxy - sx * sy AS DOUBLE)
       |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
       |  (CAST(sy AS DOUBLE)
       |    - (CAST(n * sxy - sx * sy AS DOUBLE)
       |       / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
       |    / (CAST(n AS DOUBLE) * 1e6) AS intercept
       |FROM m""".stripMargin

  /** q143 — STREAMING Count-Min maintenance run to completion in-process
    * ([[graft.streaming.StreamCms]], the ninth streaming shape): the
    * corpus arrives on a MemoryStream in three micro-batches, each
    * batch's register partials merge into the standing grid (counter
    * grids add — q126's merge law), and the final grid must hash-match
    * the plain batch sketch. The driver-side collect feeds only the
    * in-process test transport (cf. q92); production replaces
    * MemoryStream with readStream. */
  def q143StreamCms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamCms, StreamRunner}
    import graft.streaming.StreamCms.Doc
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
      .map { case (id, t) => Doc(id, t) }
    val m = StreamCms.maintainer
    StreamRunner.foreachBatch(s, StreamRunner.slices(docs, 3))(m.absorb)
    m.current.select(col("i"), col("bucket"), col("rc"))
      .orderBy(col("i"), col("bucket"))
  }

  val oracleQ143: String =
    s"""WITH norm AS (
       |  SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), cnt AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(t, ' ')) AS tok FROM norm)
       |  GROUP BY tok
       |), buck AS (
       |  SELECT tok, c, i,
       |    CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || tok),
       |      1, 15)) AS BIGINT) % ${graft.operators.CountMin.Width} AS bucket
       |  FROM cnt, range(0, ${graft.operators.CountMin.Depth}) t(i)
       |)
       |SELECT i, bucket, CAST(SUM(c) AS BIGINT) AS rc
       |FROM buck GROUP BY i, bucket
       |ORDER BY i, bucket""".stripMargin

  /** Permille boundaries for the q144 three-way split: [0,800) train,
    * [800,900) val, [900,1000) test. */
  val SplitTrainUpto = 800
  val SplitValUpto = 900

  /** q144 — deterministic train/val/test split assignment: the canonical
    * 80/10/10 ML split as a pure hash of doc_id
    * ([[Sampling.hashBucketPermille]]), so membership is reproducible,
    * engine-independent, append-stable, and disjoint BY CONSTRUCTION
    * (one bucket value → exactly one range). The gate pins per-
    * (lang, split) counts plus the exact id-sum so assignment — not just
    * cardinality — is verified; coverage is checkable downstream because
    * the three splits' counts partition each language's total.
    *
    * Scale shape: one codegen'd map-side projection + one tiny grouped
    * rollup — the split itself never shuffles the corpus. */
  def q144SplitAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        Sampling.hashBucketPermille(col("doc_id")).as("b"))
      .withColumn("split",
        when(col("b") < SplitTrainUpto, "train")
          .when(col("b") < SplitValUpto, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"), col("split"))

  val oracleQ144: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
       |      AS BIGINT) % 1000 AS bk
       |  FROM documents
       |)
       |SELECT lang,
       |  CASE WHEN bk < $SplitTrainUpto THEN 'train'
       |       WHEN bk < $SplitValUpto THEN 'val' ELSE 'test' END AS split,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
       |FROM b GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** Log₂-bucketed quantile-histogram sketch (the DDSketch/HDR-histogram
    * family: log buckets ⇒ bounded RELATIVE error) for per-source
    * doc-length monitoring — the mergeable-sketch counterpart of q82's
    * HLL: per-group state is a ≤64-bucket count histogram that partial
    * aggregation combines map-side, so P50/P95/P99 over 100 TB cost one
    * tiny shuffle, no per-source sort. The quantile readout is the
    * smallest bucket whose cumulative count reaches ⌈p·n⌉ (compared as
    * integer cum·100 ≥ p100·n — zero FP anywhere), reported as the
    * bucket's lower edge 2^(bucket-1).
    *
    * The exact type-1 quantiles ride along ONLY to gate the sketch's
    * error (their per-source rank windows are the very sort the sketch
    * exists to avoid — a production monitor drops those columns). */
  def q90QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), col("n_chars"),
        length(bin(col("n_chars"))).as("bucket"))
    val wcum = Window.partitionBy(col("source")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = d.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wcum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
    def bAt(p100: Int) =
      min(when(col("cum") * 100 >= lit(p100) * col("n"), col("bucket")))
    val est = cum.groupBy(col("source"), col("n")).agg(
      bAt(50).as("b50"), bAt(95).as("b95"), bAt(99).as("b99"))
    val wr = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    def xAt(p100: Int) =
      min(when(col("rn") * 100 >= lit(p100) * col("n"), col("n_chars")))
    val exact = d
      .withColumn("rn", row_number().over(wr).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .groupBy(col("source")).agg(
        xAt(50).as("p50_exact"), xAt(95).as("p95_exact"),
        xAt(99).as("p99_exact"))
    est.join(exact, Seq("source"))
      .select(col("source"), col("n"),
        expr("shiftleft(CAST(1 AS BIGINT), b50 - 1)").as("p50_lo"),
        col("p50_exact"),
        expr("shiftleft(CAST(1 AS BIGINT), b95 - 1)").as("p95_lo"),
        col("p95_exact"),
        expr("shiftleft(CAST(1 AS BIGINT), b99 - 1)").as("p99_lo"),
        col("p99_exact"))
      .orderBy(col("source"))
  }

  val oracleQ90: String =
    s"""WITH d AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST(len(bin(n_chars)) AS INT) AS bucket
       |  FROM documents WHERE n_chars > 0
       |), hist AS (
       |  SELECT source, bucket, COUNT(*) AS c FROM d GROUP BY source, bucket
       |), cum AS (
       |  SELECT source, bucket, c,
       |    SUM(c) OVER (PARTITION BY source ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(c) OVER (PARTITION BY source) AS n
       |  FROM hist
       |), est AS (
       |  SELECT source, CAST(MAX(n) AS BIGINT) AS n,
       |    MIN(CASE WHEN cum * 100 >= 50 * n THEN bucket END) AS b50,
       |    MIN(CASE WHEN cum * 100 >= 95 * n THEN bucket END) AS b95,
       |    MIN(CASE WHEN cum * 100 >= 99 * n THEN bucket END) AS b99
       |  FROM cum GROUP BY source
       |), ranked AS (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM d
       |), ex AS (
       |  SELECT source,
       |    MIN(CASE WHEN rn * 100 >= 50 * n THEN n_chars END) AS p50_exact,
       |    MIN(CASE WHEN rn * 100 >= 95 * n THEN n_chars END) AS p95_exact,
       |    MIN(CASE WHEN rn * 100 >= 99 * n THEN n_chars END) AS p99_exact
       |  FROM ranked GROUP BY source
       |)
       |SELECT e.source, e.n,
       |  CAST(1 AS BIGINT) << (b50 - 1) AS p50_lo, x.p50_exact,
       |  CAST(1 AS BIGINT) << (b95 - 1) AS p95_lo, x.p95_exact,
       |  CAST(1 AS BIGINT) << (b99 - 1) AS p99_lo, x.p99_exact
       |FROM est e JOIN ex x USING (source) ORDER BY e.source""".stripMargin

  /** Broadcast Bloom pre-filter screen ([[graft.operators.BloomFilter]]):
    * build the 256-byte filter over the held-out eval source's exact-text
    * fingerprints with ONE associative aggregation, embed the bitset as a
    * literal in the corpus scan (the 100 TB shape: no shuffle of the probe
    * side — the filter evaluates inside the scan's codegen stage via
    * [[graft.functions.BloomExpr]]), then account per source: docs flagged
    * by the filter, docs actually in the member set (exact fingerprint
    * semi-join — the "verify the trickle" stage), and false positives.
    * The oracle replays the double-hashed bit positions verbatim, so the
    * gate pins the filter's exact bit state (n_set_bits), its false
    * positives, and the no-false-negative invariant (n_flagged ≥
    * n_members, flagged ⊇ members) bit-for-bit.
    *
    * The 256 B driver-side collect of the filter is the operator's design
    * (the filter is the broadcast artifact), not a data collect. */
  def q97BloomScreen(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomExpr
    import graft.operators.BloomFilter
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        Text.fingerprint(col("text")).as("fp"))
      .withColumn("h60",
        conv(substring(col("fp"), 1, 15), 16, 10).cast("long"))
    val members = d.filter(col("source") === DecontamEvalSource)
      .select(col("fp"), col("h60")).distinct()
    val bits: Array[Byte] = members
      .agg(BloomFilter.bloom60(col("h60")).as("b"))
      .head().getAs[Array[Byte]](0)
    val nSetBits = BloomFilter.setBitCount(bits)
    d.filter(col("source") =!= DecontamEvalSource)
      .withColumn("flag",
        BloomExpr.mightContain(lit(bits), col("h60")))
      .join(broadcast(members.select(col("fp"), lit(true).as("member"))),
        Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("member").isNotNull, 1L).otherwise(0L)).as("n_members"),
        sum(when(col("flag") && col("member").isNull, 1L).otherwise(0L))
          .as("n_false_pos"))
      .withColumn("n_set_bits", lit(nSetBits))
      .orderBy(col("source"))
  }

  val oracleQ97: String = {
    import graft.operators.BloomFilter.{BloomBits, BloomK}
    val half = BloomBits / 2
    // pos(h, i) = ((h % m) + i * (2*((h // m) % (m/2)) + 1)) % m
    def pos(h: String, i: String) =
      s"(($h % $BloomBits) + $i * (2*(($h // $BloomBits) % $half) + 1)) % $BloomBits"
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents
       |), m AS (
       |  SELECT DISTINCT fp, CAST('0x' || substr(fp, 1, 15) AS BIGINT) AS h60
       |  FROM d WHERE source = '$DecontamEvalSource'
       |), bits AS (
       |  SELECT DISTINCT ${pos("h60", "i")} AS pos
       |  FROM m, range(0, $BloomK) r(i)
       |), nb AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_set_bits FROM bits
       |), p AS (
       |  SELECT doc_id, source, fp,
       |    CAST('0x' || substr(fp, 1, 15) AS BIGINT) AS h60
       |  FROM d WHERE source <> '$DecontamEvalSource'
       |), miss AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, ${pos("h60", "i")} AS pos
       |    FROM p, range(0, $BloomK) r(i)
       |  ) pp WHERE pos NOT IN (SELECT pos FROM bits)
       |), f AS (
       |  SELECT p.source,
       |    CASE WHEN miss.doc_id IS NULL THEN 1 ELSE 0 END AS flag,
       |    CASE WHEN p.fp IN (SELECT fp FROM m) THEN 1 ELSE 0 END AS member
       |  FROM p LEFT JOIN miss USING (doc_id)
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(flag) AS BIGINT) AS n_flagged,
       |  CAST(SUM(member) AS BIGINT) AS n_members,
       |  CAST(SUM(CASE WHEN flag = 1 AND member = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_false_pos,
       |  (SELECT n_set_bits FROM nb) AS n_set_bits
       |FROM f GROUP BY source ORDER BY source""".stripMargin
  }

  val oracleQ64: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, lang, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM t
       |)
       |SELECT doc_id, lang, n_tokens,
       |  CAST((run - n_tokens) // $SeqLen AS BIGINT) AS pack_id,
       |  CAST((run - n_tokens) % $SeqLen AS BIGINT) AS pack_offset
       |FROM r ORDER BY doc_id""".stripMargin

  /** q176 — PACKING-EFFICIENCY audit over the q64 packer: per language,
    * the trainer-facing report of what greedy concat-and-chunk packing
    * actually produced — pack count, last-pack fill, overall token
    * efficiency, and the BOUNDARY statistics attention-mask builders pay
    * for (how many documents straddle a pack boundary, and how many
    * boundaries in total get crossed). Everything derives from the gated
    * [[Packing.packSequences]] columns; crossings are pure integer
    * arithmetic ((offset + len − 1) div seqLen); efficiency is the one
    * final division.
    *
    * Scale shape: the packer's own two-phase prefix sums plus ONE
    * per-language rollup — no new corpus-sized relation. */
  def q176PackingAudit(s: SparkSession, dir: String): DataFrame = {
    val packed = Packing.packSequences(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "lang", "n_tokens", SeqLen, PackBucketWidth)
    packed
      .withColumn("crossings",
        expr(s"(pack_offset + greatest(n_tokens, 1) - 1) div $SeqLen"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (max(expr(s"(pack_offset + greatest(n_tokens, 1) - 1) div $SeqLen + pack_id"))
          + 1L).as("n_packs"),
        sum(when(col("crossings") > 0, 1L).otherwise(0L)).as("n_spanning"),
        sum(col("crossings")).as("total_crossings"))
      .withColumn("last_fill",
        col("total_tokens") - (col("n_packs") - 1) * lit(SeqLen))
      .withColumn("efficiency", col("total_tokens").cast("double")
        / (col("n_packs") * lit(SeqLen)).cast("double"))
      .orderBy(col("lang"))
  }

  val oracleQ176: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, lang, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM t
       |), p AS (
       |  SELECT lang, n_tokens,
       |    (run - n_tokens) // $SeqLen AS pack_id,
       |    (run - n_tokens) % $SeqLen AS pack_offset
       |  FROM r
       |), c AS (
       |  SELECT lang, n_tokens, pack_id,
       |    (pack_offset + greatest(n_tokens, 1) - 1) // $SeqLen AS crossings
       |  FROM p
       |)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(MAX(crossings + pack_id) + 1 AS BIGINT) AS n_packs,
       |  CAST(SUM(CASE WHEN crossings > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_spanning,
       |  CAST(SUM(crossings) AS BIGINT) AS total_crossings,
       |  CAST(SUM(n_tokens) - (MAX(crossings + pack_id) + 1 - 1) * $SeqLen
       |    AS BIGINT) AS last_fill,
       |  CAST(SUM(n_tokens) AS DOUBLE)
       |    / CAST((MAX(crossings + pack_id) + 1) * $SeqLen AS DOUBLE)
       |    AS efficiency
       |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** Jelinek-Mercer interpolation weight for the bigram LM: λ on the
    * bigram MLE, (1-λ) on the add-one unigram fallback. */
  val LmLambda = 0.9

  /** Per-source token budget for q101 — binds at every SF (per-source
    * corpus totals are ~1.3k tokens at sf0.01, ~13.5k at sf0.1). */
  val TokenBudget = 800L

  /** q101 — token-budget data selection: per source, keep the
    * quality-ranked prefix of documents whose running token total stays
    * within [[TokenBudget]]. This is the budgeting step a pretraining mix
    * runs after scoring (pick the best N tokens per domain, not the best N
    * DOCS — budgets are token-denominated): rank by the q13 quality score
    * (tie: doc_id), running-sum token counts, cut at the budget.
    *
    * Scale shape: one row_number + running-sum window per source
    * partition. Source cardinality is low, so at 100 TB the per-source
    * window is the same single-reducer-per-stratum hazard sequence packing
    * hit — the q64 two-phase prefix-sum decomposition (per-partition
    * partials, broadcast offsets) is the drop-in replacement; the
    * semantics gated here don't change. */
  def q101TokenBudget(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    d.withColumn("sel_rank", row_number().over(w))
      .withColumn("cum_tokens", sum(col("n_tokens").cast("long"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("sel_rank"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  val oracleQ101: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, text,
       |    len(regexp_extract_all(text, '\\w+')) AS n_tokens,
       |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents
       |), sc AS (
       |  SELECT doc_id, source, n_tokens,
       |  ${TextQueries.qualityExpr}
       |  AS quality FROM t
       |), r AS (
       |  SELECT doc_id, source, n_tokens,
       |    row_number() OVER w AS sel_rank,
       |    CAST(SUM(n_tokens) OVER (
       |      w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM sc WINDOW w AS (PARTITION BY source ORDER BY quality DESC, doc_id)
       |)
       |SELECT doc_id, source, n_tokens, sel_rank, cum_tokens FROM r
       |WHERE cum_tokens <= $TokenBudget ORDER BY doc_id""".stripMargin

  /** q100 — interpolated bigram language model, trained on half the corpus
    * and scoring the held-out half, with CCNet-style head/middle/tail
    * bucketing (Wenzek et al. 2020: CCNet trains an LM on trusted text and
    * partitions the crawl by per-language perplexity terciles; the q72
    * unigram scorer is the degenerate form of this).
    *
    * Conventions: tokens are the corpus-wide normalize+split; the train
    * split is doc_id parity (deterministic, append-stable); p(w2|w1) =
    * λ·c(w1,w2)/c(w1) + (1-λ)·(c(w2)+1)/(T+V) with unigram counts over ALL
    * train positions and add-one smoothing on the fallback so p > 0 for
    * any held-out bigram; log-probs are scaled-integer quantized
    * (`floor(ln·1e6+0.5)`, q72 convention) before the per-doc sum so
    * aggregation order is free; documents with fewer than two tokens
    * produce NO row (same no-row contract as ngramContamination).
    *
    * Scale shape: bigram/unigram stat tables are vocab-bounded and
    * broadcast here (synthetic vocab is tiny); at web scale both joins
    * become ordinary key-partitioned shuffles on (w1,w2)/w1/w2 — the plan
    * is three joins + one groupBy either way, nothing quadratic. The
    * tercile cut is one percent_rank window per language over doc-level
    * rows. */
  def q100BigramLm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        filter(split(Text.normalize(col("text")), " "),
          t => length(t) > 0).as("toks"))
    val big = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = big.filter(col("doc_id") % 2 === 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val uni = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("tt"), count(lit(1)).as("vv"))

    val term1 = coalesce(
      lit(LmLambda) * col("c12").cast("double") / col("c1").cast("double"),
      lit(0.0))
    val term2 = lit(1.0 - LmLambda) *
      (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
      (col("tt") + col("vv")).cast("double")
    val scored = big.filter(col("doc_id") % 2 === 1)
      .join(broadcast(c12), Seq("w1", "w2"), "left")
      .join(broadcast(uni.select(col("tok").as("w1"), col("c").as("c1"))),
        Seq("w1"), "left")
      .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("c2"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"),
        floor(log(term1 + term2) * lit(1e6) + lit(0.5)).cast("long").as("lp6"))
    val perDoc = scored.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp6")).as("sum_lp6"))
      .withColumn("avg_logprob",
        col("sum_lp6").cast("double") / lit(1e6) / col("n_bigrams"))
    val pr = percent_rank().over(
      Window.partitionBy(col("lang")).orderBy(col("avg_logprob").desc))
    perDoc.withColumn("pr", pr)
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("sum_lp6"),
        col("avg_logprob"),
        when(col("pr") < lit(1.0) / lit(3.0), lit("head"))
          .when(col("pr") < lit(2.0) / lit(3.0), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy(col("doc_id"))
  }

  val oracleQ100: String =
    s"""WITH tl AS (
       |  SELECT doc_id, lang, list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    t -> len(t) > 0) AS toks
       |  FROM documents
       |), big AS (
       |  SELECT doc_id, lang, u.w1 AS w1, u.w2 AS w2 FROM (
       |    SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)),
       |      i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS u
       |    FROM tl WHERE len(toks) >= 2)
       |), c12 AS (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM big WHERE doc_id % 2 = 0
       |  GROUP BY w1, w2
       |), uni AS (
       |  SELECT tok, COUNT(*) AS c FROM (
       |    SELECT unnest(toks) AS tok FROM tl WHERE doc_id % 2 = 0)
       |  GROUP BY tok
       |), tot AS (
       |  SELECT CAST(SUM(c) AS BIGINT) AS tt, CAST(COUNT(*) AS BIGINT) AS vv
       |  FROM uni
       |), sc AS (
       |  SELECT b.doc_id, b.lang,
       |    CAST(floor(ln(
       |      COALESCE(CAST('$LmLambda' AS DOUBLE) * CAST(c12.c12 AS DOUBLE)
       |        / CAST(u1.c AS DOUBLE), 0.0)
       |      + CAST('${1.0 - LmLambda}' AS DOUBLE)
       |        * CAST(COALESCE(u2.c, 0) + 1 AS DOUBLE)
       |        / CAST(tt + vv AS DOUBLE)
       |    ) * 1e6 + 0.5) AS BIGINT) AS lp6
       |  FROM big b
       |  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
       |  LEFT JOIN uni u1 ON b.w1 = u1.tok
       |  LEFT JOIN uni u2 ON b.w2 = u2.tok, tot
       |  WHERE b.doc_id % 2 = 1
       |), ag AS (
       |  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(lp6) AS BIGINT) AS sum_lp6
       |  FROM sc GROUP BY doc_id, lang
       |), fin AS (
       |  SELECT doc_id, lang, n_bigrams, sum_lp6,
       |    CAST(sum_lp6 AS DOUBLE) / 1e6 / n_bigrams AS avg_logprob
       |  FROM ag
       |)
       |SELECT doc_id, lang, n_bigrams, sum_lp6, avg_logprob,
       |  CASE WHEN pr < CAST(1 AS DOUBLE)/3 THEN 'head'
       |       WHEN pr < CAST(2 AS DOUBLE)/3 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM (SELECT *, percent_rank() OVER (
       |        PARTITION BY lang ORDER BY avg_logprob DESC) AS pr
       |      FROM fin)
       |ORDER BY doc_id""".stripMargin

  /** Heavy-hitter threshold denominator: report tokens with corpus
    * frequency strictly above N/[[HeavyK]]. */
  val HeavyK = 100

  /** q111 — exact heavy hitters via Misra-Gries candidate pruning
    * ([[graft.operators.HeavyHitters]]): every token with frequency >
    * N/[[HeavyK]], with its exact count. The MG phase only PRUNES (its
    * candidate union provably contains every true heavy hitter), so the
    * output equals the oracle's brute-force count — which is exactly why
    * it gates: approximate machinery, exact contract.
    *
    * Scale shape: two map-side passes over the token stream (k-counter MG
    * mine, then a broadcast-semi-join-filtered recount); the only
    * shuffles are candidate-sized (≤ k·partitions rows). The full token
    * multiset is never exchanged — at 100 TB that is the entire game. */
  def q111HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.HeavyHitters
    val toks = Tables.documents(s, dir)
      .select(explode(split(Text.normalize(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("tok")).as[String]
    HeavyHitters.frequentItems(toks, HeavyK)
      .withColumnRenamed("item", "tok")
      .orderBy(col("tok"))
  }

  val oracleQ111: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |  FROM documents
       |), toks2 AS (
       |  SELECT tok FROM toks WHERE len(tok) > 0
       |), tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks2
       |)
       |SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
       |FROM toks2 GROUP BY tok
       |HAVING CAST(COUNT(*) AS BIGINT) * $HeavyK > (SELECT n FROM tot)
       |ORDER BY tok""".stripMargin

  /** q147 — exact tie-adjusted Mann-Whitney AUC per source: how well does
    * a ranking signal (here document length) separate a binary label (here
    * lang = 'en')? The standard evaluation for the quality classifiers the
    * q130/q136 family trains — and the statistic every data-curation
    * report cards (filter thresholds, classifier cutoffs) hang on.
    *
    * Exactness: AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) with midrank ties. All
    * arithmetic rides INTEGER carriers: per (source, score) group counts,
    * a running "strictly below" prefix count, and 2·R⁺ = Σ n⁺ᵍ(2·below +
    * n + 1) — the ½ in midranks cancels against the doubling, so the
    * numerator 2R⁺ − n⁺(n⁺+1) is an exact BIGINT and the final double is
    * one division, bit-identical across engines.
    *
    * Scale shape: rows collapse to (source, score) groups FIRST (map-side
    * combined — the full corpus never feeds a window), the prefix sum runs
    * over the per-source DISTINCT-score relation (bounded by score
    * cardinality, not row count), and the rollup is one tiny per-source
    * aggregation. No global sort anywhere. */
  def q147Auc(s: SparkSession, dir: String): DataFrame =
    aucBySource(Tables.documents(s, dir)
      .select(col("source"), col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos")))

  /** Exact midrank AUC per `source` group of a (source, score, pos) frame
    * (pos ∈ {0,1}); see [[q147Auc]] for the integer-carrier derivation. */
  def aucBySource(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = d.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
    val w = Window.partitionBy(col("source")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val a = g.withColumn("below", coalesce(sum(col("n")).over(w), lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("np") * (lit(2L) * col("below") + col("n") + lit(1L)))
          .as("r2"),
        sum(col("np")).as("npos"),
        (sum(col("n")) - sum(col("np"))).as("nneg"))
    a.select(col("source"), col("npos"), col("nneg"),
        (col("r2") - col("npos") * (col("npos") + lit(1L))).as("auc_num2"),
        when(col("npos") > 0 && col("nneg") > 0,
          (col("r2") - col("npos") * (col("npos") + lit(1L))).cast("double")
            / (lit(2L) * col("npos") * col("nneg")).cast("double"))
          .as("auc"))
      .orderBy(col("source"))
  }

  val oracleQ147: String =
    """WITH d AS (
      |  SELECT source, n_chars AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents
      |), g AS (
      |  SELECT source, score, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(pos) AS BIGINT) AS np
      |  FROM d GROUP BY source, score
      |), w AS (
      |  SELECT source, score, n, np,
      |    COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      |  FROM g
      |), a AS (
      |  SELECT source,
      |    CAST(SUM(np * (2 * below + n + 1)) AS BIGINT) AS r2,
      |    CAST(SUM(np) AS BIGINT) AS npos,
      |    CAST(SUM(n) - SUM(np) AS BIGINT) AS nneg
      |  FROM w GROUP BY source
      |)
      |SELECT source, npos, nneg,
      |  CAST(r2 - npos * (npos + 1) AS BIGINT) AS auc_num2,
      |  CASE WHEN npos > 0 AND nneg > 0 THEN
      |    CAST(r2 - npos * (npos + 1) AS DOUBLE)
      |      / CAST(2 * npos * nneg AS DOUBLE) END AS auc
      |FROM a ORDER BY source""".stripMargin

  /** q154 — per-document CHARACTER-ENTROPY quality signal: Shannon
    * entropy (bits/char) of each doc's codepoint distribution — the
    * cheap compression-proxy filter (RefinedWeb/Dolma-style) that kills
    * base64 blobs, key-mash gibberish (entropy too high for prose) and
    * run-on repetition (too low) without a model. Complements the lexical
    * q13/q70 gates and the model-based q72/q100 scores.
    *
    * Exactness: H = ln N − (Σ cᵢ·ln cᵢ)/N. Each ln is quantized to the
    * repo's floor(x·10⁶ + ½) BIGINT convention BEFORE the order-dependent
    * sum, so Σ cᵢ·l6(cᵢ) is an exact integer; bits/char divides by an
    * embedded ln 2 literal (cross-engine transcendental discipline). The
    * final doubles are two divisions and one subtraction in pinned order.
    *
    * Scale shape: one map-side-combined (doc, char) count, one per-doc
    * rollup — linear, no windows, nothing pairwise. */
  def q154CharEntropy(s: SparkSession, dir: String): DataFrame = {
    val ln2 = "CAST('0.6931471805599453' AS DOUBLE)"
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars_used"),
        count(lit(1)).as("distinct_chars"),
        sum(col("c") *
          floor(log(col("c").cast("double")) * lit(1e6) + lit(0.5))
            .cast("long")).as("sum_cl6"))
      .withColumn("entropy_bits",
        (floor(log(col("n_chars_used").cast("double")) * lit(1e6)
            + lit(0.5)).cast("long").cast("double")
          - col("sum_cl6").cast("double") / col("n_chars_used"))
          / lit(1e6) / expr(ln2))
      .orderBy(col("doc_id"))
  }

  val oracleQ154: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
      |), cc AS (
      |  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM ch WHERE len(ch) > 0 GROUP BY doc_id, ch
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars_used,
      |    CAST(COUNT(*) AS BIGINT) AS distinct_chars,
      |    CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS sum_cl6
      |  FROM cc GROUP BY doc_id
      |)
      |SELECT doc_id, n_chars_used, distinct_chars, sum_cl6,
      |  (CAST(CAST(floor(ln(CAST(n_chars_used AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT) AS DOUBLE)
      |    - CAST(sum_cl6 AS DOUBLE) / n_chars_used)
      |    / 1e6 / CAST('0.6931471805599453' AS DOUBLE) AS entropy_bits
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Cut mask for q156 (cut when h mod 32 = 0 → expected chunk ≈ 32
    * chars at the gate corpus's alphabet). */
  val CdcMask = 32L

  /** q156 — content-defined chunking (gear rolling hash, the
    * FastCDC/LBFS family): chunk boundaries fall where the rolling hash
    * h_i = (2·h_{i−1} + gear(c_i)) mod 2³² hits h ≡ 0 (mod [[CdcMask]]),
    * so boundaries depend on CONTENT, not offsets — an insertion shifts
    * at most the chunk it lands in, which is what makes CDC the standard
    * primitive for storage-level dedup and delta-sync of large corpora
    * (a fixed-width chunker would re-chunk everything after the edit).
    *
    * Exactness: gear(c) = (codepoint·2654435761) mod 2³² and the
    * recurrence are pure integer math. Spark computes the fold as ONE
    * map-side `aggregate` higher-order expression per doc (sequential by
    * construction — rolling hashes are the textbook case where a
    * per-element fold, not a parallel reduction, is semantically
    * required); the oracle replays the identical recurrence as a
    * per-position recursive CTE. ASCII corpus contract: Spark's
    * `ascii(c)` equals DuckDB's `unicode(c)` on codepoints < 128 (the
    * gate corpus); a non-ASCII corpus would swap in a codepoint
    * expression on the Spark side.
    *
    * Scale shape: entirely map-side per document (the fold carries
    * O(cuts) state, no shuffle at all before the final sort); row fan-out
    * is one row per chunk. */
  def q156CdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunks(Tables.documents(s, dir))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Gear-CDC chunk table for a (doc_id, text) frame — see [[q156CdcChunks]]. */
  def cdcChunks(docs: DataFrame): DataFrame = {
    val codes = expr(
      """transform(filter(split(text, ''), c -> length(c) > 0),
        |  c -> (ascii(c) * 2654435761) % 4294967296)""".stripMargin)
    val folded = expr(
      s"""aggregate(
         |  transform(__codes, (g, i) ->
         |    named_struct('g', g, 'i', CAST(i + 1 AS BIGINT))),
         |  named_struct('h', CAST(0 AS BIGINT),
         |    'cuts', CAST(array() AS ARRAY<BIGINT>)),
         |  (acc, x) -> named_struct(
         |    'h', (acc.h * 2 + x.g) % 4294967296,
         |    'cuts', CASE WHEN ((acc.h * 2 + x.g) % 4294967296) % $CdcMask = 0
         |            THEN concat(acc.cuts, array(x.i))
         |            ELSE acc.cuts END))""".stripMargin)
    val ends = expr(
      """CASE WHEN size(__cuts) = 0 OR element_at(__cuts, -1) != __n
        |     THEN concat(__cuts, array(__n)) ELSE __cuts END""".stripMargin)
    val chunks = expr(
      """transform(__ends, (e, i) -> named_struct(
        |  'chunk_idx', CAST(i + 1 AS BIGINT),
        |  'start_pos', CASE WHEN i = 0 THEN CAST(1 AS BIGINT)
        |               ELSE element_at(__ends, i) + 1 END,
        |  'end_pos', e))""".stripMargin)
    docs
      .select(col("doc_id"), codes.as("__codes"))
      .filter(size(col("__codes")) > 0)
      .select(col("doc_id"), folded.as("__f"),
        size(col("__codes")).cast("long").as("__n"))
      .select(col("doc_id"), col("__f.cuts").as("__cuts"), col("__n"))
      .select(col("doc_id"), ends.as("__ends"))
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.start_pos"),
        col("c.end_pos"),
        (col("c.end_pos") - col("c.start_pos") + 1L).as("chunk_len"))
  }

  val oracleQ156: String =
    s"""WITH RECURSIVE chars AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(cs, 1) AS i, unnest(cs) AS ch
       |  FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents)
       |), codes AS MATERIALIZED (
       |  SELECT doc_id, i, (unicode(ch) * 2654435761) % 4294967296 AS g
       |  FROM chars WHERE len(ch) > 0
       |), rec(doc_id, i, h) AS (
       |  SELECT doc_id, i, g FROM codes WHERE i = 1
       |  UNION ALL
       |  SELECT c.doc_id, c.i, (r.h * 2 + c.g) % 4294967296
       |  FROM rec r JOIN codes c ON c.doc_id = r.doc_id AND c.i = r.i + 1
       |), cutrows AS (
       |  SELECT doc_id, i AS e FROM rec WHERE h % $CdcMask = 0
       |), lens AS (
       |  SELECT doc_id, CAST(MAX(i) AS BIGINT) AS n FROM rec GROUP BY doc_id
       |), ends AS (
       |  SELECT doc_id, e FROM cutrows
       |  UNION ALL
       |  SELECT l.doc_id, l.n FROM lens l
       |  LEFT JOIN (SELECT doc_id, MAX(e) AS me FROM cutrows
       |             GROUP BY doc_id) m USING (doc_id)
       |  WHERE m.me IS NULL OR m.me < l.n
       |)
       |SELECT doc_id,
       |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS chunk_idx,
       |  CAST(COALESCE(LAG(e) OVER w, 0) + 1 AS BIGINT) AS start_pos,
       |  CAST(e AS BIGINT) AS end_pos,
       |  CAST(e - COALESCE(LAG(e) OVER w, 0) AS BIGINT) AS chunk_len
       |FROM ends
       |WINDOW w AS (PARTITION BY doc_id ORDER BY e)
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Frequency rows reported per source by q171. */
  val GtMaxR = 5

  /** q171 — GOOD-TURING count-of-counts per source: N_r = number of token
    * types occurring exactly r times, the Good-Turing adjusted count
    * r* = (r+1)·N_{r+1}/N_r, and the unseen-probability-mass estimate
    * N_1/n_tokens — the classical smoothing statistic (and the "how much
    * vocabulary haven't we crawled yet" species-richness estimate corpus
    * reports quote). Hapax ratio N_1/n_types rides alongside as the
    * lexical-diversity signal.
    *
    * Exactness: two nested exact counts (type frequencies, then counts
    * of counts); the r-star, mass and hapax columns are single pinned
    * divisions.
    * Scale shape: one (source, token) map-side-combined count, one
    * (source, r) rollup — never more than one corpus-sized shuffle. */
  def q171GoodTuring(s: SparkSession, dir: String): DataFrame = {
    // TRIGRAM types: the unigram vocabulary saturates at sf0.1 (every
    // type's r > GtMaxR → empty report); token 3-grams keep a live
    // N_1..N_5 tail at both gate scales, which is also the realistic
    // regime Good-Turing exists for
    val freq = Tables.documents(s, dir)
      .select(col("source"),
        filter(split(Text.normalize(col("text")), " "),
          t => length(t) > 0).as("ta"))
      .filter(size(col("ta")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ta) - 2), i -> concat(" +
          "element_at(ta, i), ' ', element_at(ta, i + 1), ' ', " +
          "element_at(ta, i + 2)))")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("r"))
    Materialize.withMaterialized(freq) { f =>
      val coc = f.filter(col("r") <= GtMaxR)
        .groupBy(col("source"), col("r"))
        .agg(count(lit(1)).as("n_r"))
      val tot = f.groupBy(col("source"))
        .agg(sum(col("r")).as("n_tokens"), count(lit(1)).as("n_types"))
      val next = coc.select(col("source"), (col("r") - 1).as("r"),
        col("n_r").as("n_r1"))
      Materialize.sorted(coc.join(next, Seq("source", "r"), "left")
        .join(tot, Seq("source"))
        .select(col("source"), col("r"), col("n_r"),
          col("n_tokens"), col("n_types"),
          when(col("n_r1").isNotNull,
            (col("r") + 1).cast("double") * col("n_r1").cast("double")
              / col("n_r").cast("double")).as("r_star"),
          when(col("r") === 1,
            col("n_r").cast("double") / col("n_tokens").cast("double"))
            .as("unseen_mass"),
          when(col("r") === 1,
            col("n_r").cast("double") / col("n_types").cast("double"))
            .as("hapax_ratio")), col("source"), col("r"))
    }
  }

  val oracleQ171: String =
    s"""WITH ta AS (
       |  SELECT source, list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    t -> len(t) > 0) AS ts
       |  FROM documents
       |), freq AS (
       |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS r
       |  FROM (
       |    SELECT source, unnest(list_transform(range(1, len(ts) - 1),
       |      i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS tok
       |    FROM ta WHERE len(ts) >= 3
       |  )
       |  GROUP BY source, tok
       |), coc AS (
       |  SELECT source, r, CAST(COUNT(*) AS BIGINT) AS n_r
       |  FROM freq WHERE r <= $GtMaxR GROUP BY source, r
       |), tot AS (
       |  SELECT source, CAST(SUM(r) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_types
       |  FROM freq GROUP BY source
       |)
       |SELECT c.source, c.r, c.n_r, t.n_tokens, t.n_types,
       |  CASE WHEN nx.n_r IS NOT NULL THEN
       |    CAST(c.r + 1 AS DOUBLE) * CAST(nx.n_r AS DOUBLE)
       |      / CAST(c.n_r AS DOUBLE) END AS r_star,
       |  CASE WHEN c.r = 1 THEN
       |    CAST(c.n_r AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) END
       |    AS unseen_mass,
       |  CASE WHEN c.r = 1 THEN
       |    CAST(c.n_r AS DOUBLE) / CAST(t.n_types AS DOUBLE) END
       |    AS hapax_ratio
       |FROM coc c
       |LEFT JOIN coc nx ON nx.source = c.source AND nx.r = c.r + 1
       |JOIN tot t ON t.source = c.source
       |ORDER BY c.source, c.r""".stripMargin

  /** q172 — species-RICHNESS summary per source over the q171 trigram
    * type space: observed types, Chao1 richness estimate
    * S + N₁²/(2·N₂) (how many types exist INCLUDING unseen ones), and
    * Good's coverage C = 1 − N₁/n (what fraction of the source's true
    * type mass the crawl has already seen) — the "is more crawling worth
    * it" answer corpus planners actually ask. Same two nested exact
    * counts as q171; estimates are single pinned divisions. */
  def q172Richness(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(col("source"),
        filter(split(Text.normalize(col("text")), " "),
          t => length(t) > 0).as("ta"))
      .filter(size(col("ta")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ta) - 2), i -> concat(" +
          "element_at(ta, i), ' ', element_at(ta, i + 1), ' ', " +
          "element_at(ta, i + 2)))")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("r"))
    freq.groupBy(col("source"))
      .agg(sum(col("r")).as("n_tokens"), count(lit(1)).as("s_obs"),
        sum(when(col("r") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("r") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("source"), col("n_tokens"), col("s_obs"), col("n1"),
        col("n2"),
        when(col("n2") > 0, col("s_obs").cast("double")
          + col("n1").cast("double") * col("n1").cast("double")
            / (lit(2.0) * col("n2").cast("double"))).as("chao1"),
        (lit(1.0) - col("n1").cast("double")
          / col("n_tokens").cast("double")).as("coverage"))
      .orderBy(col("source"))
  }

  val oracleQ172: String =
    """WITH ta AS (
      |  SELECT source, list_filter(string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
      |    t -> len(t) > 0) AS ts
      |  FROM documents
      |), freq AS (
      |  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS r
      |  FROM (
      |    SELECT source, unnest(list_transform(range(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS tok
      |    FROM ta WHERE len(ts) >= 3
      |  )
      |  GROUP BY source, tok
      |), agg AS (
      |  SELECT source, CAST(SUM(r) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS s_obs,
      |    CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM freq GROUP BY source
      |)
      |SELECT source, n_tokens, s_obs, n1, n2,
      |  CASE WHEN n2 > 0 THEN CAST(s_obs AS DOUBLE)
      |    + CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
      |      / (2.0 * CAST(n2 AS DOUBLE)) END AS chao1,
      |  1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS coverage
      |FROM agg ORDER BY source""".stripMargin

  /** q173 — HEAPS'-LAW vocabulary-growth fit per source: V(n) ≈ K·n^β
    * estimated by OLS on (ln n, ln V) over the source's cumulative
    * (tokens-seen, types-seen) curve — the growth-law companion to
    * q142's Zipf rank-frequency fit and the model behind q172's "how
    * much vocabulary is left" question. The cumulative type count
    * needs no per-prefix sets: each type contributes at its FIRST doc
    * (one min-aggregation), and V is a running sum of first-occurrence
    * counts in doc order.
    *
    * Same discipline as q142: per-point lns quantized to
    * floor(x·10⁶+½) BIGINTs before the order-dependent sums; slope and
    * intercept assembled from exact integer moments in one pinned
    * expression shape. */
  def q173HeapsFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        filter(split(Text.normalize(col("text")), " "),
          t => length(t) > 0).as("ta"))
      // sub-trigram docs contribute neither tokens nor types to the growth
      // curve — mirrors the oracle's len(ta) >= 3 on BOTH consumers (the
      // gate corpus has no such docs, but the cross-engine contract must
      // not depend on that)
      .filter(size(col("ta")) >= 3)
    Materialize.withMaterialized(docs) { d =>
      val perDoc = d.select(col("source"), col("doc_id"),
        size(col("ta")).cast("long").as("n_d"))
      val firstDoc = d
        .select(col("source"), col("doc_id"), explode(col("ta")).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(min(col("doc_id")).as("fd"))
        .groupBy(col("source"), col("fd"))
        .agg(count(lit(1)).as("nt"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = perDoc
        .join(firstDoc.withColumnRenamed("fd", "doc_id"),
          Seq("source", "doc_id"), "left")
        .withColumn("v", sum(coalesce(col("nt"), lit(0L))).over(w))
        .withColumn("n", sum(col("n_d")).over(w))
        .filter(col("v") > 0 && col("n") > 0)
        .select(col("source"),
          floor(log(col("n").cast("double")) * lit(1e6) + lit(0.5))
            .cast("long").as("x6"),
          floor(log(col("v").cast("double")) * lit(1e6) + lit(0.5))
            .cast("long").as("y6"))
      val slope =
        (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")
      Materialize.pin(curve.groupBy(col("source"))
        .agg(count(lit(1)).as("m"), sum(col("x6")).as("sx"),
          sum(col("y6")).as("sy"), sum(col("x6") * col("y6")).as("sxy"),
          sum(col("x6") * col("x6")).as("sxx"))
        .select(col("source"), col("m").as("n_points"),
          slope.as("beta"),
          ((col("sy").cast("double") - slope * col("sx").cast("double"))
            / (col("m").cast("double") * lit(1e6))).as("ln_k")))
        .orderBy(col("source"))
    }
  }

  val oracleQ173: String =
    """WITH d AS (
      |  SELECT source, doc_id, list_filter(string_split(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
      |    t -> len(t) > 0) AS ta
      |  FROM documents
      |), perdoc AS (
      |  -- len(ta) >= 3 mirrors the Spark side's size(ta) >= 3 filter:
      |  -- sub-trigram docs contribute neither tokens nor types to the
      |  -- growth curve (latent divergence otherwise — the gate corpus
      |  -- never has such docs, but the contract must match anyway)
      |  SELECT source, doc_id, CAST(len(ta) AS BIGINT) AS n_d FROM d
      |  WHERE len(ta) >= 3
      |), fd AS (
      |  SELECT source, fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS nt
      |  FROM (
      |    SELECT source, tok, MIN(doc_id) AS fd
      |    FROM (SELECT source, doc_id, unnest(ta) AS tok FROM d
      |          WHERE len(ta) >= 3)
      |    GROUP BY source, tok
      |  ) GROUP BY source, fd
      |), curve AS (
      |  SELECT p.source,
      |    CAST(floor(ln(CAST(SUM(p.n_d) OVER w AS DOUBLE)) * 1e6 + 0.5)
      |      AS BIGINT) AS x6,
      |    CAST(floor(ln(CAST(SUM(COALESCE(f.nt, 0)) OVER w AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS y6,
      |    SUM(COALESCE(f.nt, 0)) OVER w AS v,
      |    SUM(p.n_d) OVER w AS n
      |  FROM perdoc p LEFT JOIN fd f USING (source, doc_id)
      |  WINDOW w AS (PARTITION BY p.source ORDER BY p.doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), mom AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(x6) AS BIGINT) AS sx, CAST(SUM(y6) AS BIGINT) AS sy,
      |    CAST(SUM(x6 * y6) AS BIGINT) AS sxy,
      |    CAST(SUM(x6 * x6) AS BIGINT) AS sxx
      |  FROM curve WHERE v > 0 AND n > 0 GROUP BY source
      |)
      |SELECT source, m AS n_points,
      |  CAST(m * sxy - sx * sy AS DOUBLE)
      |    / CAST(m * sxx - sx * sx AS DOUBLE) AS beta,
      |  (CAST(sy AS DOUBLE)
      |    - CAST(m * sxy - sx * sy AS DOUBLE)
      |      / CAST(m * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / (CAST(m AS DOUBLE) * 1e6) AS ln_k
      |FROM mom ORDER BY source""".stripMargin

  /** q174 — QUANTILE NORMALIZATION of a per-doc score across sources:
    * replace each doc's source-local score with the GLOBAL score at the
    * same quantile — the batch-effect remover that makes "top 10% by
    * quality" mean the same thing in every source before a global
    * threshold is applied (a length/quality cutoff tuned on one crawl
    * otherwise over-filters another).
    *
    * Exact integer contract: source rank r_s (row_number by (score,
    * doc_id)), target global position p = ⌈r_s·N / n_s⌉ in pure integer
    * arithmetic ((r_s·N + n_s − 1) DIV n_s), and the normalized value is
    * the global order statistic at p — a join on integer positions, no
    * interpolation convention to align.
    *
    * Scale shape: one source-partitioned rank + one global rank (at
    * 100 TB the global rank becomes q64's two-phase prefix-sum shape —
    * the single-partition window here is the gate-scale special case)
    * and one position-keyed equi-join. */
  def q174QuantileNorm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars").as("score"))
    Materialize.withMaterialized(d) { dm =>
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(col("score"), col("doc_id"))
      val wGlob = Window.orderBy(col("score"), col("doc_id"))
      val withRanks = dm
        .withColumn("rs", row_number().over(wSrc).cast("long"))
        .withColumn("ns", count(lit(1)).over(
          Window.partitionBy(col("source"))))
      val globalOrd = dm
        .select(col("score").as("gscore"),
          row_number().over(wGlob).cast("long").as("p"))
      val n = dm.agg(count(lit(1)).as("nn"))
      Materialize.sorted(withRanks.crossJoin(broadcast(n))
        .withColumn("p", expr("(rs * nn + ns - 1) DIV ns"))
        .join(globalOrd, Seq("p"))
        .select(col("doc_id"), col("source"), col("score"),
          col("rs"), col("p"), col("gscore").as("norm_score")), col("doc_id"))
    }
  }

  val oracleQ174: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars AS score FROM documents
      |), r AS (
      |  SELECT doc_id, source, score,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY score, doc_id) AS BIGINT) AS rs,
      |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ns,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS nn
      |  FROM d
      |), g AS (
      |  SELECT score AS gscore,
      |    CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT) AS p
      |  FROM d
      |)
      |SELECT r.doc_id, r.source, r.score, r.rs,
      |  (r.rs * r.nn + r.ns - 1) // r.ns AS p,
      |  g.gscore AS norm_score
      |FROM r JOIN g ON g.p = (r.rs * r.nn + r.ns - 1) // r.ns
      |ORDER BY r.doc_id""".stripMargin

  /** q175 — exact two-sample KOLMOGOROV-SMIRNOV drift test per source:
    * D = max over the score grid of |F_source(x) − F_rest(x)|, each
    * source's length distribution against the rest of the corpus — the
    * nonparametric drift test that catches SHAPE changes the mean-based
    * q114 Welch t and the binned q84 KL smooth over. Carried as the
    * exact integer rational |i·m − j·n| over (n·m): the max numerator is
    * a BIGINT, so the statistic is bit-exact and the only double is the
    * final division.
    *
    * Scale shape: one (source, score) count, a per-source cumulative
    * window over the DISTINCT-score grid (bounded by score cardinality,
    * never corpus rows — the same collapse as q147's AUC), one global
    * cumulative joined in, one per-source max. */
  def q175KsTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").as("score"))
    Materialize.withMaterialized(
      d.groupBy(col("source"), col("score")).agg(count(lit(1)).as("c"))
    ) { counts =>
      val grid = counts.select(col("source")).distinct()
        .crossJoin(counts.select(col("score")).distinct())
      val wCum = Window.partitionBy(col("source")).orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumSrc = grid.join(counts, Seq("source", "score"), "left")
        .withColumn("i", sum(coalesce(col("c"), lit(0L))).over(wCum))
      val globCum = counts.groupBy(col("score")).agg(sum(col("c")).as("gc"))
        .withColumn("tot", sum(col("gc")).over(
          Window.orderBy(col("score"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("score"), col("tot"))
      val nPer = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val nAll = counts.agg(sum(col("c")).as("nn"))
      Materialize.pin(cumSrc
        .join(globCum, Seq("score"))
        .join(nPer, Seq("source"))
        .crossJoin(broadcast(nAll))
        .withColumn("m", col("nn") - col("n"))
        .withColumn("j", col("tot") - col("i"))
        .groupBy(col("source"))
        .agg(max(col("n")).as("n"), max(col("m")).as("m"),
          max(abs(col("i") * col("m") - col("j") * col("n"))).as("d_num"))
        .withColumn("ks",
          col("d_num").cast("double") / (col("n") * col("m")).cast("double")))
        .orderBy(col("source"))
    }
  }

  val oracleQ175: String =
    """WITH d AS (
      |  SELECT source, n_chars AS score FROM documents
      |), counts AS (
      |  SELECT source, score, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM d GROUP BY source, score
      |), grid AS (
      |  SELECT s.source, x.score
      |  FROM (SELECT DISTINCT source FROM counts) s
      |  CROSS JOIN (SELECT DISTINCT score FROM counts) x
      |), cums AS (
      |  SELECT g.source, g.score,
      |    SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.source
      |      ORDER BY g.score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i
      |  FROM grid g LEFT JOIN counts c
      |    ON c.source = g.source AND c.score = g.score
      |), gcum AS (
      |  SELECT score, SUM(gc) OVER (ORDER BY score
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tot
      |  FROM (SELECT score, CAST(SUM(c) AS BIGINT) AS gc FROM counts
      |        GROUP BY score)
      |), nper AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM counts
      |  GROUP BY source
      |), nall AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS nn FROM counts
      |)
      |SELECT cu.source, MAX(np.n) AS n, MAX(na.nn - np.n) AS m,
      |  CAST(MAX(ABS(cu.i * (na.nn - np.n) - (gl.tot - cu.i) * np.n))
      |    AS BIGINT) AS d_num,
      |  CAST(MAX(ABS(cu.i * (na.nn - np.n) - (gl.tot - cu.i) * np.n))
      |    AS DOUBLE) / CAST(MAX(np.n) * MAX(na.nn - np.n) AS DOUBLE) AS ks
      |FROM cums cu
      |JOIN gcum gl ON gl.score = cu.score
      |JOIN nper np ON np.source = cu.source
      |CROSS JOIN nall na
      |GROUP BY cu.source ORDER BY cu.source""".stripMargin

  /** Epochs materialized by the q167 shuffle manifest. */
  val ShuffleEpochs = 2

  /** q167 — per-epoch deterministic SHUFFLE manifest: the (epoch, step,
    * doc) ordering a training run actually consumes — every epoch is an
    * independent pseudorandom permutation (seeded by epoch number, so
    * the run is bit-reproducible AND no two epochs present the data in
    * the same order, the property replay-debugging and loss-spike
    * forensics depend on). Permutation key = the corpus md5-h60
    * convention over "epoch:doc_id"; step = rank within epoch.
    *
    * Scale shape: keying is map-side; each epoch's rank is one
    * sort-based window over the epoch partition — at real scale the
    * manifest writer becomes the q64 two-phase prefix-sum shape, and the
    * window here is the per-epoch special case of it (epochs are the
    * partitions). */
  def q167ShuffleManifest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val epochs = s.range(ShuffleEpochs).withColumnRenamed("id", "epoch")
    val keyed = Tables.documents(s, dir).select(col("doc_id"))
      .crossJoin(broadcast(epochs))
      .withColumn("h", conv(substring(md5(
        concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long"))
    keyed
      .withColumn("step", row_number().over(Window.partitionBy(col("epoch"))
        .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select(col("epoch"), col("step"), col("doc_id"), col("h"))
      .orderBy(col("epoch"), col("step"))
  }

  val oracleQ167: String =
    s"""WITH keyed AS (
       |  SELECT e.epoch, d.doc_id,
       |    CAST('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':'
       |      || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(range(0, $ShuffleEpochs)) AS epoch) e
       |)
       |SELECT epoch, CAST(row_number() OVER (PARTITION BY epoch
       |    ORDER BY h, doc_id) AS BIGINT) AS step,
       |  doc_id, h
       |FROM keyed ORDER BY epoch, step""".stripMargin

  /** q166 — dataset SNAPSHOT DIFF audit: classify every doc across two
    * corpus versions as added / removed / changed / unchanged, with
    * field-level attribution for the changed rows — the release-notes
    * artifact every versioned-dataset publish pipelines (and the audit
    * that catches a silently mutated shard between dumps). Version B is
    * derived deterministically in both engines (mod-7 drops, mod-11 text
    * edits, mod-13 lang remaps, mod-17 additions under shifted ids), so
    * the full-outer-join classification and the changed-field lists are
    * exactly reproducible.
    *
    * Scale shape: one full-outer equi-join on the key plus map-side
    * field comparisons — the diff never materializes anything but the
    * classified rows. */
  def q166SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"))
    val base = Tables.documents(s, dir)
    val bKept = base.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"),
        when(col("doc_id") % 13 === 0, lit("xx"))
          .otherwise(col("lang")).as("lang"))
    val bNew = base.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        col("lang"))
    val b = bKept.unionByName(bNew)
    a.select(col("doc_id"), col("text").as("ta"), col("lang").as("la"))
      .join(b.select(col("doc_id"), col("text").as("tb"),
        col("lang").as("lb")), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("ta").isNull, "added")
          .when(col("tb").isNull, "removed")
          .when(col("ta") === col("tb") && col("la") === col("lb"),
            "unchanged")
          .otherwise("changed").as("status"),
        when(col("ta").isNotNull && col("tb").isNotNull,
          concat_ws(",",
            when(col("la") =!= col("lb"), lit("lang")),
            when(col("ta") =!= col("tb"), lit("text"))))
          .as("changed_fields"))
      .orderBy(col("doc_id"))
  }

  val oracleQ166: String =
    """WITH a AS (
      |  SELECT doc_id, text AS ta, lang AS la FROM documents
      |), b AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS tb,
      |    CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lb
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 100000, text, lang FROM documents
      |  WHERE doc_id % 17 = 0
      |)
      |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |  CASE WHEN a.doc_id IS NULL THEN 'added'
      |       WHEN b.doc_id IS NULL THEN 'removed'
      |       WHEN ta = tb AND la = lb THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  CASE WHEN a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL THEN
      |    concat_ws(',',
      |      CASE WHEN la <> lb THEN 'lang' END,
      |      CASE WHEN ta <> tb THEN 'text' END) END AS changed_fields
      |FROM a FULL JOIN b ON a.doc_id = b.doc_id
      |ORDER BY doc_id""".stripMargin

  /** q163 — CALIBRATION curve (reliability diagram): bucket a
    * probability-like score into deciles and compare mean predicted
    * probability against the empirical positive rate per bucket — the
    * standard companion to q147's AUC (AUC measures discrimination;
    * calibration measures whether 0.8 MEANS 80%), plus the expected
    * calibration error (ECE) carriers. Score: a logistic link over
    * document length, p = σ((n_chars − 150)/50); label: lang = 'en'.
    *
    * Exactness: the transcendental σ is quantized ONCE to p6 =
    * floor(p·10⁶ + ½) per row (the repo's post-transcendental
    * discipline), after which buckets, sums and positive counts are
    * exact integers; the two means are final pinned divisions.
    *
    * Scale shape: one map-side projection + one ≤10-group aggregation. */
  def q163Calibration(s: SparkSession, dir: String): DataFrame = {
    val p6 = floor(lit(1e6) /
      (lit(1.0) + exp(-(col("n_chars").cast("double") - lit(150.0))
        / lit(50.0))) + lit(0.5)).cast("long")
    Tables.documents(s, dir)
      .select(when(col("lang") === "en", 1L).otherwise(0L).as("pos"),
        p6.as("p6"))
      .withColumn("bucket", least(expr("p6 DIV 100000"), lit(9L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("p6")).as("sum_p6"),
        sum(col("pos")).as("n_pos"))
      .select(col("bucket"), col("n"), col("sum_p6"), col("n_pos"),
        (col("sum_p6").cast("double") / lit(1e6) / col("n"))
          .as("mean_pred"),
        (col("n_pos").cast("double") / col("n")).as("pos_rate"))
      .orderBy(col("bucket"))
  }

  val oracleQ163: String =
    """WITH scored AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
      |    CAST(floor(1e6 / (1.0 + exp(-(CAST(n_chars AS DOUBLE) - 150.0)
      |      / 50.0)) + 0.5) AS BIGINT) AS p6
      |  FROM documents
      |), b AS (
      |  SELECT least(p6 // 100000, 9) AS bucket, pos, p6 FROM scored
      |)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(p6) AS BIGINT) AS sum_p6,
      |  CAST(SUM(pos) AS BIGINT) AS n_pos,
      |  CAST(SUM(p6) AS DOUBLE) / 1e6 / COUNT(*) AS mean_pred,
      |  CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS pos_rate
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Retained minima per source for the q161 KMV sketch. */
  val KmvK = 32

  /** q161 — KMV (k-minimum-values) DISTINCT sketch per source: retain
    * the [[KmvK]] smallest 60-bit token hashes; the k-th minimum m_k
    * estimates the distinct count as (k−1)·2⁶⁰/m_k (Bar-Yossef et al.
    * 2002) — the order-statistics cousin of the q82 HLL (HLL: fixed
    * 2^p registers, union-mergeable; KMV: k values, ALSO intersectable
    * — the sketch you keep when cross-source overlap estimates matter).
    * Sources with fewer than k distinct hashes fall back to the exact
    * count (the standard KMV rule), so the gate exercises both paths if
    * any source is small; the estimate column pins the error the sketch
    * actually makes against the exact count carried alongside.
    *
    * Exactness: minima and counts are exact integers from one
    * (source, h60) distinct + one per-source rank; the estimate is a
    * single pinned-double expression. Scale shape: the distinct is the
    * only corpus-sized shuffle; the rank runs per source and
    * WindowGroupLimit prunes to k rows per source before the rollup. */
  def q161KmvSketch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h60 = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        explode(split(Text.normalize(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("source"), h60.as("h"))
      .distinct()
    Materialize.withMaterialized(toks) { t =>
      val exact = t.groupBy(col("source"))
        .agg(count(lit(1)).as("exact_distinct"))
      val rn = row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h")))
      val minima = t.withColumn("rn", rn).filter(col("rn") <= KmvK)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_mins"),
          max(when(col("rn") === KmvK, col("h"))).as("kth_min"))
      val two60 = "CAST('1152921504606846976' AS DOUBLE)"
      Materialize.pin(minima.join(exact, Seq("source"))
        .select(col("source"), col("n_mins"), col("kth_min"),
          col("exact_distinct"),
          when(col("kth_min").isNotNull,
            lit((KmvK - 1).toDouble) * expr(two60)
              / col("kth_min").cast("double"))
            .otherwise(col("exact_distinct").cast("double"))
            .as("est_distinct")))
        .orderBy(col("source"))
    }
  }

  val oracleQ161: String =
    s"""WITH toks AS (
       |  SELECT DISTINCT source,
       |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
       |  FROM (
       |    SELECT source, unnest(string_split(
       |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |    FROM documents
       |  ) WHERE len(tok) > 0
       |), ranked AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |  FROM toks
       |), minima AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_mins,
       |    MAX(CASE WHEN rn = $KmvK THEN h END) AS kth_min
       |  FROM ranked WHERE rn <= $KmvK GROUP BY source
       |), exact AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
       |  FROM toks GROUP BY source
       |)
       |SELECT m.source, m.n_mins, m.kth_min, e.exact_distinct,
       |  CASE WHEN m.kth_min IS NOT NULL THEN
       |    CAST(${KmvK - 1} AS DOUBLE)
       |      * CAST('1152921504606846976' AS DOUBLE)
       |      / CAST(m.kth_min AS DOUBLE)
       |  ELSE CAST(e.exact_distinct AS DOUBLE) END AS est_distinct
       |FROM minima m JOIN exact e USING (source)
       |ORDER BY m.source""".stripMargin

  /** q162 — KMV cross-source OVERLAP estimation: for every source pair,
    * merge the two [[KmvK]]-minima sketches, keep the k smallest of the
    * union, and estimate Jaccard as (members of both sets among them)/k′
    * (Beyer et al. SIGMOD'07) — the sketch-sized answer to "which crawl
    * dumps overlap enough to cross-dedup" (q77's incremental dedup needs
    * the PAIRS; this tells you which pairs are worth running it on).
    * The exact token-set Jaccard rides alongside, so the gate pins the
    * estimator's actual error on every pair.
    *
    * Exactness: sketch membership, union ranks and intersection counts
    * are exact integers; both ratios are single pinned divisions.
    *
    * Scale shape: the per-source minima relation is k·|sources| rows —
    * the pairwise stage never touches the corpus (that is the point of
    * the sketch); the exact-Jaccard audit column joins the distinct
    * (source, h) relation on h — candidate-bounded by token overlap,
    * and at true scale it is the column you DROP, not the sketch. */
  def q162KmvOverlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h60 = conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        explode(split(Text.normalize(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("source"), h60.as("h"))
      .distinct()
    Materialize.withMaterialized(toks) { t =>
      val minima = t
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("h"))))
        .filter(col("rn") <= KmvK)
        .select(col("source"), col("h"))
      Materialize.withMaterialized(minima) { m =>
        val both = m.select(col("source").as("s1"), col("h"))
          .join(m.select(col("source").as("s2"), col("h")), Seq("h"))
          .filter(col("s1") < col("s2"))
        val unionRanked = m.select(col("source").as("s1"), col("h"))
          .join(m.select(col("source").as("s2")).distinct(),
            col("s1") < col("s2"))
          .select(col("s1"), col("s2"), col("h"))
          .unionByName(m.select(col("source").as("s2"), col("h"))
            .join(m.select(col("source").as("s1")).distinct(),
              col("s1") < col("s2"))
            .select(col("s1"), col("s2"), col("h")))
          .distinct()
          .withColumn("urn", row_number().over(
            Window.partitionBy(col("s1"), col("s2")).orderBy(col("h"))))
          .filter(col("urn") <= KmvK)
        val est = unionRanked
          .join(both.select(col("s1"), col("s2"), col("h"),
            lit(1L).as("inboth")), Seq("s1", "s2", "h"), "left")
          .groupBy(col("s1"), col("s2"))
          .agg(count(lit(1)).as("k_union"),
            sum(coalesce(col("inboth"), lit(0L))).as("n_both"))
        val sz = t.groupBy(col("source")).agg(count(lit(1)).as("sz"))
        val inter = t.select(col("source").as("s1"), col("h"))
          .join(t.select(col("source").as("s2"), col("h")), Seq("h"))
          .filter(col("s1") < col("s2"))
          .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("i"))
        Materialize.pin(est
          .join(sz.select(col("source").as("s1"), col("sz").as("z1")),
            Seq("s1"))
          .join(sz.select(col("source").as("s2"), col("sz").as("z2")),
            Seq("s2"))
          .join(inter, Seq("s1", "s2"), "left")
          .select(col("s1"), col("s2"), col("k_union"), col("n_both"),
            (col("n_both").cast("double") / col("k_union").cast("double"))
              .as("est_jaccard"),
            (coalesce(col("i"), lit(0L)).cast("double") /
              (col("z1") + col("z2") - coalesce(col("i"), lit(0L)))
                .cast("double")).as("exact_jaccard")))
          .orderBy(col("s1"), col("s2"))
      }
    }
  }

  val oracleQ162: String =
    s"""WITH toks AS (
       |  SELECT DISTINCT source,
       |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
       |  FROM (
       |    SELECT source, unnest(string_split(
       |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
       |    FROM documents
       |  ) WHERE len(tok) > 0
       |), minima AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM toks
       |  ) WHERE rn <= $KmvK
       |), srcs AS (SELECT DISTINCT source FROM minima),
       |prs AS (
       |  SELECT a.source AS s1, b.source AS s2 FROM srcs a JOIN srcs b
       |  ON a.source < b.source
       |), uni AS (
       |  SELECT DISTINCT p.s1, p.s2, m.h
       |  FROM prs p JOIN minima m ON m.source IN (p.s1, p.s2)
       |), uranked AS (
       |  SELECT s1, s2, h,
       |    row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS urn
       |  FROM uni
       |), bothm AS (
       |  SELECT a.source AS s1, b.source AS s2, a.h
       |  FROM minima a JOIN minima b ON a.h = b.h AND a.source < b.source
       |), est AS (
       |  SELECT u.s1, u.s2, CAST(COUNT(*) AS BIGINT) AS k_union,
       |    CAST(SUM(CASE WHEN bo.h IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_both
       |  FROM uranked u
       |  LEFT JOIN bothm bo ON bo.s1 = u.s1 AND bo.s2 = u.s2 AND bo.h = u.h
       |  WHERE u.urn <= $KmvK
       |  GROUP BY u.s1, u.s2
       |), sz AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM toks
       |  GROUP BY source
       |), it AS (
       |  SELECT a.source AS s1, b.source AS s2, CAST(COUNT(*) AS BIGINT) AS i
       |  FROM toks a JOIN toks b ON a.h = b.h AND a.source < b.source
       |  GROUP BY 1, 2
       |)
       |SELECT e.s1, e.s2, e.k_union, e.n_both,
       |  CAST(e.n_both AS DOUBLE) / CAST(e.k_union AS DOUBLE)
       |    AS est_jaccard,
       |  CAST(COALESCE(it.i, 0) AS DOUBLE)
       |    / CAST(z1.sz + z2.sz - COALESCE(it.i, 0) AS DOUBLE)
       |    AS exact_jaccard
       |FROM est e
       |JOIN sz z1 ON z1.source = e.s1
       |JOIN sz z2 ON z2.source = e.s2
       |LEFT JOIN it ON it.s1 = e.s1 AND it.s2 = e.s2
       |ORDER BY e.s1, e.s2""".stripMargin

  /** q159 — PII detection + REDACTION audit (the Dolma/RefinedWeb PII
    * pass): count and mask email/phone patterns, report the redacted
    * fingerprint — the pre-training privacy scrub every released corpus
    * documents. The synthetic corpus carries no PII, so the gate INJECTS
    * it deterministically in both engines (doc_id ≡ 0 mod 3 → an email,
    * ≡ 0 mod 5 → a phone; ≡ 0 mod 15 → both), then detects and redacts —
    * counts, lengths and the md5 of the redacted text must all match
    * bit-exactly, which also pins Spark (java.util.regex) and DuckDB
    * (RE2) to the compatible-regex subset the patterns are written in.
    *
    * Scale shape: pure map-side regex projections; one row per doc. */
  def q159PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val emailPat = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phonePat = "555-[0-9]{4}"
    val injected = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com now")))
      .otherwise(col("text"))
    val injected2 = when(col("doc_id") % 5 === 0,
        concat(col("__t1"), lit(" call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(col("__t1"))
    Tables.documents(s, dir)
      .select(col("doc_id"), injected.as("__t1"))
      .select(col("doc_id"), injected2.as("__t2"))
      .select(col("doc_id"),
        // Column API, not expr(): a SQL string literal would pass through
        // unescapeSQLString and turn '\.' into an any-char '.', silently
        // diverging the COUNT pattern from the redaction/oracle pattern
        size(regexp_extract_all(col("__t2"), lit(emailPat), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("__t2"), lit(phonePat), lit(0)))
          .cast("long").as("n_phones"),
        regexp_replace(
          regexp_replace(col("__t2"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>").as("__r"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        length(col("__r")).cast("long").as("redacted_len"),
        md5(col("__r")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  val oracleQ159: String =
    """WITH t1 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0
      |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
      |           || '@example.com now'
      |      ELSE text END AS t
      |  FROM documents
      |), t2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0
      |      THEN t || ' call 555-'
      |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      ELSE t END AS t
      |  FROM t1
      |), det AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.[a-z]+'))
      |      AS BIGINT) AS n_emails,
      |    CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT)
      |      AS n_phones,
      |    regexp_replace(regexp_replace(t,
      |      '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
      |      '555-[0-9]{4}', '<PHONE>', 'g') AS r
      |  FROM t2
      |)
      |SELECT doc_id, n_emails, n_phones,
      |  CAST(length(r) AS BIGINT) AS redacted_len, md5(r) AS redacted_md5
      |FROM det ORDER BY doc_id""".stripMargin

  /** q148 — Unicode NFC normalization ([[graft.functions.NfcExpr]]): the
    * canonical-composition pass every exact-match surface (dedup
    * fingerprints, shingles, blocklists) needs before trusting byte
    * equality, and an engine-surface gap — Spark ships no normalization
    * function while Postgres/DuckDB do.
    *
    * The synthetic corpus is pure ASCII (NFC-invariant), so the gate
    * CONSTRUCTS decomposed text deterministically in both engines: 'a' →
    * 'a'+U+0300 and 'e' → 'e'+U+0301 over a 60-char prefix, then
    * normalizes — NFC must compose them back to 'à'/'é', shrinking the
    * codepoint count by exactly the number of combining marks and
    * producing a string both engines agree on byte-for-byte (the JDK
    * Normalizer and DuckDB's utf8proc implement the same Unicode tables).
    * Map-side only; the fast path never materializes a JDK String for
    * all-ASCII rows. */
  def q148Nfc(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.NfcExpr
    val deco = regexp_replace(
      regexp_replace(substring(col("text"), 1, 60), "a", "a\u0300"),
      "e", "e\u0301")
    Tables.documents(s, dir)
      .select(col("doc_id"), deco.as("deco"))
      .select(col("doc_id"), length(col("deco")).as("n_deco"),
        NfcExpr(col("deco")).as("nfc"))
      .withColumn("n_nfc", length(col("nfc")))
      .orderBy(col("doc_id"))
  }

  val oracleQ148: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(substring(text, 1, 60),
      |      'a', 'a' || chr(768), 'g'), 'e', 'e' || chr(769), 'g') AS deco
      |  FROM documents
      |)
      |SELECT doc_id, CAST(length(deco) AS INTEGER) AS n_deco,
      |  nfc_normalize(deco) AS nfc,
      |  CAST(length(nfc_normalize(deco)) AS INTEGER) AS n_nfc
      |FROM d ORDER BY doc_id""".stripMargin

  /** Target mixture for q149 as eighths: en half the training tokens, the
    * four other languages an eighth each. */
  val MixDen = 8L
  private def mixNum(lang: Column): Column =
    when(lang === "en", lit(4L)).otherwise(lit(1L))

  /** q149 — exact data-MIXTURE planning: the step that turns "train on 50%
    * en / 12.5% each of de,es,fr,zh, without upsampling" into per-(lang,
    * source) token takes. Two levels, both exact integer arithmetic:
    *
    *  1. Feasible budget: B = min over languages of ⌊tokens_l·D / w_l⌋ —
    *     the largest total budget whose language shares all fit within
    *     the available tokens at ≤ 1 epoch. Language budget
    *     B_l = ⌊B·w_l / D⌋.
    *  2. Hamilton largest-remainder apportionment of B_l across that
    *     language's sources: integer base quota ⌊B_l·t_ls / t_l⌋ per
    *     source, then the leftover B_l − Σbase (< #sources) goes +1 to
    *     the sources with the largest scaled remainders (ties → smaller
    *     source id). Σ take = B_l exactly — no drifting ±1s for the
    *     shard writer to reconcile downstream.
    *
    * Scale shape: one map-side-combined (lang, source) token count over
    * the corpus, a language rollup (≤ #langs rows), one broadcast scalar
    * (B), and a window over per-language source lists (fan-in = sources
    * per language, never corpus rows). Products B_l·t_ls are guarded
    * fail-loud against silent BIGINT wrap (at true 100 TB token counts
    * switch the two product lines to DECIMAL(38,0) carriers). */
  def q149MixturePlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        size(filter(split(Text.normalize(col("text")), " "),
          t => length(t) > 0)).cast("long").as("nt"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("nt")).as("t_ls"))
    val langTot = toks.groupBy(col("lang")).agg(sum(col("t_ls")).as("t_l"))
    val bRow = langTot
      .withColumn("wn", mixNum(col("lang")))
      .agg(min(expr(s"t_l * $MixDen DIV wn")).as("b"))
    val planned = toks
      .join(langTot, Seq("lang"))
      .crossJoin(broadcast(bRow))
      .withColumn("wn", mixNum(col("lang")))
      .withColumn("b_l", expr(s"b * wn DIV $MixDen"))
      // fail loud before a silent 64-bit wrap (b_l·t_ls is the widest
      // product in the plan) — the guard lives INSIDE the consumed column
      // so Catalyst column pruning can't drop it (a standalone assert
      // column is dead code the moment nothing selects it)
      .withColumn("base",
        when(col("b_l") <= lit(3000000000L) && col("t_ls") <= lit(3000000000L),
          expr("b_l * t_ls DIV t_l"))
          .otherwise(raise_error(
            lit("q149: token counts exceed the BIGINT-safe planning bound"))))
      .withColumn("rem", col("b_l") * col("t_ls") - col("base") * col("t_l"))
    val wLang = Window.partitionBy(col("lang"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("rem").desc, col("source"))
    planned
      .withColumn("leftover", col("b_l") - sum(col("base")).over(wLang))
      .withColumn("rk", row_number().over(wRank))
      .select(col("lang"), col("source"), col("t_ls").as("tokens"),
        col("t_l").as("lang_tokens"), col("b_l").as("lang_budget"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("take"))
      .withColumn("rate",
        col("take").cast("double") / col("tokens").cast("double"))
      .orderBy(col("lang"), col("source"))
  }

  val oracleQ149: String =
    s"""WITH toks AS (
       |  SELECT lang, source, CAST(SUM(len(list_filter(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
       |    t -> len(t) > 0))) AS BIGINT) AS t_ls
       |  FROM documents GROUP BY lang, source
       |), lt AS (
       |  SELECT lang, CAST(SUM(t_ls) AS BIGINT) AS t_l FROM toks GROUP BY lang
       |), w AS (
       |  SELECT lang, t_l,
       |    CASE WHEN lang = 'en' THEN 4 ELSE 1 END AS wn FROM lt
       |), b AS (
       |  SELECT CAST(MIN(t_l * $MixDen // wn) AS BIGINT) AS b FROM w
       |), planned AS (
       |  SELECT t.lang, t.source, t.t_ls, w.t_l,
       |    CAST(b.b * w.wn // $MixDen AS BIGINT) AS b_l,
       |    CAST((b.b * w.wn // $MixDen) * t.t_ls // w.t_l AS BIGINT) AS base,
       |    CAST((b.b * w.wn // $MixDen) * t.t_ls
       |      - ((b.b * w.wn // $MixDen) * t.t_ls // w.t_l) * w.t_l AS BIGINT)
       |      AS rem
       |  FROM toks t JOIN w ON t.lang = w.lang CROSS JOIN b
       |), ranked AS (
       |  SELECT lang, source, t_ls, t_l, b_l, base, rem,
       |    b_l - SUM(base) OVER (PARTITION BY lang) AS leftover,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY rem DESC, source) AS rk
       |  FROM planned
       |)
       |SELECT lang, source, t_ls AS tokens, t_l AS lang_tokens,
       |  b_l AS lang_budget,
       |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
       |    AS take,
       |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS DOUBLE)
       |    / CAST(t_ls AS DOUBLE) AS rate
       |FROM ranked ORDER BY lang, source""".stripMargin
}
