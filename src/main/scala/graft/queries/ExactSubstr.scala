package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text
import graft.operators.Materialize

/** Corpus-level EXACT-substring deduplication (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better" — the
  * ExactSubstr pipeline): find every substring of length ≥ [[DupGramL]]
  * that occurs more than once ANYWHERE in the corpus (cross-document or
  * within-document), keep the globally first occurrence, and cut every
  * other occurrence out of its document.
  *
  * This is the composition round 11 left on the table: q209 built the
  * index the published pipeline uses (corpus-level suffix ranks —
  * [[SuffixArray.corpusRanks]]), while duplicate-SPAN extraction still
  * ran on q88's positional k-gram-hash approximation. Here the spans
  * come off the rank structure EXACTLY: a rank group at doubling level
  * log2([[DupGramL]]) is precisely an LCP interval of depth ≥
  * [[DupGramL]] — suffixes adjacent in suffix-array order with LCP ≥ L
  * share the level-log2(L) rank, and every rank group of size ≥ 2 is a
  * set of positions whose L-grams are bit-identical (no hashing, no
  * collisions — contrast `Dedup.exactDupSpans`, which q88 gates and
  * whose spans a spec checks for containment against these).
  *
  * Reference anchor: the reference dedups at the row level (upsert keys,
  * `src/lib/jquants/endpoints/equity-bars-daily.ts` idempotent writes);
  * this is the corpus-scale text analog its data model never needed but
  * a 100-TB training-data pipeline cannot ship without.
  *
  * Scale shape: the rank build is [[SuffixArray.corpusRanks]]' radix
  * seed alone for L=16 — two 8-char base-128 packed longs per suffix,
  * ranked by ONE range-partitioned global pair sort with bounded driver
  * traffic, no doubling round (non-ASCII corpora take the code-point
  * seed plus three doubling rounds). Dup
  * detection is one window over the rank groups (count + min-key —
  * group sizes are content-bounded, a hot boilerplate gram costs its
  * occurrence count, never a pair set). Span assembly is the q88
  * island fold (one doc-keyed window), and reassembly is one
  * `aggregate` fold over each doc's sorted span array — document text
  * never shuffles except once, keyed by doc, to meet its spans. */
object ExactSubstr {

  /** Duplicate-substring length threshold. MUST be a power of two: rank
    * equality at doubling level log2(L) is exactly L-gram equality, so
    * the threshold doubles as the level the rank build stops at.
    * (Lee et al. use 50 BPE tokens on The Pile; 16 chars is scaled to
    * the driver corpus' ~300-char documents.) */
  val DupGramL = 16

  /** Doubling level whose ranks group positions by their exact
    * [[DupGramL]]-gram: 2^4 = 16. */
  private val GramLevel = 4

  /** ORACLE position bound, derived from the oracle round bound: the
    * DuckDB oracles enumerate positions with `range(0, PosCap)` and
    * encode keep-first keys as the scalar `doc_id·PosCap + pos`, so each
    * carries an `error()` guard that trips at verify time past this
    * bound. The ENGINE is not bounded: keep-first keys are
    * `struct(doc_id, pos)` (lexicographic struct ordering — no encode,
    * no width limit), and [[SuffixArray.corpusRanks]] derives its round
    * count from the data, so >PosCap-char documents dedup fine. */
  val PosCap: Long = 1L << SuffixArray.SaRounds

  private[graft] def normDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Text.normalize(col("text")).as("text"))

  /** All FULL [[DupGramL]]-gram start positions whose gram occurs ≥ 2
    * times in the corpus: (doc_id, pos, gid = corpus rank of the gram,
    * is_keeper = this occurrence is the globally first by
    * (doc_id, pos)). Exposed for the containment spec against q88's
    * hash-approximated spans. */
  private[graft] def dupGramPositions(s: SparkSession,
                                      docs: DataFrame): DataFrame = {
    val ranks = SuffixArray.corpusRanks(s, docs, GramLevel)
    val lens = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("__n"))
    // positions with a full L-gram: padding never enters the first L
    // chars, so rank equality there is exact L-gram equality
    val full = ranks.join(lens, Seq("doc_id"))
      .filter(col("pos") + lit(DupGramL.toLong) <= col("__n"))
      .withColumn("__k", struct(col("doc_id"), col("pos")))
    val w = Window.partitionBy(col("r"))
    full
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__kmin", min(col("__k")).over(w))
      .filter(col("__cnt") >= 2)
      .select(col("doc_id"), col("pos"), col("r").as("gid"),
        (col("__k") === col("__kmin")).as("is_keeper"))
  }

  /** Merged removal spans per document — maximal islands of non-keeper
    * duplicate-gram starts at gap ≤ [[DupGramL]] (the q88 island rule:
    * the union of [p, p+L) intervals is contiguous within an island),
    * as 0-based char intervals [s, e). */
  private[graft] def removalSpans(dup: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup.filter(!col("is_keeper"))
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull ||
          col("pos") - col("__prev") > DupGramL, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + lit(DupGramL.toLong)).as("e"))
      .select(col("doc_id"), col("s"), col("e"))
  }

  /** q211 — the full ExactSubstr program: detect → keep-first → cut →
    * reassemble. One row per document: normalized length, removal-span
    * count, removed char count, surviving char count, and the md5 of
    * the reassembled (kept-chars-in-order) text — null when every char
    * of the doc lost its keep race. */
  def q211ExactSubstrDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Materialize.pin(normDocs(s, dir))
    applySpans(docs, dupGramPositions(s, docs))
  }

  /** Shared span-cut + reassembly tail: non-keeper dup positions →
    * merged removal spans → per-doc sorted span arrays → one `aggregate`
    * fold rebuilding the kept text. `docs` must carry (doc_id, text)
    * normalized; output one row per doc in `docs`.
    *
    * `ordered = false` (r17) skips the final global sort — the absorb
    * loops (q214/q216) call this once PER MICRO-BATCH and their gates
    * re-sort the accumulated emissions at the end anyway, so the
    * per-batch range exchange + sort was pure overhead; the batch gates
    * (q211/q213) keep the ordered default. */
  private[graft] def applySpans(docs: DataFrame, dup: DataFrame,
                                ordered: Boolean = true): DataFrame =
    applyCharSpans(docs, removalSpans(dup), ordered)

  /** The reassembly fold alone, over ready-made char spans (doc_id, s, e)
    * — spans must be disjoint with positive gaps (the island rule
    * guarantees this for both char-gram and token-gram producers). */
  private[graft] def applyCharSpans(docs: DataFrame,
                                    spans: DataFrame,
                                    ordered: Boolean = true): DataFrame = {
    val sp = spans.groupBy(col("doc_id")).agg(
      sort_array(collect_list(struct(col("s"), col("e")))).as("sarr"),
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s")).as("dup_chars"))
    // spans are disjoint with positive gaps (islands break at gap > L),
    // so the fold walks them left to right, copying the text between
    // acc.c (chars consumed) and the next span start
    val fold = expr(
      """aggregate(sarr,
        |  struct(CAST('' AS STRING) AS t, CAST(0 AS BIGINT) AS c),
        |  (acc, x) -> struct(
        |    concat(acc.t, substring(text, CAST(acc.c + 1 AS INT),
        |      CAST(x.s - acc.c AS INT))), x.e),
        |  acc -> concat(acc.t, substring(text, CAST(acc.c + 1 AS INT),
        |    CAST(length(text) - acc.c AS INT))))""".stripMargin)
    val out = docs.join(sp, Seq("doc_id"), "left")
      .withColumn("__kept",
        when(col("sarr").isNull, col("text")).otherwise(fold))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("doc_len"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        length(col("__kept")).cast("long").as("kept_len"),
        when(length(col("__kept")) > 0,
          md5(col("__kept").cast("binary"))).as("kept_fp"))
    if (ordered) out.orderBy(col("doc_id")) else out
  }

  /** Base/delta split threshold for the incremental gate: documents
    * with doc_id below 70% of max are the standing corpus, the rest
    * arrive as the delta. LOWER ids form the base so global keep-first
    * order (min struct(doc_id, pos)) coincides with arrival order —
    * the property that makes incremental absorb ≡ batch rebuild. */
  private[graft] def splitId(docs: DataFrame): Long = {
    val mx = docs.agg(max(col("doc_id"))).collect()(0)
    require(!mx.isNullAt(0), "empty corpus: no documents to split")
    mx.getLong(0) * 7 / 10
  }

  /** All full L-gram positions of `docs` as (doc_id, pos, gram, __k)
    * with the global keep-first struct key. Shared by the incremental
    * (q213), streaming (q214), and persisted (q216) absorb paths. */
  private[graft] def gramPositions(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= DupGramL)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          length(col("text")).cast("long") - DupGramL)).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, CAST(pos + 1 AS INT), $DupGramL)").as("gram"),
        struct(col("doc_id"), col("pos")).as("__k"))

  /** The absorb step's dup criterion: a position is removed iff its
    * gram already lives in the standing `state` (gram, base_kmin) OR an
    * earlier position WITHIN the same incoming relation claimed it. */
  private[graft] def absorbDups(incoming: DataFrame,
                                state: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("gram"))
    incoming
      .join(state, Seq("gram"), "left")
      .withColumn("__dcnt", count(lit(1)).over(w))
      .withColumn("__dmin", min(col("__k")).over(w))
      .filter(col("base_kmin").isNotNull ||
        (col("__dcnt") >= 2 && col("__k") =!= col("__dmin")))
      .select(col("doc_id"), col("pos"), lit(false).as("is_keeper"))
  }

  /** q213 — INCREMENTAL ExactSubstr absorb: the q77 discipline applied
    * to exact dedup. The standing corpus keeps one bounded state table —
    * gram → its globally-first struct(doc_id, pos) key — and an
    * arriving delta dedups by ONE keyed join against that state plus
    * one window over its own grams, never re-reading (or re-indexing)
    * the base text. Because base ids precede delta ids, base keepers
    * are immovable: a delta can lose chars to the base or to earlier
    * delta positions, but the base's own output is invariant — which is
    * exactly why the incremental result for delta docs EQUALS the batch
    * q211 rows for those docs (spec-pinned), the stream ≡ batch
    * contract.
    *
    * Scale shape: at 100 TB the base state is a bucketed table keyed by
    * gram (16 fixed bytes; bucket-join against deltas with zero base
    * shuffle — the q53 co-location discipline, PROVEN restartable by
    * q216); the delta-side work is one explode + one join + one window,
    * all delta-sized. The gram STRING travels only for delta positions;
    * the base contributes only its (gram, kmin) state rows. */
  def q213IncrementalExactSubstr(s: SparkSession, dir: String): DataFrame = {
    val docs = Materialize.pin(normDocs(s, dir))
    val cut = splitId(docs)
    val grams = gramPositions(docs)
    // the standing state: one row per distinct base gram
    val state = grams.filter(col("doc_id") < cut)
      .groupBy(col("gram")).agg(min(col("__k")).as("base_kmin"))
    val dup = absorbDups(grams.filter(col("doc_id") >= cut), state)
    applySpans(docs.filter(col("doc_id") >= cut), dup)
  }

  /** Oracle: the batch q211 computation restricted to delta rows — the
    * incremental ≡ batch contract IS the oracle relation. */
  lazy val oracleQ213: String =
    s"""WITH cut AS (
       |  SELECT max(doc_id) * 7 // 10 AS c FROM documents
       |), norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), capg AS (
       |  SELECT CASE WHEN max(len(t)) > $PosCap THEN error(
       |    'position cap $PosCap exceeded') ELSE 1 END AS ok
       |  FROM norm
       |), g AS MATERIALIZED (
       |  SELECT doc_id, CAST(j AS BIGINT) AS pos,
       |    substr(t, CAST(j + 1 AS INT), $DupGramL) AS gram
       |  FROM norm, range(0, $PosCap) r(j), capg
       |  WHERE capg.ok = 1 AND j + $DupGramL <= len(t)
       |), grp AS (
       |  SELECT gram, MIN(doc_id * $PosCap + pos) AS kmin, COUNT(*) AS c
       |  FROM g GROUP BY gram
       |), dup AS MATERIALIZED (
       |  SELECT g.doc_id, g.pos
       |  FROM g JOIN grp USING (gram)
       |  WHERE grp.c >= 2 AND g.doc_id * $PosCap + g.pos <> grp.kmin
       |), isl AS (
       |  SELECT doc_id, pos,
       |    SUM(CASE WHEN prev IS NULL OR pos - prev > $DupGramL
       |      THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM (SELECT doc_id, pos,
       |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |        FROM dup)
       |), spans AS MATERIALIZED (
       |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + $DupGramL AS e
       |  FROM isl GROUP BY doc_id, island
       |), agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |    CAST(SUM(e - s) AS BIGINT) AS dup_chars
       |  FROM spans GROUP BY doc_id
       |), chars AS MATERIALIZED (
       |  SELECT norm.doc_id, CAST(j AS BIGINT) AS pos,
       |    substr(t, CAST(j + 1 AS INT), 1) AS ch
       |  FROM norm, range(0, $PosCap) r(j), capg
       |  WHERE capg.ok = 1 AND j < len(t)
       |), keptc AS (
       |  SELECT c.doc_id, c.pos, c.ch
       |  FROM chars c
       |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
       |    WHERE sp.doc_id = c.doc_id AND c.pos >= sp.s AND c.pos < sp.e)
       |), kept AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_len,
       |    md5(string_agg(ch, '' ORDER BY pos)) AS fp
       |  FROM keptc GROUP BY doc_id
       |)
       |SELECT n.doc_id, CAST(len(n.t) AS BIGINT) AS doc_len,
       |  COALESCE(a.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  COALESCE(a.dup_chars, CAST(0 AS BIGINT)) AS dup_chars,
       |  COALESCE(k.kept_len, CAST(0 AS BIGINT)) AS kept_len,
       |  k.fp AS kept_fp
       |FROM norm n
       |LEFT JOIN agg a USING (doc_id)
       |LEFT JOIN kept k USING (doc_id), cut
       |WHERE n.doc_id >= cut.c
       |ORDER BY n.doc_id""".stripMargin

  /** q214 — STREAMING ExactSubstr maintenance run to completion
    * in-process (the thirteenth streaming shape): the WHOLE corpus
    * arrives on a MemoryStream in four doc_id-ordered micro-batches;
    * each batch dedups against the standing gram-keeper state as of its
    * arrival and extends it ([[graft.streaming.StreamExactSubstr]]).
    * Keep-first ≡ arrival order, so the accumulated emissions must
    * hash-match the batch q211 rebuild — the gate reuses q211's oracle
    * VERBATIM, proving stream ≡ batch regardless of micro-batch
    * boundaries (the spec additionally sweeps 1- and 3-batch splits).
    * The driver-side collect feeds ONLY the in-process test transport. */
  def q214StreamExactSubstr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamExactSubstr, StreamRunner}
    import graft.streaming.StreamExactSubstr.SDoc
    val docs = normDocs(s, dir)
      .orderBy(col("doc_id")).as[SDoc].collect().toSeq
    val a = new StreamExactSubstr.Absorber
    StreamRunner.foreachBatch(s,
      docs.grouped(math.max(1, docs.length / 4)).toSeq)(a.absorb)
    a.results.orderBy(col("doc_id"))
  }

  /** q216 — RESTARTABLE streaming ExactSubstr: the q214 absorb loop run
    * through the PERSISTED state shape
    * ([[graft.streaming.StreamExactSubstr.PersistedAbsorber]] — gram
    * keeper minima in a bucketed external table, emissions in a parquet
    * sink), with a genuine stop-and-resume in the middle: two
    * micro-batches absorb, the stream STOPS and the absorber object is
    * discarded, a FRESH absorber is constructed against the same storage
    * and the remaining batches continue. Accumulated emissions must
    * still hash-match the batch q211 rebuild — the gate reuses q211's
    * oracle verbatim, proving the standing state survives a restart
    * with nothing carried in memory.
    *
    * Scale shape: this IS the nightly-100-TB shape the q213/q214
    * scaladocs name — state is gram-cardinality-sized, bucketed on its
    * join key (the absorb join reads it pre-clustered, the q53
    * discipline), each batch APPENDS only its own gram minima as a new
    * generation (delta-sized writes; `compactEvery = 3` folds the
    * generations once mid-stream, AFTER the restart, so the gate
    * exercises append → restart → compact → append), and a crashed or
    * rescheduled absorb job resumes from the table. The state table
    * name derives from the per-run scratch directory so concurrent
    * invocations in one session never share state. The driver-side
    * collect feeds ONLY the in-process MemoryStream test transport. */
  def q216RestartExactSubstr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamExactSubstr, StreamRunner}
    import graft.streaming.StreamExactSubstr.SDoc
    val docs = normDocs(s, dir)
      .orderBy(col("doc_id")).as[SDoc].collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_q216")
    val table = "graft_q216_state_" +
      tmp.getFileName.toString.replaceAll("[^A-Za-z0-9_]", "_")
    s.sql(s"DROP TABLE IF EXISTS $table")
    try {
      val batches = docs.grouped(math.max(1, docs.length / 4)).toSeq
      // one incarnation of the absorber per phase — phase 2's instance
      // is constructed AFTER phase 1's died, seeing only the storage
      def phase(bs: Seq[Seq[SDoc]]): Unit = if (bs.nonEmpty) {
        val a = new StreamExactSubstr.PersistedAbsorber(table, tmp.toString,
          compactEvery = 3)
        try StreamRunner.foreachBatch(s, bs)(a.absorb) finally a.flush()
      }
      phase(batches.take(2))
      phase(batches.drop(2))
      val out = Materialize.sorted(
        s.read.parquet(s"$tmp/emitted").drop("gen"), col("doc_id"))
      s.sql(s"DROP TABLE IF EXISTS $table")
      out
    } finally {
      // tidy the scratch storage; results are checkpointed already
      graft.operators.Upsert.rmTree(tmp.toFile)
    }
  }

  // ---------------------------------------------------------------------
  // q215 — TOKEN-level ExactSubstr (the unit Lee et al. 2022 actually
  // dedup on: BPE tokens, not characters).

  /** Duplicate token-gram length threshold (Lee et al. use 50 BPE tokens
    * on The Pile; 12 is scaled to the driver corpus' ~200-token
    * documents the same way [[DupGramL]] scales the char unit). Unlike
    * [[DupGramL]] it need not be a power of two — token grams group by
    * the literal joined token sequence, not by suffix-rank level. */
  val TokGramL = 12

  /** Per-doc token table from the corpus-trained BPE vocabulary
    * ([[graft.operators.Bpe.trainAndEncode]], the q127 encoder): one row
    * per token in document order with its global token index `ti` and
    * its char interval [tstart, tend) in the normalized text. BPE
    * encodes per WORD, so the same word always yields the same token
    * run — which is what makes duplicated word sequences duplicated
    * token sequences. `vocab` must carry (word, encoded).
    *
    * Scale shape: the vocabulary is vocabulary-sized (broadcast join);
    * everything else is two narrow windows keyed by doc — the same
    * exchange reused — and the explode emits only slim (doc, idx, sym)
    * rows, never the document text. */
  private[graft] def tokenTable(docs: DataFrame,
                                vocab: DataFrame): DataFrame = {
    // ONE doc-keyed window carries everything: because a word's symbols
    // partition its chars (Σ len(sym) over a word = len(word)), a
    // token's char start is widx (= one space per previous word) plus
    // the running symbol length over the doc-ordered token stream —
    // no per-word window, no word-start window, one Exchange total.
    val tW = Window.partitionBy(col("doc_id"))
      .orderBy(col("widx"), col("sidx"))
    docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("widx", "word")))
      .join(broadcast(vocab.select(col("word"), col("encoded"))),
        Seq("word"))
      .select(col("doc_id"), col("widx"),
        posexplode(split(col("encoded"), " ")).as(Seq("sidx", "sym")))
      .withColumn("tstart", col("widx").cast("long") +
        coalesce(sum(length(col("sym")).cast("long"))
          .over(tW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("ti", row_number().over(tW).cast("long") - 1L)
      .select(col("doc_id"), col("ti"), col("sym"), col("tstart"),
        (col("tstart") + length(col("sym")).cast("long")).as("tend"))
  }

  /** All full [[TokGramL]]-token gram starts as (doc_id, ti, gram, __k)
    * with the global keep-first struct key. The gram key is the
    * space-joined token run — unambiguous (tokens carry no spaces), so
    * string equality is exact token-sequence equality. Shared by the
    * batch (q215) and incremental (q217) paths. */
  private[graft] def tokenGrams(tok: DataFrame): DataFrame = {
    val gW = Window.partitionBy(col("doc_id")).orderBy(col("ti"))
      .rowsBetween(Window.currentRow, TokGramL - 1)
    tok
      .withColumn("gcnt", count(lit(1)).over(gW))
      .withColumn("gram", array_join(collect_list(col("sym")).over(gW), " "))
      .filter(col("gcnt") === TokGramL)
      .select(col("doc_id"), col("ti"), col("gram"),
        struct(col("doc_id"), col("ti")).as("__k"))
  }

  /** Token-gram starts occurring ≥ 2 times corpus-wide, keep-first by
    * struct(doc_id, ti). */
  private[graft] def tokenDupPositions(tok: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("gram"))
    tokenGrams(tok)
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__kmin", min(col("__k")).over(w))
      .filter(col("__cnt") >= 2)
      .select(col("doc_id"), col("ti"),
        (col("__k") === col("__kmin")).as("is_keeper"))
  }

  /** Merged token-space removal spans [ts, te) — the q211 island rule in
    * token units: non-keeper gram starts at gap ≤ [[TokGramL]] union
    * into one contiguous token interval. */
  private[graft] def tokenSpans(dup: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ti"))
    dup.filter(!col("is_keeper"))
      .withColumn("__prev", lag(col("ti"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull ||
          col("ti") - col("__prev") > TokGramL, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("ti")).as("ts"),
        (max(col("ti")) + lit(TokGramL.toLong)).as("te"))
      .select(col("doc_id"), col("ts"), col("te"))
  }

  /** q215 — the full TOKEN-level ExactSubstr program: BPE-encode the
    * corpus with its own trained merges (q127's encoder), find every
    * [[TokGramL]]-token run occurring ≥ 2 times anywhere, keep the
    * globally first occurrence, cut the rest, and reassemble the
    * surviving CHARS (token spans map back to char intervals via the
    * token table — the span covers from its first token's start to its
    * last token's end, inter-token spaces included). One row per doc:
    * char length, token count, span count, removed tokens, removed
    * chars, kept char count, md5 of the kept text.
    *
    * Scale shape: token-gram detection is one window over the gram
    * groups (occurrence-count-sized work, the q211 argument); the token
    * table adds one broadcast vocab join + two doc-keyed windows; span
    * char-mapping is two keyed joins against the token table; the
    * reassembly fold is [[applyCharSpans]] — text shuffles once, keyed
    * by doc, to meet its spans. */
  def q215TokenExactSubstr(s: SparkSession, dir: String): DataFrame =
    // the gate runs the PRODUCTION two-step explicitly: resolve (train
    // once if absent) the frozen artifact's path, then dedup READING
    // that path — the oracle exercises the real input shape, not a
    // process-local cache
    q215TokenExactSubstrFrom(s, dir, vocabArtifactFor(s, dir))

  /** q215 reading a PERSISTED vocabulary — the production input shape:
    * the tokenizer is a fixed artifact written by a prior step
    * ([[writeVocabArtifact]]), not retrained per query. */
  def q215TokenExactSubstrFrom(s: SparkSession, dir: String,
                               vocabPath: String): DataFrame = {
    val docs = Materialize.pin(normDocs(s, dir))
    val tok = Materialize.pin(tokenTable(docs, s.read.parquet(vocabPath)))
    tokenOutput(docs, tok, tokenSpans(tokenDupPositions(tok)))
  }

  /** Write the FROZEN tokenizer artifact — the production prior step:
    * train the corpus BPE once ([[graft.operators.Bpe.trainAndEncode]],
    * the q125/q127 trainer, which stays for those gates) and persist
    * the (word, encoded) table. Everything downstream reads the
    * artifact; nothing retrains. */
  def writeVocabArtifact(s: SparkSession, dir: String,
                         path: String): Unit =
    graft.operators.Bpe
      .trainAndEncode(Tables.documents(s, dir), "text", Curation.BpeRounds)
      ._2.select(col("word"), col("encoded"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** A cheap content fingerprint of the corpus a vocab artifact was
    * trained on: names+sizes+mtimes of the documents.parquet files. A
    * corpus regenerated at the same path (the per-round sf1 rebuild
    * workflow) changes it, so no consumer ever tokenizes with a stale
    * vocabulary — the artifact's identity IS (corpus dir, fingerprint),
    * not the dir alone. */
  private[graft] def corpusFingerprint(dir: String): String = {
    val d = new java.io.File(s"$dir/documents.parquet")
    val files =
      if (d.isDirectory) Option(d.listFiles()).getOrElse(Array(d))
      else Array(d)
    val sig = files.filter(_.isFile)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .sorted.mkString("|") + "@" + d.getAbsolutePath
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    h.take(8).map("%02x".format(_)).mkString
  }

  /** The per-corpus FROZEN artifact location: an explicit, durable,
    * fingerprint-keyed path under the system temp dir, trained+written
    * on first demand (the gates' stand-in for the production
    * train-once-per-corpus-release step) and READ thereafter — by this
    * JVM and every other one (training is deterministic, so any writer
    * produces the identical table; a concurrent trainer stages to a
    * unique dir and atomically renames, first writer wins). At 100 TB
    * the vocabulary trains once per corpus release, never per query;
    * token-level dedup's vocab cost is one broadcast-sized parquet
    * read of the path this returns. */
  /** Where `dir`'s current corpus release keeps its frozen vocab. */
  private[graft] def vocabArtifactPath(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_vocab_${corpusFingerprint(dir)}", "vocab")

  private[graft] def vocabArtifactFor(s: SparkSession,
                                      dir: String): String = {
    import java.nio.file._
    val fin = vocabArtifactPath(dir)
    if (!Files.exists(fin.resolve("_SUCCESS"))) {
      // a fin dir WITHOUT _SUCCESS is a corpse (tmp reaper ate the
      // marker, or a foreign dir squatted the fixed name): left in
      // place it wedges the install forever — every retrain's
      // ATOMIC_MOVE fails DirectoryNotEmpty and callers keep reading
      // the bad dir. Clearing it in place is a check-then-act race (a
      // concurrent trainer's rename can land a VALID artifact between
      // our _SUCCESS check and the delete), so: atomically move the
      // suspect dir ASIDE, re-check it there, and restore it if the
      // race gave us a finished artifact instead of a corpse.
      if (Files.exists(fin)) {
        val aside = fin.resolveSibling(
          "corpse_" + java.util.UUID.randomUUID().toString)
        try {
          Files.move(fin, aside, StandardCopyOption.ATOMIC_MOVE)
          if (Files.exists(aside.resolve("_SUCCESS"))) {
            // we stole a just-finished artifact: put it back (or drop
            // ours if yet another writer installed meanwhile — the
            // trainer is deterministic, any installed copy is right)
            try Files.move(aside, fin, StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: FileAlreadyExistsException |
                   _: AccessDeniedException |
                   _: DirectoryNotEmptyException =>
                graft.operators.Upsert.rmTree(aside.toFile)
            }
          } else graft.operators.Upsert.rmTree(aside.toFile)
        } catch {
          case _: NoSuchFileException => () // another cleaner got it first
        }
      }
      // the corpse handling may have RESTORED a valid artifact —
      // re-check before paying for a retrain
      if (!Files.exists(fin.resolve("_SUCCESS"))) {
        val stage = fin.resolveSibling(
          "stage_" + java.util.UUID.randomUUID().toString)
        writeVocabArtifact(s, dir, stage.toString)
        try Files.move(stage, fin, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: FileAlreadyExistsException | _: AccessDeniedException |
               _: DirectoryNotEmptyException =>
            // another process won the rename race; its artifact is
            // byte-equivalent (deterministic trainer) — drop the stage
            graft.operators.Upsert.rmTree(stage.toFile)
        }
      }
    }
    fin.toString
  }

  /** Shared q215/q217 tail: token spans → char intervals (two keyed
    * joins against the token table) → char reassembly fold + token
    * aggregates. Output one row per doc in `docs`. */
  private def tokenOutput(docs: DataFrame, tok: DataFrame,
                          spansTok0: DataFrame): DataFrame = {
    val spansTok = Materialize.pin(spansTok0)
    val spansChar = spansTok
      .join(tok.select(col("doc_id"), col("ti").as("ts"),
        col("tstart").as("s")), Seq("doc_id", "ts"))
      .join(tok.select(col("doc_id"), (col("ti") + 1L).as("te"),
        col("tend").as("e")), Seq("doc_id", "te"))
      .select(col("doc_id"), col("s"), col("e"))
    val nTok = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val tokAgg = spansTok.groupBy(col("doc_id"))
      .agg(sum(col("te") - col("ts")).as("dup_tokens"))
    applyCharSpans(docs, spansChar)
      .join(nTok, Seq("doc_id"))
      .join(tokAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("doc_len"), col("n_tokens"),
        col("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("dup_chars"), col("kept_len"), col("kept_fp"))
      .orderBy(col("doc_id"))
  }

  /** q217 — INCREMENTAL token-level absorb: q213's standing-state
    * discipline applied to the TOKEN unit. The base corpus keeps one
    * bounded state table (token run → its globally-first (doc, ti)
    * struct key); the arriving delta dedups by ONE keyed join against
    * that state plus one window over its OWN token grams
    * ([[absorbDups]], reused verbatim — the absorb algebra never cared
    * that grams were chars). The tokenizer is the FROZEN shared
    * artifact ([[vocabArtifactFor]]), so base ids < delta ids again makes
    * base keepers immovable and incremental ≡ batch on the delta rows —
    * the oracle is q215's restricted to delta docs, and a spec pins
    * DataFrame equality against q215's delta slice. */
  def q217IncrTokenExactSubstr(s: SparkSession, dir: String): DataFrame =
    // same production two-step as q215: explicit artifact path in, no
    // process-local cache between the train step and the dedup
    q217IncrTokenExactSubstrFrom(s, dir, vocabArtifactFor(s, dir))

  /** q217 reading a PERSISTED vocabulary at an explicit path. */
  def q217IncrTokenExactSubstrFrom(s: SparkSession, dir: String,
                                   vocabPath: String): DataFrame = {
    val docs = Materialize.pin(normDocs(s, dir))
    val cut = splitId(docs)
    val tok = Materialize.pin(tokenTable(docs, s.read.parquet(vocabPath)))
    val grams = tokenGrams(tok)
    val state = grams.filter(col("doc_id") < cut)
      .groupBy(col("gram")).agg(min(col("__k")).as("base_kmin"))
    val dup = absorbDups(
        grams.filter(col("doc_id") >= cut)
          .select(col("doc_id"), col("ti").as("pos"), col("gram"),
            col("__k")),
        state)
      .select(col("doc_id"), col("pos").as("ti"), col("is_keeper"))
    tokenOutput(docs.filter(col("doc_id") >= cut),
      tok.filter(col("doc_id") >= cut), tokenSpans(dup))
  }

  /** Oracle: replay the BPE training+encode (the q125/q127 shared CTE
    * chain), rebuild the token table with the same (widx, sidx) order
    * and char offsets, group the literal joined token runs, and run the
    * q211 span/reassembly tail over the mapped char intervals. */
  lazy val oracleQ215: String = tokenOracle(deltaOnly = false)

  /** q217's oracle IS q215's restricted to the delta — the incremental
    * ≡ batch contract as a relation (the q213/q211 pattern). */
  lazy val oracleQ217: String = tokenOracle(deltaOnly = true)

  private def tokenOracle(deltaOnly: Boolean): String = {
    val R = Curation.BpeRounds
    val cutCte = if (deltaOnly)
      "cutq AS (\n  SELECT max(doc_id) * 7 // 10 AS c FROM documents\n), "
    else ""
    val deltaFrom = if (deltaOnly) ", cutq" else ""
    val deltaWhere = if (deltaOnly) "WHERE n.doc_id >= cutq.c\n" else ""
    s"""${Curation.bpeCtes},
       |$cutCte
       |nd AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), capg AS (
       |  SELECT CASE WHEN max(len(t)) > $PosCap THEN error(
       |    'position cap $PosCap exceeded') ELSE 1 END AS ok
       |  FROM nd
       |), tokw AS MATERIALIZED (
       |  SELECT doc_id, u.s.widx AS widx, u.s.word AS word
       |  FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM nd), capg,
       |       unnest(list_transform(range(1, len(ws) + 1),
       |         i -> struct_pack(widx := i, word := ws[i]))) u(s)
       |  WHERE capg.ok = 1
       |), wsta AS (
       |  SELECT doc_id, widx, word,
       |    COALESCE(SUM(len(word) + 1) OVER (PARTITION BY doc_id
       |      ORDER BY widx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wstart
       |  FROM tokw
       |), toks AS MATERIALIZED (
       |  SELECT w2.doc_id, w2.widx, w2.wstart, u.s.sidx AS sidx, u.s.sym AS sym
       |  FROM wsta w2
       |  JOIN (SELECT word, string_split(sp, ' ') AS syms FROM s$R) v
       |    USING (word),
       |    unnest(list_transform(range(1, len(v.syms) + 1),
       |      i -> struct_pack(sidx := i, sym := v.syms[i]))) u(s)
       |), tk AS MATERIALIZED (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY widx, sidx) - 1
       |      AS ti,
       |    sym,
       |    wstart + COALESCE(SUM(len(sym)) OVER (PARTITION BY doc_id, widx
       |      ORDER BY sidx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS tstart
       |  FROM toks
       |), ntok AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tk
       |  GROUP BY doc_id
       |), tg AS MATERIALIZED (
       |  SELECT doc_id, ti,
       |    string_agg(sym, ' ') OVER (PARTITION BY doc_id ORDER BY ti
       |      ROWS BETWEEN CURRENT ROW AND ${TokGramL - 1} FOLLOWING) AS gram,
       |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY ti
       |      ROWS BETWEEN CURRENT ROW AND ${TokGramL - 1} FOLLOWING) AS gcnt
       |  FROM tk
       |), tgf AS (
       |  SELECT doc_id, ti, gram FROM tg WHERE gcnt = $TokGramL
       |), tgrp AS (
       |  SELECT gram, MIN(doc_id * $PosCap + ti) AS kmin, COUNT(*) AS c
       |  FROM tgf GROUP BY gram
       |), tdup AS MATERIALIZED (
       |  SELECT g2.doc_id, g2.ti
       |  FROM tgf g2 JOIN tgrp USING (gram)
       |  WHERE tgrp.c >= 2 AND g2.doc_id * $PosCap + g2.ti <> tgrp.kmin
       |), tisl AS (
       |  SELECT doc_id, ti,
       |    SUM(CASE WHEN prev IS NULL OR ti - prev > $TokGramL
       |      THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY ti) AS island
       |  FROM (SELECT doc_id, ti,
       |          lag(ti) OVER (PARTITION BY doc_id ORDER BY ti) AS prev
       |        FROM tdup)
       |), tspan AS MATERIALIZED (
       |  SELECT doc_id, island, MIN(ti) AS ts, MAX(ti) + $TokGramL AS te
       |  FROM tisl GROUP BY doc_id, island
       |), tsagg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |    CAST(SUM(te - ts) AS BIGINT) AS dup_tokens
       |  FROM tspan GROUP BY doc_id
       |), cspan AS MATERIALIZED (
       |  SELECT sp.doc_id, a.tstart AS s, b.tstart + len(b.sym) AS e
       |  FROM tspan sp
       |  JOIN tk a ON a.doc_id = sp.doc_id AND a.ti = sp.ts
       |  JOIN tk b ON b.doc_id = sp.doc_id AND b.ti = sp.te - 1
       |), csagg AS (
       |  SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS dup_chars FROM cspan
       |  GROUP BY doc_id
       |), chars AS MATERIALIZED (
       |  SELECT nd.doc_id, CAST(j AS BIGINT) AS pos,
       |    substr(t, CAST(j + 1 AS INT), 1) AS ch
       |  FROM nd, range(0, $PosCap) r(j), capg
       |  WHERE capg.ok = 1 AND j < len(t)
       |), keptc AS (
       |  SELECT c.doc_id, c.pos, c.ch
       |  FROM chars c
       |  WHERE NOT EXISTS (SELECT 1 FROM cspan sp
       |    WHERE sp.doc_id = c.doc_id AND c.pos >= sp.s AND c.pos < sp.e)
       |), kept AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_len,
       |    md5(string_agg(ch, '' ORDER BY pos)) AS fp
       |  FROM keptc GROUP BY doc_id
       |)
       |SELECT n.doc_id, CAST(len(n.t) AS BIGINT) AS doc_len, nt.n_tokens,
       |  COALESCE(a.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  COALESCE(a.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
       |  COALESCE(cs.dup_chars, CAST(0 AS BIGINT)) AS dup_chars,
       |  COALESCE(k.kept_len, CAST(0 AS BIGINT)) AS kept_len,
       |  k.fp AS kept_fp
       |FROM nd n
       |JOIN ntok nt USING (doc_id)
       |LEFT JOIN tsagg a USING (doc_id)
       |LEFT JOIN csagg cs USING (doc_id)
       |LEFT JOIN kept k USING (doc_id)$deltaFrom
       |${deltaWhere}ORDER BY n.doc_id""".stripMargin
  }

  /** The oracle needs no doubling replay: a corpus rank group at level
    * log2(L) IS the set of positions sharing an exact L-gram, so DuckDB
    * groups by the gram string directly — same partition, same keeper,
    * same spans, same reassembled bytes. */
  lazy val oracleQ211: String =
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
       |  FROM documents
       |), capg AS (
       |  SELECT CASE WHEN max(len(t)) > $PosCap THEN error(
       |    'position cap $PosCap exceeded') ELSE 1 END AS ok
       |  FROM norm
       |), g AS MATERIALIZED (
       |  SELECT doc_id, CAST(j AS BIGINT) AS pos,
       |    substr(t, CAST(j + 1 AS INT), $DupGramL) AS gram
       |  FROM norm, range(0, $PosCap) r(j), capg
       |  WHERE capg.ok = 1 AND j + $DupGramL <= len(t)
       |), grp AS (
       |  SELECT gram, MIN(doc_id * $PosCap + pos) AS kmin, COUNT(*) AS c
       |  FROM g GROUP BY gram
       |), dup AS MATERIALIZED (
       |  SELECT g.doc_id, g.pos
       |  FROM g JOIN grp USING (gram)
       |  WHERE grp.c >= 2 AND g.doc_id * $PosCap + g.pos <> grp.kmin
       |), isl AS (
       |  SELECT doc_id, pos,
       |    SUM(CASE WHEN prev IS NULL OR pos - prev > $DupGramL
       |      THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM (SELECT doc_id, pos,
       |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |        FROM dup)
       |), spans AS MATERIALIZED (
       |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + $DupGramL AS e
       |  FROM isl GROUP BY doc_id, island
       |), agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |    CAST(SUM(e - s) AS BIGINT) AS dup_chars
       |  FROM spans GROUP BY doc_id
       |), chars AS MATERIALIZED (
       |  SELECT norm.doc_id, CAST(j AS BIGINT) AS pos,
       |    substr(t, CAST(j + 1 AS INT), 1) AS ch
       |  FROM norm, range(0, $PosCap) r(j), capg
       |  WHERE capg.ok = 1 AND j < len(t)
       |), keptc AS (
       |  SELECT c.doc_id, c.pos, c.ch
       |  FROM chars c
       |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
       |    WHERE sp.doc_id = c.doc_id AND c.pos >= sp.s AND c.pos < sp.e)
       |), kept AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_len,
       |    md5(string_agg(ch, '' ORDER BY pos)) AS fp
       |  FROM keptc GROUP BY doc_id
       |)
       |SELECT n.doc_id, CAST(len(n.t) AS BIGINT) AS doc_len,
       |  COALESCE(a.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |  COALESCE(a.dup_chars, CAST(0 AS BIGINT)) AS dup_chars,
       |  COALESCE(k.kept_len, CAST(0 AS BIGINT)) AS kept_len,
       |  k.fp AS kept_fp
       |FROM norm n
       |LEFT JOIN agg a USING (doc_id)
       |LEFT JOIN kept k USING (doc_id)
       |ORDER BY n.doc_id""".stripMargin
}
