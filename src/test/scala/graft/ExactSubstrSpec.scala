package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.queries.{Curation, ExactSubstr}

/** Semantic pins for the corpus-level ExactSubstr program (q211) and its
  * relationship to q88's k-gram-hash approximation:
  *
  *  1. EXACTNESS — the suffix-rank dup-gram detection must equal brute-
  *     force grouping of the literal L-gram strings, position for
  *     position, keeper for keeper. This is what "no hashing, no
  *     collisions" means operationally.
  *  2. KEEP-FIRST — every duplicated gram group has exactly one keeper
  *     and it is the globally smallest (doc, pos).
  *  3. CONTAINMENT vs q88 — a cross-document duplicated
  *     [[Curation.DupSpanK]]-gram contains only duplicated
  *     [[ExactSubstr.DupGramL]]-grams (L < K), so every char q88's
  *     spans cover must be covered by q211's dup-gram intervals
  *     (keepers included — q88 flags all occurrences, q211's removal
  *     exempts the first). Also q88's per-doc dup_chars must equal the
  *     brute-force cross-doc K-gram coverage — tying the hash
  *     approximation to the exact structure on this corpus.
  */
class ExactSubstrSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Normalized corpus as a local map — sf0.001, bounded test input. */
  private lazy val norm: Map[Long, String] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.Text.normalize(col("text")).as("t"))
      .as[(Long, String)].collect().toMap
  }

  private def normDocsDf = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.Text.normalize(col("text")).as("text"))
  }

  /** Brute force: every position of every L-gram occurring ≥ 2 times,
    * with the keep-first flag. */
  private def bruteDup(l: Int): Map[(Long, Long), Boolean] = {
    val occ = scala.collection.mutable.Map[String, List[(Long, Long)]]()
    norm.foreach { case (d, t) =>
      var p = 0
      while (p + l <= t.length) {
        val g = t.substring(p, p + l)
        occ(g) = (d, p.toLong) :: occ.getOrElse(g, Nil)
        p += 1
      }
    }
    occ.values.filter(_.size >= 2).flatMap { os =>
      val mn = os.minBy { case (d, p) => d * ExactSubstr.PosCap + p }
      os.map(o => o -> (o == mn))
    }.toMap
  }

  /** Brute force: positions of K-grams occurring in ≥ 2 DISTINCT docs
    * (q88's cross-document criterion). */
  private def bruteCrossDoc(k: Int): Set[(Long, Long)] = {
    val occ = scala.collection.mutable.Map[String, List[(Long, Long)]]()
    norm.foreach { case (d, t) =>
      var p = 0
      while (p + k <= t.length) {
        val g = t.substring(p, p + k)
        occ(g) = (d, p.toLong) :: occ.getOrElse(g, Nil)
        p += 1
      }
    }
    occ.values.filter(os => os.map(_._1).distinct.size >= 2)
      .flatten.toSet
  }

  private def coverage(pos: Iterable[(Long, Long)], l: Int): Set[(Long, Long)] =
    pos.flatMap { case (d, p) => (p until p + l).map(c => (d, c)) }.toSet

  private lazy val got: Map[(Long, Long), Boolean] = {
    import spark.implicits._
    ExactSubstr.dupGramPositions(spark, normDocsDf)
      .select(col("doc_id"), col("pos"), col("is_keeper"))
      .as[(Long, Long, Boolean)].collect()
      .map { case (d, p, k) => (d, p) -> k }.toMap
  }

  test("dup-gram positions equal brute-force L-gram grouping, keeper for keeper") {
    val want = bruteDup(ExactSubstr.DupGramL)
    assert(got.size == want.size)
    assert(got == want)
    assert(got.nonEmpty, "fixture corpus has no duplicated grams — test is vacuous")
  }

  test("exactly one keeper per duplicated gram group") {
    import spark.implicits._
    val groups = ExactSubstr.dupGramPositions(spark, normDocsDf)
      .groupBy(col("gid"))
      .agg(count(when(col("is_keeper"), 1)).as("nk"),
        min(col("doc_id") * ExactSubstr.PosCap + col("pos")).as("mn"),
        min(when(col("is_keeper"),
          col("doc_id") * ExactSubstr.PosCap + col("pos"))).as("kk"))
      .as[(Long, Long, Long, Long)].collect()
    assert(groups.forall(g => g._2 == 1L), "a gram group without exactly one keeper")
    assert(groups.forall(g => g._3 == g._4), "a keeper that is not the min (doc,pos)")
  }

  test("q88's span coverage is contained in the exact dup-gram structure") {
    val k = Curation.DupSpanK
    val cross = bruteCrossDoc(k)
    // q88's hash-based flags == the exact cross-doc structure on this
    // corpus (no 60-bit collisions at this size): per-doc dup_chars must
    // equal the brute-force coverage size
    import spark.implicits._
    val q88 = Curation.q88DupSpans(spark, dir)
      .select(col("doc_id"), col("dup_chars"))
      .as[(Long, Long)].collect().toMap
    val cov40 = coverage(cross, k)
    val cov40PerDoc = cov40.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(q88 == cov40PerDoc,
      "q88 hash spans diverge from exact cross-doc K-gram coverage")
    // CONTAINMENT: the K-gram coverage lies inside the L-gram dup
    // coverage (keepers included)
    val cov16 = coverage(got.keys, ExactSubstr.DupGramL)
    assert(cov40.subsetOf(cov16),
      "q88-covered chars escape the suffix-rank dup-gram coverage")
    assert(cross.nonEmpty, "no cross-doc duplicate spans in fixture — vacuous")
  }

  test("incremental absorb (q213) equals the batch rebuild (q211) on delta docs") {
    val cut = ExactSubstr.splitId(normDocsDf)
    val batch = ExactSubstr.q211ExactSubstrDedup(spark, dir)
      .filter(col("doc_id") >= cut).collect().toSeq
    val incr = ExactSubstr.q213IncrementalExactSubstr(spark, dir)
      .collect().toSeq
    assert(incr.nonEmpty)
    assert(incr == batch,
      "incremental state-join absorb diverged from the batch keep-first")
  }

  test("streaming absorb is batch-boundary invariant: 1-batch and 3-batch splits equal q211") {
    import graft.streaming.{StreamExactSubstr, StreamRunner}
    import graft.streaming.StreamExactSubstr.SDoc
    import spark.implicits._
    val batch = queries.ExactSubstr.q211ExactSubstrDedup(spark, dir)
      .collect().toSeq
    def streamed(nBatches: Int): Seq[org.apache.spark.sql.Row] = {
      val docs = normDocsDf.orderBy(col("doc_id")).as[SDoc].collect().toSeq
      val a = new StreamExactSubstr.Absorber
      // the runner streams at Session.StreamStateWidth (8)
      StreamRunner.foreachBatch(spark,
        docs.grouped(math.max(1, docs.length / nBatches)).toSeq)(a.absorb)
      a.results.orderBy(col("doc_id")).collect().toSeq
    }
    assert(streamed(1) == batch, "single-batch stream diverged from q211")
    assert(streamed(3) == batch, "3-batch stream diverged from q211")
  }

  // ---------------------------------------------------------------------
  // Capacity-lift pins (round 13): documents LONGER than the oracle's
  // PosCap/2^SaRounds bound must dedup exactly — struct(doc_id, pos)
  // keep-first keys (no scalar encode) and data-derived doubling rounds.

  /** Long-doc fixture: planted 80-char duplicate across three docs (one
    * twice), placed so the RETIRED scalar keeper encode (doc·1024+pos)
    * would pick doc 2 (key 2·1024+100) over the lexicographic first
    * occurrence in doc 1 at pos 1500 — the ordering the struct key must
    * get right. All docs exceed the 1024-char oracle bound. */
  private lazy val longDocs: Map[Long, String] = {
    val rnd = new scala.util.Random(42)
    def blob(n: Int) = Array.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val common = blob(80)
    Map(
      1L -> (blob(1500) + common + blob(900)),
      2L -> (blob(100) + common + blob(1900)),
      3L -> blob(1100),
      4L -> (common + blob(1100) + common))
  }

  private def longDocsDf = {
    import spark.implicits._
    longDocs.toSeq.sortBy(_._1).toDF("doc_id", "text")
  }

  /** Brute-force dup grams over an arbitrary corpus map, keep-first by
    * LEXICOGRAPHIC (doc_id, pos). */
  private def bruteDupLex(corpus: Map[Long, String],
                          l: Int): Map[(Long, Long), Boolean] = {
    val occ = scala.collection.mutable.Map[String, List[(Long, Long)]]()
    corpus.foreach { case (d, t) =>
      var p = 0
      while (p + l <= t.length) {
        occ(t.substring(p, p + l)) = (d, p.toLong) :: occ.getOrElse(
          t.substring(p, p + l), Nil)
        p += 1
      }
    }
    occ.values.filter(_.size >= 2).flatMap { os =>
      val mn = os.min
      os.map(o => o -> (o == mn))
    }.toMap
  }

  test("long docs: dup grams + keepers exact past the 1024-char oracle bound") {
    import spark.implicits._
    assert(longDocs.values.forall(_.length > ExactSubstr.PosCap),
      "fixture must exceed the oracle position bound")
    val want = bruteDupLex(longDocs, ExactSubstr.DupGramL)
    val got = ExactSubstr.dupGramPositions(spark, longDocsDf)
      .select(col("doc_id"), col("pos"), col("is_keeper"))
      .as[(Long, Long, Boolean)].collect()
      .map { case (d, p, k) => (d, p) -> k }.toMap
    assert(got == want)
    // the planted ordering trap: keeper of the common blob is doc 1
    // (lexicographic first), not doc 2 (scalar-encode first)
    assert(got((1L, 1500L)), "doc 1 @1500 must be the keeper")
    assert(!got((2L, 100L)), "doc 2 @100 must NOT be the keeper")
  }

  test("long docs: full pipeline reassembly matches brute-force span cuts") {
    import spark.implicits._
    val l = ExactSubstr.DupGramL
    val want = bruteDupLex(longDocs, l)
    // brute spans: islands of non-keeper positions at gap <= L
    def spans(d: Long): List[(Long, Long)] = {
      val ps = want.collect { case ((`d`, p), false) => p }.toList.sorted
      ps.foldLeft(List.empty[(Long, Long)]) {
        case (Nil, p) => List((p, p + l))
        case ((s, e) :: tl, p) =>
          // island rule: extend while gap to the previous START <= L
          if (p - (e - l) <= l) (s, p + l) :: tl
          else (p, p + l) :: (s, e) :: tl
      }.reverse
    }
    val wantRows = longDocs.keys.toList.sorted.map { d =>
      val t = longDocs(d)
      val sp = spans(d)
      val kept = {
        val sb = new StringBuilder
        var c = 0L
        sp.foreach { case (s, e) =>
          sb.append(t.substring(c.toInt, s.toInt)); c = e
        }
        sb.append(t.substring(c.toInt)); sb.toString
      }
      (d, t.length.toLong, sp.size.toLong, sp.map(x => x._2 - x._1).sum,
        kept.length.toLong, kept)
    }
    val got = ExactSubstr.applySpans(longDocsDf,
      ExactSubstr.dupGramPositions(spark, longDocsDf))
      .select(col("doc_id"), col("doc_len"), col("n_spans"),
        col("dup_chars"), col("kept_len"), col("kept_fp"))
      .as[(Long, Long, Long, Long, Long, String)].collect().toList
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)) ==
      wantRows.map(r => (r._1, r._2, r._3, r._4, r._5)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(x: String) =
      md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.map(_._6) == wantRows.map(r => md5hex(r._6)),
      "reassembled kept-text fingerprints diverge from brute force")
    assert(wantRows.exists(_._4 > 0), "fixture removed nothing — vacuous")
  }

  test("long docs: total and level-4 corpus ranks equal brute dense ranks") {
    import spark.implicits._
    import graft.queries.SuffixArray
    def ranks(level: Int, total: Boolean) =
      SuffixArray.corpusRanks(spark, longDocsDf, level, total)
        .select(col("doc_id"), col("pos"), col("r"))
        .as[(Long, Long, Long)].collect()
    val sufs = longDocs.toSeq.flatMap { case (d, t) =>
      (0 until t.length).map(p => ((d, p.toLong), t.substring(p)))
    }
    // brute: dense rank of each key among the DISTINCT keys, in string
    // order (a shorter key sorts before its extensions — the end padding)
    def bruteDense(key: String => String): Map[(Long, Long), Long] = {
      val rankOf = sufs.map(x => key(x._2)).distinct.sorted.zipWithIndex
        .map { case (s, i) => s -> (i + 1L) }.toMap
      sufs.map { case (k, s) => k -> rankOf(key(s)) }.toMap
    }
    val wantTotal = bruteDense(identity)
    val got = ranks(SuffixArray.SaRounds, total = true)
    assert(got.length == sufs.length && got.forall { case (d, p, r) =>
      wantTotal((d, p)) == r },
      "corpus suffix ranks diverge from brute-force suffix sort")
    // level 4: dense rank of each suffix's 16-char prefix
    val want16 = bruteDense(_.take(16))
    val lvl4 = ranks(4, total = false)
    assert(lvl4.length == sufs.length && lvl4.forall { case (d, p, r) =>
      want16((d, p)) == r },
      "level-4 ranks diverge from the brute dense rank of 16-char prefixes")
  }

  test("reassembly conserves chars: kept_len + dup_chars == doc_len") {
    import spark.implicits._
    val rows = ExactSubstr.q211ExactSubstrDedup(spark, dir)
      .select(col("doc_id"), col("doc_len"), col("n_spans"),
        col("dup_chars"), col("kept_len"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (d, n, _, dup, kept) =>
      assert(kept + dup == n, s"doc $d: kept $kept + removed $dup != len $n")
    }
    assert(rows.exists(_._4 > 0), "no doc had spans removed — vacuous")
  }
}
