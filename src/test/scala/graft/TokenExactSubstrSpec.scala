package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.queries.ExactSubstr

/** Semantic pins for TOKEN-level ExactSubstr (q215) — dedup over BPE
  * token runs, the unit Lee et al. 2022 actually use — and its tie to
  * the char-level structure (q211):
  *
  *  1. EXACTNESS — token-gram dup detection must equal brute-force
  *     grouping of the literal joined token runs, position for position,
  *     keeper for keeper, with the brute tokenization replayed from the
  *     SAME trained vocabulary the operator used.
  *  2. KEEP-FIRST — one keeper per duplicated token-gram group, the
  *     lexicographically smallest (doc, ti).
  *  3. CHAR TIE — on a word-aligned planted duplicate (both occurrences
  *     share their word-boundary pattern, so identical token runs are
  *     identical char substrings), every duplicated token gram whose
  *     char span reaches [[ExactSubstr.DupGramL]] chars is a duplicated
  *     char substring — so its chars sit INSIDE the char-level dup-gram
  *     coverage of [[ExactSubstr.dupGramPositions]]. (This is exactly
  *     the containment that does NOT hold for arbitrary corpora — the
  *     same token run can span different word boundaries — which is why
  *     token-level dedup is its own operator, not a projection of the
  *     char-level one.)
  *  4. CONSERVATION — on the gate corpus, kept_len + dup_chars equals
  *     doc_len for every document.
  */
class TokenExactSubstrSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Planted fixture (already in normalized form): a 14-word phrase
    * duplicated word-aligned across docs 1 and 2 (and twice in doc 4),
    * surrounded by unique filler words so no accidental dup grams form
    * outside the planted region. */
  private val phrase =
    "the quick brown fox jumps over the lazy dog again and again today ok"
  private lazy val fixture: Map[Long, String] = {
    val rnd = new scala.util.Random(7)
    def filler(n: Int) = (0 until n)
      .map(_ => Array.fill(5)(('a' + rnd.nextInt(26)).toChar).mkString)
      .mkString(" ")
    Map(
      1L -> s"${filler(6)} $phrase ${filler(5)}",
      2L -> s"${filler(4)} $phrase ${filler(7)}",
      3L -> filler(20),
      4L -> s"$phrase ${filler(9)} $phrase")
  }

  private def fixtureDf = {
    import spark.implicits._
    fixture.toSeq.sortBy(_._1).toDF("doc_id", "text")
  }

  /** The trained vocab on the fixture, collected for brute-force use. */
  private lazy val vocabMap: Map[String, String] = {
    import spark.implicits._
    graft.operators.Bpe
      .trainAndEncode(fixtureDf, "text", graft.queries.Curation.BpeRounds)
      ._2.select(col("word"), col("encoded"))
      .as[(String, String)].collect().toMap
  }

  /** Brute token table: (ti, sym, tstart, tend) per doc. */
  private def bruteToks(t: String): Vector[(String, Long, Long)] = {
    val out = Vector.newBuilder[(String, Long, Long)]
    var cs = 0L
    t.split(" ", -1).foreach { w =>
      var off = 0L
      vocabMap(w).split(" ", -1).foreach { sym =>
        out += ((sym, cs + off, cs + off + sym.length))
        off += sym.length
      }
      cs += w.length + 1
    }
    out.result()
  }

  /** Brute dup token-gram positions with keep-first flag. */
  private def bruteTokDup(l: Int): Map[(Long, Long), Boolean] = {
    val occ = scala.collection.mutable.Map[String, List[(Long, Long)]]()
    fixture.foreach { case (d, t) =>
      val tk = bruteToks(t)
      var i = 0
      while (i + l <= tk.length) {
        val g = tk.slice(i, i + l).map(_._1).mkString(" ")
        occ(g) = (d, i.toLong) :: occ.getOrElse(g, Nil)
        i += 1
      }
    }
    occ.values.filter(_.size >= 2).flatMap { os =>
      val mn = os.min
      os.map(o => o -> (o == mn))
    }.toMap
  }

  private lazy val gotDup: Map[(Long, Long), Boolean] = {
    import spark.implicits._
    val vocab = graft.operators.Bpe
      .trainAndEncode(fixtureDf, "text", graft.queries.Curation.BpeRounds)._2
    ExactSubstr.tokenDupPositions(
        ExactSubstr.tokenTable(fixtureDf, vocab))
      .select(col("doc_id"), col("ti"), col("is_keeper"))
      .as[(Long, Long, Boolean)].collect()
      .map { case (d, p, k) => (d, p) -> k }.toMap
  }

  test("token dup grams equal brute-force token-run grouping, keeper for keeper") {
    val want = bruteTokDup(ExactSubstr.TokGramL)
    assert(want.nonEmpty, "fixture has no duplicated token grams — vacuous")
    assert(gotDup == want)
    // keep-first: doc 1's first in-phrase gram wins over docs 2 and 4
    val keepers = want.filter(_._2).keys
    assert(keepers.forall(_._1 == 1L),
      "every planted keeper must sit in doc 1 (the lexicographic first)")
  }

  test("duplicated token runs spanning >= DupGramL chars live inside the char-level dup coverage") {
    val l = ExactSubstr.TokGramL
    // char coverage of the CHAR-level dup structure (keepers included)
    import spark.implicits._
    val charDup = ExactSubstr.dupGramPositions(spark, fixtureDf)
      .select(col("doc_id"), col("pos"))
      .as[(Long, Long)].collect()
    val charCov = charDup.flatMap { case (d, p) =>
      (p until p + ExactSubstr.DupGramL).map(c => (d, c))
    }.toSet
    assert(charCov.nonEmpty)
    var checked = 0
    gotDup.keys.foreach { case (d, ti) =>
      val tk = bruteToks(fixture(d))
      val s = tk(ti.toInt)._2
      val e = tk(ti.toInt + l - 1)._3
      if (e - s >= ExactSubstr.DupGramL) {
        checked += 1
        (s until e).foreach { c =>
          assert(charCov.contains((d, c)),
            s"doc $d char $c of dup token gram @$ti escapes char-level coverage")
        }
      }
    }
    assert(checked > 0, "no dup token gram spanned DupGramL chars — vacuous")
  }

  test("incremental token absorb (q217) equals the batch q215 on delta docs") {
    val norm = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.Text.normalize(col("text")).as("text"))
    val cut = ExactSubstr.splitId(norm)
    val batch = ExactSubstr.q215TokenExactSubstr(spark, dir)
      .filter(col("doc_id") >= cut).collect().toSeq
    val incr = ExactSubstr.q217IncrTokenExactSubstr(spark, dir)
      .collect().toSeq
    assert(incr.nonEmpty)
    assert(incr == batch,
      "incremental token-state absorb diverged from the batch keep-first")
  }

  test("q215 conserves chars on the gate corpus: kept_len + dup_chars == doc_len") {
    import spark.implicits._
    val rows = ExactSubstr.q215TokenExactSubstr(spark, dir)
      .select(col("doc_id"), col("doc_len"), col("n_tokens"),
        col("dup_tokens"), col("dup_chars"), col("kept_len"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (d, n, nt, dt, dc, kept) =>
      assert(kept + dc == n, s"doc $d: kept $kept + removed $dc != len $n")
      assert(dt <= nt, s"doc $d: removed more tokens than it has")
    }
    assert(rows.exists(_._4 > 0), "no doc had token spans removed — vacuous")
  }

  test("frozen vocab: q215 reading an artifact written by a PRIOR step equals the default path") {
    import spark.implicits._
    // the explicit production prior step: train once, persist the table
    val artifact = java.nio.file.Files
      .createTempDirectory("graft_vocab_spec").resolve("vocab").toString
    ExactSubstr.writeVocabArtifact(spark, dir, artifact)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("kept_fp"), col("n_tokens"),
        col("dup_tokens"))
        .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    val fromArtifact =
      rows(ExactSubstr.q215TokenExactSubstrFrom(spark, dir, artifact))
    val default = rows(ExactSubstr.q215TokenExactSubstr(spark, dir))
    assert(fromArtifact.nonEmpty && fromArtifact == default,
      "persisted-vocab q215 diverged from the trained-in-line result")
  }

  test("frozen vocab: the default path trains ONCE per corpus and reads the artifact after") {
    // both q215 and q217 resolve the same cached artifact; a second
    // query must not retrain (the artifact file set is untouched)
    val p1 = ExactSubstr.vocabArtifactFor(spark, dir)
    def snapshot(p: String) = {
      val d = new java.io.File(p)
      d.listFiles().map(f => (f.getName, f.lastModified(), f.length()))
        .toSeq.sortBy(_._1)
    }
    val before = snapshot(p1)
    ExactSubstr.q215TokenExactSubstr(spark, dir).count()
    ExactSubstr.q217IncrTokenExactSubstr(spark, dir).count()
    val p2 = ExactSubstr.vocabArtifactFor(spark, dir)
    assert(p1 == p2, "artifact path not stable per corpus")
    assert(snapshot(p2) == before,
      "a query call rewrote the vocab artifact — retraining happened")
  }

  test("frozen vocab: a corpse fin dir (no _SUCCESS) heals; a valid one is never cleared") {
    import java.nio.file._
    // a private corpus so the corpse cannot collide with other tests'
    // artifacts: copy the real sf0.001 documents table
    val corpus = Files.createTempDirectory("graft_corpse_corpus")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      corpus.resolve("documents.parquet"))
    val fin = ExactSubstr.vocabArtifactPath(corpus.toString)
    // plant the corpse: a fin dir with junk and NO _SUCCESS (the tmp
    // reaper ate the marker, or a foreign dir squatted the fixed name)
    Files.createDirectories(fin)
    Files.writeString(fin.resolve("junk.bin"), "not a vocab")
    val p1 = ExactSubstr.vocabArtifactFor(spark, corpus.toString)
    assert(p1 == fin.toString)
    assert(Files.exists(fin.resolve("_SUCCESS")),
      "the corpse must be cleared and a fresh artifact installed")
    assert(!Files.exists(fin.resolve("junk.bin")),
      "the corpse's content must not survive into the artifact")
    assert(spark.read.parquet(p1).count() > 0, "artifact must be readable")
    // and a VALID artifact is never cleared or retrained
    def snap = Files.list(fin).toArray.map(_.toString).sorted.toSeq ->
      fin.resolve("_SUCCESS").toFile.lastModified()
    val before = snap
    assert(ExactSubstr.vocabArtifactFor(spark, corpus.toString) == p1)
    assert(snap == before, "a valid artifact was rewritten")
    graft.operators.Upsert.rmTree(fin.getParent.toFile)
    graft.operators.Upsert.rmTree(corpus.toFile)
  }

  test("frozen vocab: a regenerated corpus changes the fingerprint, so no stale-vocab reads") {
    // the round-14 advice: /tmp corpora are REBUILT between probe runs
    // at the same path — an artifact keyed on the dir alone would
    // silently tokenize round N+1's corpus with round N's vocabulary.
    // The artifact identity is (dir, content fingerprint): touching any
    // documents.parquet data file moves the artifact path.
    val corpus = java.nio.file.Files.createTempDirectory("graft_fp_corpus")
    val docsDir = corpus.resolve("documents.parquet")
    java.nio.file.Files.createDirectories(docsDir)
    val f = docsDir.resolve("part-00000.parquet")
    java.nio.file.Files.writeString(f, "fake-parquet-bytes")
    val fp1 = ExactSubstr.corpusFingerprint(corpus.toString)
    val path1 = ExactSubstr.vocabArtifactPath(corpus.toString)
    // same content, same identity
    assert(ExactSubstr.corpusFingerprint(corpus.toString) == fp1)
    // the rebuild: same path, new mtime (content regenerated)
    f.toFile.setLastModified(f.toFile.lastModified() + 12345L)
    val fp2 = ExactSubstr.corpusFingerprint(corpus.toString)
    assert(fp2 != fp1, "regenerated corpus kept the old fingerprint")
    assert(ExactSubstr.vocabArtifactPath(corpus.toString) != path1,
      "regenerated corpus would read the stale vocab artifact")
    // size changes move it too
    java.nio.file.Files.writeString(f, "fake-parquet-bytes-longer")
    assert(ExactSubstr.corpusFingerprint(corpus.toString) != fp2)
  }
}
