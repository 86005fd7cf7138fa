package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Technical
import graft.operators.{Skew, Upsert}

/** Property tests for the kernel/operator invariants SURVEY §5 calls out:
  * upsert idempotence, SMA window-count guards, jaccard bounds, salted
  * aggregation equivalence, JS-round stability. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Deterministic sampling driver over ScalaCheck generators (the
    * scalatest-scalacheck bridge isn't on the offline classpath). */
  private def forSamples[A](g: Gen[A], n: Int = 20)(f: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    var seed = seed0
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 20) {
      g.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > 0, "generator produced no samples")
  }

  val priceGen: Gen[List[Double]] =
    Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1.0, 10000.0).map(v =>
        math.floor(v * 100) / 100)))

  test("sma: defined exactly from index period-1; mean of its window") {
    forSamples(Gen.zip(priceGen, Gen.chooseNum(1, 30))) { case (xs, period) =>
      val out = Technical.sma(xs.toArray, period)
      xs.indices.foreach { i =>
        if (i < period - 1) assert(out(i).isEmpty)
        else {
          assert(out(i).isDefined)
          val expect = xs.slice(i - period + 1, i + 1).sum / period
          assert(math.abs(out(i).get - expect) < 1e-6)
        }
      }
    }
  }

  test("ema/rsi defined iff enough bars; rsi within [0,100]") {
    forSamples(priceGen) { xs =>
      val r = Technical.rsi(xs.toArray, 14)
      xs.indices.foreach { i =>
        if (i < 14) assert(r(i).isEmpty)
        else {
          assert(r(i).isDefined)
          assert(r(i).get >= 0.0 && r(i).get <= 100.0)
        }
      }
    }
  }

  test("jsRound: idempotent and within half-ulp of target granularity") {
    forSamples(Gen.zip(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(0, 6)), 50) { case (x, d) =>
      val once = Technical.jsRound(x, d).get
      val twice = Technical.jsRound(once, d).get
      assert(once == twice)
      assert(math.abs(once - x) <= math.pow(10.0, -d) / 2 + 1e-9)
    }
  }

  test("keyed upsert: idempotent, key-unique, latest wins") {
    import spark.implicits._
    forSamples(Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0, 20), Gen.chooseNum(0, 100))), 5) { pairs =>
      {
        val existing = pairs.toDF("k", "v")
        val incoming = pairs.map { case (k, v) => (k, v + 1000) }.toDF("k", "v")
        val up = Upsert.keyedLatest(existing, incoming, Seq("k"), "v")
        val rows = up.collect().map(r => r.getInt(0) -> r.getInt(1))
        // key-unique
        assert(rows.map(_._1).distinct.length == rows.length)
        // every value came from incoming (incoming wins)
        assert(rows.forall(_._2 >= 1000))
        // idempotent
        val again = Upsert.keyedLatest(up, incoming, Seq("k"), "v")
        assert(again.count() == up.count())
      }
    }
  }

  test("salted aggregation equals plain aggregation") {
    import spark.implicits._
    forSamples(Gen.listOfN(200,
      Gen.zip(Gen.oneOf("hot", "hot", "hot", "a", "b"),
        Gen.chooseNum(1, 1000))), 3) { rows =>
      {
        val df = rows.toDF("k", "v")
        val plain = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val salted = Skew.saltedAgg(df, Seq("k"), col("v"), buckets = 8,
            partialAggs = Seq(sum("v").as("ps"), count(lit(1)).as("pn")),
            finalAggs = Seq(sum("ps").as("s"), sum("pn").as("n")))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(salted == plain)
      }
    }
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val fact = (1 to 300).map(i => (if (i % 2 == 0) "hot" else s"k${i % 7}", i))
      .toDF("k", "v")
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k3", "B")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val salted = Skew.saltedJoin(fact, dim, Seq("k"), col("v"), buckets = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(salted == plain)
  }

  test("array-form Jaccard verify agrees with the exploded formulation") {
    import spark.implicits._
    val textGen: Gen[String] = Gen.chooseNum(5, 60).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("abcab")).map(_.mkString))
    forSamples(Gen.listOfN(12, textGen), n = 5) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val arrs = graft.operators.Dedup.shingleArrays(docs, "doc_id", "text", 3)
      val sh = arrs.select(col("doc_id"),
        explode(col("sharr")).as("shingle"))
      val ids = arrs.select(col("doc_id")).collect().map(_.getLong(0))
      val cand = ids.flatMap(a => ids.filter(_ > a).map(b => (a, b))).toSeq
        .toDF("id1", "id2")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("id1", "id2", "jaccard").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exploded = rows(graft.operators.Dedup.jaccardForCandidates(cand, sh, "doc_id"))
      // hashed-carrier formulation: same jaccard values and same minhash
      // signatures as the exploded string formulation (no 60-bit
      // collisions at these set sizes)
      val harrs = graft.operators.Dedup.shingleHashArrays(docs, "doc_id", "text", 3)
      val hashed = rows(graft.operators.Dedup.jaccardForCandidatesHashes(cand, harrs, "doc_id"))
      assert(exploded == hashed)
      def sigRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.toSeq).toSet
      assert(
        sigRows(graft.operators.Dedup.minhashSignatures(sh, "doc_id", 8)) ==
        sigRows(graft.operators.Dedup.minhashSignaturesFromHashes(harrs, "doc_id", 8)))
    }
  }

  test("ngram contamination invariants: bounds, identity, disjointness") {
    import spark.implicits._
    val wordGen = Gen.listOfN(12, Gen.oneOf("alpha", "bravo", "charlie",
      "delta", "echo", "foxtrot", "golf", "hotel")).map(_.mkString(" "))
    forSamples(Gen.listOfN(6, wordGen), n = 10) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val out = graft.operators.Dedup
        .ngramContamination(docs, docs, "doc_id", "text", 16)
        .collect()
      assert(out.length == texts.length)
      out.foreach { r =>
        val n = r.getAs[Long]("n_ngrams")
        val o = r.getAs[Long]("overlap_ngrams")
        val c = r.getAs[Double]("contamination")
        assert(n > 0 && o >= 0 && o <= n)
        // eval == train → every doc is fully contaminated by itself
        assert(c == 1.0)
      }
    }
  }

  test("bm25 and lm-score determinism: same input twice, identical bits") {
    val dir = "/root/testdata/sf0.001"
    val a = graft.queries.TextQueries.q71Bm25(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = graft.queries.TextQueries.q71Bm25(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
    val c = graft.queries.Curation.q72LmScore(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val d = graft.queries.Curation.q72LmScore(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(c == d)
  }

  test("business-day shift invariants: next is strictly later; +n then -n is identity on business days") {
    import spark.implicits._
    val cal = (1 to 31).map { i =>
      val d = java.time.LocalDate.of(2024, 3, i)
      (java.sql.Date.valueOf(d), d.getDayOfWeek.getValue <= 5)
    }.toDF("calendar_date", "is_business_day")
    val bdays = cal.filter(col("is_business_day"))
      .select(col("calendar_date").as("dt"))
    val nxt = graft.functions.BusinessDay.next(bdays, "dt", cal)
      .filter(col("next_business_day").isNotNull)
    assert(nxt.filter(col("next_business_day") <= col("dt")).count() == 0)
    val fwd = graft.functions.BusinessDay.addBusinessDays(bdays, "dt", cal, 3)
      .filter(col("shifted_day").isNotNull)
      .select(col("dt").as("d0"), col("shifted_day").as("dt"))
    val back = graft.functions.BusinessDay.addBusinessDays(fwd, "dt", cal, -3)
      .filter(col("shifted_day").isNotNull)
    assert(back.filter(col("shifted_day") =!= col("d0")).count() == 0)
    assert(back.count() > 0)
  }

  test("bloom filter: no false negatives, probe ≡ reference set math, merge = OR") {
    import graft.operators.BloomFilter
    import graft.operators.BloomFilter.{BloomBits, BloomK}
    forSamples(Gen.listOfN(200, Gen.chooseNum(0L, (1L << 60) - 1)), n = 5) { hs =>
      val members = hs.take(120).toSet
      val probes = hs.drop(120) ++ members.take(10)
      // build via the Aggregator's reduce/merge path, split into partials
      val (l, r) = members.splitAt(members.size / 2)
      def build(xs: Iterable[Long]) =
        xs.foldLeft(BloomFilter.Bloom60.zero)(BloomFilter.Bloom60.reduce)
      val bits = BloomFilter.Bloom60.merge(build(l), build(r))
      // reference: the set of positions, replayed with plain arithmetic
      val refBits = members.flatMap(h =>
        (0 until BloomK).map(i => BloomFilter.position(h, i)))
      assert(BloomFilter.setBitCount(bits) == refBits.size)
      probes.foreach { h =>
        val expect = (0 until BloomK).forall(i => refBits(BloomFilter.position(h, i)))
        assert(BloomFilter.mightContain(bits, h) == expect, s"h=$h")
        if (members(h)) assert(BloomFilter.mightContain(bits, h), s"false negative h=$h")
      }
      // positions stay in range for any 60-bit hash
      hs.foreach(h => (0 until BloomK).foreach { i =>
        val p = BloomFilter.position(h, i)
        assert(p >= 0 && p < BloomBits)
      })
    }
  }

  test("native normalize ≡ regexp composition on the corpus and adversarial inputs") {
    import spark.implicits._
    // every \s member in runs at every position, the non-\s whitespace
    // cousins (VT is \s in java.util.regex; NBSP/ideographic space are
    // NOT), case runs, empties, and non-ASCII (slow-path) forms
    val adversarial = Seq(
      "", " ", "   ", "\t", " \t ", "a", "A", "  Hello   WORLD  ",
      "\t\n\f\r mixed WS\r\n\t", "tab\tsep", "nl\nsep", "cr\rsep",
      "vtsep", "ff\fsep", "a  b   c    d", " lead", "trail ",
      "\tlead-tab", "trail-tab\t", "ALL CAPS WITH  DOUBLES",
      "nbsp kept", "ideo　kept", "café  FrançAIS",
      "日本語  テスト", "AbC  Éé",
      "punct,.!?  -- kept;:", "0123  456")
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).as[String].collect().toSeq
    val df = (adversarial ++ corpus).toDF("text")
    val mism = df.select(
        graft.functions.Text.normalize(col("text")).as("fast"),
        graft.functions.Text.normalizeReference(col("text")).as("ref"))
      .filter(not(col("fast") <=> col("ref")))
    assert(mism.count() == 0, mism.take(3).mkString("; "))
    // null passes through
    assert(Seq[String](null).toDF("text")
      .select(graft.functions.Text.normalize(col("text"))).first().isNullAt(0))
  }

  test("nfc: composes decomposed marks, fixes ASCII and already-NFC text, matches JDK Normalizer") {
    import spark.implicits._
    import graft.functions.NfcExpr
    import java.text.Normalizer
    val cases = Seq(
      "plain ascii stays", "", " ",
      "e\u0301clair a\u0300 la cre\u0300me", // decomposed -> composed
      "\u00e9clair \u00e0 la cr\u00e8me",      // already NFC -> unchanged
      "mixed \u00e9 and e\u0301", "\u65e5\u672c\u8a9e\u30c6\u30b9\u30c8",
      "A\u030aring = \u00c5",             // A+ring vs precomposed Aring
      "\ufb01 ligature kept",       // NFC (not NFKC) keeps U+FB01
      "q\u0307\u0323 reorder")               // combining-class reordering
    val got = cases.toDF("s")
      .select(NfcExpr(col("s")).as("n")).as[String].collect()
    val want = cases.map(Normalizer.normalize(_, Normalizer.Form.NFC))
    assert(got.toSeq == want)
    // already-normalized inputs come back verbatim (identity, incl. ASCII)
    assert(got(0) == cases(0) && got(4) == cases(4))
    // ligature must survive (distinguishes NFC from NFKC)
    assert(got(8).contains('ﬁ'))
    // null passes through
    assert(Seq[String](null).toDF("s")
      .select(NfcExpr(col("s"))).first().isNullAt(0))
  }

  test("coverage catch-up == reference set algebra on random ledgers") {
    import graft.sources.Coverage
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    // random ledger over a 40-day universe: each day independently
    // absent / success / success-empty / failed, random window + cap
    val entryGen = Gen.chooseNum(0, 3)
    val gen = for {
      states <- Gen.listOfN(40, entryGen)
      lookback <- Gen.chooseNum(1, 45)
      maxDays <- Gen.chooseNum(1, 10)
      todayOff <- Gen.chooseNum(20, 39)
    } yield (states, lookback, maxDays, todayOff)
    val calendar = spark.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf(day0)),
        lit(java.sql.Date.valueOf(day0.plusDays(39))))).as("day"))
      .withColumn("is_business_day", dayofweek(col("day")).between(2, 6))
    forSamples(gen, 12) { case (states, lookback, maxDays, todayOff) =>
      val today = java.sql.Date.valueOf(day0.plusDays(todayOff))
      def cell(d: java.sql.Date, status: String, rows: Long, errs: Int,
               obs: Option[Long]): org.apache.spark.sql.Row = {
        Coverage.validate(status, rows, errs, obs)
        org.apache.spark.sql.Row("ds", d, status, rows, errs,
          obs.map(Long.box).orNull, null)
      }
      val ledger = states.zipWithIndex.flatMap { case (st, i) =>
        val d = java.sql.Date.valueOf(day0.plusDays(i))
        st match {
          case 0 => None // never claimed
          case 1 => Some(cell(d, Coverage.Success, 10L, 0, Some(1L)))
          case 2 => Some(cell(d, Coverage.Success, 0L, 0, Some(1L))) // checked empty
          case _ => Some(cell(d, Coverage.Failed, 0L, 1, None))
        }
      }
      val got = Coverage.catchUp(ledger, Seq("ds"),
          Coverage.businessDays(calendar, "day", today, lookback), maxDays)
        .map { case (_, d, r) => (d.toString, r) }
      // reference implementation: plain set algebra on the driver
      val want = (0 until 40).flatMap { i =>
        val ld = day0.plusDays(i)
        val d = java.sql.Date.valueOf(ld)
        val isBiz = ld.getDayOfWeek.getValue <= 5
        // window floor: `lookback` days before today
        val floor = java.time.LocalDate.parse(today.toString)
          .minusDays(lookback)
        val inWindow = !ld.isBefore(floor) && !ld.isAfter(
          java.time.LocalDate.parse(today.toString))
        val st = states(i)
        if (isBiz && inWindow && (st == 0 || st == 3))
          Some((d.toString, if (st == 0) "missing" else "failed"))
        else None
      }.sorted.take(maxDays)
      assert(got == want,
        s"catch-up diverged: lookback=$lookback cap=$maxDays today=$today")
    }
  }
}
