package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

class DedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely different content about spark engines"),
    ).toDF("doc_id", "text")
  }

  test("near-identical docs collide in minhash LSH; unrelated do not") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    // 2 rows/band → collision prob ≈ 1-(1-j²)⁸ ≈ 1 at j≈0.8 (4-row bands
    // would miss a 0.8-jaccard pair ~16% of the time with a fixed family)
    val sig = Dedup.minhashSignatures(sh, "doc_id", 16)
    val cand = Dedup.minhashCandidates(sig, "doc_id", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)))
  }

  test("dbscanRoles: bridge through non-core does not chain, border takes min label, singleton core, isolated = noise") {
    import spark.implicits._
    // two K4 cliques joined via low-degree node 5, plus a star at 20 and
    // an isolated vertex 10; minPts = 4 → core iff degree ≥ 3
    def k4(ids: Seq[Long]) = for {
      a <- ids; b <- ids if a < b
    } yield (a, b)
    val pairs = (k4(Seq(1L, 2L, 3L, 4L)) ++ k4(Seq(6L, 7L, 8L, 9L)) ++
      Seq((4L, 5L), (5L, 6L), (20L, 21L), (20L, 22L), (20L, 23L)))
      .toDF("id1", "id2")
    val universe = (1L to 10L).union(20L to 23L).toDF("doc_id")
    val got = Dedup.dbscanRoles(pairs, universe, minPts = 4).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    // the two cliques stay SEPARATE clusters (node 5 is non-core: deg 2)
    (1L to 4L).foreach(i => assert(got(i) == ("core", Some(1L)), i))
    (6L to 9L).foreach(i => assert(got(i) == ("core", Some(6L)), i))
    // 5 is border of both; deterministic min cluster label wins
    assert(got(5L) == ("border", Some(1L)))
    // star center: core with zero core neighbors → its own cluster
    assert(got(20L) == ("core", Some(20L)))
    (21L to 23L).foreach(i => assert(got(i) == ("border", Some(20L)), i))
    // isolated universe member classifies as noise with null cluster
    assert(got(10L) == ("noise", None))
  }

  test("exact jaccard ranks the near-dup pair highest") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val jac = Dedup.jaccardPairs(sh, "doc_id")
      .collect().map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")),
        r.getAs[Double]("jaccard"))).toMap
    assert(jac((1L, 2L)) > 0.7)
    assert(jac.getOrElse((1L, 3L), 0.0) < 0.1)
  }

  test("simhash of identical docs is equal, near-dups are close in hamming") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
  }

  test("brute-force cosine top-k returns self-similar vector first") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), 2).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(top.head.getDouble(1) === 1.0)
  }

  test("winnowing: shared substring >= w+k-1 chars guarantees a common fingerprint") {
    import spark.implicits._
    val shared = "zq3x8vbn1mw9k2lt7ryd4peu"  // 24 chars >= w+k-1 = 12
    val d = Seq(
      (1L, s"alpha preamble here $shared and some tail text"),
      (2L, s"completely different opener $shared closing words"),
      (3L, "nothing in common with the others at all whatsoever"))
      .toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(d, "doc_id", "text", 5, 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fp(1) & fp(2)).nonEmpty)   // the SIGMOD'03 guarantee
    assert((fp(1) & fp(3)).isEmpty)    // unrelated docs don't collide
  }

  test("sliding_min (ascending-minima) == array_min(slice) formulation") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val arrays = (1 to 50).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(40))(rnd.nextInt(9) - 4L))
    }
    for (w <- Seq(1, 3, 8)) {
      val df = arrays.toDF("id", "a")
      val got = df.select(col("id"),
          graft.functions.SlidingMinExpr.slidingMin(col("a"), w).as("m"))
        .collect()
        .map(r => r.getLong(0) ->
          r.getAs[scala.collection.Seq[Long]](1).toSeq).toMap
      arrays.foreach { case (id, a) =>
        val want = a.sliding(w).filter(_.size == w).map(_.min).toSeq
        assert(got(id) == want, s"id=$id w=$w")
      }
    }
    // null array in, null out; shorter-than-window arrays give empty
    val edge = Seq((1L, Some(Seq(5L, 2L))), (2L, None))
      .toDF("id", "a")
      .select(col("id"),
        graft.functions.SlidingMinExpr.slidingMin(col("a"), 3).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(edge(1L).get.asInstanceOf[scala.collection.Seq[_]].isEmpty)
    assert(edge(2L).isEmpty)
  }

  test("simhash hamming band join pairs near-dups, skips unrelated") {
    import spark.implicits._
    val many = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and naps at noon"),
      (2L, "the quick brown fox jumps over the lazy dog and naps at noon"),
      (3L, "entirely unrelated manifest of cargo tonnage and harbor dues"))
      .toDF("doc_id", "text")
    val sh = Dedup.simhash(many, "doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(sh, "doc_id", "simhash",
        nBands = 4, bandBits = 15, maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // pigeonhole precondition is enforced
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(sh, "doc_id", "simhash", 4, 15, 4)
    }
  }

  test("cross-corpus candidates pair new docs with standing near-dups only") {
    import spark.implicits._
    val standing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (11L, "utterly unrelated manifest of cargo and harbor dues"))
      .toDF("doc_id", "text")
    def sig(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignaturesFromHashes(
        Dedup.shingleHashArrays(df, "doc_id", "text", 5), "doc_id", 16)
    val cand = Dedup.minhashCandidatesCross(sig(batch), sig(standing),
        "doc_id", 2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // id1 is always a batch doc, id2 always standing
    assert(cand.forall { case (a, b) => a >= 10L && b < 10L })
    assert(cand.contains((10L, 1L)))
    assert(!cand.exists(_._1 == 11L))
  }

  test("ngram contamination scores overlap against the eval set") {
    import spark.implicits._
    val evalDocs = Seq(
      (100L, "the benchmark question about spark engines and their planners"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "the benchmark question about spark engines and their planners"),
      (2L, "a passage quoting the benchmark question about spark engines midway through"),
      (3L, "zero overlap with anything held out qwxyz jkqv"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramContamination(train, evalDocs, "doc_id", "text", 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_ngrams"), r.getAs[Long]("overlap_ngrams"),
          r.getAs[Double]("contamination"))).toMap
    // verbatim eval copy: every k-gram collides
    assert(got(1L)._3 == 1.0)
    // partial quote: some but not all k-grams collide
    assert(got(2L)._2 > 0 && got(2L)._3 < 1.0)
    // disjoint text: zero overlap, still reported
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0)
    // n_ngrams is the doc's own distinct k-gram count, independent of eval
    assert(got(3L)._1 > 0)
  }

  test("ann top-k finds the bucket-local neighbor") {
    import spark.implicits._
    val vecs = (0 until 50).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f, 0.0f, 0.0f)
      else Seq(0.0f, 1.0f, 0.0f, 0.0f)
      (i.toLong, base.map(v => v + i * 0.001f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val top = Similarity.annTopK(emb, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0, 0.0), dims = 4, nPlanes = 4, k = 3).collect()
    assert(top.nonEmpty)
    // all returned ids should be from the x-axis family (even ids)
    assert(top.forall(_.getLong(0) % 2 == 0))
  }

  test("large-star/small-star CC equals min-label CC on the near-dup graph") {
    val pairs = graft.queries.TextQueries
      .q15NearDupPairs(spark, "/root/testdata/sf0.001")
      .select(col("id1"), col("id2"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minLabel = asMap(Dedup.connectedComponents(pairs))
    val stars = asMap(Dedup.connectedComponentsStars(pairs))
    assert(stars == minLabel)
    assert(stars.nonEmpty)
  }

  test("adaptive CC matches distributed CC on both sides of its threshold") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val comps = Seq(0L until 25L, 50L until 90L, 300L until 303L)
    val edges = comps.flatMap { vs =>
      val v = vs.toArray
      val spine = v.sliding(2).map(a => (a(0), a(1))).toSeq
      val extra = (1 to v.length).map { _ =>
        (v(rng.nextInt(v.length)), v(rng.nextInt(v.length)))
      }.filter { case (a, b) => a != b }
      spine ++ extra
    }.toDF("id1", "id2")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distributed = asMap(Dedup.connectedComponents(edges))
    // under the limit -> driver union-find; limit 0 -> delegates
    assert(asMap(Dedup.connectedComponentsAdaptive(edges)) == distributed)
    assert(asMap(Dedup.connectedComponentsAdaptive(edges, 0L)) == distributed)
    // self-loop-only vertex is still labeled as its own singleton
    val withLoop = edges.unionByName(Seq((999L, 999L)).toDF("id1", "id2"))
    val loopLabels = asMap(Dedup.connectedComponentsAdaptive(withLoop))
    assert(loopLabels(999L) == 999L)
  }

  test("both CC algorithms release superseded rounds: a 12-node path leaves as many persistent RDDs as a 2-node graph") {
    import spark.implicits._
    val sc = spark.sparkContext
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("id1", "id2")
    val pair = Seq((0L, 1L)).toDF("id1", "id2")
    def leftBehind(cc: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame,
        edges: org.apache.spark.sql.DataFrame): Int = {
      val before = sc.getPersistentRDDs.keySet
      val out = cc(edges)
      assert(out.collect().map(_.getLong(1)).distinct.toSeq == Seq(0L))
      val n = (sc.getPersistentRDDs.keySet -- before).size
      // `out` stays reachable until counted: the context cleaner may
      // unpersist the RDDs of a collected result
      assert(out.columns.length == 2)
      n
    }
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      Dedup.connectedComponents, Dedup.connectedComponentsStars).foreach {
      cc => assert(leftBehind(cc, path) == leftBehind(cc, pair))
    }
  }

  test("star contraction handles a long chain in logarithmic rounds") {
    import spark.implicits._
    // a 300-node path has diameter 299: min-label propagation would need
    // ~299 rounds (over its 64-round fail-loud bound); star contraction
    // must collapse it to one cluster within its own 64-round bound
    val n = 300L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id1", "id2")
    val labels = Dedup.connectedComponentsStars(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == n)
    assert(labels.forall(_._2 == 0L), "all chain nodes must label to node 0")
  }

  test("star contraction labels random multi-component graphs correctly") {
    import spark.implicits._
    // deterministic pseudo-random graph over 3 disjoint vertex ranges
    val rng = new scala.util.Random(42)
    val comps = Seq(0L until 40L, 100L until 130L, 200L until 205L)
    val edges = comps.flatMap { vs =>
      val v = vs.toArray
      // a spanning chain (guarantees connectivity) + random extra edges
      val spine = v.sliding(2).map(a => (a(0), a(1))).toSeq
      val extra = (1 to v.length).map { _ =>
        val a = v(rng.nextInt(v.length)); val b = v(rng.nextInt(v.length))
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }
      spine ++ extra
    }.toDF("id1", "id2")
    val labels = Dedup.connectedComponentsStars(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (vs <- comps; v <- vs) assert(labels(v) == vs.head,
      s"vertex $v labeled ${labels(v)}, expected ${vs.head}")
  }

  test("exact dup spans: shared substrings found symmetrically, frac bounded") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val d = Seq(
      (1L, s"unique-prefix-one $base unique-suffix-one"),
      (2L, s"other-start-text $base completely-else-after"), // shares base
      (3L, "nothing in common with anyone here at all truly")
    ).toDF("doc_id", "text")
    val r = Dedup.exactDupSpans(d, "doc_id", "text", 40)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(4), x.getDouble(5))).toMap
    // both sharers are flagged; the loner is absent (absence = clean)
    assert(r.contains(1L) && r.contains(2L) && !r.contains(3L))
    r.values.foreach { case (len, nSpans, dupChars, frac) =>
      assert(nSpans >= 1 && dupChars >= 40 && dupChars <= len)
      assert(frac > 0.0 && frac <= 1.0)
    }
    // the shared run is ~the full base string: one merged span covering
    // at least |base| chars in each doc
    assert(r(1L)._3 >= base.length)
    assert(r(2L)._3 >= base.length)
  }

  test("span dedup keeps globally-first block, nulls fp of all-dup docs") {
    import spark.implicits._
    val block = (1 to 10).map(i => s"w$i").mkString(" ") // one exact block
    val d = Seq(
      (1L, s"$block unique tail one two three four five six seven"),
      (2L, s"$block other ending eight nine ten eleven twelve thirteen x"),
      (3L, block) // nothing but the shared block -> loses everything
    ).toDF("doc_id", "text")
    val r = Dedup.spanDedup(d, "doc_id", "text", 10, 100000L)
      .collect().map(x => x.getLong(0) -> x).toMap
    // doc 1 keeps both blocks (it is first); docs 2,3 lose the shared one
    assert(r(1L).getLong(1) == 2 && r(1L).getLong(2) == 0)
    assert(r(2L).getLong(1) == 2 && r(2L).getLong(2) == 1)
    assert(r(3L).getLong(1) == 1 && r(3L).getLong(2) == 1)
    // doc 3 kept nothing: null fingerprint, null token count
    assert(r(3L).isNullAt(3) && r(3L).isNullAt(4))
    // doc 2's surviving text is its second block only
    assert(r(2L).getLong(3) == 9)
  }

  test("prefix-filter all-pairs join is exact: equals brute force at any tau") {
    import spark.implicits._
    // random-ish word docs with planted near-dups across several overlap
    // levels, so the threshold actually separates pairs
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rng = new scala.util.Random(7)
    val base = (1 to 8).map(i =>
      (i.toLong, Seq.fill(30)(words(rng.nextInt(words.length))).mkString(" ")))
    val mutated = base.take(4).map { case (id, t) =>
      val toks = t.split(" ")
      val k = id.toInt * 3 // 3,6,9,12 token edits → varying Jaccard
      val m = toks.zipWithIndex.map { case (w, i) =>
        if (i < k) words(rng.nextInt(words.length)) else w }
      (id + 100L, m.mkString(" "))
    }
    val d = (base ++ mutated).toDF("doc_id", "text")
    val harrs = Dedup.shingleHashArrays(d, "doc_id", "text", 5)
    for (tau <- Seq(0.3, 0.6, 0.9)) {
      val got = graft.operators.PrefixJoin.allPairsJaccard(harrs, "doc_id", tau)
        .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) ->
          r.getAs[Double]("jaccard")).toMap
      // brute force over ALL pairs via the unbanded exact join
      val brute = Dedup.jaccardPairs(
          Dedup.shingles(d, "doc_id", "text", 5), "doc_id")
        .filter(col("jaccard") >= tau)
        .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) ->
          r.getAs[Double]("jaccard")).toMap
      assert(got.keySet == brute.keySet,
        s"tau=$tau: prefix join missed ${brute.keySet -- got.keySet} " +
          s"or invented ${got.keySet -- brute.keySet}")
      got.foreach { case (k, v) => assert(v == brute(k),
        s"tau=$tau pair $k: jaccard $v != brute ${brute(k)}") }
    }
  }

  test("label propagation: labels are component-local node ids, isolated keep own, deterministic") {
    import graft.queries.TextQueries
    val dir = "/root/testdata/sf0.001"
    val out = TextQueries.q204LabelProp(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = Tables.embeddings(spark, dir)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(out.keySet == nodes)
    // every label is itself a node id
    assert(out.values.toSet.subsetOf(nodes))
    // propagation actually happened (the kNN graph is non-trivial)
    assert(out.count { case (n, l) => n != l } > 0)
    // labels never cross connected components of the symmetrized graph:
    // recompute components locally and check label(n) ~ n
    val edges = TextQueries.q89KnnGraph(spark, dir)
      .select(col("id1"), col("id2")).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1),
        r.getLong(1) -> r.getLong(0)))
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val comp = scala.collection.mutable.Map[Long, Long]()
    nodes.toSeq.sorted.foreach { n =>
      if (!comp.contains(n)) {
        var frontier = List(n)
        while (frontier.nonEmpty) {
          val x = frontier.head; frontier = frontier.tail
          if (!comp.contains(x)) {
            comp(x) = n
            frontier = adj.getOrElse(x, Array.empty[Long]).toList ::: frontier
          }
        }
      }
    }
    out.foreach { case (n, l) =>
      assert(comp(n) == comp(l), s"label $l of node $n crosses components")
    }
    // isolated nodes keep their own label
    val connected = adj.keySet
    nodes.diff(connected).foreach(n => assert(out(n) == n))
    // deterministic: a second run is identical
    val again = TextQueries.q204LabelProp(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
  }

  test("suffix array: distributed prefix doubling equals local suffix sort") {
    import graft.queries.SuffixArray
    val dir = "/root/testdata/sf0.001"
    val got = SuffixArray.q206SuffixArray(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    docs.foreach { case (id, text) =>
      // rank of each suffix by plain lexicographic sort of the strings
      val order = (0 until text.length).sortBy(p => text.substring(p))
      order.zipWithIndex.foreach { case (pos, i) =>
        assert(got((id, pos.toLong)) == i + 1L,
          s"doc $id pos $pos: rank ${got((id, pos.toLong))} != ${i + 1}")
      }
    }
  }

  test("corpus suffix ranks: rank order IS lexicographic order, equal rank IS equal string") {
    import graft.queries.SuffixArray
    val dir = "/root/testdata/sf0.001"
    val got = SuffixArray.q209CorpusSuffixRank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val texts = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // complete semantic characterization: sorting by (rank, doc, pos)
    // must list suffix strings in non-decreasing lexicographic order,
    // with ties in rank exactly at equal strings
    val byRank = got.sortBy { case (d, p, rk) => (rk, d, p) }
    var i = 1
    var tieCount = 0
    while (i < byRank.length) {
      val (d0, p0, rk0) = byRank(i - 1)
      val (d1, p1, rk1) = byRank(i)
      val s0 = texts(d0).substring(p0.toInt)
      val s1 = texts(d1).substring(p1.toInt)
      val cmp = s0.compareTo(s1)
      if (rk0 == rk1) { assert(cmp == 0, s"tied ranks, unequal suffixes"); tieCount += 1 }
      else assert(cmp < 0,
        s"rank order violates lexicographic order at ($d0,$p0)/($d1,$p1)")
      i += 1
    }
    // the corpus plants exact-dup docs, so cross-doc ties must exist
    assert(tieCount > 0, "expected cross-document suffix ties")
  }

  test("longest repeated substring matches brute force; repeat really occurs twice") {
    import graft.queries.SuffixArray
    val dir = "/root/testdata/sf0.001"
    val got = SuffixArray.q207LongestRepeat(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def lcp(t: String, a: Int, b: Int): Int = {
      var l = 0
      while (a + l < t.length && b + l < t.length && t(a + l) == t(b + l)) l += 1
      l
    }
    docs.foreach { case (id, text) =>
      // brute force: max adjacent-suffix LCP after a local suffix sort,
      // same (len desc, min pos) tie-break
      val sa = (0 until text.length).sortBy(p => text.substring(p))
      var best = 0L; var bestPos = Long.MaxValue
      sa.sliding(2).foreach { w =>
        val l = lcp(text, w(0), w(1)).toLong
        val lp = math.min(w(0), w(1)).toLong
        if (l > best || (l == best && lp < bestPos)) { best = l; bestPos = lp }
      }
      val (gl, gp) = got(id)
      assert(gl == best, s"doc $id: lrs_len $gl != $best")
      assert(gp == bestPos, s"doc $id: lrs_pos $gp != $bestPos")
      // the reported repeat really occurs at least twice
      if (gl > 0) {
        val sub = text.substring(gp.toInt, gp.toInt + gl.toInt)
        assert(text.indexOf(sub) != text.lastIndexOf(sub) ||
          text.indexOf(sub, text.indexOf(sub) + 1) >= 0,
          s"doc $id: LRS of len $gl at $gp does not repeat")
      }
    }
  }
}
