package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s one stability rule ([[Bench.suspects]]): a row re-measures
  * for wide warm spread or for history, never for load; the partial line
  * flags the history rows with the same predicate; only a prior measured
  * at the run's core count anchors history; and a query list with an
  * unknown name is refused. */
class BenchSpec extends AnyFunSuite {
  import Bench.QRes

  // q15 is on the isolated tier, q14 on the mid tier
  private val iso = "q15_neardup_pairs"
  private val mid = "q14_minhash_candidates"
  private def res(med: Double, load: Double, spread: Double) =
    QRes(med, med * 0.9, load, spread)

  test("a loaded row with a tight spread is not a suspect") {
    assert(Bench.suspects(Seq(iso -> res(4.0, 5.0, 0.05),
      mid -> res(2.0, 8.0, 0.05)), Map.empty).isEmpty)
  }

  test("spread: 0.3 on the isolated tier; above 0.25 at >= 1 s on any tier") {
    assert(Bench.suspects(Seq(iso -> res(0.5, 0.1, 0.3)), Map.empty) ==
      Seq(iso -> "spread"))
    assert(Bench.suspects(Seq(mid -> res(1.5, 0.1, 0.3)), Map.empty) ==
      Seq(mid -> "spread"))
    // a sub-second shared-tier row, and a mid row under the wide bound
    assert(Bench.suspects(Seq(mid -> res(0.8, 0.1, 0.9),
      mid -> res(1.5, 0.1, 0.22)), Map.empty).isEmpty)
  }

  test("history: 3.0 s against a 1.5 s prior is hist; with a wide spread hist+spread") {
    val prior = Map("q15" -> 1.5, "q14" -> 1.5)
    assert(Bench.suspects(Seq(iso -> res(3.0, 0.1, 0.05)), prior) ==
      Seq(iso -> "hist"))
    assert(Bench.suspects(Seq(iso -> res(3.0, 0.1, 0.4)), prior) ==
      Seq(iso -> "hist+spread"))
    // 1.5x but only 0.4 s over, and a prior at another scale (none)
    assert(Bench.suspects(Seq(mid -> res(1.2, 0.1, 0.05)),
      Map("q14" -> 0.8)).isEmpty)
  }

  test("suspects come most seconds of suspected error first") {
    val rows = Seq(
      "q206_suffix_array" -> res(4.0, 0.1, 0.3),    // 1.2 s of spread
      "q209_corpus_suffix_rank" -> res(20.0, 0.1, 0.21), // 4.2 s
      iso -> res(6.0, 0.1, 0.05),                    // 4.5 s over prior
      mid -> res(1.0, 0.1, 0.5),                     // 0.5 s
      "q01_pricing_agg" -> res(0.3, 0.1, 0.9))       // not a suspect
    assert(Bench.suspects(rows, Map("q15" -> 1.5)).map(_._1) ==
      Seq(iso, "q209_corpus_suffix_rank", "q206_suffix_array", mid))
  }

  test("the partial line flags exactly the history trigger's rows") {
    val prior = Map("q15" -> 1.5, "q14" -> 1.0, "q206" -> 4.0)
    val done = Seq(iso -> res(3.0, 0.1, 0.4), mid -> res(1.4, 0.1, 0.5),
      "q206_suffix_array" -> res(7.0, 0.1, 0.01),
      "q209_corpus_suffix_rank" -> res(20.0, 0.1, 0.5))
    val line = Bench.partialLine(done, 10, prior)
    val flagged = "\"suspect\":\\[([^\\]]*)\\]".r.findFirstMatchIn(line)
      .get.group(1).split(",").filter(_.nonEmpty).map(_.replace("\"", ""))
      .toSet
    val hist = Bench.suspects(done, prior).collect {
      case (n, why) if why.startsWith("hist") => n.takeWhile(_ != '_') }
    assert(flagged == hist.toSet && flagged == Set("q15", "q206"))
    assert(line.contains("\"partial\":true") && line.contains("\"qn\":10"))
  }

  test("a prior from another core count orders and sizes but triggers no history") {
    val sf = "data/sf0.1"
    def art(extra: String) =
      s"""{"metric":"total","queries":{"q15":1.5,"q14":1.0},$extra"sf":"$sf"}"""
    val medians = Map("q15" -> 1.5, "q14" -> 1.0)
    // no "cpus" (the r18 artifact) and a different count: medians kept,
    // no history anchor
    Seq(art(""), art("\"cpus\":8,")).foreach { txt =>
      val (prior, history) = Bench.parsePrior(txt, sf, 4)
      assert(prior == medians && history.isEmpty, txt)
      val done = Seq(iso -> res(3.0, 0.1, 0.05))
      assert(Bench.suspects(done, history).isEmpty)
      assert(Bench.partialLine(done, 1, history).contains("\"suspect\":[]"))
    }
    // the same count anchors history
    val (prior, history) = Bench.parsePrior(art("\"cpus\":4,"), sf, 4)
    assert(prior == medians && history == medians)
    assert(Bench.suspects(Seq(iso -> res(3.0, 0.1, 0.05)), history) ==
      Seq(iso -> "hist"))
    // another scale factor gives neither
    assert(Bench.parsePrior(art("\"cpus\":4,"), "data/sf1", 4) ==
      ((Map.empty, Map.empty)))
  }

  test("the deadline depends only on SPARK_GRAFT_BENCH_DEADLINE_SEC") {
    assert(Bench.deadlineOf(None) == Some(Bench.DefaultDeadlineSec))
    assert(Bench.DefaultDeadlineSec == 1500L)
    assert(Bench.deadlineOf(Some("600")) == Some(600L))
    assert(Bench.deadlineOf(Some(" 900 ")) == Some(900L))
    Seq("0", "-5", "", "abc", "12.5").foreach { v =>
      assert(Bench.deadlineOf(Some(v)).isEmpty, v)
    }
  }

  test("a query list with an unknown or no name is refused, naming it") {
    assert(Bench.selectNames(Some("q15,q15_neardup_pairs")) ==
      Left("SPARK_GRAFT_BENCH_ONLY names unknown queries: q15"))
    assert(Bench.selectNames(Some(" , ")).isLeft)
    assert(Bench.selectNames(Some("q61_neardup_clusters, q15_neardup_pairs")) ==
      Right(Seq("q61_neardup_clusters", "q15_neardup_pairs")))
    assert(Bench.selectNames(None).map(_.size) ==
      Right(SparkEntry.queries.size))
  }
}
