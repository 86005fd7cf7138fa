package graft
import scala.jdk.CollectionConverters._

/** Benchmark harness. Coordinator mode (default) forks ONE CHILD JVM PER
  * QUERY and aggregates the children's medians into the driver's one-line
  * JSON. Child mode (`--one <query>`) opens a fresh session, warms the JVM
  * the same way `tools.Time1` does, and times `reps` back-to-back runs.
  *
  * Why fork: rounds 5 and 6 proved a single 90-query session accumulates
  * state no amount of per-rep cache/RDD cleanup fully releases (Janino
  * codegen cache + metaspace growth, shuffle-file buildup, GC pressure):
  * r06 still over-reported heavy queries 2-3x vs fresh-JVM Time1 medians
  * and contained a containment inversion (q61 reported faster than its
  * strict subset q15). A child JVM per query makes every median a
  * fresh-JVM measurement, directly comparable to Time1, by construction.
  * The coordinator also asserts the containment invariants (q61/q69/q79
  * must not run faster than the q15 pipeline they contain) and reports
  * the check in the JSON (`"inv"`).
  *
  * One measurement mode: forked children only. If the FIRST child cannot
  * fork (or dies before its first query), the coordinator says so on
  * stderr and exits 1 — there is no in-process fallback, whose medians
  * carried the r06 2–3× late-session tax under the same schema.
  *
  * One stability rule ([[suspects]]): after pass 1, a row re-measures
  * once, alone, for wide warm spread or for history against the last
  * committed artifact, if that was measured at this run's scale factor
  * and core count ([[parsePrior]]); the lower median wins. Load is recorded per row
  * (`load`, `loadmax`) for attribution and triggers nothing; the run
  * starts at once, without waiting for a quiet box.
  *
  * Env knobs (7): `SPARK_GRAFT_SF_DIR` (data, default sf0.1),
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated query list; an unknown name
  * exits 2), `SPARK_GRAFT_BENCH_REPS` (default 3),
  * `SPARK_GRAFT_BENCH_DEADLINE_SEC` ([[deadlineOf]]),
  * `SPARK_GRAFT_BENCH_OUT` (the artifact, default `bench_results.json`),
  * `SPARK_GRAFT_BENCH_PRIOR` (the history anchor, default the artifact)
  * and `SPARK_GRAFT_BENCH_MIN` (per-query minima on stderr). Cores come
  * from `SPARK_GRAFT_CPUS` through [[Session.cpus]].
  */
object Bench {
  def main(args: Array[String]): Unit =
    if (args.length >= 2 && args(0) == "--one") child(args(1).split(",").toSeq)
    else coordinate()

  private def shortKey(k: String): String = k.takeWhile(_ != '_')

  /** Ambient 1-minute load average — the round-8 postmortem's missing
    * covariate: two same-code full runs disagreed up to 1.6x on the heavy
    * graph tier purely from driver-side load the JSON never recorded.
    * Every BENCHQ line carries the load read at query start so a
    * suspicious median is attributable after the fact; it triggers no
    * re-measure (see [[suspects]]). */
  private def loadAvg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Child mode: same warmup + rep discipline as tools.Time1 (range-sum
    * warmup only; no table pre-touch — rep 1 pays the parquet footer reads
    * exactly as Time1's rep 1 does, and the median discards it). Accepts a
    * comma-separated GROUP of queries: heavy queries ride alone (their
    * medians are fresh-JVM by construction); cheap ones share a child 8 at
    * a time — their residual cross-query tax is bounded by the group size
    * and was small even in the r06 single-session harness. */
  private def child(names: Seq[String]): Unit = {
    val t00 = System.nanoTime()
    def mark(s: String): Unit =
      System.err.println(f"BENCHMARK-$s ${(System.nanoTime() - t00) / 1e9}%.2f")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // per-child rep override (deadline shedding) wins over the global knob
    val reps = sys.props.getOrElse("graft.bench.reps",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3")).toInt
    val spark = Session.local(Session.cpus)
    mark("session")
    // the range-sum JVM warmup is skipped for GROUPED (multi-query)
    // children only: there the later queries run warm anyway and the
    // first query's median discards its cold rep — ~2 s × ~14 grouped
    // children of a full run saved (r18 harness fit, VERDICT #2).
    // ISOLATED children (the heavy tier) keep it: without the warmup,
    // rep 2 still carries a JIT tail on multi-stage queries and the
    // median (which keeps rep 2) read ~5-10% high in r18 A/B minis —
    // a comparability poison, not a saving. Single-rep children
    // (deadline shedding) keep it too: there rep 1 IS the measurement.
    if (reps == 1 || names.size == 1) {
      spark.range(1000000).selectExpr("sum(id)").collect()
      mark("warmup")
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val load = loadAvg1()
      val raw = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        if (ok) dt else -1.0
      }
      val times = raw.sorted
      val med = times(times.length / 2)
      // WARM rep spread (max-min)/median over successful reps 2..n: rep 1
      // pays the parquet footer reads BY DESIGN (the median discards it),
      // so including it inflated spread everywhere (round-9 postmortem:
      // median spread ~0.8, q09 showed 3.4 on a 0.59s query) and blunted
      // the spread trigger. Warm reps are identical fresh-cache work, so
      // genuine warm variance should be small.
      val warm = raw.drop(1).filter(_ >= 0)
      val spread =
        if (warm.isEmpty || med <= 0) -1.0
        else (warm.max - warm.min) / med
      // Locale.ROOT like emit(): under a comma-decimal default locale the
      // f interpolator would print "1,234" and the parent's toDouble would
      // throw, silently degrading the whole group to NoRes
      println("BENCHQ %s %.3f %.3f %.2f %.3f".formatLocal(
        java.util.Locale.ROOT, name, med, times.head, load, spread))
    }
    mark("reps")
    spark.stop()
    mark("stop")
  }

  /** Child-JVM tiering, recalibrated each round from the committed
    * bench_results.json (this edition: round 8, 182 queries, total 262s).
    * Wall-time accounting: 182 queries × 3 fresh reps ≈ 790s of measured
    * work is the honest floor; everything else is per-child overhead
    * (~5-8s: JVM+CDS load, session, warmup), so wall time is governed by
    * CHILD COUNT. r7 isolated everything ≥1.5s (78 children, ~23 min);
    * the r8 medians show queries under ~2.5s carry negligible shared-
    * child tax, so only the genuinely heavy tier keeps a private JVM.
    *
    * - [[isolated]]: measured median ≥ 2.5s at sf0.1, plus EVERY
    *   streaming gate (state-store timing is sensitive to neighbors)
    *   — these medians must stay strictly fresh-JVM.
    * - [[midTier]]: 1.2s ≤ median < 2.5s, non-streaming — grouped
    *   [[MidGroup]] per child; residual tax at this weight measured
    *   within rep noise (r6 data, re-confirmed by the r8 medians of the
    *   queries r7 moved INTO isolation: shared vs isolated shifted them
    *   < 10%).
    * - everything else (sub-1.2s): groups of [[GroupSize]].
    * The containment invariants below police this choice every run: if
    * shared-child tax ever inflates a subset above its superset, the
    * JSON says so. */
  private val isolated: Set[String] = Set(
    // streaming gates — always isolated regardless of weight
    "q92_stream_screen", "q93_stream_windowed_agg", "q94_stream_dedup",
    "q95_stream_cardinality", "q96_stream_breadth", "q105_stream_stream_join",
    "q116_stream_maintain", "q143_stream_cms", "q157_stream_sessions",
    "q187_stream_outer_join", "q214_stream_exact_substr",
    "q216_restart_exact_substr",
    // measured >= 2.5s fresh at sf0.1 (bench_results.json, round 8)
    "q15_neardup_pairs", "q55_basket_valuation", "q56_factor_vector_search",
    "q61_neardup_clusters", "q69_dedup_corpus", "q76_training_manifest",
    "q77_incremental_dedup", "q79_neardup_clusters_stars",
    "q81_dsir_importance", "q86_semdedup", "q89_knn_graph",
    "q99_pq_adc_recall", "q112_lev_pairs", "q113_pagerank",
    "q123_allpairs_join", "q135_dataset_card", "q136_quality_keeper",
    "q146_triangles", "q150_dbscan", "q151_cluster_labels",
    "q152_lsh_calibration", "q153_kcore", "q164_kmeans_elbow",
    "q168_personalized_pr",
    // q195 contains the q89 graph build plus the beam rounds
    "q195_beam_search",
    // q198 rewrites the partitioned layout before refreshing (Time1
    // fresh-steady 3.8s at sf0.1)
    "q198_incr_partitioned",
    // q204 contains the full q89 graph build plus 4 LPA rounds (Time1
    // fresh-steady 5.7s at sf0.1)
    "q204_label_prop",
    // suffix-array family: 1.5M-suffix doubling rounds (q206 3.7s
    // fresh-steady) + the typed LCP group fold on top (q207 8.8s);
    // q209 is the corpus-level build — all 10 global sort-rank rounds
    // run because cross-doc dup suffixes keep splitting (~14s steady)
    "q206_suffix_array", "q207_longest_repeat", "q209_corpus_suffix_rank",
    // q211 = radix-seeded corpus ranks to level 4 + span cut + reassembly
    // (Time1 fresh-steady 4.1s at sf0.1); q212 contains ALL THREE modality
    // matchers q199+q201+q202 plus CC + keeper (fresh-steady 6.4s).
    // q213 (incremental absorb) is ~1.1s steady — shared tier.
    // q215/q217 = the q127 BPE train+encode loop (8 driver-argmax
    // rounds, latency-bound) + token table + token-gram dedup/absorb.
    "q211_exact_substr", "q212_multimodal_dedup", "q215_token_exact_substr",
    "q217_incr_token_exact_substr",
    // q219/q220 are control-plane-latency-bound (metadata-sized Spark
    // actions per landed date incl. catch-up), ~9s / ~5s steady
    "q219_landing_pipeline", "q220_generic_landing",
    "q221_scheduled_refresh", "q222_corrections_window")

  /** 1.2-2.5s tier: grouped [[MidGroup]] to a child. */
  private val midTier: Set[String] = Set(
    "q14_minhash_candidates", "q25_factor_vectors", "q36_product_agg",
    "q43_per_bands", "q45_screen_published", "q53_bucketed_join",
    "q62_containment_pairs", "q66_simhash_pairs", "q67_repetition_stats",
    "q68_decontamination", "q70_corpus_clean", "q71_bm25",
    "q74_ivf_kmeans", "q84_source_drift", "q88_dup_spans",
    "q98_sq8_recall", "q115_source_overlap", "q117_linear_interp",
    "q124_span_dedup", "q125_bpe_merges", "q126_cms_estimate",
    "q127_bpe_encode", "q139_pmi_pairs", "q141_skip_grams",
    "q145_novelty_curve", "q161_kmv_sketch", "q162_kmv_overlap",
    "q171_good_turing", "q173_heaps_fit", "q175_ks_test",
    // round-8 additions (measured sf0.1 fresh: q183 2.1s, q191 1.9s;
    // q184 0.5s stays here for the non-equi join's plan variance)
    "q183_pca_power", "q184_record_linkage", "q191_textrank",
    // round-10/11 additions (Time1 fresh-steady sf0.1: q199 1.4s, q201
    // 1.7s, q202 1.3s — real codec decodes; q205 1.5s k greedy rounds)
    "q199_phash_pairs", "q201_audio_match",
    "q202_video_match", "q205_kcenter", "q208_unigram_segment",
    "q210_markov_attribution")

  private val MidGroup = 6
  /** Cheap tier (sub-1.2s, median ~0.5s; 50 of them sub-0.4s): grouped 24
    * to a child. r8-r10 showed shared-child tax at this weight is within
    * rep noise, so the group size is purely a child-count/wall-time knob
    * (24 vs 16 saves ~3 children ≈ 25s toward the <1,200s target
    * without touching any median's provenance). */
  private val GroupSize = 24

  /** Containment pairs: the first query's pipeline is a strict subset of
    * the second's, so a clean harness can never time the second faster
    * (beyond noise). This exact inversion is what convicted the r5/r6
    * single-session harnesses. */
  private val containment = Seq(
    ("q15_neardup_pairs", "q61_neardup_clusters"),
    ("q15_neardup_pairs", "q69_dedup_corpus"),
    ("q15_neardup_pairs", "q79_neardup_clusters_stars"),
    // q112 = q14's candidate pipeline + prefix joins + banded DP verify
    ("q14_minhash_candidates", "q112_lev_pairs"),
    // q150 = q15's pairs + core/border/noise classification
    ("q15_neardup_pairs", "q150_dbscan"),
    // q151 = q15's pairs + CC + c-TF-IDF labeling
    ("q15_neardup_pairs", "q151_cluster_labels"),
    // q152 = q14's candidate pipeline + match-count and exact-verify joins
    ("q14_minhash_candidates", "q152_lsh_calibration"),
    // q195 = q89's kNN-graph pipeline (wider rk cut) + beam-search rounds
    ("q89_knn_graph", "q195_beam_search"),
    // q204 = q89's exact graph (same degree) + symmetrize + LPA rounds
    ("q89_knn_graph", "q204_label_prop"),
    // q207 = q206's doubling rounds (wide carrier) + the LCP group fold
    ("q206_suffix_array", "q207_longest_repeat"),
    // q212 = the union of all three modality matchers + CC + keeper
    ("q199_phash_pairs", "q212_multimodal_dedup"),
    ("q201_audio_match", "q212_multimodal_dedup"),
    ("q202_video_match", "q212_multimodal_dedup"),
    // q215/q217 = q127's full BPE train+encode plus token-gram tails
    ("q127_bpe_encode", "q215_token_exact_substr"),
    ("q127_bpe_encode", "q217_incr_token_exact_substr"),
  )

  /** One query's measurement: median, min, ambient 1-min load at query
    * start, rep spread (max-min)/median. load/spread are -1 when
    * unavailable (failed child, /proc unreadable). */
  final case class QRes(med: Double, min: Double, load: Double, spread: Double)
  private val NoRes = QRes(-1.0, -1.0, -1.0, -1.0)

  /** Isolated-tier medians whose WARM spread exceeds this are re-measured
    * once in a fresh child; the run with the LOWER MEDIAN wins.
    * Lower-median is the right estimator here because contention noise
    * is one-sided — ambient load can only slow a fixed-work rep down,
    * never speed it up — so of two fresh-JVM medians of identical work,
    * the smaller is strictly closer to the uncontended cost. BOTH runs'
    * full measurements (median, load, spread, which won) are recorded in
    * the artifact's `retries` map so the selection is auditable after
    * the fact. */
  private val SpreadThreshold = 0.20

  /** Round-9 postmortem: mid-tier medians went unchecked because the
    * remeasure pass covered only the isolated tier. Any query ≥1s —
    * whatever its tier — re-measures when its warm spread exceeds this
    * looser bound (looser because shared-child queries see some
    * cross-query variance by construction). */
  private val WideSpreadThreshold = 0.25

  /** Round-15 postmortem: a child whose EVERY rep is uniformly slow looks
    * perfectly healthy to the spread trigger — BENCH_r15 shipped q185 at
    * 18.8s (spread 0.015) against a 2.0–2.6s isolated truth. The one
    * signal that catches uniform poisoning is HISTORY: after pass 1, any
    * query whose fresh median exceeds [[HistRatio]]× its median in the
    * LAST COMMITTED bench_results.json (and by more than
    * [[HistMinExcessSec]] absolute — sub-second rows flap on ratio alone)
    * re-measures ALONE, lower median kept, recorded in `retries` tagged
    * `"hist"`. A REAL regression survives the re-fork (both medians
    * high — exactly how the isolated-Time1 arbitration confirmed r15's
    * q216); a poisoned one collapses back to its historical level. */
  private val HistRatio = 1.5
  private val HistMinExcessSec = 0.5

  /** Seconds by which `r`'s median exceeds its prior committed median,
    * when that excess trips the history trigger; None otherwise. The
    * stability pass ([[suspects]]) and the partial line's `suspect` list
    * both ask this one predicate. */
  private def histExcess(n: String, r: QRes,
                         prior: Map[String, Double]): Option[Double] =
    prior.get(shortKey(n)).filter(p => p > 0 && r.med >= 0 &&
      r.med > HistRatio * p && r.med - p > HistMinExcessSec).map(r.med - _)

  /** The stability pass's one rule: the pass-1 rows to re-measure, each
    * with why — `"spread"` (warm spread above [[SpreadThreshold]] on the
    * isolated tier, or above [[WideSpreadThreshold]] at ≥ 1 s), `"hist"`
    * ([[histExcess]] against `prior`) or `"hist+spread"` — most SECONDS
    * OF SUSPECTED ERROR first, so the capped re-measure slots go where
    * the most error sits (round 10 sorted by median and gave every slot
    * to the heavy tier while a mid-tier row sat at 2.84× its truth).
    * spread×median approximates the warm max−min swing in seconds; a
    * history suspect's error is its whole excess over the committed
    * median. Load is recorded per row but triggers nothing: a child's
    * own predecessor leaves the 1-min load near the core count, and a
    * load trigger re-measured 10–11 of 16 rows for it on a 4-core box. */
  private[graft] def suspects(pass1: Seq[(String, QRes)],
                              prior: Map[String, Double]): Seq[(String, String)] =
    pass1.flatMap { case (n, r) =>
      val spread = r.med >= 0 && ((isolated(n) && r.spread > SpreadThreshold) ||
        (r.med >= 1.0 && r.spread > WideSpreadThreshold))
      val hist = histExcess(n, r, prior)
      val why = (hist.isDefined, spread) match {
        case (true, true) => Some("hist+spread")
        case (true, false) => Some("hist")
        case (false, true) => Some("spread")
        case _ => None
      }
      why.map(w => (n, w, math.max(math.max(r.spread, 0.0) * r.med,
        hist.getOrElse(0.0))))
    }.sortBy(-_._3).map { case (n, w, _) => (n, w) }

  /** Prior committed medians, keyed by SHORT name ("q185"), read from
    * the last committed artifact BEFORE this run overwrites it, with the
    * ones that may anchor the history trigger ([[parsePrior]]). Missing
    * or unparsable file → empty (first round, renamed artifact). */
  private def priorMedians(sfDir: String): (Map[String, Double], Map[String, Double]) = {
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json"))
    try parsePrior(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8), sfDir, Session.cpus)
    catch { case _: Throwable => (Map.empty, Map.empty) }
  }

  /** A prior artifact's medians by short name, and the medians the
    * history trigger may compare against. A prior measured at a DIFFERENT
    * scale factor gives neither: comparing sf1 medians against an sf0.1
    * artifact would flag essentially every query and re-fork the 20
    * heaviest for free. A prior whose `"cpus"` is absent or differs from
    * `cpus` was measured in another regime (the r18 artifact is 8-core
    * and has no `cpus`; on 4 cores seven of its rows read 1.6–3× and
    * re-measured as `hist` in every run): its medians still order the
    * isolated tier and size the shed projection, but trigger nothing. */
  private[graft] def parsePrior(txt: String, sfDir: String,
      cpus: Int): (Map[String, Double], Map[String, Double]) = {
    val sfOk = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(txt)
      .forall(_.group(1) == sfDir)
    val qStart = txt.indexOf("\"queries\":{")
    if (qStart < 0 || !sfOk) (Map.empty, Map.empty)
    else {
      val body = txt.substring(qStart + 11, txt.indexOf('}', qStart))
      val medians = "\"(q[0-9]+)\":(-?[0-9.]+)".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val sameCpus = "\"cpus\":([0-9]+)".r.findFirstMatchIn(txt)
        .exists(_.group(1).toInt == cpus)
      (medians, if (sameCpus) medians else Map.empty)
    }
  }

  /** The queries to measure: every registered query, or the
    * comma-separated `SPARK_GRAFT_BENCH_ONLY` list in its own order. A
    * list naming an unregistered query (`q15` for `q15_neardup_pairs`)
    * or no query at all is an error, never a silently smaller run. */
  private[graft] def selectNames(only: Option[String]): Either[String, Seq[String]] =
    only match {
      case None => Right(SparkEntry.queries.keys.toSeq)
      case Some(list) =>
        val asked = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val unknown = asked.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty)
          Left("SPARK_GRAFT_BENCH_ONLY names unknown queries: " +
            unknown.mkString(","))
        else if (asked.isEmpty) Left("SPARK_GRAFT_BENCH_ONLY names no query")
        else Right(asked)
    }

  /** 25 min, from the r17 driver evidence: the 8-core run PASSED at
    * ~21.5 min wall with its stability pass, the 32-core run was killed
    * at ≥ ~29 min — the budget sits between. A tighter default (the
    * 20 min first floated) would shed the heavy isolated tier to
    * single-rep medians in every driver run, trading a clean rc for a
    * per-query artifact the history comparison reads as across-the-board
    * regressions; 25 min sheds only the cheap tail, and only when the
    * box is genuinely slower than projected. */
  val DefaultDeadlineSec = 1500L

  /** Wall-clock budget (seconds) for the WHOLE coordinator run, from the
    * value of `SPARK_GRAFT_BENCH_DEADLINE_SEC`: unset is
    * [[DefaultDeadlineSec]], a positive whole number of seconds is that
    * budget, and anything else (≤ 0 or unparsable) is none — the
    * unbounded committed-artifact regime. Nothing else decides, so a run
    * piped to a log and one started from a terminal get the same budget.
    *
    * Under a budget the coordinator (a) sheds reps 3 → 1 for the
    * remaining children once the projected full-rep finish (plus a
    * reserve for the stability pass) would overrun it — coverage is shed
    * last, reps first — and (b) skips the stability remeasure pass when
    * the remaining budget cannot pay for it. Shedding events are recorded
    * in the JSON (`"shed"` = children forked at reps=1). The default is
    * on because, while the budget was opt-in, the 32-core run was killed
    * by its outer time limit in three rounds (rc 124): poisoned
    * first-pass medians survived into the artifact and the stability
    * pass never ran. */
  def deadlineOf(knob: Option[String]): Option[Long] = knob match {
    case Some(v) => scala.util.Try(v.trim.toLong).toOption.filter(_ > 0)
    case None => Some(DefaultDeadlineSec)
  }
  private val deadlineKnob = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC")
  private lazy val deadlineSec: Option[Long] = deadlineOf(deadlineKnob)
  /** True when the default, not the env knob, set the deadline — written
    * into every JSON line so budget-governed artifacts are told apart
    * from unbounded ones. */
  private lazy val deadlineDefault: Boolean = deadlineKnob.isEmpty
  /** Budget slice the shed decision keeps aside so the stability pass
    * (the spread/history remeasures — what rescued q209-style poisoned
    * medians every round it ran) survives under a deadline: shedding
    * reps early is cheaper than losing the pass. */
  private val StabilityReserveSec = 150.0
  private val tStartNanos = System.nanoTime()
  private def elapsedSec: Double = (System.nanoTime() - tStartNanos) / 1e9
  private def remainingSec: Double =
    deadlineSec.map(_ - elapsedSec).getOrElse(Double.MaxValue)

  /** PARTIAL stdout line (the round-14 postmortem: the driver killed
    * its bench child ~72s in and got `parsed: null` even though every
    * completed query's median existed in memory). After EVERY measured
    * query (round-17: per BENCHQ line, not per finished child group —
    * the r16 kill landed inside the FIRST child) the coordinator prints
    * a one-line JSON snapshot — same shape as the final line,
    * `"partial":true`, heaviest medians that fit the driver's
    * ~2000-char tail buffer — so a killed run's stdout tail always ends
    * in a parseable line covering everything measured so far. The final
    * (non-partial) line still prints last and wins any last-line parse.
    * `"suspect"` names the medians the history trigger flags against
    * `prior` (r17 VERDICT #8: q209's poisoned 40.5 s shipped in the
    * partial line indistinguishable from a real 3× regression) — a
    * consumer of a killed run's artifact should discount these. */
  private[graft] def partialLine(done: Seq[(String, QRes)], qn: Int,
                                 prior: Map[String, Double]): String = {
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val total = done.map(_._2.med).filter(_ >= 0).sum
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val suspect = done.collect {
      case (k, r) if histExcess(k, r, prior).isDefined =>
        "\"" + shortKey(k) + "\""
    }.take(8).mkString("[", ",", "]")
    val head = s"""{"metric":"total","value":${f3(total)},"unit":"sec","partial":true,"deadline_default":$deadlineDefault,"qn_done":${done.size},"qn":$qn,"suspect":$suspect,"sf":"$sfDir","queries":"""
    var budget = 1800 - head.length - 1
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    done.sortBy(-_._2.med).foreach { case (k, r) =>
      val cell = "\"" + shortKey(k) + "\":" + f3(r.med)
      if (budget - cell.length - 1 >= 0) { budget -= cell.length + 1; kept += cell }
    }
    head + kept.mkString("{", ",", "}") + "}"
  }

  private def coordinate(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY=q15_neardup_pairs,q61_neardup_clusters — local
    // iteration aid; the driver never sets it
    val names = selectNames(sys.env.get("SPARK_GRAFT_BENCH_ONLY")) match {
      case Right(ns) => ns
      case Left(why) => System.err.println(s"BENCH: $why"); sys.exit(2)
    }
    System.err.println(s"BENCH: deadline " +
      deadlineSec.fold("none")(d => s"${d}s") +
      (if (deadlineDefault) " (default)" else " (SPARK_GRAFT_BENCH_DEADLINE_SEC)"))
    // read the LAST COMMITTED artifact once, before this run overwrites
    // it — the history anchor for the stability pass and the heavy
    // tier's order
    val (prior, history) = priorMedians(sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bench")
    def rmTmp(): Unit = try {
      import java.nio.file._
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    } catch { case _: Throwable => }
    // CDS (class-data-sharing) archive cuts per-child overhead ~13s -> ~4.5s
    // (session create 7->2.3s, codegen warmup 5.8->1.9s, measured on this
    // host) WITHOUT touching measured reps — sharing only accelerates
    // classloading, which completes before rep 1. CDS requires a jar-only
    // classpath, so directory entries (sbt's target/classes) are jarred up
    // first; the first child dumps the archive at exit, the rest map it.
    val childCp = try jarredClasspath(tmp)
                  catch { case _: Throwable => System.getProperty("java.class.path") }
    val jsa = tmp.resolve("cds.jsa")
    // heavy queries ride alone; the sub-second tail shares children in
    // groups of GroupSize — full isolation for all 93 cost ~9s/child in
    // pure session+warmup overhead (~15 min wall), which risks any
    // driver-side bench budget for no measurement benefit on 0.2s queries.
    // Round-17 harness-fit: ONE cheap group runs FIRST — its sub-second
    // queries put the first parseable partial line on stdout within
    // seconds of the first fork, where the old heavy-first order left a
    // budget-killed run (r16 rc-124, killed inside child #1) with
    // nothing. The heavy tier follows immediately after.
    val cheapGroups = names.filterNot(n => isolated(n) || midTier(n))
      .grouped(GroupSize).toSeq
    // isolated tier heaviest-first (by prior median): a budget-killed
    // run's partial line carries the informative heavy medians as early
    // as possible, and under a tight deadline the per-child shed walk
    // spends its full-rep budget on the queries where rep noise costs
    // the most seconds
    val isoOrdered = names.filter(isolated)
      .sortBy(n => -prior.getOrElse(shortKey(n), 0.7))
    val groups: Seq[Seq[String]] =
      cheapGroups.take(1) ++
        isoOrdered.map(Seq(_)) ++
        names.filter(midTier).grouped(MidGroup).toSeq ++
        cheapGroups.drop(1)
    // live per-query snapshot for partial emission: updated on every
    // BENCHQ line any child prints (including the stability pass, where
    // the lower median wins — the final selection rule), so whatever
    // instant the driver kills the run, the stdout tail ends in a
    // parseable line with the best-known medians
    val live = scala.collection.mutable.LinkedHashMap.empty[String, QRes]
    def onHit(n: String, r: QRes): Unit = {
      live(n) = live.get(n) match {
        case Some(p) if p.med >= 0 && (r.med < 0 || p.med <= r.med) => p
        case _ => r
      }
      println(partialLine(live.toSeq, names.size, history))
    }
    val repsConf = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // projected child cost from the prior committed medians (unknown
    // queries estimated at 0.7 s) + ~5 s fixed per-child overhead
    def estSec(g: Seq[String], r: Int): Double =
      5.0 + r * g.map(n => prior.getOrElse(shortKey(n), 0.7)).sum
    // the one measurement mode is a fresh child JVM per group: a first
    // child that cannot fork ends the run — an in-process fallback would
    // ship medians with the r06 late-session tax under the same schema
    val first = runForked(groups.head, childCp,
      Seq(s"-XX:ArchiveClassesAtExit=$jsa"), onHit).getOrElse {
      System.err.println("BENCH: the first child JVM (" +
        groups.head.map(shortKey).mkString(",") + ") produced no " +
        "measurement; stopping without results")
      rmTmp(); sys.exit(1)
    }
    val cds = if (java.nio.file.Files.exists(jsa))
      Seq(s"-XX:SharedArchiveFile=$jsa") else Seq.empty
    val acc = scala.collection.mutable.ListBuffer.empty[(String, QRes)]
    acc ++= first
    // deadline rep-shedding, PER CHILD (r18: the r17 rule flipped one
    // global switch, so the first tight projection degraded every
    // remaining child — including the whole heavy tier — to single-rep
    // medians the history comparison then reads as regressions): each
    // child runs full reps while [this child at full reps + every later
    // child at one rep + the stability reserve] still fits the budget,
    // else THIS child sheds to reps=1 and the walk continues — reps are
    // shed before coverage, coverage never silently (every shed child is
    // counted in the JSON)
    var shedChildren = 0
    // the query names of every child forked at reps=1
    val shedQueries = scala.collection.mutable.ListBuffer.empty[String]
    val restGroups = groups.tail
    restGroups.zipWithIndex.foreach { case (g, i) =>
      val shedThis = deadlineSec.isDefined && repsConf > 1 && {
        val floorRest = restGroups.drop(i + 1).map(estSec(_, 1)).sum
        val need = estSec(g, repsConf) + floorRest + StabilityReserveSec
        val shed = need > remainingSec
        if (shed) System.err.println(
          f"BENCH: deadline $remainingSec%.0fs left < $need%.0fs " +
            f"projected — shedding ${g.map(shortKey).mkString(",")} " +
            "to reps=1")
        shed
      }
      val flags = if (shedThis) cds :+ "-Dgraft.bench.reps=1" else cds
      if (shedThis) { shedChildren += 1; shedQueries ++= g }
      acc ++= runForked(g, childCp, flags, onHit)
        .getOrElse(g.map(_ -> NoRes))
    }
    val pass1 = acc.toSeq
    // STABILITY PASS: re-fork each suspect once, ALONE, and keep the
    // lower median; the cap grows on overflow but stays bounded
    val sus = suspects(pass1, history)
    val picked = sus.take(if (sus.size > 12) 20 else 12)
    // under a deadline the stability pass runs only if the budget can
    // pay for it — a clean-but-partial artifact beats a kill
    // mid-remeasure (the partial lines protect either way)
    val retryBudgetOk = deadlineSec.isEmpty ||
      remainingSec > picked.map(p => estSec(Seq(p._1), repsConf)).sum
    if (picked.nonEmpty && !retryBudgetOk)
      System.err.println(f"BENCH: deadline $remainingSec%.0fs left —" +
        s" skipping the stability pass (${picked.size} suspects)")
    val retry: Map[String, QRes] =
      if (picked.isEmpty || !retryBudgetOk) Map.empty
      else {
        System.err.println(
          s"BENCH: re-measuring ${picked.size} suspect queries: " +
            picked.map { case (n, w) => shortKey(n) + "(" + w + ")" }
              .mkString(","))
        picked.flatMap { case (n, _) =>
          runForked(Seq(n), childCp, cds, onHit)
            .map(_.toMap).getOrElse(Map.empty)
        }.toMap
      }
    rmTmp()
    def keepSecond(r1: QRes, r2: QRes): Boolean =
      r2.med >= 0 && (r1.med < 0 || r2.med < r1.med)
    // (name, both measurements, which was kept: 1|2, why) keeps the
    // selection auditable; only a re-fork that measured counts
    val why = picked.toMap
    val retriesLog = pass1.collect { case (n, r1) if retry.contains(n) =>
      (n, r1, retry(n), if (keepSecond(r1, retry(n))) 2 else 1, why(n))
    }
    val results = pass1.map { case (n, r1) =>
      retry.get(n).filter(keepSecond(r1, _)).map(n -> _).getOrElse(n -> r1)
    }
    emit(results.toMap, results, picked.map(_._1).filter(retry.contains),
      retriesLog, shedChildren, shedQueries.toSeq)
  }

  /** The parent's classpath with every directory entry replaced by a jar of
    * its contents (CDS archives refuse non-empty directory entries). */
  private def jarredClasspath(tmp: java.nio.file.Path): String = {
    import java.io.File
    import java.nio.file._
    import java.util.jar.{JarEntry, JarOutputStream}
    System.getProperty("java.class.path").split(File.pathSeparator).zipWithIndex
      .map { case (entry, i) =>
        val dir = new File(entry)
        if (!dir.isDirectory) entry
        else {
          val jarPath = tmp.resolve(s"cp$i.jar")
          val jos = new JarOutputStream(Files.newOutputStream(jarPath))
          try {
            val base = dir.toPath
            Files.walk(base).filter(Files.isRegularFile(_)).forEach { f =>
              jos.putNextEntry(new JarEntry(base.relativize(f).toString.replace('\\', '/')))
              Files.copy(f, jos)
              jos.closeEntry()
            }
          } finally jos.close()
          jarPath.toString
        }
      }.mkString(File.pathSeparator)
  }

  /** Launch `graft.Bench --one <n1,n2,...>` in a fresh JVM with this JVM's
    * own flags (add-opens, -Xmx, -D props) and classpath; parse its BENCHQ
    * lines. Child stdout/stderr noise is forwarded to OUR stderr so the
    * driver's stdout keeps exactly one JSON line. Returns None, after
    * saying why on stderr, when the child printed no BENCHQ line at all
    * (the fork failed or the JVM died before its first query). */
  private def runForked(group: Seq[String], cp: String,
                        extraFlags: Seq[String],
                        onHit: (String, QRes) => Unit)
      : Option[Seq[(String, QRes)]] = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ extraFlags ++
      Seq("-cp", cp, "graft.Bench", "--one", group.mkString(","))
    try {
      val pb = new ProcessBuilder(cmd.asJava)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var line: String = null
      val hits = scala.collection.mutable.Map.empty[String, QRes]
      while ({ line = out.readLine(); line != null })
        if (line.startsWith("BENCHQ ")) {
          val parts = line.split(" ")
          val r = QRes(parts(2).toDouble, parts(3).toDouble,
            if (parts.length > 4) parts(4).toDouble else -1.0,
            if (parts.length > 5) parts(5).toDouble else -1.0)
          hits(parts(1)) = r
          onHit(parts(1), r)
        } else System.err.println(line)
      val rc = p.waitFor()
      if (hits.isEmpty) {
        System.err.println(s"BENCH fork ${group.mkString(",")}: no BENCHQ " +
          s"line, exit $rc"); None
      } else Some(group.map(n => n -> hits.getOrElse(n, NoRes)))
    } catch {
      case e: Throwable =>
        System.err.println(s"BENCH fork ${group.mkString(",")}: $e"); None
    }
  }

  private def emit(byName: Map[String, QRes],
                   ordered: Seq[(String, QRes)],
                   remeasured: Seq[String],
                   retriesLog: Seq[(String, QRes, QRes, Int, String)],
                   shedChildren: Int,
                   shedQueries: Seq[String]): Unit = {
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    def f2(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    val total = ordered.map(_._2.med).filter(_ >= 0).sum
    // containment invariants: subset must not exceed superset by >10%
    // (10% = rep noise allowance); any hit names the violated pair
    val bad = containment.flatMap { case (sub, sup) =>
      (byName.get(sub), byName.get(sup)) match {
        case (Some(s), Some(g)) if s.med >= 0 && g.med >= 0 && g.med < s.med / 1.10 =>
          Some(s"${shortKey(sup)}<${shortKey(sub)}")
        case _ => None
      }
    }
    val inv = if (bad.isEmpty) "ok" else bad.mkString("+")
    if (sys.env.contains("SPARK_GRAFT_BENCH_MIN")) {
      val qsMin = ordered.map { case (k, r) =>
        "\"" + shortKey(k) + "\":" + f3(r.min) }.mkString("{", ",", "}")
      System.err.println(s"""{"queries_min":$qsMin}""")
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // load/spread summary: max ambient load seen and worst isolated-tier
    // spread — the two numbers that say whether this run is trustworthy
    val loads = ordered.map(_._2.load).filter(_ >= 0)
    val loadMax = if (loads.isEmpty) -1.0 else loads.max
    val isoSpreads = ordered.collect {
      case (n, r) if isolated(n) && r.spread >= 0 => r.spread }
    val spreadMax = if (isoSpreads.isEmpty) -1.0 else isoSpreads.max
    val loadSummary =
      s""""loadmax":${f2(loadMax)},"iso_spreadmax":${f3(spreadMax)},"deadline_default":$deadlineDefault,"shed":$shedChildren,"remeasured":${remeasured.map(n => "\"" + shortKey(n) + "\"").mkString("[", ",", "]")},"""
    def line(qs: String, extra: String): String =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,$extra$loadSummary"reps":$reps,"cpus":${Session.cpus},"inv":"$inv","sf":"$sfDir"}"""
    // FULL artifact — every median + total + inv — goes to a FILE the
    // tail can never truncate: round 7's 181-entry stdout line overflowed
    // the driver's 2000-char tail buffer, losing 32 medians and leaving
    // parsed:null. The file is the complete record; stdout is best-effort.
    // The file (and only the file — stdout stays under the tail budget)
    // also carries per-query load and spread maps.
    val fullQs = ordered.map { case (k, r) =>
      "\"" + shortKey(k) + "\":" + f3(r.med) }.mkString("{", ",", "}")
    val loadQs = ordered.map { case (k, r) =>
      "\"" + shortKey(k) + "\":" + f2(r.load) }.mkString("{", ",", "}")
    val spreadQs = ordered.map { case (k, r) =>
      "\"" + shortKey(k) + "\":" + f3(r.spread) }.mkString("{", ",", "}")
    // both measurements of every remeasured query, plus which one the
    // lower-median-wins rule adopted — file artifact only
    val retriesJson = retriesLog.map { case (n, r1, r2, kept, why) =>
      "\"" + shortKey(n) + "\":{\"m1\":" + f3(r1.med) + ",\"l1\":" + f2(r1.load) +
        ",\"s1\":" + f3(r1.spread) + ",\"m2\":" + f3(r2.med) +
        ",\"l2\":" + f2(r2.load) + ",\"s2\":" + f3(r2.spread) +
        ",\"kept\":" + kept + ",\"why\":\"" + why + "\"}"
    }.mkString("{", ",", "}")
    val shedJson = shedQueries.map(n => "\"" + shortKey(n) + "\"")
      .mkString("[", ",", "]")
    val full = line(fullQs,
      s""""load":$loadQs,"spread":$spreadQs,"retries":$retriesJson,"shed_queries":$shedJson,""")
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_results.json"))
    try java.nio.file.Files.write(outPath,
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"BENCH write $outPath: $e") }
    // stdout line: medians only (per-query load/spread maps live in the
    // file; the compact loadmax/iso_spreadmax/remeasured summary ships on
    // stdout). If the full median map fits the driver's tail buffer print
    // it; otherwise print the HEAVIEST medians that fit (the informative
    // tail of the distribution — sub-100ms entries are the fungible ones)
    // plus qn (true count) and a pointer to the complete file
    val stdoutFull = line(fullQs, "")
    if (stdoutFull.length <= 1900) println(stdoutFull)
    else {
      val overhead = line("{}", s""""qn":${ordered.size},"queries_file":"$outPath",""").length
      var budget = 1900 - overhead
      val kept = scala.collection.mutable.ListBuffer.empty[(String, Double)]
      ordered.sortBy(-_._2.med).foreach { case (k, r) =>
        val cost = shortKey(k).length + f3(r.med).length + 4
        if (budget - cost >= 0) { budget -= cost; kept += (shortKey(k) -> r.med) }
      }
      val qs = kept.map { case (k, m) => "\"" + k + "\":" + f3(m) }
        .mkString("{", ",", "}")
      println(line(qs, s""""qn":${ordered.size},"queries_file":"$outPath","""))
    }
  }
}
