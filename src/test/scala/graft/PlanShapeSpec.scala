package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards for the scale properties PLANS.md reviews:
  * small dims must broadcast, nothing may degenerate to a cartesian
  * product, and the bucket-pruned ANN scan must stay shuffle-free. These
  * are deliberately loose (substring checks on the physical plan) so they
  * catch structural regressions without pinning exact operator trees. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("flagship screen metrics broadcasts its dimension join") {
    assert(plan("q10_screen_metrics").contains("BroadcastHashJoin"))
  }

  test("full market breadth: universe flag + year roll join broadcast; no cartesian") {
    val p = plan("q42_market_breadth")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("PER bands: interval join broadcasts the span table; no self-join cartesian") {
    val p = plan("q43_per_bands")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("multi-probe ANN scan plans without a hash-partition exchange") {
    val p = plan("q47_ann_multiprobe")
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("bucketed co-located join plans with zero exchanges") {
    // write both sides bucketed once, then assert the join + aggregation
    // plan contains a sort-merge join and NO shuffle of any kind — the
    // property the bucketed layout exists to buy
    val sfx = "planspec"
    val root = s"${System.getProperty("user.dir")}/target/graft_bucketed_test_$sfx"
    graft.sources.Bucketed.writeBucketed(
      Tables.customer(spark, dir), s"customer_b_$sfx", s"$root/c", "c_custkey", 4)
    graft.sources.Bucketed.writeBucketed(
      Tables.orders(spark, dir), s"orders_b_$sfx", s"$root/o", "o_custkey", 4)
    val p = graft.queries.Colocate
      .aggregated(spark, s"customer_b_$sfx", s"orders_b_$sfx")
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.linesIterator.take(20).mkString("\n"))
    assert(!p.contains("Exchange"), "bucketed join must not shuffle:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("stratified sample: rates broadcast; no hash-partition exchange") {
    val p = plan("q63_stratified_sample")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("sequence packing: no single-partition window over fact rows") {
    // the two-phase prefix sum must keep the big-table window partitioned
    // by (stratum, bucket); a SinglePartition exchange would mean the
    // naive one-reducer-per-stratum form crept back in
    val p = plan("q64_sequence_packing")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("Exchange SinglePartition"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("vocab coverage: top-K via TakeOrdered, vocabulary broadcasts back") {
    val p = plan("q65_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("bm25: per-term dfs broadcast onto the tf relation") {
    val p = plan("q71_bm25")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("lm score: vocabulary broadcasts back onto the token stream") {
    val p = plan("q72_lm_score")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("shard assignment: one hash exchange, no single-partition window") {
    val p = plan("q73_shard_assign")
    assert(!p.contains("Exchange SinglePartition"),
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("quantization recall gates: probes broadcast and rank-k cuts plan as WindowGroupLimit") {
    for (name <- Seq("q98_sq8_recall", "q99_pq_adc_recall")) {
      val p = plan(name)
      // per-partition top-k retention before the qid shuffle — the scale
      // claim in the q98/q99 scaladocs
      assert(p.contains("WindowGroupLimit"), name)
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("generational bucketed state: multi-generation reads keep their clustering — no Exchange") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bg")
    val t = "plan_spec_bucket_gen"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      def gen(g: Long) = (1 to 500).map(i => (s"g${i % 200}", i.toLong, g))
        .toDF("gram", "v", "gen")
      graft.sources.Bucketed.writeBucketed(gen(1), t, s"$tmp/s", "gram", 16)
      graft.sources.Bucketed.appendBucketed(gen(2), t, "gram", 16)
      graft.sources.Bucketed.appendBucketed(gen(3), t, "gram", 16)
      // the absorb read-side min-merge: groupBy on the bucket key over
      // THREE file groups per bucket must plan with ZERO Exchange — this
      // is what makes generational resolution free of added shuffles
      val resolved = spark.table(t).groupBy(col("gram")).agg(min(col("v")))
      val p = resolved.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        "generational min-merge lost the bucketed clustering")
      assert(p.contains("Bucketed: true"))
      // and the absorb join shuffles ONLY the delta probe side
      val probe = Seq(("g1", 9L)).toDF("gram", "x")
      val joined = spark.table(t)
        .join(probe.hint("shuffle_hash"), Seq("gram"))
      val exchanges = "Exchange".r.findAllIn(
        joined.queryExecution.executedPlan.toString).size
      assert(exchanges == 1,
        s"state side must arrive pre-clustered (got $exchanges Exchanges)")
      // the DELTA-PRUNED state read (PersistedAbsorber.resolvedFor):
      // range filter pushed to the scan, shuffled-hash semi-join on the
      // delta's distinct grams (NOT a broadcast — the pruned regime is
      // exactly where a driver-sized broadcast bound would be the wrong
      // failure mode), min-merge on top — every shuffle in the plan is
      // DELTA-sized (its distinct + its re-bucketing to the state's
      // partitioning); the state side never exchanges and the range
      // predicate reaches the parquet scan (row-group skipping off the
      // bucket-sort order)
      val delta = Seq(("g1", 1L), ("g5", 2L)).toDF("gram", "d")
        .localCheckpoint()
      val prunedResolved = spark.table(t)
        .filter(col("gram") >= lit("g1") && col("gram") <= lit("g5"))
        .join(delta.select(col("gram")).distinct().hint("shuffle_hash"),
          Seq("gram"), "left_semi")
        .groupBy(col("gram")).agg(min(col("v")))
      val pp = prunedResolved.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(pp).size <= 2,
        "delta-pruned min-merge must shuffle only the delta side")
      assert(pp.contains("ShuffledHashJoin") && pp.contains("LeftSemi"),
        "pruned read must plan as a shuffled-hash left-semi join")
      assert(!pp.contains("BroadcastExchange"),
        "pruned read must not depend on a driver-bounded broadcast")
      assert(pp.contains("PushedFilters: [IsNotNull(gram), " +
        "GreaterThanOrEqual(gram,g1), LessThanOrEqual(gram,g5)]") ||
        pp.contains("GreaterThanOrEqual(gram,g1)"),
        "the delta range must reach the parquet scan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("coverage catch-up: one fact agg builds the manifest; the plan is driver-side") {
    val (ledger, _, _) =
      graft.queries.CoverageProgram.q218Inputs(spark, dir)
    val lp = ledger.queryExecution.executedPlan.toString
    assert(!lp.contains("CartesianProduct"))
    // exactly one scan of the fact table feeds the per-day count; the
    // watermark scalar was already resolved at plan-build time
    assert("orders\\.parquet".r.findAllIn(lp).size <= 2,
      "coverage catch-up must not rescan the fact table")
    // the planner ran on the driver: the output is a local relation
    val p = plan("q218_coverage_catchup")
    assert(p.contains("LocalTableScan") && !p.contains("orders.parquet"), p)
  }

  test("no gate query degenerates to an unintended cartesian product") {
    // the deliberate broadcast-1-row cross joins (q17 query vector) are
    // BroadcastNestedLoopJoin, not CartesianProduct
    for (name <- Seq("q01_pricing_agg", "q06_asof_join", "q39_multikey_semi",
        "q44_tracking_error", "q52_salted_agg", "q76_training_manifest")) {
      assert(!plan(name).contains("CartesianProduct"), name)
    }
  }

  test("ExactSubstr family: keyed joins only, no cartesian anywhere") {
    // q211's dup detection is a window over rank groups + a doc-keyed
    // lens join; q213's absorb is one gram-keyed join + one window;
    // q215's token table is a broadcast vocab join + ONE doc-keyed
    // window, then gram-keyed grouping and token-keyed span mapping.
    // None may degenerate to a cartesian or an unkeyed NL join.
    for (name <- Seq("q211_exact_substr", "q213_incr_exact_substr",
        "q215_token_exact_substr")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), name)
      assert(!p.contains("BroadcastNestedLoopJoin"), name)
    }
  }

  test("token table: vocab joins BROADCAST and one doc-keyed Exchange carries all windows") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.Text.normalize(col("text")).as("text"))
    val vocab = graft.operators.Bpe.trainAndEncode(
      graft.Tables.documents(spark, dir), "text", graft.queries.Curation.BpeRounds)._2
    val p = graft.queries.ExactSubstr.tokenTable(docs, vocab)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "vocab join must broadcast")
    // exactly one shuffle: the doc-keyed window exchange (the broadcast
    // side contributes BroadcastExchange, not a shuffle)
    val shuffles = p.split("Exchange hashpartitioning").length - 1
    assert(shuffles == 1,
      s"token table must shuffle ONCE (doc-keyed), saw $shuffles")
  }

  test("classifier inference: weight dim broadcasts onto the bigram stream") {
    val p = plan("q130_quality_classifier")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("skip-grams: window densification is an equi-join, never a range join") {
    val p = plan("q141_skip_grams")
    // a per-doc range join would surface as BroadcastNestedLoopJoin or
    // CartesianProduct with a p2-p1 BETWEEN condition; the densified form
    // is a plain hash join on (doc_id, pos)
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("semantic decontam: eval side broadcasts; train corpus never shuffles to a sort") {
    val p = plan("q137_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("date-partitioned layout: static partition pruning and DPP both reach the scan") {
    // the q194 layout: lineitem partitioned by ship month on disk
    val root = s"${System.getProperty("user.dir")}/target/graft_dpp_planspec"
    graft.queries.Partitioned.writePartitioned(spark, dir, root)
    try {
      // STATIC pruning: a literal month filter must land in the scan's
      // PartitionFilters (and select exactly one of ~84 directories)
      val static = spark.read.parquet(root)
        .filter(org.apache.spark.sql.functions.col("ship_month") === "1995-03")
      val sp = static.queryExecution.executedPlan.toString
      assert(sp.contains("PartitionFilters") && sp.contains("1995-03"),
        "literal month filter must prune partitions:\n" +
          sp.linesIterator.take(12).mkString("\n"))
      val scanned = static.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
      assert(scanned.nonEmpty && scanned.head == 1,
        s"expected exactly 1 partition dir scanned, got $scanned")
      // DYNAMIC pruning: joining to a runtime-derived month dim must put
      // a DynamicPruningExpression into the fact scan's PartitionFilters
      val dyn = graft.queries.Partitioned.prunedAgg(spark, root,
        graft.queries.Partitioned.urgentMonths(spark, dir))
      val dp = dyn.queryExecution.executedPlan.toString
      assert(dp.toLowerCase.contains("dynamicpruning"),
        "fact scan must carry a DynamicPruningExpression:\n" +
          dp.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("landed-table refresh stages prune to the ONE target_date partition") {
    // the O(day) refresh claim, structurally: the landing table is
    // date-partitioned, and a refresh stage's scan must carry the
    // target_date in PartitionFilters and select exactly one of the
    // landed partition dirs (this pins the plan so a layout regression
    // fails fast)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft_planland")
    var now = 0L
    val bucket = new graft.sources.Ingest.TokenBucket(600, 1L,
      nowMs = () => now, sleepMs = now += _)
    val lock = new graft.sources.JobLock(tmp.resolve("locks"))
    val runs = new graft.sources.RunLedger(nowMs = () => now)
    val cfg = graft.jobs.LandingJob.Config("landing_plan", "rows",
      s"$tmp/landing", s"$tmp/coverage")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("target_date", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false)))
    val ds = graft.jobs.LandingJob.Dataset(cfg.dataset, schema, Seq("id"))
    val fetch: graft.jobs.LandingJob.RowFetch = (d, _) =>
      (200, Seq(Row(1L, d, 1.0), Row(2L, d, 2.0)), None)
    val dates = Seq("2024-06-03", "2024-06-04", "2024-06-05")
    assert(graft.jobs.LandingJob.runSchedule(spark, lock, runs, cfg,
      Seq(graft.jobs.LandingJob.Scheduled(ds, fetch, dates)), bucket,
      now += _, nowMs = () => now)
      .toOption.get.forall(_._2.status == "success"))
    val stage = GenericLandingSpec.dayStats(spark, cfg.landingRoot, ds,
      "2024-06-04")
    val plan = stage.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("2024-06-04"),
      "target_date must reach the scan as a partition filter:\n" +
        plan.linesIterator.filter(_.contains("PartitionFilters"))
          .mkString("\n"))
    // the agg stage is AQE-wrapped: descend into the adaptive plan to
    // reach the actual file scan
    def scans(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = pl match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scanned = scans(stage.queryExecution.executedPlan)
      .map(_.selectedPartitions.partitionCount)
    assert(scanned.nonEmpty && scanned.forall(_ == 1),
      s"a daily refresh must scan exactly 1 of the 3 landed partition dirs, got $scanned")
    graft.operators.Upsert.rmTree(tmp.toFile)
  }

  test("incremental refresh over the partitioned layout touches only [wm, newest] dirs") {
    // the q198 composition: watermark/overlap-by-1 refresh READING the
    // date-partitioned layout must schedule scans for exactly the
    // watermark month and everything after — never the full history
    import org.apache.spark.sql.functions.{col, date_format}
    val root = s"${System.getProperty("user.dir")}/target/graft_incr_planspec"
    graft.queries.Partitioned.writePartitioned(spark, dir, root)
    try {
      val months = graft.Tables.lineitem(spark, dir)
        .select(date_format(col("l_shipdate"), "yyyy-MM").as("m"))
        .distinct().collect().map(_.getString(0)).sorted
      val wm = months(months.length - 2) // second-newest = watermark month
      val refresh = graft.queries.Partitioned.refreshRead(spark, root, wm)
      val rp = refresh.queryExecution.executedPlan.toString
      assert(rp.contains("PartitionFilters") && rp.contains(wm),
        "watermark literal must land in the scan's PartitionFilters:\n" +
          rp.linesIterator.take(12).mkString("\n"))
      val scanned = refresh.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
      val expect = months.count(_ >= wm) // = 2: watermark month + newest
      assert(scanned.nonEmpty && scanned.head == expect,
        s"refresh read must scan exactly $expect of ${months.length} " +
          s"partition dirs, got $scanned")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("new round-7 gates avoid cartesian degeneration") {
    for (name <- Seq("q123_allpairs_join", "q124_span_dedup",
        "q126_cms_estimate", "q129_inverted_index", "q135_dataset_card",
        "q136_quality_keeper", "q139_pmi_pairs", "q144_split_assign")) {
      assert(!plan(name).contains("CartesianProduct"), name)
    }
  }

  test("MaxSim: the bounded query batch broadcasts; corpus tokens never hash-shuffle before scoring") {
    val p = plan("q203_maxsim")
    // the only join is the broadcast nested loop against the bounded
    // query-token batch — scoring happens map-side on the corpus shards
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.linesIterator.take(25).mkString("\n"))
    assert(!p.contains("SortMergeJoin"), "corpus tokens must not sort-merge")
  }

  test("k-center assignment joins against the broadcast center table; no cartesian blowup past it") {
    val p = plan("q205_kcenter")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }
}
