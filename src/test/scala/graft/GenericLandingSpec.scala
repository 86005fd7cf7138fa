package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.jobs.LandingJob
import graft.jobs.LandingJob.{Config, Dataset}
import graft.operators.Upsert
import graft.sources.{Ingest, JobLock, RunLedger}

/** The SCHEMA-GENERIC landing job (round-16): per-[[Dataset]] schema /
  * key / batch-size / transform through the same composed control plane
  * (reference: the per-endpoint registry of `src/lib/utils/batch.ts:12-30`
  * and the endpoint mapping modules).
  *
  *  1. TWO SCHEMAS, ONE ROOT — a 3-column bars dataset and a wide
  *     fins-shaped dataset land under one landing root + one coverage
  *     root + one job lock + one run ledger, without interfering.
  *  2. CHUNK SPOOL — pages spool to staging every batchSize rows
  *     (driver residency bounded by one chunk + one page), the spooled
  *     relation round-trips with last-wins key dedup.
  *  3. WITHIN-FETCH DUPES — duplicate keys inside one fetch land once,
  *     LAST page wins (the reference's ON CONFLICT DO UPDATE applied to
  *     an offset cursor racing upstream inserts), and the manifest
  *     counts the deduped figure.
  *  4. CRASH BETWEEN CHUNKS — a fetch that dies after the first chunk
  *     was staged leaves a FAILED manifest; the coverage-driven
  *     catch-up re-lands the date and the partition converges to
  *     exactly the clean-run rows.
  */
class GenericLandingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val barsSchema = StructType(Seq(
    StructField("code", StringType, nullable = false),
    StructField("target_date", StringType, nullable = false),
    StructField("close", DoubleType, nullable = false)))

  private val finsSchema = StructType(
    Seq(StructField("code", StringType, nullable = false),
      StructField("target_date", StringType, nullable = false),
      StructField("note", StringType, nullable = true)) ++
      (1 to 12).map(k => StructField(f"v$k%02d", LongType, nullable = false)))

  private def finsRow(code: String, date: String, note: String,
                      base: Long): Row =
    Row.fromSeq(Seq(code, date, note) ++ (1 to 12).map(k => base * k))

  private def mkHarness() = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_genland")
    var now = 0L
    val bucket = new Ingest.TokenBucket(requestsPerMinute = 600,
      minIntervalMs = 1L, nowMs = () => now, sleepMs = now += _)
    val lock = new JobLock(tmp.resolve("locks"))
    val runs = new RunLedger(nowMs = () => now)
    (tmp, bucket, lock, runs, (d: Long) => now += d, () => now)
  }

  /** One landing pass of one dataset (a one-entry schedule). */
  private def landOne(lock: JobLock, runs: RunLedger, cfg: Config,
                      ds: Dataset, dates: Seq[String],
                      fetch: LandingJob.RowFetch,
                      bucket: Ingest.TokenBucket, sleep: Long => Unit,
                      now: () => Long): Seq[LandingJob.DateResult] =
    LandingJob.runSchedule(spark, lock, runs, cfg,
      Seq(LandingJob.Scheduled(ds, fetch, dates)), bucket, sleep,
      nowMs = now).toOption.get.map(_._2)

  test("two different-schema datasets land under one coverage root") {
    val (tmp, bucket, lock, runs, sleep, now) = mkHarness()
    val cfg = Config("landing_multi", "multi",
      s"$tmp/landing", s"$tmp/coverage")
    val bars = Dataset("bars", barsSchema, Seq("code"))
    val fins = Dataset("fins", finsSchema, Seq("code"),
      transform = df => df.withColumn("note",
        when(length(col("note")) === 0, lit(null)).otherwise(col("note"))))
    val barsFetch: LandingJob.RowFetch = (d, _) =>
      (200, Seq(Row("7203", d, 101.5), Row("9984", d, 55.25)), None)
    val finsFetch: LandingJob.RowFetch = (d, _) =>
      (200, Seq(finsRow("7203", d, "", 10L),
        finsRow("6758", d, "ok", 20L)), None)
    assert(landOne(lock, runs, cfg, bars, Seq("2024-06-03"), barsFetch,
      bucket, sleep, now).map(_.status) == Seq("success"))
    assert(landOne(lock, runs, cfg, fins, Seq("2024-06-03"), finsFetch,
      bucket, sleep, now).map(_.status) == Seq("success"))

    // each dataset's table has its own root, schema, and rows
    val barsT = LandingJob.readLanding(spark, cfg.landingRoot, bars).get
    assert(barsT.columns.toSet == Set("code", "target_date", "close"))
    assert(barsT.count() == 2)
    val finsT = LandingJob.readLanding(spark, cfg.landingRoot, fins).get
    assert(finsT.columns.length == 15)
    assert(finsT.count() == 2)
    // the transform cleansed ""→null on the fins rows only
    assert(finsT.filter(col("note").isNull).count() == 1)
    // ONE coverage root carries one manifest row per (dataset, day)
    val cov = LandingJob.readLedger(spark, cfg.coverageRoot,
      Seq("bars", "fins"), Seq(java.sql.Date.valueOf("2024-06-03")))
    assert(cov.select("dataset").distinct().collect().map(_.getString(0))
      .toSet == Set("bars", "fins"))
    assert(cov.filter(col("status") === "success").count() == 2)
    // the shared ledger holds one claim per (job:dataset, day)
    assert(runs.run("landing_multi:bars", "2024-06-03")
      .get.status == "success")
    assert(runs.run("landing_multi:fins", "2024-06-03")
      .get.status == "success")
    Upsert.rmTree(tmp.toFile)
  }

  test("chunk spool: bounded residency, staged round-trip, last-wins dedup") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_spool")
    val ds = Dataset("bars", barsSchema, Seq("code"), batchSize = 8)
    val spool = new LandingJob.ChunkSpool(spark, ds, s"$tmp/stage")
    // 5 pages of 10 rows; codes repeat across pages (page p rewrites
    // codes c0..c9 with close = p) — last page must win per code
    (1 to 5).foreach { p =>
      spool.add((0 until 10).map(i =>
        Row(s"c$i", "2024-06-03", p.toDouble)))
    }
    // residency never exceeded one chunk + one page
    assert(spool.peakBuffered <= 8 + 10,
      s"peak ${spool.peakBuffered} exceeds chunk+page bound")
    val df = spool.dedupedIncoming().get
    val got = df.select("code", "close").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == (0 until 10).map(i => s"c$i").toSet)
    assert(got.values.toSet == Set(5.0), "last page must win per key")
    Upsert.rmTree(tmp.toFile)
  }

  test("within-fetch duplicate keys land once, last wins, count deduped") {
    val (tmp, bucket, lock, runs, sleep, now) = mkHarness()
    val cfg = Config("landing_dup", "bars",
      s"$tmp/landing", s"$tmp/coverage")
    val ds = Dataset("bars", barsSchema, Seq("code"))
    // an offset cursor racing upstream inserts re-serves code 7203 on
    // page 2 with a corrected close
    val fetch: LandingJob.RowFetch = (d, cursor) => cursor match {
      case None =>
        (200, Seq(Row("7203", d, 100.0), Row("9984", d, 50.0)), Some("2"))
      case Some("2") =>
        (200, Seq(Row("7203", d, 101.0)), None)
      case other => fail(s"unexpected cursor $other")
    }
    val out = landOne(lock, runs, cfg, ds, Seq("2024-06-03"), fetch,
      bucket, sleep, now).head
    assert(out.status == "success")
    assert(out.rows == 2, "manifest must count the DEDUPED figure")
    val t = LandingJob.readLanding(spark, cfg.landingRoot, ds).get
    assert(t.count() == 2)
    assert(t.filter(col("code") === "7203").select("close")
      .collect().map(_.getDouble(0)).toSeq == Seq(101.0),
      "the LAST served row must win the key collision")
    Upsert.rmTree(tmp.toFile)
  }

  test("scheduler: a failing dataset blocks nothing; ordered cross-dataset heal") {
    val (tmp, bucket, lock, runs, sleep, now) = mkHarness()
    val cfg = Config("landing_sched", "sched",
      s"$tmp/landing", s"$tmp/coverage", maxRetries = 0)
    val bars = Dataset("bars", barsSchema, Seq("code"))
    val fins = Dataset("fins", finsSchema, Seq("code"))
    val dates = Seq("2024-06-03", "2024-06-04")
    @volatile var barsOk = false
    val barsFetch: LandingJob.RowFetch = (d, _) =>
      if (!barsOk) (500, Nil, None)
      else (200, Seq(Row("7203", d, 1.0)), None)
    val finsFetch: LandingJob.RowFetch = (d, _) =>
      (200, Seq(finsRow("7203", d, "x", 5L)), None)
    // pass 1: bars (higher priority) fails every date — fins must still
    // run and land (two-level continue-on-error)
    val out = LandingJob.runSchedule(spark, lock, runs, cfg, Seq(
      LandingJob.Scheduled(bars, barsFetch, dates),
      LandingJob.Scheduled(fins, finsFetch, dates)),
      bucket, sleep, nowMs = now).toOption.get
    assert(out.map { case (n, r) => (n, r.date, r.status) } == Seq(
      ("bars", "2024-06-03", "failed"), ("bars", "2024-06-04", "failed"),
      ("fins", "2024-06-03", "success"), ("fins", "2024-06-04", "success")))
    assert(LandingJob.readLanding(spark, cfg.landingRoot, fins)
      .get.count() == 2)
    // cross-dataset catch-up: only bars needs healing, oldest first
    import spark.implicits._
    val cal = dates.map(java.sql.Date.valueOf).toDF("day")
      .withColumn("is_business_day", lit(true))
    val plan = LandingJob.scheduleCatchUp(spark, cfg,
      Seq("bars", "fins"), cal, "day",
      java.sql.Date.valueOf(dates.last), 10, 10)
    assert(plan == Seq("bars" -> dates))
    // heal: run exactly the planned schedule
    barsOk = true
    val healed = LandingJob.runSchedule(spark, lock, runs, cfg,
      plan.map { case (n, dd) =>
        LandingJob.Scheduled(if (n == "bars") bars else fins,
          barsFetch, dd) },
      bucket, sleep, nowMs = now).toOption.get
    assert(healed.forall(_._2.status == "success"))
    assert(LandingJob.readLanding(spark, cfg.landingRoot, bars)
      .get.count() == 2)
    // nothing left to heal for either dataset
    assert(LandingJob.scheduleCatchUp(spark, cfg, Seq("bars", "fins"),
      cal, "day", java.sql.Date.valueOf(dates.last), 10, 10).isEmpty)
    Upsert.rmTree(tmp.toFile)
  }

  test("row-count-changing transform: one-chunk and staged regimes agree on rows AND manifest count") {
    // the round-16 review finding: the two write paths used to disagree
    // on transform/dedup order, and a transform that drops rows skewed
    // the staged manifest figure. Contract now: dedup the RAW fetch on
    // the endpoint key, transform ONCE on the deduped relation, and
    // the manifest counts the deduped FETCHED rows in both regimes.
    val (tmp, bucket, lock, runs, sleep, now) = mkHarness()
    val dropOdd: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(col("close") >= 0) // drops the planted negatives
    val rows = (0 until 10).map(i =>
      Row(s"c$i", "2024-06-03", if (i % 2 == 1) -1.0 else i.toDouble)) :+
      Row("c0", "2024-06-03", 100.0) // within-fetch dup key, last wins
    val fetch: LandingJob.RowFetch = (_, _) => (200, rows, None)
    def landOnce(sub: String, batchSize: Int) = {
      val cfg = Config(s"landing_tc_$sub", "bars",
        s"$tmp/$sub/landing", s"$tmp/$sub/coverage")
      val ds = Dataset("bars", barsSchema, Seq("code"),
        batchSize = batchSize, transform = dropOdd)
      val out = landOne(lock, runs, cfg, ds, Seq("2024-06-03"), fetch,
        bucket, sleep, now).head
      val landed = LandingJob.readLanding(spark, cfg.landingRoot, ds).get
        .select(col("code"), col("close"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      (out.rows, landed)
    }
    val (n1, t1) = landOnce("one", batchSize = 1000) // one-chunk path
    val (n2, t2) = landOnce("stg", batchSize = 3)    // staged path
    assert(t1 == t2, "the two write regimes landed different rows")
    assert(n1 == n2, "the two write regimes reported different manifest counts")
    assert(n1 == 10, "manifest must count deduped FETCHED rows (10), pre-transform")
    assert(t1 == Set("c0" -> 100.0, "c2" -> 2.0, "c4" -> 4.0,
      "c6" -> 6.0, "c8" -> 8.0),
      "dedup on raw key (c0 last wins) then transform (negatives dropped)")
    Upsert.rmTree(tmp.toFile)
  }

  test("a generic dataset named like the config lands and refreshes under data_<name>") {
    // the refresh must read the dataset's own data_<name> table
    val (tmp, bucket, lock, runs, sleep, now) = mkHarness()
    val cfg = Config("landing_fb", "rows",
      s"$tmp/landing", s"$tmp/coverage")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("target_date", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("extra", StringType, nullable = true)))
    val ds = Dataset(cfg.dataset, schema, Seq("id"))
    val fetch: LandingJob.RowFetch = (d, _) =>
      (200, Seq(Row(1L, d, 10.0, "x"), Row(2L, d, 30.0, null)), None)
    assert(landOne(lock, runs, cfg, ds, Seq("2024-06-03"), fetch, bucket,
      sleep, now).head.status == "success")
    // the landed table sits under data_rows, and nothing else is written
    // beside it but the staging root
    assert(new java.io.File(s"${cfg.landingRoot}/data_rows").isDirectory)
    assert(new java.io.File(cfg.landingRoot).list().toSet
      .subsetOf(Set("data_rows", "stage")))
    val out = graft.jobs.DailyRefreshJob.runClaimed(spark, lock, runs,
      "2024-06-03", cfg.landingRoot, s"$tmp/refresh", "v1",
      stages = Some(Seq("landing_daily_stats" -> (() =>
        GenericLandingSpec.dayStats(spark, cfg.landingRoot, ds,
          "2024-06-03")))))
    val stages = out.fold(e => fail(s"refresh blocked: $e"), identity)
    assert(stages.forall(_.error.isEmpty), stages.toString)
    import spark.implicits._
    val stats = spark.read.parquet(Upsert.resolvePublished(
        s"$tmp/refresh/landing_daily_stats").get)
      .select(col("n_rows"), col("sum_value"))
      .as[(Long, Double)].collect().toSeq
    assert(stats == Seq((2L, 40.0)),
      "the refresh must aggregate the generically-landed rows")
    Upsert.rmTree(tmp.toFile)
  }

  test("crash between chunks: FAILED manifest, catch-up heals to clean rows") {
    val (tmp, bucket, lock, runs, sleep, now) = mkHarness()
    val cfg = Config("landing_crash", "bars",
      s"$tmp/landing", s"$tmp/coverage", maxRetries = 0)
    val ds = Dataset("bars", barsSchema, Seq("code"), batchSize = 8)
    @volatile var healed = false
    // 3 pages of 10; page 2 dies hard on the first pass — AFTER page 1
    // already flushed a staged chunk
    val fetch: LandingJob.RowFetch = (d, cursor) => {
      val start = cursor.map(_.toInt).getOrElse(0)
      if (start == 10 && !healed) (500, Nil, None)
      else {
        val page = (start until math.min(start + 10, 30)).map(i =>
          Row(s"c$i", d, i.toDouble))
        val next = if (start + 10 < 30) Some((start + 10).toString) else None
        (200, page, next)
      }
    }
    val first = landOne(lock, runs, cfg, ds, Seq("2024-06-03"), fetch,
      bucket, sleep, now).head
    assert(first.status == "failed")
    // the failed attempt left no staging behind and no landed partition
    assert(!new java.io.File(s"${cfg.landingRoot}/stage/bars").exists() ||
      new java.io.File(s"${cfg.landingRoot}/stage/bars").list().isEmpty)
    // manifest says FAILED — the catch-up signal
    val cov0 = LandingJob.readLedger(spark, cfg.coverageRoot, Seq("bars"),
      Seq(java.sql.Date.valueOf("2024-06-03")))
    assert(cov0.filter(col("dataset") === "bars" &&
      col("status") === "failed").count() == 1)
    healed = true
    import spark.implicits._
    val cal = Seq(java.sql.Date.valueOf("2024-06-03")).toDF("day")
      .withColumn("is_business_day", lit(true))
    val plan = LandingJob.catchUpDatesFor(spark, cfg, "bars", cal, "day",
      java.sql.Date.valueOf("2024-06-03"), 10, 10)
    assert(plan == Seq("2024-06-03"))
    val second = landOne(lock, runs, cfg, ds, plan, fetch, bucket, sleep,
      now).head
    assert(second.status == "success" && second.rows == 30)
    val rows = LandingJob.readLanding(spark, cfg.landingRoot, ds).get
      .select("code", "close").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSet
    assert(rows == (0 until 30).map(i => s"c$i" -> i.toDouble).toSet,
      "healed partition must hold exactly the clean-run rows")
    Upsert.rmTree(tmp.toFile)
  }
}

object GenericLandingSpec {
  /** A derived stage over one landed date: row count and value sum of
    * `ds`'s `targetDate` partition (the dataset needs a `value`
    * column). */
  def dayStats(spark: org.apache.spark.sql.SparkSession, landingRoot: String,
               ds: Dataset, targetDate: String)
      : org.apache.spark.sql.DataFrame =
    LandingJob.readLanding(spark, landingRoot, ds)
      .getOrElse(sys.error(s"no landed ${ds.name} table under $landingRoot"))
      .filter(col("target_date") === to_date(lit(targetDate)))
      .groupBy(col("target_date"))
      .agg(count(lit(1)).as("n_rows"), sum(col("value")).as("sum_value"))
}
