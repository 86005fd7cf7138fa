package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.jobs.{DailyRefreshJob, LandingJob}
import graft.operators.Upsert
import graft.sources.{Ingest, JobLock, RunLedger}

/** LANDING → REFRESH composed end to end on ONE storage root and ONE
  * run ledger — the reference's full cron-A lifecycle (`cron-a-direct
  * .ts:115-147`: fetch loop lands the day, the post-step chain derives
  * analytics from exactly the tables the loop just wrote):
  *
  *  1. land dates D1..Dn (success / checked-empty / failed);
  *  2. refresh each date READING THE LANDING TABLE (not a testdata
  *     dir), gated on that date's coverage manifest row;
  *  3. a failed landing date BLOCKS its refresh via the claim (failed
  *     run row recorded, zero stages run or published);
  *  4. the landing catch-up heals the failed date, after which the
  *     blocked refresh reclaims and completes;
  *  5. the shared ledger shows BOTH jobs' terminal rows per date.
  */
class ComposedPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private final class Harness {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pipeline")
    val cfg = LandingJob.Config("landing_orders", "orders",
      s"$tmp/landing", s"$tmp/coverage")
    val ds = LandingJob.Dataset(cfg.dataset, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("target_date", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false))), Seq("id"))
    val refreshRoot = s"$tmp/refresh"
    var now = 0L
    val bucket = new Ingest.TokenBucket(requestsPerMinute = 60,
      minIntervalMs = 1000L, nowMs = () => now, sleepMs = now += _)
    val lock = new JobLock(tmp.resolve("locks"))
    // ONE durable ledger file shared by the landing and refresh jobs —
    // the lifecycle the spec pins is cross-job by construction
    val runs = new RunLedger(nowMs = () => now,
      persistTo = Some(tmp.resolve("runs.tsv")))
    @volatile var day5Ok = false
    val fetch: LandingJob.RowFetch = (date, _) => date match {
      case "2024-06-03" =>
        (200, Seq(Row(1L, date, 10.0), Row(2L, date, 30.0)), None)
      case "2024-06-04" => (200, Nil, None) // checked-empty day
      case "2024-06-05" =>
        if (day5Ok) (200, Seq(Row(3L, date, 7.0)), None)
        else (500, Nil, None)
      case other => fail(s"unexpected fetch date: $other")
    }
    def land(dates: Seq[String]) =
      LandingJob.runSchedule(spark, lock, runs, cfg,
        Seq(LandingJob.Scheduled(ds, fetch, dates)), bucket,
        retrySleepMs = now += _, nowMs = () => now).toOption.get.map(_._2)
    def refresh(date: String, version: String) =
      DailyRefreshJob.runRefreshForLandedDate(spark, lock, runs, cfg, ds,
        date, refreshRoot, version)
  }

  private def publishedStage(h: Harness, stage: String)
      : org.apache.spark.sql.DataFrame =
    spark.read.parquet(
      Upsert.resolvePublished(s"${h.refreshRoot}/$stage").get)

  test("land → refresh lifecycle: refresh reads the landed table; failure blocks; catch-up heals") {
    import spark.implicits._
    val h = new Harness
    val dates = Seq("2024-06-03", "2024-06-04", "2024-06-05")

    // 1. landing pass: success / checked-empty success / failed
    assert(h.land(dates).map(r => (r.date, r.status)) == Seq(
      ("2024-06-03", "success"), ("2024-06-04", "success"),
      ("2024-06-05", "failed")))

    // 2. refresh the landed date: stages read THE LANDING TABLE
    assert(h.refresh("2024-06-03", "v1").isRight)
    val stats = publishedStage(h, "landing_daily_stats")
      .select(col("target_date").cast("string"), col("n_rows"),
        col("sum_value"))
      .as[(String, Long, Double)].collect().toSeq
    assert(stats == Seq(("2024-06-03", 2L, 40.0)),
      "daily stats must aggregate exactly the landed rows")
    val ranks = publishedStage(h, "landing_value_ranks")
      .select(col("id"), col("rank")).as[(Long, Int)].collect().toSet
    assert(ranks == Set((2L, 1), (1L, 2)),
      "ranks must order the landed rows by value")
    // the shared ledger shows BOTH jobs' success rows for the date
    assert(h.runs.run("landing_orders", "2024-06-03").get.status == "success")
    assert(h.runs.run("daily_refresh", "2024-06-03").get.status == "success")

    // 2b. the checked-empty day is COVERED (success, 0 rows): its
    // refresh runs and publishes honest zero-row snapshots
    assert(h.refresh("2024-06-04", "v2").isRight)
    assert(publishedStage(h, "landing_daily_stats").count() == 0)

    // 3. the failed landing date BLOCKS its refresh via the claim:
    // failed run row in the ledger, nothing published under its version
    val blocked = h.refresh("2024-06-05", "v3")
    assert(blocked == Left("landing not covered for 2024-06-05 (need orders)"))
    val r5 = h.runs.run("daily_refresh", "2024-06-05").get
    assert(r5.status == "failed" &&
      r5.error.exists(_.contains("landing not covered")))
    assert(!new java.io.File(
      s"${h.refreshRoot}/landing_daily_stats/v=v3").exists(),
      "a blocked refresh must not publish any stage")
    // a never-landed date blocks the same way
    assert(h.refresh("2024-06-06", "v3b").isLeft)

    // 4. the source heals; coverage-driven catch-up re-lands EXACTLY
    // the failed date, after which the blocked refresh reclaims and runs
    h.day5Ok = true
    val calendar = spark.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf("2024-06-03")),
        lit(java.sql.Date.valueOf("2024-06-05")))).as("day"))
      .withColumn("is_business_day", lit(true))
    val plan = LandingJob.catchUpDatesFor(spark, h.cfg, h.ds.name, calendar,
      "day", java.sql.Date.valueOf("2024-06-05"), lookbackDays = 10,
      maxDays = 10)
    assert(plan == Seq("2024-06-05"))
    assert(h.land(plan).map(_.status) == Seq("success"))
    assert(h.refresh("2024-06-05", "v4").isRight,
      "a healed landing date must un-block its refresh (failed claim reclaims)")
    assert(publishedStage(h, "landing_daily_stats")
      .select(col("n_rows")).as[Long].collect().toSeq == Seq(1L))
    // 5. terminal ledger: both jobs green on every landed date
    for (d <- Seq("2024-06-03", "2024-06-04", "2024-06-05")) {
      assert(h.runs.run("landing_orders", d).get.status == "success", d)
      assert(h.runs.run("daily_refresh", d).get.status == "success", d)
    }
  }
}
