package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.jobs.{DailyRefreshJob, LandingJob}
import graft.operators.Upsert
import graft.sources.{Ingest, JobLock, RunLedger}

/** LANDING → REFRESH composed end to end on ONE storage root and ONE
  * run ledger — the reference's full cron-A lifecycle (`cron-a-direct
  * .ts:115-147`: fetch loop lands the day, the post-step chain derives
  * analytics from exactly the tables the loop just wrote):
  *
  *  1. land the four business tables for D1..Dn (orders: success /
  *     checked-empty / failed);
  *  2. refresh each date through [[DailyRefreshJob.runProductionRefresh]]
  *     READING THE LANDED TABLES (not a testdata dir), gated on that
  *     date's coverage manifest rows;
  *  3. a failed landing date BLOCKS its refresh via the claim (failed
  *     run row recorded, zero stages run or published);
  *  4. the landing catch-up heals the failed date, after which the
  *     blocked refresh reclaims and completes;
  *  5. the shared ledger shows BOTH jobs' terminal rows per date.
  */
class ComposedPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import ProductionRefreshSpec.{dsCustomer, dsEvents, dsLineitem, dsOrders}

  private val D3 = "2024-06-03"
  private val D4 = "2024-06-04" // checked-empty for every dataset
  private val D5 = "2024-06-05" // orders fails until the source heals

  private val orders = Map(
    D3 -> Seq(Row(1L, 1L, 10.0, D3, D3), Row(2L, 2L, 30.0, D3, D3)),
    D5 -> Seq(Row(3L, 1L, 7.0, D5, D5)))
  private val lineitem = Map(
    D3 -> Seq(Row(0L, 1L, 1L, 2.0, 10.0, 0.0, D3),
      Row(1L, 2L, 1L, 3.0, 30.0, 0.1, D3)),
    D5 -> Seq(Row(2L, 3L, 1L, 1.0, 7.0, 0.0, D5)))
  private val customer = Map(
    D3 -> Seq(Row(1L, "AUTOMOBILE", 100.0, D3),
      Row(2L, "MACHINERY", 50.0, D3)))
  private val events = Map(
    D3 -> Seq(
      Row(1L, 1L, java.sql.Timestamp.valueOf(s"$D3 09:00:00"), 5.0, D3),
      Row(2L, 1L, java.sql.Timestamp.valueOf(s"$D3 10:00:00"), 6.0, D3)))

  private final class Harness {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pipeline")
    val cfg = LandingJob.Config("landing_orders", dsOrders.name,
      s"$tmp/landing", s"$tmp/coverage")
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
    def fetch(rows: Map[String, Seq[Row]]): LandingJob.RowFetch =
      (date, _) => (200, rows.getOrElse(date, Nil), None)
    val ordersFetch: LandingJob.RowFetch = (date, _) =>
      if (date == D5 && !day5Ok) (500, Nil, None)
      else (200, orders.getOrElse(date, Nil), None)
    def land(entries: Seq[LandingJob.Scheduled]) =
      LandingJob.runSchedule(spark, lock, runs, cfg, entries, bucket,
        retrySleepMs = now += _, nowMs = () => now).toOption.get
    def landAll(dates: Seq[String]) = land(Seq(
      LandingJob.Scheduled(dsOrders, ordersFetch, dates),
      LandingJob.Scheduled(dsLineitem, fetch(lineitem), dates),
      LandingJob.Scheduled(dsCustomer, fetch(customer), dates),
      LandingJob.Scheduled(dsEvents, fetch(events), dates)))
    def refresh(date: String, version: String) =
      DailyRefreshJob.runProductionRefresh(spark, lock, runs, cfg,
        dsOrders, dsLineitem, dsCustomer, dsEvents, date, refreshRoot,
        version)
  }

  private def metrics(df: DataFrame): Seq[Row] =
    df.select(df.columns.sorted.toSeq.map(col): _*)
      .orderBy(col("c_custkey")).collect().toSeq

  /** The stock-metrics program over the source rows of `dates`. */
  private def directMetrics(dates: Set[String]): Seq[Row] = {
    import scala.jdk.CollectionConverters._
    def df(ds: LandingJob.Dataset, rows: Map[String, Seq[Row]]) =
      spark.createDataFrame(rows.filter(r => dates(r._1)).values.flatten
        .toSeq.asJava, ds.schema)
    metrics(graft.analytics.ScreenMetrics.fromTables(df(dsOrders, orders),
      df(dsLineitem, lineitem), df(dsCustomer, customer)))
  }

  private def publishedStage(h: Harness, stage: String): DataFrame =
    spark.read.parquet(
      Upsert.resolvePublished(s"${h.refreshRoot}/$stage").get)

  test("land → refresh lifecycle: refresh reads the landed table; failure blocks; catch-up heals") {
    val h = new Harness
    val dates = Seq(D3, D4, D5)

    // 1. landing pass: orders success / checked-empty success / failed;
    // the other three tables land every date
    val landed = h.landAll(dates)
    assert(landed.filter(_._1 == dsOrders.name)
      .map { case (_, r) => (r.date, r.status) } ==
      Seq((D3, "success"), (D4, "success"), (D5, "failed")))
    assert(landed.filter(_._1 != dsOrders.name).forall(_._2.status == "success"))

    // 2. refresh the landed date: stages read THE LANDED TABLES
    val r3 = h.refresh(D3, "v1")
    assert(r3.isRight && r3.toOption.get.forall(_.error.isEmpty), r3)
    assert(metrics(publishedStage(h, "stock_metrics")) ==
      directMetrics(Set(D3)),
      "stock_metrics must be computed from exactly the landed rows")
    // the shared ledger shows BOTH jobs' success rows for the date
    assert(h.runs.run("landing_orders", D3).get.status == "success")
    assert(h.runs.run("daily_refresh", D3).get.status == "success")

    // 2b. the checked-empty day is COVERED (success, 0 rows): its
    // refresh runs and publishes
    assert(h.refresh(D4, "v2").isRight)
    assert(Upsert.resolvePublished(s"${h.refreshRoot}/stock_metrics")
      .exists(_.endsWith("v=v2")))

    // 3. the failed landing date BLOCKS its refresh via the claim:
    // failed run row in the ledger, nothing published under its version
    val blocked = h.refresh(D5, "v3")
    assert(blocked == Left(s"landing not covered for $D5 " +
      "(need orders,lineitem,customer,events)"))
    val r5 = h.runs.run("daily_refresh", D5).get
    assert(r5.status == "failed" &&
      r5.error.exists(_.contains("landing not covered")))
    assert(!new java.io.File(s"${h.refreshRoot}/stock_metrics/v=v3").exists(),
      "a blocked refresh must not publish any stage")
    // a never-landed date blocks the same way
    assert(h.refresh("2024-06-06", "v3b").isLeft)

    // 4. the source heals; coverage-driven catch-up re-lands EXACTLY
    // the failed date, after which the blocked refresh reclaims and runs
    h.day5Ok = true
    val calendar = spark.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf(D3)), lit(java.sql.Date.valueOf(D5))))
        .as("day"))
      .withColumn("is_business_day", lit(true))
    val plan = LandingJob.catchUpDatesFor(spark, h.cfg, dsOrders.name,
      calendar, "day", java.sql.Date.valueOf(D5), lookbackDays = 10,
      maxDays = 10)
    assert(plan == Seq(D5))
    assert(h.land(Seq(LandingJob.Scheduled(dsOrders, h.ordersFetch, plan)))
      .map(_._2.status) == Seq("success"))
    val r5b = h.refresh(D5, "v4")
    assert(r5b.isRight && r5b.toOption.get.forall(_.error.isEmpty),
      "a healed landing date must un-block its refresh (failed claim reclaims)")
    assert(metrics(publishedStage(h, "stock_metrics")) ==
      directMetrics(Set(D3, D5)))
    // 5. terminal ledger: both jobs green on every landed date
    for (d <- dates) {
      assert(h.runs.run("landing_orders", d).get.status == "success", d)
      assert(h.runs.run("daily_refresh", d).get.status == "success", d)
    }
    Upsert.rmTree(h.tmp.toFile)
  }
}
