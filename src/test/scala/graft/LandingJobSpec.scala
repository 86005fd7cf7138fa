package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.jobs.LandingJob
import graft.sources.{Ingest, JobLock, RunLedger}

/** The composed landing job (`cron-a-direct.ts:115-147` shape), replayed
  * deterministically end to end:
  *
  *  1. SCHEDULE — the exact interleaving of token-bucket waits and
  *     backoff sleeps across pages, retries, and dates (every clock and
  *     sleeper injected and shared).
  *  2. IDEMPOTENCE — re-running the same dates against the same source
  *     leaves the landing table IDENTICAL (`cron-a-direct.ts:9`), both
  *     via the claim's `already_executed` skip and via a forced full
  *     re-fetch through the keyed upsert.
  *  3. DOUBLE START — a held lease rejects the run before any claim,
  *     fetch, or write (the reference's 409).
  *  4. COVERAGE — each date's manifest row reflects what the attempt
  *     established (success+rows / success+0 checked-empty / failed),
  *     and the next run's catch-up plan reads the MANIFEST: the failed
  *     day is retried, the checked-empty day is not.
  */
class LandingJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** The landed row shape: (id, target_date, value), keyed on id. */
  private val ds = LandingJob.Dataset("orders", StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("target_date", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false))), Seq("id"))

  /** Deterministic fake paginated endpoint: 06-03 has three pages whose
    * second page fails 429 then 503 ONCE EACH (globally); 06-04 is a
    * genuinely empty day; 06-05 is a hard 500 until `day5Ok`. */
  private final class Endpoint {
    var p2fails: List[Int] = List(429, 503)
    @volatile var day5Ok = false
    val calls = scala.collection.mutable.ArrayBuffer
      .empty[(String, Option[String])]
    def fetch(date: String, cursor: Option[String])
        : (Int, Seq[Row], Option[String]) = {
      calls += ((date, cursor))
      (date, cursor) match {
        case ("2024-06-03", None) =>
          (200, Seq(Row(1L, date, 1.5), Row(2L, date, 3.0)),
            Some("p2"))
        case ("2024-06-03", Some("p2")) => p2fails match {
          case h :: t => p2fails = t; (h, Nil, None)
          case Nil =>
            (200, Seq(Row(3L, date, 4.5), Row(4L, date, 6.0)),
              Some("p3"))
        }
        case ("2024-06-03", Some("p3")) =>
          (200, Seq(Row(5L, date, 7.5)), None)
        case ("2024-06-04", None) => (200, Nil, None) // checked-empty day
        case ("2024-06-05", None) =>
          if (day5Ok) (200, Seq(Row(6L, date, 9.0)), None)
          else (500, Nil, None)
        case other => fail(s"unexpected fetch: $other")
      }
    }
  }

  private def mkHarness() = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_landing")
    val cfg = LandingJob.Config("landing_orders", "orders",
      s"$tmp/landing", s"$tmp/coverage")
    var now = 0L
    val schedule =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val bucket = new Ingest.TokenBucket(requestsPerMinute = 60,
      minIntervalMs = 1000L, nowMs = () => now,
      sleepMs = d => { schedule += (("bucket", d)); now += d })
    val lock = new JobLock(tmp.resolve("locks"))
    (cfg, bucket, lock, schedule, () => now,
      (d: Long) => { schedule += (("retry", d)); now += d })
  }

  /** One landing pass of `ds` over `dates` (a one-entry schedule). */
  private def land(lock: JobLock, runs: RunLedger, cfg: LandingJob.Config,
                   dates: Seq[String], fetch: LandingJob.RowFetch,
                   bucket: Ingest.TokenBucket, retrySleep: Long => Unit,
                   nowF: () => Long)
      : Either[String, Seq[LandingJob.DateResult]] =
    LandingJob.runSchedule(spark, lock, runs, cfg,
      Seq(LandingJob.Scheduled(ds, fetch, dates)), bucket,
      retrySleepMs = retrySleep, nowMs = nowF).map(_.map(_._2))

  private def landingRows(cfg: LandingJob.Config): Seq[(Long, String, Double)] = {
    import spark.implicits._
    LandingJob.readLanding(spark, cfg.landingRoot, ds) match {
      case None => Seq.empty
      case Some(t) => t
        .select(col("id"), col("target_date").cast("string"), col("value"))
        .as[(Long, String, Double)].collect().toSeq.sortBy(_._1)
    }
  }

  /** Every data file under one date's partition: name → (size, md5). */
  private def partitionFiles(cfg: LandingJob.Config, date: String)
      : Map[String, (Long, String)] = {
    val dir = new java.io.File(
      s"${cfg.landingRoot}/data_${ds.name}/target_date=$date")
    Option(dir.listFiles()).getOrElse(Array())
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
      .map { f =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
        f.getName -> ((f.length(), md5))
      }.toMap
  }

  private def coverageRows(cfg: LandingJob.Config): Map[String, (String, Long, Int)] = {
    import spark.implicits._
    LandingJob.readLedger(spark, cfg.coverageRoot, Seq(ds.name),
        dates.map(java.sql.Date.valueOf))
      .select(col("target_date").cast("string"), col("status"),
        col("row_count"), col("error_count"))
      .as[(String, String, Long, Int)].collect()
      .map { case (d, st, rc, ec) => d -> ((st, rc, ec)) }.toMap
  }

  private val dates = Seq("2024-06-03", "2024-06-04", "2024-06-05")

  test("landing job: exact bucket+backoff schedule, per-date results, coverage manifest, catch-up") {
    val (cfg, bucket, lock, schedule, nowF, retrySleep) = mkHarness()
    val ep = new Endpoint
    val runs = new RunLedger(nowMs = nowF)
    val out = land(lock, runs, cfg, dates, ep.fetch, bucket, retrySleep,
      nowF)
    val results = out.toOption.get
    assert(results.map(r => (r.date, r.status, r.rows, r.pages)) == Seq(
      ("2024-06-03", "success", 5L, 3),
      ("2024-06-04", "success", 0L, 1),
      ("2024-06-05", "failed", 0L, 0)))
    // the EXACT interleaved wait schedule: bucket floor 1000ms between
    // attempts, bucket waits shrink by time already spent backing off,
    // backoff 500*2^n with zero jitter, exhausted after 5 retries
    assert(schedule.toSeq == Seq(
      ("bucket", 1000L), // 06-03 p2 attempt1 (p1 fired at t=0)
      ("retry", 500L),   //   429 -> backoff
      ("bucket", 500L),  //   attempt2: 500ms of the floor already spent
      ("retry", 1000L),  //   503 -> backoff
      // attempt3: floor already satisfied by the 1000ms backoff
      ("bucket", 1000L), // 06-03 p3
      ("bucket", 1000L), // 06-04 p1
      ("bucket", 1000L), // 06-05 attempt1
      ("retry", 500L),
      ("bucket", 500L),  // attempt2
      ("retry", 1000L),
      ("retry", 2000L),  // attempts 3..6: backoff >= floor, no bucket wait
      ("retry", 4000L),
      ("retry", 8000L)))
    // landing table: the three successful pages of 06-03 (06-04 empty,
    // 06-05 failed)
    assert(landingRows(cfg) == Seq(
      (1L, "2024-06-03", 1.5), (2L, "2024-06-03", 3.0),
      (3L, "2024-06-03", 4.5), (4L, "2024-06-03", 6.0),
      (5L, "2024-06-03", 7.5)))
    // coverage manifest: success+rows / success+0 (checked empty, error
    // 0, observed set) / failed placeholder superseded by failed attempt
    assert(coverageRows(cfg) == Map(
      "2024-06-03" -> (("success", 5L, 0)),
      "2024-06-04" -> (("success", 0L, 0)),
      "2024-06-05" -> (("failed", 0L, 1))))
    // run ledger mirrors: success/success/failed, heartbeat terminal
    assert(runs.run("landing_orders", "2024-06-05").get.status == "failed")
    assert(runs.heartbeat("landing_orders").get.lastStatus == "failed")
    // the lease was released: immediately acquirable again
    assert(lock.acquire("landing_orders").isRight)

    // ---- catch-up reads the MANIFEST: only the failed day is retried
    val calendar = spark.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf("2024-06-03")),
        lit(java.sql.Date.valueOf("2024-06-05")))).as("day"))
      .withColumn("is_business_day", lit(true))
    val plan = LandingJob.catchUpDatesFor(spark, cfg, ds.name, calendar,
      "day", java.sql.Date.valueOf("2024-06-05"), lookbackDays = 10,
      maxDays = 10)
    assert(plan == Seq("2024-06-05"),
      "checked-empty 06-04 must be covered; failed 06-05 must retry")
  }

  test("landing job: re-runs are idempotent (skip path AND forced re-fetch path)") {
    val (cfg, bucket, lock, schedule, nowF, retrySleep) = mkHarness()
    val ep = new Endpoint
    val runs = new RunLedger(nowMs = nowF)
    land(lock, runs, cfg, dates, ep.fetch, bucket, retrySleep, nowF)
    val before = landingRows(cfg)
    val callsBefore = ep.calls.size

    // (a) SAME ledger: successful dates skip via already_executed —
    // only the failed date re-fetches (and fails again)
    val out2 = land(lock, runs, cfg, dates, ep.fetch, bucket, retrySleep,
      nowF).toOption.get
    assert(out2.map(r => (r.date, r.status)) == Seq(
      ("2024-06-03", "skipped"), ("2024-06-04", "skipped"),
      ("2024-06-05", "failed")))
    assert(out2.take(2).forall(_.error.contains("already_executed")))
    assert(landingRows(cfg) == before, "skip-path re-run changed the landing table")
    assert(ep.calls.drop(callsBefore).forall(_._1 == "2024-06-05"),
      "a skipped date must not touch the endpoint")

    // (b) FRESH ledger (the stale-success re-refresh shape): everything
    // re-fetches through the keyed upsert; landing content is IDENTICAL
    val out3 = land(lock, new RunLedger(nowMs = nowF), cfg, dates,
      ep.fetch, bucket, retrySleep, nowF).toOption.get
    assert(out3.map(_.status) == Seq("success", "success", "failed"))
    assert(landingRows(cfg) == before,
      "full re-fetch re-run changed the landing table — upsert not idempotent")

    // (c) source heals: the SAME ledger reclaims the failed day
    // (reason=failed), lands its row, and catch-up drains to empty
    ep.day5Ok = true
    val out4 = land(lock, runs, cfg, dates, ep.fetch, bucket, retrySleep,
      nowF).toOption.get
    assert(out4.map(r => (r.date, r.status)) == Seq(
      ("2024-06-03", "skipped"), ("2024-06-04", "skipped"),
      ("2024-06-05", "success")))
    assert(landingRows(cfg) == before :+ ((6L, "2024-06-05", 9.0)))
    assert(coverageRows(cfg)("2024-06-05") == (("success", 1L, 0)))
    val calendar = spark.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf("2024-06-03")),
        lit(java.sql.Date.valueOf("2024-06-05")))).as("day"))
      .withColumn("is_business_day", lit(true))
    assert(LandingJob.catchUpDatesFor(spark, cfg, ds.name, calendar, "day",
      java.sql.Date.valueOf("2024-06-05"), 10, 10).isEmpty)
  }

  test("landing job: a durable ledger makes re-runs across process death idempotent") {
    val (cfg, bucket, lock, _, nowF, retrySleep) = mkHarness()
    val ep = new Endpoint
    val ledgerFile = java.nio.file.Files
      .createTempDirectory("graft_landing_rl").resolve("runs.tsv")
    def mkLedger() = new RunLedger(nowMs = nowF,
      persistTo = Some(ledgerFile))
    land(lock, mkLedger(), cfg, dates, ep.fetch, bucket, retrySleep, nowF)
    val before = landingRows(cfg)
    val callsBefore = ep.calls.size
    // the scheduler restarts with a FRESH incarnation on the same file:
    // completed dates skip from the DURABLE state, the failed one retries
    val out = land(lock, mkLedger(), cfg, dates, ep.fetch, bucket,
      retrySleep, nowF).toOption.get
    assert(out.map(r => (r.date, r.status)) == Seq(
      ("2024-06-03", "skipped"), ("2024-06-04", "skipped"),
      ("2024-06-05", "failed")))
    assert(landingRows(cfg) == before)
    assert(ep.calls.drop(callsBefore).forall(_._1 == "2024-06-05"),
      "durably-completed dates must not touch the endpoint after restart")
  }

  test("landing job: a mid-fetch stale-running reclaim fences the zombie before it publishes") {
    val (cfg, bucket, lock, _, nowF, retrySleep) = mkHarness()
    val runs = new RunLedger(nowMs = nowF)
    var hijacked: Option[RunLedger.Claim] = None
    // the endpoint hangs long enough for ANOTHER worker to reclaim the
    // date (clock jumps past runningStaleAfterSec inside the fetch),
    // then answers normally — the zombie shape
    val fetch: LandingJob.RowFetch = (date, _) => {
      retrySleep(3601L * 1000L) // the fetch "hangs" 1h+
      hijacked = Some(runs.claim(cfg.jobName, date,
        runningStaleAfterSec = Some(3600L))) // worker B takes over
      (200, Seq(Row(1L, date, 1.0)), None)
    }
    val out = land(lock, runs, cfg, Seq("2024-06-03"), fetch, bucket,
      retrySleep, nowF).toOption.get
    assert(hijacked.exists(c => c.claimed && c.reason == "stale_running"))
    assert(out.head.status == "fenced", s"got ${out.head}")
    // the zombie published NOTHING: no landing table, and the manifest
    // still shows the claim placeholder (worker B will write its own)
    assert(landingRows(cfg).isEmpty)
    assert(coverageRows(cfg)("2024-06-03") == (("failed", 0L, 1)))
    // worker B (the current attempt) completes normally
    val b = hijacked.get
    assert(runs.complete(b.runId, b.attemptId.get, "success"))
  }

  test("landing write is partition-scoped: landing a date leaves every other partition byte-identical") {
    val (cfg, bucket, lock, _, nowF, retrySleep) = mkHarness()
    // any-date endpoint: 3 rows per date, ids disjoint per date
    val fetch: LandingJob.RowFetch = (date, _) => {
      val base = date.takeRight(2).toLong * 100L
      (200, (0 until 3).map(i => Row(base + i, date, base + i * 0.5)), None)
    }
    def landDates(dd: Seq[String]): Unit =
      assert(land(lock, new RunLedger(nowMs = nowF), cfg, dd, fetch,
        bucket, retrySleep, nowF).toOption.get.forall(_.status == "success"))

    landDates(Seq("2024-06-03", "2024-06-04"))
    val d3 = partitionFiles(cfg, "2024-06-03")
    val d4 = partitionFiles(cfg, "2024-06-04")
    assert(d3.nonEmpty && d4.nonEmpty)
    val before = landingRows(cfg)

    // (a) landing a NEW date touches only its own partition: every file
    // of every existing partition survives byte for byte (same names,
    // sizes, contents — dynamic partition overwrite never reads,
    // rewrites, or relists them)
    landDates(Seq("2024-06-05"))
    assert(partitionFiles(cfg, "2024-06-03") == d3,
      "landing 06-05 disturbed 06-03's partition files")
    assert(partitionFiles(cfg, "2024-06-04") == d4,
      "landing 06-05 disturbed 06-04's partition files")
    assert(landingRows(cfg).size == before.size + 3)

    // (b) re-landing ONE date is idempotent in content and still leaves
    // the other partitions' files untouched
    landDates(Seq("2024-06-04"))
    assert(partitionFiles(cfg, "2024-06-03") == d3,
      "re-landing 06-04 disturbed 06-03's partition files")
    assert(landingRows(cfg) ==
      (before ++ Seq((500L, "2024-06-05", 500.0),
        (501L, "2024-06-05", 500.5), (502L, "2024-06-05", 501.0))),
      "re-land of the same date changed table content")
  }

  test("landing job: a held lease rejects the double start before any work") {
    val (cfg, bucket, lock, _, nowF, retrySleep) = mkHarness()
    val ep = new Endpoint
    val token = lock.acquire("landing_orders").toOption.get
    val out = land(lock, new RunLedger(nowMs = nowF), cfg, dates,
      ep.fetch, bucket, retrySleep, nowF)
    assert(out.isLeft)
    assert(ep.calls.isEmpty, "a rejected start must not touch the endpoint")
    assert(LandingJob.readLanding(spark, cfg.landingRoot, ds).isEmpty &&
      !new java.io.File(cfg.coverageRoot).exists(),
      "a rejected start must not write")
    // the holder finishes; the next scheduled run proceeds normally
    lock.release("landing_orders", token)
    assert(land(lock, new RunLedger(nowMs = nowF), cfg, dates, ep.fetch,
      bucket, retrySleep, nowF).isRight)
  }
}
