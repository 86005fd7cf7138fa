package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.{Coverage, RunLedger}

/** The run-claim / dataset-coverage contract
  * (`00085_create_dataset_coverage.sql`), replayed deterministically:
  *
  *  1. LIFECYCLE — claim (inserted) → heartbeat running → complete →
  *     heartbeat terminal; a live run is `already_executed` to a second
  *     claimer.
  *  2. FENCING — failed / stale-running / stale-success rows reclaim
  *     under a NEW attempt_id and the OLD attempt's complete() is
  *     rejected (the reference's attempt_id fencing token).
  *  3. MANIFEST CONTRACT — the 00085 status-consistency CHECK at write
  *     time, and the claim placeholder is `failed/0/1` so a crash
  *     mid-run leaves the day visibly uncovered.
  *  4. COVERAGE-DRIVEN CATCH-UP — absent-or-failed days are retried;
  *     `success` days are covered EVEN AT row_count = 0 (the
  *     explicitly-checked-empty day); window/cap/business-day bounds
  *     hold.
  */
class CoverageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ledgerWithClock(t0: Long) = {
    var now = t0
    var n = 0
    val rl = new RunLedger(() => now, () => { n += 1; s"id-$n" })
    (rl, (d: Long) => now += d)
  }

  test("lifecycle: claim inserted -> heartbeat running -> complete -> heartbeat terminal") {
    val (rl, tick) = ledgerWithClock(1000L)
    val c = rl.claim("cron_a", "2024-06-03")
    assert(c.claimed && c.reason == "inserted")
    assert(c.attemptId.contains("id-2")) // run_id then attempt_id
    val hb0 = rl.heartbeat("cron_a").get
    assert(hb0.lastStatus == "running" && hb0.lastRunId == c.runId &&
      hb0.lastTargetDate == "2024-06-03" && hb0.lastSeenMs == 1000L)
    tick(5000L)
    assert(rl.complete(c.runId, c.attemptId.get, "success"))
    val r = rl.run("cron_a", "2024-06-03").get
    assert(r.status == "success" && r.finishedAtMs.contains(6000L))
    val hb1 = rl.heartbeat("cron_a").get
    assert(hb1.lastStatus == "success" && hb1.lastSeenMs == 6000L)
  }

  test("a live running row and a fresh success are already_executed") {
    val (rl, tick) = ledgerWithClock(0L)
    val c = rl.claim("j", "d",
      runningStaleAfterSec = Some(600L), successStaleAfterSec = Some(3600L))
    // running, not yet stale
    tick(599L * 1000L)
    val c2 = rl.claim("j", "d",
      runningStaleAfterSec = Some(600L), successStaleAfterSec = Some(3600L))
    assert(!c2.claimed && c2.reason == "already_executed" &&
      c2.attemptId.isEmpty && c2.runId == c.runId)
    // fresh success
    assert(rl.complete(c.runId, c.attemptId.get, "success"))
    val c3 = rl.claim("j", "d",
      runningStaleAfterSec = Some(600L), successStaleAfterSec = Some(3600L))
    assert(!c3.claimed && c3.reason == "already_executed")
  }

  test("failed rows reclaim immediately; same run_id, new attempt_id") {
    val (rl, _) = ledgerWithClock(0L)
    val c = rl.claim("j", "d")
    assert(rl.complete(c.runId, c.attemptId.get, "failed", Some("boom")))
    val c2 = rl.claim("j", "d")
    assert(c2.claimed && c2.reason == "failed" && c2.runId == c.runId &&
      c2.attemptId.get != c.attemptId.get)
  }

  test("stale running reclaims and FENCES OUT the old attempt") {
    val (rl, tick) = ledgerWithClock(0L)
    val c = rl.claim("j", "d", runningStaleAfterSec = Some(600L))
    tick(601L * 1000L)
    val c2 = rl.claim("j", "d", runningStaleAfterSec = Some(600L))
    assert(c2.claimed && c2.reason == "stale_running" && c2.runId == c.runId)
    // the zombie worker wakes up and tries to publish its completion
    assert(!rl.complete(c.runId, c.attemptId.get, "success"),
      "a reclaimed-from attempt must not complete the run")
    assert(rl.run("j", "d").get.status == "running")
    // the current attempt completes normally
    assert(rl.complete(c2.runId, c2.attemptId.get, "success"))
  }

  test("stale success reclaims for re-refresh; fresh success does not") {
    val (rl, tick) = ledgerWithClock(0L)
    val c = rl.claim("j", "d", successStaleAfterSec = Some(3600L))
    assert(rl.complete(c.runId, c.attemptId.get, "success"))
    tick(3599L * 1000L)
    assert(rl.claim("j", "d", successStaleAfterSec = Some(3600L))
      .reason == "already_executed")
    tick(2L * 1000L)
    val c2 = rl.claim("j", "d", successStaleAfterSec = Some(3600L))
    assert(c2.claimed && c2.reason == "stale_success")
  }

  test("complete validates terminal status; unknown run/attempt is refused") {
    val (rl, _) = ledgerWithClock(0L)
    val c = rl.claim("j", "d")
    intercept[IllegalArgumentException] {
      rl.complete(c.runId, c.attemptId.get, "running")
    }
    assert(!rl.complete("nope", "nope", "success"))
    assert(rl.complete(c.runId, c.attemptId.get, "success"))
    // double-complete (same attempt, already terminal) is refused
    assert(!rl.complete(c.runId, c.attemptId.get, "failed"))
  }

  test("durable ledger: claim state survives process death; stale-running reclaim fences the dead incarnation") {
    val p = java.nio.file.Files.createTempDirectory("graft_ledger")
      .resolve("runs.tsv")
    var now = 0L
    var n = 0
    def mk() = new RunLedger(() => now, () => { n += 1; s"id-$n" },
      persistTo = Some(p))
    val a = mk()
    val done = a.claim("cron_a", "2024-06-03")
    assert(a.complete(done.runId, done.attemptId.get, "success"))
    val crashed = a.claim("cron_a", "2024-06-04") // never completes
    val failed = a.claim("cron_a", "2024-06-05")
    assert(a.complete(failed.runId, failed.attemptId.get, "failed",
      Some("tab\there\nnewline"))) // encoding round-trip
    // ---- process death: a NEW incarnation on the same path
    now += 700L * 1000L
    val b = mk()
    // completed date: still already_executed
    assert(b.claim("cron_a", "2024-06-03").reason == "already_executed")
    // crashed-mid-run date: the RUNNING row survived, so once stale it
    // reclaims — and the DEAD incarnation's attempt is fenced out
    val re = b.claim("cron_a", "2024-06-04",
      runningStaleAfterSec = Some(600L))
    assert(re.claimed && re.reason == "stale_running" &&
      re.runId == crashed.runId)
    assert(!a.complete(crashed.runId, crashed.attemptId.get, "success"),
      "the dead incarnation's attempt must not complete after reclaim")
    assert(!b.complete(crashed.runId, crashed.attemptId.get, "success"))
    assert(b.complete(re.runId, re.attemptId.get, "success"))
    // failed date: reclaims immediately, error round-tripped intact
    assert(b.run("cron_a", "2024-06-05").get.error
      .contains("tab\there\nnewline"))
    assert(b.claim("cron_a", "2024-06-05").reason == "failed")
    // heartbeats survive too
    assert(b.heartbeat("cron_a").isDefined)
    // a THIRD incarnation sees b's completions
    val c = mk()
    assert(c.claim("cron_a", "2024-06-04").reason == "already_executed")
  }

  test("durable ledger: edge-case error strings round-trip (empty, literal '-', null message)") {
    val p = java.nio.file.Files.createTempDirectory("graft_ledger_edge")
      .resolve("runs.tsv")
    val now = 0L
    val a = new RunLedger(() => now, persistTo = Some(p))
    val c1 = a.claim("j", "d1")
    assert(a.complete(c1.runId, c1.attemptId.get, "failed", Some("")))
    val c2 = a.claim("j", "d2")
    assert(a.complete(c2.runId, c2.attemptId.get, "failed", Some("-")))
    val c3 = a.claim("j", "d3")
    // Throwable.getMessage is legally null — must not NPE or corrupt
    assert(a.complete(c3.runId, c3.attemptId.get, "failed", Some(null)))
    // a fresh incarnation loads every line (trailing-empty cells and
    // the '-' sentinel must both survive the round-trip)
    val b = new RunLedger(() => now, persistTo = Some(p))
    assert(b.run("j", "d1").get.error.contains(""))
    assert(b.run("j", "d2").get.error.contains("-"))
    assert(b.run("j", "d3").get.error.contains("Unknown error"))
    assert(b.claim("j", "d1").reason == "failed") // ledger not wedged
  }

  test("durable ledger: two live instances on one file never lose each other's rows") {
    // the round-14 advice's lost-update scenario: save() is a
    // whole-file rewrite from one instance's maps, so two processes
    // (here: instances + threads) mutating CONCURRENTLY would drop each
    // other's unrelated (job, date) rows without the ledger-file lock
    // around each load→decide→save transaction
    val p = java.nio.file.Files.createTempDirectory("graft_ledger_conc")
      .resolve("runs.tsv")
    val a = new RunLedger(persistTo = Some(p))
    val b = new RunLedger(persistTo = Some(p))
    val dates = (1 to 25).map(i => f"2024-06-$i%02d")
    val ta = new Thread(() => dates.foreach { d =>
      val c = a.claim("job_a", d)
      assert(a.complete(c.runId, c.attemptId.get, "success"))
    })
    val tb = new Thread(() => dates.foreach { d =>
      val c = b.claim("job_b", d)
      assert(b.complete(c.runId, c.attemptId.get, "success"))
    })
    ta.start(); tb.start(); ta.join(); tb.join()
    // a third incarnation sees every row both writers produced
    val c = new RunLedger(persistTo = Some(p))
    for (d <- dates; j <- Seq("job_a", "job_b"))
      assert(c.run(j, d).exists(_.status == "success"),
        s"lost row ($j, $d) — concurrent whole-file rewrite dropped it")
  }

  test("durable ledger: a long-lived health monitor sees OTHER incarnations' heartbeats") {
    val p = java.nio.file.Files.createTempDirectory("graft_ledger_mon")
      .resolve("runs.tsv")
    var now = 0L
    // the monitor is constructed FIRST, against an empty file — without
    // load() in isJobHealthy it would report construction-time state
    // (no heartbeat) forever
    val monitor = new RunLedger(() => now, persistTo = Some(p))
    assert(!monitor.isJobHealthy("cron_a").healthy)
    val worker = new RunLedger(() => now, persistTo = Some(p))
    val c = worker.claim("cron_a", "2024-06-03")
    worker.complete(c.runId, c.attemptId.get, "success")
    assert(monitor.isJobHealthy("cron_a").healthy,
      "monitor must reload the durable file, not serve stale beats")
    now += 26L * 3600L * 1000L
    assert(monitor.isJobHealthy("cron_a").reason
      .exists(_.startsWith("Stale")))
    assert(!monitor.checkAllJobsHealth(Seq("cron_a"))._1)
  }

  test("health check: missing record, staleness, failed status, and error truncation") {
    val (rl, tick) = ledgerWithClock(0L)
    // no record at all
    val h0 = rl.isJobHealthy("cron_a")
    assert(!h0.healthy && h0.reason.contains("No heartbeat record found"))
    // healthy right after a successful run
    val c = rl.claim("cron_a", "2024-06-03")
    rl.complete(c.runId, c.attemptId.get, "success")
    assert(rl.isJobHealthy("cron_a").healthy)
    // stale past the 25h default (just inside is still healthy)
    tick(25L * 3600L * 1000L) // exactly 25h: NOT strictly greater
    assert(rl.isJobHealthy("cron_a").healthy)
    tick(3600L * 1000L)
    val h1 = rl.isJobHealthy("cron_a")
    assert(!h1.healthy && h1.reason.contains("Stale: last seen 26 hours ago"))
    // failed run: reason carries the truncated error
    val c2 = rl.claim("cron_b", "2024-06-03")
    rl.complete(c2.runId, c2.attemptId.get, "failed", Some("x" * 1500))
    val h2 = rl.isJobHealthy("cron_b")
    assert(!h2.healthy &&
      h2.reason.exists(r => r.startsWith("Last run failed: ") &&
        r.contains("x" * 1000 + "...") && !r.contains("x" * 1001)))
    // fleet conjunction
    val (all, hs) = rl.checkAllJobsHealth(Seq("cron_a", "cron_b", "cron_c"))
    assert(!all && hs.count(!_.healthy) == 3)
    val c3 = rl.claim("cron_c", "2024-06-03")
    rl.complete(c3.runId, c3.attemptId.get, "success")
    assert(rl.checkAllJobsHealth(Seq("cron_c"))._1)
  }

  test("manifest rows enforce the 00085 status-consistency CHECK") {
    // success requires error_count=0 and an observation time
    intercept[IllegalArgumentException] {
      Coverage.validate(Coverage.Success, 10L, 1, Some(1L))
    }
    intercept[IllegalArgumentException] {
      Coverage.validate(Coverage.Success, 10L, 0, None)
    }
    // failed requires error_count > 0
    intercept[IllegalArgumentException] {
      Coverage.validate(Coverage.Failed, 0L, 0, None)
    }
    intercept[IllegalArgumentException] {
      Coverage.validate("pending", 0L, 1, None)
    }
    Coverage.validate(Coverage.Success, 0L, 0, Some(1L)) // checked-empty day
    Coverage.validate(Coverage.Failed, 5L, 2, Some(1L))  // partial save + errors
  }

  test("catch-up reads COVERAGE: checked-empty success is covered, failed+missing retry") {
    val today = java.sql.Date.valueOf("2024-06-14") // a Friday
    // business-day calendar over two weeks
    val calendar = spark.range(1).select(explode(sequence(
        lit(java.sql.Date.valueOf("2024-06-01")), lit(today))).as("day"))
      .withColumn("is_business_day", dayofweek(col("day")).between(2, 6))
    def cell(ds: String, day: String, status: String, rows: Long, errs: Int,
             obs: Option[Long]): Row = {
      Coverage.validate(status, rows, errs, obs)
      Row(ds, java.sql.Date.valueOf(day), status, rows, errs,
        obs.map(Long.box).orNull, "run")
    }
    def r(day: String, status: String, rows: Long, errs: Int,
          obs: Option[Long]) = cell("orders", day, status, rows, errs, obs)
    val ledger = Seq(
      r("2024-06-03", Coverage.Success, 100L, 0, Some(1L)),
      r("2024-06-04", Coverage.Success, 0L, 0, Some(1L)), // checked empty
      r("2024-06-05", Coverage.Failed, 0L, 1, None),      // crashed claim
      // 06-06 absent: never claimed
      r("2024-06-07", Coverage.Success, 90L, 0, Some(1L)),
      r("2024-06-08", Coverage.Failed, 0L, 2, None),      // Saturday: ignored
      r("2024-06-10", Coverage.Failed, 10L, 1, Some(1L)), // partial save
      r("2024-06-11", Coverage.Success, 80L, 0, Some(1L)),
      // other-dataset rows must not mask orders days
      cell("topix", "2024-06-06", Coverage.Success, 5L, 0, Some(1L)),
      r("2024-06-12", Coverage.Success, 70L, 0, Some(1L)),
      r("2024-06-13", Coverage.Success, 60L, 0, Some(1L)),
      r("2024-06-14", Coverage.Success, 50L, 0, Some(1L)),
    )
    def plan(lookbackDays: Int, maxDays: Int) =
      Coverage.catchUp(ledger, Seq("orders"),
        Coverage.businessDays(calendar, "day", today, lookbackDays), maxDays)
        .map { case (ds, d, why) => assert(ds == "orders"); (d.toString, why) }
    assert(plan(lookbackDays = 11, maxDays = 10) == Seq(
      ("2024-06-05", "failed"),   // crashed claim retried
      ("2024-06-06", "missing"),  // never claimed (topix row must not mask)
      ("2024-06-10", "failed")))  // partial save retried
    // 06-04 (success, 0 rows) is NOT in the list: checked-empty = covered.
    // lookback window excludes 06-03 and earlier? 06-03 is 11 days before
    // 06-14 -> included and covered; shrink the window to prove the bound:
    assert(plan(lookbackDays = 7, maxDays = 10).map(_._1) ==
      Seq("2024-06-10")) // 06-05/06-06 fall outside
    // cap: oldest first, truncated
    assert(plan(lookbackDays = 11, maxDays = 2).map(_._1) ==
      Seq("2024-06-05", "2024-06-06"))
  }
}
