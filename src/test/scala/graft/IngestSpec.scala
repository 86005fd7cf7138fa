package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Ingest, JobLock}
import graft.sources.Ingest.{NonRetryableError, Paginate, Retry, RetryableError}

/** Deterministic pins for the driver-side ingestion utilities (the
  * reference's rate limiter / retry / pagination loop / job locks —
  * SURVEY §2.1/§2.9 driver tooling). Every clock, sleeper, and random
  * draw is injected, so the specs assert EXACT schedules. */
class IngestSpec extends AnyFunSuite {

  // ---------------------------------------------------------------- retry
  test("retry: 5xx backs off base*2^n capped, then succeeds; schedule exact") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = Retry.withRetry(
      () => { calls += 1; if (calls <= 3) throw RetryableError("boom", 503); 42 },
      sleepMs = slept += _)
    assert(out == 42 && calls == 4)
    assert(slept.toSeq == Seq(500L, 1000L, 2000L)) // base 500 * 2^n, jitter 0
  }

  test("retry: cap and jitter enter the schedule exactly") {
    // attempt 7 uncapped would be 500*128 = 64000 -> capped at 32000
    assert(Retry.delayMs(7) == 32000L)
    assert(Retry.delayMs(0, uniform = () => 0.5) == 550L) // +0.5*100 jitter
  }

  test("retry: 401/403 fail fast — one call, no sleep; exhaustion rethrows last") {
    var calls = 0
    intercept[NonRetryableError] {
      Retry.withRetry[Int](() => {
        calls += 1
        throw Retry.classify(401, "no").get
      }, sleepMs = _ => fail("must not sleep"))
    }
    assert(calls == 1)
    var calls2 = 0
    val e = intercept[RetryableError] {
      Retry.withRetry[Int](() => { calls2 += 1; throw RetryableError("x", 429) },
        maxRetries = 2, sleepMs = _ => ())
    }
    assert(calls2 == 3 && e.statusCode == 429) // initial + 2 retries
  }

  test("retry: classify mirrors the reference's status sets") {
    assert(Retry.classify(200).isEmpty)
    for (c <- Seq(429, 500, 502, 503, 504))
      assert(Retry.classify(c).get.isInstanceOf[RetryableError], c)
    for (c <- Seq(400, 401, 403, 404))
      assert(Retry.classify(c).get.isInstanceOf[NonRetryableError], c)
  }

  // ----------------------------------------------------------- rate limit
  test("token bucket: min-interval floor between back-to-back acquires") {
    var now = 0L
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val tb = new Ingest.TokenBucket(requestsPerMinute = 60,
      minIntervalMs = 1000L, nowMs = () => now,
      sleepMs = d => { slept += d; now += d })
    tb.acquire()                    // t=0: full bucket, no prior request
    assert(slept.isEmpty)
    tb.acquire()                    // immediately again: interval floor
    assert(slept.toSeq == Seq(1000L))
    now += 400
    tb.acquire()                    // 400ms since last: 600ms remainder
    assert(slept.toSeq == Seq(1000L, 600L))
  }

  test("token bucket: starvation waits exactly msPerToken for one refill") {
    var now = 0L
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val tb = new Ingest.TokenBucket(requestsPerMinute = 60,
      minIntervalMs = 0L, nowMs = () => now,
      sleepMs = d => { slept += d; now += d })
    (0 until 60).foreach(_ => tb.acquire()) // drain, clock frozen
    assert(slept.isEmpty && tb.availableTokens == 0)
    tb.acquire()                    // starved: one token = 60000/60 ms
    assert(slept.toSeq == Seq(1000L))
  }

  test("token bucket: starved bucket still honors the interval floor " +
      "(deficit wait is max(refill, interval), not refill alone)") {
    // rpm=1 → msPerToken=60000; floor 90000 > refill wait. After one
    // acquire at t=0, an acquire at t=30000 owes 60000 more ms of floor
    // but only 30000 ms of refill — the old refill-only deficit wait
    // would fire at t=60000, violating the floor by 30 s.
    var now = 0L
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val tb = new Ingest.TokenBucket(requestsPerMinute = 1,
      minIntervalMs = 90000L, nowMs = () => now,
      sleepMs = d => { slept += d; now += d })
    tb.acquire()                    // t=0: consumes the only token
    now += 30000
    tb.acquire()
    assert(slept.toSeq == Seq(60000L), "must wait out the FLOOR, not the refill")
    assert(now == 90000L, "second request may not fire before the floor")
  }

  test("token bucket: refill is capacity-capped and proportional") {
    var now = 0L
    val tb = new Ingest.TokenBucket(requestsPerMinute = 60,
      minIntervalMs = 0L, nowMs = () => now, sleepMs = _ => ())
    (0 until 60).foreach(_ => tb.acquire())
    assert(tb.availableTokens == 0)
    now += 30000                    // half a minute -> half the bucket
    assert(tb.availableTokens == 30)
    now += 600000                   // way past full: capped at capacity
    assert(tb.availableTokens == 60)
  }

  // ----------------------------------------------------------- pagination
  test("pagination: follows the cursor to exhaustion in order") {
    val pages = Map(
      Option.empty[String] -> (Seq(1, 2), Some("k1")),
      Option("k1") -> (Seq(3), Some("k2")),
      Option("k2") -> (Seq(4, 5), None))
    assert(Paginate.fetchAll(pages(_)) == Vector(1, 2, 3, 4, 5))
  }

  test("pagination: fails LOUD at the page cap instead of truncating") {
    val e = intercept[IllegalArgumentException] {
      Paginate.fetchAll(_ => (Seq(1), Some("again")), maxPages = 10)
    }
    assert(e.getMessage.contains("10 pages"))
  }

  // ------------------------------------------------------------ job locks
  private def newLock(now0: Long = 0L): (JobLock, () => Long, Long => Unit) = {
    var now = now0
    val dir = java.nio.file.Files.createTempDirectory("graft_locks")
    var tokenN = 0
    val jl = new JobLock(dir, nowMs = () => now,
      newToken = () => { tokenN += 1; s"tok$tokenN" })
    (jl, () => now, (d: Long) => now += d)
  }

  test("job lock: second acquire fails while the lease is live; release frees it") {
    val (jl, _, _) = newLock()
    val t = jl.acquire("cron_a", ttlSeconds = 600).toOption.get
    assert(jl.acquire("cron_a").isLeft)
    assert(jl.holder("cron_a").contains(t))
    assert(!jl.release("cron_a", "wrong-token")) // mismatched token: no-op
    assert(jl.holder("cron_a").contains(t))
    assert(jl.release("cron_a", t))
    assert(jl.acquire("cron_a").isRight)
  }

  test("job lock: expired lease is taken over; extend pushes the lease forward") {
    var now = 0L
    val dir = java.nio.file.Files.createTempDirectory("graft_locks2")
    val jl = new JobLock(dir, nowMs = () => now)
    val t1 = jl.acquire("cron_b", ttlSeconds = 600).toOption.get
    now += 599 * 1000
    assert(jl.acquire("cron_b").isLeft, "still live at ttl-1s")
    assert(jl.extend("cron_b", t1, ttlSeconds = 600), "holder may extend")
    now += 300 * 1000
    assert(jl.acquire("cron_b").isLeft, "extension must hold")
    now += 301 * 1000
    val t2 = jl.acquire("cron_b", ttlSeconds = 600)
    assert(t2.isRight, "expired lease must be taken over")
    assert(!jl.extend("cron_b", t1), "old token cannot extend after takeover")
  }

  test("job lock: a torn (empty/corrupt) lease file is expired — acquire " +
      "takes it over and cleanup sweeps it") {
    val now = 0L
    val dir = java.nio.file.Files.createTempDirectory("graft_locks4")
    val jl = new JobLock(dir, nowMs = () => now)
    // EXTERNALLY corrupted lock files (our own writers link fully-written
    // content into place, so none of these states can be self-inflicted):
    // a 0-byte file, garbage content, and an all-digit Long overflow
    java.nio.file.Files.createFile(dir.resolve("torn.lock"))
    java.nio.file.Files.writeString(dir.resolve("garbage.lock"), "not|a|lease")
    java.nio.file.Files.writeString(dir.resolve("overflow.lock"),
      "tok|99999999999999999999") // 20 digits > Long.MaxValue
    val t = jl.acquire("torn", ttlSeconds = 600)
    assert(t.isRight, "torn lease must be taken over, not wedge the job")
    assert(jl.holder("torn") == t.toOption)
    val t2 = jl.acquire("overflow", ttlSeconds = 600)
    assert(t2.isRight, "overflow garbage must parse as corrupt, not crash")
    assert(jl.release("torn", t.toOption.get))
    assert(jl.release("overflow", t2.toOption.get))
    assert(jl.cleanupExpired() == 1, "the garbage lease sweeps as expired")
    assert(!java.nio.file.Files.exists(dir.resolve("garbage.lock")))
  }

  test("job lock: fresh acquires are born WITH content — no contentless steal window") {
    val now = 0L
    val dir = java.nio.file.Files.createTempDirectory("graft_locks5")
    val jl = new JobLock(dir, nowMs = () => now)
    val t = jl.acquire("j", ttlSeconds = 600)
    assert(t.isRight)
    // the lock file on disk is complete the instant it exists: a second
    // locker parses a LIVE lease, never an empty file it could steal
    val content = java.nio.file.Files.readString(dir.resolve("j.lock"))
    assert(content == s"${t.toOption.get}|${600 * 1000}")
    assert(jl.acquire("j").isLeft)
    // no stray temp files left behind
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".tmp")).toList
    assert(leftovers.isEmpty, s"temp files leaked: $leftovers")
  }

  test("job lock: cleanup sweeps only expired leases") {
    var now = 0L
    val dir = java.nio.file.Files.createTempDirectory("graft_locks3")
    val jl = new JobLock(dir, nowMs = () => now)
    jl.acquire("j1", ttlSeconds = 10)
    jl.acquire("j2", ttlSeconds = 1000)
    now += 500 * 1000
    assert(jl.cleanupExpired() == 1)
    assert(jl.holder("j2").nonEmpty)
  }
  test("Paginate.foreachPage streams pages in order and enforces the cap") {
    import graft.sources.Ingest.Paginate
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    Paginate.foreachPage[Int]({ cursor =>
      val i = cursor.map(_.toInt).getOrElse(0)
      (Seq(i, i + 1), if (i < 4) Some((i + 2).toString) else None)
    })(seen += _)
    assert(seen.toSeq == Seq(Seq(0, 1), Seq(2, 3), Seq(4, 5)))
    val e = intercept[IllegalArgumentException] {
      Paginate.foreachPage[Int](_ => (Seq(1), Some("loop")),
        maxPages = 5)(_ => ())
    }
    assert(e.getMessage.contains("refusing to truncate"))
  }
}
