package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.DailyRefreshJob
import graft.sources.RunLedger

class JobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("daily refresh DAG publishes every stage atomically and is idempotent") {
    val root = Files.createTempDirectory("refresh").toFile.getAbsolutePath
    val r1 = DailyRefreshJob.run(spark, "/root/testdata/sf0.001", root, "v1")
    assert(r1.forall(_.error.isEmpty), r1.filter(_.error.isDefined).toString)
    assert(r1.forall(_.rows > 0))
    // pointer resolves to v1 for every stage
    r1.foreach { s =>
      assert(graft.operators.Upsert.resolvePublished(s"$root/${s.name}")
        .exists(_.endsWith("v=v1")))
    }
    // re-run as v2: same row counts (idempotent over the same inputs),
    // pointer flips, v1 snapshot still intact on disk
    val r2 = DailyRefreshJob.run(spark, "/root/testdata/sf0.001", root, "v2")
    assert(r2.map(s => s.name -> s.rows) == r1.map(s => s.name -> s.rows))
    r2.foreach { s =>
      assert(graft.operators.Upsert.resolvePublished(s"$root/${s.name}")
        .exists(_.endsWith("v=v2")))
      assert(new java.io.File(s"$root/${s.name}/v=v1").exists())
    }
  }

  test("freshness-guarded resolve refuses stale published snapshots") {
    import spark.implicits._
    val root = Files.createTempDirectory("fresh").toFile.getAbsolutePath
    graft.operators.Upsert.stageSnapshot(
      Seq(1, 2, 3).toDF("x"), root).publish("v1")
    val now = System.currentTimeMillis()
    // within the bound → resolves to the published dir
    assert(graft.operators.Upsert
      .resolvePublishedFresh(root, maxAgeMillis = 60000, nowMillis = now)
      .exists(_.endsWith("v=v1")))
    // beyond the bound → an explicit stale error, never a silent stale read
    val stale = graft.operators.Upsert
      .resolvePublishedFresh(root, maxAgeMillis = 0,
        nowMillis = now + 10000)
    assert(stale.isLeft && stale.swap.exists(_.contains("stale")))
    // missing marker → error
    assert(graft.operators.Upsert
      .resolvePublishedFresh(root + "_nope", 60000, now).isLeft)
  }

  test("locked refresh: lease held through the DAG, heartbeat outlives the TTL, release on exit") {
    import spark.implicits._
    val root = Files.createTempDirectory("refresh_lock").toFile.getAbsolutePath
    var now = 0L
    val lock = new graft.sources.JobLock(
      Files.createTempDirectory("refresh_locks"), nowMs = () => now)
    val ttl = 10L // seconds; each stage takes 8s — only heartbeats keep it
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def stage(name: String) = name -> { () =>
      // the lease must be LIVE inside every stage, and a concurrent
      // start must be rejected mid-run (the reference's 409)
      assert(lock.holder("daily_refresh").isDefined,
        s"lease lost before stage $name — heartbeat missing")
      assert(lock.acquire("daily_refresh").isLeft,
        s"double start accepted during stage $name")
      seen += name
      now += 8000L // stage runtime: would outlive the original TTL by s3
      Seq((name, 1L)).toDF("k", "v")
    }
    val out = DailyRefreshJob.runClaimed(spark, lock,
      new RunLedger(nowMs = () => now), "2024-06-03",
      "/root/testdata/sf0.001", root, "v1", ttlSeconds = ttl,
      stages = Some(Seq(stage("s1"), stage("s2"), stage("s3"), stage("s4"))))
    // s4 starts at t=24s — the t=0 acquire's lease (until 10s) is long
    // dead; only the per-stage extends kept the run fenced
    assert(out.isRight && out.toOption.get.forall(_.error.isEmpty))
    assert(seen.toSeq == Seq("s1", "s2", "s3", "s4"))
    // released on exit: immediately acquirable
    assert(lock.holder("daily_refresh").isEmpty)
    assert(lock.acquire("daily_refresh").isRight)
  }

  test("locked refresh: a held lease rejects the run; release frees it even on stage failure") {
    import spark.implicits._
    val root = Files.createTempDirectory("refresh_lock2").toFile.getAbsolutePath
    val lock = new graft.sources.JobLock(
      Files.createTempDirectory("refresh_locks2"))
    val runs = new RunLedger()
    val token = lock.acquire("daily_refresh").toOption.get
    var ran = false
    val out = DailyRefreshJob.runClaimed(spark, lock, runs, "2024-06-03",
      "/root/testdata/sf0.001", root, "v1",
      stages = Some(Seq("s1" -> { () => ran = true; Seq(1).toDF("x") })))
    assert(out.isLeft && !ran, "a held lease must reject before any stage")
    assert(runs.run("daily_refresh", "2024-06-03").isEmpty,
      "a rejected start must not claim the date")
    lock.release("daily_refresh", token)
    // stage failures are continue-on-error StageResults, and the lease
    // is still released afterwards
    val out2 = DailyRefreshJob.runClaimed(spark, lock, runs, "2024-06-04",
      "/root/testdata/sf0.001", root, "v1",
      stages = Some(Seq("boom" -> { () => sys.error("stage exploded") })))
    assert(out2.isRight && out2.toOption.get.head.error.isDefined)
    assert(lock.holder("daily_refresh").isEmpty)
  }

  test("claimed refresh: run claim + lease compose; re-runs refuse, failures reclaim") {
    import spark.implicits._
    val root = Files.createTempDirectory("refresh_claim").toFile.getAbsolutePath
    val lock = new graft.sources.JobLock(
      Files.createTempDirectory("refresh_claim_locks"))
    val runs = new graft.sources.RunLedger()
    var boom = true
    var ran = 0
    val stages = Seq(
      "ok" -> (() => { ran += 1; Seq(1).toDF("x") }),
      "shaky" -> (() =>
        if (boom) sys.error("stage exploded") else Seq(2).toDF("x")))
    // first invocation: claimed, runs, completes FAILED (one stage died)
    val r1 = DailyRefreshJob.runClaimed(spark, lock, runs, "2024-06-03",
      "/root/testdata/sf0.001", root, "v1", stages = Some(stages))
    assert(r1.isRight && ran == 1)
    assert(runs.run("daily_refresh", "2024-06-03").get.status == "failed")
    assert(runs.run("daily_refresh", "2024-06-03").get.error
      .exists(_.contains("shaky: stage exploded")))
    // the scheduler fires again: FAILED reclaims and this time succeeds
    boom = false
    val r2 = DailyRefreshJob.runClaimed(spark, lock, runs, "2024-06-03",
      "/root/testdata/sf0.001", root, "v2", stages = Some(stages))
    assert(r2.isRight && r2.toOption.get.forall(_.error.isEmpty) && ran == 2)
    assert(runs.run("daily_refresh", "2024-06-03").get.status == "success")
    // a third fire on the same date refuses WITHOUT running any stage
    val r3 = DailyRefreshJob.runClaimed(spark, lock, runs, "2024-06-03",
      "/root/testdata/sf0.001", root, "v3", stages = Some(stages))
    assert(r3 == Left("already_executed") && ran == 2)
    // ...but a new target date proceeds
    assert(DailyRefreshJob.runClaimed(spark, lock, runs, "2024-06-04",
      "/root/testdata/sf0.001", root, "v4", stages = Some(stages)).isRight)
    // and the lease is free through all of it
    assert(lock.holder("daily_refresh").isEmpty)
  }

  test("claimed refresh: a stale-reclaimed zombie is fenced BEFORE publishing later stages") {
    import spark.implicits._
    val root = Files.createTempDirectory("refresh_fence").toFile.getAbsolutePath
    val lock = new graft.sources.JobLock(
      Files.createTempDirectory("refresh_fence_locks"))
    var now = 0L
    val runs = new graft.sources.RunLedger(nowMs = () => now)
    var hijack: Option[RunLedger.Claim] = None
    val stages = Seq(
      // stage "slow" outlives the stale-running threshold mid-run and a
      // second worker reclaims the date while it computes
      "slow" -> (() => {
        now += 3601L * 1000L
        hijack = Some(runs.claim("daily_refresh", "2024-06-03",
          runningStaleAfterSec = Some(3600L)))
        Seq(1).toDF("x")
      }),
      "late" -> (() => Seq(2).toDF("x")))
    val out = DailyRefreshJob.runClaimed(spark, lock, runs, "2024-06-03",
      "/root/testdata/sf0.001", root, "vz", stages = Some(stages))
    assert(hijack.exists(c => c.claimed && c.reason == "stale_running"))
    assert(out == Left("attempt superseded"))
    // the fence probes IMMEDIATELY before each publish: the stage whose
    // compute outlived the reclaim is caught before ITS OWN publish,
    // and every later stage likewise — the zombie publishes NOTHING
    assert(!new java.io.File(s"$root/slow").exists(),
      "the superseded attempt published the very stage that outlived the reclaim")
    assert(!new java.io.File(s"$root/late").exists(),
      "a superseded attempt republished a later stage over the new owner")
    // the hijacker (current attempt) completes normally
    val b = hijack.get
    assert(runs.complete(b.runId, b.attemptId.get, "success"))
  }

  test("claimed refresh: retainVersions pins version dirs at retain+2 over a daily cadence") {
    import spark.implicits._
    val root = Files.createTempDirectory("refresh_retain").toFile.getAbsolutePath
    val lock = new graft.sources.JobLock(
      Files.createTempDirectory("refresh_retain_locks"))
    val runs = new RunLedger()
    val days = (3 to 8).map(d => f"2024-06-$d%02d")
    days.foreach { d =>
      // a custom chain reads no snapshot dir: sfDir is unused
      val out = DailyRefreshJob.runClaimed(spark, lock, runs, d,
        sfDir = "", outRoot = root, version = s"d$d",
        stages = Some(Seq("s" -> (() => Seq(d).toDF("day")))),
        retainVersions = Some(1))
      assert(out.isRight && out.toOption.get.forall(_.error.isEmpty))
    }
    // current + the name-pinned spared previous + 1 superseded
    val vDirs = new java.io.File(s"$root/s").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.getName)
    assert(vDirs.length == 3, vDirs.mkString(","))
    assert(vDirs.contains(s"v=d${days.last}") &&
      vDirs.contains(s"v=d${days(days.length - 2)}"))
    assert(graft.operators.Upsert.resolvePublished(s"$root/s")
      .exists(_.endsWith(s"v=d${days.last}")))
  }

  test("pruneSnapshots graceKeep retains the N most recent superseded versions") {
    import spark.implicits._
    val root = Files.createTempDirectory("prune_grace").toFile.getAbsolutePath
    for (i <- 1 to 4) {
      graft.operators.Upsert.stageSnapshot(Seq(i).toDF("x"), root)
        .publish(s"v$i")
      // distinct mtimes so recency ordering is deterministic
      new java.io.File(s"$root/v=v$i").setLastModified(1000000L * i)
    }
    val removed = graft.operators.Upsert.pruneSnapshots(root, graceKeep = 1)
    assert(removed == 2)
    assert(new java.io.File(s"$root/v=v4").exists(), "published version kept")
    assert(new java.io.File(s"$root/v=v3").exists(), "grace version kept")
    assert(!new java.io.File(s"$root/v=v2").exists() &&
      !new java.io.File(s"$root/v=v1").exists())
    // graceKeep = 0 is the old behavior: only the published one survives
    assert(graft.operators.Upsert.pruneSnapshots(root) == 1)
    assert(!new java.io.File(s"$root/v=v3").exists())
  }

  test("coverage gate blocks under-covered snapshots") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("refresh_gate").toFile.getAbsolutePath
    // a snapshot dir whose customer table is the entity universe
    def universeDir(n: Int): String = {
      val d = s"$tmp/sf$n"
      (1 to n).map(_.toLong).toDF("c_custkey").coalesce(1)
        .write.parquet(s"$d/customer.parquet")
      d
    }
    val sf100 = universeDir(100)
    val out = s"$tmp/out"
    val thin = (1 to 50).toDF("c_custkey")
    val full = (1 to 90).toDF("c_custkey")
    def runOne(sfDir: String, df: org.apache.spark.sql.DataFrame,
               version: String) =
      DailyRefreshJob.run(spark, sfDir, out, version,
        stages = Some(Seq("screen_metrics" -> (() => df)))).head
    def entries: Seq[String] =
      Option(new java.io.File(s"$out/screen_metrics").list())
        .map(_.toSeq.sorted).getOrElse(Nil)
    // full: published, rows = the observed count
    val ok = runOne(sf100, full, "v1")
    assert(ok == DailyRefreshJob.StageResult("screen_metrics", 90L, None))
    assert(entries == Seq("_PUBLISHED", "v=v1"), entries.toString)
    // thin: blocked; the pointer stays on v1, and neither v=v2 nor a
    // staging dir is left behind
    val blocked = runOne(sf100, thin, "v2")
    assert(blocked.rows == -1 &&
      blocked.error.exists(_.contains("publish blocked: coverage")),
      blocked.toString)
    assert(entries == Seq("_PUBLISHED", "v=v1"), entries.toString)
    assert(graft.operators.Upsert.resolvePublished(s"$out/screen_metrics")
      .exists(_.endsWith("v=v1")))
    // empty universe: blocked
    val empty = runOne(universeDir(0), full, "v3")
    assert(empty.error.exists(_.contains("empty universe")), empty.toString)
    assert(entries == Seq("_PUBLISHED", "v=v1"), entries.toString)
  }

  test("a re-run of a published version whose stage now fails the gate leaves the published bytes unchanged") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("refresh_regate").toFile.getAbsolutePath
    val sfDir = s"$tmp/sf"
    (1 to 100).map(_.toLong).toDF("c_custkey").coalesce(1)
      .write.parquet(s"$sfDir/customer.parquet")
    val out = s"$tmp/out"
    def runOne(df: org.apache.spark.sql.DataFrame) =
      DailyRefreshJob.run(spark, sfDir, out, "v1",
        stages = Some(Seq("per_bands" -> (() => df)))).head
    def bytes(): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(s"$out/per_bands")
      val paths = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        paths.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => root.relativize(f).toString ->
            Files.readAllBytes(f).toSeq).toMap
      } finally paths.close()
    }
    assert(runOne((1 to 90).toDF("c_custkey")).rows == 90L)
    val before = bytes()
    val again = runOne((1 to 10).toDF("c_custkey"))
    assert(again.error.exists(_.contains("publish blocked")), again.toString)
    assert(bytes() == before)
    val published = graft.operators.Upsert
      .resolvePublished(s"$out/per_bands").get
    assert(spark.read.parquet(published).count() == 90L)
  }

  test("empty stages publish with rows = 0") {
    import spark.implicits._
    val root = Files.createTempDirectory("refresh_empty").toFile.getAbsolutePath
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.IntegerType)))
    val stages = Seq(
      "local" -> (() => Seq.empty[Int].toDF("x")),
      "limit" -> (() => Seq(1, 2).toDF("x").limit(0)),
      "filtered" -> (() => spark.range(10).filter($"id" > 100).toDF("x")),
      "no_partitions" -> (() => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)))
    // no stage is entity-gated, so the snapshot dir is never read
    val out = DailyRefreshJob.run(spark, root, root, "v1",
      stages = Some(stages))
    assert(out.map(r => (r.name, r.rows, r.error)) ==
      stages.map(s => (s._1, 0L, None)))
    stages.foreach { case (name, _) =>
      assert(spark.read.parquet(graft.operators.Upsert
        .resolvePublished(s"$root/$name").get).count() == 0L, name)
    }
  }

  test("q45 reads its published snapshot and leaves no graft_screen_pub_* root behind") {
    val target = new java.io.File(s"${System.getProperty("user.dir")}/target")
    def roots = Option(target.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("graft_screen_pub_")).toSet
    val before = roots
    val out = graft.queries.Screen.q45ScreenPublished(spark,
      "/root/testdata/sf0.001")
    assert(roots == before, s"new publish roots: ${roots -- before}")
    // the result is pinned: it still reads after its root is deleted
    assert(out.count() > 0)
    assert(out.filter(
      org.apache.spark.sql.functions.col("pub_as_of").isNotNull).count() > 0)
  }
}
