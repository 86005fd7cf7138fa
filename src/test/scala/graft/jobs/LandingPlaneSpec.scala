package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.Coverage

/** Round-18 pins for the landing plane's scale behavior:
  *
  *  1. PARTITION PROBE (VERDICT r17 #1) — the merge-vs-fast-path
  *     decision resolves partition existence through the Hadoop
  *     FileSystem API. The spec drives it with a `file:`-scheme
  *     URI-style root: `java.io.File` answers FALSE for such a path
  *     (exactly the r17 bug class — on HDFS/S3 every path looks like
  *     this), and a false negative would let dynamic partition
  *     overwrite REPLACE a landed partition with only the incoming
  *     rows instead of merging.
  *  2. LEDGER BUFFER RESIDENCY (VERDICT r17 #4) — a coverage ledger
  *     grown over years × many datasets must not scale the driver
  *     heap: the per-run buffer holds only the (run datasets) × (run
  *     dates) window, and a publish still writes the COMPLETE ledger
  *     (remainder rows ride cluster-side), so planning output is
  *     unchanged.
  *  3. LEDGER PRUNE vs A FOREIGN PUBLISHER — a second writer sharing the
  *     coverage root writes its complete `v=` snapshot before it flips
  *     `_PUBLISHED`; a landing run publishing in that window must not
  *     prune the unflipped dir, or the foreign flip would point at a
  *     deleted snapshot.
  */
class LandingPlaneSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  test("partition probe sees URI-style roots java.io.File cannot") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_probe")
    try {
      val d = java.sql.Date.valueOf("2024-01-02")
      assert(new java.io.File(s"$tmp/data/target_date=$d").mkdirs())
      val uriData = s"file:$tmp/data" // what an HDFS/S3 root looks like
      // the r17 bug class: a java.io.File probe on the URI-style path
      // answers false even though the partition EXISTS
      assert(!new java.io.File(s"$uriData/target_date=$d").exists())
      assert(LandingJob.partitionExists(spark, uriData, d),
        "the Hadoop-FS probe must resolve the URI-style root")
      assert(!LandingJob.partitionExists(spark, uriData,
        java.sql.Date.valueOf("2024-01-03")),
        "a missing partition must still probe false")
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("LedgerBuf holds only the run window; publish preserves the full ledger") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lbuf")
    try {
      val cfg = LandingJob.Config("lps_job", "ds7",
        s"$tmp/landing", s"$tmp/coverage")
      // a years-deep synthetic ledger: 300 datasets x 40 days = 12,000
      // rows, none in the run's window
      val schema = Coverage.emptyLedger(spark).schema
      val history = for {
        dsI <- 0 until 300
        dayI <- 0 until 40
      } yield Row(s"ds$dsI",
        java.sql.Date.valueOf(s"2023-01-${1 + dayI % 28}"),
        if (dayI == 39) Coverage.Failed else Coverage.Success,
        100L + dayI, if (dayI == 39) 1 else 0,
        if (dayI == 39) null else Long.box(1700000000000L + dayI),
        s"run$dsI")
      // one row per (dataset, day): dedupe the calendar collisions
      import scala.jdk.CollectionConverters._
      val hist = spark.createDataFrame(history.asJava, schema)
        .dropDuplicates("dataset", "target_date").localCheckpoint()
      val histRows = hist.count()
      Upsert.publishSnapshot(hist.coalesce(1), cfg.coverageRoot, "v0")
      val day = java.sql.Date.valueOf("2024-03-04")
      val buf = new LandingJob.LedgerBuf(spark, cfg, Set("ds7"),
        Set(day.toString))
      // O(run window), not O(history): nothing in the window yet
      assert(buf.bufferedRows == 0,
        s"buffer holds ${buf.bufferedRows} rows — history leaked in")
      buf.publish("ds7", day, Coverage.Success, 5L, 0, Some(1L),
        Some("r1"))
      assert(buf.bufferedRows == 1)
      val out = spark.read.parquet(
        Upsert.resolvePublished(cfg.coverageRoot).get).localCheckpoint()
      assert(out.count() == histRows + 1,
        "publish must write history + the new row")
      // every historical row survived byte-identically
      assert(out.join(hist, hist.columns.toSeq, "left_anti").count() == 1)
      assert(hist.join(out, hist.columns.toSeq, "left_anti").count() == 0)
      val added = out.join(hist, hist.columns.toSeq, "left_anti").collect()
      assert(added.head.getString(0) == "ds7" &&
        added.head.getDate(1) == day)
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("a landing publish spares a foreign writer's unflipped ledger snapshot") {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft_lprune")
    try {
      val cfg = LandingJob.Config("lprune_job", "rows",
        s"$tmp/landing", s"$tmp/coverage")
      val ds = LandingJob.Dataset(cfg.dataset, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("target_date", StringType, nullable = false),
        StructField("value", DoubleType, nullable = false))), Seq("id"))
      var now = 0L
      val bucket = new graft.sources.Ingest.TokenBucket(600, 1L,
        nowMs = () => now, sleepMs = now += _)
      val lock = new graft.sources.JobLock(tmp.resolve("locks"))
      val runs = new graft.sources.RunLedger(nowMs = () => now)
      val fetch: LandingJob.RowFetch = (d, _) =>
        (200, Seq(Row(1L, d, 1.0)), None)
      def land(date: String): Unit =
        assert(LandingJob.runSchedule(spark, lock, runs, cfg,
          Seq(LandingJob.Scheduled(ds, fetch, Seq(date))), bucket,
          now += _, nowMs = () => now)
          .toOption.get.forall(_._2.status == "success"))
      land("2024-06-03")
      // the foreign writer: a COMPLETE ledger snapshot (the current rows
      // plus its own), written under the root but not yet flipped
      val foreignRow = Row("other", java.sql.Date.valueOf("2024-06-10"),
        Coverage.Success, 7L, 0, Long.box(1L), "foreign_run")
      val foreign = spark.read.parquet(
          Upsert.resolvePublished(cfg.coverageRoot).get)
        .unionByName(spark.createDataFrame(Seq(foreignRow).asJava,
          Coverage.emptyLedger(spark).schema))
        .coalesce(1).localCheckpoint()
      val foreignDir = new java.io.File(s"${cfg.coverageRoot}/v=foreign")
      foreign.write.parquet(foreignDir.toString)
      // this run publishes twice (claim placeholder, success) while the
      // foreign flip is pending
      land("2024-06-04")
      assert(foreignDir.isDirectory,
        "the landing publish pruned a written-but-unflipped snapshot")
      // the foreign flip lands on an intact snapshot
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${cfg.coverageRoot}/_PUBLISHED"), "foreign")
      val read = spark.read.parquet(
        Upsert.resolvePublished(cfg.coverageRoot).get)
      assert(read.count() == 2)
      assert(read.filter(col("dataset") === "other").count() == 1)
      assert(read.join(foreign, foreign.columns.toSeq, "left_anti")
        .count() == 0)
    } finally Upsert.rmTree(tmp.toFile)
  }
}
