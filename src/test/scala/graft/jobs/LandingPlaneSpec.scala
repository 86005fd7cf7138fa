package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.Upsert
import graft.sources.Coverage

/** Pins for the landing plane's scale and commit behavior:
  *
  *  1. PARTITION PROBE (VERDICT r17 #1) — the merge-vs-fast-path
  *     decision resolves partition existence through the Hadoop
  *     FileSystem API. The spec drives it with a `file:`-scheme
  *     URI-style root: `java.io.File` answers FALSE for such a path
  *     (exactly the r17 bug class — on HDFS/S3 every path looks like
  *     this), and a false negative would let dynamic partition
  *     overwrite REPLACE a landed partition with only the incoming
  *     rows instead of merging.
  *  2. LEDGER CELLS (VERDICT r17 #4) — a coverage ledger grown over
  *     years × many datasets must not scale a landing run or a
  *     catch-up plan: a publish writes only its own cell and leaves
  *     every other cell byte-identical, and a plan reads only the cells
  *     of its window.
  *  3. THE CELL RENAME is the ledger's commit point: a publish killed
  *     before it leaves the previous cell readable (and its temp file
  *     is swept by a later landing once older than the lease TTL), runs sharing a
  *     coverage root under different job names keep each other's rows,
  *     and a re-publish of one cell is last-writer-wins.
  */
class LandingPlaneSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  private val rowSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("target_date", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** A landing pass of `cfg.dataset` (one row per date) on its own lease,
    * clock and run ledger; every date must land. */
  private def lander(tmp: java.nio.file.Path, cfg: LandingJob.Config)
      : Seq[String] => Unit = {
    val ds = LandingJob.Dataset(cfg.dataset, rowSchema, Seq("id"))
    var now = 0L
    val bucket = new graft.sources.Ingest.TokenBucket(600, 1L,
      nowMs = () => now, sleepMs = now += _)
    val lock = new graft.sources.JobLock(tmp.resolve("locks"))
    val runs = new graft.sources.RunLedger(nowMs = () => now)
    val fetch: LandingJob.RowFetch = (d, _) =>
      (200, Seq(Row(1L, d, 1.0)), None)
    dates => {
      val out = LandingJob.runSchedule(spark, lock, runs, cfg,
        Seq(LandingJob.Scheduled(ds, fetch, dates)), bucket, now += _,
        nowMs = () => now).fold(r => fail(r), identity)
      assert(out.map(_._2.status) == dates.map(_ => "success"), out)
    }
  }

  /** Every file under `root`: relative path → content. */
  private def files(root: String): Map[String, Seq[Byte]] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq).toMap
    } finally walk.close()
  }

  private def date(d: String) = java.sql.Date.valueOf(d)

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

  test("a landing leaves a 12,000-cell ledger history byte-identical; scheduleCatchUp reads only its window's cells") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lcells")
    try {
      val cfg = LandingJob.Config("lps_job", "ds7",
        s"$tmp/landing", s"$tmp/coverage")
      // a years-deep ledger: 300 datasets x 40 days = 12,000 cells, none
      // in the run's window
      val histDays = (0 until 40).map(i =>
        java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1).plusDays(i)))
      for (dsI <- 0 until 300; (d, dayI) <- histDays.zipWithIndex) {
        if (dayI == 39) Coverage.writeCell(cfg.coverageRoot, s"ds$dsI", d,
          Coverage.Failed, 0L, 1, None, Some(s"run$dsI"))
        else Coverage.writeCell(cfg.coverageRoot, s"ds$dsI", d,
          Coverage.Success, 100L + dayI, 0, Some(1700000000000L + dayI),
          Some(s"run$dsI"))
      }
      val before = files(cfg.coverageRoot)
      assert(before.size == 12000)
      lander(tmp, cfg)(Seq("2024-03-04"))
      val after = files(cfg.coverageRoot)
      // exactly one new cell; every historical cell is byte-identical
      assert(after.keySet -- before.keySet == Set("ds=ds7/2024-03-04.tsv"))
      assert(before.forall { case (k, v) => after.get(k).contains(v) })
      // a plan over ds7's recent window reads only that window's cells:
      // a corrupt ds7 cell outside it never surfaces...
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(cfg.coverageRoot, "ds=ds7", "2023-01-05.tsv"),
        "not a cell")
      import spark.implicits._
      val cal = (1 to 5).map(i => date(f"2024-03-$i%02d")).toDF("day")
        .withColumn("is_business_day", org.apache.spark.sql.functions.lit(true))
      assert(LandingJob.scheduleCatchUp(spark, cfg, Seq("ds7"), cal, "day",
        date("2024-03-05"), 4, 10) == Seq("ds7" ->
        Seq("2024-03-01", "2024-03-02", "2024-03-03", "2024-03-05")))
      assert(LandingJob.readLedger(spark, cfg.coverageRoot, Seq("ds7"),
        (1 to 5).map(i => date(f"2024-03-$i%02d"))).count() == 1)
      // ...while a window that names it does
      val e = intercept[IllegalStateException](Coverage.readCells(
        cfg.coverageRoot, Seq("ds7"), Seq(date("2023-01-05"))))
      assert(e.getMessage.contains("corrupt coverage cell"))
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("a publish killed before its rename leaves the previous cell readable; readLedger never sees the temp file") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lcrash")
    try {
      val root = s"$tmp/coverage"
      val d = date("2024-06-03")
      Coverage.writeCell(root, "rows", d, Coverage.Success, 5L, 0,
        Some(1L), Some("r1"))
      // the killed publish: temp written, rename never ran
      val tmpFile = Coverage.stageCell(root, "rows", d, Coverage.Failed, 0L,
        1, None, Some("r2"))
      assert(java.nio.file.Files.exists(tmpFile))
      assert(files(root).keySet.size == 2)
      val led = LandingJob.readLedger(spark, root, Seq("rows"), Seq(d))
        .collect().toSeq
      assert(led == Seq(Row("rows", d, Coverage.Success, 5L, 0, 1L, "r1")))
      // a killed first publish leaves the cell absent: the date reads as
      // missing, which catch-up plans
      val d2 = date("2024-06-04")
      val tmpFile2 = Coverage.stageCell(root, "rows", d2, Coverage.Failed,
        0L, 1, None, Some("r3"))
      assert(Coverage.readCells(root, Seq("rows"), Seq(d2)).isEmpty)
      // the next publish commits over the leftovers
      Coverage.writeCell(root, "rows", d, Coverage.Failed, 0L, 1, None,
        Some("r4"))
      assert(Coverage.readCells(root, Seq("rows"), Seq(d, d2)) ==
        Seq(Row("rows", d, Coverage.Failed, 0L, 1, null, "r4")))
      // the next landing sweeps temps older than the lease TTL out of
      // _tmp and keeps younger ones; it lists no ds= dir, so a file
      // planted there (named like a temp, just as old) stays
      val cfg = LandingJob.Config("sweep_job", "other", s"$tmp/landing", root)
      def age(p: java.nio.file.Path): Unit =
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - cfg.ttlSeconds * 1000L - 60000L))
      age(Coverage.stageCell(root, "rows", d2, Coverage.Failed, 0L, 1, None,
        Some("r5")))
      val planted = java.nio.file.Paths.get(root, "ds=rows",
        "2024-06-03.tsv.0.tmp")
      java.nio.file.Files.writeString(planted, "x")
      age(planted)
      def split() = files(root).partition(_._1.startsWith(Coverage.TmpDir))
      val (_, cellsBefore) = split()
      lander(tmp, cfg)(Seq("2024-06-05"))
      val (temps, cellsAfter) = split()
      assert(temps.keySet == Set(tmpFile, tmpFile2).map(p =>
        java.nio.file.Paths.get(root).relativize(p).toString))
      assert(cellsAfter - "ds=other/2024-06-05.tsv" == cellsBefore)
      assert(cellsAfter.contains("ds=other/2024-06-05.tsv"))
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("two runs with different jobNames publishing different cells of one coverageRoot both keep their rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lrace")
    try {
      val dates = Seq("2024-06-03", "2024-06-04", "2024-06-05")
      val cfgs = Seq("a", "b").map(n => LandingJob.Config(s"job_$n", n,
        s"$tmp/landing", s"$tmp/coverage"))
      val passes = cfgs.map(c => lander(tmp, c))
      // one lease dir, two job names: both runs hold a lease at once
      // and land concurrently
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = passes.map(p => new Thread(() =>
        try p(dates) catch { case t: Throwable => errs.add(t) }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errs.isEmpty, errs)
      val got = LandingJob.readLedger(spark, s"$tmp/coverage", Seq("a", "b"),
          dates.map(date))
        .select("dataset", "target_date", "status").collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getString(2)))
      assert(got.toSet == (for (n <- Seq("a", "b"); d <- dates)
        yield (n, d, Coverage.Success)).toSet)
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("republishing the same cell is last-writer-wins") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_llww")
    try {
      val cfg = LandingJob.Config("lww_job", "rows", s"$tmp/landing",
        s"$tmp/coverage")
      val d = date("2024-06-03")
      def read() = Coverage.readCells(cfg.coverageRoot, Seq("rows"), Seq(d))
      val w1 = new LandingJob.LedgerWindow(cfg, Set("rows"), Set(d.toString))
      w1.publish("rows", d, Coverage.Failed, 0L, 1, None, Some("r1"))
      w1.publish("rows", d, Coverage.Success, 7L, 0, Some(2L), Some("r1"))
      assert(read() == Seq(Row("rows", d, Coverage.Success, 7L, 0, 2L, "r1")))
      // a later run's publish of the same cell replaces it
      new LandingJob.LedgerWindow(cfg, Set("rows"), Set(d.toString))
        .publish("rows", d, Coverage.Failed, 0L, 1, None, Some("r2"))
      assert(read() == Seq(Row("rows", d, Coverage.Failed, 0L, 1, null, "r2")))
      // racing publishers: the cell holds one whole row of one of them
      val threads = (0 until 8).map(i => new Thread(() =>
        Coverage.writeCell(cfg.coverageRoot, "rows", d, Coverage.Success,
          i.toLong, 0, Some(i.toLong), Some(s"w$i"))))
      threads.foreach(_.start())
      threads.foreach(_.join())
      val last = read()
      assert(last.size == 1)
      val i = last.head.getLong(3)
      assert(last.head == Row("rows", d, Coverage.Success, i, 0, i, s"w$i"))
      assert(files(cfg.coverageRoot).keySet == Set("ds=rows/2024-06-03.tsv"))
    } finally Upsert.rmTree(tmp.toFile)
  }
}
