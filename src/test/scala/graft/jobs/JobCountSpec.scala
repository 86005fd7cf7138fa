package graft.jobs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.Tables
import graft.operators.Upsert
import graft.sources.Coverage

/** Spark-job budgets of the refresh and landing control paths. At
  * control-plane sizes a pass is bound by its job count, so a read that
  * starts a schema-inference job, a publish that reads its snapshot back
  * to count it, or a catch-up plan that leaves the driver shows here as a
  * count, not as noise in a timing. */
class JobCountSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  val sf = "/root/testdata/sf0.01"

  /** Spark jobs started while `body` runs, and its result. */
  def jobs[A](body: => A): (Int, A) = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain.drain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.ListenerDrain.drain(sc)
      (n.get, a)
    } finally sc.removeSparkListener(l)
  }

  def tmpDir(tag: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tag)

  private val rowSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("target_date", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** A landed, date-partitioned table with two dates. */
  def landed(root: String): LandingJob.Dataset = {
    val ds = LandingJob.Dataset("rows", rowSchema, Seq("id"))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(
        Row(1L, "2024-06-03", 1.5), Row(2L, "2024-06-03", 2.5),
        Row(3L, "2024-06-04", 3.5)).asJava, rowSchema)
      .withColumn("target_date", to_date(col("target_date")))
      .write.partitionBy("target_date").parquet(s"$root/data_rows")
    ds
  }

  test("Tables.load, readLanding and the ledger read start no Spark job") {
    val (n, _) = jobs(Tables.names.map(Tables.load(spark, sf, _).schema))
    assert(n == 0, s"$n jobs for ${Tables.names.size} table loads")
    val tmp = tmpDir("jc_read")
    try {
      val ds = landed(s"$tmp/landing")
      val (nl, df) = jobs(LandingJob.readLanding(spark, s"$tmp/landing", ds))
      assert(nl == 0 && df.isDefined)
      val day = java.sql.Date.valueOf("2024-06-03")
      Coverage.writeCell(s"$tmp/coverage", "rows", day, Coverage.Success,
        2L, 0, Some(1L), Some("r"))
      val (ng, led) = jobs(LandingJob.readLedger(spark, s"$tmp/coverage",
        Seq("rows"), Seq(day)))
      assert(ng == 0)
      assert(led.count() == 1)
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("footer schemas equal Spark's inferred schemas: every testdata table and a landed partitioned table") {
    Tables.names.foreach { t =>
      assert(Tables.load(spark, sf, t).schema ==
        spark.read.parquet(Tables.path(sf, t)).schema, t)
    }
    val tmp = tmpDir("jc_schema")
    try {
      val ds = landed(s"$tmp/landing")
      val got = LandingJob.readLanding(spark, s"$tmp/landing", ds).get
      val want = spark.read.parquet(s"$tmp/landing/data_rows")
      assert(got.schema == want.schema)
      assert(got.schema.last.name == "target_date" &&
        got.schema.last.dataType == DateType)
      assert(got.orderBy("id").collect().toSeq ==
        want.orderBy("id").collect().toSeq)
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("a one-stage refresh run is one job: no count or read-back after its write") {
    import spark.implicits._
    val tmp = tmpDir("jc_stage")
    try {
      val df = (1 to 40).toDF("x").localCheckpoint()
      val (n, out) = jobs(DailyRefreshJob.run(spark, s"$tmp/sf",
        s"$tmp/out", "v1", stages = Some(Seq("stage" -> (() => df)))))
      assert(out.map(_.error) == Seq(None), out.toString)
      assert(n == 1, s"$n jobs for one stage publish")
      val published = Upsert.resolvePublished(s"$tmp/out/stage").get
      assert(out.head.rows == spark.read.parquet(published).count())
      assert(out.head.rows == 40L)
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("a landed date's two ledger publishes and the refresh coverage gate start no Spark job") {
    val tmp = tmpDir("jc_ledger")
    try {
      val cfg = LandingJob.Config("jc_job", "rows", s"$tmp/landing",
        s"$tmp/coverage")
      val day = java.sql.Date.valueOf("2024-06-03")
      val ledger = new LandingJob.LedgerWindow(cfg, Set("rows", "more"),
        Set(day.toString))
      // the claim placeholder, then the success row
      val (np, _) = jobs {
        ledger.publish("rows", day, Coverage.Failed, 0L, 1, None, Some("r"))
        ledger.publish("rows", day, Coverage.Success, 3L, 0, Some(1L),
          Some("r"))
      }
      assert(np == 0, s"$np jobs for one landed date's ledger publishes")
      val (nc, covered) = jobs(DailyRefreshJob.landingCovered(cfg,
        day.toString, Seq("rows", "rows")))
      assert(nc == 0, s"$nc jobs for the coverage gate")
      assert(covered)
      // an input without a success cell blocks: absent, then failed
      assert(!DailyRefreshJob.landingCovered(cfg, day.toString,
        Seq("rows", "more")))
      ledger.publish("more", day, Coverage.Failed, 0L, 1, None, Some("m"))
      assert(!DailyRefreshJob.landingCovered(cfg, day.toString,
        Seq("rows", "more")))
      assert(!DailyRefreshJob.landingCovered(cfg, "2024-06-04", Seq("rows")))
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("scheduleCatchUp over four datasets runs as many jobs as over one") {
    val tmp = tmpDir("jc_catchup")
    try {
      val cfg = LandingJob.Config("jc_job", "a", s"$tmp/landing",
        s"$tmp/coverage")
      val days = (3 to 7).map(d => java.sql.Date.valueOf(f"2024-06-$d%02d"))
      // a: 06-04 failed, 06-06 missing; b: all covered; c: nothing
      // landed; d: 06-07 failed
      val cells = days.flatMap { d =>
        val day = d.toString
        (if (day == "2024-06-06") Nil
         else Seq(("a", d, day != "2024-06-04"))) ++
          Seq(("b", d, true), ("d", d, day != "2024-06-07"))
      }
      cells.foreach { case (ds, d, ok) =>
        if (ok) Coverage.writeCell(cfg.coverageRoot, ds, d,
          Coverage.Success, 1L, 0, Some(1L), Some("r"))
        else Coverage.writeCell(cfg.coverageRoot, ds, d, Coverage.Failed,
          0L, 1, None, Some("r"))
      }
      import scala.jdk.CollectionConverters._
      val calendar: DataFrame = spark.createDataFrame(
        days.map(d => Row(d, true)).asJava,
        StructType(Seq(StructField("day", DateType),
          StructField("is_business_day", BooleanType))))
      val today = days.last
      def plan(ds: Seq[String], maxDays: Int) =
        LandingJob.scheduleCatchUp(spark, cfg, ds, calendar, "day", today,
          10, maxDays)
      val (one, p1) = jobs(plan(Seq("a"), 10))
      val (four, p4) = jobs(plan(Seq("d", "a", "b", "c"), 10))
      // the plan runs on the driver: a local calendar and the ledger
      // cells are read without a job, whatever the number of datasets
      assert(one == 0 && four == 0,
        s"one dataset: $one jobs, four: $four")
      assert(p1 == Seq("a" -> Seq("2024-06-04", "2024-06-06")))
      // priority order kept, covered datasets omitted, oldest first
      assert(p4 == Seq("d" -> Seq("2024-06-07"),
        "a" -> Seq("2024-06-04", "2024-06-06"),
        "c" -> days.map(_.toString)))
      // the per-dataset cap
      assert(plan(Seq("a", "c"), 2) == Seq("a" -> Seq("2024-06-04",
        "2024-06-06"), "c" -> Seq("2024-06-03", "2024-06-04")))
      // the one-dataset entry is the same plan
      assert(LandingJob.catchUpDatesFor(spark, cfg, "c", calendar, "day",
        today, 10, 2) == Seq("2024-06-03", "2024-06-04"))
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("a two-chunk first land counts its rows on the write: 3 jobs fewer than a pin and a count") {
    val tmp = tmpDir("jc_land")
    try {
      var now = 0L
      val bucket = new graft.sources.Ingest.TokenBucket(
        requestsPerMinute = 600, minIntervalMs = 1L, nowMs = () => now,
        sleepMs = now += _)
      val lock = new graft.sources.JobLock(tmp.resolve("locks"))
      val runs = new graft.sources.RunLedger(nowMs = () => now)
      val cfg = LandingJob.Config("jc_land", "rows", s"$tmp/landing",
        s"$tmp/coverage")
      val ds = LandingJob.Dataset("rows", rowSchema, Seq("id"),
        batchSize = 3)
      // two pages of 3 rows, each flushed as its own chunk; id 1 comes
      // back on page 2, so 5 deduped rows land
      val fetch: LandingJob.RowFetch = (d, cursor) => cursor match {
        case None =>
          (200, (1L to 3L).map(i => Row(i, d, i.toDouble)), Some("2"))
        case _ =>
          (200, Seq(Row(4L, d, 4.0), Row(5L, d, 5.0), Row(1L, d, 9.0)), None)
      }
      val (n, out) = jobs(LandingJob.runSchedule(spark, lock, runs, cfg,
        Seq(LandingJob.Scheduled(ds, fetch, Seq("2024-06-03"))), bucket,
        now += _, nowMs = () => now))
      val results = out.toOption.get.map(_._2)
      assert(results.map(r => (r.status, r.rows)) == Seq(("success", 5L)))
      // 2 chunk appends, then the deduped rows' write; the parent tree,
      // which pinned the deduped rows with localCheckpoint() and counted
      // them before the write, ran 7 jobs here
      assert(n == 4, s"$n jobs for a two-chunk first land")
      val landed = LandingJob.readLanding(spark, cfg.landingRoot, ds).get
        .select("id", "value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(landed == Map(1L -> 9.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0,
        5L -> 5.0))
    } finally Upsert.rmTree(tmp.toFile)
  }

  test("a pin runs exactly the jobs of a bare localCheckpoint on the same input") {
    val inputs: Seq[() => DataFrame] = Seq(
      () => spark.range(0, 2000)
        .select(col("id"), explode(sequence(lit(0L), lit(50L))).as("j")),
      () => spark.range(0, 5000).join(spark.range(0, 5000), Seq("id")),
      () => Tables.load(spark, sf, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")))
    inputs.foreach { in =>
      val (nBare, bare) = jobs(in().localCheckpoint())
      val (nPin, pinned) = jobs(graft.operators.Materialize.pin(in()))
      assert(nPin == nBare && nBare > 0, s"pin $nPin jobs, bare $nBare")
      graft.operators.Materialize.release(bare)
      graft.operators.Materialize.release(pinned)
    }
  }

  test("q15 at sf0.01 runs one job fewer than with a pre-sort barrier") {
    // with a hand-placed localCheckpoint() of the verify tail before the
    // output sort, q15 ran 19 jobs here; the sorted-output gate does not
    // pin a filter over the verify checkpoint again. With shuffle_hash
    // hints on the two verify joins (deleted on an A/B, PLANS.md "One pin
    // entry") it ran 18, and with its two withMaterialized scopes filled
    // by persist() and an eager count() instead of a pin it ran 16
    val (n, out) = jobs(graft.queries.TextQueries.q15NearDupPairs(spark, sf))
    assert(n == 12, s"$n jobs for q15 at sf0.01")
    assert(out.count() == 25)
  }
}
