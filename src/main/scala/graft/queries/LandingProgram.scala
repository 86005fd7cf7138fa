package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.jobs.{DailyRefreshJob, LandingJob}
import graft.operators.Materialize
import graft.sources.{Ingest, JobLock, RunLedger}

/** q219 — the LANDING PIPELINE, oracle-gated end to end: the full
  * composed ingest control plane (`cron-a-direct.ts:115-147` — TTL
  * lease → per-date run claim → rate-limited/retried/PAGINATED fetch →
  * partition-scoped landing upsert → coverage manifest → coverage-driven
  * catch-up → re-land) run against a deterministic "API" synthesized
  * from the orders table, with the OUTPUT gated against DuckDB
  * aggregating the same source rows directly. Where the LandingJob
  * specs pin schedules and lifecycles, this gate pins the DATA: after a
  * first pass in which two planted dates fail their fetch (401 —
  * fail-fast, the reference's non-retryable class) and a catch-up pass
  * heals exactly those dates, the landed table must contain precisely
  * the source rows for every target date — pagination loss, partition
  * overwrite mistakes, manifest/catch-up algebra errors, and upsert
  * key bugs all surface as a hash mismatch.
  *
  * Dates = the 6 oldest distinct order dates; the "API" serves each
  * date's orders rows in pages of 25 (ids ascending). The driver-side
  * collect of those rows IS the operator's transport — an HTTP fetch
  * loop is driver-side by construction (SURVEY §2.1's ingest shape);
  * it is bounded by days × page size, never fact-table-sized. Money
  * rides as integer cents (DECIMAL(12,2) × 100 — exact in a double far
  * below 2^53), so sums are order-free and bit-exact in both engines.
  *
  * Scale shape: the landing write is dynamic partition overwrite per
  * target_date (O(day) I/O per landed date — LandingJobSpec "landing
  * write is partition-scoped…" pins that other partitions stay
  * byte-identical, PlanShapeSpec "landed-table refresh stages prune to
  * the ONE target_date partition" pins the O(day) refresh read); the
  * manifest is one row per (dataset, day); the final aggregation groups
  * the landed table by its partition column. */
object LandingProgram {

  /** One gate's landing control plane on a scratch root: a fake clock
    * shared by the token bucket, the retry sleeps and the run ledger,
    * plus the lease dir. [[land]] runs one [[LandingJob.runSchedule]]
    * pass and fails the gate if the lease rejects it. */
  private final class Plane(s: SparkSession, tmp: java.nio.file.Path,
                            cfg: LandingJob.Config) {
    var now = 0L
    val bucket = new Ingest.TokenBucket(requestsPerMinute = 60,
      minIntervalMs = 1000L, nowMs = () => now, sleepMs = now += _)
    val lock = new JobLock(tmp.resolve("locks"))
    val runs = new RunLedger(nowMs = () => now)
    def land(entries: Seq[LandingJob.Scheduled])
        : Seq[(String, LandingJob.DateResult)] =
      LandingJob.runSchedule(s, lock, runs, cfg, entries, bucket,
        retrySleepMs = now += _, nowMs = () => now)
        .fold(r => sys.error(s"landing rejected: $r"), identity)
  }

  /** Days from the first to the last of `dates`: the catch-up lookback
    * whose window is exactly a gate's date universe. */
  private def spanDays(dates: Seq[String]): Int =
    java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(dates.head),
      java.time.LocalDate.parse(dates.last)).toInt

  /** q219's landing row: (id, target_date, value) — id is the upsert
    * key, value the order's cents. */
  private val q219Schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("target_date", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def q219LandingPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("id"),
        to_date(col("o_orderdate")).as("d"),
        // o_totalprice ships as DOUBLE: floor(x·100 + 0.5) is the house
        // cross-engine cents rule (Spark cast truncates, DuckDB rounds)
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    // the 6 oldest order dates — the gate's target-date universe (the
    // cost driver is Spark-job count: ~7 control-plane jobs per landed
    // date; 6 dates keep the full lifecycle — multi-page fetches, two
    // planted failures, ordered catch-up — at bounded gate cost)
    val dates = o.select(col("d")).distinct().orderBy(col("d"))
      .limit(6).as[java.sql.Date].collect().toSeq.map(_.toString)
    // the deterministic "API": days × page-sized — the fetch transport,
    // bounded by the date window, not the fact table
    val byDate: Map[String, IndexedSeq[Row]] = o
      .filter(col("d").isin(dates: _*))
      .select(col("id"), col("d").cast("string"), col("cents"))
      .as[(Long, String, Long)].collect().toIndexedSeq
      .groupBy(_._2).map { case (k, v) =>
        k -> v.sortBy(_._1).map { case (id, d, c) =>
          Row(id, d, c.toDouble) } }
    val PageSize = 25
    // dates at index % 3 == 2 fail their FIRST pass hard (401 —
    // non-retryable), then heal: the catch-up pass must find exactly
    // them via the manifest and re-land them
    val plantedFail = dates.zipWithIndex
      .collect { case (d, i) if i % 3 == 2 => d }.toSet
    @volatile var healed = false
    val fetch: LandingJob.RowFetch = (date, cursor) => {
      if (!healed && plantedFail(date)) (401, Nil, None)
      else {
        val rows = byDate.getOrElse(date, IndexedSeq.empty)
        val start = cursor.map(_.toInt).getOrElse(0)
        val page = rows.slice(start, start + PageSize)
        val next = if (start + PageSize < rows.size)
          Some((start + PageSize).toString) else None
        (200, page, next)
      }
    }
    // scratch root removed in the finally below (the bench runs this
    // gate many reps per round — leaked landing/coverage dirs would
    // accumulate in /tmp exactly like the ExactSubstr scratch used to)
    val tmp = java.nio.file.Files.createTempDirectory("graft_q219")
    try q219Body(s, tmp, dates, fetch, () => healed = true)
    finally graft.operators.Upsert.rmTree(tmp.toFile)
  }

  private def q219Body(s: SparkSession, tmp: java.nio.file.Path,
                       dates: Seq[String], fetch: LandingJob.RowFetch,
                       heal: () => Unit): DataFrame = {
    import s.implicits._
    val cfg = LandingJob.Config("landing_q219", "orders",
      s"$tmp/landing", s"$tmp/coverage")
    val ds = LandingJob.Dataset(cfg.dataset, q219Schema, Seq("id"))
    val plane = new Plane(s, tmp, cfg)
    def pass(dd: Seq[String]): Unit =
      plane.land(Seq(LandingJob.Scheduled(ds, fetch, dd)))
    pass(dates) // first pass: planted dates record FAILED manifests
    heal()
    // catch-up reads the MANIFEST over the target-date calendar and
    // plans exactly the failed dates, oldest first
    val calendar = dates.map(java.sql.Date.valueOf).toDF("day")
      .withColumn("is_business_day", lit(true))
    val plan = LandingJob.catchUpDatesFor(s, cfg, ds.name, calendar, "day",
      java.sql.Date.valueOf(dates.last), lookbackDays = spanDays(dates),
      maxDays = 100)
    val planted = dates.zipWithIndex
      .collect { case (d, i) if i % 3 == 2 => d }
    require(plan == planted,
      s"catch-up planned $plan, expected the planted failures")
    pass(plan) // heal
    // the gate output: per-date aggregates over the LANDED table joined
    // with the manifest's terminal status — every date covered, every
    // source row present exactly once
    val manifest = LandingJob.readLedger(s, cfg.coverageRoot, Seq(ds.name),
        dates.map(java.sql.Date.valueOf))
      .select(col("target_date"), col("status"))
    Materialize.sorted(LandingJob.readLanding(s, cfg.landingRoot, ds).get
      .groupBy(col("target_date"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value")).cast("long").as("sum_cents"),
        min(col("value")).cast("long").as("min_cents"),
        max(col("value")).cast("long").as("max_cents"))
      .join(manifest, Seq("target_date")), col("target_date"))
  }

  // ---------------------------------------------------------------- q220

  /** The 50-column fins-shaped landing schema — the reference's widest
    * endpoint (`src/lib/jquants/endpoints/fins-summary.ts:77-163` lands
    * a ~50-field financial-statement row with a ""→null cleanse). Key
    * (target_date, id); 46 derived value columns + 2 strings. */
  private[graft] val wideSchema: StructType = StructType(
    Seq(StructField("id", LongType, nullable = false),
      StructField("target_date", StringType, nullable = false),
      StructField("note", StringType, nullable = true),
      StructField("code", StringType, nullable = false)) ++
      (1 to 46).map(k =>
        StructField(f"v$k%02d", LongType, nullable = false)))

  /** One wide "API" row from an (id, cents) source pair: deterministic
    * integer derivations both engines can replay exactly. `note` is
    * empty-string for id % 7 == 0 — the cleanse target. */
  private[graft] def wideRow(id: Long, date: String, cents: Long): Row =
    Row.fromSeq(
      Seq(id, date,
        if (id % 7 == 0) "" else "n" + (id % 97),
        "c" + (id % 1000)) ++
        (1 to 46).map(k => (cents * k) % 1000003L))

  /** The fins-summary cleanse as the dataset transform: empty strings
    * become SQL NULL (fins-summary.ts's `parseNumber`/`emptyToNull`
    * mapping — applied to every chunk before it is staged/landed). */
  private[graft] val wideCleanse: DataFrame => DataFrame = df =>
    df.withColumn("note",
      when(length(col("note")) === 0, lit(null)).otherwise(col("note")))

  /** q220 — SCHEMA-GENERIC landing, oracle-gated: the SAME composed
    * control plane as q219 (lease → claim → rate-limited paginated
    * fetch → partition-scoped land → manifest → coverage-driven
    * catch-up → heal) with a
    * 50-column fins-shaped [[LandingJob.Dataset]] — per-dataset key
    * spec, per-dataset batch size (pages spool through the chunked
    * staging path once a date outgrows one chunk, e.g. at sf0.1), and
    * the ""→null cleanse transform. One planted 401 date heals via the
    * manifest-driven catch-up. The gate output is per-date aggregates
    * over the landed WIDE table (sums of two derived columns, the
    * cleansed-null count, distinct codes) joined with the manifest's
    * terminal status, hash-matched against DuckDB deriving the same
    * columns from the source rows directly — a dropped page, a
    * mis-keyed upsert, a transform that touched the wrong rows, or an
    * unhealed date all break equality. */
  def q220GenericLanding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("id"),
        to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    // 3 oldest dates — the generic gate exercises schema width and the
    // chunk spool, not the multi-date scheduling q219 already pins
    val dates = o.select(col("d")).distinct().orderBy(col("d"))
      .limit(3).as[java.sql.Date].collect().toSeq.map(_.toString)
    val byDate: Map[String, IndexedSeq[(Long, Long)]] = o
      .filter(col("d").isin(dates: _*))
      .select(col("id"), col("d").cast("string"), col("cents"))
      .as[(Long, String, Long)].collect().toIndexedSeq
      .groupBy(_._2).map { case (k, v) =>
        k -> v.map(t => (t._1, t._3)).sortBy(_._1) }
    val PageSize = 25
    val plantedFail = dates(1)
    @volatile var healed = false
    val fetch: LandingJob.RowFetch = (date, cursor) => {
      if (!healed && date == plantedFail) (401, Nil, None)
      else {
        val rows = byDate.getOrElse(date, IndexedSeq.empty)
        val start = cursor.map(_.toInt).getOrElse(0)
        val page = rows.slice(start, start + PageSize)
          .map { case (id, cents) => wideRow(id, date, cents) }
        val next = if (start + PageSize < rows.size)
          Some((start + PageSize).toString) else None
        (200, page, next)
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_q220")
    try q220Body(s, tmp, dates, plantedFail, fetch, () => healed = true)
    finally graft.operators.Upsert.rmTree(tmp.toFile)
  }

  private def q220Body(s: SparkSession, tmp: java.nio.file.Path,
                       dates: Seq[String], plantedFail: String,
                       fetch: LandingJob.RowFetch,
                       heal: () => Unit): DataFrame = {
    import s.implicits._
    val cfg = LandingJob.Config("landing_q220", "fins",
      s"$tmp/landing", s"$tmp/coverage")
    // batchSize 48: one chunk at the sf0.001/sf0.01 gates (the common
    // daily-volume path), the STAGED chunk path at sf0.1 (~62 rows per
    // date) — the same query exercises both write paths across SFs
    val ds = LandingJob.Dataset("fins", wideSchema, Seq("id"),
      batchSize = 48, transform = wideCleanse)
    val plane = new Plane(s, tmp, cfg)
    def pass(dd: Seq[String]): Unit =
      plane.land(Seq(LandingJob.Scheduled(ds, fetch, dd)))
    pass(dates)
    heal()
    val calendar = dates.map(java.sql.Date.valueOf).toDF("day")
      .withColumn("is_business_day", lit(true))
    val plan = LandingJob.catchUpDatesFor(s, cfg, ds.name, calendar,
      "day", java.sql.Date.valueOf(dates.last), lookbackDays = spanDays(dates),
      maxDays = 100)
    require(plan == Seq(plantedFail),
      s"catch-up planned $plan, expected Seq($plantedFail)")
    pass(plan)
    val manifest = LandingJob.readLedger(s, cfg.coverageRoot, Seq(ds.name),
        dates.map(java.sql.Date.valueOf))
      .select(col("target_date"), col("status"))
    Materialize.sorted(LandingJob.readLanding(s, cfg.landingRoot, ds).get
      .groupBy(col("target_date"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v07")).cast("long").as("sum_v07"),
        sum(col("v31")).cast("long").as("sum_v31"),
        count(when(col("note").isNull, 1)).as("n_null_note"),
        countDistinct(col("code")).as("n_codes"))
      .join(manifest, Seq("target_date")), col("target_date"))
  }

  /** DuckDB derives the same wide columns from the source rows
    * directly: vK = (cents·K) mod 1000003, NULL notes are exactly the
    * id % 7 == 0 rows the cleanse blanked. */
  val oracleQ220: String =
    """WITH d3 AS (
      |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
      |  FROM orders ORDER BY d LIMIT 3
      |), src AS (
      |  SELECT CAST(o_orderdate AS DATE) AS target_date,
      |         CAST(o_orderkey AS BIGINT) AS id,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders
      |  WHERE CAST(o_orderdate AS DATE) IN (SELECT d FROM d3)
      |)
      |SELECT target_date,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM((cents * 7) % 1000003) AS BIGINT) AS sum_v07,
      |       CAST(SUM((cents * 31) % 1000003) AS BIGINT) AS sum_v31,
      |       CAST(SUM(CASE WHEN id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_null_note,
      |       CAST(COUNT(DISTINCT 'c' || CAST(id % 1000 AS VARCHAR))
      |         AS BIGINT) AS n_codes,
      |       'success' AS status
      |FROM src
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q221

  /** The four business-table landing schemas the production DAG reads —
    * the reference lands ~11 real endpoints (`fins-summary.ts`,
    * `equity-bars-daily.ts`, …) and chains the derived suite over
    * exactly those tables (`cron-a-direct.ts:115-147`). Each carries a
    * unique endpoint row key plus the landing partition column. */
  private[graft] val q221OrdersSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("o_orderdate", StringType, nullable = false),
    StructField("target_date", StringType, nullable = false)))
  private[graft] val q221LineitemSchema = StructType(Seq(
    StructField("l_rowid", LongType, nullable = false),
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("target_date", StringType, nullable = false)))
  private[graft] val q221CustomerSchema = StructType(Seq(
    StructField("c_custkey", LongType, nullable = false),
    StructField("c_mktsegment", StringType, nullable = false),
    StructField("c_acctbal", DoubleType, nullable = false),
    StructField("target_date", StringType, nullable = false)))
  private[graft] val q221EventsSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("target_date", StringType, nullable = false)))

  /** q221 — the MULTI-DATASET SCHEDULER + PRODUCTION REFRESH DAG,
    * oracle-gated end to end: the reference's whole cron-A day
    * (`cron-a-direct.ts:115-147` — the priority-ordered endpoint loop
    * with continue-on-error, then the derived post-step chain over the
    * tables the loop just wrote) as ONE driver-verified query.
    *
    *  1. [[LandingJob.runSchedule]] lands four business datasets
    *     (orders / lineitem / customer / events slices) in priority
    *     order under one lease + one shared ledger/coverage root; the
    *     lineitem endpoint 401s on the first pass — the scheduler must
    *     land the other three anyway (two-level continue-on-error).
    *  2. [[DailyRefreshJob.runProductionRefresh]] for the business date
    *     must BLOCK (coverage requires every input dataset) via a
    *     recorded failed claim.
    *  3. [[LandingJob.scheduleCatchUp]] over all four datasets must
    *     plan exactly the lineitem heal; re-running the planned
    *     schedule lands it.
    *  4. The production refresh reclaims and runs the REAL derived
    *     stages — the flagship stock-metrics program + the
    *     technical-kernel snapshot — over the landed tables.
    *
    * The gate output is the PUBLISHED stock_metrics snapshot,
    * hash-matched against DuckDB running the q10 oracle over the same
    * source slices directly — a dataset the scheduler skipped, a page
    * the fetch dropped, a mis-keyed upsert, a refresh that ran against
    * stale coverage, or a snapshot that published partial stage output
    * all break equality. Slices: the 3 oldest order dates, their
    * lineitems, their customers (the stock-metrics join is inner on
    * custkey, so restricting the customer slice to the slice's buyers
    * is result-identity), and the 2 oldest event days. The driver-side
    * collect of those slices is the fetch transport (SURVEY §2.1's
    * ingest shape) — bounded by the date window, never
    * fact-table-sized. */
  def q221ScheduledRefresh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
        col("o_totalprice").cast("double"),
        to_date(col("o_orderdate")).cast("string").as("d"))
      .as[(Long, Long, Double, String)]
    // the slice filters run IN Spark (pushed to the scans) — only the
    // day-window slices ever reach the driver, never a fact table.
    // The orders→lineitem/customer chain and the events chain are
    // independent action sequences feeding the in-process test
    // transport — overlap them (guide §2.6); within the orders chain
    // the lineitem and customer lookups share only the already-
    // collected keys, so they overlap too.
    var dates: Seq[String] = null
    var oSlice: IndexedSeq[(Long, Long, Double, String)] = null
    var liSlice: IndexedSeq[(Long, Double, Double, Double)] = null
    var cuSlice: IndexedSeq[(Long, String, Double)] = null
    var evSlice: IndexedSeq[(Long, Long, java.sql.Timestamp, Double, String)] =
      null
    Materialize.concurrently(Seq[() => Unit](
      () => {
        dates = o.map(_._4).distinct().orderBy(col("value"))
          .limit(3).collect().toSeq.sorted
        oSlice = o.filter(col("d").isin(dates: _*))
          .collect().toIndexedSeq
        val keys = oSlice.map(_._1).toSeq
        val custKeys = oSlice.map(_._2).distinct.toSeq
        Materialize.concurrently(Seq[() => Unit](
          () => liSlice = Tables.lineitem(s, dir)
            .select(col("l_orderkey").cast("long"),
              col("l_quantity").cast("double"),
              col("l_extendedprice").cast("double"),
              col("l_discount").cast("double"))
            .filter(col("l_orderkey").isin(keys: _*))
            .as[(Long, Double, Double, Double)].collect().toIndexedSeq,
          () => cuSlice = Tables.customer(s, dir)
            .select(col("c_custkey").cast("long"), col("c_mktsegment"),
              col("c_acctbal").cast("double"))
            .filter(col("c_custkey").isin(custKeys: _*))
            .as[(Long, String, Double)].collect().toIndexedSeq))
      },
      () => {
        val ev0 = Tables.events(s, dir)
          .select(col("event_id").cast("long"), col("user_id").cast("long"),
            col("ts"), col("value").cast("double"),
            to_date(col("ts")).cast("string").as("day"))
          .as[(Long, Long, java.sql.Timestamp, Double, String)]
        val evDays = ev0.map(_._5).distinct().orderBy(col("value"))
          .limit(2).collect().toSeq
        evSlice = ev0.filter(col("day").isin(evDays: _*))
          .collect().toIndexedSeq
      }))
    val D = dates.last // the business date everything lands under
    val payloads: Map[String, IndexedSeq[Row]] = Map(
      "orders" -> oSlice.map(r => Row(r._1, r._2, r._3, r._4, D)),
      "lineitem" -> liSlice.zipWithIndex.map { case (r, i) =>
        Row(i.toLong, r._1, r._2, r._3, r._4, D) },
      "customer" -> cuSlice.map(r => Row(r._1, r._2, r._3, D)),
      "events" -> evSlice.map(r => Row(r._1, r._2, r._3, r._4, D)))
    val PageSize = 200
    @volatile var healed = false
    def fetchFor(name: String): LandingJob.RowFetch = (_, cursor) =>
      if (name == "lineitem" && !healed) (401, Nil, None)
      else {
        val rows = payloads(name)
        val start = cursor.map(_.toInt).getOrElse(0)
        val page = rows.slice(start, start + PageSize)
        val next = if (start + PageSize < rows.size)
          Some((start + PageSize).toString) else None
        (200, page, next)
      }
    val tmp = java.nio.file.Files.createTempDirectory("graft_q221")
    try q221Body(s, tmp, D, fetchFor, () => healed = true)
    finally graft.operators.Upsert.rmTree(tmp.toFile)
  }

  private def q221Body(s: SparkSession, tmp: java.nio.file.Path, D: String,
                       fetchFor: String => LandingJob.RowFetch,
                       heal: () => Unit): DataFrame = {
    import s.implicits._
    val cfg = LandingJob.Config("landing_q221", "orders",
      s"$tmp/landing", s"$tmp/coverage")
    val dsO = LandingJob.Dataset("orders", q221OrdersSchema, Seq("o_orderkey"))
    val dsL = LandingJob.Dataset("lineitem", q221LineitemSchema, Seq("l_rowid"))
    val dsC = LandingJob.Dataset("customer", q221CustomerSchema, Seq("c_custkey"))
    val dsE = LandingJob.Dataset("events", q221EventsSchema, Seq("event_id"))
    val all = Seq(dsO, dsL, dsC, dsE)
    val plane = new Plane(s, tmp, cfg)
    def schedule(entries: Seq[(LandingJob.Dataset, Seq[String])]): Unit =
      require(plane.land(entries.map { case (ds, dd) =>
        LandingJob.Scheduled(ds, fetchFor(ds.name), dd) }).nonEmpty,
        "schedule ran nothing")
    val outRoot = s"$tmp/refresh"
    def refresh(version: String) =
      DailyRefreshJob.runProductionRefresh(s, plane.lock, plane.runs, cfg,
        dsO, dsL, dsC, dsE, D, outRoot, version)
    // pass 1: lineitem 401s; the other three land anyway
    schedule(all.map(_ -> Seq(D)))
    // the production refresh must BLOCK on the uncovered input
    require(refresh("vb").isLeft,
      "refresh must block while an input dataset is unlanded")
    // cross-dataset catch-up plans EXACTLY the lineitem heal
    val calendar = Seq(D).map(java.sql.Date.valueOf).toDF("day")
      .withColumn("is_business_day", lit(true))
    val plan = LandingJob.scheduleCatchUp(s, cfg, all.map(_.name),
      calendar, "day", java.sql.Date.valueOf(D), 0, 100)
    require(plan == Seq("lineitem" -> Seq(D)),
      s"catch-up planned $plan, expected the lineitem heal")
    heal()
    schedule(plan.map { case (n, dd) =>
      all.find(_.name == n).get -> dd })
    // the blocked refresh reclaims and runs the REAL derived chain
    val out = refresh("vh")
      .fold(r => sys.error(s"healed refresh rejected: $r"), identity)
    require(out.forall(_.error.isEmpty), out.toString)
    // the gate output: the PUBLISHED flagship snapshot (scratch is
    // deleted in the caller's finally)
    Materialize.sorted(s.read.parquet(graft.operators.Upsert
        .resolvePublished(s"$outRoot/stock_metrics").get), col("c_custkey"))
  }

  // ---------------------------------------------------------------- q222

  private[graft] val q222Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("target_date", StringType, nullable = false),
    StructField("published_date", StringType, nullable = false),
    StructField("value", LongType, nullable = false)))

  /** q222 — the SLIDING-WINDOW corrections sync (cron C), oracle-gated:
    * the reference's weekly re-pull re-fetches the last N days and
    * upserts with `published_date` IN the key, so a correction or
    * re-publication lands as a NEW first-class row next to the
    * original instead of overwriting it (`cron-c.ts:29-60`,
    * `investor-types.ts:19` — ON_CONFLICT includes published_date),
    * and re-pulling an already-SUCCESS day is the designed behavior
    * (stale-success reclaim), not an anomaly.
    *
    * Two windowed passes over the 6 oldest order dates: pass 1 pulls
    * the window [d1..d4] (corrections published by d4 land — only the
    * earliest periods' ones), the clock advances past the
    * success-stale threshold, pass 2 SLIDES the window to [d3..d6]
    * (the overlap re-lands idempotently via the keyed upsert; the
    * newly published corrections for d3/d4 appear; d5/d6 land fresh).
    * A correction for period dᵢ is synthesized deterministically for
    * ids divisible by 5, published at dᵢ₊₂ with value + 7.
    *
    * The gate output is the bitemporal per-period state: total version
    * rows, corrected-row count, the LATEST-published sum (corrections
    * supersede) and the FIRST-published sum (the original vintage
    * stays readable — the PIT property q06/q33 query). DuckDB derives
    * the same state from the source rows and the publication algebra
    * directly — a correction that overwrote its original, a re-pull
    * that duplicated rows, a window that leaked future publications,
    * or a success day that refused its re-pull all break equality. */
  def q222CorrectionsWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("id"),
        to_date(col("o_orderdate")).as("d"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val dates = o.select(col("d")).distinct().orderBy(col("d"))
      .limit(6).as[java.sql.Date].collect().toSeq.map(_.toString)
    val byDate: Map[String, IndexedSeq[(Long, Long)]] = o
      .filter(col("d").isin(dates: _*))
      .select(col("id"), col("d").cast("string"), col("cents"))
      .as[(Long, String, Long)].collect().toIndexedSeq
      .groupBy(_._2).map { case (k, v) =>
        k -> v.map(t => (t._1, t._3)).sortBy(_._1) }
    // period i (0-based) corrects at publication date i+2 — beyond the
    // 6-date universe (i >= 4) nothing is ever published
    def corrections(i: Int): IndexedSeq[(Long, String, Long)] =
      if (i + 2 >= dates.length) IndexedSeq.empty
      else byDate.getOrElse(dates(i), IndexedSeq.empty)
        .collect { case (id, c) if id % 5 == 0 =>
          (id, dates(i + 2), c + 7) }
    @volatile var baseIdx = 0 // the pass's "today": publications visible
    val PageSize = 50
    val fetch: LandingJob.RowFetch = (date, cursor) => {
      val i = dates.indexOf(date)
      val orig = byDate.getOrElse(date, IndexedSeq.empty)
        .map { case (id, c) => Row(id, date, date, c) }
      val corr = corrections(i)
        .filter { case (_, pub, _) => dates.indexOf(pub) <= baseIdx }
        .map { case (id, pub, v) => Row(id, date, pub, v) }
      val rows = orig ++ corr
      val start = cursor.map(_.toInt).getOrElse(0)
      val page = rows.slice(start, start + PageSize)
      val next = if (start + PageSize < rows.size)
        Some((start + PageSize).toString) else None
      (200, page, next)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_q222")
    try q222Body(s, tmp, dates, fetch, i => baseIdx = i)
    finally graft.operators.Upsert.rmTree(tmp.toFile)
  }

  private def q222Body(s: SparkSession, tmp: java.nio.file.Path,
                       dates: Seq[String],
                       fetch: LandingJob.RowFetch,
                       setBase: Int => Unit): DataFrame = {
    val cfg = LandingJob.Config("landing_q222", "corrections",
      s"$tmp/landing", s"$tmp/coverage",
      successStaleAfterSec = Some(1)) // a SUCCESS day re-pulls freely
    // published_date rides IN the key: the correction is a sibling row
    val ds = LandingJob.Dataset("corrections", q222Schema,
      Seq("id", "published_date"))
    val plane = new Plane(s, tmp, cfg)
    def pull(windowDates: Seq[String]): Unit = {
      val rs = plane.land(Seq(LandingJob.Scheduled(ds, fetch, windowDates)))
      require(rs.forall(_._2.status == "success"), rs.toString)
    }
    setBase(3)
    pull(dates.slice(0, 4)) // window [d1..d4]
    // visibility invariant: nothing published after d4 may be on disk
    val early = LandingJob.readLanding(s, cfg.landingRoot, ds).get
      .filter(col("published_date") > lit(dates(3))).count()
    require(early == 0L,
      s"pass 1 landed $early rows published after its base date")
    plane.now += 10_000L // past the success-stale threshold: re-pull allowed
    setBase(5)
    pull(dates.slice(2, 6)) // the SLID window [d3..d6]
    val manifest = LandingJob.readLedger(s, cfg.coverageRoot, Seq(ds.name),
        dates.map(java.sql.Date.valueOf))
      .select(col("target_date"), col("status"))
    val landed = LandingJob.readLanding(s, cfg.landingRoot, ds).get
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("target_date"), col("id"))
      .orderBy(col("published_date"))
    val versioned = landed
      .withColumn("vfirst", first(col("value")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("vlast", last(col("value")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .withColumn("rn", row_number().over(w))
    Materialize.sorted(versioned
      .groupBy(col("target_date"))
      .agg(count(lit(1)).as("n_versions"),
        count(when(col("published_date") =!= col("target_date"), 1))
          .as("n_corrected"),
        sum(when(col("rn") === 1, col("vlast"))).cast("long")
          .as("sum_latest"),
        sum(when(col("rn") === 1, col("vfirst"))).cast("long")
          .as("sum_first"))
      .join(manifest, Seq("target_date")), col("target_date"))
  }

  /** DuckDB derives the bitemporal end-state from orders + the
    * publication algebra directly: all six periods carry their
    * originals; periods ranked 1–4 additionally carry a correction
    * (value + 7) for every id divisible by 5 — published at rank+2,
    * which the two sliding windows make fully visible by the second
    * pass — and the latest-published sum supersedes exactly those. */
  val oracleQ222: String =
    """WITH d6 AS (
      |  SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM (
      |    SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
      |    FROM orders ORDER BY d LIMIT 6)
      |), src AS (
      |  SELECT d6.d AS target_date, d6.rn,
      |         CAST(o_orderkey AS BIGINT) AS id,
      |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |         (o_orderkey % 5 = 0 AND d6.rn <= 4) AS corrected
      |  FROM orders JOIN d6 ON CAST(o_orderdate AS DATE) = d6.d
      |)
      |SELECT target_date,
      |       CAST(COUNT(*) + SUM(CASE WHEN corrected THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_versions,
      |       CAST(SUM(CASE WHEN corrected THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_corrected,
      |       CAST(SUM(CASE WHEN corrected THEN cents + 7 ELSE cents END)
      |         AS BIGINT) AS sum_latest,
      |       CAST(SUM(cents) AS BIGINT) AS sum_first,
      |       'success' AS status
      |FROM src
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** DuckDB replays the q10 stock-metrics oracle over the SAME slices
    * directly: the landed-table refresh must be indistinguishable from
    * computing on the source rows. Built from [[graft.analytics
    * .ScreenMetrics.oracle]] verbatim with the base tables swapped for
    * slice CTEs (3 oldest order dates, their lineitems, their
    * customers), so the two gates can never drift apart. */
  val oracleQ221: String = {
    val base = graft.analytics.ScreenMetrics.oracle
    require(base.startsWith("WITH ranked AS ("), "q10 oracle shape moved")
    // each replacement must hit exactly the sites counted here — a
    // reshaped q10 oracle fails loudly instead of gating the wrong SQL
    def subst(sql: String, from: String, to: String, n: Int): String = {
      require(sql.sliding(from.length).count(_ == from) == n,
        s"expected $n sites for '$from' in the q10 oracle")
      sql.replace(from, to)
    }
    val sliced = subst(subst(subst(base.stripPrefix("WITH "),
      "FROM orders", "FROM orders2", 2),
      "JOIN lineitem ON", "JOIN lineitem2 ON", 1),
      "JOIN customer c ON", "JOIN customer2 c ON", 1)
    """WITH d3 AS (
      |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
      |  FROM orders ORDER BY d LIMIT 3
      |), orders2 AS (
      |  SELECT * FROM orders
      |  WHERE CAST(o_orderdate AS DATE) IN (SELECT d FROM d3)
      |), lineitem2 AS (
      |  SELECT * FROM lineitem
      |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders2)
      |), customer2 AS (
      |  SELECT * FROM customer
      |  WHERE c_custkey IN (SELECT o_custkey FROM orders2)
      |), """.stripMargin + sliced
  }

  /** DuckDB replays the data path directly: the same 6 dates, the same
    * per-date aggregates over the source rows, `success` everywhere —
    * any date the pipeline failed to heal, any page it dropped, any
    * partition it clobbered breaks row/hash equality. */
  val oracleQ219: String =
    """WITH d6 AS (
      |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
      |  FROM orders ORDER BY d LIMIT 6
      |)
      |SELECT CAST(o_orderdate AS DATE) AS target_date,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS BIGINT) AS sum_cents,
      |       MIN(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS min_cents,
      |       MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |         AS max_cents,
      |       'success' AS status
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) IN (SELECT d FROM d6)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin
}
