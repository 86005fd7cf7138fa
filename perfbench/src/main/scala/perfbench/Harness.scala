package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.jobs.{DailyRefreshJob, LandingJob}
import graft.operators.Upsert
import graft.sources.{Ingest, JobLock, RunLedger}

/** One benchmark run in one JVM: `Harness <config.json> <result.json>`.
  *
  * The config (written by run.py) names the workload, the staged inputs
  * and the pass budget. The harness times set-up, runs a cold pass and
  * then steady passes until the budget is spent, and writes every raw
  * measurement -- spans, listener job rows, failures, output locations --
  * to the result file. run.py turns those into metrics and checks the
  * outputs. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final class Ctx(val spark: SparkSession, val cfg: JsonNode,
                  val tracer: Tracer, val work: String) {
    val fails = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val out = mutable.LinkedHashMap.empty[String, Any]
    def str(k: String): String = cfg.get(k).asText()
    def int(k: String): Int = cfg.get(k).asInt()
    def strs(k: String): Seq[String] =
      cfg.get(k).elements().asScala.map(_.asText()).toSeq
    /** Count one operation; record it as failed unless `ok`. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) fails += what
    }
    def inputs: String = str("inputs")
  }

  /** A workload: timed set-up, then one pass at a time. */
  trait Workload {
    def setup(c: Ctx): Unit = ()
    /** Untimed preparation of pass `i`'s starting state. */
    def prepare(c: Ctx, i: Int): Unit = ()
    def pass(c: Ctx, i: Int): Unit
    /** Root of what pass `i` wrote (sizes are measured there). */
    def sinkRoots(c: Ctx, i: Int): Seq[String]
    /** Drop pass `i`'s output once a later pass exists. */
    def discard(c: Ctx, i: Int): Unit = sinkRoots(c, i).foreach(rm)
  }

  def rm(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) {
      val paths = Files.walk(f.toPath)
      try paths.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally paths.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val launchMs = args(2).toDouble
    val cfg = mapper.readTree(new File(args(0)))
    val cores = cfg.get("cores").asInt()
    val work = cfg.get("work").asText()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    val c = new Ctx(spark, cfg, tracer, work)
    c.out("session_s") = (Clock.ms - launchMs) / 1e3
    val wl: Workload = cfg.get("workload").asText() match {
      case "nightly_refresh" => Nightly
      case "daily_cycle" => Cycle
    }
    val traced = cfg.get("trace").asBoolean()
    val listener = new JobListener
    try {
      c.out("verify_s") = (0 until c.int("setup_reps")).map(_ => verifyInputs(c))
      wl.setup(c)
      run(c, wl, traced, listener)
    } catch {
      case e: Throwable =>
        c.fails += s"run aborted: $e"
        c.attempted += 1
        e.printStackTrace()
    }
    c.out("attempted") = c.attempted
    c.out("fails") = c.fails.toSeq
    c.out("spans") = tracer.spans.toSeq.map(s =>
      Seq(s.id, s.name, s.parent, s.trace, s.tag, s.start, s.end))
    if (traced) c.out("jobs") = listener.dump(spark.sparkContext)
    c.out("rss_hwm_kb") = vmHwmKb()
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(c.out))
    spark.stop()
  }

  /** Cold pass, then steady passes until `seconds` have passed (at
    * least `min_passes` in all, at most `max_passes`). Every pass does
    * the same work, so the pass count changes only the sample count. In
    * a traced run the steady passes alternate untraced / traced, so one
    * run gives the per-layer numbers and the tracing overhead. */
  private def run(c: Ctx, wl: Workload, traced: Boolean,
                  listener: JobListener): Unit = {
    val sc = c.spark.sparkContext
    val budgetEnd = Clock.ms + c.int("seconds") * 1e3
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (i < c.int("min_passes") ||
           (Clock.ms < budgetEnd && i < c.int("max_passes"))) {
      val tracedPass = traced && i > 0 && i % 2 == 0
      var peakStorage = 0L
      if (tracedPass) {
        sc.addSparkListener(listener)
        c.tracer.onClose = () => peakStorage = math.max(peakStorage,
          sc.getRDDStorageInfo.map(_.memSize).sum)
      }
      wl.prepare(c, i)
      c.tracer.newTrace(i)
      val t0 = Clock.ms
      val cpuS = Clock.cpuOf(c.tracer("pass")(wl.pass(c, i)))
      val t1 = Clock.ms
      if (tracedPass) {
        org.apache.spark.BenchBus.drain(sc)
        sc.removeSparkListener(listener)
        c.tracer.onClose = () => ()
      }
      val (files, bytes) = wl.sinkRoots(c, i).map(du).foldLeft((0L, 0L)) {
        case ((f, b), (f2, b2)) => (f + f2, b + b2) }
      val leftRdds = sc.getPersistentRDDs.size
      passes += Map("i" -> i, "start_ms" -> t0, "end_ms" -> t1,
        "traced" -> tracedPass, "cpu_s" -> cpuS, "sink_files" -> files, "sink_bytes" -> bytes,
        "rdds_left" -> leftRdds, "peak_storage_bytes" -> peakStorage)
      // harness cleanup between passes: nothing cached carries over, and
      // each pass starts from a collected heap with the context cleaner's
      // shuffle/broadcast removals already done
      c.spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      if (i > 0) wl.discard(c, i - 1)
      System.gc()
      Thread.sleep(300)
      i += 1
    }
    c.out("passes") = passes.toSeq
  }

  /** Staged inputs hold the row counts the generator reported (parquet
    * footers or JSON lines; no Spark job). Returns the CPU seconds. */
  private def verifyInputs(c: Ctx): Double = Clock.cpuOf {
    val conf = c.spark.sparkContext.hadoopConfiguration
    c.cfg.get("expected_rows").fields().asScala.foreach { e =>
      val base = s"${c.inputs}/${e.getKey}"
      val n =
        if (new File(s"$base.jsonl").exists()) {
          val lines = Files.lines(Paths.get(s"$base.jsonl"))
          try lines.count() finally lines.close()
        } else {
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(s"$base.parquet"), conf))
          try reader.getRecordCount finally reader.close()
        }
      c.check(n == e.getValue.asLong(),
        s"staged ${e.getKey}: $n rows, generator wrote ${e.getValue}")
    }
  }

  /** Copy a directory tree (plain file copies, no Spark job). */
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val paths = Files.walk(src)
    try paths.iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally paths.close()
  }

  /** Files and bytes under a directory tree. */
  def du(root: String): (Long, Long) = {
    val f = new File(root)
    if (!f.exists()) (0L, 0L)
    else {
      val paths = Files.walk(f.toPath)
      try paths.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally paths.close()
    }
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  // ------------------------------------------------------------ workloads

  /** The production refresh DAG, its default eight stages, over the
    * staged tables. Each stage thunk is wrapped only to open its span;
    * the span closes when DailyRefreshJob reports the stage done. */
  object Nightly extends Workload {
    val layer: Map[String, String] = Map(
      "screen_metrics" -> "analytics.screen_metrics",
      "technical_snapshot" -> "analytics.technical_snapshot",
      "market_breadth" -> "queries.market_breadth",
      "market_breadth_full" -> "queries.market_breadth_full",
      "per_bands" -> "queries.per_bands",
      "market_indicators" -> "queries.market_indicators",
      "factor_vectors" -> "queries.factor_vectors",
      "neardup_pairs" -> "queries.neardup_pairs")
    val query: Map[String, String] = Map(
      "screen_metrics" -> "q10_screen_metrics",
      "technical_snapshot" -> "q31_technical_snapshot",
      "market_breadth" -> "q19_breadth",
      "market_breadth_full" -> "q42_market_breadth",
      "per_bands" -> "q43_per_bands",
      "market_indicators" -> "q38_columngroup_merge",
      "factor_vectors" -> "q25_factor_vectors",
      "neardup_pairs" -> "q15_neardup_pairs")

    /** The corpus programs the refresh chain does not run (it runs q15). */
    val corpus: Seq[(String, String)] = Seq(
      "q211_exact_substr" -> "queries.exact_substr",
      "q209_corpus_suffix_rank" -> "queries.corpus_suffix_rank",
      "q112_lev_pairs" -> "queries.lev_pairs")

    def root(c: Ctx, i: Int) = s"${c.work}/refresh/p$i"
    def sinkRoots(c: Ctx, i: Int) = Seq(root(c, i))

    def pass(c: Ctx, i: Int): Unit = {
      val open = mutable.Map.empty[String, Span]
      val stages = DailyRefreshJob.defaultStages(c.spark, c.inputs).map {
        case (name, mk) => name -> (() => {
          open(name) = c.tracer.begin(layer(name))
          mk()
        })
      }
      val results = c.tracer("jobs.refresh_run") {
        DailyRefreshJob.run(c.spark, c.inputs, root(c, i), s"v$i",
          stages = Some(stages),
          afterStage = r => open.remove(r.name).foreach(c.tracer.end))
      }
      results.foreach(r => c.check(r.error.isEmpty,
        s"pass $i stage ${r.name}: ${r.error.getOrElse("")}"))
      c.check(results.size == layer.size,
        s"pass $i ran ${results.size} stages")
      val corpusOut = corpus.map { case (q, span) =>
        val dir = s"${root(c, i)}/corpus/$q"
        val ok = scala.util.Try(c.tracer(span) {
          SparkEntry.queries(q)(c.spark, c.inputs).write.parquet(dir)
        })
        c.check(ok.isSuccess, s"pass $i $q: ${ok.failed.toOption.getOrElse("")}")
        q -> dir
      }
      c.out("outputs") = results.map(r => query(r.name) ->
        Upsert.resolvePublished(s"${root(c, i)}/${r.name}").getOrElse("")).toMap ++
        corpusOut
      c.out("oracle") = (query.values ++ corpus.map(_._1))
        .map(q => q -> SparkEntry.oracleSql(q)).toMap
    }
  }

  // ------------------------------------------------------------- landing

  val schemas: Map[String, StructType] = Map(
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType, nullable = false),
      StructField("o_totalprice", DoubleType, nullable = false),
      StructField("o_orderdate", StringType, nullable = false),
      StructField("target_date", StringType, nullable = false))),
    "lineitem" -> StructType(Seq(
      StructField("l_rowid", LongType, nullable = false),
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_quantity", DoubleType, nullable = false),
      StructField("l_extendedprice", DoubleType, nullable = false),
      StructField("l_discount", DoubleType, nullable = false),
      StructField("target_date", StringType, nullable = false))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType, nullable = false),
      StructField("c_mktsegment", StringType, nullable = false),
      StructField("c_acctbal", DoubleType, nullable = false),
      StructField("target_date", StringType, nullable = false))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("value", DoubleType, nullable = false),
      StructField("target_date", StringType, nullable = false))))
  val datasetOrder = Seq("orders", "lineitem", "customer", "events")
  val datasets: Map[String, LandingJob.Dataset] = datasetOrder.map { ds =>
    // the first column of each schema is the dataset's key
    ds -> LandingJob.Dataset(ds, schemas(ds), Seq(schemas(ds).fields.head.name))
  }.toMap
  val PageSize = 1000
  val JobName = "landing_bench"

  /** The synthetic paginated API: serves the staged payload rows per
    * (dataset, date) in 1000-row pages, answers 401 for the planted
    * unauthorized dataset-dates while `authFailures` is on, and 429 a
    * planted number of times before serving a throttled one. */
  final class Api(c: Ctx) {
    val rows: Map[(String, String), IndexedSeq[Row]] = datasetOrder.flatMap { ds =>
      val fields = schemas(ds).fields
      val lines = Files.readAllLines(Paths.get(s"${c.inputs}/$ds.jsonl")).asScala
      lines.map { line =>
        val n = mapper.readTree(line)
        Row.fromSeq(fields.map { f =>
          val v = n.get(f.name)
          f.dataType match {
            case LongType => v.asLong()
            case DoubleType => v.asDouble()
            case TimestampType => java.sql.Timestamp.valueOf(v.asText())
            case _ => v.asText()
          }
        }.toSeq)
      }.toIndexedSeq.groupBy(_.getString(fields.length - 1)).toSeq
        .map { case (d, rs) => (ds, d) -> rs }
    }.toMap
    private val unauthorized = c.strs("unauthorized").toSet
    private val throttlePlan: Map[String, Int] = c.cfg.get("throttled").fields()
      .asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
    var authFailures = false
    var calls = 0L
    var useful = 0L
    var selfMs = 0.0
    private val throttleLeft = mutable.Map.empty[String, Int]

    def startPass(): Unit = {
      authFailures = true
      throttleLeft.clear(); throttleLeft ++= throttlePlan
      calls = 0; useful = 0; selfMs = 0.0
    }

    def fetchFor(ds: String): LandingJob.RowFetch = (date, cursor) =>
      c.tracer("sources.fetch", s"$ds/$date") {
        val t0 = Clock.ms
        val cell = s"$ds/$date"
        calls += 1
        val res =
          if (authFailures && unauthorized(cell)) (401, Nil, None)
          else if (throttleLeft.getOrElse(cell, 0) > 0) {
            throttleLeft(cell) -= 1
            (429, Nil, None)
          } else {
            val all = rows.getOrElse((ds, date), IndexedSeq.empty)
            val start = cursor.map(_.toInt).getOrElse(0)
            val next = if (start + PageSize < all.size)
              Some((start + PageSize).toString) else None
            useful += 1
            (200, all.slice(start, start + PageSize), next)
          }
        selfMs += Clock.ms - t0
        res
      }
  }

  /** Landing control state for one landing root, on a virtual clock:
    * the token bucket and the retry backoff advance it instead of
    * sleeping, so `vnow` is the wait the real API would impose. */
  final class Plane(c: Ctx, val root: String) {
    var vnow = 0L
    val cfg = LandingJob.Config(JobName, "orders", s"$root/landing",
      s"$root/coverage")
    val lock = new JobLock(Paths.get(s"$root/locks"))
    private var runSeq = 0
    // sequential run ids (not random UUIDs): the coverage ledger stores
    // them, so a fixed seed then writes the same bytes on every run
    val runs = new RunLedger(nowMs = () => vnow,
      newId = () => { runSeq += 1; f"run-$runSeq%08d" })
    val bucket = new Ingest.TokenBucket(requestsPerMinute = 60,
      minIntervalMs = 1000L, nowMs = () => vnow, sleepMs = vnow += _)

    def schedule(api: Api, entries: Seq[(String, Seq[String])])
        : Seq[(String, LandingJob.DateResult)] =
      LandingJob.runSchedule(c.spark, lock, runs, cfg,
        entries.map { case (ds, dd) =>
          LandingJob.Scheduled(datasets(ds), api.fetchFor(ds), dd) },
        bucket, retrySleepMs = vnow += _, nowMs = () => vnow)
        .fold(r => sys.error(s"schedule rejected: $r"), identity)

    def claimJob(ds: String): String =
      if (ds == cfg.dataset) JobName else s"$JobName:$ds"

    def succeeded(ds: String, date: String): Boolean =
      runs.run(claimJob(ds), date).exists(_.status == "success")
  }

  /** Land `day` for every dataset with the planted 401s and 429s,
    * plan the catch-up from the coverage ledger, check it names exactly
    * the planted 401s, and re-land those. */
  private def landAndHeal(c: Ctx, api: Api, plane: Plane, i: Int,
                          day: String): Unit = {
    val planted = c.strs("unauthorized").toSet
    val dates = Seq(day)
    api.startPass()
    val first = c.tracer("jobs.land_schedule") {
      plane.schedule(api, datasetOrder.map(_ -> dates))
    }
    first.foreach { case (ds, r) =>
      val want = if (planted(s"$ds/${r.date}")) "failed" else "success"
      c.check(r.status == want, s"pass $i first land $ds/${r.date}: " +
        s"${r.status} (want $want) ${r.error.getOrElse("")}")
    }
    val calendar = c.spark.createDataFrame(
      dates.map(d => Row(java.sql.Date.valueOf(d), true)).asJava,
      StructType(Seq(StructField("day", DateType),
        StructField("is_business_day", BooleanType))))
    val plan = c.tracer("jobs.catchup_plan") {
      LandingJob.scheduleCatchUp(c.spark, plane.cfg, datasetOrder, calendar,
        "day", java.sql.Date.valueOf(day), 2, 1000)
    }
    val want = datasetOrder.map(ds => ds -> dates.filter(d => planted(s"$ds/$d")))
      .filter(_._2.nonEmpty)
    c.check(plan == want, s"pass $i catch-up planned $plan, planted $want")
    api.authFailures = false
    val healed = c.tracer("jobs.heal")(plane.schedule(api, plan))
    healed.foreach { case (ds, r) =>
      c.check(r.status == "success", s"pass $i heal $ds/${r.date}: ${r.status}")
    }
    val cells = for (ds <- datasetOrder; d <- dates) yield (ds, d)
    cells.foreach { case (ds, d) =>
      c.check(plane.succeeded(ds, d), s"pass $i $ds/$d not at success after heal")
    }
  }

  /** Daily cycle: one business day D landed onto a pre-landed history
    * -- land D for all four datasets (planted 401s and 429s), heal
    * through the catch-up plan, then the production refresh of D over
    * the full landed history. The pass is D's land-to-publish time.
    * Every pass starts from a fresh copy of the same history, so every
    * pass does the same work. */
  object Cycle extends Workload {
    var api: Api = _
    var history: String = _
    var plane: Plane = _
    def root(c: Ctx, i: Int) = s"${c.work}/cycle/p$i"
    def outRoot(c: Ctx, i: Int) = s"${root(c, i)}/refresh"
    def sinkRoots(c: Ctx, i: Int) =
      Seq(s"${root(c, i)}/landing", s"${root(c, i)}/coverage", outRoot(c, i))
    override def discard(c: Ctx, i: Int): Unit = rm(root(c, i))

    override def setup(c: Ctx): Unit = {
      val reps = 0 until c.int("setup_reps")
      c.out("api_load_s") = reps.map(_ => Clock.cpuOf { api = new Api(c) })
      val days = c.strs("history_dates").toSet
      val lands = reps.map { r =>
        val root = s"${c.work}/cycle/h$r"
        val cpu = Clock.cpuOf(c.tracer("harness.history_land") {
          datasetOrder.foreach { ds =>
            val rows = api.rows.collect {
              case ((d, day), rs) if d == ds && days(day) => rs
            }.flatten.toSeq
            c.spark.createDataFrame(rows.asJava, schemas(ds))
              .withColumn("target_date", to_date(col("target_date")))
              .write.partitionBy("target_date")
              .parquet(s"$root/landing/data_$ds")
          }
        })
        (root, cpu)
      }
      lands.init.foreach { case (root, _) => rm(root) }
      c.out("history_land_s") = lands.map(_._2)
      history = lands.last._1
    }

    override def prepare(c: Ctx, i: Int): Unit = {
      copyTree(s"$history/landing", s"${root(c, i)}/landing")
      plane = new Plane(c, root(c, i))
    }

    def pass(c: Ctx, i: Int): Unit = {
      val day = c.str("day")
      landAndHeal(c, api, plane, i, day)
      val out = c.tracer("jobs.production_refresh") {
        DailyRefreshJob.runProductionRefresh(c.spark, plane.lock, plane.runs,
          plane.cfg, datasets("orders"), datasets("lineitem"),
          datasets("customer"), datasets("events"), day, outRoot(c, i), s"v$i")
      }
      c.check(out.isRight, s"day $day refresh: ${out.left.getOrElse("")}")
      out.foreach(_.foreach(r => c.check(r.error.isEmpty,
        s"day $day stage ${r.name}: ${r.error.getOrElse("")}")))
      c.out(s"sources_p$i") = Map("fetch_calls" -> api.calls,
        "useful_pages" -> api.useful, "virtual_wait_s" -> plane.vnow / 1e3,
        "fetch_self_s" -> api.selfMs / 1e3,
        "claims" -> datasetOrder.count(plane.succeeded(_, day)))
      c.out("landing_root") = plane.cfg.landingRoot
      c.out("landed_dates") = c.strs("history_dates") :+ day
    }
  }
}
