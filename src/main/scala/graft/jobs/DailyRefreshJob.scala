package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.ScreenMetrics
import graft.operators.Upsert
import graft.queries.{AnalyticsQueries, TextQueries}

/** The cron-A daily pipeline re-expressed as one DataFrame DAG
  * (SURVEY §3.1: target resolution → fetch → transform → sink →
  * derived-refresh chain, `scripts/cron/cron-a-direct.ts:115-147`).
  *
  * Each derived stage reads only tables written by earlier stages; every
  * write is staged, then published by a directory move and a pointer flip
  * ([[Upsert.stageSnapshot]]) so a crash mid-chain never exposes a
  * partial snapshot — the reference's `_PUBLISHED`-marker discipline
  * (refresh-technical.ts:181-196). Re-running a stage with the same
  * inputs replaces the same version directory: the job is idempotent
  * end-to-end.
  *
  * The continue-on-error chain semantics of cron-a.yml are preserved:
  * each stage is attempted independently and failures are reported, not
  * cascaded.
  */
object DailyRefreshJob {

  final case class StageResult(name: String, rows: Long,
                               error: Option[String])

  /** The production chain: each stage reads only tables written by
    * earlier stages (or the snapshot dir). */
  def defaultStages(spark: SparkSession, sfDir: String)
      : Seq[(String, () => DataFrame)] = Seq(
      "screen_metrics" -> (() => ScreenMetrics.run(spark, sfDir)),
      "technical_snapshot" -> (() =>
        graft.analytics.TechnicalJob.fromEvents(spark, sfDir)),
      "market_breadth" -> (() => AnalyticsQueries.q19Breadth(spark, sfDir)),
      "market_breadth_full" -> (() =>
        graft.queries.Breadth.q42MarketBreadth(spark, sfDir)),
      "per_bands" -> (() => graft.queries.PerBands.q43PerBands(spark, sfDir)),
      "market_indicators" -> (() =>
        AnalyticsQueries.q38ColumnGroupMerge(spark, sfDir)),
      "factor_vectors" -> (() =>
        AnalyticsQueries.q25FactorVectors(spark, sfDir)),
      "neardup_pairs" -> (() => TextQueries.q15NearDupPairs(spark, sfDir)),
    )

  /** Publish gate (refresh-technical.ts:98-112,129-135): an
    * entity-keyed snapshot only publishes when it covers at least this
    * share of the entity universe. */
  private val MinCoverage = 0.8
  private val gatedStages = Set("screen_metrics", "factor_vectors",
    "per_bands")

  /** Run the derived-analytics chain over a testdata snapshot dir,
    * publishing each stage under `outRoot/<stage>/v=<version>`.
    *
    * Each stage is evaluated once, by its write: the rows go into an
    * attempt-scoped staging dir ([[Upsert.stageSnapshot]]) while an
    * observation counts them — no count job, no read-back. An entity-keyed stage then meets the
    * coverage gate — observed rows against the universe count, taken
    * once per run — and a blocked stage's staging dir is deleted, so
    * the published pointer and every `v=*` dir stay as they were. A
    * passing stage runs `publishGuard`, moves the staging dir to
    * `v=<version>`, flips `_PUBLISHED`, and applies `retainVersions`.
    * `StageResult.rows` is the observed count. `afterStage` observes
    * each completed stage — [[runClaimed]] hangs the lease heartbeat
    * there. */
  def run(spark: SparkSession, sfDir: String, outRoot: String,
          version: String,
          stages: Option[Seq[(String, () => DataFrame)]] = None,
          afterStage: StageResult => Unit = _ => (),
          publishGuard: () => Option[String] = () => None,
          retainVersions: Option[Int] = None)
      : Seq[StageResult] = {
    // None = the production chain; Some(Nil) is an honest no-op run (an
    // isEmpty sentinel would silently run all ten default stages on a
    // caller whose dynamically-built list came out empty)
    val chain = stages.getOrElse(defaultStages(spark, sfDir))
    // lazy: only the entity-gated stages need the universe, and custom
    // chains (e.g. landing-derived stages) may run against a root that
    // has no customer table at all
    lazy val universe = graft.Tables.customer(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("c_custkey")).count()
    // once the guard trips (attempt superseded) the chain is DEAD: no
    // later stage may compute, publish, or keep extending the lease — a
    // zombie that walks its remaining stages delays the rightful owner
    // for the whole chain length
    var fenced = false
    chain.map { case (name, mk) =>
      if (fenced)
        // no afterStage: a fenced chain must stop heartbeating the lease
        StageResult(name, -1, Some("skipped: attempt superseded"))
      else {
        val r = try {
          val staged = Upsert.stageSnapshot(mk(), s"$outRoot/$name")
          try {
            if (gatedStages(name)) {
              val got = staged.rows
              if (universe == 0)
                throw new IllegalStateException(
                  "publish blocked: empty universe")
              if (got.toDouble / universe < MinCoverage)
                throw new IllegalStateException(
                  f"publish blocked: coverage ${got.toDouble / universe}%.3f " +
                    f"below $MinCoverage%.2f ($got of $universe entities)")
            }
            // the guard runs IMMEDIATELY before the publish: the stage
            // is computed and staged by now, and a superseded attempt
            // must not move it into place
            publishGuard().foreach { reason =>
              fenced = true
              throw new IllegalStateException(reason)
            }
            // capture the about-to-be-superseded version BY NAME before
            // the flip: mtimes can tie at publish rates below the fs
            // timestamp granularity, and graceKeep's recency sort alone
            // could then prune the version a concurrent reader resolved
            // just before the pointer moved (the publishCoverage rule)
            val prevPublished = Upsert.resolvePublished(s"$outRoot/$name")
              .map(p => new java.io.File(p).getName).toSet
            staged.publish(version)
            // under daily cadence versioned snapshots accumulate one
            // v=* dir per day per stage forever; callers that don't want
            // the full audit history bound retention. Steady state is
            // retain+2 dirs: current + the name-pinned spared previous +
            // graceKeep=N superseded (the spare is IN ADDITION to
            // graceKeep — r16 ADVICE; readers of the just-flipped pointer
            // keep their grace window)
            retainVersions.foreach(n =>
              Upsert.pruneSnapshots(s"$outRoot/$name", graceKeep = n,
                spare = prevPublished))
            StageResult(name, staged.rows, None)
          } finally staged.discard()
        } catch {
          case e: Throwable =>
            StageResult(name, -1,
              Some(Option(e.getMessage).getOrElse(e.toString)))
        }
        if (!fenced) afterStage(r)
        r
      }
    }
  }

  /** Is `targetDate`'s landing marked SUCCESS in the coverage manifest
    * for EVERY dataset in `datasets`? A date whose landing failed (or
    * never ran) has a partition that is stale or absent, and deriving
    * analytics from it would publish wrong snapshots silently. A
    * driver-side probe of the (datasets × targetDate) cells: no Spark
    * job. */
  private[jobs] def landingCovered(cfg: LandingJob.Config,
                                   targetDate: String,
                                   datasets: Seq[String]): Boolean = {
    // distinct (r16 ADVICE): a caller passing the same dataset name
    // twice must not block forever on count < size
    val want = datasets.distinct
    graft.sources.Coverage.readCells(cfg.coverageRoot, want,
        Seq(java.sql.Date.valueOf(targetDate)))
      .count(_.getString(2) == graft.sources.Coverage.Success) == want.size
  }

  /** The PRODUCTION refresh DAG over LANDED tables, and the one gated
    * refresh entry: the real derived stages (the flagship stock-metrics
    * program + the technical-kernel snapshot — the reference cron-A
    * post-step chain, `cron-a-direct.ts:115-147`) computed FROM THE
    * TABLES THE LANDING JOB WROTE. `orders`, `lineitem`, `customer`,
    * `events` are the landed [[LandingJob.Dataset]] specs whose tables
    * carry the testdata column names.
    *
    * Gated on the coverage manifest of EVERY input dataset for
    * `targetDate`: the refresh trusts the MANIFEST, not output presence.
    * A date whose landing is FAILED or absent for any input blocks the
    * whole chain via the claim: the blocked attempt is recorded as a
    * failed run in the shared [[graft.sources.RunLedger]] (visible to
    * monitoring, reclaimable once the landing heals via
    * [[LandingJob.scheduleCatchUp]] → re-land → re-refresh), and no stage
    * runs or publishes. A covered date runs [[runClaimed]].
    *
    * Scale shape: both stages read the landed tables' FULL history
    * (stock metrics ranks the latest-10 orders per entity; technicals
    * fold a 400-bar lookback) — the reference's refresh cost,
    * O(lookback·entities), not O(day). */
  def runProductionRefresh(spark: SparkSession,
                           lock: graft.sources.JobLock,
                           runs: graft.sources.RunLedger,
                           landingCfg: LandingJob.Config,
                           orders: LandingJob.Dataset,
                           lineitem: LandingJob.Dataset,
                           customer: LandingJob.Dataset,
                           events: LandingJob.Dataset,
                           targetDate: String, outRoot: String,
                           version: String,
                           jobName: String = "daily_refresh",
                           ttlSeconds: Long = 600L,
                           runningStaleAfterSec: Option[Long] =
                             Some(3600L))
      : Either[String, Seq[StageResult]] = {
    val datasets = Seq(orders, lineitem, customer, events).map(_.name)
    if (!landingCovered(landingCfg, targetDate, datasets)) {
      val why = s"landing not covered for $targetDate " +
        s"(need ${datasets.mkString(",")})"
      // record the blocked attempt: a failed run row the next scheduled
      // invocation reclaims after the landing catch-up heals the date
      val claim = runs.claim(jobName, targetDate,
        runningStaleAfterSec = runningStaleAfterSec)
      claim.attemptId.foreach(a =>
        runs.complete(claim.runId, a, "failed", Some(why)))
      Left(why)
    } else {
      def landed(ds: LandingJob.Dataset) =
        LandingJob.readLanding(spark, landingCfg.landingRoot, ds)
          .getOrElse(sys.error(s"no landed ${ds.name} table under " +
            landingCfg.landingRoot))
      val stages: Seq[(String, () => DataFrame)] = Seq(
        "stock_metrics" -> (() => ScreenMetrics.fromTables(
          landed(orders), landed(lineitem), landed(customer))),
        "technical_snapshot" -> (() =>
          graft.analytics.TechnicalJob.fromEventsDf(landed(events))))
      runClaimed(spark, lock, runs, targetDate, landingCfg.landingRoot,
        outRoot, version, jobName, ttlSeconds, runningStaleAfterSec,
        stages = Some(stages))
    }
  }

  /** The FULLY composed production entry: lease + per-(job, target_date)
    * run claim + the DAG + terminal run state — the reference cron
    * route's whole discipline in one call (`claim_job_run` before any
    * work, 409 on a held lease, `already_executed` on a date already
    * refreshed, `complete_job_run_attempt` with success iff every stage
    * published; a failed chain leaves a FAILED run that the next
    * scheduled invocation reclaims and retries). The lease guards
    * CONCURRENT starts; the claim guards REPEATED ones — they are
    * different protections and the reference runs both. */
  def runClaimed(spark: SparkSession, lock: graft.sources.JobLock,
                 runs: graft.sources.RunLedger, targetDate: String,
                 sfDir: String, outRoot: String, version: String,
                 jobName: String = "daily_refresh",
                 ttlSeconds: Long = 600L,
                 runningStaleAfterSec: Option[Long] = Some(3600L),
                 stages: Option[Seq[(String, () => DataFrame)]] = None,
                 retainVersions: Option[Int] = None)
      : Either[String, Seq[StageResult]] =
    lock.acquire(jobName, ttlSeconds) match {
      case Left(reason) => Left(reason)
      case Right(token) =>
        try {
          val claim = runs.claim(jobName, targetDate,
            runningStaleAfterSec = runningStaleAfterSec)
          if (!claim.claimed) Left(claim.reason)
          else {
            // PRE-publish fence on every stage (the LandingJob.runOneDate
            // discipline): a stale-reclaimed zombie (paused past
            // runningStaleAfterSec) must stop BEFORE publishing a stage
            // snapshot over the new owner's output, not merely report
            // Left after republishing the whole chain. The probe runs
            // via run()'s publishGuard IMMEDIATELY before each publish
            // (stage DataFrames are lazy, so a probe at stage start
            // would leave the whole compute inside the zombie window);
            // what remains — a hijack during the write itself — is the
            // same optimistic race JobLock's takeover accepts.
            val attempt = claim.attemptId.get
            val out = run(spark, sfDir, outRoot, version, stages,
              afterStage = _ => lock.extend(jobName, token, ttlSeconds),
              publishGuard = () =>
                if (runs.isCurrentAttempt(claim.runId, attempt)) None
                else Some("attempt superseded"),
              retainVersions = retainVersions)
            val failed = out.filter(_.error.isDefined)
            val owned = runs.complete(claim.runId, attempt,
              if (failed.isEmpty) "success" else "failed",
              if (failed.isEmpty) None
              else Some(failed.map(s => s"${s.name}: ${s.error.get}")
                .mkString("; ")))
            // a reclaimed-from attempt must not report its chain as the
            // run of record (the fencing contract)
            if (owned) Right(out) else Left("attempt superseded")
          }
        } finally lock.release(jobName, token)
    }
}
