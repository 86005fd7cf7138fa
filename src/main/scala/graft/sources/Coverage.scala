package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Run-claim ledger + dataset-coverage manifest — the reference's
  * ingestion bookkeeping contract
  * (`supabase/migrations/00085_create_dataset_coverage.sql`):
  *
  *  - `dataset_coverage(dataset, target_date, status, row_count,
  *    error_count, source_observed_at, run_id)` PK (dataset,
  *    target_date), with the status-consistency CHECK: `success` ⟹
  *    error_count = 0 ∧ source_observed_at present; `failed` ⟹
  *    error_count > 0. "success + row_count = 0" is a REAL state: the
  *    source was checked and the day is genuinely empty — catch-up must
  *    NOT retry it (`00085:31-33`).
  *  - `claim_job_run` (`00085:70-214`): one (job, target_date) row claims
  *    the run; a fresh claim writes a FAILED placeholder coverage row
  *    (so a crash mid-run leaves the date visibly uncovered), a retry of
  *    a failed / stale-running / stale-success row reclaims it under a
  *    NEW attempt_id — the fencing token that rejects the old worker's
  *    later writes — and anything else is `already_executed`.
  *  - `complete_job_run_attempt` (`00085:263-283`): only the CURRENT
  *    attempt of a RUNNING row may finish it.
  *  - `job_heartbeat`: last_seen/status per job, updated at claim and
  *    completion.
  *
  * Split Spark-first: the run claim/heartbeat is driver-side control
  * state (like [[JobLock]] — a handful of rows, never a distributed
  * dataset) in [[RunLedger]], and so is catch-up planning: the window's
  * business days and the cells they name are read to the driver, and
  * [[Coverage.catchUp]] keeps the absent-or-failed days. At 100 TB both
  * stay metadata-sized — the ledger has one cell per (dataset, day) and
  * the window is a few dozen days — and the only fact-table touch the
  * composed q218 program makes is one map-side-combined per-day count.
  *
  * The DURABLE manifest is one small file per (dataset, target_date)
  * CELL under a coverage root, `<root>/ds=<enc(dataset)>/<date>.tsv`,
  * holding one URL-encoded TSV line (the [[RunLedger]] cell encoding).
  * [[writeCell]] is the upsert: it writes a uniquely named temp file
  * under `<root>/_tmp/` (same filesystem) and renames it over the cell
  * with `ATOMIC_MOVE` — the cell rename is the ledger's single commit
  * point. A publish touches only its own cell, so writers of different
  * cells never contend, a re-publish of one cell is last-writer-wins,
  * and a writer killed before its rename leaves the previous cell intact
  * (its temp file is never read: readers open cell names only; a
  * landing run's [[sweepTemps]] deletes it later). [[readCells]] reads
  * the cells a (datasets × days) window names, on the driver, without
  * Spark. Like the [[RunLedger]] file and the [[JobLock]] dir, the
  * coverage root is driver-side control state on a filesystem with
  * atomic rename (a local or POSIX-mounted path), not a Hadoop URI.
  */
object Coverage {

  val Success = "success"
  val Failed = "failed"

  /** The 00085 status-consistency CHECK constraint, applied at write
    * time (a manifest row that violates it is a bug in the writer, not
    * data to store). */
  def validate(status: String, rowCount: Long, errorCount: Int,
               sourceObservedAtMs: Option[Long]): Unit = {
    require(status == Success || status == Failed,
      s"invalid coverage status: $status")
    require(rowCount >= 0 && errorCount >= 0,
      s"negative counts: rows=$rowCount errors=$errorCount")
    if (status == Success)
      require(errorCount == 0 && sourceObservedAtMs.nonEmpty,
        "success coverage requires error_count=0 and source_observed_at")
    else
      require(errorCount > 0, "failed coverage requires error_count > 0")
  }

  /** The manifest row schema (`dataset_coverage`'s columns). */
  val ledgerSchema: StructType = StructType(Seq(
    StructField("dataset", StringType, nullable = false),
    StructField("target_date", DateType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("error_count", IntegerType, nullable = false),
    StructField("source_observed_at", LongType, nullable = true),
    StructField("run_id", StringType, nullable = true)))

  /** Where [[stageCell]] writes its temp files, under a coverage root. */
  val TmpDir = "_tmp"

  private def cellPath(root: String, dataset: String,
                       day: java.sql.Date): Path =
    Paths.get(root, "ds=" + RunLedger.enc(dataset), s"$day.tsv")

  /** Upsert one manifest cell: contract-check the row, write it to a
    * uniquely named temp file under `<root>/_tmp/`, and rename that over
    * the cell. */
  def writeCell(root: String, dataset: String, day: java.sql.Date,
                status: String, rowCount: Long, errorCount: Int,
                sourceObservedAtMs: Option[Long],
                runId: Option[String]): Unit =
    Files.move(stageCell(root, dataset, day, status, rowCount, errorCount,
        sourceObservedAtMs, runId), cellPath(root, dataset, day),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

  /** [[writeCell]] up to its rename: the written temp file. A publish
    * killed at this point leaves exactly this file behind. */
  private[graft] def stageCell(root: String, dataset: String,
                               day: java.sql.Date, status: String,
                               rowCount: Long, errorCount: Int,
                               sourceObservedAtMs: Option[Long],
                               runId: Option[String]): Path = {
    validate(status, rowCount, errorCount, sourceObservedAtMs)
    import RunLedger.{enc, optCell}
    Files.createDirectories(cellPath(root, dataset, day).getParent)
    val tmp = Files.createDirectories(Paths.get(root, TmpDir)).resolve(
      s"${enc(dataset)}.$day.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, Seq(enc(dataset), day.toString, status,
      rowCount.toString, errorCount.toString,
      sourceObservedAtMs.map(_.toString).getOrElse("-"),
      optCell(runId)).mkString("\t"))
    tmp
  }

  /** Delete the temp files under `<root>/_tmp/` last modified more than
    * `maxAgeMs` ago. A temp lives for one write and one rename, so one
    * that old was left by a publish killed before its rename. Ages are
    * file mtimes, so they are read against the wall clock. */
  def sweepTemps(root: String, maxAgeMs: Long): Unit = {
    val dir = Paths.get(root, TmpDir)
    if (Files.isDirectory(dir)) {
      val cutoff = System.currentTimeMillis() - maxAgeMs
      val ls = Files.list(dir)
      try ls.forEach { p =>
        // a live writer may rename its temp away between list and stat
        try if (Files.getLastModifiedTime(p).toMillis < cutoff)
          Files.deleteIfExists(p)
        catch { case _: java.nio.file.NoSuchFileException => }
      } finally ls.close()
    }
  }

  /** The manifest rows of the (datasets × days) window, in dataset then
    * day order: one existence probe per named cell and one read per
    * present cell — driver work bounded by the window, whatever the
    * ledger's history. */
  def readCells(root: String, datasets: Seq[String],
                days: Seq[java.sql.Date]): Seq[Row] = {
    import RunLedger.{cellOpt, dec}
    for {
      d <- datasets.distinct
      day <- days.distinct
      p = cellPath(root, d, day)
      if Files.exists(p)
    } yield Files.readString(p).split("\t", -1) match {
      case Array(ds, dt, st, rc, ec, obs, run)
          if dec(ds) == d && dt == day.toString =>
        Row(d, day, st, rc.toLong, ec.toInt,
          if (obs == "-") null else Long.box(obs.toLong),
          cellOpt(run).orNull)
      case _ => throw new IllegalStateException(s"corrupt coverage cell $p")
    }
  }

  /** The business days of `calendar` (its `is_business_day` flag, dates
    * in `calDateCol`) from `lookbackDays` before `today` through `today`.
    * Over a local calendar (`createDataFrame`), Spark answers the filter
    * and the collect on the driver and starts no job. */
  def businessDays(calendar: DataFrame, calDateCol: String,
                   today: java.sql.Date,
                   lookbackDays: Int): Seq[java.sql.Date] = {
    val from = java.sql.Date.valueOf(today.toLocalDate.minusDays(lookbackDays))
    calendar.filter(col("is_business_day") &&
        col(calDateCol).between(lit(from), lit(today)))
      .select(col(calDateCol)).collect().map(_.getDate(0)).toSeq
  }

  /** COVERAGE-driven catch-up, the one planner: per dataset, in the given
    * priority order, the `businessDays` whose manifest cell is ABSENT
    * (never claimed: `missing`) or FAILED (`failed`), oldest first, at
    * most `maxDays` of them. `success` cells — INCLUDING row_count = 0,
    * the explicitly-checked empty day — are covered and never retried.
    * `cells` are manifest rows ([[ledgerSchema]]; [[readCells]] reads
    * them); rows of other datasets or days are ignored. Pure driver
    * work, no Spark job. Returns (dataset, day, reason). */
  def catchUp(cells: Seq[Row], datasets: Seq[String],
              businessDays: Seq[java.sql.Date],
              maxDays: Int): Seq[(String, java.sql.Date, String)] = {
    val status = cells.map(r =>
      (r.getString(0), r.getDate(1).toString) -> r.getString(2)).toMap
    val days = businessDays.distinctBy(_.toString).sortBy(_.toString)
    datasets.distinct.flatMap { ds =>
      days.flatMap { day =>
        status.get((ds, day.toString)) match {
          case None => Some((ds, day, "missing"))
          case Some(Failed) => Some((ds, day, "failed"))
          case Some(_) => None
        }
      }.take(maxDays)
    }
  }
}

/** Driver-side run-claim control state — `jquants_ingest.job_runs` +
  * `job_heartbeat` with the `claim_job_run` / `complete_job_run_attempt`
  * transactional semantics (`00085:70-283`). Like [[JobLock]] this is a
  * handful of control rows, never a distributed dataset; the clock and
  * id source are injected so specs replay exact lifecycles.
  *
  * `persistTo` makes the ledger DURABLE (the reference's job_runs is a
  * DB table that survives process death — which is the whole point of
  * the `stale_running` reclaim: the crashed worker's RUNNING row must
  * still be there for the next incarnation to see and fence out). The
  * state loads at construction and every mutation writes through
  * atomically (temp + ATOMIC_MOVE, the [[JobLock]] discipline), so a
  * new incarnation on the same path resumes the exact claim state: a
  * completed date skips as `already_executed`, a crashed-mid-run date
  * reclaims as `stale_running` once past its threshold, and the dead
  * incarnation's attempt_id can no longer complete anything. Fields are
  * URL-encoded per cell — errors with tabs/newlines round-trip. */
final class RunLedger(nowMs: () => Long = () => System.currentTimeMillis(),
                      newId: () => String =
                        () => java.util.UUID.randomUUID().toString,
                      persistTo: Option[java.nio.file.Path] = None) {

  import RunLedger.{Claim, Health, Heartbeat, Run, cellOpt, dec, enc,
    optCell}

  private val runs =
    scala.collection.mutable.Map[(String, String), Run]()
  private val beats = scala.collection.mutable.Map[String, Heartbeat]()

  // ------------------------------------------------------- persistence

  private def save(): Unit = persistTo.foreach { p =>
    val sb = new StringBuilder
    runs.foreach { case ((job, date), r) =>
      sb.append(Seq("R", enc(job), enc(date), enc(r.runId),
        enc(r.attemptId), r.status, r.startedAtMs.toString,
        r.finishedAtMs.map(_.toString).getOrElse("-"),
        optCell(r.error)).mkString("\t")).append('\n')
    }
    beats.foreach { case (job, h) =>
      sb.append(Seq("H", enc(job), h.lastSeenMs.toString, h.lastStatus,
        enc(h.lastRunId), enc(h.lastTargetDate),
        optCell(h.lastError)).mkString("\t")).append('\n')
    }
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.createDirectories(p.toAbsolutePath.getParent)
    java.nio.file.Files.writeString(tmp, sb.toString)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Re-read the durable state — the FILE is the source of truth, so a
    * zombie incarnation (live object, reclaimed-from on disk) sees the
    * new attempt_id and is fenced out at its next claim/complete, the
    * same server-side check the reference's transactional RPCs make.
    * The read-decide-write window that remains is the same optimistic
    * race [[JobLock]]'s expired takeover accepts. */
  private def load(): Unit = persistTo
    .filter(java.nio.file.Files.exists(_)).foreach { p =>
      runs.clear(); beats.clear()
      java.nio.file.Files.readString(p).split('\n')
        .filter(_.nonEmpty).foreach { line =>
          // limit -1: a trailing empty cell (e.g. an encoded "") must
          // survive the split, or the line reads as corrupt
          line.split("\t", -1) match {
            case Array("R", job, date, runId, att, st, t0, t1, err) =>
              runs((dec(job), dec(date))) = Run(dec(runId), dec(att), st,
                t0.toLong, if (t1 == "-") None else Some(t1.toLong),
                cellOpt(err))
            case Array("H", job, seen, st, runId, date, err) =>
              beats(dec(job)) = Heartbeat(seen.toLong, st, dec(runId),
                dec(date), cellOpt(err))
            case other =>
              throw new IllegalStateException(
                s"corrupt run-ledger line in $p: ${other.mkString("|")}")
          }
        }
    }

  load() // resume a previous incarnation's durable state, if any

  /** Serialize a whole load→decide→save transaction against EVERY other
    * mutator of the same durable file — other instances in this JVM
    * (process-wide monitor keyed by the canonical path) AND other
    * processes (an OS file lock on `<file>.lock`). Without it the save
    * is a whole-file rewrite from THIS instance's maps, and two
    * processes mutating concurrently lose each other's rows even for
    * unrelated (job, date) keys — a vanished RUNNING claim un-fences a
    * zombie; a vanished SUCCESS re-runs a date. The reference gets this
    * for free from Postgres row locks (`00085:70-214` runs inside one
    * transaction); a file substrate has to take the lock explicitly.
    * In-memory ledgers (persistTo = None) have exactly one mutator by
    * construction and skip it. */
  private def withLedgerLock[T](body: => T): T = persistTo match {
    case None => body
    case Some(p) =>
      RunLedger.monitorFor(p).synchronized {
        java.nio.file.Files.createDirectories(p.toAbsolutePath.getParent)
        val lockPath = p.resolveSibling(p.getFileName.toString + ".lock")
        val ch = java.nio.channels.FileChannel.open(lockPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val fl = ch.lock()
          try body finally fl.release()
        } finally ch.close()
      }
  }

  private def beat(jobName: String, status: String, runId: String,
                   targetDate: String, error: Option[String]): Unit =
    // the reference truncates last_error at 1000 chars (heartbeat.ts:58)
    beats(jobName) = Heartbeat(nowMs(), status, runId, targetDate,
      error.map(e => if (e.length > 1000) e.take(1000) + "..." else e))

  /** Claim the (job, target_date) run. Fresh → insert RUNNING under a
    * new run_id+attempt_id (`reason = inserted`). Existing FAILED, or
    * RUNNING past `runningStaleAfterSec`, or SUCCESS past
    * `successStaleAfterSec` → reclaim under the SAME run_id but a NEW
    * attempt_id (the fencing token — the old worker's complete() is
    * rejected from here on). Anything else → not claimed,
    * `already_executed`. */
  def claim(jobName: String, targetDate: String,
            runningStaleAfterSec: Option[Long] = None,
            successStaleAfterSec: Option[Long] = None): Claim =
    synchronized { withLedgerLock {
      runningStaleAfterSec.foreach(v =>
        require(v > 0, "running stale threshold must be positive"))
      successStaleAfterSec.foreach(v =>
        require(v > 0, "success stale threshold must be positive"))
      load() // durable ledgers decide on the FILE's state, not memory
      val key = (jobName, targetDate)
      val now = nowMs()
      runs.get(key) match {
        case None =>
          val r = Run(newId(), newId(), "running", now, None, None)
          runs(key) = r
          beat(jobName, "running", r.runId, targetDate, None)
          save()
          Claim(r.runId, Some(r.attemptId), claimed = true, "inserted")
        case Some(r) =>
          val reason =
            if (r.status == "failed") Some("failed")
            else if (r.status == "running" && runningStaleAfterSec.exists(
              s => r.startedAtMs < now - s * 1000L)) Some("stale_running")
            else if (r.status == "success" && successStaleAfterSec.exists(
              s => r.finishedAtMs.exists(_ < now - s * 1000L)))
              Some("stale_success")
            else None
          reason match {
            case None =>
              Claim(r.runId, None, claimed = false, "already_executed")
            case Some(why) =>
              val r2 = Run(r.runId, newId(), "running", now, None, None)
              runs(key) = r2
              beat(jobName, "running", r.runId, targetDate, None)
              save()
              Claim(r.runId, Some(r2.attemptId), claimed = true, why)
          }
      }
    } }

  /** Finish the run — only the CURRENT attempt of a RUNNING row may
    * (the fencing check, `00085:263-283`): a reclaimed-from worker gets
    * `false` and must not publish. */
  def complete(runId: String, attemptId: String, status: String,
               error: Option[String] = None): Boolean = synchronized {
    require(status == "success" || status == "failed",
      s"invalid terminal job status: $status")
    // Throwable.getMessage is legally null — a Some(null) here must not
    // NPE the ledger (or the heartbeat truncation) mid-failure-handling
    val err = error.map(e => if (e == null) "Unknown error" else e)
    withLedgerLock {
      load() // the attempt-fencing check must see the durable state
      runs.find { case (_, r) => r.runId == runId } match {
        case Some((key @ (jobName, targetDate), r))
            if r.attemptId == attemptId && r.status == "running" =>
          runs(key) = r.copy(status = status,
            finishedAtMs = Some(nowMs()), error = err)
          beat(jobName, status, runId, targetDate, err)
          save()
          true
        case _ => false
      }
    }
  }

  def run(jobName: String, targetDate: String): Option[Run] =
    synchronized { load(); runs.get((jobName, targetDate)) }

  def heartbeat(jobName: String): Option[Heartbeat] =
    synchronized { load(); beats.get(jobName) }

  /** Is (runId, attemptId) still the CURRENT RUNNING attempt? The
    * pre-publish fence probe: a worker about to publish side effects a
    * store cannot roll back (parquet snapshots) checks this first, so
    * a reclaimed-from zombie stops BEFORE overwriting the new owner's
    * output. A window between probe and publish remains — the same
    * optimistic discipline as [[JobLock]]'s takeover; the reference
    * closes it transactionally, a filesystem cannot. */
  def isCurrentAttempt(runId: String, attemptId: String): Boolean =
    synchronized {
      load()
      runs.values.exists(r => r.runId == runId &&
        r.attemptId == attemptId && r.status == "running")
    }

  /** The monitoring contract (`heartbeat.ts:120-153` `isJobHealthy`):
    * a job is unhealthy when it has NO heartbeat record, when its last
    * heartbeat is older than `staleThresholdHours` (default 25 — one
    * daily cycle plus slack), or when its last run FAILED (with the
    * truncated error as the reason). */
  def isJobHealthy(jobName: String,
                   staleThresholdHours: Double = 25.0): Health =
    synchronized {
      load() // the staleness detector must not itself read stale state
      beats.get(jobName) match {
        case None =>
          Health(jobName, healthy = false,
            Some("No heartbeat record found"), None, None)
        case Some(hb) =>
          val hours = (nowMs() - hb.lastSeenMs) / 3600000.0
          if (hours > staleThresholdHours)
            Health(jobName, healthy = false,
              Some(s"Stale: last seen ${hours.toLong} hours ago"),
              Some(hb.lastSeenMs), Some(hb.lastStatus))
          else if (hb.lastStatus == "failed")
            Health(jobName, healthy = false,
              Some(s"Last run failed: ${hb.lastError.getOrElse("Unknown error")}"),
              Some(hb.lastSeenMs), Some(hb.lastStatus))
          else
            Health(jobName, healthy = true, None,
              Some(hb.lastSeenMs), Some(hb.lastStatus))
      }
    }

  /** Fleet health (`heartbeat.ts:155-200` `checkAllJobsHealth`): every
    * named job evaluated; `_1` is the all-healthy conjunction (each
    * [[isJobHealthy]] call reloads the durable state, so a long-lived
    * monitor over a durable ledger sees current heartbeats). */
  def checkAllJobsHealth(jobNames: Seq[String],
                         staleThresholdHours: Double = 25.0)
      : (Boolean, Seq[Health]) = {
    val hs = jobNames.map(isJobHealthy(_, staleThresholdHours))
    (hs.forall(_.healthy), hs)
  }
}

object RunLedger {
  final case class Run(runId: String, attemptId: String, status: String,
                       startedAtMs: Long, finishedAtMs: Option[Long],
                       error: Option[String])
  final case class Heartbeat(lastSeenMs: Long, lastStatus: String,
                             lastRunId: String,
                             lastTargetDate: String,
                             lastError: Option[String])
  /** `claim_job_run`'s RETURNS row: `attemptId` is None exactly when
    * the claim was rejected (`already_executed`). */
  final case class Claim(runId: String, attemptId: Option[String],
                         claimed: Boolean, reason: String)

  final case class Health(jobName: String, healthy: Boolean,
                          reason: Option[String],
                          lastSeenMs: Option[Long],
                          lastStatus: Option[String])

  // URL-encoded TSV cells, shared with the coverage ledger's cell files
  private[sources] def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private[sources] def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")
  // None is "-"; present values carry an "=" prefix so a literal "-"
  // (which URLEncoder leaves bare) round-trips as Some("-"), not None
  private[sources] def optCell(o: Option[String]): String =
    o.map("=" + enc(_)).getOrElse("-")
  private[sources] def cellOpt(c: String): Option[String] =
    if (c == "-") None else Some(dec(c.stripPrefix("=")))

  // one monitor per canonical ledger path: OS file locks are per-JVM
  // (a second FileChannel.lock on the same file from this JVM throws
  // OverlappingFileLockException), so same-JVM instances serialize on
  // the monitor FIRST and only then take the cross-process lock
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def monitorFor(p: java.nio.file.Path): Object =
    monitors.computeIfAbsent(p.toAbsolutePath.normalize.toString,
      _ => new Object)
}
