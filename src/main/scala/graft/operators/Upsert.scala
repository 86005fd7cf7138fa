package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent keyed upsert + atomic publication — the reference's two core
  * sink disciplines.
  *
  * - `batchUpsert` with `ON CONFLICT` (`src/lib/utils/batch.ts:81-141`):
  *   re-running the same day's ingest must be a no-op
  *   (`scripts/cron/cron-a-direct.ts:9`).
  * - Atomic snapshot publication via marker flip
  *   (`scripts/cron/refresh-technical.ts:181-196`,
  *   `00050_create_technical_metrics.sql:23,46`).
  *
  * Spark-first: upsert = anti-join keep + union (one shuffle on the key;
  * with date-partitioned tables prefer dynamic partition overwrite instead —
  * zero read of untouched partitions at 100 TB). Publication = stage the
  * rows once ([[stageSnapshot]]), move the staged dir to `v=<version>`,
  * then flip a tiny `_PUBLISHED` pointer file.
  */
object Upsert {

  /** New rows win on key collision; old non-colliding rows are kept.
    * Exactly `ON CONFLICT (keys) DO UPDATE`. */
  def keyed(existing: DataFrame, incoming: DataFrame,
            keys: Seq[String]): DataFrame = {
    val kept = existing.join(incoming.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
    incoming.unionByName(kept.select(incoming.columns.map(col): _*))
  }

  /** Dedup incoming on the key first (last writer wins by `orderCol` desc),
    * then upsert — mirrors the reference's per-chunk upsert where later
    * corrections supersede (`cron-c.ts:29-60`). */
  def keyedLatest(existing: DataFrame, incoming: DataFrame,
                  keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    val dedup = incoming.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    keyed(existing, dedup, keys)
  }

  /** Atomically point `<root>/_PUBLISHED` at `version`. */
  private def flip(root: String, version: String): Unit = {
    val marker = new java.io.File(s"$root/_PUBLISHED")
    val tmp = new java.io.File(s"$root/_PUBLISHED.tmp")
    java.nio.file.Files.writeString(tmp.toPath, version)
    java.nio.file.Files.move(tmp.toPath, marker.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** A snapshot written, counted, and not yet published: the rows sit in
    * an attempt-scoped `_stage-<uuid>` dir under the root, which readers
    * (they resolve `_PUBLISHED`) and [[pruneSnapshots]] (it only looks at
    * `v=*`) never see. `rows` is counted during the write itself. Exactly
    * one of [[publish]] or [[discard]] takes effect. */
  final class Staged private[Upsert] (root: String, dir: java.io.File,
                                       newRoot: Boolean, val rows: Long) {
    /** Move the staged dir to `v=<version>` (replacing a previous write
      * of the same version) and flip `_PUBLISHED` to it. */
    def publish(version: String): String = {
      val target = new java.io.File(s"$root/v=$version")
      if (target.exists()) {
        // move the old copy aside first so the replacement is one rename
        val old = new java.io.File(s"${dir.getPath}.old")
        java.nio.file.Files.move(target.toPath, old.toPath)
        java.nio.file.Files.move(dir.toPath, target.toPath)
        rmTree(old)
      } else java.nio.file.Files.move(dir.toPath, target.toPath)
      flip(root, version)
      target.getPath
    }

    /** Delete the staged rows, and the root too when staging created it
      * and it is still empty, so a discarded stage leaves no trace; a
      * no-op once published. */
    def discard(): Unit = {
      rmTree(dir)
      if (newRoot) new java.io.File(root).delete()
    }
  }

  /** Write `df` once into a fresh staging dir under `root`, counting its
    * rows through an [[org.apache.spark.sql.Observation]] on the write —
    * no second evaluation, no read-back. The caller gates on `rows`, then
    * publishes or discards. */
  def stageSnapshot(df: DataFrame, root: String): Staged = {
    val dir = new java.io.File(s"$root/_stage-${java.util.UUID.randomUUID()}")
    val newRoot = !new java.io.File(root).exists()
    def staged(rows: Long) = new Staged(root, dir, newRoot, rows)
    val obs = org.apache.spark.sql.Observation()
    try df.observe(obs, count(lit(1)).as("rows")).write.parquet(dir.getPath)
    catch { case e: Throwable => staged(0L).discard(); throw e }
    staged(obs.get("rows").asInstanceOf[Long])
  }

  /** Delete superseded `v=*` snapshot directories under `root`, keeping
    * the one `_PUBLISHED` points at plus the `graceKeep` most recent
    * others (by directory mtime). Callers that publish on every
    * batch/date (the landing job's coverage manifest) invoke this after
    * the pointer flip, or version directories accumulate without bound
    * across scheduled runs; callers that WANT version history (the
    * refresh DAG's auditable snapshots) simply don't. `graceKeep > 0`
    * is the concurrent-reader grace window: a reader in another process
    * that resolved the PREVIOUS pointer just before the flip can finish
    * its scan of that version before a later prune reclaims it —
    * deleting the old version at the instant of the flip would fail
    * such a reader mid-read. mtime recency can TIE within the
    * filesystem's timestamp granularity when versions publish in quick
    * succession, so callers that know exactly which version was just
    * superseded pass its directory name via `spare` — name-pinned
    * survival beats recency heuristics. Returns the number of
    * directories removed. */
  def pruneSnapshots(root: String, graceKeep: Int = 0,
                     spare: Set[String] = Set.empty): Int =
    resolvePublished(root) match {
      case None => 0
      case Some(current) =>
        val keep = new java.io.File(current).getName
        val dirs = Option(new java.io.File(root).listFiles()).getOrElse(Array())
          .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
            f.getName != keep && !spare.contains(f.getName))
          .sortBy(-_.lastModified())
          .drop(graceKeep)
        dirs.foreach(rmTree)
        dirs.length
    }

  /** Recursively delete a file tree — the one shared implementation
    * (scratch-dir and superseded-snapshot cleanup sites all route
    * here rather than growing drifting private copies). */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array()).foreach(rmTree)
    f.delete()
  }

  /** Resolve the currently published snapshot directory, if any. */
  def resolvePublished(root: String): Option[String] = {
    val marker = new java.io.File(s"$root/_PUBLISHED")
    if (marker.exists())
      Some(s"$root/v=${java.nio.file.Files.readString(marker.toPath).trim}")
    else None
  }

  /** Freshness-guarded resolve (00117_precompute_bottomup_per_bands.sql:
    * the reader RPC errors when the precomputed table is older than the
    * staleness bound instead of silently serving stale data, so the caller
    * can fall back to the live computation). Age is the marker flip time —
    * the atomic publication instant. */
  def resolvePublishedFresh(root: String, maxAgeMillis: Long,
                            nowMillis: Long = System.currentTimeMillis())
      : Either[String, String] = {
    val marker = new java.io.File(s"$root/_PUBLISHED")
    if (!marker.exists()) Left(s"no _PUBLISHED marker under $root")
    else {
      val age = nowMillis - marker.lastModified()
      if (age > maxAgeMillis)
        Left(s"published snapshot is stale: age ${age}ms > ${maxAgeMillis}ms")
      else
        Right(s"$root/v=${java.nio.file.Files.readString(marker.toPath).trim}")
    }
  }
}
