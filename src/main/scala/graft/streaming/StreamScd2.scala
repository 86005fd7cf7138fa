package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Materialize, Scd2}

/** Streaming CDC → SCD2 apply — the twelfth streaming shape, and the one
  * a warehouse user asks for first: a stream of dimension snapshots (each
  * row tagged with its snapshot's effective date) maintains the SCD2
  * history table via `foreachBatch` + [[Scd2.merge]], so the standing
  * history is at all times what the batch replay (q58) would produce
  * over the snapshots seen so far.
  *
  * Correctness contract (what the q196 gate pins): the maintained history
  * is INVARIANT to micro-batch boundaries. A micro-batch may contain a
  * fraction of one snapshot or spill across several; the maintainer
  * groups arrived rows by effective date and only merges a snapshot when
  * its completeness is PROVEN — because [[Scd2.merge]] consumes FULL
  * snapshots, merging half a snapshot would close the missing keys as
  * delisted. Two proofs are offered:
  *
  *  - [[Maintainer]] (the q196 gate's): ordered delivery — snapshot dates
  *    arrive non-decreasing (the reference's daily sync shape,
  *    equity-master.ts runs once per day strictly forward), so a date is
  *    complete as soon as a LATER date shows up. The precondition is a
  *    RUNTIME CHECK, not an assumption: a row at or below the newest
  *    merged date throws (fail-loud convention) — silently buffering it
  *    as a "new snapshot" would close its missing keys as delists.
  *  - [[WatermarkedMaintainer]]: out-of-order delivery within a bounded
  *    lateness — rows for several dates may interleave arbitrarily; a
  *    date merges only once the per-source watermark (max seen effective
  *    date − `latenessDays`) passes it, exactly Structured Streaming's
  *    event-time watermark contract applied to snapshot completeness.
  *    Rows later than the bound still fail loud.
  *
  * Scale shape: state is the history table (key-cardinality × history
  * depth, not stream-sized), each merge is the q58 full-outer diff keyed
  * on the natural key, and every merged level is eagerly checkpointed so
  * lineage never chains across batches (the q58 exponential-plan lesson).
  * In production the history would live behind a keyed idempotent upsert
  * sink ([[graft.operators.Upsert]]); in-process it is a bounded
  * DataFrame the gate reads back directly.
  */
object StreamScd2 {

  /** One CDC row: natural key + tracked attrs + the snapshot's effective
    * date (the CDC source's commit timestamp, coarsened to the snapshot
    * cadence). */
  final case class Chg(effDate: java.sql.Date, code: Long, seg: String,
                       nat: Long)

  /** Shared buffering/merge core of both maintainers: pending rows per
    * effective date, the standing history, and the strictly-forward merge
    * cursor. Subclasses decide WHEN a pending date is complete. */
  sealed abstract class MaintainerBase(spark: SparkSession) {
    private val keys = Seq("code")
    private val attrs = Seq("seg", "nat")
    // arrival buffer: effective date -> rows seen so far (bounded: one
    // snapshot's keys per in-flight date; the completeness policy bounds
    // how many dates stay in flight)
    protected val pending =
      scala.collection.mutable.SortedMap.empty[java.sql.Date,
        scala.collection.mutable.ArrayBuffer[Chg]](
        Ordering.by[java.sql.Date, Long](_.getTime))
    @volatile private var history: Option[DataFrame] = None
    /** Newest effective date already folded into the history. Merging is
      * strictly forward; a row at or below this can never be applied. */
    protected var lastMerged: Option[java.sql.Date] = None

    def absorb(batch: Dataset[Chg]): Unit

    /** Buffer one row, failing LOUD on a row that arrived too late to
      * ever merge — silently treating it as a fresh snapshot would close
      * that snapshot's missing keys as delists. */
    protected def buffer(c: Chg): Unit = {
      lastMerged.foreach { lm =>
        if (!c.effDate.after(lm))
          throw new IllegalStateException(
            s"late CDC row for ${c.effDate}: snapshots through $lm are " +
              "already merged (ordered-delivery/lateness bound violated)")
      }
      pending.getOrElseUpdate(c.effDate,
        scala.collection.mutable.ArrayBuffer.empty[Chg]) += c
    }

    def flush(): Unit = synchronized {
      while (pending.nonEmpty) mergeOldest()
    }

    protected def mergeOldest(): Unit = {
      val (day, rows) = pending.head
      pending.remove(day)
      lastMerged = Some(day)
      import spark.implicits._
      val snap = rows.toSeq.toDF()
        .select(col("code"), col("seg"), col("nat"))
      val h = history.getOrElse {
        snap.filter(lit(false))
          .withColumn("valid_from", lit(null).cast("date"))
          .withColumn("valid_to", lit(null).cast("date"))
          .withColumn("is_current", lit(false))
      }
      // eager checkpoint per level — same anti-exponential-lineage rule
      // as the q58 batch replay; the level it supersedes is released once
      // the new one exists
      history = Some(Materialize.pin(Scd2.merge(h, snap, keys, attrs, day)))
      Materialize.release(h)
    }

    def current: DataFrame = synchronized {
      history.getOrElse(
        throw new IllegalStateException("no snapshots merged"))
    }
  }

  /** Ordered-delivery maintainer (the q196 gate's): a date's snapshot
    * merges once a LATER date arrives — the all-arrived proof under
    * non-decreasing delivery, which [[MaintainerBase.buffer]] enforces as
    * a runtime check rather than trusting it. */
  final class Maintainer(spark: SparkSession) extends MaintainerBase(spark) {
    override def absorb(batch: Dataset[Chg]): Unit = synchronized {
      // the per-batch collect is the MemoryStream test transport's
      // bounded slice (one dimension snapshot), not a fact-table scan —
      // a production sink would stage each batch to a keyed table
      batch.collect().foreach(buffer)
      // every date strictly before the newest in-flight date is complete
      while (pending.size > 1) mergeOldest()
    }
  }

  /** Out-of-order-tolerant maintainer: rows for different effective dates
    * may interleave arbitrarily as long as no row is later than
    * `latenessDays` behind the newest date seen — the standard per-source
    * watermark contract. A date merges only once the watermark
    * (max seen − lateness) passes it strictly, proving no more rows for
    * it can arrive within the bound. The bound is enforced fail-loud at
    * BOTH layers, on Structured Streaming's own batch contract (the
    * watermark that gates batch N is the one ESTABLISHED through batch
    * N−1, so a straggler in the same batch as the row that advances the
    * max is legal): a row below the previous batch's watermark throws
    * here even if its date has not merged yet, and a row at or below the
    * merge cursor throws in [[MaintainerBase.buffer]] — silently
    * accepting either would let a straggler resurrect a snapshot whose
    * absence semantics (delists) were already decided. In-flight state
    * grows to at most the dates inside one lateness window — bounded,
    * like a streaming state store's watermarked buffer. */
  final class WatermarkedMaintainer(spark: SparkSession, latenessDays: Int)
      extends MaintainerBase(spark) {
    private var maxSeen: Option[java.sql.Date] = None

    override def absorb(batch: Dataset[Chg]): Unit = synchronized {
      // watermark as of the END of the previous batch gates this one
      val wmPrev = maxSeen.map(m =>
        java.sql.Date.valueOf(m.toLocalDate.minusDays(latenessDays.toLong)))
      batch.collect().foreach { c =>
        // bound check BEFORE buffering: a rejected row must never mutate
        // maintainer state, or a caller that catches and continues would
        // operate on state containing the violator
        wmPrev.foreach { w =>
          if (c.effDate.before(w))
            throw new IllegalStateException(
              s"CDC row for ${c.effDate} violates the $latenessDays-day " +
                s"lateness bound: watermark is already $w")
        }
        buffer(c) // throws "late CDC row" at/below the merge cursor
        if (maxSeen.forall(m => c.effDate.after(m))) maxSeen = Some(c.effDate)
      }
      val wm = maxSeen.map(m =>
        java.sql.Date.valueOf(m.toLocalDate.minusDays(latenessDays.toLong)))
      while (pending.nonEmpty && wm.exists(w => pending.head._1.before(w)))
        mergeOldest()
    }
  }
}
