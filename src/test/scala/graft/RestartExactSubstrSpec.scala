package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.queries.ExactSubstr
import graft.streaming.StreamExactSubstr

/** Pins for the PERSISTED gram-keeper state (q216 —
  * [[StreamExactSubstr.PersistedAbsorber]]):
  *
  *  1. RESTARTABILITY — for every stop point k ∈ {1, 2, 3}: absorb k
  *     doc_id-ordered batches, DISCARD the absorber, build a fresh one
  *     on the same storage, absorb the rest. Accumulated emissions must
  *     equal the batch q211 rebuild row for row — nothing may live only
  *     in memory. Every sweep point also crosses ≥ 1 COMPACTION
  *     (compactEvery = 3 on 4 batches), so restart → compact → append
  *     and append → compact → restart orderings are all exercised.
  *  2. LAYOUT — the standing state is a bucketed table on `gram` (16
  *     buckets), so every absorb join reads it pre-clustered (the q53
  *     zero-Exchange discipline).
  *  3. DELTA-SIZED MAINTENANCE — each batch appends EXACTLY its own
  *     distinct-gram minima as one new generation; the standing rows of
  *     earlier generations are not rewritten (generation row counts are
  *     pinned batch by batch). Compaction folds the generations back to
  *     one whose row count is the resolved distinct-gram count.
  *  4. TORN-BATCH REPLAY — a batch that crashed between its emission
  *     write and its state append replays idempotently: the rerun
  *     derives the same generation, overwrites the same emission
  *     partition, and the final results still match the batch rebuild.
  */
class RestartExactSubstrSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def normDocsDf = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.Text.normalize(col("text")).as("text"))
  }

  private lazy val batchRows =
    ExactSubstr.q211ExactSubstrDedup(spark, dir).collect().toSeq

  private def withScratch[T](body: (String, String) => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q216_spec")
    val table = "graft_q216_spec_" +
      tmp.getFileName.toString.replaceAll("[^A-Za-z0-9_]", "_")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try body(table, tmp.toString)
    finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      def rm(f: java.io.File): Unit = {
        val ch = f.listFiles(); if (ch != null) ch.foreach(rm); f.delete()
      }
      rm(tmp.toFile)
    }
  }

  private def docBatches = {
    import spark.implicits._
    val docs = normDocsDf.orderBy(col("doc_id"))
      .as[StreamExactSubstr.SDoc].collect()
    docs.grouped(math.max(1, docs.length / 4)).toVector
  }

  private def runWithRestart(stopAfter: Int,
                             pruneOver: Long = 64L << 20)
      : Seq[org.apache.spark.sql.Row] =
    withScratch { (table, tmp) =>
      import spark.implicits._
      val batches = docBatches
      // phase 1: k batches through absorber A, then A is garbage
      val a = new StreamExactSubstr.PersistedAbsorber(table, tmp,
        compactEvery = 3, pruneStateOverBytes = pruneOver)
      batches.take(stopAfter).foreach(b => a.absorb(b.toSeq.toDS()))
      // graceful handoff: a queued compaction must settle before the
      // storage is handed to the next incarnation (the gate's protocol;
      // a CRASH instead leaves a torn batch, which replay covers)
      a.flush()
      // phase 2: a FRESH absorber against the same storage
      val b = new StreamExactSubstr.PersistedAbsorber(table, tmp,
        compactEvery = 3, pruneStateOverBytes = pruneOver)
      batches.drop(stopAfter).foreach(bb => b.absorb(bb.toSeq.toDS()))
      b.flush()
      // layout pin: the standing state is bucketed on gram
      val desc = spark.sql(s"DESCRIBE FORMATTED $table").collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}").mkString("\n")
      assert(desc.contains("Num Buckets") && desc.contains("16"),
        "state table is not bucketed")
      assert(desc.contains("Bucket Columns") && desc.contains("gram"),
        "state table is not bucketed on gram")
      b.results(spark).orderBy(col("doc_id"))
        .localCheckpoint().collect().toSeq
    }

  test("stop/rebuild/continue equals the batch rebuild at every stop point" +
      " (a compaction lands mid-stream at every sweep point)") {
    (1 to 3).foreach { k =>
      assert(runWithRestart(k) == batchRows,
        s"restart after batch $k diverged from the batch q211 rebuild")
    }
  }

  test("the DELTA-PRUNED state read (production regime) equals the batch rebuild at every stop point") {
    // pruneStateOverBytes = 0 forces resolvedFor — the range-filter +
    // broadcast-semi-join path the 100 TB regime uses — through the
    // same restart/compaction sweep the default path is gated on
    (1 to 3).foreach { k =>
      assert(runWithRestart(k, pruneOver = 0L) == batchRows,
        s"delta-pruned restart after batch $k diverged from the batch rebuild")
    }
  }

  test("state maintenance is generational: per-batch appends are " +
      "delta-sized and compaction folds to one generation") {
    withScratch { (table, tmp) =>
      import spark.implicits._
      val batches = docBatches
      // distinct grams per batch = exactly the rows a generation appends
      def distinctGrams(b: Array[StreamExactSubstr.SDoc]): Long =
        ExactSubstr.gramPositions(b.toSeq.toDS().toDF())
          .select(col("gram")).distinct().count()
      val a = new StreamExactSubstr.PersistedAbsorber(table, tmp,
        compactEvery = 100) // no compaction in this pass — pure appends
      var expected = Map.empty[Long, Long]
      batches.zipWithIndex.foreach { case (b, i) =>
        a.absorb(b.toSeq.toDS())
        expected += ((i + 1).toLong -> distinctGrams(b))
        val perGen = spark.table(table).groupBy(col("gen"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(perGen == expected,
          s"after batch ${i + 1}: generation row counts $perGen != " +
            s"per-batch distinct-gram counts $expected — a batch must " +
            "append only its own minima, never rewrite standing rows")
      }
      assert(a.currentGen(spark) == batches.length.toLong)
      // now compact: one generation, resolved distinct-gram cardinality
      val b2 = new StreamExactSubstr.PersistedAbsorber(table, tmp,
        compactEvery = 1) // compact on the very next absorb
      val extra = batches.last.map(d => d.copy(doc_id = d.doc_id + 1000000))
      b2.absorb(extra.toSeq.toDS())
      b2.flush() // compaction is queued on a background lane since r18
      val gens = spark.table(table).select(col("gen")).distinct().collect()
      assert(gens.length == 1, s"compaction must fold to ONE generation")
      val stateRows = spark.table(table).count()
      val distinctAll = spark.table(table).select(col("gram"))
        .distinct().count()
      assert(stateRows == distinctAll,
        "compacted state must hold exactly one row per distinct gram")
    }
  }

  test("torn-batch replay is idempotent: crash between emission write " +
      "and state append, replay, results still match the batch rebuild") {
    withScratch { (table, tmp) =>
      import spark.implicits._
      val batches = docBatches
      val a = new StreamExactSubstr.PersistedAbsorber(table, tmp,
        compactEvery = 100)
      batches.take(2).foreach(b => a.absorb(b.toSeq.toDS()))
      // absorb batch 3 fully, then TEAR it: roll the state back to
      // generation 2 (as if the crash hit after the emission write but
      // before the state append) and leave its emission partition behind
      a.absorb(batches(2).toSeq.toDS())
      val rolledBack = spark.table(table).filter(col("gen") <= 2L)
        .localCheckpoint()
      graft.sources.Bucketed.writeBucketed(rolledBack, table,
        s"$tmp/state", "gram", 16)
      assert(a.currentGen(spark) == 2L)
      // replay batch 3 (same absorber or a fresh one — no memory state),
      // then finish the stream
      val b = new StreamExactSubstr.PersistedAbsorber(table, tmp,
        compactEvery = 100)
      batches.drop(2).foreach(bb => b.absorb(bb.toSeq.toDS()))
      assert(b.results(spark).orderBy(col("doc_id"))
        .localCheckpoint().collect().toSeq == batchRows,
        "replaying the torn batch must overwrite its emission partition, " +
          "not double-append it")
    }
  }

  test("flush ends each incarnation's compaction lane; a failed fold is " +
      "reported when it happens and rethrown at the fence") {
    withScratch { (table, tmp) =>
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val batches = docBatches
      def lanes = Thread.getAllStackTraces.keySet.asScala
        .count(t => t.getName == "q216-compact" && t.isAlive)
      // three incarnations on one path, each of which compacts
      batches.take(3).foreach { b =>
        val a = new StreamExactSubstr.PersistedAbsorber(table, tmp,
          compactEvery = 1)
        a.absorb(b.toSeq.toDS())
        a.flush()
      }
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (lanes > 1 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(lanes <= 1, s"$lanes live q216-compact threads after flush()")
      // a fourth incarnation's fold fails: every job the lane starts is
      // cancelled as it starts
      val sc = spark.sparkContext
      val cancelFolds = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .exists(_.startsWith("q216-compact"))) sc.cancelJob(e.jobId)
      }
      val err = new java.io.ByteArrayOutputStream
      val stderr = System.err
      sc.addSparkListener(cancelFolds)
      System.setErr(new java.io.PrintStream(err, true))
      val failed = try {
        val a = new StreamExactSubstr.PersistedAbsorber(table, tmp,
          compactEvery = 1)
        a.absorb(batches(3).toSeq.toDS())
        intercept[Exception](a.flush())
      } finally {
        System.setErr(stderr)
        sc.removeSparkListener(cancelFolds)
      }
      assert(failed.getMessage.contains("cancelled"), failed.toString)
      assert(err.toString.contains(s"[q216-compact] fold of $table"),
        "the fold failure must be reported on the compaction thread")
    }
  }
}
