package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.ExactSubstr
import graft.streaming.StreamExactSubstr

/** Measures the PersistedAbsorber's generational state maintenance:
  * per-batch rows APPENDED (one generation per batch — the delta) vs
  * the cumulative resolved state size, then the compaction fold. Backs
  * the PLANS.md round-14 row: write volume scales with the delta, not
  * the state. Usage: runMain graft.tools.Probe216 [sfDir] [nBatches] */
object Probe216 {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = ExactSubstr.normDocs(spark, sfDir)
      .orderBy(col("doc_id")).as[StreamExactSubstr.SDoc].collect()
    val tmp = java.nio.file.Files.createTempDirectory("graft_p216")
    val table = "graft_p216_state"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // no compaction during the append passes — observe pure deltas;
    // pruneStateOverBytes = 0 keeps the probe in the pruned (100 TB)
    // read regime regardless of the toy state's size
    val a = new StreamExactSubstr.PersistedAbsorber(table, tmp.toString,
      compactEvery = Int.MaxValue, pruneStateOverBytes = 0L)
    val per = docs.grouped(math.max(1, docs.length / nBatches)).toSeq
    var t0 = System.nanoTime()
    // what a rewrite-per-batch absorber would write at batch i is the
    // RESOLVED state size after batch i (cross-generation duplicate
    // grams collapse) — track it per batch for an honest baseline
    var rewriteBaseline = 0L
    // read-volume ledger (the round-15 ask): per batch, the standing
    // state rows a FULL resolve would feed the min-merge (the r14
    // behavior) vs the rows the delta-pruned read actually feeds it
    var fullReadSum = 0L
    var prunedReadSum = 0L
    per.zipWithIndex.foreach { case (b, i) =>
      val batch = spark.createDataset(b.toIndexedSeq)
      val grams = ExactSubstr.gramPositions(batch.toDF()).localCheckpoint()
      val (standing, pruned) = a.stateReadRows(spark, grams)
      fullReadSum += standing; prunedReadSum += pruned
      // time ONLY the absorb — the probe's own counting jobs above and
      // the resolved-state audit below are instrumentation, not work
      // the real absorber does
      t0 = System.nanoTime()
      a.absorb(batch)
      val dt = (System.nanoTime() - t0) / 1e9
      val resolvedNow = spark.table(table).select(col("gram"))
        .distinct().count()
      rewriteBaseline += resolvedNow
      println(f"batch ${i + 1}%2d: docs=${b.length}%5d  ${dt}%6.2f s" +
        f"  resolved-state=$resolvedNow%8d  state-rows-into-merge:" +
        f" full=$standing%8d pruned=$pruned%8d")
    }
    // settle any queued compaction (and surface its error) before the
    // probe reads the table and the process exits
    a.flush()
    val perGen = spark.table(table).groupBy(col("gen"))
      .agg(count(lit(1)).as("rows")).orderBy(col("gen"))
      .as[(Long, Long)].collect()
    val total = perGen.map(_._2).sum
    val resolved = spark.table(table).select(col("gram")).distinct().count()
    println("per-generation APPEND volumes (rows written per batch):")
    perGen.foreach { case (g, n) =>
      println(f"  gen $g%2d: $n%8d rows (${100.0 * n / total}%5.1f%% of on-disk state)")
    }
    println(f"on-disk state rows: $total%d; resolved distinct grams: $resolved%d")
    println(f"write volume if each batch REWROTE the state instead " +
      f"(sum of per-batch RESOLVED sizes): $rewriteBaseline%d rows " +
      f"(vs $total%d generational)")
    println(f"read volume into the absorb min-merge, summed over " +
      f"batches: full-state=$fullReadSum%d rows (r14 behavior) vs " +
      f"delta-pruned=$prunedReadSum%d rows")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.stop()
  }
}
