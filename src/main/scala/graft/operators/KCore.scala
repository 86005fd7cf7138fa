package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** k-core (onion) decomposition by iterative peeling: repeatedly remove
  * every node with degree < k until the remaining graph (the k-core) has
  * minimum degree ≥ k. Each node's removal round is its onion layer —
  * the standard statistic for separating a dense organic core from
  * tendrils in co-occurrence / interaction graphs.
  *
  * Scale shape: each round is two map-side-combined degree counts plus
  * two anti-joins against the (bounded) weak set; every round's edge set
  * is localCheckpoint'ed so plans stay constant-size (the iterative-
  * lineage rule — see [[Dedup.connectedComponents]]). Rounds are
  * data-dependent (a long path at k = 2 peels one layer per round);
  * `maxRounds` bounds the loop and non-convergence FAILS LOUDLY rather
  * than returning a wrong core.
  */
object KCore {

  /** @param edges     undirected DISTINCT edges (u, v), u != v, integral
    *                  ids, one row per unordered pair
    * @param k         core threshold (min degree of the surviving core)
    * @param maxRounds fail-loud bound on peel rounds
    * @return (node BIGINT, peel_round BIGINT null for core survivors,
    *         core_deg BIGINT null for peeled nodes), one row per node
    */
  def peel(spark: SparkSession, edges0: DataFrame, k: Int,
           maxRounds: Int): DataFrame = {
    val edges = Materialize.pin(edges0.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")))
    val nodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node"))).distinct()
    def degrees(g: DataFrame): DataFrame =
      g.select(col("u").as("x")).unionAll(g.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
    var g = edges
    // surviving node set, carried explicitly: a node whose incident edges
    // ALL disappear in one round (every neighbor weak, own degree >= k)
    // vanishes from degrees(g) — without the carried set it would never be
    // classified (peel_round AND core_deg both null). Left-joining alive
    // against degrees treats missing degree as 0, so such nodes peel in
    // the following round, as standard k-core semantics demand.
    var alive = Materialize.pin(nodes)
    // per-round peel sets, accumulated LAZILY (r17, guide §1.2): each
    // round's weak set is already checkpointed, so re-checkpointing the
    // growing union every round was one extra full-union job per round —
    // the final classification unions the bounded list once instead
    var removedRounds = List.empty[DataFrame]
    var round = 1L
    var weakCount = 1L
    while (weakCount > 0 && round <= maxRounds) {
      val weak = Materialize.pin(alive
        .join(degrees(g).withColumnRenamed("x", "node"), Seq("node"), "left")
        .filter(coalesce(col("d"), lit(0L)) < k)
        .select(col("node").as("x")))
      weakCount = weak.count()
      if (weakCount > 0) {
        removedRounds ::= weak
          .select(col("x").as("node"), lit(round).as("peel_round"))
        // the surviving-node update and the surviving-edge update both
        // read only (alive/g, weak) and feed the NEXT round — overlap
        // their checkpoints (guide §2.6); each computation is unchanged
        val next = Materialize.concurrently(Seq(
          () => Materialize.pin(alive
            .join(weak.select(col("x").as("node")), Seq("node"), "left_anti")),
          () => Materialize.pin(g
            .join(weak.select(col("x").as("u")), Seq("u"), "left_anti")
            .join(weak.select(col("x").as("v")), Seq("v"), "left_anti")
            .select(col("u"), col("v")))))
        alive = next(0)
        g = next(1)
        round += 1
      }
    }
    require(weakCount == 0,
      s"KCore.peel: did not converge within $maxRounds rounds")
    val removed = removedRounds match {
      case Nil => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("node", LongType),
          StructField("peel_round", LongType))))
      case hd :: tl => tl.foldLeft(hd)(_ unionByName _)
    }
    nodes
      .join(removed, Seq("node"), "left")
      .join(degrees(g).select(col("x").as("node"), col("d").as("core_deg")),
        Seq("node"), "left")
      .select(col("node"), col("peel_round"), col("core_deg"))
  }
}
