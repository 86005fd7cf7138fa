package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank (Brin & Page 1998) in EXACT integer arithmetic —
  * the iterative graph-propagation shape (the same plan skeleton as label
  * propagation, belief propagation, or connected components by value
  * passing), kept oracle-replayable by quantizing ranks to a fixed integer
  * scale so every contribution is an integer division and the per-node
  * reduce is an order-free integer sum.
  *
  * Per iteration: one join of edges against current ranks (key-partitioned
  * on src), one grouped integer-sum by dst, one left join back onto the
  * node set — all ordinary keyed shuffles that AQE co-partitions; the
  * result is pinned ([[Materialize.pin]]) each round (iterative-lineage rule:
  * persist() caches data but hands Catalyst a per-round-doubling plan).
  *
  * Integer contract: with rank scale S and damping 85/100, node ranks are
  * bounded by the total mass n·S, so `rank * 85` must stay under 2^63 —
  * callers at extreme node counts lower S accordingly (the contract is
  * S · n · 85 < 2^63; the default S=1e9 is good to ~10^8 nodes). Exact
  * integer propagation means the fixpoint is bit-identical regardless of
  * partitioning, which is what lets a 3-iteration run gate against an
  * unrolled SQL oracle.
  */
object PageRank {

  val DampNum = 85L
  val DampDen = 100L
  val DefaultScale = 1000000000L

  /** `edges(src, dst)` directed, deduplicated; every rank-receiving node
    * must appear as an endpoint. Returns (node, rank) after `iterations`
    * synchronous updates from a uniform start of `scale` per node.
    * Dangling nodes (no out-edges) keep contributing nothing — standard
    * "leaked mass" semantics, which the oracle replays identically. */
  def run(edges: DataFrame, iterations: Int,
          scale: Long = DefaultScale): DataFrame = {
    require(iterations >= 1 && scale > 0)
    // materialize the degree-annotated edge list ONCE — without this every
    // iteration re-runs the upstream edge derivation (scan + distinct) and
    // the degree aggregation: 3 iterations cost 3 edge builds. The scoped
    // pin covers the whole loop; the returned rank is an eager
    // checkpoint, so nothing downstream re-reads the edges.
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    Materialize.withMaterialized(edges.join(deg, Seq("src"))) { degE =>
      val nodes = Materialize.pin(degE.select(col("src").as("node"))
        .union(degE.select(col("dst").as("node"))).distinct())
        // reused every round; bounded (node-cardinality)
      val base = scale * (DampDen - DampNum) / DampDen
      var rank = nodes.withColumn("rank", lit(scale))
      for (_ <- 1 to iterations) {
        val contribs = degE
          .join(rank.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"),
            expr(s"((rank * $DampNum) div $DampDen) div deg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("inr"))
        rank = Materialize.pin(nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + coalesce(col("inr"), lit(0L))).as("rank")))
      }
      rank
    }
  }

  /** PERSONALIZED PageRank (Jeh & Widom 2003): the teleport mass lands on
    * a SEED set instead of uniformly, so ranks measure graph proximity TO
    * the seeds — the data-selection primitive ("find corpus items most
    * connected to these trusted examples") and the link-spam/authority
    * variant of [[run]]. Same exact-integer discipline: the per-seed
    * teleport base is one integer division of the conserved total mass
    * n·scale, so the fixpoint replays bit-identically in the oracle's
    * unrolled CTEs.
    *
    * Start state: all mass at the seeds (n·scale ÷ |S| each). Non-seed
    * base is 0 — a node only accrues rank through walk inflow.
    *
    * @param seeds one column (`node`); must be a subset of the edge
    *              endpoints, deduplicated */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, iterations: Int,
                      scale: Long = DefaultScale): DataFrame = {
    require(iterations >= 1 && scale > 0)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    Materialize.withMaterialized(edges.join(deg, Seq("src"))) { degE =>
      val nodes = Materialize.pin(degE.select(col("src").as("node"))
        .union(degE.select(col("dst").as("node"))).distinct())
      val seeded0 = nodes.join(
        seeds.select(col("node"), lit(true).as("is_seed")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      // scalar counts ride the plan as a broadcast 1-row dim — no collect
      val counts = seeded0.agg(count(lit(1)).as("n"),
        sum(when(col("is_seed"), 1L).otherwise(0L)).as("ns"))
      val seeded = Materialize.pin(seeded0.crossJoin(broadcast(counts)))
      val teleNum = DampDen - DampNum
      var rank = seeded.select(col("node"), col("is_seed"), col("n"), col("ns"),
        when(col("is_seed"), expr(s"(n * $scale) DIV ns"))
          .otherwise(0L).as("rank"))
      for (_ <- 1 to iterations) {
        val contribs = degE
          .join(rank.select(col("node").as("src"), col("rank")), Seq("src"))
          .select(col("dst").as("node"),
            expr(s"((rank * $DampNum) div $DampDen) div deg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("inr"))
        rank = Materialize.pin(seeded.join(contribs, Seq("node"), "left")
          .select(col("node"), col("is_seed"), col("n"), col("ns"),
            (when(col("is_seed"),
              expr(s"($teleNum * n * $scale) DIV ($DampDen * ns)"))
              .otherwise(0L) + coalesce(col("inr"), lit(0L))).as("rank")))
      }
      rank.select(col("node"), col("is_seed"), col("rank"))
    }
  }
}
