package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SortedIntersectExpr

/** Exact per-node triangle counting: degree-ordered orientation +
  * adjacency-list intersection.
  *
  * Two standard ideas compose (Suri & Vassilvitskii WWW'11; Chiba &
  * Nishizeki '85):
  *
  *  1. ORIENT each undirected edge from its lower (degree, id) endpoint
  *     to its higher one. Each triangle is then counted exactly once from
  *     its lowest-rank corner, and no vertex's out-degree exceeds O(√m)
  *     on any topology — the fix for the "curse of the last reducer"
  *     (a degree-d hub otherwise contributes d² wedges).
  *  2. For an oriented edge (u,v) the triangles through it are exactly
  *     N⁺(u) ∩ N⁺(v). Instead of materializing all wedges and joining
  *     them against the edge set (Σ d⁺² rows through a shuffle — measured
  *     19 s at sf0.1 on the co-purchase graph, where avg degree ≈ 120
  *     makes the wedge relation ~70 M rows), build each node's SORTED
  *     out-neighbor array once and intersect per edge with the native
  *     two-pointer [[graft.functions.SortedIntersectExpr]] (codegen'd,
  *     zero intermediate rows). Work is Σ_edges (d⁺(u)+d⁺(v)) ≤ O(m^{3/2})
  *     and the only shuffled relations are the m-row edge list and the
  *     n-row adjacency dim — never the wedge set. Same exact semantics,
  *     ~6× faster at sf0.1.
  *
  * Reference behavior anchor: the reference keeps all graph-shaped
  * statistics server-side in SQL (the `00049_create_stock_metrics.sql`
  * self-join families); this is the strictly-local subgraph-count member
  * of that family, alongside [[Dedup.connectedComponents]] (reachability)
  * and [[PageRank]] (propagation).
  */
object Triangles {

  /** Per-node triangle participation counts.
    *
    * @param edges undirected DISTINCT edges as columns (u, v) with
    *              integral ids; u != v and each unordered pair present
    *              once (any orientation). Self-loops and duplicate pairs
    *              are the caller's bug — dedupe with `canon`-style select
    *              first.
    * @return (node BIGINT, n_tri BIGINT) for every node in ≥ 1 triangle
    */
  def perNode(edges0: DataFrame): DataFrame = {
    val edges = edges0.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
    val deg = edges.select(col("u").as("x"))
      .union(edges.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    // orient from lower (degree, id) rank to higher
    val oriented0 = edges
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("e"))
      .select(col("e.src"), col("e.dst"))
    // read twice (adjacency build + per-edge probe) — materialize once
    Materialize.withMaterialized(oriented0) { o =>
      val adj = o.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      val withArrs0 = o
        .join(adj.select(col("src"), col("nbrs").as("nu")), Seq("src"))
        .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")),
          Seq("dst"))
        .select(col("src"), col("dst"),
          SortedIntersectExpr(col("nu"), col("nv")).as("ws"))
        .filter(size(col("ws")) > 0)
      // three consumers (src/dst/w corner branches) — without a barrier
      // each union branch re-runs the joins + intersections (rule 7's
      // cousin); the materialized relation is triangle-bounded
      Materialize.withMaterialized(withArrs0) { withArrs =>
        val corners =
          withArrs.select(col("src").as("node"),
              size(col("ws")).cast("long").as("c"))
            .unionByName(withArrs.select(col("dst").as("node"),
              size(col("ws")).cast("long").as("c")))
            .unionByName(withArrs.select(explode(col("ws")).as("node"),
              lit(1L).as("c")))
        Materialize.pin(
          corners.groupBy(col("node")).agg(sum(col("c")).as("n_tri")))
      }
    }
  }
}
