package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Materialize, Upsert}

/** q194: dynamic partition pruning over a date-partitioned fact layout —
  * the single most important scan optimization for a 100-TB fact table,
  * and the reference's own storage shape (its bars/metrics tables are
  * date-keyed and every nightly job touches a bounded date range;
  * archive-equity-bars.ts:22-39 prunes by partition when archiving).
  *
  * The engine already WRITES date-partitioned output
  * ([[graft.sources.Partitions.overwriteDatePartitions]]); this program
  * closes the loop by proving the READ side: lineitem is laid out
  * partitioned by ship month, then joined to a dim whose qualifying
  * months are only known at runtime (urgent orders of one quarter —
  * derived from data, not expressible as a static filter), so Catalyst
  * must insert a `DynamicPruningExpression` into the fact scan's
  * PartitionFilters (reusing the dim's broadcast exchange as the
  * subquery). At 1000 executors × 100 TB this is the difference between
  * scanning ~84 months and scanning 3: the scan itself skips every
  * non-qualifying partition directory, no task is even scheduled for
  * pruned files. `PlanShapeSpec` pins both pruning modes (static literal
  * and dynamic) on this exact layout; the q194 gate pins the semantics
  * against DuckDB over the raw table.
  *
  * Scale notes: the fact is `repartition(ship_month)` before the write so
  * each partition directory holds one file per shuffle partition actually
  * carrying that month (not tasks × partitions small files — the same
  * metadata-bomb rule as [[graft.sources.Bucketed.writeBucketed]]); the
  * dim side is a distinct-month relation of at most a few rows, so the
  * join is a broadcast and DPP's subquery reuses that exchange for free.
  */
object Partitioned {

  /** Lay lineitem out partitioned by ship month under `root`. */
  def writePartitioned(s: SparkSession, dir: String, root: String): Unit =
    Tables.lineitem(s, dir)
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .repartition(col("ship_month"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(root)

  /** Months with at least one urgent order in 1995Q1 — runtime-derived
    * (no static predicate on the fact can express it), tiny, broadcast. */
  def urgentMonths(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit(java.sql.Date.valueOf("1995-01-01")) &&
        col("o_orderdate") < lit(java.sql.Date.valueOf("1995-04-01")))
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      .distinct()

  /** The DPP-shaped compute over an already-partitioned layout — split
    * out so the plan spec can assert `dynamicpruningexpression` in the
    * fact scan's PartitionFilters on the un-sorted plan. */
  def prunedAgg(s: SparkSession, root: String, dim: DataFrame): DataFrame =
    s.read.parquet(root)
      .join(broadcast(dim), "ship_month")
      .groupBy(col("ship_month"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double")
          .as("sum_price"))

  def q194DppPrune(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9_]", "_")
    val root = s"${System.getProperty("user.dir")}/target/" +
      s"graft_dpp_${safe}_${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      writePartitioned(s, dir, root)
      Materialize.sorted(prunedAgg(s, root, urgentMonths(s, dir)),
        col("ship_month"))
    } finally Upsert.rmTree(new java.io.File(root))
  }

  /** Monthly per-flag partials — exact decimal sums so state ∪ delta
    * re-aggregation commutes ([[graft.operators.Incremental.mergePartials]]
    * rule). */
  private def monthlyAgg(fact: DataFrame): DataFrame =
    fact.groupBy(col("ship_month"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(12,2)")).as("sum_qty"))

  /** The incremental refresh read: everything at or after the watermark
    * month — a LITERAL predicate on the partition column, so pruning is
    * static (PlanShapeSpec pins PartitionFilters + an exact scanned-
    * directory count on this function's plan). */
  def refreshRead(s: SparkSession, root: String, wmMonth: String): DataFrame =
    s.read.parquet(root).filter(col("ship_month") >= lit(wmMonth))

  /** q198: watermark/overlap-by-1 incremental refresh COMPOSED WITH the
    * q194 date-partitioned layout — the reference's actual nightly read
    * shape (forward-fill.ts:100-133 recomputes [max(date) − overlap,
    * today] over date-keyed tables). q194 proved the layout prunes; the
    * Incremental spec proved the watermark algebra; this program proves
    * them TOGETHER: the refresh read's plan touches only the
    * [watermark, newest] partition directories, and the healed output is
    * bit-identical to the full recompute.
    *
    * The program replays one nightly run: the standing state (last
    * night's output) fully covers every month strictly before the
    * watermark month and PARTIALLY covers the watermark month itself
    * (the partially-written latest day forward-fill self-heals by
    * re-reading it); the newest month arrived since last run and is
    * absent entirely. The watermark is then derived the reference's way —
    * `max(date)` of the standing target (a 1-row metadata read) — the
    * refresh re-reads `[wm, ∞)` FROM THE PARTITIONED LAYOUT (2 of ~84
    * directories; no task is scheduled for the rest), and the healed
    * state is `state[< wm] ∪ agg(refresh)`: the partial watermark-month
    * partials are REPLACED, not merged (overlap-by-1's idempotent
    * re-read), so a half-written day can never double-count.
    *
    * At 100 TB the arithmetic is the whole point: state is
    * key-cardinality-sized, the nightly scan is bounded by the overlap
    * window — ~2/84ths of the fact — and the only full-table pass is the
    * one-off layout write. The oracle is the full recompute over the raw
    * table: healed ≡ full is exactly the self-healing contract. */
  def q198IncrementalPartitioned(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9_]", "_")
    val root = s"${System.getProperty("user.dir")}/target/" +
      s"graft_incr_${safe}_${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      writePartitioned(s, dir, root)
      val base = Tables.lineitem(s, dir)
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      // newest + watermark month, derived from data (bounded: ~84 rows)
      val top2 = base.select(col("ship_month")).distinct()
        .orderBy(col("ship_month").desc).limit(2)
        .collect().map(_.getString(0))
      val wmMonth = top2.min
      // last night's standing state: full partials < wm, HALF the wm
      // month (even order keys — the partially-written day), newest
      // month absent. Checkpointed: it stands in for a materialized
      // target table, not a live lineage.
      val state = Materialize.pin(monthlyAgg(
          base.filter(col("ship_month") < lit(wmMonth)).unionByName(
            base.filter(col("ship_month") === lit(wmMonth) &&
              col("l_orderkey") % 2 === 0))))
      // the reference's watermark read: max(date) of the target
      val wm = state.agg(max(col("ship_month"))).collect()(0).getString(0)
      val healed = state.filter(col("ship_month") < lit(wm))
        .unionByName(monthlyAgg(refreshRead(s, root, wm)))
      Materialize.sorted(healed.select(col("ship_month"), col("l_returnflag"),
          col("n_items"), col("sum_qty").cast("double").as("sum_qty")),
        col("ship_month"), col("l_returnflag"))
    } finally Upsert.rmTree(new java.io.File(root))
  }

  /** Full recompute over the raw table — healed incremental state must be
    * indistinguishable from it (the self-healing contract). */
  val oracleQ198: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Same semantics over the raw (un-partitioned) table: the layout must
    * never change results — partitioning is physical, not logical. */
  val oracleQ194: String =
    """WITH mon AS (
      |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
      |  FROM orders
      |  WHERE o_orderpriority = '1-URGENT'
      |    AND o_orderdate >= DATE '1995-01-01'
      |    AND o_orderdate <  DATE '1995-04-01')
      |SELECT l.ship_month,
      |  CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |        l_quantity, l_extendedprice
      |      FROM lineitem) l
      |JOIN mon ON l.ship_month = mon.ship_month
      |GROUP BY 1
      |ORDER BY 1""".stripMargin
}
