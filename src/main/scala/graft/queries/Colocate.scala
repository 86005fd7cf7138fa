package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Materialize, Upsert}
import graft.sources.Bucketed

/** q53: the bucketed co-located join program — customer×orders clustered
  * on the customer key (the screen view's nightly fundamentals×technicals
  * join shape, 00051_create_stock_screen_view.sql:39-53, re-expressed as
  * a storage-layout decision). Both sides are written `bucketBy(16, key)`
  * once, then the join AND the per-customer aggregation run without a
  * single Exchange — the plan regression spec pins that property. At
  * 100 TB this turns the nightly refresh's two largest shuffles into
  * local merge-joins.
  */
object Colocate {

  private val NBuckets = 16

  /** Write both sides bucketed (unique per-invocation names — same
    * no-shared-mutable-root rule as q45's publish path), join + aggregate
    * co-located, then DROP the tables and delete their files: the result
    * is pinned first (customer-sized), so repeated
    * gate runs no longer accumulate one bucketed table pair per
    * invocation. */
  def q53BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // no dots/dashes: the suffix is also a TABLE name, where '.' would
    // parse as a schema qualifier
    val safe = dir.replaceAll("[^A-Za-z0-9_]", "_")
    val sfx = s"${safe}_${java.util.UUID.randomUUID().toString.take(8)}"
    val root = s"${System.getProperty("user.dir")}/target/graft_bucketed_$sfx"
    val (cTab, oTab) = (s"customer_b_$sfx", s"orders_b_$sfx")
    try {
      Bucketed.writeBucketed(Tables.customer(s, dir), cTab, s"$root/c",
        "c_custkey", NBuckets)
      Bucketed.writeBucketed(Tables.orders(s, dir), oTab, s"$root/o",
        "o_custkey", NBuckets)
      // localCheckpoint (eager), NOT persist: DROP TABLE invalidates any
      // cached plan that references the table, so a plain cache would be
      // recomputed against deleted files; the checkpoint truncates lineage
      // so the (customer-sized) result outlives its backing tables. On a
      // real cluster a terminal result like this would be published to a
      // result table instead (checkpoint blocks die with executors).
      Materialize.pin(joined(s, cTab, oTab))
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $cTab")
      s.sql(s"DROP TABLE IF EXISTS $oTab")
      Upsert.rmTree(new java.io.File(root))
    }
  }

  /** The co-located join + aggregation over already-bucketed tables —
    * split out (without the gate-determinism sort, which legitimately
    * range-exchanges) so the plan spec can assert the compute part is
    * exchange-FREE. */
  def aggregated(s: SparkSession, cTab: String, oTab: String): DataFrame =
    Bucketed.colocatedJoin(s, cTab, oTab, "c_custkey", "o_custkey")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
          .as("total_spend"))

  def joined(s: SparkSession, cTab: String, oTab: String): DataFrame =
    aggregated(s, cTab, oTab).orderBy(col("c_custkey"))

  val oracleQ53: String =
    """SELECT c_custkey, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |GROUP BY 1, 2
      |ORDER BY c_custkey""".stripMargin
}
