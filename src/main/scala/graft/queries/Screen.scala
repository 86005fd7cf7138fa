package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Materialize, Upsert}

/** Screen view reading through the atomic publication marker
  * (00051_create_stock_screen_view.sql:49-53): fundamentals at their
  * latest as_of date LEFT JOINed to technicals *at the published snapshot
  * date* — not the newest data that exists. The query itself exercises the
  * full marker protocol: publish version 1, then stage a NEWER version 2
  * without flipping the marker; the read side must resolve `_PUBLISHED`
  * and see only version 1 (a crashed/ongoing writer never leaks a partial
  * or unpublished snapshot, refresh-technical.ts:181-196).
  *
  * The published content is a deterministic function of the base tables
  * (orders before a fixed cutoff), so the DuckDB oracle reproduces it with
  * a WHERE clause — proving the reader really resolved version 1: if it
  * read the staged version 2 (no cutoff), every pub_* column would
  * hash-mismatch.
  */
object Screen {

  private val PublishCutoff = "1997-01-01"

  def q45ScreenPublished(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)

    def techSnapshot(src: DataFrame): DataFrame =
      src.groupBy(col("o_custkey").as("code"))
        .agg(count(lit(1)).as("pub_n_orders"),
          max(struct(to_date(col("o_orderdate")).as("d"),
            col("o_orderkey").as("k"), col("o_totalprice").as("p"))).as("m"))
        .select(col("code"), col("m.d").as("pub_as_of"),
          col("m.p").as("pub_price"), col("pub_n_orders"))

    // v1 = the published snapshot (bounded by the cutoff)…
    val v1 = techSnapshot(o.filter(
      to_date(col("o_orderdate")) < lit(PublishCutoff).cast("date")))
    // …v2 = newer data, staged but NEVER published (no marker flip)
    val v2 = techSnapshot(o)

    val wLatest = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val fund = o.withColumn("rn", row_number().over(wLatest))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("code"),
        to_date(col("o_orderdate")).as("latest_orderdate"),
        col("o_totalprice").as("latest_price"))

    // Root is derived from the SANITIZED sfDir (no hashCode: collisions
    // between different dirs would silently share one root) plus a fresh
    // per-invocation suffix, so concurrent gate runs (Verify + Bench,
    // parallel CI) never race each other's reader. The published content
    // is a pure function of the base tables, so a unique root per call
    // changes nothing downstream; the result is pinned before the root
    // is deleted.
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = s"${System.getProperty("user.dir")}/target/graft_screen_pub_" +
      s"${safe}_${java.util.UUID.randomUUID().toString.take(8)}"
    try {
      Upsert.stageSnapshot(v1, root).publish("1")
      v2.write.mode(SaveMode.Overwrite).parquet(s"$root/v=2")
      val published = Tables.readParquet(s, Upsert.resolvePublished(root)
        .getOrElse(sys.error(s"no _PUBLISHED marker under $root")))
      Materialize.sorted(fund.join(published, Seq("code"), "left")
        .select(col("code"), col("latest_orderdate"), col("latest_price"),
          col("pub_as_of"), col("pub_price"), col("pub_n_orders")), col("code"))
    } finally Upsert.rmTree(new java.io.File(root))
  }

  val oracleQ45: String =
    s"""WITH pub AS (
      |  SELECT code, pub_as_of, pub_price, pub_n_orders FROM (
      |    SELECT o_custkey AS code, CAST(o_orderdate AS DATE) AS pub_as_of,
      |      o_totalprice AS pub_price,
      |      row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
      |      CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS pub_n_orders
      |    FROM orders
      |    WHERE CAST(o_orderdate AS DATE) < DATE '$PublishCutoff') t
      |  WHERE rn = 1
      |), fund AS (
      |  SELECT o_custkey AS code, CAST(o_orderdate AS DATE) AS latest_orderdate,
      |    o_totalprice AS latest_price
      |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) t
      |  WHERE rn = 1
      |)
      |SELECT f.code, f.latest_orderdate, f.latest_price,
      |  p.pub_as_of, p.pub_price, p.pub_n_orders
      |FROM fund f LEFT JOIN pub p ON p.code = f.code
      |ORDER BY f.code""".stripMargin
}
