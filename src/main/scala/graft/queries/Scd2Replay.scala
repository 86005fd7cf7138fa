package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Materialize, Scd2}

/** q58 — deterministic SCD2 merge replay (equity-master.ts:501-607 daily
  * sync, run three times): three full snapshots with membership and
  * attribute churn are merged through [[Scd2.merge]] and the FINAL history
  * table is oracle-gated. The sequence exercises every transition the
  * reference's sync performs: unchanged carry-through, changed
  * (close-then-insert with exclusive valid_to = the new valid_from),
  * new listing, delisting (close at the effective date), and re-listing
  * after a delist (a fresh current row; the closed row stays).
  *
  * Snapshot churn rules (key k = c_custkey): membership excludes
  * k ≡ i (mod 10) from snapshot i; the `seg` attribute flips every
  * snapshot for k ≡ 0 (mod 3) and stays "base" otherwise; `nat` is a
  * stable second attribute.
  */
object Scd2Replay {

  private val Days = Seq("2024-01-01", "2024-02-01", "2024-03-01")
    .map(java.sql.Date.valueOf)

  def q58Scd2Replay(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    def snap(i: Int): DataFrame = c.filter(col("c_custkey") % 10 =!= i)
      .select(col("c_custkey").as("code"),
        when(col("c_custkey") % 3 === 0, lit(s"v$i")).otherwise(lit("base"))
          .as("seg"),
        col("c_nationkey").as("nat"))
    val s1 = snap(1)
    val empty = s1.filter(lit(false))
      .withColumn("valid_from", lit(null).cast("date"))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(false))
    val keys = Seq("code")
    val attrs = Seq("seg", "nat")
    // localCheckpoint (eager) between merges: each merge references its
    // full-outer diff five times (unchanged/changed×2/added/delisted), so
    // an unmaterialized chain re-executes the previous level per branch —
    // exponential growth by round 3. A cache alone is not enough: it
    // keeps data but each level's LOGICAL plan still embeds all previous
    // levels five-fold, and Catalyst re-analysis dominates (same lineage
    // blowup as Dedup.connectedComponents).
    val h1 = Materialize.pin(Scd2.merge(empty, s1, keys, attrs, Days(0)))
    val h2 = Materialize.pin(Scd2.merge(h1, snap(2), keys, attrs, Days(1)))
    Scd2.merge(h2, snap(3), keys, attrs, Days(2))
      .orderBy(col("code"), col("valid_from"))
  }

  /** q196 — streaming CDC→SCD2 apply ([[graft.streaming.StreamScd2]]):
    * the SAME three snapshots as q58 arrive as a change stream tagged
    * with effective dates, deliberately mis-aligned with micro-batch
    * boundaries (snapshot 2 is split across two batches; one batch spans
    * the snapshot-2/snapshot-3 boundary), and `foreachBatch` maintains
    * the history through [[Scd2.merge]]. The gate's oracle IS q58's —
    * stream ≡ batch replay, row for row, which is precisely the CDC
    * contract: micro-batching must be unobservable in the history table.
    */
  def q196StreamScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.{StreamRunner, StreamScd2}
    import graft.streaming.StreamScd2.Chg
    // the per-snapshot collect is the MemoryStream test transport (the
    // documented bounded slice that FEEDS the stream, not the operator)
    def rows(i: Int): Seq[Chg] = {
      val c = Tables.customer(s, dir)
      c.filter(col("c_custkey") % 10 =!= i)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0, lit(s"v$i")).otherwise(lit("base")),
          col("c_nationkey"))
        .as[(Long, String, Long)].collect().toSeq
        .map { case (code, seg, nat) => Chg(Days(i - 1), code, seg, nat) }
    }
    val (r1, r2, r3) = (rows(1), rows(2), rows(3))
    val m = new StreamScd2.Maintainer(s)
    // batch 1: snapshot 1 + the FIRST HALF of snapshot 2 (boundary spans
    // snapshots); batch 2: rest of 2; batch 3: snapshot 3
    val (r2a, r2b) = r2.splitAt(r2.length / 2)
    StreamRunner.foreachBatch(s, Seq(r1 ++ r2a, r2b, r3))(m.absorb)
    m.flush() // snapshot 3 has no successor — explicit end-of-stream
    m.current.orderBy(col("code"), col("valid_from"))
  }

  /** One unrolled merge step as a DuckDB CTE (the five branches of
    * [[Scd2.merge]] verbatim). */
  private def sqlMerge(h: String, sn: String, out: String, asOf: String): String =
    s"""$out AS (
       |  SELECT * FROM $h WHERE NOT is_current
       |  UNION ALL
       |  SELECT h.* FROM (SELECT * FROM $h WHERE is_current) h
       |  JOIN $sn s ON s.code = h.code
       |  WHERE s.seg IS NOT DISTINCT FROM h.seg
       |    AND s.nat IS NOT DISTINCT FROM h.nat
       |  UNION ALL
       |  SELECT h.code, h.seg, h.nat, h.valid_from, DATE '$asOf', FALSE
       |  FROM (SELECT * FROM $h WHERE is_current) h
       |  JOIN $sn s ON s.code = h.code
       |  WHERE NOT (s.seg IS NOT DISTINCT FROM h.seg
       |         AND s.nat IS NOT DISTINCT FROM h.nat)
       |  UNION ALL
       |  SELECT s.code, s.seg, s.nat, DATE '$asOf', CAST(NULL AS DATE), TRUE
       |  FROM (SELECT * FROM $h WHERE is_current) h
       |  JOIN $sn s ON s.code = h.code
       |  WHERE NOT (s.seg IS NOT DISTINCT FROM h.seg
       |         AND s.nat IS NOT DISTINCT FROM h.nat)
       |  UNION ALL
       |  SELECT s.code, s.seg, s.nat, DATE '$asOf', CAST(NULL AS DATE), TRUE
       |  FROM $sn s LEFT JOIN (SELECT * FROM $h WHERE is_current) h
       |    ON h.code = s.code
       |  WHERE h.code IS NULL
       |  UNION ALL
       |  SELECT h.code, h.seg, h.nat, h.valid_from, DATE '$asOf', FALSE
       |  FROM (SELECT * FROM $h WHERE is_current) h
       |  LEFT JOIN $sn s ON s.code = h.code
       |  WHERE s.code IS NULL
       |)""".stripMargin

  val oracleQ58: String = {
    def snapSql(i: Int): String =
      s"""s$i AS (
         |  SELECT c_custkey AS code,
         |    CASE WHEN c_custkey % 3 = 0 THEN 'v$i' ELSE 'base' END AS seg,
         |    c_nationkey AS nat
         |  FROM customer WHERE c_custkey % 10 <> $i
         |)""".stripMargin
    s"""WITH ${snapSql(1)}, ${snapSql(2)}, ${snapSql(3)},
       |h1 AS (
       |  SELECT code, seg, nat, DATE '${Days(0)}' AS valid_from,
       |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
       |  FROM s1
       |),
       |${sqlMerge("h1", "s2", "h2", Days(1).toString)},
       |${sqlMerge("h2", "s3", "h3", Days(2).toString)}
       |SELECT code, seg, nat, valid_from, valid_to, is_current
       |FROM h3 ORDER BY code, valid_from""".stripMargin
  }
}
