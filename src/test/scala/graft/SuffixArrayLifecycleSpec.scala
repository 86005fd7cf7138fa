package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SuffixArray

/** Block and conf ownership of [[SuffixArray.corpusRanks]]: the call
  * releases every block it made except its result's own checkpoint, and
  * it never writes session conf. Checked on all three paths — the ASCII
  * radix seed with doubling rounds, the non-ASCII code-point seed, and an
  * ASCII level-4 call that the seed alone answers.
  */
class SuffixArrayLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("corpusRanks leaves only its result checkpoint and keeps session conf") {
    import spark.implicits._
    val sc = spark.sparkContext
    val coPartKey = "spark.sql.requireAllClusterKeysForCoPartition"
    val ascii = Seq((1L, "abcabcabd" * 6), (2L, "xbcabcabd" * 5),
      (3L, "zz")).toDF("doc_id", "text")
    val nonAscii = Seq((1L, "株式会社決算報告書" * 3),
      (2L, "決算報告書の株式会社")).toDF("doc_id", "text")
    val calls = Seq(
      ("ASCII total", ascii, SuffixArray.SaRounds, true, true),
      ("non-ASCII total", nonAscii, SuffixArray.SaRounds, true, false),
      ("ASCII level 4", ascii, 4, false, true))
    calls.foreach { case (name, docs, level, total, seedOk) =>
      val confBefore = spark.conf.getOption(coPartKey)
      val before = sc.getPersistentRDDs.keySet
      val out = SuffixArray.corpusRanks(spark, docs, level, total)
      assert(SuffixArray.lastSeedOk.contains(seedOk), s"$name: seed path")
      assert(out.as[(Long, Long, Long)].collect().length == docs
        .as[(Long, String)].collect().map(_._2.length).sum,
        s"$name: one rank per suffix")
      val own = out.queryExecution.logical.collect {
        case r: LogicalRDD => r.rdd.id
      }.toSet
      assert(own.size == 1, s"$name: result must be a checkpoint")
      assert(sc.getPersistentRDDs.keySet -- before == own,
        s"$name: blocks left behind besides the result's checkpoint")
      assert(spark.conf.getOption(coPartKey) == confBefore,
        s"$name: session conf changed")
    }
  }
}
