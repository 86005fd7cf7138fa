package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

/** Fixed-point pin for the q204 label-propagation communities: the gate
  * runs a FIXED round count ([[TextQueries.LpaRounds]]), which only
  * means something if the labels have actually stabilized by then. On a
  * planted-community fixture (two 5-cliques joined by one bridge edge)
  * this spec asserts (a) round N equals round N+1 — a true fixed point,
  * not a lucky snapshot — and (b) the fixed point recovers exactly the
  * planted communities, bridge notwithstanding (the min-tie rule keeps
  * the bridge endpoint with its own clique's majority). This does for
  * q204 what the clustered-recall spec (AnnSpec) did for q195. */
class LpaFixedPointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def planted = {
    val cliqueA = 0L to 4L
    val cliqueB = 10L to 14L
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a != b) yield (a, b)
    val edges = clique(cliqueA) ++ clique(cliqueB) ++
      Seq((4L, 10L), (10L, 4L)) // the bridge, symmetrized
    val sym = spark.createDataFrame(edges).toDF("id1", "id2").distinct()
    val nodes = spark.createDataFrame((cliqueA ++ cliqueB).map(Tuple1(_)))
      .toDF("node")
    (sym, nodes)
  }

  private def labelsAt(rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    val (sym, nodes) = planted
    TextQueries.lpaRun(sym, nodes, rounds)
      .as[(Long, Long)].collect().toMap
  }

  test("LPA reaches a fixed point: rounds N and N+1 agree") {
    val n = TextQueries.LpaRounds
    val atN = labelsAt(n)
    val atN1 = labelsAt(n + 1)
    assert(atN == atN1,
      s"labels still moving between rounds $n and ${n + 1}: " +
        s"${atN.toSeq.sorted} vs ${atN1.toSeq.sorted}")
  }

  test("the fixed point recovers the planted communities across the bridge") {
    val fixed = labelsAt(TextQueries.LpaRounds)
    val aLabels = (0L to 4L).map(fixed).toSet
    val bLabels = (10L to 14L).map(fixed).toSet
    assert(aLabels.size == 1, s"clique A split: $aLabels")
    assert(bLabels.size == 1, s"clique B split: $bLabels")
    assert(aLabels != bLabels, "bridge merged the planted communities")
  }
}
