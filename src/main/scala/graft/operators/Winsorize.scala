package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed type-7 winsorize-bound computation shared by the factor
  * pipelines (q25, q56). See [[interpBoundsMulti]]. */
object Winsorize {
  /** Winsorize bounds — type-7 linear interpolation at (p01, p99)
    * (factor-vectors.ts percentile(), :191-213) — for SEVERAL columns from
    * ONE stacked global sort. The columns are exploded into (dim, value)
    * rows and range-sorted on (dim, value), so each dimension's rows are
    * contiguous in partition order; the sorted rows are pinned
    * ([[Materialize.sorted]]), one pass over the pin records per-partition
    * per-dim counts, the driver maps each dimension's ≤4 wanted ranks to
    * (partition, local offset), and a second pass fetches exactly those
    * values. Total: 4 jobs for ALL dimensions (sort sample, pin, counts,
    * fetch) and ≤4 doubles per dimension to the driver — never a
    * whole-column collect, never a single-partition window, and no
    * per-dimension sort+count+zipWithIndex pipeline (which cost ~5 jobs per
    * dimension). At 100× the cross-section this is still one distributed
    * sort of nDims×nRows skinny rows. */
  def interpBoundsMulti(df: DataFrame, dims: Seq[(String, Column)])
      : Map[String, (Double, Double)] = {
    val stacked = Materialize.sorted(df.select(explode(array(dims.map {
        case (d, x) => struct(lit(d).as("d"), x.cast("double").as("v")) }: _*))
        .as("s"))
      .select(col("s.d").as("d"), col("s.v").as("v"))
      .na.drop(Seq("v")), col("d"), col("v"))
    try {
      val rdd = stacked.rdd
      // pass 1: per-partition per-dim counts, in encounter order
      val partCounts: Array[(Int, List[(String, Long)])] =
        rdd.mapPartitionsWithIndex { (pi, it) =>
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
          it.foreach { r =>
            val d = r.getString(0); m.update(d, m.getOrElse(d, 0L) + 1L)
          }
          Iterator.single((pi, m.toList))
        }.collect().sortBy(_._1)
      val nByDim: Map[String, Long] = partCounts.iterator.flatMap(_._2)
        .toSeq.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      def ranks(n: Long, p: Double): (Long, Long, Double) = {
        val idx = p * (n - 1).toDouble
        (math.floor(idx).toLong, math.ceil(idx).toLong, idx)
      }
      val wanted: Map[String, Set[Long]] = nByDim.collect {
        case (d, n) if n > 0 =>
          val (l1, h1, _) = ranks(n, 0.01); val (l2, h2, _) = ranks(n, 0.99)
          d -> Set(l1, h1, l2, h2)
      }
      // locate each wanted within-dim global rank as (partition, local idx)
      val wantLocal = scala.collection.mutable.Map.empty[Int, Set[(String, Long)]]
      val globalOf = scala.collection.mutable.Map.empty[(Int, String, Long), Long]
      val offset = scala.collection.mutable.Map.empty[String, Long]
      partCounts.foreach { case (pi, cs) =>
        cs.foreach { case (d, cnt) =>
          val off = offset.getOrElse(d, 0L)
          wanted.getOrElse(d, Set.empty).foreach { g =>
            if (g >= off && g < off + cnt) {
              wantLocal(pi) = wantLocal.getOrElse(pi, Set.empty) + ((d, g - off))
              globalOf((pi, d, g - off)) = g
            }
          }
          offset(d) = off + cnt
        }
      }
      val bc = df.sparkSession.sparkContext.broadcast(wantLocal.toMap)
      // pass 2: fetch only the wanted values (reads the pin)
      val got: Map[(Int, String, Long), Double] =
        rdd.mapPartitionsWithIndex { (pi, it) =>
          val want = bc.value.getOrElse(pi, Set.empty[(String, Long)])
          if (want.isEmpty) Iterator.empty
          else {
            val local = scala.collection.mutable.Map.empty[String, Long]
            it.flatMap { r =>
              val d = r.getString(0)
              val li = local.getOrElse(d, 0L); local(d) = li + 1L
              if (want((d, li))) Iterator.single(((pi, d, li), r.getDouble(1)))
              else Iterator.empty
            }
          }
        }.collect().toMap
      val byGlobal: Map[(String, Long), Double] =
        got.map { case (k @ (_, d, _), v) => (d, globalOf(k)) -> v }
      // s[lo] + (s[hi] - s[lo]) * frac — the JS formula verbatim, so the
      // oracle (same expression in SQL doubles) agrees bit-for-bit
      def interp(d: String, lo: Long, hi: Long, idx: Double): Double = {
        val a = byGlobal((d, lo))
        if (lo == hi) a else a + (byGlobal((d, hi)) - a) * (idx - lo)
      }
      dims.map { case (d, _) =>
        nByDim.getOrElse(d, 0L) match {
          // all-null/empty column: winsorize degenerates to the identity
          // clamp rather than throwing on an empty rank map
          case 0 => d -> (Double.NegativeInfinity, Double.PositiveInfinity)
          case n =>
            val (l1, h1, i1) = ranks(n, 0.01)
            val (l2, h2, i2) = ranks(n, 0.99)
            d -> (interp(d, l1, h1, i1), interp(d, l2, h2, i2))
        }
      }.toMap
    } finally Materialize.release(stacked)
  }
}
