package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  /** Bench's and Verify's session at their default width of 4 cores,
    * whatever `SPARK_GRAFT_CPUS` says: specs that count partitions, tasks
    * or jobs are written against 4. */
  lazy val spark: SparkSession = Session.local(4)
}

class CoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has an oracle or is explicitly rows-only") {
    // every oracle key must exist in queries (the converse is allowed:
    // rows-only queries have no oracle)
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs),
      s"orphan oracles: ${SparkEntry.oracleSql.keySet -- qs}")
  }

  test("all queries execute and return rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("jsRound matches JS Math.round semantics") {
    import spark.implicits._
    val df = Seq(2.675, 2.5, -2.5, 0.125, 1.005).toDF("x")
      .select(graft.functions.jsRound(col("x"), 2).as("r"))
    val got = df.collect().map(_.getDouble(0)).toSeq
    // JS: Math.round(x*100)/100 on the double values (2.675*100.0 == 267.5
    // exactly in IEEE-754, so it rounds up; 1.005*100.0 == 100.49999…, down)
    assert(got.toSeq == Seq(2.68, 2.5, -2.5, 0.13, 1.0))
  }

  test("rowMean is null-aware") {
    import spark.implicits._
    val df = Seq((Some(10.0), Some(20.0)), (Some(10.0), None),
        (None, None): (Option[Double], Option[Double]))
      .toDF("a", "b")
      .select(graft.functions.rowMean(col("a"), col("b")).as("m"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(15.0), Some(10.0), None))
  }

  test("asof join picks latest at-or-before, per key") {
    import spark.implicits._
    val left = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 5L, "l3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (2L, 6L, 60.0))
      .toDF("k", "t", "v")
    val out = graft.operators.AsOfJoin.backward(
        left, right, Seq("k"), "t", "t", Seq("v"))
      .orderBy("tag").collect()
    // l1@10 sees v=100 (inclusive); l2@20 sees v=150; l3@5 sees nothing
    assert(out.map(r => Option(r.getAs[Any]("v"))).toSeq ==
      Seq(Some(100.0), Some(150.0), None))
  }

  test("keyed upsert is idempotent and new rows win") {
    import spark.implicits._
    val existing = Seq((1, "old"), (2, "keep")).toDF("k", "v")
    val incoming = Seq((1, "new"), (3, "add")).toDF("k", "v")
    val up = graft.operators.Upsert.keyed(existing, incoming, Seq("k"))
    val m = up.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m == Map(1 -> "new", 2 -> "keep", 3 -> "add"))
    val again = graft.operators.Upsert.keyed(up, incoming, Seq("k"))
    assert(again.count() == 3)
  }

  test("sessionization: sessions are gap-separated, indices contiguous per user") {
    import graft.queries.AnalyticsQueries
    val rows = AnalyticsQueries.q102Sessionize(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    val gapUs = AnalyticsQueries.SessionGapSec * 1000000L
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rs) =>
      val byIdx = rs.sortBy(_.getAs[Long]("session_idx"))
      assert(byIdx.map(_.getAs[Long]("session_idx")).toSeq ==
        (1L to byIdx.length.toLong), s"user $u indices not contiguous")
      // consecutive sessions must be separated by MORE than the gap
      byIdx.sliding(2).foreach {
        case Array(a, b) =>
          val endA = a.getAs[java.sql.Timestamp]("session_end").getTime * 1000L
          val startB = b.getAs[java.sql.Timestamp]("session_start").getTime * 1000L
          assert(startB - endA > gapUs - 1000000L, s"user $u sessions touch")
        case _ =>
      }
    }
  }

  test("retention: offset-0 equals cohort size and bounds every later offset") {
    import graft.queries.AnalyticsQueries
    val rows = AnalyticsQueries.q104RetentionCohorts(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val day0 = rs.find(_._2 == 0L)
      assert(day0.isDefined, s"cohort $c missing offset 0")
      // day-0 actives = cohort size; no later offset can exceed it
      assert(rs.forall(_._3 <= day0.get._3), c)
      assert(rs.forall(_._2 >= 0L), c)
    }
  }

  test("funnel: stage timestamps are ordered and within the window") {
    import graft.queries.AnalyticsQueries
    val rows = AnalyticsQueries.q103Funnel(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length == 150)
    val winUs = AnalyticsQueries.FunnelWindowSec * 1000000L
    rows.foreach { r =>
      val stage = r.getAs[Long]("stage")
      val t1 = Option(r.getAs[java.lang.Long]("t1")).map(_.toLong)
      val t2 = Option(r.getAs[java.lang.Long]("t2")).map(_.toLong)
      val t3 = Option(r.getAs[java.lang.Long]("t3")).map(_.toLong)
      assert((stage >= 1) == t1.isDefined)
      assert((stage >= 2) == t2.isDefined)
      assert((stage >= 3) == t3.isDefined)
      for (a <- t1; b <- t2) { assert(b >= a && b - a <= winUs) }
      for (a <- t2; b <- t3) { assert(b >= a && b - a <= winUs) }
    }
    assert(rows.exists(_.getAs[Long]("stage") == 3L))
  }

  test("grouped OLS: moments match a driver-side exact recomputation") {
    import graft.queries.AnalyticsQueries
    val got = AnalyticsQueries.q106GroupedOls(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Double]("slope"),
          r.getAs[Double]("intercept"), r.getAs[Double]("r2")))
      .toMap
    assert(got.nonEmpty)
    // brute-force the same normal equations on the raw rows
    val raw = Tables.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
          .cast("long").as("x"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("ys"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    raw.groupBy(_._1).foreach { case (et, rows) =>
      val n = rows.length.toDouble
      val sx = rows.map(_._2).sum.toDouble
      val sy = rows.map(_._3).sum.toDouble
      val sxx = rows.map(t => t._2 * t._2).sum.toDouble
      val sxy = rows.map(t => t._2 * t._3).sum.toDouble
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx) / 100.0
      val (gn, gslope, gint, gr2) = got(et)
      assert(gn == rows.length.toLong)
      assert(math.abs(gslope - slope) < 1e-9, s"$et slope")
      // residual orthogonality: intercept closes the mean equation
      assert(math.abs(gint - (sy / n / 100.0 - gslope * (sx / n))) < 1e-9, et)
      assert(gr2 >= 0.0 && gr2 <= 1.0, s"$et r2=$gr2")
    }
  }

  test("cube rollup: every grain is consistent with the finest grain") {
    import graft.queries.Advanced
    val rows = Advanced.q107CubeRollup(spark, sf).collect()
      .map(r => (Option(r.getAs[String]("source")),
        Option(r.getAs[String]("lang")), r.getAs[Long]("gid"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("sum_chars")))
    val fine = rows.filter(_._3 == 0L)
    val bySource = rows.filter(_._3 == 1L) // lang rolled up
    val byLang = rows.filter(_._3 == 2L) // source rolled up
    val total = rows.filter(_._3 == 3L)
    assert(total.length == 1)
    assert(total(0)._4 == fine.map(_._4).sum)
    assert(total(0)._5 == fine.map(_._5).sum)
    bySource.foreach { case (src, _, _, n, sc) =>
      val f = fine.filter(_._1 == src)
      assert(n == f.map(_._4).sum && sc == f.map(_._5).sum, s"source $src")
    }
    byLang.foreach { case (_, lg, _, n, sc) =>
      val f = fine.filter(_._2 == lg)
      assert(n == f.map(_._4).sum && sc == f.map(_._5).sum, s"lang $lg")
    }
  }

  test("Welch t-test: sign tracks the mean difference, df bounded by arms") {
    import graft.queries.AnalyticsQueries
    val control = AnalyticsQueries.ControlGroup
    val rows = AnalyticsQueries.q114WelchTTest(spark, sf).collect()
    assert(rows.length == 4 && !rows.exists(_.getString(0) == control))
    rows.foreach { r =>
      val (n, mean, v) = (r.getAs[Long]("n"), r.getAs[Double]("mean"),
        r.getAs[Double]("v"))
      val (t, df) = (r.getAs[Double]("t_stat"), r.getAs[Double]("df"))
      assert(n > 1 && v > 0.0)
      // df is between min(n-1, n0-1) and n + n0 - 2 (Welch-Satterthwaite)
      assert(df > 1.0 && df < 2.0 * n + 1e6, r.getString(0))
      assert(!t.isNaN && !df.isNaN)
      // sign consistency needs the control mean; recompute it cheaply
      val cm = Tables.events(spark, sf)
        .filter(col("event_type") === control)
        .agg(avg(floor(col("value") * 100 + lit(0.5)).cast("long") / 100.0))
        .collect()(0).getDouble(0)
      assert((t > 0) == (mean > cm) || math.abs(mean - cm) < 1e-12)
    }
  }

  test("source overlap: jaccard bounded, intersection within set sizes") {
    import graft.queries.TextQueries
    val rows = TextQueries.q115SourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s1, s2) = (r.getString(0), r.getString(1))
      val (i, z1, z2) = (r.getAs[Long]("inter"), r.getAs[Long]("sz1"),
        r.getAs[Long]("sz2"))
      val j = r.getAs[Double]("jaccard")
      assert(s1 < s2)
      assert(i >= 1 && i <= math.min(z1, z2), s"$s1/$s2")
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("linear interp: gap values lie between brackets, observed rows echo closes") {
    import graft.queries.AnalyticsQueries
    val rows = AnalyticsQueries.q117LinearInterp(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getBoolean(2),
        Option(r.getAs[java.lang.Double]("px")).map(_.toDouble)))
    assert(rows.nonEmpty && rows.exists(!_._3)) // at least one gap day
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val days = rs.map(_._2).sorted
      // spine is dense: consecutive calendar days, endpoints observed
      assert(java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(days.head),
        java.time.LocalDate.parse(days.last)) == days.length - 1, s"user $u")
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._3 && sorted.last._3, s"user $u endpoints")
      // every gap value is between its bracketing observed values
      var prev = sorted.head._4.get
      sorted.zipWithIndex.foreach { case ((_, _, obs, px), i) =>
        if (!obs) {
          val next = sorted.drop(i).find(_._3).get._4.get
          val (lo, hi) = (math.min(prev, next), math.max(prev, next))
          assert(px.get >= lo - 1e-9 && px.get <= hi + 1e-9, s"user $u day $i")
        } else prev = px.get
      }
    }
  }

  test("growth metrics: wau bounds dau and cum, cum nondecreasing") {
    import graft.queries.AnalyticsQueries
    val rows = AnalyticsQueries.q121GrowthMetrics(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.nonEmpty)
    val dau = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .groupBy("day").count().collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    var prevCum = 0L
    rows.sortBy(_._1).foreach { case (day, wau, nu, cum) =>
      assert(wau >= dau(day), s"$day wau<dau")
      assert(wau <= cum, s"$day wau>cum")
      assert(cum >= prevCum && nu >= 0, day)
      prevCum = cum
    }
  }

  test("embed stats: dims complete, variance non-negative, n constant") {
    import graft.queries.TextQueries
    val rows = TextQueries.q108EmbedStats(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("dim")).toSeq ==
      (0L until TextQueries.AnnDims.toLong))
    val ns = rows.map(_.getAs[Long]("n")).distinct
    assert(ns.length == 1 && ns(0) > 0)
    rows.foreach { r =>
      assert(r.getAs[Double]("var_pop") >= 0.0)
      assert(math.abs(r.getAs[Double]("mean")) < 1.0)
    }
  }
}
