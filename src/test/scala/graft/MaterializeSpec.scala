package graft

import org.apache.spark.sql.{Column, DataFrame, GraftInterop}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Sort}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Materialize

/** The one pin entry ([[Materialize.pin]]): a bare checkpoint's rows and
  * partitioning with the measured size as its statistics. The sorted-output
  * gate ([[Materialize.sorted]]): the rows and order of `orderBy`, pinned;
  * a shuffled-join tail is pinned before the sort and released after it;
  * any other child sorts as it is. The scope
  * ([[Materialize.withMaterialized]]) is a pin released on exit, also
  * when its body throws: it leaves nothing in Spark's cache and no
  * persistent RDD, and a lazy plan that escapes it fails. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def left: DataFrame = spark.range(0, 400)
    .select(col("id"), (col("id") % 7).as("g"), (col("id") * 3).as("x"))
  private def right: DataFrame = spark.range(0, 400, 2)
    .select(col("id"), (col("id") % 5).as("h"))

  /** A shuffled join under Project and Filter: the q112 tail. */
  private def joinChild: DataFrame =
    left.join(right.hint("shuffle_hash"), Seq("id"))
      .filter(col("h") =!= 3).select(col("id"), col("g"), col("x"), col("h"))
  /** Joins the planner broadcasts: by hint, and by size (both sides are
    * far under `autoBroadcastJoinThreshold`). */
  private def broadcastChildren: Seq[DataFrame] = Seq(
    left.join(broadcast(right), Seq("id")).select(col("id"), col("x")),
    left.crossJoin(right.agg(max(col("h")).as("mh"))).filter(col("mh") > 0),
    left.join(right, Seq("id"), "left").select(col("id"), col("h")))
  private def aggChild: DataFrame = left.groupBy(col("g"))
    .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))

  /** The q151 shape: a per-group top-k over a join. */
  private def rankedChild: DataFrame = joinChild
    .withColumn("rk", row_number().over(
      Window.partitionBy(col("g")).orderBy(col("x").desc)))
    .filter(col("rk") <= 3)

  /** The `localCheckpoint` actions `body` runs, in order, and its result. */
  private def checkpoints[A](body: => A): (Seq[QueryExecution], A) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.ListenerDrain.drain(sc)
    spark.listenerManager.register(l)
    try {
      val a = body
      org.apache.spark.ListenerDrain.drain(sc)
      import scala.jdk.CollectionConverters._
      (seen.asScala.toSeq, a)
    } finally spark.listenerManager.unregister(l)
  }

  /** The child the checkpointed sort read. */
  private def sortChild(qe: QueryExecution) = qe.optimizedPlan.collectFirst {
    case s: Sort if s.global => s.child
  }.getOrElse(fail(s"no global sort in ${qe.optimizedPlan}"))

  test("the gate returns orderBy's rows in orderBy's order") {
    val cases: Seq[(DataFrame, Seq[Column])] = Seq(
      joinChild -> Seq(col("x").desc),
      aggChild -> Seq(col("g")),
      rankedChild -> Seq(col("g"), col("rk")),
      joinChild.localCheckpoint() -> Seq(col("h"), col("id").desc))
    cases.foreach { case (df, keys) =>
      val out = Materialize.sorted(df, keys: _*)
      assert(out.queryExecution.logical.isInstanceOf[LogicalRDD])
      val got = out.collect().toSeq
      assert(got.nonEmpty)
      assert(got == df.orderBy(keys: _*).collect().toSeq)
    }
  }

  test("a shuffled join child is pinned: the sort reads an ExistingRDD") {
    val (cks, _) = checkpoints(Materialize.sorted(joinChild, col("id")))
    assert(cks.size == 2, cks.map(_.optimizedPlan))
    assert(cks.head.optimizedPlan.collectFirst { case j: Join => j }.nonEmpty)
    val child = sortChild(cks.last)
    assert(child.isInstanceOf[LogicalRDD], child)
    assert(cks.last.executedPlan.toString.contains("ExistingRDD"))
  }

  test("a checkpoint, aggregate, window or broadcast-join child is not pinned") {
    val ckpt = joinChild.localCheckpoint()
    val (c1, _) = checkpoints(Materialize.sorted(ckpt.filter(col("g") > 1),
      col("id")))
    assert(c1.size == 1)
    assert(sortChild(c1.head).collectFirst { case r: LogicalRDD => r }
      .exists(_.rdd.id == ckptRddId(ckpt)))
    val (c2, _) = checkpoints(Materialize.sorted(aggChild, col("g")))
    assert(c2.size == 1)
    assert(sortChild(c2.head).collectFirst { case a: Aggregate => a }
      .nonEmpty)
    val (c3, _) = checkpoints(Materialize.sorted(rankedChild, col("g")))
    assert(c3.size == 1)
    broadcastChildren.foreach { df =>
      val (c, out) = checkpoints(Materialize.sorted(df, col("id")))
      assert(c.size == 1, df.queryExecution.optimizedPlan)
      assert(sortChild(c.head).collectFirst { case j: Join => j }.nonEmpty)
      assert(out.collect().toSeq == df.orderBy(col("id")).collect().toSeq)
    }
  }

  private def ckptRddId(df: DataFrame): Int = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
    case p => fail(s"not a checkpoint: $p")
  }

  test("after the call the only new persistent RDD is the result's") {
    val sc = spark.sparkContext
    val children = Seq(joinChild, rankedChild, aggChild) ++ broadcastChildren
    children.foreach { df =>
      val before = sc.getPersistentRDDs.keySet
      val out = Materialize.sorted(df, col(df.columns.head))
      assert(sc.getPersistentRDDs.keySet -- before == Set(ckptRddId(out)))
    }
  }

  /** The three shapes whose checkpoint estimate is ~100x off: an explode
    * under-estimated (2000 x 51 rows), a join over-estimated (102 000
    * output rows), and a filtered range of 1000 ids. */
  private def explodeShape: DataFrame = spark.range(0, 2000)
    .select(col("id"), explode(sequence(lit(0L), lit(50L))).as("j"))
  private def joinShape: DataFrame =
    spark.range(0, 102000).join(spark.range(0, 102000), Seq("id"))
  private def rangeShape: DataFrame =
    spark.range(0, 100000).toDF().filter(col("id") % 100 === 0)

  private def logicalRdd(df: DataFrame): LogicalRDD =
    df.queryExecution.logical match {
      case r: LogicalRDD => r
      case p => fail(s"not a checkpoint: $p")
    }

  test("a pin's sizeInBytes is the stored bytes of its RDD") {
    Seq(explodeShape -> 102000L, joinShape -> 102000L, rangeShape -> 1000L)
      .foreach { case (df, rows) =>
        val p = Materialize.pin(df)
        try {
          val stored = GraftInterop.storedBytes(spark, logicalRdd(p).rdd.id)
          assert(stored > 0)
          assert(p.queryExecution.optimizedPlan.stats.sizeInBytes ==
            BigInt(stored))
          assert(p.count() == rows)
        } finally Materialize.release(p)
      }
    // an explode's estimate under-states it and a join's over-states it,
    // each by far more than 10x
    val e = Materialize.pin(explodeShape)
    val j = Materialize.pin(joinShape)
    try {
      assert(e.queryExecution.optimizedPlan.stats.sizeInBytes >
        explodeShape.localCheckpoint().queryExecution.optimizedPlan.stats
          .sizeInBytes * 10)
      assert(j.queryExecution.optimizedPlan.stats.sizeInBytes * 10 <
        joinShape.queryExecution.optimizedPlan.stats.sizeInBytes)
    } finally { Materialize.release(e); Materialize.release(j) }
  }

  test("a pin has a bare checkpoint's rows and outputPartitioning") {
    Seq(explodeShape, joinShape, rangeShape).foreach { df =>
      val bare = df.localCheckpoint()
      val p = Materialize.pin(df)
      try {
        assert(logicalRdd(p).outputPartitioning ==
          logicalRdd(bare).outputPartitioning)
        assert(logicalRdd(p).outputOrdering == logicalRdd(bare).outputOrdering)
        assert(p.collect().toSeq.sortBy(_.toString) ==
          bare.collect().toSeq.sortBy(_.toString))
      } finally { Materialize.release(p); Materialize.release(bare) }
    }
  }

  test("release(pin(x)) frees its blocks") {
    val sc = spark.sparkContext
    val p = Materialize.pin(rangeShape)
    val id = logicalRdd(p).rdd.id
    assert(sc.getPersistentRDDs.contains(id))
    assert(GraftInterop.storedBytes(spark, id) > 0)
    Materialize.release(p)
    assert(!sc.getPersistentRDDs.contains(id))
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    while (GraftInterop.storedBytes(spark, id) > 0 &&
        System.nanoTime < deadline) Thread.sleep(20)
    assert(GraftInterop.storedBytes(spark, id) == 0)
  }

  test("under a 1 MB broadcast threshold a join no longer broadcasts the pinned explode") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, (1L << 20).toString)
    val other = spark.range(0, 500000).select(col("id"), (col("id") % 3).as("m"))
    def broadcastsCheckpoint(ckpt: DataFrame): Boolean =
      other.join(ckpt, Seq("id")).queryExecution.sparkPlan
        .collect { case b: BroadcastHashJoinExec => b }.nonEmpty
    val bare = explodeShape.localCheckpoint()
    val p = Materialize.pin(explodeShape)
    try {
      assert(logicalRdd(p).computeStats().sizeInBytes > (1L << 20))
      assert(broadcastsCheckpoint(bare))
      assert(!broadcastsCheckpoint(p))
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      Materialize.release(p); Materialize.release(bare)
    }
  }

  test("a failed fill leaves nothing in the cache") {
    val df = spark.range(0, 10)
      .select(when(col("id") === 7, raise_error(lit("boom")))
        .otherwise(col("id")).as("x"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](Materialize.withMaterialized(df)(_.count()))
    assert(e.getMessage.contains("boom"))
    // nor blocks of the partitions that finished before it failed
    assert(spark.sparkContext.getPersistentRDDs.keySet -- before == Set.empty)
    // storageLevel is the CacheManager lookup of df's plan: NONE = absent
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("a withMaterialized scope leaves no cache entry and no persistent RDD, returned or thrown") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(Materialize.withMaterialized(joinShape)(_.count()) == 102000L)
    assert(sc.getPersistentRDDs.keySet -- before == Set.empty)
    assert(cacheIsEmpty)
    val e = intercept[IllegalStateException](
      Materialize.withMaterialized(explodeShape) { h =>
        assert(sc.getPersistentRDDs.contains(logicalRdd(h).rdd.id))
        throw new IllegalStateException("body failed")
      })
    assert(e.getMessage == "body failed")
    assert(sc.getPersistentRDDs.keySet -- before == Set.empty)
    assert(cacheIsEmpty)
  }

  test("a withMaterialized handle's sizeInBytes is its stored bytes") {
    Materialize.withMaterialized(explodeShape) { h =>
      val stored = GraftInterop.storedBytes(spark, logicalRdd(h).rdd.id)
      assert(stored > 0)
      assert(h.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(stored))
    }
  }

  test("a lazy plan over the handle that escapes its scope fails instead of recomputing") {
    val escaped = Materialize.withMaterialized(rangeShape)(
      _.filter(col("id") % 200 === 0))
    val e = intercept[Exception](escaped.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("Checkpoint block")), msgs.mkString(" | "))
  }
}
