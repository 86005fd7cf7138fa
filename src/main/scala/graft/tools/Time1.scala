package graft.tools

import org.apache.spark.sql.SparkSession

/** Time one gate query N times in a single JVM (noise-resistant profiling):
  * `runMain graft.tools.Time1 <queryName> [sfDir] [reps]`. */
object Time1 {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        graft.Session.CodegenCacheMaxEntries)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "134217728"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"TIME1 $name rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
