package graft.tools

/** Time one gate query N times in a single JVM (noise-resistant profiling):
  * `runMain graft.tools.Time1 <queryName> [sfDir] [reps]`. */
object Time1 {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Session.local(graft.Session.cpus)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"TIME1 $name rep$i ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
    }
    spark.stop()
  }
}
