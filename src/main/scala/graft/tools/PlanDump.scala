package graft.tools

/** Dump `.explain("formatted")` for named gate queries to files — the
  * optimization-round plan artifact (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <query> [query ...]
  *   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as for Bench.
  *
  * Note: imperative gates (streaming / landing control planes) EXECUTE
  * when constructed and return a checkpointed result, so their dump shows
  * the final materialized relation only; declarative queries dump the full
  * physical plan including scans, exchanges, and join strategies. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cpus)
    args.drop(2).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"WROTE $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
