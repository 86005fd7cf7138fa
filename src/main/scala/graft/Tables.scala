package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata tables (TESTDATA.md).
  *
  * Mirrors the reference's fixed-schema discipline
  * (`src/lib/jquants/endpoints/equity-bars-daily.ts:48-117`: explicit
  * field-by-field mapping, no inference). Every parquet read in the engine
  * goes through [[readParquet]]: the schema comes from ONE data file's
  * footer, read on the driver, and is handed to the reader — so a read
  * starts no schema-inference Spark job. Loaders stay thin; every query
  * casts explicitly at the use site for oracle (DuckDB) parity.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, path(dir, name))

  /** `spark.read.parquet(path)` without the schema-inference job. Spark's
    * own inference (mergeSchema off) reads the footer of the first data
    * file — in a Spark job, even for one file. This does the same on the
    * driver: the first data file in name order (`_*` and `.*` entries
    * skipped, partition dirs descended), its footer through
    * `ParquetFooterReader`, converted by `readSchemaFromFooter` with the
    * converter flags Spark's inference uses. The flags are read from
    * `s`'s own conf, never the thread's active session (`SQLConf.get`):
    * reads run on [[graft.operators.Materialize.concurrently]] pool
    * threads, and [[events]] sets `nanosAsLong` on the session it reads
    * with. Partition columns are still discovered from the directory
    * names. A path with no readable data file falls back to the plain
    * read, so a missing or broken table fails exactly as before. */
  def readParquet(s: SparkSession, path: String): DataFrame =
    footerSchema(s, path) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None => s.read.parquet(path)
    }

  private def footerSchema(s: SparkSession,
                          path: String): Option[StructType] = {
    val hconf = s.sessionState.newHadoopConf()
    def firstDataFile(st: FileStatus): Option[FileStatus] =
      if (!st.isDirectory) Some(st)
      else st.getPath.getFileSystem(hconf).listStatus(st.getPath)
        .filterNot { f =>
          val n = f.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .sortBy(_.getPath.getName).iterator
        .map(firstDataFile).collectFirst { case Some(f) => f }
    scala.util.Try {
      val p = new Path(path)
      firstDataFile(p.getFileSystem(hconf).getFileStatus(p)).map { f =>
        val c = s.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = c.isParquetBinaryAsString,
          assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
          inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
          nanosAsLong = c.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            c.parquetReaderRespectUnknownTypeAnnotation)
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hconf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, meta), converter)
      }
    }.toOption.flatten
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped in two parquet layouts across driver testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 refuses to read natively —
    * read as a nanosecond long via `spark.sql.legacy.parquet.nanosAsLong`
    * and truncate to microseconds, matching DuckDB's ns→µs truncation) and
    * plain TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). Normalize both to session-zone TIMESTAMP so every
    * consumer sees one dtype; sessions run with `session.timeZone=UTC`, so
    * the NTZ→LTZ cast is wall-clock identity and the oracle (DuckDB reads
    * naive µs) sees identical instants either way. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    import org.apache.spark.sql.functions.{col, expr}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  /** documents/embeddings arrive as a single parquet file — one input
    * partition — while their consumers (shingling, hashing, vector math)
    * are compute-heavy per row. Spread them across the cluster up front;
    * the shuffle is tiny relative to the per-row work it parallelizes. */
  def documents(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents").repartition(s.sparkContext.defaultParallelism)
  def embeddings(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings").repartition(s.sparkContext.defaultParallelism)
}
