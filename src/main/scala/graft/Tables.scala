package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Table loaders over the driver-generated parquet testdata
  * (see /root/repo/TESTDATA.md). Every query in [[SparkEntry.queries]]
  * receives a scale-factor directory and reads through here, so filters
  * and projections compose directly onto the parquet scan (predicate
  * pushdown + column pruning reach the source).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Defensive session prep: oracle parity needs UTC + non-ANSI eval
    * (Spark 4 defaults ANSI on; the reference's semantics — and DuckDB's
    * behavior on e.g. out-of-range element_at — match the permissive mode).
    */
  def prep(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.parquet carries TIMESTAMP(NANOS) which vanilla Spark rejects;
    // read the raw int64 nanos and derive a micros timestamp in events().
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** The relation over `sfDir/name.parquet` (a file, or a Spark-written
    * directory of part files), opened with the schema of its footer.
    * The footer is read here on the driver with Spark's own per-file
    * conversion, so registering a table runs no Spark job: letting
    * `spark.read` infer the schema would run one `parallelize…collect`
    * job per table to read that same single footer.
    *
    * Memoized per (session, dir, table): one logical frame per table per
    * corpus, so Catalyst sees the same relation in every plan and warm
    * query construction neither re-reads the footer nor re-lists the
    * directory. The frame is a lazy scan, not a cache: queries still
    * read parquet with pushdown.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Caches.memoSide(spark, sfDir, s"table_$name") {
      prep(spark)
      val path = s"$sfDir/$name.parquet"
      spark.read.schema(footerSchema(spark, path)).parquet(path)
    }

  /** Schema of the first data file under `path` (by name, skipping the
    * `_`/`.`-prefixed markers and checksums a Spark write leaves), as
    * `spark.read` would infer it without schema merging. The converter
    * takes the session conf, so `prep`'s `nanosAsLong` applies.
    */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file =
      if (!fs.getFileStatus(root).isDirectory) root
      else fs.listStatus(root).iterator.filter(_.isFile)
        .map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .minByOption(_.getName)
        .getOrElse(throw new IllegalArgumentException(
          s"Unable to read a parquet schema from $path: no data file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** events.ts has shipped in two physical shapes across testdata
    * generations — TIMESTAMP(NANOS) (surfaced by Spark as a raw long via
    * `nanosAsLong`) and TIMESTAMP(MICROS) `isAdjustedToUTC=false`
    * (surfaced as TIMESTAMP_NTZ). Either way the frame exposed here is
    * identical: a session-zone (UTC) micros `ts` — matching what DuckDB's
    * `CAST(ts AS TIMESTAMP)` reads on the same file — plus the raw nanos
    * as `ts_ns: long` for ordinal arithmetic.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ =>
        // NTZ→TIMESTAMP under the UTC session zone preserves the micros
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
