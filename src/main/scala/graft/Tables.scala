package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet star-schema loaders for the driver fixtures (TESTDATA.md).
  *
  * All tables are read straight from parquet so Catalyst owns column
  * pruning + filter pushdown (verify via `.explain`: `PushedFilters`,
  * `ReadSchema`). At 100 TB the same call works against a partitioned
  * lake table; nothing here assumes local files beyond the path.
  */
object Tables {
  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extTables: Seq[String] = Seq("events", "documents", "embeddings")

  /** Read a fixture table, normalizing every TIMESTAMP_NTZ column to
    * plain TimestampType. The round-9 fixtures write all timestamps as
    * parquet TIMESTAMP_NTZ(µs) (isAdjustedToUTC=false), which Spark
    * surfaces as TimestampNTZType — a type several time functions
    * (`unix_micros`, `to_utc_timestamp`, …) reject. The session TZ is
    * pinned to UTC ([[Sessions]]), so the cast reinterprets the naive
    * value as the same UTC instant (micros unchanged) — exactly how the
    * DuckDB oracle reads the same column.
    *
    * The schema comes from [[footerSchema]], so loading starts no Spark
    * job: `spark.read.parquet` alone runs a one-task schema-inference
    * job per table (7 per `batch_jobs` operation). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val path = s"$dir/$name.parquet"
    val raw = spark.read.schema(footerSchema(spark, path)).parquet(path)
    raw.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(raw)((df, f) => df.withColumn(f.name, col(f.name).cast(TimestampType)))
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver.
    * Without schema merging, inference reads the footer of the first
    * data file in path order and converts it with the session's
    * `ParquetToSparkSchemaConverter`; this reads the same footer with the
    * same converter. `path` is a parquet file or a directory of part
    * files; names starting with `_` or `.` are not data, as in Spark's
    * own listing. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val root = fs.makeQualified(new Path(path))
    val hidden = (p: Path) => Iterator.iterate(p)(_.getParent)
      .takeWhile(_.depth > root.depth).map(_.getName)
      .exists(n => (n.startsWith("_") && !n.contains("=")) || n.startsWith("."))
    val files = fs.listFiles(root, true)
    val data = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filterNot(st => hidden(st.getPath)).toSeq
    val first = data.minByOption(_.getPath.toString).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** `events.ts` normalization: the engine's contract is a plain
    * TimestampType (µs, session TZ = UTC) column, whatever the fixture
    * generation wrote.
    *  - parquet TIMESTAMP(NANOS) (rounds ≤ 8): with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set in [[Sessions]])
    *    it arrives as a nanosecond long — integer-divide to µs (exact,
    *    the fixture has µs precision).
    *  - parquet TIMESTAMP_NTZ µs (round 9+): arrives as
    *    TimestampNTZType — cast to TimestampType. The session TZ is
    *    pinned to UTC, so the cast reinterprets the naive value as the
    *    same UTC instant (micros unchanged), matching how the DuckDB
    *    oracle reads the same column. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
