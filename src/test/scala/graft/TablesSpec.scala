package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables.load` reads each table's schema from a parquet footer on the
  * driver: the same schema and rows as `spark.read.parquet`, no job. */
class TablesSpec extends SparkSpec {

  private val names = Tables.starTables ++ Tables.extTables

  /** `spark.read.parquet` plus the loaders' normalisation: every
    * TIMESTAMP_NTZ column cast to TimestampType, and `events.ts` in
    * microseconds whichever way the fixture stored it. */
  private def reference(dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    val cast = raw.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(raw)((df, f) => df.withColumn(f.name, col(f.name).cast(TimestampType)))
    if (name != "events") cast
    else raw.schema("ts").dataType match {
      case LongType => cast.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => cast
    }
  }

  private def loaded(dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(spark, dir) else Tables.load(spark, dir, name)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSame(dir: String, name: String): Unit = {
    val got = loaded(dir, name)
    val want = reference(dir, name)
    assert(got.schema == want.schema, s"$name schema")
    assert(rows(got) == rows(want), s"$name rows")
  }

  test("every sf0.001 fixture table loads with the schema and rows of spark.read.parquet") {
    names.foreach(assertSame(sf0001, _))
  }

  test("a directory of part files loads like spark.read.parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Seq("orders", "events", "embeddings").foreach { name =>
      spark.read.parquet(s"$sf0001/$name.parquet").repartition(3)
        .write.parquet(s"$dir/$name.parquet")
      assertSame(dir, name)
    }
    Scratch.delete(dir)
  }

  test("loading starts no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_jobs").toString
    spark.read.parquet(s"$sf0001/orders.parquet").repartition(3)
      .write.parquet(s"$dir/orders.parquet")
    val jobs = jobsOf {
      names.foreach(loaded(sf0001, _))
      Tables.load(spark, dir, "orders")
    }
    assert(jobs.isEmpty, s"loading ${names.size + 1} tables started ${jobs.size} jobs")
    Scratch.delete(dir)
  }
}
