package graft.operators

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.streaming.StreamingOps

/** A stored index keeps one manifest, `<dir>/_files`: per data file its
  * path, size and footer row count. These specs read it straight from
  * its parquet file and compare it with the data files on disk, so a
  * write that leaves it stale fails here even when its searches agree. */
class IndexManifestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toFile.getAbsolutePath

  /** (path, size, rows) per row of `root`'s `_files`. */
  private def manifest(root: String): Seq[(String, Long, Long)] = {
    val parts = new java.io.File(s"$root/_files").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    spark.read.parquet(parts.toSeq: _*).select($"path", $"size", $"rows")
      .as[(String, Long, Long)].collect().toSeq
  }

  /** Every data file under `root` (hidden names skipped, as a Spark
    * listing skips them): path relative to `root` → size. */
  private def dataFiles(root: String): Map[String, Long] = {
    def walk(d: java.io.File, prefix: String): Seq[(String, Long)] =
      d.listFiles().toSeq.filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .flatMap { f =>
          if (f.isDirectory) walk(f, s"$prefix${f.getName}/")
          else Seq(s"$prefix${f.getName}" -> f.length())
        }
    walk(new java.io.File(root), "").toMap
  }

  /** Rows per data file of `root`, counted by reading the data (one
    * job over all files), keyed like [[dataFiles]]. */
  private def rowsPerFile(root: String): Map[String, Long] =
    spark.read.parquet(dataFiles(root).keys.toSeq.map(r => s"$root/$r"): _*)
      .groupBy(input_file_name().as("f")).count().as[(String, Long)].collect()
      .map { case (f, n) => java.net.URI.create(f).getPath.stripPrefix(s"$root/") -> n }.toMap

  /** Asserts that `root`'s manifest names exactly its data files, with
    * their sizes, and records each file's own row count. */
  private def assertCurrent(root: String): Unit = {
    val m = manifest(root)
    assert(m.map(r => r._1 -> r._2).toMap == dataFiles(root),
      s"$root/_files does not name exactly the listed data files")
    assert(m.size == m.map(_._1).distinct.size, s"$root/_files names a file twice")
    assert(m.map(r => r._1 -> r._3).toMap == rowsPerFile(root),
      s"$root/_files records row counts other than the files'")
  }

  private def stats(root: String): Map[Long, Long] =
    Similarity.bucketStats(spark, root).select($"bucket", $"n_vectors")
      .as[(Long, Long)].collect().toMap

  private def lshCounts(emb: org.apache.spark.sql.DataFrame, pred: Column): Map[Long, Long] =
    emb.filter(pred).select(Similarity.lshBucket($"embedding", 8, 64).as("b"))
      .groupBy($"b").count().as[(Long, Long)].collect().toMap

  test("a torn streaming batch and its replay leave a manifest naming and counting exactly the listed files") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val clean = tmp("graft_manifest_clean")
    val torn = tmp("graft_manifest_torn")
    val b0 = emb.filter($"vec_id" < 100)
    val b1 = emb.filter($"vec_id" >= 100 && $"vec_id" < 200)
    Similarity.writeIndexBatch(b0, clean, 0L)
    Similarity.writeIndexBatch(b1, clean, 1L)
    // batch 1 "crashes" having written only its first 30 rows, then is
    // replayed whole under the same id
    Similarity.writeIndexBatch(b0, torn, 0L)
    Similarity.writeIndexBatch(emb.filter($"vec_id" >= 100 && $"vec_id" < 130), torn, 1L)
    Similarity.writeIndexBatch(b1, torn, 1L)
    assertCurrent(clean)
    assertCurrent(torn)
    assert(stats(torn) == stats(clean), "the replayed index counts other vectors per bucket")
    assert(stats(torn) == lshCounts(emb, $"vec_id" < 200))
    graft.Scratch.delete(clean)
    graft.Scratch.delete(torn)
  }

  test("a streamed index's bucketStats are current after every micro-batch and a replay counts once") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = graft.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val indexPath = tmp("graft_manifest_stream")
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.annIndexIngest(input.toDF().toDF("vec_id", "embedding"), indexPath)
    val batches = Seq(emb.take(150), emb.slice(150, 300), emb.drop(300))
    try {
      batches.scanLeft(0)(_ + _.length).tail.zip(batches).foreach { case (total, b) =>
        input.addData(b.toSeq); q.processAllAvailable()
        assert(stats(indexPath).values.sum == total,
          s"bucketStats lags the streamed index after $total vectors")
      }
    } finally q.stop()
    // at-least-once replay of batch 1 with the same rows
    Similarity.writeIndexBatch(
      emb.slice(150, 300).toSeq.toDF("vec_id", "embedding"), indexPath, 1L)
    val full = tmp("graft_manifest_full")
    Similarity.writeBucketedCorpus(emb.toSeq.toDF("vec_id", "embedding"), full)
    assert(stats(indexPath) == stats(full), "streamed stats differ from the batch build's")
    assert(stats(indexPath).values.sum == emb.length, "a replayed batch was counted twice")
    assertCurrent(indexPath)
    graft.Scratch.delete(indexPath)
    graft.Scratch.delete(full)
  }

  test("one manifest: _files is an index's only metadata entry, and bucketStatsVerified records a missing one") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val path = tmp("graft_manifest_one")
    val dest = tmp("graft_manifest_one_compacted")
    val streamed = tmp("graft_manifest_one_streamed")
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 200), path)
    Similarity.appendToStoredBuckets(emb.filter($"vec_id" >= 200 && $"vec_id" < 300), path)
    Similarity.appendToStoredBuckets(emb.filter($"vec_id" >= 300 && $"vec_id" < 400), path)
    Similarity.compactStoredBuckets(spark, path, dest)
    // a streaming batch lands in its own directory: its (bucket,
    // ingest_batch) layout is one level deeper than a bucketed build's
    Similarity.writeIndexBatch(emb.filter($"vec_id" >= 400), streamed, 0L)
    val cases = Seq(path -> ($"vec_id" < 400), dest -> ($"vec_id" < 400),
      streamed -> ($"vec_id" >= 400))
    for ((root, pred) <- cases) {
      // `_SUCCESS` is Spark's job-commit marker (empty), not index metadata
      val hidden = new java.io.File(root).listFiles().map(_.getName)
        .filter(_.startsWith("_")).toSet - "_SUCCESS"
      assert(hidden == Set("_files"), s"$root keeps metadata besides _files: $hidden")
      assertCurrent(root)
      val summed = manifest(root).groupMapReduce(r =>
        r._1.takeWhile(_ != '/').stripPrefix("bucket=").toLong)(_._3)(_ + _)
      assert(summed == lshCounts(emb, pred), s"$root/_files rows per bucket != lshBucket counts")
      assert(stats(root) == summed)
    }
    // without its manifest a directory has no stats until the verified read records one
    graft.Scratch.delete(s"$path/_files")
    val e = intercept[IllegalStateException](Similarity.bucketStats(spark, path))
    assert(e.getMessage.contains("bucketStatsVerified"), e.getMessage)
    val repaired = Similarity.bucketStatsVerified(spark, path).select($"bucket", $"n_vectors")
      .as[(Long, Long)].collect().toMap
    assert(repaired == lshCounts(emb, $"vec_id" < 400))
    assertCurrent(path)
    assert(stats(path) == repaired)
    Seq(path, dest, streamed).foreach(graft.Scratch.delete)
  }

  test("a manifest without row counts is read as no manifest, and the next append records a full one") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val path = tmp("graft_manifest_rowless")
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 300), path)
    val q = emb.filter($"vec_id" < 5)
    val clean = Similarity.bucketedTopKStored(spark, path, q, 5).collect().toSet
    // the manifest as it was before it recorded row counts
    val rowless = manifest(path).map { case (p, size, _) =>
      Row(p, size, 0L, StructType(Nil).json)
    }
    graft.Scratch.delete(s"$path/_files")
    spark.createDataFrame(rowless.asJava, StructType(Seq(StructField("path", StringType),
        StructField("size", LongType), StructField("mtime", LongType),
        StructField("schema", StringType))))
      .coalesce(1).write.parquet(s"$path/_files")
    val e = intercept[IllegalStateException](Similarity.bucketStats(spark, path))
    assert(e.getMessage.contains("bucketStatsVerified"), e.getMessage)
    // a search lists the directory instead: same answer
    assert(Similarity.bucketedTopKStored(spark, path, q, 5).collect().toSet == clean)
    Similarity.appendToStoredBuckets(emb.filter($"vec_id" >= 300 && $"vec_id" < 400), path)
    assertCurrent(path)
    assert(stats(path) == lshCounts(emb, $"vec_id" < 400))
    graft.Scratch.delete(path)
  }
}
