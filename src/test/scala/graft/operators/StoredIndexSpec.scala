package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Stored ANN indexes open from their own file manifest and write with
  * data-sized tasks: the jobs a search starts, what a reader sees of
  * files no manifest names, and the files a write leaves per bucket. */
class StoredIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toFile.getAbsolutePath

  /** Data files per bucket directory of an index. */
  private def filesPerBucket(root: String): Map[String, Int] =
    new java.io.File(root).listFiles().filter(_.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.mkString("|")).toSet

  test("building a stored bucketed, IVF, IVF-PQ or graph search starts no Spark job") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 5)
    val root = tmp("graft_open_jobs")
    Similarity.writeBucketedCorpus(emb, s"$root/bucketed")
    Similarity.writeIvfCorpus(emb, s"$root/ivf")
    Similarity.writeIvfPqCorpus(emb, s"$root/ivfpq")
    Similarity.writeGraphIndex(emb, s"$root/graph", 5, maxBucketSize = Some(200))
    val frontier = emb.filter($"vec_id" < 8)
      .select($"vec_id", Similarity.lshBucket($"embedding", 8, 64).cast("int"))
      .collect().toSeq.map(r => (0L, r.getLong(0), r.get(1)))
    var searches = Map.empty[String, DataFrame]
    val built = Seq[(String, () => DataFrame)](
      "bucketed" -> (() => Similarity.bucketedTopKStored(spark, s"$root/bucketed", q, 5)),
      "ivf" -> (() => Similarity.ivfTopKStored(spark, s"$root/ivf", q, 5)),
      "ivfpq" -> (() => Similarity.ivfPqTopKStored(spark, s"$root/ivfpq", q, 5)),
      "graph" -> (() => Similarity.storedFrontierExpansion(
        Similarity.openIndex(spark, s"$root/graph"), frontier)))
    for ((family, search) <- built) {
      val jobs = jobsOf(searches += family -> search())
      assert(jobs.isEmpty, s"building the stored $family search started ${jobs.size} jobs")
    }
    // and each search answers
    searches.foreach { case (family, df) =>
      assert(df.collect().nonEmpty, s"the stored $family search returned nothing")
    }
    graft.Scratch.delete(root)
  }

  test("a stored IVF-PQ query batch runs no more jobs than a stored IVF query") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 10)
    val root = tmp("graft_ivfpq_jobs")
    Similarity.writeIvfCorpus(emb, s"$root/ivf")
    Similarity.writeIvfPqCorpus(emb, s"$root/ivfpq")
    for (np <- Seq(1, 2)) {
      val ivf = jobsOf(Similarity.ivfTopKStored(spark, s"$root/ivf", q, 10, np).collect())
      val ivfpq = jobsOf(Similarity.ivfPqTopKStored(spark, s"$root/ivfpq", q, 10, np).collect())
      assert(ivfpq.size <= ivf.size,
        s"nprobe=$np: a stored IVF-PQ query ran ${ivfpq.size} jobs, stored IVF ${ivf.size}")
    }
    graft.Scratch.delete(root)
  }

  test("a stored IVF-PQ index in the old long form is refused by name, never read or appended to") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 5)
    val path = tmp("graft_ivfpq_long")
    val lists = s"$path/lists"
    Similarity.writeIvfPqCorpus(emb.filter($"vec_id" < 400), path)
    // lists/ rewritten by hand in the old form: one (sub, code) row per
    // vector and subspace, partitioned by list, no file manifest
    val old = tmp("graft_ivfpq_long_rows")
    spark.read.parquet(lists)
      .select($"vec_id", $"list_id", posexplode($"codes").as(Seq("sub", "code")))
      .write.mode("overwrite").partitionBy("list_id").parquet(old)
    graft.Scratch.delete(lists)
    java.nio.file.Files.move(new java.io.File(old).toPath, new java.io.File(lists).toPath)
    def dataFiles(): Set[String] = new java.io.File(lists).listFiles()
      .filter(_.getName.startsWith("list_id=")).flatMap(_.listFiles()).map(_.getPath).toSet
    def refused(label: String)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(lists) && e.getMessage.contains("writeIvfPqCorpus"),
        s"$label: ${e.getMessage}")
    }
    val files = dataFiles()
    refused("query, no manifest")(Similarity.ivfPqTopKStored(spark, path, q, 5).collect())
    refused("append, no manifest")(
      Similarity.appendToIvfPqCorpus(spark, emb.filter($"vec_id" >= 400), path))
    // bucketStatsVerified records `_files` from the listing of any index
    // directory: the long form's columns are then the manifest's
    Similarity.bucketStatsVerified(spark, lists)
    assert(new java.io.File(s"$lists/_files").exists)
    refused("query, manifest")(Similarity.ivfPqTopKStored(spark, path, q, 5).collect())
    refused("append, manifest")(
      Similarity.appendToIvfPqCorpus(spark, emb.filter($"vec_id" >= 400), path))
    assert(dataFiles() == files, "a refused append wrote into the old-form lists")
    graft.Scratch.delete(path)
  }

  test("stored beam search runs at most 3 + 4·rounds jobs") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 5)
    val path = tmp("graft_beam_jobs")
    Similarity.writeGraphIndex(emb, path, 5, maxBucketSize = Some(200))
    for (rounds <- Seq(1, 3)) {
      val jobs = jobsOf(Similarity.beamSearchTopKStored(spark, path, emb, q, 10, 8, rounds))
      assert(jobs.size <= 3 + 4 * rounds,
        s"$rounds rounds ran ${jobs.size} jobs, above 3 + 4·rounds = ${3 + 4 * rounds}")
    }
    graft.Scratch.delete(path)
  }

  test("the file manifest is the commit point: a stray file is not read until bucketStatsVerified adopts it") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val path = tmp("graft_stray")
    Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 300), path)
    val q = emb.filter($"vec_id" < 5)
    val clean = rows(Similarity.bucketedTopKStored(spark, path, q, 5))
    // a copy of query 0 under a fresh id, dropped into query 0's bucket
    // after the manifest write: any reader of that bucket ranks it first
    val bucket = q.filter($"vec_id" === 0L)
      .select(Similarity.lshBucket($"embedding", 8, 64)).as[Long].head()
    val stray = tmp("graft_stray_file")
    q.filter($"vec_id" === 0L).select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
      .coalesce(1).write.mode("overwrite").parquet(stray)
    val part = new java.io.File(stray).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$path/bucket=$bucket/${part.getName}").toPath)
    assert(spark.read.parquet(path).filter($"vec_id" === 1000000L).count() == 1,
      "precondition: a listing read sees the stray file")
    val stale = Similarity.bucketStats(spark, path).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(rows(Similarity.bucketedTopKStored(spark, path, q, 5)) == clean,
      "the stored search read a file its manifest does not name")
    // the drift check still sees the file: it re-records `_files` from
    // the listing, which adopts the file into the file manifest
    val repaired = Similarity.bucketStatsVerified(spark, path).as[(Long, Long, Long)]
      .collect().map(r => r._1 -> r._2).toMap
    assert(repaired == stale.updated(bucket, stale(bucket) + 1),
      s"bucketStatsVerified must count the stray vector in bucket $bucket")
    assert(Similarity.bucketedTopKStored(spark, path, q, 5)
      .filter($"vec_id" === 1000000L).count() == 1,
      "after the repair the adopted file is part of the index")
    graft.Scratch.delete(path)
    graft.Scratch.delete(stray)
  }

  test("a stored index opens like spark.read.parquet, with or without a manifest") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val q = emb.filter($"vec_id" < 5)
    val root = tmp("graft_open_legacy")
    Similarity.writeBucketedCorpus(emb, s"$root/bucketed", metaCols = Seq("label"))
    Similarity.writeIvfCorpus(emb, s"$root/ivf")
    Similarity.writeIvfPqCorpus(emb, s"$root/ivfpq")
    Similarity.writeGraphIndex(emb, s"$root/graph", 5, maxBucketSize = Some(200))
    val dirs = Seq("bucketed", "ivf/lists", "ivfpq/lists", "graph").map(d => s"$root/$d")
    def searches(): Seq[Set[String]] = Seq(
      rows(Similarity.bucketedTopKStored(spark, s"$root/bucketed", q, 5,
        pred = Some($"label" === 1))),
      rows(Similarity.ivfTopKStored(spark, s"$root/ivf", q, 5, nprobe = 2)),
      rows(Similarity.ivfPqTopKStored(spark, s"$root/ivfpq", q, 5)),
      rows(Similarity.beamSearchTopKStored(spark, s"$root/graph", emb, q, 10, 8, 3)))
    for (d <- dirs) {
      val opened = Similarity.openIndex(spark, d)
      val listed = spark.read.parquet(d)
      assert(opened.schema == listed.schema, s"$d opens with another schema")
      assert(rows(opened) == rows(listed), s"$d opens with other rows")
    }
    val withManifest = searches()
    dirs.foreach(d => graft.Scratch.delete(s"$d/_files"))
    assert(dirs.forall(d => !new java.io.File(s"$d/_files").exists))
    assert(searches() == withManifest, "a directory without a manifest answers differently")
    graft.Scratch.delete(root)
  }

  test("a small index write runs defaultParallelism tasks and leaves one file per bucket per write") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val cores = spark.sparkContext.defaultParallelism
    val path = tmp("graft_small_write")
    val build = jobsOf(Similarity.writeBucketedCorpus(emb.filter($"vec_id" < 300), path))
    assert(build.max == cores, s"build final-stage tasks per job: $build")
    val built = filesPerBucket(path)
    assert(built.values.forall(_ == 1), s"a build leaves one file per bucket: $built")
    val batch = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    val append = jobsOf(Similarity.appendToStoredBuckets(batch, path))
    assert(append.max == cores, s"append final-stage tasks per job: $append")
    val hit = batch.select(Similarity.lshBucket($"embedding", 8, 64)).as[Long].collect()
      .map(b => s"bucket=$b").toSet
    val appended = filesPerBucket(path)
    appended.foreach { case (b, n) =>
      assert(n == built.getOrElse(b, 0) + (if (hit(b)) 1 else 0),
        s"$b holds $n files after one build and one append")
    }
    val graph = tmp("graft_small_graph")
    val graphJobs = jobsOf(Similarity.writeGraphIndex(emb, graph, 5, maxBucketSize = Some(200)))
    assert(graphJobs.max == cores, s"graph build final-stage tasks per job: $graphJobs")
    assert(filesPerBucket(graph).values.forall(_ == 1))
    // stored ≡ in-flight over the written vectors
    val q = emb.filter($"vec_id" < 10)
    assert(rows(Similarity.bucketedTopKStored(spark, path, q, 5)) ==
      rows(Similarity.bucketedTopK(emb.filter($"vec_id" < 400), q, 5)))
    graft.Scratch.delete(path)
    graft.Scratch.delete(graph)
  }

  test("a write larger than the advisory partition size salts each bucket over several tasks and files") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val planes = 2
    val path = tmp("graft_salted_write")
    val graph = tmp("graft_salted_graph")
    spark.conf.set(key, "16k")
    try {
      val build = jobsOf(Similarity.writeBucketedCorpus(emb, path, planes))
      assert(build.max > (1 << planes), s"build final-stage tasks per job: $build")
      val built = filesPerBucket(path)
      assert(built.size == (1 << planes) && built.values.forall(_ > 1),
        s"every bucket must hold several files: $built")
      val graphJobs = jobsOf(Similarity.writeGraphIndex(emb, graph, 5, planes))
      assert(graphJobs.max > (1 << planes), s"graph build final-stage tasks per job: $graphJobs")
      assert(filesPerBucket(graph).values.forall(_ > 1))
    } finally spark.conf.unset(key)
    // stored ≡ in-flight on the salted layouts
    val q = emb.filter($"vec_id" < 10)
    assert(rows(Similarity.bucketedTopKStored(spark, path, q, 5, planes)) ==
      rows(Similarity.bucketedTopK(emb, q, 5, planes)))
    assert(rows(Similarity.beamSearchTopKStored(spark, graph, emb, q, 10, 8, 3, planes)) ==
      rows(Similarity.beamSearchTopK(Similarity.knnGraph(emb, 5, planes), emb, q,
        Similarity.bucketSeeds(emb, planes), 10, 8, 3)))
    graft.Scratch.delete(path)
    graft.Scratch.delete(graph)
  }
}
