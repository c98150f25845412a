package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sinks.Publish

class CorpusJobSpec extends SparkSpec {

  private def freshRoot(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_llmjob").toFile
    dir.deleteOnExit(); dir.getAbsolutePath
  }

  test("end-to-end: extract → route → curate → mix → shard → atomic publish") {
    val root = freshRoot()
    val res = CorpusJob.run(spark, sf0001, root, "001")
    assert(res.published.contains("v-001"))
    assert(res.counts("docs_in") == 500L)
    assert(res.counts("published") > 0L &&
      res.counts("published") < res.counts("docs_in"),
      "curation must keep a strict, non-empty subset")
    val shards = Publish.readTable(spark, root, "corpus_shards")
    assert(shards.columns.toSet ==
      Set("doc_id", "lang", "lang_pred", "domain", "n_tokens", "shard"))
    // every published doc carries a confident language and a domain key
    assert(shards.filter(col("lang_pred") === "und" ||
      col("domain").isNull || col("domain") === "").count() == 0)
  }

  test("published shards row-match the oracle-checked tx46 manifest (bench-entry parity)") {
    // llm_job_e2e in Bench times THIS job; the published corpus must be
    // the same rows whose manifest the CORRECTNESS gate hash-checks as
    // tx46_corpus_e2e.
    val root = freshRoot()
    CorpusJob.run(spark, sf0001, root, "001")
    val published = Publish.readTable(spark, root, "corpus_shards")
    val oracle = graft.SparkEntry.queries("tx46_corpus_e2e")(spark, sf0001)
    val fromPublished = published.groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        bit_xor(conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long")).as("digest"))
    val cols = oracle.columns.sorted.map(col)
    val a = fromPublished.select(cols: _*).collect().map(_.toSeq).toSet
    val b = oracle.select(cols: _*).collect().map(_.toSeq).toSet
    assert(a == b, "published shard manifest diverges from tx46_corpus_e2e")
    // the published manifest table agrees with the recomputation
    val manifest = Publish.readTable(spark, root, "shard_manifest")
    val m = manifest.select(cols: _*).collect().map(_.toSeq).toSet
    assert(m == b, "published shard_manifest diverges from the recomputed receipt")
    // the governance ledger's totals reconcile with the shards
    val ledger = Publish.readTable(spark, root, "domain_ledger")
    assert(ledger.agg(sum("tokens")).first().getLong(0) ==
      published.agg(sum("n_tokens")).first().getLong(0))
  }

  test("empty input short-circuits without touching the target (OP-33)") {
    import org.apache.spark.sql.types._
    val sfDir = java.nio.file.Files.createTempDirectory("graft_llmempty").toFile
    sfDir.deleteOnExit()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.parquet(s"${sfDir.getAbsolutePath}/documents.parquet")
    val root = freshRoot()
    val res = CorpusJob.run(spark, sfDir.getAbsolutePath, root, "001")
    assert(res.published.isEmpty && res.counts.isEmpty)
    assert(!new java.io.File(root).exists() ||
      new java.io.File(root).listFiles().forall(_ => false),
      "an empty extract must not create a published version")
  }

  test("run releases every frame it stages, the operators' internal stages included") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = CorpusJob.run(spark, sf0001, freshRoot(), "001")
    assert(res.published.contains("v-001"))
    // compare key sets, not sizes: the context cleaner may drop older
    // RDDs meanwhile, which is no leak of this call
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"the job left ${added.size} persisted RDDs behind")
  }
}
