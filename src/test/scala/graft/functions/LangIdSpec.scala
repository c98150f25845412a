package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LangIdSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64

  /** Deterministic multilingual corpus: the sf0.001 documents lexified
    * per their lang column — the same fixture tx44 registers. */
  private lazy val docs = graft.Tables.documents(spark, sf0001)
    .select(col("doc_id"), col("lang"),
      LangId.lexify(col("text"), col("lang")).as("st"))

  private lazy val split = TextAnalysis.deterministicSplit(col("doc_id"), 80, 10)
  private lazy val model = graft.Stages.stage(
    LangId.trainNaiveBayes(docs.filter(split === "train"), "doc_id", "st", "lang", dim))

  test("lexify maps only the target language's words and keeps the rest") {
    val out = Seq((1L, "the fast table stays", "es"), (2L, "the fast table stays", "en"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), LangId.lexify(col("text"), col("lang")).as("st"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "el rápido tabla stays")
    assert(out(2L) == "the fast table stays", "en is the identity")
  }

  test("model shape: every (label, dim) pair present, integer micro-nat params") {
    val m = model.collect()
    val labels = m.map(_.getString(0)).distinct.sorted
    assert(labels.toSeq == Seq("de", "en", "es", "fr", "zh"))
    assert(m.length == labels.length * dim, "unseen dims must carry the smoothing floor")
    assert(m.map(_.getLong(2)).forall(_ < 0), "log-likelihoods are negative micro-nats")
  }

  test("held-out accuracy floor: >= 90% on the unseen test split (the ann07 treatment)") {
    val pred = LangId.classify(docs, model, "doc_id", "st", dim)
    val test = docs.filter(split === "test").select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"))
    val (n, correct) = test.agg(count(lit(1)),
      sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L)))
      .as[(Long, Long)].head()
    assert(n > 0)
    assert(correct.toDouble / n >= 0.9,
      s"held-out accuracy $correct/$n below the 90% floor")
  }

  test("determinism: identical predictions under a different physical layout") {
    val pred1 = LangId.classify(docs, model, "doc_id", "st", dim)
      .as[(Long, String)].collect().toMap
    val pred2 = LangId.classify(docs.repartition(13), model, "doc_id", "st", dim)
      .as[(Long, String)].collect().toMap
    assert(pred1 == pred2, "integer scoring must not depend on partitioning")
  }

  test("planted score tie routes to 'und' (abstention path)") {
    // two languages with IDENTICAL training text and equal doc counts
    // have identical likelihoods AND priors — every score ties exactly,
    // so the integer margin is 0 and abstention MUST fire.
    val train = Seq(
      (1L, "foo bar baz", "aa"), (2L, "qux quux", "aa"),
      (3L, "foo bar baz", "bb"), (4L, "qux quux", "bb"),
      (5L, "zzz yyy xxx www", "cc"), (6L, "vvv uuu ttt", "cc"))
      .toDF("doc_id", "text", "lang")
    val m = LangId.trainNaiveBayes(train, "doc_id", "text", "lang", dim)
    val probe = Seq((10L, "foo bar")).toDF("doc_id", "text")
    val out = LangId.classifyAbstain(probe, m, "doc_id", "text", dim)
      .as[(Long, String)].head()
    assert(out == (10L, "und"), "an exact aa/bb tie must abstain")
    // the plain classifier still breaks the tie by the pinned MIN label
    val hard = LangId.classify(probe, m, "doc_id", "text", dim)
      .as[(Long, String)].head()
    assert(hard == (10L, "aa"))
  }

  test("abstention stays rare on the lexified corpus; empty text still predicts") {
    val pred = LangId.classifyAbstain(docs, model, "doc_id", "st", dim)
    val (n, und) = pred.agg(count(lit(1)),
      sum(when(col("lang_pred") === "und", 1L).otherwise(0L)))
      .as[(Long, Long)].head()
    assert(n == docs.count(), "every doc must get a prediction row")
    assert(und.toDouble / n <= 0.2, s"und rate $und/$n unexpectedly high")
    // empty-text edge (round-17 ADVICE): one padded bigram still scores
    val empty = Seq((99L, "")).toDF("doc_id", "st")
    val rows = LangId.classify(empty, model, "doc_id", "st", dim).collect()
    assert(rows.length == 1, "an empty doc must not vanish from predictions")
  }

  test("scoring never touches the driver and the model join broadcasts") {
    val plan = LangId.classify(docs, model, "doc_id", "st", dim)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"),
      s"model join must broadcast (langs×dim rows):\n$plan")
  }
}
