package graft.functions

import org.apache.spark.sql.DataFrame
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

  /** Training rows beside the corpus: a label whose docs all have null
    * text (no bigrams, so no parameters), a doc with a null label
    * (counted in N only) and an empty-text doc (one padded bigram). */
  private lazy val edgeTrain = Seq[(Long, String, String)](
    (9000001L, null, "xx"), (9000002L, null, "xx"),
    (9000003L, "la tabla rápido", null), (9000004L, "", "en"))
    .toDF("doc_id", "st", "lang")

  /** Docs to classify beside the corpus: empty text (still predicted)
    * and null text (no row). */
  private lazy val edgeDocs = Seq[(Long, String)]((9000011L, ""), (9000012L, null))
    .toDF("doc_id", "st")

  private lazy val trainSet = docs.filter(split === "train")
    .select("doc_id", "st", "lang").unionByName(edgeTrain)
  private lazy val probe = docs.select("doc_id", "st").unionByName(edgeDocs)

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

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

  test("training equals the gram-count reference bit for bit; null and gram-less labels drop out") {
    val got = LangId.trainNaiveBayes(trainSet, "doc_id", "st", "lang", dim)
    val want = ReferenceNb.train(trainSet, "doc_id", "st", "lang", dim)
    assert(rowsOf(got) == rowsOf(want))
    val labels = got.select("label").distinct().as[String].collect().toSet
    assert(labels == Set("de", "en", "es", "fr", "zh"), "'xx' and the null label carry no bigrams")
  }

  /** (classify, classifyAbstain) rows of `probe` under the model
    * trained on `train`, after checking both against the reference. */
  private def classifiedLikeReference(train: DataFrame, probe: DataFrame,
                                      textCol: String): (Seq[String], Seq[String]) = {
    val m = LangId.trainNaiveBayes(train, "doc_id", textCol, "lang", dim)
    val ref = ReferenceNb.train(train, "doc_id", textCol, "lang", dim)
    val hard = rowsOf(LangId.classify(probe, m, "doc_id", textCol, dim))
    assert(hard == rowsOf(ReferenceNb.classify(probe, ref, "doc_id", textCol, dim)))
    val soft = rowsOf(LangId.classifyAbstain(probe, m, "doc_id", textCol, dim))
    assert(soft == rowsOf(ReferenceNb.classifyAbstain(probe, ref, "doc_id", textCol, dim)))
    (hard, soft)
  }

  test("classify and classifyAbstain equal the explode ⋈ broadcast ⋈ window reference") {
    val (hard, soft) = classifiedLikeReference(trainSet, probe, "st")
    for (rows <- Seq(hard, soft)) {
      assert(rows.exists(_.startsWith("9000011|")), "the empty doc keeps its prediction")
      assert(!rows.exists(_.startsWith("9000012|")), "a null-text doc gets no row")
      assert(rows.length == docs.count() + 1)
    }
    assert(soft.exists(_.endsWith("|und")), "the corpus abstains somewhere")
    // a planted tie: aa and bb train on the same text with the same doc
    // count, so every score ties between them
    val tie = Seq((1L, "foo bar baz", "aa"), (2L, "qux quux", "aa"),
      (3L, "foo bar baz", "bb"), (4L, "qux quux", "bb"), (5L, "zzz yyy", "cc"))
      .toDF("doc_id", "st", "lang")
    val (tieHard, tieSoft) = classifiedLikeReference(tie, edgeDocs.unionByName(
      Seq[(Long, String)]((10L, "foo bar")).toDF("doc_id", "st")), "st")
    assert(tieHard.contains("10|aa") && tieSoft.contains("10|und"))
  }

  test("a one-label model never abstains, and equals the reference") {
    val (_, soft) = classifiedLikeReference(trainSet.filter(col("lang") === "en"), probe, "st")
    assert(soft.nonEmpty && soft.forall(_.endsWith("|en")))
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

  test("classify scores in one projection: no Exchange and no join in its plan") {
    // an input already as wide as the session, so the fan-out floor
    // adds nothing of its own
    val wide = graft.Stages.stage(docs.repartition(spark.sparkContext.defaultParallelism))
    for (abstain <- Seq(false, true)) {
      val df =
        if (abstain) LangId.classifyAbstain(wide, model, "doc_id", "st", dim)
        else LangId.classify(wide, model, "doc_id", "st", dim)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Join"),
        s"classify must score per row over the literal model:\n$plan")
    }
  }

  test("training runs ≤ 4 jobs; classify + count runs only the count's jobs") {
    val train = docs.filter(split === "train")
    var m: DataFrame = null
    val trainJobs = jobsOf { m = LangId.trainNaiveBayes(train, "doc_id", "st", "lang", dim) }
    assert(trainJobs.length <= 4, s"training ran ${trainJobs.length} jobs")
    val counted = jobsOf {
      LangId.classify(docs, m, "doc_id", "st", dim).agg(count(col("lang_pred"))).collect()
    }
    val plain = jobsOf {
      graft.operators.NearDup.fanOut(docs).agg(count(col("st"))).collect()
    }
    assert(counted.length == plain.length,
      s"classify + count ran ${counted.length} jobs, the count alone ${plain.length}")
  }
}

/** The gram-count form of NB language ID that [[LangId]] replaced, kept
  * as the reference its literal-model scoring must equal: hashed-bigram
  * rows per doc, training by joins and aggregations over them, scoring
  * as gram rows ⋈ broadcast model → per-(doc, label) sums → a doc-keyed
  * top-2 window. */
private object ReferenceNb {

  private def gramCounts(docs: DataFrame, idCol: String, textCol: String,
                         dim: Int): DataFrame = {
    val padded = concat(lit(" "), col(textCol), lit(" "))
    val chars = regexp_extract_all(padded, lit("(?s)."), lit(0))
    val n = greatest(size(chars) - 1, lit(0))
    val grams = transform(
      arrays_zip(slice(chars, lit(1), n).as("a"), slice(chars, lit(2), n).as("b")),
      x => concat(x.getField("a"), x.getField("b")))
    docs.select(col(idCol), explode(grams).as("g"))
      .select(col(idCol),
        (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % dim)
          .as("dim_idx"))
      .groupBy(col(idCol), col("dim_idx"))
      .agg(count(lit(1)).as("c"))
  }

  def train(train: DataFrame, idCol: String, textCol: String,
            labelCol: String, dim: Int): DataFrame = {
    val grams = gramCounts(train, idCol, textCol, dim)
      .join(train.select(col(idCol), col(labelCol).as("label")), Seq(idCol))
    val cnt = grams.groupBy(col("label"), col("dim_idx"))
      .agg(sum(col("c")).as("cnt"))
    val tot = cnt.groupBy(col("label")).agg(sum(col("cnt")).as("tot"))
    val nd = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
    val n = train.select(count(lit(1)).as("n"))
    val dims = nd.select(col("label"))
      .crossJoin(train.sparkSession.range(dim).select(col("id").as("dim_idx")))
    dims.join(cnt, Seq("label", "dim_idx"), "left")
      .join(tot, Seq("label"))
      .join(nd, Seq("label")).crossJoin(n)
      .select(col("label"), col("dim_idx"),
        round(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
          (col("tot") + dim).cast("double")) * 1e6, 0).cast("long")
          .as("loglik6"),
        round(log(col("nd").cast("double") / col("n").cast("double")) * 1e6, 0)
          .cast("long").as("prior6"))
  }

  private def ranked(docs: DataFrame, model: DataFrame, idCol: String,
                     textCol: String, dim: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label").asc)
    gramCounts(docs, idCol, textCol, dim)
      .join(broadcast(model), Seq("dim_idx"))
      .groupBy(col(idCol), col("label"))
      .agg((first(col("prior6")) + sum(col("c") * col("loglik6"))).as("score"))
      .withColumn("__rn", row_number().over(w))
  }

  def classify(docs: DataFrame, model: DataFrame, idCol: String,
               textCol: String, dim: Int): DataFrame =
    ranked(docs, model, idCol, textCol, dim)
      .filter(col("__rn") === 1)
      .select(col(idCol), col("label").as("lang_pred"))

  def classifyAbstain(docs: DataFrame, model: DataFrame, idCol: String,
                      textCol: String, dim: Int): DataFrame =
    ranked(docs, model, idCol, textCol, dim)
      .filter(col("__rn") <= 2)
      .groupBy(col(idCol))
      .agg(max(when(col("__rn") === 1, col("label"))).as("__l1"),
        max(when(col("__rn") === 1, col("score"))).as("__s1"),
        max(when(col("__rn") === 2, col("score"))).as("__s2"))
      .select(col(idCol),
        when(col("__s1") - coalesce(col("__s2"),
          col("__s1") - LangId.AbstainMargin6) >= LangId.AbstainMargin6, col("__l1"))
          .otherwise(lit("und")).as("lang_pred"))
}
