package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** TRAINED language identification — the operator that closes the
  * loop the fixtures leave open: `documents.lang` is consumed by the
  * governance/mixing queries (tx18/tx28) but nothing infers it. This
  * is a multinomial Naive Bayes over HASHED CHARACTER BIGRAMS — the
  * classic langid feature (char n-grams survive code-mixing and typos
  * where word lists fail), trained distributed with the repo's
  * determinism discipline:
  *
  *  - "training" is COUNTING (one hash aggregation, no iteration, no
  *    learning rate): per-(lang, dim) bigram counts with Laplace-1
  *    smoothing, per-lang doc counts for the prior;
  *  - every model parameter is an exact-integer MICRO-NAT
  *    (`round(ln(p)·1e6)` as BIGINT), so scoring is pure integer
  *    arithmetic — `score = prior6 + Σ count·loglik6` — with NO
  *    float-summation order anywhere (the tx42 rounding discipline,
  *    hardened from round-6 doubles to scaled integers);
  *  - the argmax tiebreak is pinned (max score, then MIN lang), so
  *    the whole train→score→predict pipeline hash-checks against a
  *    DuckDB oracle that reproduces the training itself.
  *
  * Scale shape: training is one aggregation whose output is bounded by
  * the model, (langs + 1) × (dim + 1) rows, collected to the driver;
  * the model (langs × dim longs, at most [[MaxLabels]] labels) is then
  * driver state and rides into every task as a literal. Scoring is one
  * per-row expression over that literal
  * ([[graft.plans.NaiveBayesPredict]], following *ML Inference Pipeline
  * Execution Using Pure SQL Based on Operator Fusion*, ICDE 2025): the
  * bigrams are hashed and scored inside the row, so classifying adds
  * no explode, no join, no shuffle and no window to its input's plan. */
object LangId {

  /** Deterministic multilingual LEXIFIER for fixture synthesis: the
    * fixtures' text is English-vocabulary regardless of the `lang`
    * column, so there is nothing for a classifier to learn from the
    * raw bytes. This maps a sample of the vocabulary to per-language
    * surface forms (public dictionary words — the Gender-map
    * treatment), giving each language distinctive character bigrams
    * while unmapped words stay as-is (realistic code-mixed text).
    * ONE definition feeds the Spark map literal and the generated
    * oracle CASE chain. */
  val Lexicon: Map[String, Map[String, String]] = Map(
    "es" -> Map(
      "table" -> "tabla", "query" -> "consulta", "fast" -> "rápido",
      "value" -> "valor", "row" -> "fila", "key" -> "llave",
      "data" -> "datos", "window" -> "ventana", "the" -> "el",
      "a" -> "un", "order" -> "orden", "group" -> "grupo",
      "slow" -> "lento", "line" -> "línea"),
    "fr" -> Map(
      "table" -> "tableau", "query" -> "requête", "fast" -> "vite",
      "value" -> "valeur", "row" -> "ligne", "key" -> "clé",
      "data" -> "données", "window" -> "fenêtre", "the" -> "le",
      "a" -> "une", "order" -> "ordre", "group" -> "groupe",
      "slow" -> "lent", "line" -> "trait"),
    "de" -> Map(
      "table" -> "tabelle", "query" -> "abfrage", "fast" -> "schnell",
      "value" -> "wert", "row" -> "zeile", "key" -> "schlüssel",
      "data" -> "daten", "window" -> "fenster", "the" -> "das",
      "a" -> "ein", "order" -> "reihenfolge", "group" -> "gruppe",
      "slow" -> "langsam", "line" -> "zeile"),
    "zh" -> Map(
      "table" -> "表格", "query" -> "查询", "fast" -> "快速",
      "value" -> "数值", "row" -> "行列", "key" -> "键值",
      "data" -> "数据", "window" -> "窗口", "the" -> "这个",
      "a" -> "一个", "order" -> "顺序", "group" -> "分组",
      "slow" -> "缓慢", "line" -> "线条"),
  ) // "en" = identity

  private lazy val lexFlat: Map[String, String] =
    Lexicon.flatMap { case (lang, m) =>
      m.map { case (w, t) => s"$lang:$w" -> t }
    }

  /** Per-language surface form of `textCol` under [[Lexicon]]. */
  def lexify(textCol: Column, langCol: Column): Column = {
    val lex = typedLit(lexFlat)
    array_join(transform(TextAnalysis.tokens(textCol),
      t => coalesce(element_at(lex, concat(langCol, lit(":"), t)), t)), " ")
  }

  /** The identical lexifier as DuckDB SQL (`toksExpr` must be the
    * token-list expression, `langExpr` the lang column). The coalesce
    * pins the empty-text edge (round-17 ADVICE): Spark's array_join
    * over an empty token list yields '', but DuckDB's list_aggregate
    * yields NULL — unpinned, an empty doc would get a padded-bigram
    * prediction in the engine and VANISH from the oracle's gram chain. */
  def lexifySql(toksExpr: String, langExpr: String): String = {
    val cases = lexFlat.toSeq.sorted.map { case (k, v) =>
      s"WHEN '${k.replace("'", "''")}' THEN '$v'"
    }.mkString(" ")
    s"coalesce(list_aggregate(list_transform($toksExpr, " +
      s"x -> CASE $langExpr || ':' || x $cases ELSE x END), 'string_agg', ' '), '')"
  }

  /** A trained model on the driver: per label (ascending) its prior
    * and one log-likelihood per hashed-bigram dim, all micro-nats. */
  final case class Model(dim: Int, labels: Seq[LabelParams]) {
    require(labels.forall(_.loglik6.length == dim),
      s"every label needs $dim log-likelihoods")
  }
  final case class LabelParams(label: String, prior6: Long, loglik6: Seq[Long])

  /** Most labels a model may carry. A model holds labels × `dim` longs
    * on the driver (and in every classifying task), so at the default
    * `dim` of 64 the cap is 1000 · 64 · 8 B ≈ 0.5 MB; the collects that
    * build a model stop past it instead of filling the driver. */
  val MaxLabels: Int = 1000

  /** NB training as ONE bounded aggregation collected to the driver:
    * per (label, dim) the bigram count, and per label the doc count
    * (a dim −1 row of one per doc, so docs whose text is null count
    * too), at most (labels + 1) × (dim + 1) rows. The parameters are
    * then built on the driver with Spark's arithmetic (natural log,
    * `round(·, 0)` HALF_UP):
    *  - `loglik6` = round(ln((cnt+1)/(tot+dim))·1e6), tot = the
    *    label's bigrams, unseen dims at the smoothing floor;
    *  - `prior6` = round(ln(nDocs_l/N)·1e6), N = every training doc,
    *    null labels included.
    * A null label, or a label whose docs have no bigrams (all text
    * null), carries no parameters. */
  def train(labeled: DataFrame, textCol: String, labelCol: String,
            dim: Int): Model = {
    require(dim > 0, s"dim must be positive, got $dim")
    val doc = array(struct(lit(-1L).as("dim_idx"), lit(1L).as("c")))
    val rows = graft.operators.NearDup.fanOut(labeled)
      .select(col(labelCol).cast("string").as("label"), explode(coalesce(
        concat(call_function("graft_hashed_bigrams", col(textCol), lit(dim)), doc),
        doc)).as("g"))
      .groupBy(col("label"), col("g.dim_idx").as("dim_idx"))
      .agg(sum(col("g.c")).as("n"))
    val bound = (MaxLabels + 1) * (dim + 1)
    val got = rows.limit(bound + 1).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
    if (got.length > bound) throw new IllegalArgumentException(
      s"NB training carries more than $MaxLabels labels " +
        s"(${got.map(_._1).distinct.length} in the first $bound rows)")
    val n = got.collect { case (_, -1L, c) => c }.sum
    Model(dim, got.toSeq.collect { case (Some(l), _, _) => l }.distinct.sorted.flatMap { l =>
      val mine = got.filter(_._1.contains(l))
      val cnt = mine.collect { case (_, j, c) if j >= 0 => j.toInt -> c }.toMap
      Option.when(cnt.nonEmpty) {
        val tot = cnt.values.sum
        val nd = mine.collectFirst { case (_, -1L, c) => c }.getOrElse(0L)
        LabelParams(l, micro(nd.toDouble / n.toDouble),
          (0 until dim).map(j => micro((cnt.getOrElse(j, 0L) + 1).toDouble /
            (tot + dim).toDouble)))
      }
    })
  }

  /** round(ln(p)·1e6) as a long: Spark's `log` (StrictMath) and
    * `round(·, 0)` on a double (HALF_UP of its decimal form). */
  private def micro(p: Double): Long =
    java.math.BigDecimal.valueOf(StrictMath.log(p) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue

  /** The model as the (label, dim_idx, loglik6, prior6) frame, one row
    * per (label, dim): a local relation, so reading it runs no job. */
  private def toFrame(spark: SparkSession, m: Model): DataFrame =
    spark.createDataFrame(
      m.labels.flatMap(p => p.loglik6.zipWithIndex.map { case (ll, j) =>
        Row(p.label, j.toLong, ll, p.prior6)
      }).asJava,
      StructType(Seq(StructField("label", StringType),
        StructField("dim_idx", LongType, nullable = false),
        StructField("loglik6", LongType, nullable = false),
        StructField("prior6", LongType, nullable = false))))

  /** A (label, dim_idx, loglik6, prior6) frame back as a [[Model]]:
    * collected with a bound of [[MaxLabels]] × `dim` rows; every label
    * must carry all `dim` dims. */
  private def fromFrame(model: DataFrame, dim: Int): Model = {
    val bound = MaxLabels * dim
    val got = model.select(col("label").cast("string"), col("dim_idx").cast("long"),
      col("loglik6").cast("long"), col("prior6").cast("long"))
      .limit(bound + 1).collect()
    if (got.length > bound) throw new IllegalArgumentException(
      s"NB model frame carries more than $MaxLabels labels × $dim dims " +
        s"(${got.map(_.getString(0)).distinct.length} labels in the first $bound rows)")
    Model(dim, got.groupBy(_.getString(0)).toSeq.sortBy(_._1).map { case (l, rs) =>
      val ll = rs.map(r => r.getLong(1).toInt -> r.getLong(2)).toMap
      require(l != null && ll.size == dim && ll.keySet == (0 until dim).toSet,
        s"NB model label $l must carry dims 0 until $dim exactly once")
      LabelParams(l, rs.head.getLong(3), (0 until dim).map(ll))
    })
  }

  /** Train on a labeled frame: the (label, dim_idx, loglik6, prior6)
    * parameters of [[train]], one row per (label, dim). `idCol` is not
    * read (the aggregation needs no document key). */
  def trainNaiveBayes(train: DataFrame, idCol: String, textCol: String,
                      labelCol: String, dim: Int): DataFrame =
    toFrame(train.sparkSession, LangId.train(train, textCol, labelCol, dim))

  /** Score + predict: per doc, `argmax_label prior6 + Σ c·loglik6`
    * (exact integers; tie → MIN label) over a model frame, collected
    * to the driver once ([[fromFrame]]). Returns (id, lang_pred); a doc
    * with null text gets no row. */
  def classify(docs: DataFrame, model: DataFrame, idCol: String,
               textCol: String, dim: Int): DataFrame =
    classifyWith(docs, fromFrame(model, dim), idCol, textCol, abstain = false)

  /** Abstention margin in micro-nats (2 nats): a prediction whose
    * integer score beats the runner-up by less than this routes to
    * 'und' instead — real pipelines send those docs to a slower
    * classifier or human review rather than mis-keying them. Pinned
    * integer, shared with the generated oracle SQL. */
  val AbstainMargin6: Long = 2000000L

  /** [[classify]] with abstention: top-1 must beat top-2 by
    * [[AbstainMargin6]] micro-nats or the doc predicts 'und'
    * (round-17 verdict item 6 — the closed-set classifier gains a
    * low-confidence route). A one-label model is always confident. */
  def classifyAbstain(docs: DataFrame, model: DataFrame, idCol: String,
                      textCol: String, dim: Int): DataFrame =
    classifyWith(docs, fromFrame(model, dim), idCol, textCol, abstain = true)

  private def classifyWith(docs: DataFrame, m: Model, idCol: String,
                           textCol: String, abstain: Boolean): DataFrame =
    withPrediction(graft.operators.NearDup.fanOut(docs), m, textCol, abstain)
      .select(col(idCol), col("lang_pred"))

  /** `docs` plus the label `m` predicts from `textCol`, as `lang_pred`:
    * the max-score label, ties to the MIN label; with `abstain`, 'und'
    * unless it beats the runner-up by [[AbstainMargin6]]. One per-row
    * expression over the literal model ([[graft.plans.NaiveBayesPredict]]):
    * no explode, join, shuffle or window. A doc with null text gets no
    * prediction and no row (nor does any doc under a model without
    * labels). Filtered on the text, not on `lang_pred`: a filter on the
    * prediction is pushed below the projection and scores twice. */
  def withPrediction(docs: DataFrame, m: Model, textCol: String,
                     abstain: Boolean = false): DataFrame =
    docs.filter(col(textCol).isNotNull && lit(m.labels.nonEmpty))
      .withColumn("lang_pred", call_function(
        if (abstain) "graft_nb_predict_abstain" else "graft_nb_predict",
        col(textCol), typedlit(m.labels)))
}
