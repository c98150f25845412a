package graft.plans

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The hashed char-bigram features of [[graft.functions.LangId]]: the
  * text padded with one space each side, one bigram per code point
  * offset, and per bigram dim = (first 8 hex digits of md5(bigram)) mod
  * `dim`. Bit-identical to the builtin chain it replaces
  * (`regexp_extract_all(padded, '(?s).')` → aligned pairs → `conv(
  * substring(md5(g), 1, 8), 16, 10) % dim`): the text is decoded the way
  * `UTF8String.toString` decodes it and each bigram hashed over the UTF-8
  * bytes `UTF8String.fromString` would give it. A text of n code points
  * has n + 1 bigrams, so the empty text has one (two spaces). */
object HashedBigrams {

  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Calls `f` with the dim of every bigram of `text`, in text order. */
  def foreach(text: UTF8String, dim: Int)(f: Int => Unit): Unit = {
    val s = " " + text.toString + " "
    val md = md5.get()
    // UTF-8 bytes of the previous code point, kept between offsets
    var prev = utf8(s.codePointAt(0))
    var i = Character.charCount(s.codePointAt(0))
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val cur = utf8(cp)
      md.update(prev)
      md.update(cur)
      val h = md.digest()
      val u32 = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      f((u32 % dim).toInt)
      prev = cur
      i += Character.charCount(cp)
    }
  }

  private val ascii: Array[Array[Byte]] = Array.tabulate(128)(c => Array(c.toByte))

  private def utf8(cp: Int): Array[Byte] =
    if (cp < 128) ascii(cp)
    else new String(Character.toChars(cp)).getBytes(StandardCharsets.UTF_8)
}

/** Per-text bigram dim histogram: `graft_hashed_bigrams(text, dim)` →
  * array<struct<dim_idx: bigint, c: bigint>>, one entry per dim that
  * occurs, ascending dim; null text → null. Naive Bayes training sums it
  * per label. */
case class HashedBigramCounts(text: Expression, dim: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = text
  override def right: Expression = dim
  override def prettyName: String = "graft_hashed_bigrams"
  override def nullable: Boolean = true
  override def dataType: DataType = HashedBigramCounts.Type

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType == StringType && dim.dataType == IntegerType && dim.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, foldable int), got " +
        s"${text.dataType.sql} and ${dim.dataType.sql}")

  @transient private lazy val d: Int = {
    val v = dim.eval(null).asInstanceOf[Int]
    require(v > 0, s"$prettyName: dim must be positive, got $v")
    v
  }

  override protected def nullSafeEval(t: Any, ignored: Any): Any = {
    val counts = new Array[Long](d)
    HashedBigrams.foreach(t.asInstanceOf[UTF8String], d)(j => counts(j) += 1)
    val out = Array.newBuilder[Any]
    var j = 0
    while (j < d) {
      if (counts(j) > 0) out += InternalRow(j.toLong, counts(j))
      j += 1
    }
    new GenericArrayData(out.result())
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashedBigramCounts =
    copy(text = newLeft, dim = newRight)
}

object HashedBigramCounts {
  val Type: DataType = ArrayType(StructType(Seq(
    StructField("dim_idx", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
}

/** Multinomial Naive Bayes prediction over a LITERAL model, one row at a
  * time: `graft_nb_predict(text, model)` (argmax) and
  * `graft_nb_predict_abstain(text, model)` (argmax, or 'und' when the
  * winner's margin is short). `model` is a foldable
  * array<struct<label: string, prior6: bigint, loglik6: array<bigint>>>,
  * one entry per label, every `loglik6` of the same length `dim`.
  *
  * Per text, each label's score is `prior6 + Σ loglik6[dim_g]` over the
  * text's [[HashedBigrams]] g, in exact longs: the same integers as the
  * gram-count form `first(prior6) + sum(c · loglik6)`. The winner is the
  * highest score, ties to the MIN label (Spark's binary string order).
  * With abstention, the winner must beat the runner-up (the next in
  * score desc, label asc) by `AbstainMargin6` or the result is 'und'; a
  * one-label model is always confident. Null text or an empty model →
  * null.
  *
  * Like [[NearestModelEntry]] the model rides along as a boxed literal
  * reference (interpreted evaluation), so the generated source of the
  * enclosing stage is the same for every model. */
case class NaiveBayesPredict(text: Expression, model: Expression, abstain: Boolean)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = text
  override def right: Expression = model
  override def prettyName: String =
    if (abstain) "graft_nb_predict_abstain" else "graft_nb_predict"
  override def nullable: Boolean = true
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = {
    val modelOk = model.dataType match {
      case ArrayType(st: StructType, _) if st.length == 3 =>
        st(0).dataType == StringType && st(1).dataType == LongType &&
          st(2).dataType.isInstanceOf[ArrayType] &&
          st(2).dataType.asInstanceOf[ArrayType].elementType == LongType
      case _ => false
    }
    if (text.dataType == StringType && modelOk && model.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, foldable array<struct<string, bigint, " +
        s"array<bigint>>>), got ${text.dataType.sql} and ${model.dataType.sql}")
  }

  /** Labels ascending, with their priors and per-dim log-likelihoods. */
  @transient private lazy val params: (Array[UTF8String], Array[Long], Array[Array[Long]]) = {
    val arr = model.eval(null).asInstanceOf[ArrayData]
    val entries = (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 3)
      require(!r.isNullAt(0), s"$prettyName: null label in the model")
      (r.getUTF8String(0).clone(), r.getLong(1), r.getArray(2).toLongArray())
    }.sortWith((a, b) => a._1.compareTo(b._1) < 0)
    require(entries.map(_._3.length).distinct.size <= 1,
      s"$prettyName: every label needs the same number of dims")
    (entries.map(_._1).toArray, entries.map(_._2).toArray, entries.map(_._3).toArray)
  }

  @transient private lazy val und = UTF8String.fromString("und")

  override protected def nullSafeEval(t: Any, ignored: Any): Any = {
    val (labels, prior6, loglik6) = params
    val n = labels.length
    if (n == 0) return null
    val dim = loglik6(0).length
    val score = prior6.clone()
    HashedBigrams.foreach(t.asInstanceOf[UTF8String], dim) { j =>
      var l = 0
      while (l < n) { score(l) += loglik6(l)(j); l += 1 }
    }
    // labels ascend, so a strict > keeps the MIN label on a tie; the
    // runner-up is the best of the rest in the same order
    var best = 0
    var l = 1
    while (l < n) { if (score(l) > score(best)) best = l; l += 1 }
    if (!abstain || n == 1) return labels(best)
    var second = -1
    l = 0
    while (l < n) {
      if (l != best && (second < 0 || score(l) > score(second))) second = l
      l += 1
    }
    if (score(best) - score(second) >= graft.functions.LangId.AbstainMargin6) labels(best)
    else und
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NaiveBayesPredict =
    copy(text = newLeft, model = newRight)
}
