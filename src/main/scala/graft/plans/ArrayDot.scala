package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native codegen dot product over two numeric arrays (float or double
  * elements), Σ aᵢ·bᵢ in ascending index order — bit-identical to the
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` higher-order formulation
  * it replaces, but compiled into whole-stage codegen instead of
  * interpreted per-element lambda dispatch (HOFs don't codegen; on the
  * embedding queries the interpreted path is the hot loop).
  *
  * Null semantics match the HOF chain: null array → null; any null
  * element → null; length mismatch → null (zip_with pads with null).
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_array_dot"

  // Can produce null even for non-nullable inputs (length mismatch, null
  // element), so nullability must not be inherited from the children:
  // with non-nullable arrays Catalyst would elide the null check and the
  // generated `isNull = true` branch would assign to a `false` literal —
  // a Janino compile error forcing interpreted fallback.
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    val lf = isFloat(left); val rf = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xa = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val ya = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xa * ya
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val bad = ctx.freshName("bad")
      val getA = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $b.numElements() != $n;
         |double $sum = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $sum += ($getA) * ($getB);
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $sum; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Session extension installing the engine's native functions into the
  * Catalyst function registry (wired via `Sessions.builder`
  * `.withExtensions`) — callable as `graft_array_dot(a, b)` from SQL
  * and via `call_function` from the DataFrame API. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "graft_array_dot"),
      (children: Seq[Expression]) => ArrayDot(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_unicode_normalize"),
      (children: Seq[Expression]) => UnicodeNormalize(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
      (children: Seq[Expression]) => BpeEncode(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_array_count_leq"),
      new ExpressionInfo(classOf[ArrayCountLeq].getName, "graft_array_count_leq"),
      (children: Seq[Expression]) => ArrayCountLeq(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nearest_cosine"),
      new ExpressionInfo(classOf[NearestModelEntry].getName, "graft_nearest_cosine"),
      (children: Seq[Expression]) =>
        NearestModelEntry(children.head, children(1), l2 = false)))
    ext.injectFunction((
      new FunctionIdentifier("graft_nearest_l2"),
      new ExpressionInfo(classOf[NearestModelEntry].getName, "graft_nearest_l2"),
      (children: Seq[Expression]) =>
        NearestModelEntry(children.head, children(1), l2 = true)))
    ext.injectFunction((
      new FunctionIdentifier("graft_hashed_bigrams"),
      new ExpressionInfo(classOf[HashedBigramCounts].getName, "graft_hashed_bigrams"),
      (children: Seq[Expression]) => HashedBigramCounts(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nb_predict"),
      new ExpressionInfo(classOf[NaiveBayesPredict].getName, "graft_nb_predict"),
      (children: Seq[Expression]) =>
        NaiveBayesPredict(children.head, children(1), abstain = false)))
    ext.injectFunction((
      new FunctionIdentifier("graft_nb_predict_abstain"),
      new ExpressionInfo(classOf[NaiveBayesPredict].getName, "graft_nb_predict_abstain"),
      (children: Seq[Expression]) =>
        NaiveBayesPredict(children.head, children(1), abstain = true)))
  }
}
