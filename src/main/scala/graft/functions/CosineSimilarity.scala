package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/**
 * Codegen'd cosine similarity over two `array<float>` or
 * `array<double>` columns (either side, in any mix) — the hot kernel of
 * every ANN path (`Similarity.bruteForceTopK` scores the whole corpus
 * with it) and of every centroid ranking (the stored IVF centroids are
 * `array<double>`).
 *
 * Why a custom Catalyst `Expression`: the composable formulation
 * (`aggregate(zip_with(a, b, _*_), 0d, _+_)`, `Similarity.dot`) is
 * correct but Spark's higher-order functions are `CodegenFallback` —
 * every row pays interpreted lambda dispatch plus a materialized
 * intermediate array per dot product. This expression emits a single
 * primitive fused loop (dot, |a|², |b|² in one pass, no allocation)
 * inside whole-stage codegen, with an identical `eval` for the
 * interpreted path.
 *
 * Numerics are kept BIT-IDENTICAL to the HOF formulation (and the
 * DuckDB oracle): products and sums accumulate in ascending element
 * order as doubles (a float element widens exactly, as the HOF's
 * `cast("double")` does), and the result is `dot/(√na·√nb)` — so swapping it
 * into an oracle-checked query cannot move a hash. Null in either array
 * slot or operand → null (matches `zip_with`+`aggregate` null
 * semantics... HOFs propagate null elements into the lambda; here a
 * null element yields a null result, the conservative choice).
 *
 * Degenerate inputs also follow the HOF twin exactly:
 *  - zero-norm vector → null (the HOF form uses `try_divide`, which
 *    yields null on a zero divisor even under ANSI mode — NOT NaN,
 *    which would sort ABOVE every real similarity and pass every
 *    `>= minCosine` filter);
 *  - mismatched lengths → null (`zip_with` pads the short side with
 *    null elements, which null the aggregate).
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float> or array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  // always nullable: a null ELEMENT nulls the result even when the
  // array columns themselves are non-nullable (also keeps codegen on
  // the isNull-variable path)
  override def nullable: Boolean = true

  private def floats(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val leftFloats = floats(left)
  private lazy val rightFloats = floats(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (leftFloats) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightFloats) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      def elem(arr: String, fl: Boolean) =
        if (fl) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = ${elem(a, leftFloats)};
         |    double $yv = ${elem(b, rightFloats)};
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |}
         |if (!${ev.isNull}) {
         |  if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
