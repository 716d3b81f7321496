package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/**
 * `graft_nearest_centroid(emb, cids, cents)` — the k-means / IVF
 * assignment argmax as ONE expression per row: the id of the centroid
 * with the highest 6-decimal-rounded cosine to `emb`, ties → lowest id.
 *
 * The composable formulation (`greatest` over k `(round(cosine, 6),
 * −cid)` structs, each cosine three `aggregate(zip_with …)` dot
 * products) evaluates 3k interpreted lambda loops per row, and even
 * with a codegen'd cosine the k inlined loops make a stage method too
 * large for HotSpot to JIT. This kernel loops over the centroid arrays
 * instead: the row's vector is read once (with its squared norm), each
 * centroid costs one primitive dot loop, and each centroid's norm is
 * computed once per plan. `doGenCode` is a static call to the same
 * [[NearestCentroidKernel.argmax]] the interpreted path runs, so the
 * generated code does not grow with k.
 *
 * Results are BIT-IDENTICAL to the composable form (parity-pinned in
 * NearestCentroidSpec):
 *  - products and sums accumulate as doubles in ascending element
 *    order, and the cosine is `dot / (√|e|² · √|c|²)`;
 *  - a zero divisor, a null vector, a null element or a length
 *    mismatch gives a NULL similarity (`try_divide` / `zip_with`
 *    padding), and NULL ranks below every value;
 *  - rounding is Spark's `round(x, 6)` on doubles (HALF_UP on the
 *    shortest decimal form; NaN and ±∞ pass through), and values
 *    compare by Spark's double ordering (NaN above all, 0.0 = −0.0).
 * So a null, zero-norm or short vector gets the lowest centroid id.
 *
 * The ids and centroids are plan constants, checked and extracted when
 * the expression is built (SQL: foldable `array<bigint>` and
 * `array<array<double>>` arguments, see [[GraftFunctions]]).
 */
case class NearestCentroidKernel(
    child: Expression, cids: Seq[Long], cents: Seq[Seq[Double]])
    extends UnaryExpression {
  require(cids.nonEmpty && cids.size == cents.size,
    s"$prettyName needs one id per centroid and at least one centroid")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<float> or array<double> vector, got ${other.sql}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_nearest_centroid"
  override def toString: String = s"$prettyName($child, ${cids.size} centroids)"

  /** Extracted once per plan, shipped to executors with the expression. */
  @transient private lazy val floatElems: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val ids: Array[Long] = cids.toArray
  @transient private lazy val vecs: Array[Array[Double]] = cents.map(_.toArray).toArray
  @transient private lazy val norms: Array[Double] = vecs.map(NearestCentroidKernel.norm)

  override def eval(input: InternalRow): Any =
    NearestCentroidKernel.argmax(
      child.eval(input).asInstanceOf[ArrayData], floatElems, ids, vecs, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = child.genCode(ctx)
    val idsRef = ctx.addReferenceObj("centroidIds", ids, "long[]")
    val vecsRef = ctx.addReferenceObj("centroids", vecs, "double[][]")
    val normsRef = ctx.addReferenceObj("centroidNorms", norms, "double[]")
    val floats = floatElems.toString
    ev.copy(code = code"""
      ${e.code}
      long ${ev.value} = graft.functions.NearestCentroidKernel.argmax(
        ${e.isNull} ? null : ${e.value}, $floats, $idsRef, $vecsRef, $normsRef);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroidKernel {

  /** √Σc², accumulated in element order (the composable form's
    * `sqrt(aggregate(zip_with(c, c, _*_), 0d, _+_))`). */
  private def norm(c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  /** Spark's `round(x, 6)` on a double. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Id of the centroid with the greatest rounded cosine to `v`; NULL
    * similarities rank lowest, ties → lowest id. A null `v` (or one
    * whose every similarity is NULL) gets the lowest id. */
  def argmax(
      v: ArrayData, floatElems: Boolean,
      ids: Array[Long], cents: Array[Array[Double]], norms: Array[Double]): Long = {
    val x = vector(v, floatElems)
    var nx = 0.0
    if (x != null) {
      var i = 0
      while (i < x.length) { nx += x(i) * x(i); i += 1 }
      nx = math.sqrt(nx)
    }
    var bestId = 0L
    var bestSim = 0.0
    var bestNull = true
    var j = 0
    while (j < ids.length) {
      val c = cents(j)
      val den = nx * norms(j)
      // a NULL similarity wins only a tie among NULLs (the lowest id)
      if (x == null || c.length != x.length || den == 0.0) {
        if (bestNull && (j == 0 || ids(j) < bestId)) bestId = ids(j)
      } else {
        var dot = 0.0
        var i = 0
        while (i < x.length) { dot += x(i) * c(i); i += 1 }
        val sim = round6(dot / den)
        val cmp = if (bestNull) 1 else SQLOrderingUtil.compareDoubles(sim, bestSim)
        if (cmp > 0 || (cmp == 0 && ids(j) < bestId)) {
          bestId = ids(j); bestSim = sim; bestNull = false
        }
      }
      j += 1
    }
    bestId
  }

  /** The row's vector as doubles, or null when the array or any
    * element is null (either nulls every similarity). */
  private def vector(v: ArrayData, floatElems: Boolean): Array[Double] = {
    if (v == null) return null
    val n = v.numElements()
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      x(i) = if (floatElems) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    x
  }
}
