package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * `graft_sorted_intersect_wsum(aIds, aWeights, bIds)` — Σ of
 * `aWeights[i]` over the positions where `aIds[i] ∈ bIds`, for two
 * SORTED duplicate-free `array<bigint>` id columns with a parallel
 * weight array on the left side: one allocation-free two-pointer merge
 * per row.
 *
 * The weighted-Jaccard re-score (`Dedup.weightedJaccardPairs`, q244)
 * needs Σ idf-weights over each candidate pair's token intersection.
 * The join formulation (pairs ⋈ tokens ⋈ tokens → groupBy) shuffles a
 * |pairs| × |tokens-per-doc| intermediate TWICE (~6.75 M rows at the
 * sf0.1 125 k-pair regime) for an answer that is per-pair arithmetic
 * over doc-bounded arrays. With per-doc (sorted token-id, weight)
 * parallel arrays attached once per side, this kernel computes the
 * same exact integer sum at projection speed — the weighted sibling of
 * [[SortedIntersectCount]] (same contract, same merge, micro-integer
 * weights keep the sum order-free and engine-exact).
 *
 * Contract: `aIds`/`bIds` sorted ascending, distinct, non-null
 * elements; `aWeights.length == aIds.length` (weight i belongs to id
 * i — a mismatch fails the query). The result equals the join-groupBy sum BY CONSTRUCTION (both are
 * Σ_{t ∈ A∩B} w(t) with integer weights) — spec-pinned in DedupSpec.
 */
case class SortedIntersectWeightedSum(
    first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _),
        ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects three array<bigint> arguments " +
          s"(ids_a, weights_a, ids_b), got ${first.dataType.sql}, " +
          s"${second.dataType.sql}, ${third.dataType.sql}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_wsum"

  override def nullSafeEval(a: Any, w: Any, b: Any): Any =
    SortedIntersectWeightedSum.sum(
      a.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, w, b) =>
      s"${ev.value} = graft.functions.SortedIntersectWeightedSum.sum($a, $w, $b);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SortedIntersectWeightedSum {
  /** Two-pointer merge sum; static so codegen calls it directly.
    * Weight arrays whose length differs from `a` fail loudly — the
    * merge would otherwise read past the end of a short one. */
  def sum(a: ArrayData, w: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (w.numElements() != na)
      throw new IllegalArgumentException(
        s"graft_sorted_intersect_wsum: weights_a has ${w.numElements()} " +
          s"elements but ids_a has $na (weight i belongs to id i)")
    var i = 0
    var j = 0
    var s = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { s += w.getLong(i); i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    s
  }
}
