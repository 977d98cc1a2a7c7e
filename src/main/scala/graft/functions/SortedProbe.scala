package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Membership probe against a SORTED long array — the sub-linear
  * fired-rail census probe (VERDICT r15 #2).
  *
  * The LSH first-surviving-band filter probes the collected over-cap
  * census once per band per joined candidate row. As an
  * `array_contains` over an unsorted struct array that probe is
  * O(|census|) per band — measured ~3× on the whole operator at a
  * 2,400-entry census (BENCH_NOTES r15). Binary
  * search over a per-band sorted key array bounds it at O(log|census|),
  * flattening the fired-rail cost back to the clean path's. */
object SortedProbe {

  /** True iff `v` occurs in `arr`, which MUST be sorted ascending with
    * no null elements (the callers build it with sort_array over
    * xxhash64 keys). */
  def contains(arr: ArrayData, v: Long): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = arr.getLong(mid)
      if (m == v) return true
      else if (m < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }
}

/** Native codegen'd [[SortedProbe.contains]]: ARRAY<LONG> (sorted asc,
  * non-null elements) × LONG → BOOLEAN. Stays inside WholeStageCodegen
  * via a static call — the probe sits in the hot first-match when-chain
  * of [[graft.ops.Dedup.lshCandidatePairs]], where an interpreted
  * fallback would cost more than the scan it replaces. */
case class SortedArrayContains(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "sorted_array_contains"

  // a non-ARRAY<LONG> left child would compile (getLong misreads other
  // element widths) and return wrong membership SILENTLY — fail at
  // analysis instead. containsNull must be false: the probe never
  // null-checks elements, and the builders sort_array over non-null
  // xxhash64 keys, so a nullable array type signals a wrong caller.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (ARRAY<BIGINT> NOT NULL elements, BIGINT), " +
          s"got (${l.sql}, ${r.sql})")
    }

  override protected def nullSafeEval(a: Any, v: Any): Any =
    SortedProbe.contains(a.asInstanceOf[ArrayData], v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, v) =>
      s"graft.functions.SortedProbe.contains($a, $v)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedArrayContains =
    copy(left = newLeft, right = newRight)
}
