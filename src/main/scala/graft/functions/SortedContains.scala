package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Membership probe against a SORTED string array by binary search —
  * O(log n) per lookup where `array_contains` scans O(n). Exists for
  * the param-policy apply path (round 19): a crawl-trap megadomain can
  * flag 10⁵+ strippable param NAMES, and the per-URL strip filter
  * probes that one per-domain array once per query param — the
  * 10× scale probe's `param_vocab_policy` pair measured the linear scan at
  * exponent 1.79 (7.3 s → 447 s for 10× rows × 10× vocabulary); the
  * binary search restores the row-local apply's linearity without
  * adding an explode/join/regroup shuffle to the pass.
  *
  * CONTRACT: the array must be sorted in Spark's string ordering
  * (`sort_array` ascending — UTF8String binary order, which this
  * search replays via `UTF8String.compareTo`) and null-free; the
  * policy builders guarantee both (`sort_array(collect_set(...))`).
  * Null array or null key → null (the builtin's semantics). */
case class SortedContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sorted_contains"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (ArrayType(StringType, _), StringType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, string), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }

  override def nullSafeEval(arr: Any, key: Any): Any =
    SortedContains.compute(arr.asInstanceOf[ArrayData],
      key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, k) =>
      s"${ev.value} = graft.functions.SortedContains.compute($a, $k);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object SortedContains {
  def compute(arr: ArrayData, key: UTF8String): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = arr.getUTF8String(mid).compareTo(key)
      if (c == 0) return true
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  def apply(arr: Column, key: Column): Column =
    Bridge.column(SortedContains(Bridge.expression(arr),
      Bridge.expression(key)))
}
