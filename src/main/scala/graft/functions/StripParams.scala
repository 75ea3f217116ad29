package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Apply a learned param-strip policy to a canonical URL in ONE native
  * codegen'd pass (round 19): split the query on `&`, drop every param
  * whose NAME (the segment before the first `=`, or the whole segment
  * when none) binary-searches into the SORTED `drops` array, keep the
  * rest in order (the canonical query is already sorted, so order is
  * identity), re-join — `path` alone when nothing survives.
  *
  * Exists because the higher-order-function spelling
  * (`filter(_ps, p => !sorted_contains(drops, key(p)))`) is
  * CodegenFallback: inside a whole-stage-codegen'd join stage, every
  * row crossing that eval boundary re-materialized the build side's
  * policy array — ~55 s for 2M rows against a 10⁵-name crawl-trap
  * strip list on the 10× scale-probe megadomain, with the actual string
  * work accounting for ~1 s. As a binary native expression the array
  * stays a reference and the whole projection stays in codegen.
  *
  * Null url or null drops → null (the caller guards the no-policy
  * domain with `when(isnull(drops), url)`). The binary search replays
  * [[SortedContains]]'s UTF8String binary ordering — `sort_array`'s. */
case class StripParams(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_strip_params"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
      right.dataType) match {
    case (StringType, ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, array<string>), got " +
        s"(${l.catalogString}, ${r.catalogString})")
  }

  override def nullSafeEval(url: Any, drops: Any): Any =
    StripParams.compute(url.asInstanceOf[UTF8String],
      drops.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (u, d) =>
      s"${ev.value} = graft.functions.StripParams.compute($u, $d);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object StripParams {
  def compute(url: UTF8String, drops: ArrayData): UTF8String = {
    val s = url.toString
    val qIdx = s.indexOf('?')
    if (qIdx < 0) return url
    val query = s.substring(qIdx + 1)
    if (query.isEmpty) return url
    val parts = query.split("&", -1)
    val kept = new StringBuilder
    // kept-count tracked separately from builder emptiness (round 20,
    // r19 ADVICE): an EMPTY kept segment (trailing '&', '&&') must
    // still count as kept — `kept.nonEmpty` conflated "nothing kept"
    // with "kept only empty segments", so 'p?a=1&' with a dropped
    // diverged from the filter/array_join spelling (and the oracle's
    // list_filter replay), which keep the empty element → 'p?'
    var nKept = 0
    var changed = false
    var i = 0
    while (i < parts.length) {
      val p = parts(i)
      val eq = p.indexOf('=')
      val key = if (eq < 0) p else p.substring(0, eq)
      if (SortedContains.compute(drops, UTF8String.fromString(key))) {
        changed = true
      } else {
        if (nKept > 0) kept.append('&')
        kept.append(p)
        nKept += 1
      }
      i += 1
    }
    if (!changed) url
    else if (nKept == 0) UTF8String.fromString(s.substring(0, qIdx))
    else UTF8String.fromString(s.substring(0, qIdx + 1) + kept)
  }

  def apply(url: Column, drops: Column): Column =
    Bridge.column(StripParams(Bridge.expression(url),
      Bridge.expression(drops)))
}
