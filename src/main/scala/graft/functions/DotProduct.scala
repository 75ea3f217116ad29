package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native fused dot product ⟨a,b⟩ over two `array<double>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — builds
  * an intermediate products array per row and walks it through two
  * higher-order-function interpreters; this expression is one codegen'd loop
  * with no allocation, which matters when it sits inside an ANN scoring join
  * evaluated |corpus|·|queries| times (Similarity.cosineTopK hot path).
  *
  * Semantics match the composable form exactly (and therefore the DuckDB
  * oracle's `list_dot_product`): strict left-to-right accumulation, NULL when
  * either side is NULL or lengths differ (zip_with pads the shorter side with
  * NULL, nulling the whole fold). Array ELEMENTS must be non-null.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  // Inputs must already be array<double> (callers cast, Similarity.asDouble);
  // AbstractDataType/ExpectsInputTypes are private[sql] in Spark 4, so the
  // usual implicit-cast contract isn't expressible from an external package.
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> inputs, got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-API form: `dot(col("a"), col("b"))`. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
}
