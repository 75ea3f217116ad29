package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The CMF wire message from its three serialized parts: `head`, a JSON
  * object (the envelope before `sourceSpecificData`), with
  * `,"sourceSpecificData":<ssd>,"meta":<meta>` spliced in before its
  * closing brace; any part NULL gives NULL. The head is evaluated once and
  * its brace dropped by byte offset, so each part is copied once into the
  * result. */
case class CmfWire(head: Expression, ssd: Expression, meta: Expression)
    extends TernaryExpression {

  override def first: Expression = head
  override def second: Expression = ssd
  override def third: Expression = meta
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_cmf_wire"

  override def nullSafeEval(h: Any, s: Any, m: Any): Any =
    CmfWire.splice(h.asInstanceOf[UTF8String], s.asInstanceOf[UTF8String],
      m.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, s, m) => s"graft.functions.CmfWire.splice($h, $s, $m)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(head = newFirst, ssd = newSecond, meta = newThird)
}

object CmfWire {
  private val ssdKey = UTF8String.fromString(",\"sourceSpecificData\":")
  private val metaKey = UTF8String.fromString(",\"meta\":")
  private val close = UTF8String.fromString("}")

  def splice(head: UTF8String, ssd: UTF8String, meta: UTF8String): UTF8String = {
    // the head's closing brace is overwritten by the first spliced byte
    val parts = Array(ssdKey, ssd, metaKey, meta, close)
    val out = new Array[Byte](head.numBytes - 1 + parts.map(_.numBytes).sum)
    head.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET)
    var at = head.numBytes - 1
    parts.foreach { p =>
      p.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + at)
      at += p.numBytes
    }
    UTF8String.fromBytes(out)
  }

  def apply(head: Column, ssd: Column, meta: Column): Column =
    Bridge.column(CmfWire(Bridge.expression(head), Bridge.expression(ssd),
      Bridge.expression(meta)))
}
