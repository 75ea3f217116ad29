package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native fused MinHash component: lexicographic minimum of
  * `md5(prefix || element)` hex digests over an `array<string>` column —
  * the per-(document, hash-function) unit of the MinHash signature pass,
  * evaluated numHashes× per document over every shingle.
  *
  * The composable form — `array_min(transform(sh, x => md5(concat(prefix,
  * x))))` — walks two CodegenFallback higher-order interpreters and
  * materializes a fresh numShingles-element hex-string array per (row,
  * seed). This is one loop, no intermediate array, one reused
  * MessageDigest, and digests are compared as RAW bytes (hex encoding is
  * order-preserving per byte, so unsigned byte order == hex string order);
  * only the winner is hex-encoded. Exact parity with the composable form
  * is asserted in FunctionsSpec; the DuckDB oracle reproduces the same
  * min-of-seeded-md5 semantics.
  *
  * NULL result for a NULL or EMPTY array (array_min of an empty transform
  * is NULL). Array elements must be non-null (shingle arrays are built
  * from non-null text).
  */
case class MinSeededMd5(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  // analysis-time check: a Column caller can pass any expression — fail
  // at analysis, not ClassCastException at run
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _), StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<string>, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(arr: Any, prefix: Any): Any =
    MinSeededMd5.compute(arr.asInstanceOf[ArrayData],
      prefix.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, p) => {
      s"""
         |${ev.value} = graft.functions.MinSeededMd5.compute($a, $p);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MinSeededMd5 {

  private val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Unsigned lexicographic compare of two 16-byte digests. */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  /** Called from both the interpreted and the generated path. */
  def compute(arr: ArrayData, prefix: UTF8String): UTF8String = {
    val n = arr.numElements()
    if (n == 0) return null
    val md = digestTL.get()
    val prefixBytes = prefix.getBytes
    var best: Array[Byte] = null
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      // null element: the composable spelling's md5(concat(prefix, NULL))
      // is NULL, which array_min IGNORES — skip, don't NPE (internal
      // callers never produce null shingles; a Column caller can)
      if (s != null) {
        md.reset()
        md.update(prefixBytes)
        md.update(s.getBytes)
        val d = md.digest()
        if (best == null || less(d, best)) best = d
      }
      i += 1
    }
    if (best == null) return null // all-null array == array_min of all-NULL
    val out = new Array[Byte](32)
    var j = 0
    while (j < 16) {
      out(j * 2) = hexChars((best(j) >> 4) & 0xf).toByte
      out(j * 2 + 1) = hexChars(best(j) & 0xf).toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Column-API form: min over `arr` of md5(prefix || element). */
  def minSeededMd5(arr: Column, prefix: Column): Column =
    Bridge.column(MinSeededMd5(Bridge.expression(arr), Bridge.expression(prefix)))
}
