package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native fused DSIR feature buckets: for a words array, the md5-derived
  * hash bucket of every unigram and every space-joined bigram, in one
  * pass with no per-gram string materialization.
  *
  * The composable spelling builds each bigram STRING (`concat_ws`),
  * renders md5 as a 32-char hex string, substrings 4 chars, and parses
  * them back with `conv` — four transient allocations per gram, profiled
  * as the bulk of the DSIR feature pass. This expression feeds MD5 the
  * gram's UTF-8 BYTES directly (`w1 ++ ' ' ++ w2` is byte-identical to
  * the joined string's UTF-8), takes the first two digest bytes as the
  * 16-bit hex-prefix value, and mods into B. Bucket-EXACT parity with
  * the composable form — and with the DuckDB oracle, which replays
  * `md5(gram)` digit-by-digit (FunctionsSpec asserts the parity on
  * random words; the dsir PropSpec reference recomputes it in plain
  * Scala). The parity claim holds for arrays WITHOUT null slots — which
  * is everything the `words()` splitter can produce. A null-bearing
  * array from any other Column caller diverges: the composable spelling
  * nulls the unigram bucket and has concat_ws SKIP the null inside
  * bigrams, while this expression hashes a null slot as the empty
  * string (policy at compute()); don't feed it null-bearing arrays
  * where oracle parity matters.
  *
  * Output: unigram buckets in word order, then bigram buckets in word
  * order (a doc with L ≥ 2 words yields 2L−1 entries; L = 1 yields 1).
  * Consumers only count (hash-agg) or fold (score), so order is not
  * observable — it is fixed anyway for determinism.
  */
case class DsirBuckets(child: Expression, buckets: Int) extends UnaryExpression {
  require(buckets >= 1, s"bucket count must be >= 1, got $buckets")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_dsir_buckets"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(arr: Any): Any =
    DsirBuckets.compute(arr.asInstanceOf[ArrayData], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.DsirBuckets.compute($a, $buckets);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DsirBuckets {

  // one digest instance per executor thread — getInstance("MD5") does a
  // provider lookup per call, far too hot for a per-row path
  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Called from both the interpreted and the generated path. */
  def compute(arr: ArrayData, buckets: Int): ArrayData = {
    val len = arr.numElements()
    if (len == 0) return new GenericArrayData(Array.emptyLongArray)
    val md = localMd.get()
    val wordBytes = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      val s = arr.getUTF8String(i)
      // the words() splitter never yields nulls, but a Column caller can:
      // hash a null slot as the empty string (same policy as
      // graft_shingle_hashes) rather than NPE-ing
      wordBytes(i) = if (s == null) Array.emptyByteArray else s.getBytes
      i += 1
    }
    val out = new Array[Long](if (len >= 2) 2 * len - 1 else len)
    i = 0
    while (i < len) {
      out(i) = bucketOf(md, wordBytes(i), null, buckets)
      i += 1
    }
    i = 0
    while (i < len - 1) {
      out(len + i) = bucketOf(md, wordBytes(i), wordBytes(i + 1), buckets)
      i += 1
    }
    new GenericArrayData(out)
  }

  private def bucketOf(md: java.security.MessageDigest, a: Array[Byte],
                       b: Array[Byte], buckets: Int): Long = {
    md.reset()
    md.update(a)
    if (b != null) { md.update(' '.toByte); md.update(b) }
    val d = md.digest()
    ((((d(0) & 0xff) << 8) | (d(1) & 0xff)) % buckets).toLong
  }

  /** Column-API form: md5-prefix feature buckets of unigrams + bigrams. */
  def dsirBuckets(words: Column, buckets: Int): Column =
    Bridge.column(DsirBuckets(Bridge.expression(words), buckets))
}
