package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native fused shingle-hash set: the DISTINCT 64-bit hashes of all word
  * n-gram shingles of an `array<string>` words column, in one pass with
  * zero string allocation.
  *
  * The composable spelling — `array_distinct(transform(sequence(...),
  * i => array_join(slice(words, i, n), " ")))` followed by `xxhash64` on
  * each exploded element — materializes an n-element array AND a joined
  * string per shingle position; profiled at 0.8 s per pass over the sf0.1
  * corpus (≈54% of the whole exact-Jaccard query). This expression hashes
  * each WORD once (`XXH64` over its UTF-8 bytes) and derives each shingle
  * hash by chaining the n word hashes through `XXH64.hashLong` — O(L)
  * string work + O(L·n) long mixes per document, no intermediate arrays.
  *
  * Equality contract: `words()` output contains no whitespace (it is a
  * `\s+` split), so word-TUPLE equality is equivalent to the joined-string
  * equality the composable spelling dedups on; the chained hash therefore
  * preserves distinct-shingle COUNTS and cross-document shingle equality
  * exactly, up to 64-bit collisions (P ≈ m²/2⁶⁵ per document — negligible,
  * and a collision perturbs one intersection count by 1). Downstream
  * consumers ([[graft.ops.Dedup.jaccardNeardup]],
  * [[graft.ops.TextAnalysis.decontaminate]]) use only set cardinalities and
  * equi-join matches, never the shingle text, so their outputs — and their
  * string-semantics DuckDB oracles — are unchanged.
  *
  * Returns an EMPTY array when the words array has fewer than n elements
  * (callers filter `size(words) >= n` first); the result is sorted
  * ascending (set semantics — `array_distinct`'s first-occurrence order is
  * not observable through explode + aggregate).
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_shingle_hashes"

  // A Column caller can pass any expression, so type-check at analysis
  // instead of ClassCastException-ing at runtime.
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
    ShingleHashes.compute(arr.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  // Spark's xxhash64 default seed; any fixed value works (the hash space is
  // internal to one query), this one just keeps a familiar constant.
  private val Seed = 42L

  /** Called from both the interpreted and the generated path. */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val wordHash = new Array[Long](len)
    var i = 0
    while (i < len) {
      val s = arr.getUTF8String(i)
      // internal callers (words()) never produce null elements, but a
      // Column caller can: hash a null slot as the empty string rather than
      // NPE-ing (deterministic, and distinct from any real word w.h.p.
      // only when mixed with non-empty neighbors — null-vs-"" ambiguity is
      // acceptable for a hash set over tokenizer output)
      wordHash(i) =
        if (s == null) XXH64.hashUnsafeBytes(Array.emptyByteArray,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, 0, Seed)
        else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      i += 1
    }
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = wordHash(i)
      var k = 1
      while (k < n) { h = XXH64.hashLong(wordHash(i + k), h); k += 1 }
      out(i) = h
      i += 1
    }
    // sort + in-place dedup: set semantics without a hash table allocation
    java.util.Arrays.sort(out)
    var w = 1
    i = 1
    while (i < m) {
      if (out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == m) out else java.util.Arrays.copyOf(out, w))
  }

  /** Column-API form: distinct chained-XXH64 hashes of word n-grams. */
  def shingleHashes(words: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(words), n))
}
