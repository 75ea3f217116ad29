package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import scala.reflect.runtime.universe.TypeTag

/** Bounded top-k as a typed `Aggregator`: per group, the `k` first rows
  * under `ord`, in that order. Because an Aggregator participates in
  * Spark's two-phase aggregation, the partial (map-side) buffers are
  * already capped at k entries, so the shuffle carries ≤ k·tasks rows per
  * group and the merge tree is the engine's own — no imperative partition
  * loop (Similarity.localTopK's heap), no per-group rank window that puts
  * a hot group's entire row set through one task's sort, and it works in
  * any groupBy, batch or streaming.
  *
  * The buffer is a sorted Seq and k is small, so the O(k log k) re-sort
  * per merge is noise. The common-case reduce is O(1): once the buffer is
  * full, a row sorting AFTER the current k-th is dropped without
  * re-sorting — at scale almost every row of a large group takes this
  * path. */
class TopKAggregator[T: TypeTag](k: Int, ord: Ordering[T])
    extends Aggregator[T, Seq[T], Seq[T]] {
  require(k >= 1, s"top-k needs k >= 1, got $k")

  private val enc: Encoder[Seq[T]] = ExpressionEncoder[Seq[T]]()

  override def zero: Seq[T] = Seq.empty

  override def reduce(buf: Seq[T], e: T): Seq[T] =
    if (buf.length >= k && ord.lteq(buf(buf.length - 1), e)) buf
    else (buf :+ e).sorted(ord).take(k)

  override def merge(a: Seq[T], b: Seq[T]): Seq[T] =
    (a ++ b).sorted(ord).take(k)

  override def finish(r: Seq[T]): Seq[T] = r.sorted(ord)

  override def bufferEncoder: Encoder[Seq[T]] = enc

  override def outputEncoder: Encoder[Seq[T]] = enc
}
