package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-layout operators: orderings and clusterings a 100 TB deployment
  * applies at WRITE time so later reads prune instead of scan.
  */
object Layout {

  /** Global sequence numbers (1-based, dense) in `(valueCol, tieCol)`
    * order — `row_number() OVER (ORDER BY value, tie)` semantics WITHOUT
    * the single-reducer global window Spark would plan for that ORDER BY
    * (every row through one partition: the canonical scale-killer).
    *
    * Shape — the two-pass range-partition trick `zipWithIndex` made
    * famous, kept declarative:
    *   1. one pass estimates `buckets-1` range cut points on `valueCol`
    *      (percentile_approx — a mergeable sketch, fully parallel);
    *   2. rows are bucketed by a scan-fused comparison against the
    *      broadcast cuts; per-bucket counts (tiny, `buckets` rows) turn
    *      into start offsets via a cumulative window over that tiny frame;
    *   3. a row_number window PARTITIONED BY BUCKET (parallel, balanced
    *      by the sketch) plus the broadcast offset yields the global
    *      ordinal.
    * The output is EXACT regardless of sketch error — cut accuracy only
    * affects bucket balance, never the ordinal, because bucketing is by
    * `valueCol` comparison (equal values land in one bucket) and the
    * within-bucket sort completes the order. The cut array is pulled to
    * the driver once (`buckets-1` values — a k-row action, like
    * kmeansIter's centroids) and inlined as literals so the two passes
    * that bucket rows can never observe different sketch results; the
    * offsets stay a broadcast `buckets`-row frame.
    *
    * `tieCol` must be unique per `valueCol` value (e.g. a primary key) or
    * the order — like any SQL row_number over a non-unique key — is
    * nondeterministic. Null values/ties must be filtered by the caller. */
  def globalSequence(df: DataFrame, valueCol: String, tieCol: String,
                     buckets: Int = 64, accuracy: Int = 10000): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val fracs = (1 until buckets).map(_.toDouble / buckets)
    // The cuts are MATERIALIZED ONCE (one tiny driver pull, `buckets-1`
    // doubles — the kmeansIter k-row precedent) and inlined as literals:
    // `bucketed` feeds two separate plans (the offsets aggregate and the
    // final ranked join), and a lazily recomputed percentile sketch is
    // not guaranteed bit-identical across recomputations (QuantileSummaries
    // merges are fetch-order sensitive past the exact threshold) — two
    // passes seeing different cuts would double-assign/skip ordinals
    // silently. A literal array makes both passes share constants by
    // construction. buckets=1 degenerates to the single-partition window
    // (no cuts to take — percentile_approx rejects an empty array).
    val bucketed =
      if (fracs.isEmpty) df.withColumn("_b", lit(0))
      else {
        val cutVals = df.agg(percentile_approx(col(valueCol),
          array(fracs.map(lit): _*), lit(accuracy)).as("_cuts"))
          .head().getSeq[Any](0)
        if (cutVals == null) df.withColumn("_b", lit(0)) // empty input
        else df.withColumn("_b",
          size(filter(array(cutVals.map(lit): _*), c => c < col(valueCol))))
      }
    val offsets = bucketed.groupBy("_b").agg(count(lit(1)).as("_n"))
      // buckets-row frame: the unpartitioned window is over ≤ `buckets`
      // rows, never data
      .withColumn("_off", coalesce(sum(col("_n")).over(
        Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .drop("_n")
    bucketed.join(broadcast(offsets), "_b")
      .withColumn("seq", col("_off") + row_number().over(
        Window.partitionBy("_b").orderBy(col(valueCol), col(tieCol))))
      .drop("_b", "_off")
  }

  /** Z-order (Morton) clustering over two numeric dimensions: each row's
    * (x, y) is min-max scaled to a `bits`-bit integer grid, bit-interleaved
    * into a Morton code, and assigned to one of `buckets` (power of two)
    * contiguous z-ranges — the write-time layout that keeps BOTH
    * dimensions' min/max extents tight per file, so a predicate on EITHER
    * column prunes most buckets (the multi-dimensional generalization of
    * sort-by-one-column zone maps; Delta/Iceberg OPTIMIZE ZORDER is this
    * exact shape). Returns the input plus (`zval`, `zbucket`).
    *
    * All arithmetic is exact integer math — scaling by floor division
    * against the broadcast global min/max (one tiny agg, no collect), the
    * interleave a fixed sum of shift/mask terms — so the layout is
    * reproducible on any engine. Caller guarantees non-null x/y and
    * (maxX-minX)·(2^bits−1) within long range (true for ids and epoch
    * seconds at any realistic scale). */
  def zorder(df: DataFrame, xCol: String, yCol: String,
             bits: Int = 16, buckets: Int = 64): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    // an oversized bucket count would make the shift negative, which
    // Java's >> masks mod 64 — silently wrong buckets instead of an error
    require(buckets.toLong <= (1L << (2 * bits)),
      s"buckets ($buckets) exceeds the 4^bits = ${1L << (2 * bits)} z-cells")
    val shift = 2 * bits - (31 - Integer.numberOfLeadingZeros(buckets))
    val stats = df.agg(
      min(col(xCol).cast("long")).as("_minx"),
      max(col(xCol).cast("long")).as("_maxx"),
      min(col(yCol).cast("long")).as("_miny"),
      max(col(yCol).cast("long")).as("_maxy"))
    val withGrid = df.crossJoin(broadcast(stats))
      .withColumn("_xs", expr(
        s"(CAST($xCol AS BIGINT) - _minx) * ${(1L << bits) - 1} div greatest(_maxx - _minx, 1)"))
      .withColumn("_ys", expr(
        s"(CAST($yCol AS BIGINT) - _miny) * ${(1L << bits) - 1} div greatest(_maxy - _miny, 1)"))
    val z = (0 until bits).map { i =>
      shiftleft(shiftright(col("_xs"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(col("_ys"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
    withGrid.withColumn("zval", z)
      .withColumn("zbucket", shiftright(col("zval"), shift))
      .drop("_minx", "_maxx", "_miny", "_maxy", "_xs", "_ys")
  }

  /** The zone map a [[zorder]] layout produces: per-bucket row count and
    * min/max extents of both dimensions — the file-skipping metadata a
    * scan planner consults. Tight extents on BOTH columns (vs a
    * single-column sort, which leaves the other column's extent at full
    * range in every file) are the measurable point of z-ordering. */
  def zorderZoneMap(df: DataFrame, xCol: String, yCol: String,
                    bits: Int = 16, buckets: Int = 64): DataFrame =
    zorder(df, xCol, yCol, bits, buckets)
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n"),
        min(col(xCol).cast("long")).as("x_min"),
        max(col(xCol).cast("long")).as("x_max"),
        min(col(yCol).cast("long")).as("y_min"),
        max(col(yCol).cast("long")).as("y_max"))
}
