package graft

import graft.ops.Layout

/** Data-layout operators (round 11): scalable global sequence numbers and
  * Z-order clustering. */
class LayoutSpec extends SparkSpec {

  test("globalSequence: exact row_number semantics across bucket cuts") {
    import spark.implicits._
    // duplicate values (ties broken by id), skewed distribution, and few
    // enough buckets that several cut points land inside duplicate runs
    val rows = Seq(
      (10L, 5L), (11L, 5L), (12L, 5L), (13L, 1L), (14L, 9L),
      (15L, 5L), (16L, 2L), (17L, 9L), (18L, 0L), (19L, 5L),
      (20L, 7L), (21L, 3L), (22L, 3L), (23L, 8L), (24L, 6L))
    val df = rows.toDF("id", "v")
    val got = Layout.globalSequence(df, "v", "id", buckets = 4)
      .select("id", "v", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    val expected = rows.sortBy { case (id, v) => (v, id) }.zipWithIndex
      .map { case ((id, v), i) => (id, v, (i + 1).toLong) }
    assert(got.toSeq === expected)
  }

  test("globalSequence: dense 1..N with equal-value rows in one bucket") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i % 7)).toDF("id", "v")
    val seqs = Layout.globalSequence(df, "v", "id", buckets = 8)
      .select("seq").as[Long].collect().sorted
    assert(seqs.toSeq === (1L to 100L))
  }

  test("zorder: Morton interleave on a pinned 16-bit grid") {
    import spark.implicits._
    // (0,0) and (65535,65535) pin min-max scaling to the identity
    val df = Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L),
      (3L, 5L)).toDF("x", "y")
    val got = Layout.zorder(df, "x", "y").select("x", "y", "zval", "zbucket")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got((0L, 0L)) === ((0L, 0L)))
    assert(got((65535L, 0L)) === ((0x55555555L, 0x55555555L >> 26)))
    assert(got((0L, 65535L)) === ((0xAAAAAAAAL, 0xAAAAAAAAL >> 26)))
    assert(got((65535L, 65535L)) === ((0xFFFFFFFFL, 0xFFFFFFFFL >> 26)))
    // interleave(3,5): x bits at even positions, y bits at odd → 39
    assert(got((3L, 5L))._1 === 39L)
  }

  test("zorder rejects bucket counts beyond the z-cell grid") {
    import spark.implicits._
    val df = Seq((0L, 0L)).toDF("x", "y")
    // 2*bits=16 z-bits -> 65536 cells; 131072 buckets would shift by -1,
    // which Java masks mod 64 — must throw, not silently bucket everything
    intercept[IllegalArgumentException] {
      Layout.zorder(df, "x", "y", bits = 8, buckets = 131072)
    }
  }

  test("zorderZoneMap: z-bucketing keeps both dims' extents tight") {
    import spark.implicits._
    // a 64x64 grid scaled to the 16-bit range: each of the 64 z-buckets
    // covers a 16x8 tile of the grid (top 6 interleaved bits), so every
    // bucket's extent is a small fraction of the full span on BOTH dims
    val grid = for (x <- 0 until 64; y <- 0 until 64)
      yield (x * 1040L, y * 1040L) // max 65520, inside the 16-bit range
    val df = grid.toDF("x", "y")
    val zm = Layout.zorderZoneMap(df, "x", "y").collect()
    assert(zm.length > 1)
    zm.foreach { r =>
      val (xs, ys) = (r.getLong(3) - r.getLong(2), r.getLong(5) - r.getLong(4))
      assert(xs <= 65535 / 2 && ys <= 65535 / 2,
        s"bucket ${r.getLong(0)} extent too wide: x=$xs y=$ys")
    }
  }
}
