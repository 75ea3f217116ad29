package graft

import graft.ops.{Packing, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-6 curation operators: chunking, shard assignment, mixture
  * sampling, n-gram census, corpus profile. */
class CurationSpec extends SparkSpec {

  test("chunkDocs: overlap, tail chunk, and single-chunk docs") {
    import spark.implicits._
    // 10 words, chunkSize 4, stride 3 -> chunks at 0,3,6 ... count =
    // 1 + ceil((10-4)/3) = 3: [w1..w4] [w4..w7] [w7..w10]
    val words10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, words10), (2L, "a b"), (3L, " ")).toDF("doc_id", "text")
    val r = Packing.chunkDocs(d, chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
    val doc1 = r.filter(_.getLong(0) == 1L)
    assert(doc1.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    assert(doc1.map(_.getLong(2)).toSeq === Seq(4L, 4L, 4L))
    // doc 2: shorter than chunkSize -> exactly one (short) chunk
    val doc2 = r.filter(_.getLong(0) == 2L)
    assert(doc2.length === 1 && doc2.head.getLong(2) === 2L)
    // doc 3: whitespace-only text is dropped entirely
    assert(!r.exists(_.getLong(0) == 3L))
    // overlap: chunk 1 starts at word 4 = stride+1
    val m = md5(lit((4 to 7).map(i => s"w$i").mkString(" ")))
    val expected = d.sparkSession.range(1).select(m).head.getString(0)
    assert(doc1(1).getString(3) === expected)
  }

  test("chunkDocs covers every token: union of chunks at stride==chunkSize partitions the doc") {
    import spark.implicits._
    val words = (1 to 11).map(i => s"t$i").mkString(" ")
    val d = Seq((1L, words)).toDF("doc_id", "text")
    val r = Packing.chunkDocs(d, chunkSize = 4, stride = 4).collect()
    // 11 words, no overlap -> 3 chunks of sizes 4,4,3
    assert(r.map(_.getLong(2)).sorted.toSeq === Seq(3L, 4L, 4L))
  }

  test("shardAssign: deterministic, balanced-ish, positions dense per shard") {
    val d = spark.range(1000).select(col("id").as("doc_id"))
    val r = Sampling.shardAssign(d, "doc_id", 8).cache()
    assert(r.count() === 1000)
    // same input -> same assignment (pure function of id)
    val r2 = Sampling.shardAssign(d, "doc_id", 8)
    assert(r.except(r2).isEmpty && r2.except(r).isEmpty)
    // md5 is uniform: no shard should be empty or dominant at n=1000
    val sizes = r.groupBy("shard").count().collect().map(_.getLong(1))
    assert(sizes.length === 8 && sizes.min > 60 && sizes.max < 200)
    // positions are 1..count(shard) exactly (a permutation, no gaps/dupes)
    val bad = r.groupBy("shard").agg(count(lit(1)).as("n"),
        min("pos").as("lo"), max("pos").as("hi"),
        countDistinct("pos").as("np"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n") || col("np") =!= col("n"))
    assert(bad.isEmpty)
  }

  test("mixtureSample: quotas bind per stratum, deterministic hash-order prefix") {
    val d = spark.range(300).select(col("id").as("doc_id"),
      concat(lit("s"), (col("id") % 3).cast("string")).as("source"))
    val picked = Sampling.mixtureSample(d, "source", "doc_id",
      Map("s0" -> 0.5, "s1" -> 0.2), budget = 40)
    val bySrc = picked.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc === Map("s0" -> 20L, "s1" -> 8L))   // floor(w*40); s2 absent
    // the kept set is the rank-prefix: max rank == count per stratum
    val mx = picked.groupBy("source").agg(max("rank").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n"))
    assert(mx.isEmpty)
  }

  test("mixtureSample: quota larger than stratum keeps the whole stratum") {
    val d = spark.range(10).select(col("id").as("doc_id"), lit("s0").as("source"))
    val picked = Sampling.mixtureSample(d, "source", "doc_id",
      Map("s0" -> 1.0), budget = 100)
    assert(picked.count() === 10)
  }

  test("ngramCounts: occurrences are raw (repeats count), doc_freq distinct") {
    import spark.implicits._
    val d = Seq(
      (1L, "to be or not to be"),   // "to be" occurs twice in doc 1
      (2L, "to be is the question")).toDF("doc_id", "text")
    val r = TextAnalysis.ngramCounts(d, n = 2, topK = 10).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("to be") === (3L, 2L))
    assert(r("be or") === (1L, 1L))
    // top-k ordering: most frequent first, ties broken by gram asc
    val top = TextAnalysis.ngramCounts(d, n = 2, topK = 1).head()
    assert(top.getString(0) === "to be")
  }

  test("frequentNgrams: exactly the grams at/above the ceil-fraction " +
    "threshold — the CMS prefilter is output-invisible") {
    import spark.implicits._
    // 40 total bigrams; frac 1/10 → T = 4: "a b" (12×) and "b a" (9×)
    // qualify, every tail gram (≤3×) must be absent
    val docs = Seq(
      (1L, ("a b " * 10).trim),                  // 9× "b a", 10× "a b"
      (2L, "a b c d e f g h i j k l"),           // tail grams, 1 "a b"
      (3L, "a b c a c e b d")                     // 1 "a b" + tail
    ).toDF("doc_id", "text")
    val got = TextAnalysis.frequentNgrams(docs, n = 2,
        fracNum = 1L, fracDen = 10L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // exact counts computed by hand: doc1 "a b"×10 + docs 2,3 ×1 each
    assert(got === Map("a b" -> ((12L, 3L)), "b a" -> ((9L, 1L))))
  }

  test("frequentNgrams plan: candidate filter probes the CMS scan-side " +
    "(graft_cms_estimate below the exact aggregation)") {
    import spark.implicits._
    val docs = Seq((1L, "x y x y x y")).toDF("doc_id", "text")
    val plan = TextAnalysis.frequentNgrams(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_cms_estimate"),
      s"no CMS probe in the plan:\n$plan")
  }

  test("frequentNgrams scans the gram corpus exactly TWICE: one combined " +
    "threshold+sketch action, one exact verify pass (round-14 VERDICT — " +
    "separate actions paid a third corpus explode)") {
    import spark.implicits._
    val scans = spark.sparkContext.longAccumulator("gram-corpus-scans")
    val tick = udf { (_: Long) => scans.add(1L); true }
    val docs = Seq(
      (1L, ("a b " * 6).trim),
      (2L, "a b c d e f"),
      (3L, "g h i j")).toDF("doc_id", "text")
      .filter(tick(col("doc_id")))
    val got = TextAnalysis.frequentNgrams(docs, n = 2,
        fracNum = 1L, fracDen = 10L)
      .collect().map(_.getString(0)).toSeq
    assert(got.nonEmpty) // sanity: the heavy gram survived
    // 3 docs × 2 passes; the scalar subqueries read the checkpointed
    // 1-row stats frame, never the doc corpus again
    assert(scans.value === 6L,
      s"expected 2 corpus passes (6 row reads), saw ${scans.value}")
  }

  test("normalizeText: NFC composes, curly quotes/dashes fold to ASCII, " +
    "whitespace runs collapse, `changed` reports exactly the touched rows") {
    import spark.implicits._
    val docs = Seq(
      (1L, "already clean text"),
      (2L, "café du “monde” — fine"),
      (3L, "  spaced\tout\n\nrun  "),
      (4L, "It’s a test – ok")).toDF("doc_id", "text")
    val got = TextAnalysis.normalizeText(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(got(0) === ((1L, "already clean text", false)))
    assert(got(1) === ((2L, "café du \"monde\" - fine", true)))
    assert(got(2) === ((3L, "spaced out run", true)))
    assert(got(3) === ((4L, "It's a test - ok", true)))
    // plan shape: row-local, scan-fused — no exchange of any kind. A
    // range-backed input, NOT the local Seq: ConvertToLocalRelation
    // constant-folds a LocalRelation projection away entirely (which is
    // itself proof the expression evaluates interpreted), hiding the plan
    val ranged = spark.range(16).select(col("id").as("doc_id"),
      concat(lit("text “q” of "), col("id")).as("text"))
    val plan = TextAnalysis.normalizeText(ranged)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"normalizeText shuffles:\n$plan")
    assert(plan.contains("graft_nfc_normalize"),
      s"native NFC missing from the plan:\n$plan")
  }

  test("corpusStats: exact quartiles and decimal-exact mean per stratum") {
    import spark.implicits._
    // token counts 1..5 in lang a -> p25=2, p50=3, p75=4, mean=3
    val docs = (1 to 5).map(n => (n.toLong, (1 to n).map(_ => "x").mkString(" "), "a"))
    val d = docs.toDF("doc_id", "text", "lang")
    val r = TextAnalysis.corpusStats(d).head()
    assert(r.getLong(1) === 5L)                  // n_docs
    assert(r.getLong(2) === 15L)                 // total_tokens
    assert(r.getDouble(3) === 2.0 && r.getDouble(4) === 3.0 && r.getDouble(5) === 4.0)
    assert(r.getDouble(6) === 3.0)
  }

  test("kmeansAssign: vectors go to the nearest seed centroid, ties to lowest cid") {
    import spark.implicits._
    val d = Seq(
      (0L, Array(10f, 0f, 0f, 0f)),   // seed centroid 0
      (1L, Array(0f, 10f, 0f, 0f)),   // seed centroid 1
      (2L, Array(9f, 0f, 0f, 0f)),    // quantizes identically to v0
      (3L, Array(0f, 11f, 0f, 0f)),   // near centroid 1
      (4L, Array(0f, 0f, 0f, 0f))     // zero vector: equidistant -> cid 0
    ).toDF("vec_id", "embedding")
    val r = Similarity.kmeansAssign(d, k = 2).orderBy("vec_id").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
    // seeds are distance 0 from themselves
    val d0 = Similarity.kmeansAssign(d, k = 2).filter(col("vec_id") < 2)
      .agg(max("dist2")).head.getLong(0)
    assert(d0 === 0L)
  }

  test("kmeansUpdate: integer per-dimension sums and exact means") {
    import spark.implicits._
    val d = Seq(
      (0L, Array(10f, 0f, 0f, 0f)),
      (1L, Array(0f, 10f, 0f, 0f)),
      (2L, Array(9f, 0f, 0f, 0f)),
      (4L, Array(0f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.kmeansUpdate(d, k = 2)
      .filter(col("cid") === 0 && col("dim") === 0).head()
    // cluster 0 = {v0, v2, v4}; quantized dim0 = 127, 127, 0
    assert(r.getLong(2) === 3L)          // n
    assert(r.getLong(3) === 254L)        // sum_q
    assert(r.getDouble(4) === 254.0 / 3) // mean_q
  }

  test("kmeansIter: zero rounds == single assign; rounds move centroids to integer means") {
    import spark.implicits._
    val d = Seq(
      (0L, Array(10f, 0f, 0f, 0f)),
      (1L, Array(0f, 10f, 0f, 0f)),
      (2L, Array(9f, 0f, 0f, 0f)),
      (3L, Array(0f, 11f, 0f, 0f)),
      (4L, Array(0f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val zeroRounds = Similarity.kmeansIter(d, k = 2, iters = 0)
      .orderBy("vec_id").collect().map(_.toSeq)
    val singleStep = Similarity.kmeansAssign(d, k = 2)
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(zeroRounds === singleStep)
    // after a full round, cluster 0's centroid is the rounded mean of
    // dim-0 values {127,127,0} = floor(254/3+0.5) = 85; v4 (all zero) is
    // then at dist2 85^2=7225 from c0 vs 127^2 from the unmoved c1 ->
    // assigned to cid 0 outright (no tie anymore)
    val r = Similarity.kmeansIter(d, k = 2, iters = 1)
      .orderBy("vec_id").collect()
    assert(r.map(_.getLong(1)).toSeq === Seq(0L, 1L, 0L, 1L, 0L))
    assert(r(4).getLong(2) === 85L * 85L)
  }

  test("zero-fill grid emits empty cells (SparkEntry.q_zero_fill shape)") {
    import spark.implicits._
    // two types, events only on dow 0 -> grid must still have 7 rows per type
    val types = Seq("a", "b").toDF("event_type")
    val days = spark.range(0, 7).select(col("id").as("dow"))
    val counts = Seq(("a", 0L, 5L)).toDF("event_type", "dow", "c")
    val grid = types.crossJoin(days)
      .join(counts, Seq("event_type", "dow"), "left")
      .select(col("event_type"), col("dow"), coalesce(col("c"), lit(0L)).as("cnt"))
    assert(grid.count() === 14)
    assert(grid.filter(col("cnt") === 0).count() === 13)
  }
}
