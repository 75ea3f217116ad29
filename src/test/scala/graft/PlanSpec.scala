package graft

import graft.ops.Similarity
import graft.route.Filterer
import graft.translate.VehicleTranslators
import org.apache.spark.sql.functions._

/** Physical-plan properties that make the operators scale — asserted, not
  * hoped for: pushdown reaches parquet, small dims broadcast, translators
  * stay shuffle-free, the ANN ranking exchange is bounded. These are the
  * properties a 1000-executor run depends on; the assertions pin them
  * against optimizer/plan regressions. */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan (uncached at-scale path)") {
    // direct read (RawGen's spread/cache is the small-file path only)
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val q = lineitem.filter(col("l_quantity") < 45).select("l_returnflag", "l_quantity")
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,45"),
      s"no pushed filter in:\n$formatted")
    assert(formatted.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"),
      s"scan reads more columns than the projection needs:\n$formatted")
  }

  test("q_join_agg broadcasts the small dimension tables") {
    val p = plan(SparkEntry.byName("q_join_agg").run(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("translators are scan-fused: no exchange anywhere in the valid path") {
    val t = VehicleTranslators.geotab(strings(
      """{"Device_ID":"d","Vehicle_ID":"v","Record_DateTime":"2023-10-26T10:00:00Z","Latitude":1.0,"Longitude":2.0}"""),
      "t")
    val p = plan(t.valid.select("cmf_json"))
    assert(!p.contains("Exchange"), s"translator plan shuffles:\n$p")
  }

  test("filterer routing is scan-fused: no exchange before the sink") {
    val r = Filterer.route(strings("""{"meta":{"tenantId":"a"},"x":1}"""))
    val p = plan(r.routed.select("topic", "value"))
    assert(!p.contains("Exchange"), s"router plan shuffles:\n$p")
  }

  test("cosineTopK: corpus never shuffles; one bounded exchange feeds the ranking window") {
    import spark.implicits._
    val corpus = (0L until 100L).map(i => (i, Seq.fill(8)(i / 100.0f)))
      .toDF("vec_id", "embedding")
    val queries = (0L until 3L).map(i => (i, Seq.fill(8)(1.0f - i / 10.0f)))
      .toDF("vec_id", "embedding")
    val p = plan(Similarity.cosineTopK(corpus, queries, 5))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly 1 hash exchange (post local-top-k), got $exchanges:\n$p")
    assert(p.contains("BroadcastExchange"), s"query side not broadcast:\n$p")
  }

  test("sampling and PII scrub are scan-fused: zero exchanges") {
    import spark.implicits._
    import graft.ops.{Sampling, TextAnalysis}
    val docs = Seq((1L, "some text here", "en")).toDF("doc_id", "text", "lang")
    val sampled = Sampling.splitAssign(
      Sampling.stratifiedSample(docs, "lang", "doc_id", Map("en" -> 0.5)), "doc_id")
    assert(!plan(sampled).contains("Exchange"), "sampling plan shuffles")
    assert(!plan(TextAnalysis.piiScrub(docs)).contains("Exchange"), "piiScrub shuffles")
  }

  test("NO registered query plans a cartesian product; BNLJ only with a broadcast-small side") {
    // broadcast nested-loop is INTENDED where a tiny side is broadcast
    // against a non-equi condition (or a deliberate tiny cross join): ANN
    // brute scoring (a handful of query vectors; knn_recall embeds it),
    // tfidf's 1-row corpus-count join, k-means' k broadcast centroids, and
    // q_zero_fill's (types × 7 days) grid
    // COVERAGE BOUNDARY: queries whose pipelines eagerly localCheckpoint
    // (the PQ / IVF-PQ family via finishPq, kmeans_iter's loop) execute
    // their joins during CONSTRUCTION — this executedPlan assertion sees
    // only the final Sort-over-LogicalRDD, so their internal join shapes
    // are pinned where the frames are still lazy instead: OpsSpec's
    // ivfPqRerank plan test (exact pass broadcast-restricted, no
    // cartesian) and DedupSpec's no-cartesian asserts. knn_ivf_pq needs no
    // BNLJ allowance for exactly that reason; the recall evals appear here
    // only because they embed knn_brute's lazy broadcast-query scoring.
    val bnljAllowed = Set("knn_brute", "knn_topk_agg", "knn_recall",
      "knn_pq_recall", // embeds knn_brute's broadcast-query scoring
      "knn_ivf_pq_recall", // embeds knn_brute's ground truth
      "tfidf_top_terms", "kmeans_assign", "kmeans_update", "kmeans_iter",
      "dedup_semantic", // embeds kmeansAssign's k broadcast centroids
      "embed_outliers", // same broadcast-centroid assignment shape
      "curate_semantic", // composes the two ops above
      "bm25_search", // 1-row (n_docs, avgdl) stats frame, broadcast cross join
      "bm25_search_indexed", // same 1-row stats cross join, table-backed
      "hybrid_rrf", // embeds bm25_search's 1-row stats cross join
      "hybrid_rrf_indexed", // same 1-row stats cross join, table-backed
      "q_global_seq", // 1-row percentile-cuts frame, broadcast cross join
      "snm_editdist", // embeds globalSequence's cuts frame
      "layout_zorder", // 1-row global min/max frame, broadcast cross join
      "zonemap_prune", // same min/max frame via Layout.zorder
      "domain_stats", // 1-row isqrt-total frame, broadcast cross join
      "domain_quota_sample", // embeds domainStats' 1-row total cross join
      "q_zero_fill")
    val dir = "/root/testdata/sf0.001"
    SparkEntry.registry.foreach { q =>
      val p = q.run(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"${q.name} plans a cartesian product")
      if (!bnljAllowed.contains(q.name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans an unexpected nested-loop join")
    }
  }

  test("decontaminate broadcasts the eval n-gram set; corpus side never sort-merges") {
    import spark.implicits._
    val docs = (0L to 20L).map(i => (i, s"alpha beta gamma delta token$i end"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.TextAnalysis.decontaminate(docs))
    assert(p.contains("BroadcastHashJoin"), s"eval set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side shuffled for the join:\n$p")
  }

  test("dsirWeights: the B-row log-ratio table broadcasts for the scoring join") {
    import spark.implicits._
    val docs = (0L to 20L).map(i => (i, s"alpha beta gamma token$i end",
      if (i % 2 == 0) "en" else "fr")).toDF("doc_id", "text", "lang")
    val p = plan(graft.ops.Sampling.dsirWeights(docs,
      docs.filter(col("lang") === "en")))
    assert(p.contains("BroadcastHashJoin"), s"log-ratio table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus features sort-merged against a 1024-row table:\n$p")
  }

  test("incrementalDedup verify join stays a shuffle join (catalog never broadcasts)") {
    import spark.implicits._
    val base = (1L to 50L).map(i => (i, s"catalog $i")).toDF("doc_id", "text")
    val delta = (100L to 150L).map(i => (i, s"delta $i")).toDF("doc_id", "text")
    // at this size auto-broadcast WOULD fire without the hint; the catalog
    // is corpus-cardinality at scale, so the pinned plan must shuffle
    val p = plan(graft.ops.Dedup.incrementalDedup(delta, base))
    assert(p.contains("ShuffledHashJoin"), s"verify join not shuffle-pinned:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"catalog side broadcast:\n$p")
  }

  test("chunkDocs is scan-fused: zero exchanges") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    assert(!plan(graft.ops.Packing.chunkDocs(docs)).contains("Exchange"),
      "chunking plan shuffles")
  }

  test("shardAssign: exactly one hash exchange (the per-shard rank window)") {
    import spark.implicits._
    val docs = spark.range(100).select(col("id").as("doc_id"))
    val p = plan(graft.ops.Sampling.shardAssign(docs, "doc_id", 8))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("kmeansAssign: centroids broadcast; argmin is ONE hash exchange and hash-aggregated") {
    import spark.implicits._
    val embs = (0L until 50L).map(i => (i, Seq.fill(8)((i % 5) / 5.0f)))
      .toDF("vec_id", "embedding")
    val p = plan(Similarity.kmeansAssign(embs, 4))
    assert(p.contains("BroadcastExchange"), s"centroids not broadcast:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected 1 hash exchange (argmin agg), got $exchanges:\n$p")
    // the encoded-long argmin must stay a HashAggregate — min(struct) would
    // silently degrade to SortAggregate (two extra sorts of the N×k rows)
    assert(p.contains("HashAggregate"), s"argmin not hash-aggregated:\n$p")
    assert(!p.contains("SortAggregate"), s"argmin degraded to sort agg:\n$p")
  }

  test("minhash signature frame carries no shingle arrays into the band self-join") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val p = plan(graft.ops.Dedup.minhashNeardup(docs))
    // the only sort-merge/shuffle-hash join keys must be band columns, and
    // the persisted slim frame (doc_id, mh, bands) is what shuffles — the
    // full shingle arrays (`sh`) only appear in the candidate-verify joins
    assert(p.contains("band_idx"), s"band join missing:\n$p")
    assert(!p.contains("CartesianProduct"))
  }
}
