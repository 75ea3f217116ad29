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

  test("IVF family corpus passes and probes run natively: no lambda " +
    "function in the residual corpus, the trained lists write or the probe") {
    // two clusters of 8-dim vectors, computed from a range so that no
    // projection folds into a local relation and out of the plan
    def vecs(ids: Seq[Long]) = spark.range(ids.size).select(
      element_at(typedLit(ids), col("id").cast("int") + 1).as("vec_id"))
      .select(col("vec_id"), array((0 until 8).map { d =>
        (when(col("vec_id") <= 6, 10.0).otherwise(-10.0) +
          when(pmod(col("vec_id"), lit(4)) === d, 0.5).otherwise(0.0))
          .cast("float")
      }: _*).as("embedding"))
    val corpus = vecs(1L to 12L)
    val queries = vecs(Seq(1L, 7L))
    // the residual corpus is the first checkpoint of the md5 chain and the
    // second of the trained one (after the training input's)
    val md5Residuals = checkpointPlans(1) {
      Similarity.ivfPqTopK(corpus, queries, m = 2, k = 2, topK = 5, dim = 8,
        numCentroids = 4)
    }.head
    val trainedResiduals = checkpointPlans(2) {
      Similarity.ivfPqTopKTrained(corpus, queries, m = 2, k = 2, topK = 5,
        dim = 8, numCentroids = 4, nprobe = 2, assignTop = 2, iters = 3)
    }(1)
    val listsWrite = actionPlans(1, (_, p) =>
        p.contains("planidx_lists") && p.contains("AsSelect")) {
      Similarity.ivfWriteIndexTrained(corpus, "planidx", numCentroids = 4,
        dim = 8, buckets = 4, iters = 3, assignTop = 2)
    }.head
    val probe = actionPlans(1, (f, p) =>
        f == "collect" && p.contains("planidx_lists")) {
      Similarity.ivfSearchIndexedTrained(spark, queries, "planidx", k = 5,
        nprobe = 2).collect()
    }.head
    Seq("md5 residual corpus" -> md5Residuals,
      "trained residual corpus" -> trainedResiduals,
      "trained lists write" -> listsWrite,
      "trained probe" -> probe).foreach { case (what, p) =>
      assert(!p.contains("lambdafunction"), s"$what runs a lambda:\n$p")
    }
    assert(Seq(md5Residuals, trainedResiduals).forall(_.contains("graft_vec_sub")))
    assert(Seq(trainedResiduals, listsWrite, probe)
      .forall(_.contains("graft_top_centroids")))
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
    // the band self-join runs in the candidates' materialization
    val p = checkpointPlans(1) { graft.ops.Dedup.minhashNeardup(docs) }.head
    // the only sort-merge/shuffle-hash join keys must be band columns, and
    // the persisted slim frame (doc_id, mh, bands) is what shuffles — the
    // full shingle arrays (`sh`) only appear in the candidate-verify joins
    assert(p.contains("band_idx"), s"band join missing:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("E1/E2 and E3 pipeline plans compile whole-stage with codegen fallback off") {
    import spark.implicits._
    // the deployed topology would absorb a failed whole-stage compile by
    // falling back to interpreted execution; with fallback off it throws
    withConf("spark.sql.codegen.fallback", "false") {
      val tagged = graft.pipeline.Pipeline.vehicleCmfBatch(spark, PipelineSpec.spoolDir()).tagged
      val (publish, deadLetter) = graft.pipeline.Pipeline.publishAndDeadLetter(tagged)
      assert(countPlanNodes(tagged, "WholeStageCodegen") > 0)
      assert(tagged.collect().length === 5)
      assert(publish.collect().isEmpty) // the translators' CMF carries no tenantId
      assert(deadLetter.collect().length === 5)
      val raw = Seq(
        ("""{"uid":1,"name":"u","created":1698314400}""", 0),
        ("""{"shipId":"S-1","status":"SHIPPED","deliveredAt":1698314400}""", 4),
        ("""{"poison":true}""", 0)).toDF("value", "kind")
      val (t, routed) = graft.pipeline.Pipeline.legacyEvents(raw)
      assert(countPlanNodes(t.valid, "WholeStageCodegen") > 0)
      assert(t.valid.collect().length === 2)
      assert(t.quarantine.collect().length === 1)
      assert(routed.routed.collect().length === 2)
      assert(routed.dropped.collect().isEmpty)
    }
  }

  test("E1/E2 dead-letter plan parses each record once and serializes the CMF head once") {
    import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, Literal}
    import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val (_, deadLetter) = graft.pipeline.Pipeline.publishAndDeadLetter(
      graft.pipeline.Pipeline.vehicleCmfBatch(spark, PipelineSpec.spoolDir()).tagged)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
    }
    val plan = nodes(deadLetter.queryExecution.executedPlan)
    val exprs: Seq[Expression] = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
    val parses = plan.collect { case g: GenerateExec => g.generator.prettyName }
    assert(parses === Seq.fill(3)("graft_json_fields"), s"parse nodes: $parses")
    // Spark 4 runs to_json, json_object_keys and json_array_length as
    // invocations of an evaluator object or a static helper
    def name(e: Expression): String = e match {
      case Invoke(Literal(evaluator, _), _, _, _, _, _, _, _) => evaluator.getClass.getSimpleName
      case s: StaticInvoke => s.functionName
      case _ => e.prettyName
    }
    val names = exprs.map(name)
    val tokenizers = names.filter(Set("json_tuple", "jsonObjectKeys", "lengthOfJsonArray",
      "substr", "substring"))
    assert(tokenizers.isEmpty, s"second parses or substrings: $tokenizers")
    // the head is the one serialized struct that carries `events`
    val heads = exprs.count {
      case i: Invoke if name(i) == "StructsToJsonEvaluator" => i.arguments.exists {
        case c: CreateNamedStruct => c.names.map(String.valueOf).contains("events")
        case _ => false
      }
      case _ => false
    }
    assert(heads === 3, s"$heads head serializations for 3 translators")
  }
}
