package graft.gen

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev utility behind DESIGN.md's measured-scaling tables: times selected
  * operators at 1× and 10× corpus size (documents replicated with a
  * distinct tag word / embeddings with a vec_id offset, so replicas are
  * near- but not exact duplicates — the hostile case for pair-producing
  * operators). Not part of the driver contract; run with
  * `sbt "runMain graft.gen.ScaleProbe"`.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session("32")

    val docs1 = RawGen.table(spark, sfDir, "documents")
    val docs10 = (0 until 10).map { r =>
      docs1.select((col("doc_id") * 10 + r).as("doc_id"),
        concat(col("text"), lit(s" replicatag$r")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32).persist()
    val emb1 = RawGen.table(spark, sfDir, "embeddings")
    val emb10 = (0 until 10).map { r =>
      emb1.select((col("vec_id") * 10 + r).as("vec_id"), col("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .repartition(32).persist()
    println(s"[probe] docs n1=${docs1.count()} n10=${docs10.count()} " +
      s"emb n10=${emb10.count()}")

    def time(name: String, df: => DataFrame): Double = {
      df.queryExecution.toRdd.count()  // warm codegen + caches
      val t0 = System.nanoTime()
      val n = df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name%-28s $sec%6.2f s  rows=$n")
      sec
    }
    // measured growth exponent for the 10x input: t10/t1 = 10^e, so
    // e = log10(ratio); linear work ~ 1.0, n log n ~ 1.1, quadratic ~ 2.0.
    // Sub-linear readings mean the 1x run is overhead-dominated (fixed
    // per-query planning/launch costs hide the data term).
    // optional comma-separated pair-name allowlist for targeted reruns;
    // an empty/typo'd list must fail loudly, not silently probe nothing
    // (same rationale as Bench's SPARK_GRAFT_ONLY guard)
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach(keep => require(keep.nonEmpty,
      "SPARK_GRAFT_PROBE_ONLY is set but names no pairs"))
    var probed = 0

    def pair(name: String, at1x: => DataFrame, at10x: => DataFrame): Unit =
      if (only.forall(_.contains(name))) { probed += 1; pairImpl(name, at1x, at10x) }

    // leak fence: each by-name evaluation of a managed frame leaves its
    // eagerly-checkpointed result blocks until GC — 4 evaluations per pair
    // at 10x scale would contaminate later pairs' measurements. The corpus
    // caches predate the probe loop and survive the fence.
    def pairImpl(name: String, at1x: => DataFrame, at10x: => DataFrame): Unit =
      graft.Harness.fenced(spark) {
        val t1 = time(s"$name 1x", at1x)
        val t10 = time(s"$name 10x", at10x)
        println(f"[probe] $name%-28s exponent=${math.log10(t10 / t1)}%5.2f")
      }

    import graft.ops.{Dedup, Packing, Sampling, Similarity, TextAnalysis}
    val d1 = docs1.select(col("doc_id"), col("text"))
    val d10 = docs10.select(col("doc_id"), col("text"))
    pair("chunk_docs", Packing.chunkDocs(docs1), Packing.chunkDocs(docs10))
    pair("shard_assign", Sampling.shardAssign(docs1, "doc_id", 8),
      Sampling.shardAssign(docs10, "doc_id", 8))
    pair("ngram_counts", TextAnalysis.ngramCounts(docs1),
      TextAnalysis.ngramCounts(docs10))
    pair("winnow", TextAnalysis.winnow(docs1), TextAnalysis.winnow(docs10))
    pair("minhash_neardup", Dedup.minhashNeardup(d1, managed = true),
      Dedup.minhashNeardup(d10, managed = true))
    pair("jaccard_neardup", Dedup.jaccardNeardup(d1, managed = true),
      Dedup.jaccardNeardup(d10, managed = true))
    pair("simhash_neardup", Dedup.simhashNeardup(d1, managed = true),
      Dedup.simhashNeardup(d10, managed = true))
    pair("substring_dedup", Dedup.substringDedup(d1), Dedup.substringDedup(d10))
    def clusters(d: DataFrame, star: Boolean): DataFrame = {
      val edges = Dedup.minhashCandidates(d, managed = true)
        .select(col("a_doc_id").as("src"), col("b_doc_id").as("dst"))
      if (star) Dedup.connectedComponentsStar(edges)
      else Dedup.connectedComponents(edges)
    }
    pair("cc_propagation", clusters(d1, star = false), clusters(d10, star = false))
    pair("cc_star", clusters(d1, star = true), clusters(d10, star = true))
    pair("kmeans_assign", Similarity.kmeansAssign(emb1), Similarity.kmeansAssign(emb10))
    pair("kmeans_iter", Similarity.kmeansIter(emb1), Similarity.kmeansIter(emb10))
    // fixed 8-query set on both sides (the registered-query shape), so the
    // exponent isolates corpus growth: index build + compressed scan.
    // (m=32, k=32) is the round-12 production point from RecallSweep.
    pair("ivf_pq_topk",
      Similarity.ivfPqTopK(emb1, emb1.filter(col("vec_id") < 8),
        m = 32, k = 32, topK = 5),
      Similarity.ivfPqTopK(emb10, emb10.filter(col("vec_id") < 8),
        m = 32, k = 32, topK = 5))
    pair("lm_unigram", TextAnalysis.unigramLogProb(d1),
      TextAnalysis.unigramLogProb(d10))
    // round-11 rewrite: single checkpointed explode + composite-key join;
    // corpus 10x but bigram VOCAB grows slower (Heaps) — expect ~linear
    pair("lm_bigram", TextAnalysis.bigramLogProb(d1),
      TextAnalysis.bigramLogProb(d10))
    // feature pass is the fused native expression; models stay B=1024
    // rows at any corpus size, scoring join is broadcast — expect linear
    pair("dsir_weights",
      Sampling.dsirWeights(docs1, docs1.filter(col("lang") === "en")),
      Sampling.dsirWeights(docs10, docs10.filter(col("lang") === "en")))
    // same 32 query docs on both sides (their 10x ids are originalId*10,
    // replica r=0): the exponent isolates postings-build + candidate-scan
    // growth at a FIXED query budget — the operator's real serving shape
    pair("bm25_search", TextAnalysis.bm25Search(d1),
      TextAnalysis.bm25Search(d10,
        evalPred = col("doc_id") % 170 === 30 && col("doc_id") < 5440))
    // fixed k: cluster sizes grow 10x, within-cluster pairs 100x — the
    // regime the SemDeDup paper says NOT to run (expect exponent → 2)
    pair("semantic_dedup_fixedk", Similarity.semanticDedup(emb1),
      Similarity.semanticDedup(emb10))
    // k ∝ N (the paper's recipe): cluster sizes stay flat, pair count
    // grows linearly — the 100 TB operating point
    pair("semantic_dedup_scaledk", Similarity.semanticDedup(emb1, k = 8),
      Similarity.semanticDedup(emb10, k = 80))
    // rerank adds one broadcast-restricted exact pass over the raw vectors
    // on top of ivf_pq_topk; the shortlist is fixed-size per query, so the
    // exact pass's data term is the corpus scan of the semi-join, not a
    // pair blowup
    pair("ivf_pq_rerank",
      Similarity.ivfPqRerankTopK(emb1, emb1.filter(col("vec_id") < 8),
        m = 32, k = 32, topK = 5),
      Similarity.ivfPqRerankTopK(emb10, emb10.filter(col("vec_id") < 8),
        m = 32, k = 32, topK = 5))
    // round-11 layout/fusion family. globalSequence: two aggs + one
    // bucket-partitioned window — expect ~linear with per-job overhead
    import graft.ops.{Joins, Layout, Profile, Retrieval}
    pair("global_seq",
      Layout.globalSequence(docs1.select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id"),
      Layout.globalSequence(docs10.select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id"))
    pair("zorder_zonemap",
      Layout.zorderZoneMap(docs1.select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars"),
      Layout.zorderZoneMap(docs10.select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars"))
    // fixed-width neighborhood: O(N·w) verify pairs by construction; the
    // 24-char prefix keeps the per-pair Levenshtein cost bounded
    def snmIn(d: DataFrame) = d.select(col("doc_id"),
      substring(col("text"), 1, 24).as("prefix"), col("n_chars"))
    pair("snm_editdist",
      Joins.sortedNeighborhoodEditDist(snmIn(docs1), "prefix", "doc_id",
        col("n_chars"), maxDist = 20),
      Joins.sortedNeighborhoodEditDist(snmIn(docs10), "prefix", "doc_id",
        col("n_chars"), maxDist = 20))
    // both legs' eval predicates are id-capped (< 544), so the query set
    // is FIXED at any corpus size — the exponent isolates index/scan growth
    pair("hybrid_rrf", Retrieval.hybridRrf(docs1, emb1),
      Retrieval.hybridRrf(docs10, emb10))
    pair("column_profile",
      Profile.columnProfile(docs1, Seq("lang", "source", "n_chars")),
      Profile.columnProfile(docs10, Seq("lang", "source", "n_chars")))
    // funnel over a synthetic event stream derived from the doc corpus:
    // one user per ~997 docs, three step types, doc_id as event time
    def funnelIn(d: DataFrame) = d.select(
      (col("doc_id") % 997).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("purchase")),
        (col("doc_id") % 3 + 1).cast("int")).as("event_type"),
      col("doc_id").as("epoch_us"))
    pair("funnel", graft.ops.Windows.funnel(funnelIn(docs1)),
      graft.ops.Windows.funnel(funnelIn(docs10)))
    // CCNet perplexity strata: bigramLogProb dominates (its own probe row
    // covers the rework); the bucketing adds a 1/16-md5-sample order
    // statistic + per-lang windows over broadcast thresholds
    pair("ccnet_buckets", TextAnalysis.perplexityBuckets(docs1),
      TextAnalysis.perplexityBuckets(docs10))

    // round-12 family. html_extract: row-local regexp chain — the
    // synthetic crawl wrap mirrors SparkEntry's rawHtmlFrame shape
    import graft.ops.{Extract, Multimodal, Partitioning}
    def htmlIn(d: DataFrame) = d.select(col("doc_id"),
      concat(lit("<html><head><script>var x=1;</script></head><body><h1>D"),
        col("doc_id"), lit("</h1><p>"), col("text"),
        lit(".</p><div>Home | About</div></body></html>")).as("html"))
    pair("html_extract", Extract.htmlExtract(htmlIn(docs1)),
      Extract.htmlExtract(htmlIn(docs10)))
    // image near-dup: per-image dHash is row-local; the band join's pair
    // term follows image-dup structure (replicas differ in text → md5
    // pixels differ → few cross-replica pairs: the clean-corpus case)
    pair("image_phash_neardup",
      Multimodal.imagePhashNeardup(Multimodal.syntheticMedia(d1)),
      Multimodal.imagePhashNeardup(Multimodal.syntheticMedia(d10)))
    // indexed hybrid serving: build BOTH leg indexes + serve, vs the live
    // form's per-call postings build + corpus scan (hybrid_rrf above)
    def hybridIndexed(docs: DataFrame, emb: DataFrame, pfx: String) = {
      Retrieval.hybridRrfWriteIndexes(docs, emb, pfx)
      Retrieval.hybridRrfIndexed(docs.sparkSession, docs, emb, prefix = pfx)
    }
    pair("hybrid_rrf_indexed",
      hybridIndexed(d1, emb1, "probe_h1"),
      hybridIndexed(d10, emb10, "probe_h10"))

    // q_market_share at 10x: every key column re-keyed id*10+r so join
    // multiplicity is exactly preserved; nation/region stay (forever-tiny
    // dims). The point is AQE's broadcast→shuffle switch on the grown
    // sides — the probe prints the join strategies chosen at each scale.
    def tpch10(name: String, keys: Seq[String]): DataFrame = {
      val t = RawGen.table(spark, sfDir, name)
      (0 until 10).map { r =>
        keys.foldLeft(t) { (df, k) =>
          df.withColumn(k, col(k) * 10 + r) }
      }.reduce(_ unionByName _)
    }
    def marketShare(li: DataFrame, ord: DataFrame, part: DataFrame,
                    supp: DataFrame, cust: DataFrame): DataFrame = {
      // mirror of SparkEntry.qMarketShare (its private status keeps the
      // registry sealed; the join shape is what the probe measures)
      val vol = expr(
        "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))")
      val n1 = RawGen.table(spark, sfDir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = RawGen.table(spark, sfDir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(part.filter(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .join(broadcast(RawGen.table(spark, sfDir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(year(col("o_orderdate")).as("o_year"), vol.as("volume"),
          col("supp_nation"))
        .groupBy("o_year")
        .agg(sum(col("volume")).as("total"))
    }
    def ms1 = marketShare(RawGen.table(spark, sfDir, "lineitem"),
      RawGen.table(spark, sfDir, "orders"), RawGen.table(spark, sfDir, "part"),
      RawGen.table(spark, sfDir, "supplier"), RawGen.table(spark, sfDir, "customer"))
    def ms10 = marketShare(
      tpch10("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")),
      tpch10("orders", Seq("o_orderkey", "o_custkey")),
      tpch10("part", Seq("p_partkey")),
      tpch10("supplier", Seq("s_suppkey")),
      tpch10("customer", Seq("c_custkey")))
    def joinMix(df: DataFrame): String = {
      // AQE finalizes strategies during execution — count them AFTER a run
      df.queryExecution.toRdd.count()
      val p = df.queryExecution.executedPlan.toString
      def n(s: String) = s.r.findAllIn(p).length
      s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} shj=${n("ShuffledHashJoin")}"
    }
    if (only.forall(_.contains("q_market_share"))) {
      probed += 1
      pairImpl("q_market_share", ms1, ms10)
      println(s"[probe] q_market_share 1x  joins: ${joinMix(ms1)}")
      println(s"[probe] q_market_share 10x joins: ${joinMix(ms10)}")
    }

    // Gopher gate: fused native counting, row-local — expect scan-linear
    pair("gopher_quality", graft.ops.Gopher.qualityGate(docs1),
      graft.ops.Gopher.qualityGate(docs10))
    pair("c4_page_filter",
      Extract.c4PageFilter(htmlIn(docs1), minLines = 2),
      Extract.c4PageFilter(htmlIn(docs10), minLines = 2))

    // events at 10x: fresh user/event ids per replica so the distinct
    // user count and cohort structure scale with the data
    val ev1 = RawGen.events(spark, sfDir)
    val ev10 = (0 until 10).map { r =>
      ev1.withColumn("event_id", col("event_id") * 10 + r)
        .withColumn("user_id", col("user_id") * 10 + r)
    }.reduce(_ unionByName _).repartition(32).persist()
    ev10.count()
    pair("cohort_retention", graft.ops.Analytics.cohortRetention(ev1),
      graft.ops.Analytics.cohortRetention(ev10))
    pair("sketch_rollup", graft.ops.Analytics.sketchRollup(ev1),
      graft.ops.Analytics.sketchRollup(ev10))

    // ---- round-13 batch operators --------------------------------------
    import graft.ops.{Classifier, Url}
    pair("url_dedup", Url.urlDedup(Url.syntheticUrls(docs1)),
      Url.urlDedup(Url.syntheticUrls(docs10)))
    pair("domain_stats", Url.domainStats(Url.syntheticUrls(docs1)),
      Url.domainStats(Url.syntheticUrls(docs10)))
    // two feature passes (train + score) + broadcast model joins — the
    // corpus term is the fused DsirBuckets scan, expect ~linear
    pair("quality_classifier", Classifier.qualityClassifier(docs1),
      Classifier.qualityClassifier(docs10))
    // build + split + parse: sequential per file, files are the
    // parallelism unit (docs/16 per file at both scales)
    def warcIn(d: DataFrame) = graft.sources.Warc.syntheticWarc(
      Url.syntheticUrls(d).select(col("doc_id"), col("url"))
        .join(htmlIn(d), "doc_id"))
    pair("warc_read", graft.sources.Warc.readRecords(warcIn(docs1)),
      graft.sources.Warc.readRecords(warcIn(docs10)))
    // replicas share their original's group key → 10-member near-dup
    // cliques at 10x: the output-bound adversarial case, like image
    pair("audio_neardup",
      Multimodal.audioFingerprintNeardup(Multimodal.syntheticAudio(d1)),
      Multimodal.audioFingerprintNeardup(Multimodal.syntheticAudio(d10)))

    // ---- round-13: streaming-increment cost vs CATALOG size ------------
    // Fixed micro-batch, catalog at 1x and 10x of the corpus: this is the
    // day-1 vs day-N question for a long-running ingest stream — an
    // increment whose per-batch cost is linear in catalog size reads as
    // exponent ~1 here; a bounded increment reads ~0. (Round-12 VERDICT
    // finding #2: semanticDedupIncrement against an UNCAPPED catalog is
    // the linear regime — measured below next to its capped fix.)
    val batchDocs = docs1.filter(col("doc_id") < 500).persist()
    val batchEmb = emb1.filter(col("vec_id") < 500).persist()
    println(s"[probe] stream batch docs=${batchDocs.count()} emb=${batchEmb.count()}")
    def emptySeg = spark.range(0)
      .select(lit(null).cast("string").as("seg_md5"))
    val segCat1 = Dedup.segmentDedupIncrement(docs1, emptySeg)._2
      .select(col("_h").as("seg_md5")).persist()
    val segCat10 = Dedup.segmentDedupIncrement(docs10, emptySeg)._2
      .select(col("_h").as("seg_md5")).persist()
    println(s"[probe] seg catalogs ${segCat1.count()} / ${segCat10.count()}")
    pair("stream_seg_increment",
      Dedup.segmentDedupIncrement(batchDocs, segCat1)._1,
      Dedup.segmentDedupIncrement(batchDocs, segCat10)._1)
    // round-14 directive: the sharded bloom family must keep the per-batch
    // increment flat as the catalog grows (vs the same fixed batch), and
    // its cost shape should track the scalar sketch's at sizes where both
    // apply — the catalog term in BOTH is the narrow sketch-build scan
    pair("incr_dedup_scalar_catalog",
      Dedup.incrementalDedup(batchDocs, docs1),
      Dedup.incrementalDedup(batchDocs, docs10))
    pair("incr_dedup_sharded_catalog",
      Dedup.incrementalDedup(batchDocs, docs1, shards = 16),
      Dedup.incrementalDedup(batchDocs, docs10, shards = 16))
    def emptyMh = spark.range(0).select(col("id").as("doc_id"),
      lit(null).cast("string").as("text"),
      lit(null).cast("array<string>").as("mh"),
      lit(null).cast("array<string>").as("bands"))
    val mhCat1 = Dedup.minhashNeardupIncrement(d1, emptyMh)._2.persist()
    val mhCat10 = Dedup.minhashNeardupIncrement(d10, emptyMh)._2.persist()
    println(s"[probe] minhash catalogs ${mhCat1.count()} / ${mhCat10.count()}")
    pair("stream_minhash_increment",
      Dedup.minhashNeardupIncrement(batchDocs, mhCat1)._1,
      Dedup.minhashNeardupIncrement(batchDocs, mhCat10)._1)
    val imgCat1 = Multimodal.imagePhash(Multimodal.syntheticMedia(d1)).persist()
    val imgCat10 = Multimodal.imagePhash(Multimodal.syntheticMedia(d10)).persist()
    println(s"[probe] image catalogs ${imgCat1.count()} / ${imgCat10.count()}")
    val batchMedia = Multimodal.syntheticMedia(batchDocs).persist()
    pair("stream_image_increment",
      Multimodal.imagePhashIncrement(batchMedia, imgCat1)._1,
      Multimodal.imagePhashIncrement(batchMedia, imgCat10)._1)
    val semCents = Similarity.semanticCentroids(emb1, 8)
    def emptySem = spark.range(0).select(col("id").as("cid"),
      col("id").as("vec_id"), lit(null).cast("array<double>").as("nv"))
    val semCat1 = Similarity.semanticDedupIncrement(emb1, emptySem, semCents)._2
      .persist()
    val semCat10 = Similarity.semanticDedupIncrement(emb10, emptySem, semCents)._2
      .persist()
    println(s"[probe] semantic catalogs ${semCat1.count()} / ${semCat10.count()}")
    // the UNCAPPED regime round-12 flagged: expect ~linear in catalog
    pair("stream_semantic_uncapped",
      Similarity.semanticDedupIncrement(batchEmb, semCat1, semCents)._1,
      Similarity.semanticDedupIncrement(batchEmb, semCat10, semCents)._1)
    // the capped fix: both catalogs trim to <= k*cap rows, so per-batch
    // cost is flat no matter how much history the stream has seen
    val capCat1 = Similarity.semanticCatalogTrim(semCat1, emptySem, 512).persist()
    val capCat10 = Similarity.semanticCatalogTrim(semCat10, emptySem, 512).persist()
    println(s"[probe] capped semantic catalogs ${capCat1.count()} / ${capCat10.count()}")
    pair("stream_semantic_capped",
      Similarity.semanticDedupIncrement(batchEmb, capCat1, semCents)._1,
      Similarity.semanticDedupIncrement(batchEmb, capCat10, semCents)._1)

    // round-15 directive: domainQuotaSample's rank window was a megadomain
    // straggler (ONE task sorted the head domain's whole row set). Probe
    // the shipped bounded-top-k form against the window reference on a
    // zipfian corpus whose 10x run grows ONLY the head domain: the top-k
    // form's extra rows collapse map-side (k-capped partial buffers),
    // while the window form funnels them into a single task's sort.
    def zipfUrls(headCopies: Int): DataFrame = {
      // explode-per-doc so the head domain reaches straggler-visible row
      // counts (the window's failure mode needs millions of rows in ONE
      // partition, not a bigger corpus)
      val head = docs1
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(headCopies - 1L))).as("r"))
        .select((col("doc_id") * headCopies + col("r")).as("doc_id"),
          lit(64L).as("n_chars"),
          concat(lit("http://s.head-zipf.com/p/"),
            col("doc_id") * headCopies + col("r")).as("url"))
      // the REGISTRABLE label varies (tail{N}-zipf.net), not a subdomain
      // of one shared tail domain — registrableDomain strips subdomains,
      // so t{N}.tail-zipf.net would collapse the whole tail to ONE domain
      // (round-15 ADVICE: the probe's stated 1-head + ~997-small-domains
      // distribution was silently 2 domains)
      val tail = docs1.select((col("doc_id") + 900000000L).as("doc_id"),
        lit(64L).as("n_chars"),
        concat(lit("http://t.tail"), pmod(col("doc_id"), lit(997)),
          lit("-zipf.net/p/"), col("doc_id")).as("url"))
      head.unionByName(tail).repartition(32)
    }
    val zipf1 = zipfUrls(40).persist()
    val zipf10 = zipfUrls(400).persist()
    println(s"[probe] zipf urls ${zipf1.count()} / ${zipf10.count()}")
    def windowQuota(urls: DataFrame): DataFrame = {
      val quotas = graft.ops.Url.domainStats(urls).select("domain", "quota")
      urls.withColumn("domain", graft.ops.Url.registrableDomain(
          graft.ops.Url.canonicalizeUrl(col("url"))))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("domain")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).cast("long"))
        .join(broadcast(quotas), "domain")
        .filter(col("rank") <= col("quota"))
        .select("doc_id", "domain", "rank")
    }
    pair("domain_quota_topk_zipf",
      graft.ops.Url.domainQuotaSample(zipf1),
      graft.ops.Url.domainQuotaSample(zipf10))
    pair("domain_quota_window_zipf", windowQuota(zipf1), windowQuota(zipf10))

    // round-16 directive: robotsGate's shuffle fallback on a GROWN
    // domains corpus — the 10x run multiplies the number of registrable
    // domains (and so the rules frame the broadcast form would have to
    // ship whole to every executor) at a FIXED corpus row count, so the
    // reading isolates the |domains| term: the fallback's shuffle is
    // (slim corpus rows + slim rule rows) on the domain key and should
    // stay flat, where a broadcast would grow its build/ship cost 10x.
    def domainsUrls(nDomains: Int): DataFrame =
      spark.range(200000L).select(col("id").as("doc_id"),
        lit(64L).as("n_chars"),
        concat(lit("http://h.dom"), pmod(col("id"), lit(nDomains)),
          lit("-site.org/p/"), pmod(col("id"), lit(29))).as("url"))
        .repartition(32)
    val dom1 = domainsUrls(1000).persist()
    val dom10 = domainsUrls(10000).persist()
    println(s"[probe] robots corpus rows ${dom1.count()} / ${dom10.count()}" +
      " (domains 1k / 10k)")
    pair("robots_gate_shuffle",
      graft.ops.Url.robotsGate(dom1, graft.ops.Url.syntheticRobots(dom1),
        expectedDomains = 1L << 40),
      graft.ops.Url.robotsGate(dom10, graft.ops.Url.syntheticRobots(dom10),
        expectedDomains = 1L << 40))

    // round-17: the sitemap discovery loop on a GROWN domain corpus —
    // the sf1 sweep scales PAGES, but the bench fixture's domain count
    // is source×TLD bound (constant ~178), so its near-flat crawl
    // exponents say nothing about the |sitemaps| term. This pair grows
    // domains (and with them sitemap files, index children, and seeds)
    // 10× with the fixture DERIVATION persisted outside the timed
    // region (it is input generation — the Bench derived-input rule);
    // the catalog is constant across both sides so the reading
    // isolates |sitemaps|.
    val robots1 = graft.ops.Url.syntheticRobots(dom1).persist()
    val robots10 = graft.ops.Url.syntheticRobots(dom10).persist()
    val sm1 = graft.ops.Url.syntheticSitemaps(dom1).persist()
    val sm10 = graft.ops.Url.syntheticSitemaps(dom10).persist()
    println(s"[probe] sitemap corpus rows ${sm1.count()} / ${sm10.count()}" +
      s" (robots ${robots1.count()} / ${robots10.count()})")
    val seedCat = spark.range(1000L)
      .select(concat(lit("https://cat"), col("id"), lit(".invalid/x"))
        .as("url_canon")).persist()
    seedCat.count()
    pair("sitemap_seeds_domains",
      graft.ops.Url.sitemapSeeds(sm1),
      graft.ops.Url.sitemapSeeds(sm10))
    pair("crawl_discover_domains",
      graft.ops.Url.crawlDiscover(robots1, sm1, Seq("blocked.invalid"), seedCat),
      graft.ops.Url.crawlDiscover(robots10, sm10, Seq("blocked.invalid"), seedCat))
    // round 19 (r17 #8 / r19 directive #1): the SAME composed discovery
    // with the rules frame past the broadcast ceiling — the shuffle-hash
    // fallback plan must stay sub-linear in |domains| too
    pair("crawl_discover_shuffle",
      graft.ops.Url.crawlDiscover(robots1, sm1, Seq("blocked.invalid"),
        seedCat, expectedDomains = 1L << 40),
      graft.ops.Url.crawlDiscover(robots10, sm10, Seq("blocked.invalid"),
        seedCat, expectedDomains = 1L << 40))

    // round-17: the HTML link layer at 10× pages. The fixture's domain
    // set is source×TLD bound (constant), so these pairs isolate the
    // |pages|/|links| term: extraction is row-local (linear is the
    // floor), discovery adds the winner agg + anti-join, pagerank pays
    // the per-round edge join with a CONSTANT |domains| rank frame, and
    // redirect resolution composes a 10×-grown chain set through the
    // same 3 self-joins. Fixture derivation persists outside the timed
    // region (input generation — the Bench derived-input rule).
    val pages1 = graft.ops.Links.syntheticLinkedHtml(docs1).persist()
    val pages10 = graft.ops.Links.syntheticLinkedHtml(docs10).persist()
    val lrob1 = graft.ops.Url.syntheticRobots(
      graft.ops.Url.syntheticUrls(docs1).select(col("doc_id"), col("url")))
      .persist()
    val lrob10 = graft.ops.Url.syntheticRobots(
      graft.ops.Url.syntheticUrls(docs10).select(col("doc_id"), col("url")))
      .persist()
    val redir1 = graft.ops.Links.syntheticRedirects(docs1).persist()
    val redir10 = graft.ops.Links.syntheticRedirects(docs10).persist()
    println(s"[probe] link pages ${pages1.count()} / ${pages10.count()}, " +
      s"redirect edges ${redir1.count()} / ${redir10.count()} " +
      s"(robots ${lrob1.count()} / ${lrob10.count()})")
    pair("link_extract_pages",
      graft.ops.Links.linkExtract(pages1),
      graft.ops.Links.linkExtract(pages10))
    pair("link_discover_pages",
      graft.ops.Links.linkDiscover(pages1, Seq("blocked.invalid"),
        lrob1, seedCat),
      graft.ops.Links.linkDiscover(pages10, Seq("blocked.invalid"),
        lrob10, seedCat))
    pair("host_pagerank_links",
      graft.ops.Graph.pageRank(graft.ops.Links.hostGraph(
        graft.ops.Links.linkExtract(pages1))),
      graft.ops.Graph.pageRank(graft.ops.Links.hostGraph(
        graft.ops.Links.linkExtract(pages10))))
    pair("redirect_resolve_chains",
      graft.ops.Graph.resolveChains(redir1),
      graft.ops.Graph.resolveChains(redir10))
    // round 18: the link-layer compositions — redirect-aware discovery
    // (stub targets resolve through the link-target-space redirect map),
    // anchor-endorsed frontier ranking, canonical-declaration dedup
    val lredir1 = graft.ops.Links.syntheticLinkRedirects(docs1).persist()
    val lredir10 = graft.ops.Links.syntheticLinkRedirects(docs10).persist()
    println(s"[probe] link redirects ${lredir1.count()} / ${lredir10.count()}")
    pair("link_discover_resolved_pages",
      graft.ops.Links.linkDiscoverResolved(pages1, Seq("blocked.invalid"),
        lrob1, seedCat, lredir1),
      graft.ops.Links.linkDiscoverResolved(pages10, Seq("blocked.invalid"),
        lrob10, seedCat, lredir10))
    pair("frontier_rank_pages",
      graft.ops.Links.frontierRank(pages1, Seq("blocked.invalid"),
        lrob1, seedCat),
      graft.ops.Links.frontierRank(pages10, Seq("blocked.invalid"),
        lrob10, seedCat))
    pair("canonical_dedup_pages",
      graft.ops.Links.canonicalDedup(pages1, Seq("blocked.invalid")),
      graft.ops.Links.canonicalDedup(pages10, Seq("blocked.invalid")))
    // round 18: param intelligence at 10x urls — the stats agg is
    // |domains|x|param-vocab|-bounded; the learned dedup adds the
    // second (apply) corpus pass
    val purls1 = graft.ops.Url.syntheticUrls(docs1)
      .select(col("doc_id"), col("url")).persist()
    val purls10 = graft.ops.Url.syntheticUrls(docs10)
      .select(col("doc_id"), col("url")).persist()
    println(s"[probe] param urls ${purls1.count()} / ${purls10.count()}")
    pair("param_stats_urls",
      graft.ops.Url.paramStats(purls1),
      graft.ops.Url.paramStats(purls10))
    pair("param_policy_dedup_urls",
      graft.ops.Url.paramPolicyDedup(purls1),
      graft.ops.Url.paramPolicyDedup(purls10))

    // round 19 (r18 directive #8): a PARAM-VOCAB-EXPLOSION megadomain —
    // ONE domain whose distinct param-name vocabulary grows 10^4 -> 10^5
    // alongside a 10x row count (the crawl-trap fixture axis): the
    // (domain, param) stats aggregation and the policy build+apply must
    // stay sub-linear in corpus rows even when |param vocab| explodes
    def paramVocabUrls(n: Long, vocab: Int): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        concat(lit("http://mega.example.com/p/"), pmod(col("id"), lit(97)),
          lit("?k"), pmod(col("id"), lit(vocab)), lit("="), col("id"),
          lit("&v=1")).as("url"))
        .repartition(32)
    val pv1 = paramVocabUrls(200000L, 10000).persist()
    val pv10 = paramVocabUrls(2000000L, 100000).persist()
    println(s"[probe] param-vocab urls ${pv1.count()} / ${pv10.count()}")
    pair("param_vocab_stats",
      graft.ops.Url.paramStats(pv1),
      graft.ops.Url.paramStats(pv10))
    pair("param_vocab_policy",
      graft.ops.Url.paramPolicyDedup(pv1),
      graft.ops.Url.paramPolicyDedup(pv10))

    // round 19: the learned-key frontier and the anchor-endorsed curate
    // at 10x pages (constant-size catalog / link fixture derived at each
    // scale — input generation persists outside the timed region)
    pair("url_frontier_learned_urls",
      graft.ops.Url.urlFrontierLearnedIncrement(purls1, seedCat
          .select(col("url_canon").as("learned_canon")),
        graft.ops.Url.paramPolicy(purls1)),
      graft.ops.Url.urlFrontierLearnedIncrement(purls10, seedCat
          .select(col("url_canon").as("learned_canon")),
        graft.ops.Url.paramPolicy(purls10)))
    val adoc1 = docs1.select(col("doc_id"), col("text")).join(
      graft.ops.Url.syntheticUrls(docs1).select(col("doc_id"), col("url")),
      "doc_id").persist()
    val adoc10 = docs10.select(col("doc_id"), col("text")).join(
      graft.ops.Url.syntheticUrls(docs10).select(col("doc_id"), col("url")),
      "doc_id").persist()
    val alink1 = graft.ops.Links.syntheticEndorseLinks(docs1).persist()
    val alink10 = graft.ops.Links.syntheticEndorseLinks(docs10).persist()
    println(s"[probe] endorse docs ${adoc1.count()} / ${adoc10.count()}, " +
      s"links ${alink1.count()} / ${alink10.count()}")
    pair("anchor_endorsed_curate",
      graft.ops.Links.anchorEndorsedCurate(adoc1, alink1),
      graft.ops.Links.anchorEndorsedCurate(adoc10, alink10))

    // round 20: the corroborated learn on the param-vocab megadomain —
    // the extra (domain, param, stripped-key) aggregation must stay
    // bounded by kv rows even at a 10^5 vocabulary (fp is page-keyed,
    // so every high-card param corroborates — the worst case for the
    // corroboration agg's group count)
    val pvf1 = pv1.withColumn("fp",
      concat(lit("p"), pmod(col("doc_id"), lit(97)))).persist()
    val pvf10 = pv10.withColumn("fp",
      concat(lit("p"), pmod(col("doc_id"), lit(97)))).persist()
    println(s"[probe] corroborated urls ${pvf1.count()} / ${pvf10.count()}")
    pair("param_vocab_corroborated",
      graft.ops.Url.paramPolicyDedupCorroborated(pvf1),
      graft.ops.Url.paramPolicyDedupCorroborated(pvf10))

    // round 20: the learned discovery loops at 10x pages under a STATIC
    // policy/rank (the production shape — both are periodically
    // refreshed offline); catalog constant, |domains| constant
    val slp1 = graft.ops.Links.syntheticSessionLinkPages(docs1).persist()
    val slp10 = graft.ops.Links.syntheticSessionLinkPages(docs10).persist()
    val srob = graft.ops.Url.syntheticSessionRobots(docs1).persist()
    val spol = graft.ops.Url.paramPolicyCorroborated(
      graft.ops.Url.syntheticCorpusUrls(docs1)).persist()
    val scat = docs1.select(col("source")).distinct()
      .select(explode(sequence(lit(0), lit(4))).as("_p"), col("source"))
      .select(concat(lit("https://"), col("source"), lit("-app.com/a/"),
        col("_p")).as("learned_canon")).persist()
    println(s"[probe] learned pages ${slp1.count()} / ${slp10.count()}, " +
      s"policy ${spol.count()}, catalog ${scat.count()}")
    pair("link_discover_learned_pages",
      graft.ops.Links.linkDiscover(slp1, Nil, srob, scat,
        policy = Some(spol)),
      graft.ops.Links.linkDiscover(slp10, Nil, srob, scat,
        policy = Some(spol)))
    // round 20: authority-weighted frontier at 10x pages — the rank
    // probe is one more |domains|-frame join on the src domain; the
    // rank table itself is static (refreshed offline)
    val hrank = graft.ops.Graph.pageRank(graft.ops.Links.hostGraph(
      graft.ops.Links.linkExtract(pages1))).persist()
    println(s"[probe] host rank nodes ${hrank.count()}")
    pair("frontier_authority_pages",
      graft.ops.Links.frontierRankAuthority(pages1, Seq("blocked.invalid"),
        lrob1, seedCat, hrank),
      graft.ops.Links.frontierRankAuthority(pages10, Seq("blocked.invalid"),
        lrob10, seedCat, hrank))

    only.foreach { keep =>
      if (probed == 0) System.err.println(
        s"[probe] SPARK_GRAFT_PROBE_ONLY matched no pair: ${keep.mkString(", ")}")
    }
    spark.stop()
  }
}
