package graft

import graft.gen.RawGen
import graft.ops.{Dedup, Joins, Multimodal, Sampling, Similarity, TextAnalysis, Windows}
import graft.route.{EventTypeSplitter, Filterer}
import graft.translate.{LegacyTranslators, VehicleTranslators}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One registered query: the plan `run` builds over an sf directory, and
  * the DuckDB SQL that recomputes the same result from the same tables. */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
                       oracleSql: String)

object Query {
  /** `qs` in order, failing if any name appears twice: the driver keys
    * results and oracles on the name. */
  def registry(qs: Query*): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, "duplicate query names: " + dups.toSeq.sorted.mkString(", "))
    qs
  }
}

/** Driver contract: one registered query per implemented operator
  * (SURVEY.md §2), each with a DuckDB-runnable oracle that recomputes the
  * same result from the same parquet tables. Raw-message corpora are derived
  * deterministically from `events.parquet` (graft.gen.RawGen) so translator
  * behavior — time canonicalization, enum decode, poison-split, routing —
  * is fully oracle-checkable.
  */
object SparkEntry {

  /** Flagship: the primary reference dataflow (Geotab → CMF, E1 in
    * SURVEY.md §3) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    cmfGeotab(spark, "/root/testdata/sf0.001")

  // ---------- shared DuckDB SQL fragments (mirrors of RawGen/IsoTime) ----

  private val sqlEpochUs = "epoch_us(ts)"
  private val sqlEpochMs = s"($sqlEpochUs//1000)"
  private val sqlEpochS  = s"($sqlEpochUs//1000000)"

  // 16-bit Morton interleave over grid coords (xs, ys) — shared by the
  // layout_zorder and zonemap_prune oracles; every shift term is fully
  // parenthesized so engine precedence cannot bite.
  private val zMortonSumSql = (0 until 16).map(i =>
    s"(((xs >> $i) & 1) << ${2 * i}) + (((ys >> $i) & 1) << ${2 * i + 1})")
    .mkString(" + ")
  private def sqlIsoFromS(s: String) =
    s"strftime(make_timestamp(($s)*1000000), '%Y-%m-%dT%H:%M:%SZ')"
  // floor-div + pmod, NOT DuckDB's truncating // and sign-preserving %:
  // Spark's date_format/pmod floor toward -inf, so a negative epoch-ms
  // (pre-1970, or ford's ms-5000 near zero) would otherwise render garbage
  // like '23:59:59.-50Z' on the oracle side only
  private def sqlIsoFromMs(ms: String) = {
    val sec = s"CAST(floor(($ms)/1000.0) AS BIGINT)"
    val frac = s"((($ms) % 1000 + 1000) % 1000)"
    s"(strftime(make_timestamp($sec*1000000), '%Y-%m-%dT%H:%M:%S') || " +
    s"CASE WHEN $frac=0 THEN 'Z' ELSE '.'||lpad($frac::VARCHAR,3,'0')||'Z' END)"
  }
  /** Rows RawGen poisons for the vehicle-translator corpora, plus NULL-input
    * rows (a NULL id/ts nulls a required JSON field → translator quarantine;
    * NULL % 10 matches neither IN nor NOT IN, so it must be explicit). */
  private val sqlVehicleValid = "event_id % 10 NOT IN (0, 5)" +
    " AND event_id IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL"
  private val sqlVehiclePoison = "(event_id % 10 IN (0, 5)" +
    " OR event_id IS NULL OR user_id IS NULL OR ts IS NULL)"

  // ---------- query implementations ----------

  private def cmfGeotab(s: SparkSession, dir: String): DataFrame = {
    val t = VehicleTranslators.geotab(RawGen.wire(s, dir, "geotab"), "acme")
    t.valid.select(
      col("cmf.deviceId").as("device_id"),
      col("cmf.vehicleId").as("vehicle_id"),
      col("cmf.dateTime").as("date_time"),
      col("cmf.epochSource").as("epoch_source"),
      col("cmf.telemetry.location.lat").as("lat"),
      col("cmf.telemetry.location.lon").as("lon"),
      col("cmf.telemetry.odometerCanMi").as("odometer_mi"),
      col("cmf.telemetry.engineRpm").as("engine_rpm"),
      col("cmf.telemetry.fuelLevelPct").as("fuel_pct"),
      col("cmf.telemetry.ignitionStatus").as("ignition"),
      col("cmf.partitionKey").as("partition_key"),
      col("cmf.sourceType").as("source_type"),
      col("cmf.tenantId").as("tenant_id"),
      col("cmf.sourceSpecificData").as("ssd"),
      col("cmf.meta.additionalProperties").getItem("translator").as("translator")
    ).orderBy("device_id")
  }

  private def cmfCalamp(s: SparkSession, dir: String): DataFrame = {
    val t = VehicleTranslators.calAmp(RawGen.wire(s, dir, "calamp"), "acme")
    t.valid.select(
      col("cmf.deviceId").as("device_id"),
      col("cmf.vehicleId").as("vehicle_id"),
      col("cmf.dateTime").as("date_time"),
      col("cmf.epochSource").as("epoch_source"),
      col("cmf.telemetry.location.lat").as("lat"),
      col("cmf.telemetry.location.lon").as("lon"),
      col("cmf.telemetry.speedGpsMph").as("speed_mph"),
      col("cmf.telemetry.fuelLevelPct").as("fuel_pct"),
      col("cmf.telemetry.batteryVoltage").as("battery_v"),
      col("cmf.sourceType").as("source_type"),
      col("cmf.sourceSpecificData").as("ssd")
    ).orderBy("device_id")
  }

  private def cmfFord(s: SparkSession, dir: String): DataFrame = {
    val t = VehicleTranslators.ford(RawGen.wire(s, dir, "ford"), "acme")
    t.valid.select(
      col("cmf.deviceId").as("device_id"),
      col("cmf.vehicleId").as("vehicle_id"),
      col("cmf.dateTime").as("date_time"),
      col("cmf.epochSource").as("epoch_source"),
      col("cmf.telemetry.location.timestamp").as("loc_time"),
      col("cmf.telemetry.location.lat").as("lat"),
      col("cmf.telemetry.location.lon").as("lon"),
      col("cmf.telemetry.speedGpsMph").as("speed_mph"),
      col("cmf.telemetry.fuelLevelGallon").as("fuel_gal"),
      col("cmf.telemetry.engineRpm").as("engine_rpm"),
      col("cmf.sourceType").as("source_type"),
      col("cmf.sourceSpecificData").as("ssd")
    ).orderBy("device_id")
  }

  private def quarantineCounts(s: SparkSession, dir: String): DataFrame = {
    def cnt(name: String, q: DataFrame) =
      q.agg(count(lit(1)).as("quarantined")).select(lit(name).as("source"), col("quarantined"))
    cnt("calamp", VehicleTranslators.calAmp(RawGen.wire(s, dir, "calamp"), "acme").quarantine)
      .unionByName(cnt("ford", VehicleTranslators.ford(RawGen.wire(s, dir, "ford"), "acme").quarantine))
      .unionByName(cnt("geotab", VehicleTranslators.geotab(RawGen.wire(s, dir, "geotab"), "acme").quarantine))
      .orderBy("source")
  }

  private def routeFilterer(s: SparkSession, dir: String): DataFrame =
    Filterer.route(RawGen.wire(s, dir, "routing")).routed
      .groupBy(col("tenantId").as("tenant_id"), col("topic"))
      .agg(count(lit(1)).as("msg_cnt"),
        sum(length(col("value")).cast("long")).as("bytes"))
      .orderBy("tenant_id")

  /** Full publish round-trip through the graft-spool SINK (the Kafka-sink
    * dynamic `topic` column contract, offline): route → per-topic spool
    * publish → read every committed topic back and profile it. What the
    * oracle then checks is that nothing was lost, duplicated, or
    * mis-routed by the two-phase writer. The driver-side dir listing is
    * topology-scale (one entry per tenant), not data-scale. */
  private def routeTopicSink(s: SparkSession, dir: String): DataFrame = {
    val routed = Filterer.route(RawGen.wire(s, dir, "routing")).routed
    // deterministic per-sfDir scratch root, wiped before each publish:
    // createTempDirectory would leak one routed-corpus copy per invocation
    // (Verify + every bench repetition) into the tmpdir
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_topic_sink_${Integer.toHexString(dir.hashCode)}").toString
    val rootFile = new java.io.File(root)
    if (rootFile.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(rootFile)
    }
    Filterer.fanOutTopics(routed, root)
    s.read.format("graft-spool").option("topics", "true").load(root)
      .groupBy("topic")
      .agg(count(lit(1)).as("msg_cnt"),
        sum(length(col("value")).cast("long")).as("bytes"))
      .orderBy("topic")
  }

  private def legacyUnion(s: SparkSession, dir: String): DataFrame = {
    val raw = RawGen.wire(s, dir, "legacy")
    LegacyTranslators.translateMux(raw, col("kind")).valid
  }

  private def legacyTranslate(s: SparkSession, dir: String): DataFrame =
    legacyUnion(s, dir).select(
      col("event_id"),
      col("eventId").as("event_uuid"),
      col("source"),
      col("eventType").as("event_type"),
      col("timestamp").as("ts_iso")
    ).orderBy("event_id")

  private def routeSplitter(s: SparkSession, dir: String): DataFrame =
    EventTypeSplitter.route(legacyUnion(s, dir).select(col("event_json").as("value")))
      .routed
      .groupBy(col("eventType").as("event_type"), col("topic"))
      .agg(count(lit(1)).as("msg_cnt"))
      .orderBy("event_type")

  private def unionSources(s: SparkSession, dir: String): DataFrame = {
    val g = VehicleTranslators.geotab(RawGen.wire(s, dir, "geotab"), "acme").valid
    val c = VehicleTranslators.calAmp(RawGen.wire(s, dir, "calamp"), "acme").valid
    def proj(df: DataFrame) = df.select(col("cmf.sourceType").as("source_type"),
      col("cmf.epochSource").as("es"))
    proj(g).unionByName(proj(c))
      .groupBy("source_type")
      .agg(count(lit(1)).as("msg_cnt"), min("es").as("min_epoch"), max("es").as("max_epoch"))
      .orderBy("source_type")
  }

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "lineitem")
      .filter(col("l_quantity") < 45)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  private def qJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val orders = RawGen.table(s, dir, "orders")
    val customer = RawGen.table(s, dir, "customer")
    val nation = RawGen.table(s, dir, "nation")
    val region = RawGen.table(s, dir, "region")
    orders.join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name", "r_name")
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("n_name", "r_name")
  }

  private def qWindowTopk(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    RawGen.table(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "rn")
      .orderBy("o_custkey", "rn")
  }

  private def qRollup(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"), col("sum_qty"))
      .orderBy("rf", "ls")

  private def qSemi(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "customer")
      .join(RawGen.table(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")

  private def qAnti(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "customer")
      .join(RawGen.table(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")

  private def dedupExactDocs(s: SparkSession, dir: String): DataFrame =
    Dedup.exactByHash(RawGen.table(s, dir, "documents"), "text", "doc_id")
      .orderBy("keep_id")

  /** [[dedupExactDocs]]'s NORMALIZED sibling (round 16): the corpus is a
    * composed/decomposed pair fixture — docs 2k and 2k+1 both carry doc
    * 2k's text plus the same visible suffix in two byte forms (composed
    * U+00E9 vs e + combining U+0301) — so raw md5 keys are all distinct
    * while `exactByHash(normalize = true)` (the shipped pre-dedup NFC
    * fold) collapses each pair; the oracle replays the pairing and the
    * normalize chain, pinning normalize∘dedup cross-engine. */
  private def dedupExactNormQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
      .filter(col("text").isNotNull)
    val even = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("_k"), col("text").as("_base"))
    val paired = docs.select(col("doc_id"),
        (col("doc_id") - pmod(col("doc_id"), lit(2))).as("_k"))
      .join(even, "_k")
      .select(col("doc_id"), concat(col("_base"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(" caf\u00e9 fin"))
          .otherwise(lit(" cafe\u0301 fin"))).as("text"))
    Dedup.exactByHash(paired, "text", "doc_id", normalize = true)
      .orderBy("keep_id")
  }

  private def eventsDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(RawGen.table(s, dir, "events"), Seq("user_id", "event_type"), "event_id")
      .select(col("user_id"), col("event_type"), col("keep_id"), col("copies"))
      .orderBy("user_id", "event_type")

  private def textStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.textStats(RawGen.table(s, dir, "documents")).orderBy("doc_id")

  private def langId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(RawGen.table(s, dir, "documents")).orderBy("doc_id")

  private def docFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(RawGen.table(s, dir, "documents")).orderBy("doc_id")

  private def langIdNgramQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdNgram(RawGen.table(s, dir, "documents")).orderBy("doc_id")

  private def qPartStats(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "part")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("cnt"),
        // divide in DOUBLE on both engines: decimal÷bigint takes different
        // rounding paths in Spark (exact decimal quotient, then cast) vs
        // DuckDB (double÷double), differing by 1 ulp on unlucky averages
        (sum(col("p_retailprice").cast("decimal(18,4)")).cast("double") /
          count(lit(1))).as("avg_price"),
        max("p_size").as("max_size"))
      .orderBy("p_brand")

  private def qSupplierNation(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "supplier")
      .join(broadcast(RawGen.table(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("suppliers"),
        sum(col("s_acctbal").cast("decimal(18,4)")).cast("double").as("total_acctbal"))
      .orderBy("n_name")

  private def qualityFilterQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFilter(RawGen.table(s, dir, "documents")).orderBy("doc_id")

  private def winnowQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnow(RawGen.table(s, dir, "documents")).orderBy("doc_id")

  private def neardupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNeardup(RawGen.table(s, dir, "documents").select("doc_id", "text"),
        managed = true)
      .orderBy("doc_a", "doc_b")

  private def simhashBuckets(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(RawGen.table(s, dir, "documents")).orderBy("doc_id")

  private def simhashNeardupQ(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNeardup(RawGen.table(s, dir, "documents").select("doc_id", "text"),
        managed = true)
      .orderBy("doc_a", "doc_b")

  private def knnQueries(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "embeddings").filter(col("vec_id") < 8)

  private def knnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = RawGen.table(s, dir, "embeddings")
    Similarity.cosineTopK(emb, knnQueries(s, dir), 5)
      .orderBy("query_id", "rank")
  }

  private def knnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = RawGen.table(s, dir, "embeddings")
    Similarity.lshCosineTopK(emb, knnQueries(s, dir), 5, numPlanes = 8, dim = 64)
      .orderBy("query_id", "rank")
  }

  private def knnTopkAgg(s: SparkSession, dir: String): DataFrame = {
    val emb = RawGen.table(s, dir, "embeddings")
    Similarity.cosineTopKAgg(emb, knnQueries(s, dir), 5)
      .orderBy("query_id", "rank")
  }

  private def knnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = RawGen.table(s, dir, "embeddings")
    Similarity.ivfTopK(emb, knnQueries(s, dir), 5, numCentroids = 16, dim = 64)
      .orderBy("query_id", "rank")
  }

  private def knnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = RawGen.table(s, dir, "embeddings")
    Similarity.pqTopK(emb, knnQueries(s, dir), m = 4, k = 16, topK = 5, dim = 64)
      .orderBy("query_id", "rank")
  }

  /** Recall@5 of PQ/ADC vs exact cosine. Context for the absolute number:
    * the synthetic embeddings are unit-norm isotropic vectors, where
    * distance concentration bounds ANY sublinear index — the multiprobe
    * LSH baseline (knn_recall) measures 0.125 here; PQ's ~0.325 with a
    * 16-byte-per-vector representation is 2.4x that baseline. */
  private def knnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = RawGen.table(s, dir, "embeddings")
    Similarity.ivfPqTopK(emb, knnQueries(s, dir), m = 32, k = 32, topK = 5,
        dim = 64, numCentroids = 16)
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ shortlist (same nprobe=2 operating point as knn_ivf_pq) with
    * exact-cosine re-ranking over the raw vectors — the oracle re-derives
    * the identical shortlist in SQL and re-scores it with
    * list_dot_product, so both the candidate SET and the exact ORDER are
    * cross-checked. */
  private def knnIvfPqRerankQ(s: SparkSession, dir: String): DataFrame = {
    val emb = RawGen.table(s, dir, "embeddings")
    Similarity.ivfPqRerankTopK(emb, knnQueries(s, dir), m = 32, k = 32,
        topK = 5, dim = 64, numCentroids = 16, nprobe = 2, shortlist = 20)
      .orderBy("query_id", "rank")
  }

  private def knnPqRecallQ(s: SparkSession, dir: String): DataFrame = {
    val brute = knnBrute(s, dir).select(col("query_id"), col("neighbor_id"))
    val pq = knnPq(s, dir).select(col("query_id").as("q2"), col("vec_id").as("n2"))
    brute.join(pq,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"), "left")
      .groupBy("query_id")
      .agg((count(col("n2")).cast("double") / count(lit(1))).as("recall_at_5"))
      .orderBy("query_id")
  }

  /** Recall@5 of the IVF-PQ SERVING path vs exact cosine — since round 14
    * measured on the TRAINED-quantizer chain at FRACTIONAL list coverage
    * (numCentroids=64, nprobe=16 → 25%; assignTop=2, shortlist=40), per
    * the round-13 directive: the previous md5-quantizer point probed 16
    * of 16 lists, an exhaustive compressed-domain scan whose 1.00 was
    * blind to list-coverage regressions. Now recall = (trained-list
    * coverage) × (shortlist coverage) with both terms genuinely
    * fractional; the coverage-vs-recall curve for both quantizers is in
    * DESIGN.md §3.4. */
  private def knnIvfPqRecallQ(s: SparkSession, dir: String): DataFrame = {
    val brute = knnBrute(s, dir).select(col("query_id"), col("neighbor_id"))
    val pq = knnIvfPqTrainedQ(s, dir)
      .select(col("query_id").as("q2"), col("vec_id").as("n2"))
    brute.join(pq,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"), "left")
      .groupBy("query_id")
      .agg((count(col("n2")).cast("double") / count(lit(1))).as("recall_at_5"))
      .orderBy("query_id")
  }

  /** TRAINED-quantizer IVF-PQ serving chain (round-13 directive): integer
    * Lloyd coarse centroids (numCentroids=64, iters=4), spill assignment
    * (assignTop=2), nprobe=16 → 25% list coverage — genuinely fractional,
    * so a list-assignment regression moves the recall metric, unlike the
    * md5-quantizer point whose exhaustive probe could only lose shortlist
    * coverage. Measured list-coverage ceilings at this point: 0.925
    * (sf0.01) / 0.975 (sf0.1) vs the md5 quantizer's 0.85 ceiling at
    * twice the coverage (DESIGN.md §3.4). */
  private def knnIvfPqTrainedQ(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqRerankTopKTrained(RawGen.table(s, dir, "embeddings"),
        knnQueries(s, dir), m = 32, k = 32, topK = 5, dim = 64,
        numCentroids = 64, nprobe = 16, shortlist = 40, assignTop = 2,
        iters = 4)
      .orderBy("query_id", "rank")

  private def knnLshProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = RawGen.table(s, dir, "embeddings")
    Similarity.lshCosineTopKMultiprobe(emb, knnQueries(s, dir), 5,
      numPlanes = 8, dim = 64)
      .orderBy("query_id", "rank")
  }

  /** As-of join over the events stream: each click matched to the user's
    * latest at-or-before view. Right side pre-deduped per (user, ts). */
  private def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev = RawGen.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("epoch_us").as("click_us"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("epoch_us").as("view_us"))
      .agg(max("event_id").as("view_id"))
    Joins.asofJoin(clicks, views, "user_id", "click_us", "view_us", "view_id")
      .select("user_id", "click_id", "click_us", "view_id", "view_id_ts")
      .orderBy("click_id")
  }

  private def windowTumbling(s: SparkSession, dir: String): DataFrame =
    Windows.tumblingCounts(RawGen.events(s, dir))
      .orderBy("window_start", "event_type")

  private def sessionizeQ(s: SparkSession, dir: String): DataFrame =
    Windows.sessionize(RawGen.events(s, dir))
      .select("user_id", "session_idx", "n_events", "start_us", "end_us", "duration_ms")
      .orderBy("user_id", "session_idx")

  private def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.asMediaTable(RawGen.table(s, dir, "documents"))
      .select("doc_id", "mime", "octet_len", "payload_sha256")
      .orderBy("doc_id")

  private def mediaDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decode(s, Multimodal.syntheticMedia(
        RawGen.table(s, dir, "documents").select("doc_id", "text")))
      .toDF().select("doc_id", "mime", "octet_len", "width", "height",
        "sample_rate", "channels", "payload_hex_md5")
      .orderBy("doc_id")

  private def mediaFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(Multimodal.asMediaTable(RawGen.table(s, dir, "documents")))
      .orderBy("doc_id")

  /** Per-image 64-bit dHash (two 32-bit halves) over the synthetic BMP
    * corpus — see [[graft.ops.Multimodal.imagePhash]]. */
  private def imagePhashQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.imagePhash(Multimodal.syntheticMedia(
        RawGen.table(s, dir, "documents").select("doc_id", "text")))
      .orderBy("doc_id")

  /** Image near-dup pairs via banded-Hamming join on the dHash — the
    * multimodal sibling of simhash_neardup. */
  private def imagePhashNeardupQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.imagePhashNeardup(Multimodal.syntheticMedia(
        RawGen.table(s, dir, "documents").select("doc_id", "text")))
      .orderBy("a_id", "b_id")

  private def neardupCosine(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNeardup(RawGen.table(s, dir, "embeddings"), 0.35)
      .orderBy("vec_a", "vec_b")

  /** Approx-distinct sketch values are implementation-specific, so the
    * oracle-checkable form emits the EXACT distinct counts (hash-compared
    * against DuckDB) plus booleans asserting the approx is within 5% of
    * exact.
    *
    * DataSketches `hll_sketch_agg` (lgK=14 ⇒ ~0.8% rsd, ~6σ inside the 5%
    * bound), NOT `approx_count_distinct(rsd=0.01)`: HLL++ at that precision
    * carries its 2^14 registers as ~1,500 LONG buffer ATTRIBUTES, and every
    * plan rebuild pays ~4 s of analyzer/planner time over the 3,000-column
    * aggregate schema (measured; execution itself is milliseconds). The
    * sketch form keeps ONE binary buffer per aggregate — 0.6 s rebuilds,
    * same single-shuffle two-phase plan, and the right shape at 100 TB
    * where a driver replanning per micro-batch would hit the same wall. */
  private def approxDistinct(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "events")
      .agg(
        expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("au"),
        countDistinct(col("user_id")).as("eu"),
        expr("hll_sketch_estimate(hll_sketch_agg(event_type, 14))").as("at"),
        countDistinct(col("event_type")).as("et"))
      .select(
        col("eu").as("exact_users"),
        col("et").as("exact_types"),
        // exact=0 (empty table) means approx must be 0 too — the ratio form
        // would be 0/0 = NULL where the oracle hardcodes true
        when(col("eu") === 0, col("au") === 0)
          .otherwise(abs(col("au") - col("eu")).cast("double") / col("eu") < 0.05)
          .as("users_within_tol"),
        when(col("et") === 0, col("at") === 0)
          .otherwise(abs(col("at") - col("et")).cast("double") / col("et") < 0.05)
          .as("types_within_tol"))

  /** Cohort retention triangle — the canonical product-analytics rollup:
    * users grouped by first-active day, distinct actives per (cohort day,
    * day offset). Scale shape: one (user, day) DISTINCT collapse first
    * (the only corpus-sized shuffle, 16-byte keys — raw events never
    * reach the join), a per-user min agg, a user-key join that reuses
    * that partitioning, and one final hash agg. No windows, no per-user
    * state. */
  private def qCohortRetention(s: SparkSession, dir: String): DataFrame =
    graft.ops.Analytics.cohortRetention(RawGen.events(s, dir))
      .orderBy("cohort_day", "day_offset")

  /** Re-aggregatable distinct-count sketches — the 100 TB rollup
    * pattern: partial HLL sketches per (event_type, day) — the grain a
    * daily ingest job persists — MERGED per event_type with
    * hll_union_agg. The merged estimate must agree with the exact
    * distinct over the raw rows (tolerance booleans, the approx_distinct
    * contract): sketch once, roll up to any coarser grain without
    * touching raw data again. DataSketches HLL (binary buffer), not
    * HLL++ — see approxDistinct's planner-tax note. */
  private def qSketchRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = RawGen.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
    val merged = graft.ops.Analytics.sketchRollup(ev)
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(merged, "event_type")
      .select(col("event_type"), col("exact_users"),
        when(col("exact_users") === 0, col("approx") === 0)
          .otherwise(abs(col("approx") - col("exact_users")).cast("double") /
            col("exact_users") < 0.05)
          .as("merged_within_tol"))
      .orderBy("event_type")
  }

  private def neardupJaccardQ(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardNeardup(RawGen.table(s, dir, "documents").select("doc_id", "text"),
        managed = true)
      .orderBy("doc_a", "doc_b")

  /** Cluster assignment over the minhash near-dup graph: every document gets
    * the min doc_id of its connected component (singletons keep their own),
    * i.e. the representative a dedup pipeline would retain. */
  private def dedupClustersQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val edges = Dedup.minhashCandidates(docs.select("doc_id", "text"), managed = true)
      .select(col("a_doc_id").as("src"), col("b_doc_id").as("dst"))
    Dedup.connectedComponents(edges, Some(docs.select(col("doc_id").as("id"))))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Same cluster assignment computed by large-star/small-star contraction
    * (O(log n) rounds on any diameter) — must agree with the propagation
    * variant and the oracle's transitive-closure fixpoint. */
  private def dedupClustersStarQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val edges = Dedup.minhashCandidates(docs.select("doc_id", "text"), managed = true)
      .select(col("a_doc_id").as("src"), col("b_doc_id").as("dst"))
    Dedup.connectedComponentsStar(edges, Some(docs.select(col("doc_id").as("id"))))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  private def piiScrubQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.piiScrub(
      TextAnalysis.withSyntheticPii(RawGen.table(s, dir, "documents")))
      .orderBy("doc_id")

  /** Data mixing: downsample high-resource langs, keep low-resource ones,
    * then assign deterministic train/val/test splits. */
  private val mixRates = Map("en" -> 0.25, "zh" -> 0.10, "es" -> 0.5)

  private def sampleStratifiedQ(s: SparkSession, dir: String): DataFrame =
    Sampling.splitAssign(
      Sampling.stratifiedSample(RawGen.table(s, dir, "documents"),
        "lang", "doc_id", mixRates), "doc_id")
      .select("doc_id", "lang", "split")
      .orderBy("doc_id")

  /** DSIR distribution-matching weights: target = the English slice,
    * raw = the whole corpus (the paper's formal-domain-vs-web setup with
    * the lang column standing in for the target domain). */
  private def dsirWeightsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    Sampling.dsirWeights(docs, docs.filter(col("lang") === "en"))
      .orderBy("doc_id")
  }

  private def dsirSampleQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    Sampling.dsirSample(docs, docs.filter(col("lang") === "en"), 100)
  }

  /** The full curation pipeline as ONE composed query — the shape a
    * training-data build actually ships: quality gate → exact content
    * dedup (keep the lowest-id representative) → stratified language mix →
    * deterministic split assignment → per-(lang, split) corpus report.
    * Every stage is an already-oracle-checked operator; this entry checks
    * the COMPOSITION (semi-join chaining, no stage reordering surprises).
    * All stages except the final tiny aggregation are scan-fused filters or
    * a single hash-agg — the pipeline adds no shuffle beyond its parts. */
  private def curateE2E(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val kept = docs.join(
      TextAnalysis.qualityFilter(docs).filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val reps = Dedup.exactByHash(kept, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    val deduped = kept.join(reps, Seq("doc_id"), "left_semi")
    Sampling.splitAssign(
        Sampling.stratifiedSample(deduped, "lang", "doc_id", mixRates), "doc_id")
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Dedup.words(col("text")))).cast("long").as("n_tokens"))
      .orderBy("lang", "split")
  }

  /** The round-10 curation composition: text quality gate × semantic
    * (SemDeDup) keeps × embedding-outlier pruning, reported per language.
    * Exercises the modern curation recipe — heuristic gates for junk,
    * embedding-space dedup for paraphrase redundancy, prototype-distance
    * pruning for the strange tail — as one oracle-checked plan. doc_id
    * and vec_id share an id space in the test corpus (TESTDATA.md). */
  private def curateSemanticQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val embs = RawGen.table(s, dir, "embeddings")
    val okDocs = TextAnalysis.qualityFilter(docs).filter(col("keep"))
      .select("doc_id")
    // one shared assignment pass feeds both embedding-side stages
    val (sem, outl) = Similarity.semanticCurate(embs)
    val semKeep = sem.filter(col("keep")).select(col("vec_id").as("doc_id"))
    val inliers = outl.filter(!col("is_outlier"))
      .select(col("vec_id").as("doc_id"))
    docs.join(okDocs, Seq("doc_id"), "left_semi")
      .join(semKeep, Seq("doc_id"), "left_semi")
      .join(inliers, Seq("doc_id"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(Dedup.words(col("text"))).cast("decimal(18,0)")).cast("long")
          .as("total_tokens"))
      .orderBy("lang")
  }

  private def qCube(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("cnt"), col("revenue"))
      .orderBy("status", "priority")

  /** Exact interpolated percentiles. Taken over l_quantity (integral
    * doubles) at quarter fractions, so every result is a multiple of 0.25 —
    * exactly representable, hence bit-identical across engines regardless
    * of each one's interpolation formula. */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  /** Monthly revenue with the lag analytic. The un-partitioned window runs
    * over the AGGREGATED frame (#months rows, not #orders), so the
    * single-partition sort is a few dozen rows at any corpus scale. */
  private def qMonthlyLag(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .withColumn("prev_revenue", lag("revenue", 1).over(Window.orderBy("month")))
      .orderBy("month")

  private def repetitionRatioQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionRatio(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id")

  /** Point-in-interval range join: events bucketed against overlapping
    * value intervals derived from the nation table, aggregated per
    * interval. Exercises Joins.rangeJoinBucketed's explode-to-bucket shape
    * (shuffle on bucket ids, never a cross product). */
  private def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    val pts = RawGen.events(s, dir).select(col("event_id"), col("value"))
    val iv = RawGen.table(s, dir, "nation").select(
      col("n_nationkey"),
      (col("n_nationkey") * 20.0).as("lo"),
      (col("n_nationkey") * 20.0 + 30.0).as("hi"))
    Joins.rangeJoinBucketed(pts, "value", iv, "lo", "hi", bucketWidth = 20.0)
      .groupBy("n_nationkey", "lo", "hi")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .orderBy("n_nationkey")
  }

  private def seqPackQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val tokens = size(regexp_extract_all(col("text"),
      lit(TextAnalysis.tokenPattern), lit(0)))
    graft.ops.Packing.seqPack(docs, tokens).orderBy("doc_id")
  }

  /** End-to-end dedup: keep each near-dup cluster's representative
    * (doc_id == cluster_id) and measure the surviving corpus per language —
    * the composition a curation pipeline actually ships. */
  private def dedupApplyQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val edges = Dedup.minhashCandidates(docs.select("doc_id", "text"), managed = true)
      .select(col("a_doc_id").as("src"), col("b_doc_id").as("dst"))
    val reps = Dedup.connectedComponents(edges, Some(docs.select(col("doc_id").as("id"))))
      .filter(col("id") === col("cluster_id"))
      .select(col("id").as("doc_id"))
    docs.join(reps, Seq("doc_id"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("kept_docs"), sum("n_chars").as("kept_chars"))
      .orderBy("lang")
  }

  /** Same clusters as dedup_apply, but the kept representative is the
    * LONGEST member (n_chars as the quality proxy; ties -> lowest id) via
    * the encoded-argmax [[Dedup.bestPerCluster]] — "keep the best copy",
    * the form real curation pipelines run once a quality score exists. */
  private def dedupApplyBestQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val edges = Dedup.minhashCandidates(docs.select("doc_id", "text"), managed = true)
      .select(col("a_doc_id").as("src"), col("b_doc_id").as("dst"))
    val clusters = Dedup.connectedComponents(edges,
      Some(docs.select(col("doc_id").as("id"))))
    val reps = Dedup.bestPerCluster(clusters,
      docs.select(col("doc_id"), col("n_chars").cast("int").as("score")))
    docs.join(reps.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("kept_docs"), sum("n_chars").as("kept_chars"))
      .orderBy("lang")
  }

  private def lmUnigramQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogProb(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id")

  private def lmBigramQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogProb(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id")

  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTrain(RawGen.table(s, dir, "documents"))
      .orderBy("round")

  private def bpeEncodeQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeEncode(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id")

  private def pageRankQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.pageRank(
      graft.ops.Graph.coPurchaseEdges(RawGen.table(s, dir, "lineitem")))
      .orderBy("node")

  /** The synthetic linked-HTML crawl pages ([[graft.ops.Links]]) — the
    * link layer's shared fixture input. */
  private def linkedPages(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.syntheticLinkedHtml(RawGen.table(s, dir, "documents"))

  /** Per-page outlink extraction: href + RFC 3986 resolution + anchor
    * text + nofollow — scan-fused, zero exchanges (LinksSpec pins). */
  private def linkExtractQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.linkExtract(linkedPages(s, dir))
      .select("doc_id", "link_idx", "href", "href_abs", "target_canon",
        "anchor", "nofollow")
      .orderBy("doc_id", "link_idx")

  /** Per-target anchor aggregation: in-link/follow/source counts + the
    * first-occurrence anchor — one hash-agg on the target key. */
  private def anchorTextQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.anchorText(
      graft.ops.Links.linkExtract(linkedPages(s, dir)))
      .orderBy("target_canon")

  /** The weighted domain-level link graph (follow edges between
    * different registrable domains, multiplicity = weight). */
  private def linkGraphQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.hostGraph(
      graft.ops.Links.linkExtract(linkedPages(s, dir)))
      .groupBy("src", "dst")
      .agg(count(lit(1)).cast("long").as("weight"))
      .orderBy("src", "dst")

  /** Integer fixed-point PageRank over the REAL crawl link structure
    * (the host graph), not the co-purchase fixture — the centrality
    * weight a source-mixing policy consumes. */
  private def hostPageRankQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.pageRank(
      graft.ops.Links.hostGraph(
        graft.ops.Links.linkExtract(linkedPages(s, dir))))
      .orderBy("node")

  // an earlier discovery batch's admitted LINK targets (every 5th doc's
  // slot-3 child page) — accumulated frontier state for the link-layer
  // discovery anti-join, like url_catalog/seed_catalog
  RawGen.registerDerived("link_catalog") { (s, dir) =>
    graft.ops.Links.linkExtract(linkedPages(s, dir))
      .filter(col("link_idx") === 3 && pmod(col("doc_id"), lit(5)) === 0)
      .select(col("target_canon").as("url_canon")).distinct()
  }

  /** Link-driven frontier discovery e2e (round 17): page outlinks →
    * follow-only + scheme + blocklist + target-domain robots gate →
    * first-occurrence per canonical target → catalog novelty.
    * See [[graft.ops.Links.linkDiscover]] for the plan shape. */
  private def linkDiscoverQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.linkDiscover(linkedPages(s, dir), crawlBlockedDomains,
        RawGen.derived(s, dir, "robots"),
        RawGen.derived(s, dir, "link_catalog"))
      .orderBy("target_canon")

  /** Meta-refresh redirects (round 17): the HTML-level redirect edge —
    * first refresh meta with a url= directive per page, delay + raw
    * target + resolved canonical form. Row-local, zero exchanges. */
  private def metaRefreshQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.metaRefresh(linkedPages(s, dir)).orderBy("doc_id")

  /** rel=canonical declarations (round 17): the page-declared dedup
    * hint — href + resolved canonical form + is_self. Row-local. */
  private def relCanonicalQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.relCanonical(linkedPages(s, dir)).orderBy("doc_id")

  /** Redirect-chain resolution by pointer doubling — ⌈log₂ 8⌉ = 3
    * self-joins resolve any ≤8-hop chain; cycles terminate unresolved
    * at the deterministic landing point (see Graph.resolveChains). */
  private def redirectResolveQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.resolveChains(
      graft.ops.Links.syntheticRedirects(RawGen.table(s, dir, "documents")))
      .orderBy("src")

  /** Redirect-aware frontier discovery (round 18): the linkDiscover
    * gates, then every candidate target probes the CHAIN-RESOLVED
    * redirect map — a redirect stub schedules its final URL, a cycle
    * drops, and novelty anti-joins on the URL the scheduler would
    * actually fetch. See [[graft.ops.Links.linkDiscoverResolved]]. */
  private def linkDiscoverResolvedQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.linkDiscoverResolved(linkedPages(s, dir),
        crawlBlockedDomains, RawGen.derived(s, dir, "robots"),
        RawGen.derived(s, dir, "link_catalog"),
        graft.ops.Links.syntheticLinkRedirects(
          RawGen.table(s, dir, "documents")))
      .orderBy("final_canon")

  // session-domain crawl metadata for the LEARNED discovery loops
  // (round 20): robots declaring one urlset per <source>-app.com
  // domain, and that urlset's session/content/novel-page seeds
  RawGen.registerDerived("robots_app") { (s, dir) =>
    graft.ops.Url.syntheticSessionRobots(RawGen.table(s, dir, "documents"))
  }
  RawGen.registerDerived("sitemaps_app") { (s, dir) =>
    graft.ops.Url.syntheticSessionSitemaps(RawGen.table(s, dir, "documents"))
  }

  /** The corroborated policy frame every learned-key consumer probes
    * (re-learned offline in production; a static input here). */
  private def corpusPolicy(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.paramPolicyCorroborated(
      graft.ops.Url.syntheticCorpusUrls(RawGen.table(s, dir, "documents")))

  /** Sitemap discovery on the LEARNED novelty key (round 20 — r19
    * verdict #2): session/boilerplate seed variants of a cataloged
    * page fold onto its learned key and are NOT re-enqueued; content
    * (`?art=`) seeds and genuinely novel pages are admitted once. */
  private def crawlDiscoverLearnedQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.crawlDiscover(RawGen.derived(s, dir, "robots_app"),
        RawGen.derived(s, dir, "sitemaps_app"), crawlBlockedDomains,
        RawGen.derived(s, dir, "url_catalog_learned"),
        policy = Some(corpusPolicy(s, dir)))
      .orderBy("domain", "seed_idx")

  /** Link discovery on the LEARNED novelty key (round 20 — r19 verdict
    * #2): the intra-batch winner AND the catalog anti-join both key on
    * the policy-stripped canonical, reusing one partitioning. */
  private def linkDiscoverLearnedQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.linkDiscover(
        graft.ops.Links.syntheticSessionLinkPages(
          RawGen.table(s, dir, "documents")),
        crawlBlockedDomains, RawGen.derived(s, dir, "robots_app"),
        RawGen.derived(s, dir, "url_catalog_learned"),
        policy = Some(corpusPolicy(s, dir)))
      .orderBy("target_learned")

  /** Redirect-aware discovery on the LEARNED final key (round 20 — r19
    * verdict #2): a stub redirecting onto a session variant of a
    * cataloged page folds onto the page's learned key and is dropped —
    * without the learned final key the variant reads as novel and the
    * stub re-enqueues a cataloged page. */
  private def linkDiscoverResolvedLearnedQ(s: SparkSession,
                                           dir: String): DataFrame =
    graft.ops.Links.linkDiscoverResolved(
        graft.ops.Links.syntheticSessionLinkPages(
          RawGen.table(s, dir, "documents")),
        crawlBlockedDomains, RawGen.derived(s, dir, "robots_app"),
        RawGen.derived(s, dir, "url_catalog_learned"),
        graft.ops.Links.syntheticSessionRedirects(
          RawGen.table(s, dir, "documents")),
        policy = Some(corpusPolicy(s, dir)))
      .orderBy("final_learned")

  /** Anchor-endorsed frontier scheduling (round 18): novel admitted
    * targets ranked per registrable domain by follow-link endorsement —
    * the off-page relevance signal feeding the politeness queue.
    * See [[graft.ops.Links.frontierRank]]. */
  private def frontierAnchorRankQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.frontierRank(linkedPages(s, dir), crawlBlockedDomains,
        RawGen.derived(s, dir, "robots"),
        RawGen.derived(s, dir, "link_catalog"))
      .orderBy("domain", "priority")

  /** Authority-weighted frontier scheduling (round 20 — r19 verdict
    * #3: `host_pagerank` consumed): each domain's queue orders by the
    * summed PageRank of the CROSS-DOMAIN endorsing hosts before the
    * anchor-count tiebreaks — one hub link outranks many obscure
    * ones. The rank is recomputed here from the same corpus (in
    * production it is a periodically-refreshed static table); see
    * [[graft.ops.Links.frontierRankAuthority]]. */
  private def frontierAuthorityRankQ(s: SparkSession, dir: String): DataFrame = {
    val pages = linkedPages(s, dir)
    val rank = graft.ops.Graph.pageRank(
      graft.ops.Links.hostGraph(graft.ops.Links.linkExtract(pages)))
    graft.ops.Links.frontierRankAuthority(pages, crawlBlockedDomains,
        RawGen.derived(s, dir, "robots"),
        RawGen.derived(s, dir, "link_catalog"), rank)
      .orderBy("domain", "priority")
  }

  /** Canonical-declaration-aware dedup (round 18): URL gate + exact
    * dedup keyed on coalesce(canonical_canon, url_canon) — the
    * page-declared canonical collapses parameter/subdomain variants
    * content hashing can't see. See [[graft.ops.Links.canonicalDedup]]. */
  private def dedupCanonicalQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.canonicalDedup(linkedPages(s, dir),
        crawlBlockedDomains)
      .orderBy("doc_id")

  /** Anchor-endorsed curation (round 19 — r18 verdict #3: the off-page
    * signal composed into a KEEP gate): quality pass OR ≥3 follow
    * in-links rescue a page; the endorsement aggregates join on the
    * doc's own canonical URL. See
    * [[graft.ops.Links.anchorEndorsedCurate]]. */
  private def anchorCurateQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Links.anchorEndorsedCurate(
        RawGen.table(s, dir, "documents").select(col("doc_id"), col("text"))
          .join(urlFrame(s, dir).select(col("doc_id"), col("url")), "doc_id"),
        graft.ops.Links.syntheticEndorseLinks(
          RawGen.table(s, dir, "documents")))
      .orderBy("doc_id")

  /** CCNet head/middle/tail quality strata per language — see
    * TextAnalysis.perplexityBuckets for the sample-threshold scale shape. */
  private def ccnetBucketsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.perplexityBuckets(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id")

  /** CDC snapshot compaction (latest-wins merge): collapse the event
    * change-stream to one current row per (user_id, event_type), keeping
    * the full version count. Deliberately an AGGREGATE, not a window:
    * max(struct(epoch_us, event_id, value)) gets a map-side partial
    * combine, so the shuffle carries one row per (group × map task)
    * instead of every version — the shape that survives a 100 TB change
    * log with hot keys. (The struct buffer isn't hash-mutable, so this
    * plans as SortAggregate — each map partition sorts by the group key
    * before combining, spillable — but the wire volume is identical to a
    * HashAggregate and far below the window form, which must shuffle and
    * sort EVERY version.) Tie-free: event_id is unique, so the struct
    * comparison never reaches `value`. */
  /** SCD2 historization — the warehouse companion of [[qMergeUpsert]]:
    * instead of compacting to the latest row, keep EVERY version with a
    * validity interval [valid_from_us, valid_to_us) chained by lead()
    * over the same tie-free (epoch_us, event_id) version order; the
    * open-ended current row carries a null valid_to and is_current=true.
    * One window over a HIGH-cardinality key (user × type), so partitions
    * parallelize and no reducer sees more than one key's history — the
    * shape that scales, unlike low-cardinality exact-rank windows
    * (DESIGN.md §4). */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("epoch_us", "event_id")
    RawGen.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("value"), col("epoch_us").as("valid_from_us"),
        lead(col("epoch_us"), 1).over(w).as("valid_to_us"))
      .withColumn("is_current", col("valid_to_us").isNull)
      .orderBy("user_id", "event_type", "valid_from_us", "event_id")
  }

  /** TPC-H Q8-shaped market share: seven-table join (lineitem, orders,
    * part, supplier, customer, nation ×2, region) computing one supplier
    * nation's share of ECONOMY-part volume sold into ASIA per order
    * year. The flagship Catalyst join-ordering exercise. Only the
    * forever-tiny dimensions (nation, region) carry explicit broadcast
    * hints; part/supplier/orders/customer are left to AQE, which
    * broadcasts them at bench scale and correctly switches to shuffle
    * joins when they grow fact-sized at 100 TB — the plan adapts, the
    * query doesn't change. Volume stays DECIMAL until the end; the share
    * is one double division of two exact sums — engine independent. */
  private def qMarketShare(s: SparkSession, dir: String): DataFrame = {
    val li = RawGen.table(s, dir, "lineitem")
    val vol = expr(
      "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))")
    val n1 = RawGen.table(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = RawGen.table(s, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    li.join(RawGen.table(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(RawGen.table(s, dir, "part").filter(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(RawGen.table(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(RawGen.table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .join(broadcast(RawGen.table(s, dir, "region")
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(year(col("o_orderdate")).as("o_year"),
        vol.as("volume"), col("supp_nation"))
      .groupBy("o_year")
      .agg(sum(col("volume")).as("total"),
        sum(when(col("supp_nation") === "NATION_7", col("volume"))
          .otherwise(lit(0))).as("nation_vol"))
      .select(col("o_year"),
        (col("nation_vol").cast("double") / col("total").cast("double"))
          .as("mkt_share"),
        col("total").cast("double").as("total_volume"),
        col("nation_vol").cast("double").as("nation_volume"))
      .orderBy("o_year")
  }

  /** Tombstone-aware CDC compaction — the delete half of the
    * Kafka-compacted-topic contract [[qMergeUpsert]] implements for
    * upserts: a version whose `value < 10` is a DELETE MARKER for its
    * (user_id, event_type) key; if the latest version (same tie-free
    * (epoch_us, event_id) order) is a delete, the key is emitted
    * tombstoned (`is_deleted`) rather than silently dropped, so
    * downstream sees both the live snapshot (filter) and the audit
    * counts. Same single partial-combine aggregate as the upsert form —
    * the delete flag rides inside the max-struct, adding nothing to the
    * shuffle shape. */
  private def qMergeTombstone(s: SparkSession, dir: String): DataFrame =
    RawGen.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("event_type").isNotNull)
      .withColumn("is_del", col("value") < 10.0)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).cast("long").as("n_versions"),
        sum(when(col("is_del"), 1L).otherwise(0L)).as("n_deletes"),
        max(struct(col("epoch_us"), col("event_id"), col("is_del"),
          col("value"))).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.event_id").as("last_event_id"),
        col("m.epoch_us").as("last_epoch_us"),
        col("m.value").as("last_value"),
        col("m.is_del").as("is_deleted"),
        col("n_versions"), col("n_deletes"))
      .orderBy("user_id", "event_type")

  private def qMergeUpsert(s: SparkSession, dir: String): DataFrame =
    RawGen.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("event_type").isNotNull)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).cast("long").as("n_versions"),
        max(struct(col("epoch_us"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.event_id").as("last_event_id"),
        col("m.epoch_us").as("last_epoch_us"),
        col("m.value").as("last_value"),
        col("n_versions"))
      .orderBy("user_id", "event_type")

  /** Explicit ROWS frame: 3-month moving average over the aggregated
    * monthly series (window input is #months rows — see [[qMonthlyLag]]). */
  private def qMovingAvg(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .withColumn("mavg3", avg("revenue").over(
        Window.orderBy("month").rowsBetween(-2, Window.currentRow)))
      .orderBy("month")

  private def tfidfQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id", "rank")

  /** Grouped distinct aggregation (Catalyst's expand-based distinct path)
    * alongside plain aggregates in one pass. */
  private def qDistinctAgg(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("distinct_customers"),
        count(lit(1)).as("orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("o_orderstatus")

  /** Pivot: per-user-bucket event-type counts as columns. The pivot values
    * are pinned (stable column set at any SF) so the oracle can mirror them
    * as CASE aggregates. Spark's pivot emits NULL for an empty cell where
    * count(CASE ...) emits 0 — coalesce so the contract holds even at an SF
    * where some (bucket, type) combination is absent. */
  private def qPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    RawGen.events(s, dir)
      .groupBy((col("user_id") % 8).as("bucket"))
      .pivot("event_type", types)
      .count()
      .select(col("bucket") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("bucket")
  }

  /** ANN evaluation: recall@5 of the LSH-multiprobe index against the
    * brute-force ground truth, per query — the accuracy/cost dial an ANN
    * deployment is tuned by. */
  private def knnRecallQ(s: SparkSession, dir: String): DataFrame = {
    val brute = knnBrute(s, dir).select(col("query_id"), col("neighbor_id"))
    val approx = knnLshProbe(s, dir)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    brute.join(approx,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"), "left")
      .groupBy("query_id")
      .agg((count(col("n2")).cast("double") / count(lit(1))).as("recall_at_5"))
      .orderBy("query_id")
  }

  private def decontaminateQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.decontaminate(RawGen.table(s, dir, "documents")).orderBy("doc_id")

  private def dedupSegmentQ(s: SparkSession, dir: String): DataFrame =
    Dedup.segmentDedup(RawGen.table(s, dir, "documents")).orderBy("doc_id")

  private def dedupSubstringQ(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(RawGen.table(s, dir, "documents").select("doc_id", "text"))
      .orderBy("doc_id")

  private def embedQuantQ(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(RawGen.table(s, dir, "embeddings")).orderBy("vec_id")

  private def tokenBudgetQ(s: SparkSession, dir: String): DataFrame =
    Sampling.tokenBudget(RawGen.table(s, dir, "documents"), 2000).orderBy("doc_id")

  private def windowSliding(s: SparkSession, dir: String): DataFrame =
    Windows.slidingCounts(RawGen.events(s, dir))
      .orderBy("window_start", "event_type")

  /** Non-hierarchical grouping sets — the one grouping shape rollup/cube
    * can't express ((rf),(ls) with no (rf,ls) row). Subtotal NULLs are
    * COALESCEd to 'ALL' so Spark/DuckDB NULL-sort divergence can't bite. */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "lineitem")
      .groupingSets(Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"), col("sum_qty"))
      .orderBy("rf", "ls")

  private def qIntersect(s: SparkSession, dir: String): DataFrame = {
    val o = RawGen.table(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy("o_custkey")
  }

  private def qExcept(s: SparkSession, dir: String): DataFrame = {
    val o = RawGen.table(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy("o_custkey")
  }

  /** ntile quartiles per order status, summarized per (status, quartile).
    * The window's ORDER BY is a total order (price, key) so the standard's
    * bucket-boundary rule gives both engines identical assignment. */
  private def qNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    RawGen.table(s, dir, "orders")
      .withColumn("quartile", ntile(4).over(w))
      .groupBy("o_orderstatus", "quartile")
      .agg(count(lit(1)).as("cnt"),
        min(col("o_totalprice")).cast("double").as("min_price"),
        max(col("o_totalprice")).cast("double").as("max_price"))
      .orderBy("o_orderstatus", "quartile")
  }

  /** Ordered string aggregation (LISTAGG): collect_list has no deterministic
    * order in a distributed agg, so sort the array before joining — same
    * result as the oracle's string_agg(... ORDER BY). */
  private def qStringAgg(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "supplier")
      .join(broadcast(RawGen.table(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        array_join(array_sort(collect_list(col("s_name"))), "|").as("supplier_list"))
      .orderBy("n_name")

  private def qGaps(s: SparkSession, dir: String): DataFrame =
    Windows.activityIslands(RawGen.events(s, dir))
      .orderBy("user_id", "start_day")

  /** Numeric profiling histogram: fixed-width value bins per event type —
    * the data-profiling pass a pipeline runs before choosing quality
    * thresholds. Pure groupBy; bin id via floor(value/width) which both
    * engines evaluate identically on doubles. */
  private def qHist(s: SparkSession, dir: String): DataFrame =
    RawGen.events(s, dir)
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), floor(col("value") / 10).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"),
        min(col("value")).cast("double").as("bin_min"),
        max(col("value")).cast("double").as("bin_max"))
      .orderBy("event_type", "bin")

  /** RANGE-frame window (value-based, not row-based): events per user in
    * the trailing hour INCLUDING ties at the boundary — the frame Spark's
    * rangeBetween and SQL RANGE BETWEEN agree on by standard. */
  private def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("epoch_s")
      .rangeBetween(-3600, Window.currentRow)
    RawGen.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull)
      .select(col("user_id"), col("event_id"), col("epoch_s"))
      .withColumn("cnt_1h", count(lit(1)).over(w))
      .orderBy("user_id", "event_id")
  }

  /** first_value/last_value analytic pair per user over a total event-time
    * order — last_value needs the explicit UNBOUNDED FOLLOWING frame in
    * both engines (the default frame ends at CURRENT ROW). */
  private def qFirstLast(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy("epoch_us", "event_id")
    val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    RawGen.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull)
      .select(col("user_id"),
        first_value(col("event_type")).over(order).as("first_type"),
        last_value(col("event_type")).over(full).as("last_type"))
      .distinct()
      .orderBy("user_id")
  }

  /** Delta-vs-catalog dedup: the full corpus ingested against a catalog of
    * every 5th document — survivors are the docs whose content hash is not
    * already cataloged (bloom prefilter + exact verify inside the op). */
  private def dedupIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    Dedup.incrementalDedup(docs, docs.filter(col("doc_id") % 5 === 0))
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** The sharded-bloom form of dedup_incremental (round-13 directive):
    * identical semantics — the oracle SQL is dedup_incremental's verbatim
    * — through the hash-prefix-sharded sketch family instead of one
    * scalar sketch, so the catalog-scale path has its own oracle gate. */
  private def dedupIncrementalShardedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    Dedup.incrementalDedup(docs, docs.filter(col("doc_id") % 5 === 0),
        shards = 16)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  private def docChunkQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Packing.chunkDocs(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id", "chunk_idx")

  private def shardAssignQ(s: SparkSession, dir: String): DataFrame =
    Sampling.shardAssign(RawGen.table(s, dir, "documents"), "doc_id", 8)
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")

  private def ngramCountsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramCounts(RawGen.table(s, dir, "documents"))

  // CMS-prefiltered exact heavy hitters (round 14): every bigram above
  // ⌈N/1000⌉ corpus occurrences — scale-invariant fraction threshold.
  // No extra orderBy: frequentNgrams already orders by gram, which is
  // the oracle's ORDER BY — keeping them byte-identical like every
  // other query (round-14 ADVICE: the old occurrences-desc sort
  // silently diverged from the oracle's order)
  private def heavyHittersQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.frequentNgrams(RawGen.table(s, dir, "documents"))

  /** Training-mix recipe: 30/20/10 docs from three named domains out of a
    * 100-doc budget, deterministic hash order. */
  private val mixWeights = Map("src0" -> 0.30, "src1" -> 0.20, "src2" -> 0.10)

  private def domainMixQ(s: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(RawGen.table(s, dir, "documents"),
      "source", "doc_id", mixWeights, budget = 100)
      .select("doc_id", "source", "rank")
      .orderBy("doc_id")

  private def corpusStatsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusStats(RawGen.table(s, dir, "documents"))
      .select("lang", "n_docs", "total_tokens", "p25_tokens", "p50_tokens",
        "p75_tokens", "mean_tokens")
      .orderBy("lang")

  /** Pearson correlation / sample covariance from DECIMAL-exact moment sums
    * (built-in corr() aggregates doubles in partition order — results drift
    * with partitioning and can never hash-match an oracle). The five moments
    * are exact decimals cast to double, then the closed-form combination is
    * written with identical operation order in both engines, so the final
    * doubles are bit-identical. */
  private def qCorr(s: SparkSession, dir: String): DataFrame = {
    val dq = col("l_quantity").cast("decimal(12,2)")
    val dp = col("l_extendedprice").cast("decimal(12,2)")
    RawGen.table(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(dq).cast("double").as("sx"),
        sum(dp).cast("double").as("sy"),
        sum(dq * dq).cast("double").as("sxx"),
        sum(dp * dp).cast("double").as("syy"),
        sum(dq * dp).cast("double").as("sxy"))
      .select(col("l_returnflag"),
        col("n").cast("long").as("cnt"),
        // degenerate-group guard: a single-row or zero-variance group would
        // divide by zero — Spark yields NaN/Infinity while DuckDB's behavior
        // depends on its ieee_floating_point_ops setting, so both engines
        // emit NULL instead (guard mirrored in qCorrSql)
        when((col("n") * col("sxx") - col("sx") * col("sx")) > 0.0 &&
             (col("n") * col("syy") - col("sy") * col("sy")) > 0.0,
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_price"),
        when(col("n") > 1.0,
          (col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1.0))
          .as("covar_qty_price"))
      .orderBy("l_returnflag")
  }

  /** Per-group mode with an explicit deterministic tie-break (count desc,
    * then value asc) — built-in mode() picks an arbitrary winner on ties in
    * both engines, which an oracle cannot tolerate. */
  private def qMode(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("cnt").desc, col("o_orderpriority"))
    RawGen.table(s, dir, "orders")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("cnt"))
      .orderBy("o_orderstatus")
  }

  /** Correlated scalar subquery (orders 50% above their customer's average):
    * written as SQL so Catalyst's subquery decorrelation runs — the planner
    * rewrites the per-row subquery into ONE aggregate + join, which is the
    * scale shape (a literal per-row execution would be |orders| queries). */
  private def qScalarSub(s: SparkSession, dir: String): DataFrame = {
    RawGen.table(s, dir, "orders").createOrReplaceTempView("orders_ssq")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders_ssq o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / COUNT(*)
        |  FROM orders_ssq o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Dense-grid zero-fill (the reporting idiom): every (event_type ×
    * day-of-week) cell, including empty ones. The grid is a cross join of
    * two TINY dims (distinct types × 7 days — broadcast NLJ, never
    * corpus-sized), left-joined to the aggregated counts. */
  private def qZeroFill(s: SparkSession, dir: String): DataFrame = {
    val ev = RawGen.events(s, dir)
      .filter(col("event_type").isNotNull && col("epoch_us").isNotNull)
      .withColumn("dow",
        pmod(expr("(epoch_us - pmod(epoch_us, 86400000000)) div 86400000000"),
          lit(7L)))
    val counts = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("c"))
    // dims from the AGGREGATED frame (~|types|×7 rows), not a second
    // distinct over the corpus — same result, one corpus pass instead of two
    val types = counts.select("event_type").distinct()
    val days = s.range(0, 7, 1, 1).select(col("id").as("dow"))
    types.crossJoin(days)
      .join(counts, Seq("event_type", "dow"), "left")
      .select(col("event_type"), col("dow"),
        coalesce(col("c"), lit(0L)).as("cnt"))
      .orderBy("event_type", "dow")
  }

  private def kmeansAssignQ(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(RawGen.table(s, dir, "embeddings"))
      .orderBy("vec_id")

  private def kmeansUpdateQ(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansUpdate(RawGen.table(s, dir, "embeddings"))
      .orderBy("cid", "dim")

  private def kmeansIterQ(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansIter(RawGen.table(s, dir, "embeddings"))
      .orderBy("vec_id")

  private def dedupSemanticQ(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(RawGen.table(s, dir, "embeddings"))
      .orderBy("vec_id")

  /** Gopher/MassiveText repetition signals per document — see
    * [[graft.ops.Gopher.repetitionSignals]] (row-local, zero exchanges). */
  private def gopherRepetitionQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Gopher.repetitionSignals(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id")

  /** The full Gopher quality gate with named fail reasons. */
  private def gopherQualityQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Gopher.qualityGate(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id")

  private def bm25Q(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25Search(RawGen.table(s, dir, "documents"))
      .orderBy("query_id", "rank")

  /** Indexed BM25 serving as a first-class oracle query: build the
    * persisted postings+stats, then answer the standard query set from
    * them — row-identical to [[bm25Q]] (same scoring core), so it shares
    * the live oracle. The in-query build is the eval's cost; a serving
    * deployment pays it once per refresh. */
  private def bm25IndexedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    TextAnalysis.bm25WriteIndex(docs, "bm25srv")
    TextAnalysis.bm25SearchIndexed(s, TextAnalysis.bm25Queries(docs), "bm25srv")
      .orderBy("query_id", "rank")
  }

  /** Indexed IVF serving as a first-class oracle query — the dense
    * sibling of [[bm25IndexedQ]]: persist the inverted lists over the
    * full corpus, then probe from the index; row-identical to knn_ivf
    * (same probe + scoring core, quantizer pinned by the meta table). */
  private def knnIvfIndexedQ(s: SparkSession, dir: String): DataFrame = {
    val emb = RawGen.table(s, dir, "embeddings")
    Similarity.ivfWriteIndex(emb, "ivfsrv", numCentroids = 16, dim = 64)
    Similarity.ivfSearchIndexed(s, knnQueries(s, dir), "ivfsrv",
        k = 5, numCentroids = 16, dim = 64)
      .orderBy("query_id", "rank")
  }

  /** Persisted TRAINED-quantizer index build + serve (round 14; build
    * moved to derived input round 16): train → spill-assign → bucketed
    * inverted lists + persisted centroids, then a probe-only search —
    * the amortized form of the trained family's per-query training.
    * The index BUILD is registered as RawGen.derived input (the WARC /
    * robots / frontier-catalog precedent): a serving deployment builds
    * the index once per corpus refresh, so the benchmark times probe-only
    * SERVING here, while the build cost stays timed (and oracled) in
    * `knn_ivf_pq_trained`'s live-training family. Oracle = the live
    * trained search in SQL (persistence must be result-invisible —
    * training is replayed independently there, so the derived build
    * cannot drift unseen). The table prefix is sf-dir-keyed: managed
    * table names are session-global while the derived cache is
    * per-(sfDir, kind) — one JVM touching two SFs must not cross-serve. */
  private def ivfTrainedPrefix(dir: String): String =
    // toHexString of a negative hashCode is unsigned hex: identifier-safe
    "ivftsrv_" + java.lang.Integer.toHexString(dir.hashCode)
  RawGen.registerDerived("ivft_index") { (s, dir) =>
    Similarity.ivfWriteIndexTrained(RawGen.table(s, dir, "embeddings"),
      ivfTrainedPrefix(dir), numCentroids = 64, dim = 64, iters = 4,
      assignTop = 2)
    // marker frame = the tiny meta table; derived() caches it so the
    // build runs once per (session, sfDir)
    s.table(s"${ivfTrainedPrefix(dir)}_meta")
  }
  private def knnIvfTrainedIndexedQ(s: SparkSession, dir: String): DataFrame = {
    RawGen.derived(s, dir, "ivft_index")
    Similarity.ivfSearchIndexedTrained(s, knnQueries(s, dir),
        ivfTrainedPrefix(dir), k = 5, nprobe = 16)
      .orderBy("query_id", "rank")
  }

  /** Global event sequence numbers in (epoch_us, event_id) order WITHOUT
    * a single-reducer global window — see [[graft.ops.Layout.globalSequence]]
    * for the two-pass range-bucket shape. */
  private def qGlobalSeq(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.globalSequence(
      RawGen.events(s, dir)
        .filter(col("ts").isNotNull && col("event_id").isNotNull)
        .select("event_id", "epoch_us"),
      "epoch_us", "event_id")
      .orderBy("seq")

  /** Z-order layout zone map over (user_id, epoch_s) — the per-bucket
    * extents a scan planner prunes against; see [[graft.ops.Layout.zorder]]. */
  private def layoutZorderQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.zorderZoneMap(
      RawGen.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select("user_id", "epoch_s"),
      "user_id", "epoch_s")
      .orderBy("zbucket")

  /** Pruning-effectiveness comparison: for one fixed 2-D box predicate on
    * the (user_id, epoch_s) grid, how many of 64 buckets must be read
    * under a Z-ORDER layout vs a SINGLE-COLUMN (x-sorted) layout. The
    * x-sorted layout leaves every bucket's y-extent at full range, so any
    * y-selective predicate reads every x-matching bucket; z-order keeps
    * both extents tight. Grid coordinates are recovered from the Morton
    * code by compacting even/odd bits — exact integer arithmetic
    * end-to-end. Output: one row per layout with bucket/row read counts. */
  private def zonemapPruneQ(s: SparkSession, dir: String): DataFrame = {
    // fixed box in 16-bit grid units: middle ~25% of each dimension
    val (xLo, xHi, yLo, yHi) = (16384L, 32767L, 16384L, 32767L)
    val zg = graft.ops.Layout.zorder(
      RawGen.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select("user_id", "epoch_s"),
      "user_id", "epoch_s")
    // compact the Morton code back to grid coords (even bits = x, odd = y)
    val xs = (0 until 16).map(i =>
      shiftleft(shiftright(col("zval"), 2 * i).bitwiseAND(lit(1L)), i))
      .reduce(_ + _)
    val ys = (0 until 16).map(i =>
      shiftleft(shiftright(col("zval"), 2 * i + 1).bitwiseAND(lit(1L)), i))
      .reduce(_ + _)
    val g = zg.select(col("zbucket"), xs.as("xs"), ys.as("ys"))
      .withColumn("xbucket", shiftright(col("xs"), 10))
      .withColumn("inbox",
        col("xs").between(xLo, xHi) && col("ys").between(yLo, yHi))
    // ONE corpus pass: pre-aggregate to (zbucket, xbucket) cells (≤ 64×64
    // rows, eagerly checkpointed so the two layout legs read the tiny
    // frame, not the events scan twice); per-layout extents then fold the
    // cells — min-of-mins/max-of-maxes is exact
    val cells = g.groupBy("zbucket", "xbucket")
      .agg(min("xs").as("x0"), max("xs").as("x1"),
        min("ys").as("y0"), max("ys").as("y1"),
        count(lit(1)).as("rows_all"),
        sum(when(col("inbox"), 1L).otherwise(0L)).as("rows_match"))
      .localCheckpoint()
    def layoutStats(name: String, bucketCol: String): DataFrame =
      cells.groupBy(col(bucketCol).as("b"))
        .agg(min("x0").as("x0"), max("x1").as("x1"),
          min("y0").as("y0"), max("y1").as("y1"),
          sum("rows_all").as("rows_all"), sum("rows_match").as("rows_match"))
        .agg(lit(name).as("layout"),
          count(lit(1)).as("n_buckets"),
          sum(when(col("x0") <= xHi && col("x1") >= xLo &&
            col("y0") <= yHi && col("y1") >= yLo, 1L).otherwise(0L))
            .as("buckets_read"),
          sum(when(col("x0") <= xHi && col("x1") >= xLo &&
            col("y0") <= yHi && col("y1") >= yLo, col("rows_all"))
            .otherwise(0L)).as("rows_read"),
          sum(col("rows_match")).as("rows_match"))
    layoutStats("zorder", "zbucket")
      .unionAll(layoutStats("xsort", "xbucket"))
      .orderBy("layout")
  }

  /** Conversion-funnel summary: users reaching each ordered step of
    * view → click → purchase — see [[graft.ops.Windows.funnel]] for the
    * one-shuffle chained-window shape. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windows.funnel(RawGen.events(s, dir))
      .agg(count(col("t1")).as("users_s1"),
        count(col("t2")).as("users_s2"),
        count(col("t3")).as("users_s3"))

  /** Exact per-column table profile (ANALYZE surface) over orders —
    * [[graft.ops.Profile.columnProfile]]; o_totalprice pre-cast to
    * DECIMAL(18,2) so its canonical string form is engine-independent. */
  private def profileTableQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profile.columnProfile(
      RawGen.table(s, dir, "orders")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)")),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))
      .orderBy("col_name")

  /** Typo-class near-duplicate names via sorted-neighborhood blocking on
    * the identifier's numeric run — see
    * [[graft.ops.Joins.sortedNeighborhoodEditDist]]. */
  private def snmEditDistQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Joins.sortedNeighborhoodEditDist(
      RawGen.table(s, dir, "customer"), "c_name", "c_custkey",
      expr("try_cast(substr(c_name, 10, 9) AS BIGINT)"))
      .orderBy("l_id", "r_id")

  /** Hybrid BM25 + dense-cosine retrieval fused with RRF — see
    * [[graft.ops.Retrieval.hybridRrf]] for the legs-bounded scale shape. */
  private def hybridRrfQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Retrieval.hybridRrf(RawGen.table(s, dir, "documents"),
      RawGen.table(s, dir, "embeddings"))
      .orderBy("query_id", "rank")

  /** Indexed serving form of [[hybridRrfQ]]: build both persisted leg
    * indexes (BM25 bucketed postings + IVF inverted lists), then serve the
    * fusion entirely from them — the query-time plan does no postings
    * build, corpus scan, or centroid assignment. nprobe = numCentroids
    * keeps the dense leg exact, so the output is row-identical to the
    * live form and shares its oracle. The in-query index build is the
    * eval's cost (same shape as knn_ivf_pq_recall paying ground truth);
    * a serving deployment pays it once. */
  private def hybridRrfIndexedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val emb = RawGen.table(s, dir, "embeddings")
    graft.ops.Retrieval.hybridRrfWriteIndexes(docs, emb, "hybq")
    graft.ops.Retrieval.hybridRrfIndexed(s, docs, emb, prefix = "hybq")
      .orderBy("query_id", "rank")
  }

  /** Deterministic raw-HTML corpus derived from `documents` — the crawl
    * the extraction front end consumes. Each document's words become
    * three paragraphs (the first and third sentence-terminated, the
    * middle not) wrapped in a page with script/style subtrees, a heading,
    * a nav-bar boilerplate line, and encoded entities; both engines build
    * the identical string from the same parquet column, so the oracle
    * replays extraction on exactly this input. */
  private def rawHtmlColumn: Column = {
    val ws = split(col("text"), " ")
    val p1 = concat(array_join(slice(ws, 1, 10), " "), lit("."))
    val p2 = array_join(slice(ws, 11, 8), " ")
    val p3 = concat(array_join(slice(ws, 19, 12), " "),
      lit(" &amp; more &lt;b&gt; &quot;q&quot;!"))
    concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><script type=\"text/javascript\">var n = 1 && 2; " +
        "console.log(\"<p>\");</script><style>.nav { color: red; }</style>" +
        "</head><body><h1>Doc "), col("doc_id"),
      lit("</h1><p>"), p1,
      lit("</p><div class=\"nav\">Home | About | Contact</div><p>"), p2,
      lit("</p><p>"), p3, lit("</p><br/></body></html>"))
  }

  private def rawHtmlFrame(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "documents")
      // text IS NOT NULL on BOTH sides: the oracle's COALESCEd word
      // joins would otherwise build a full template page from a NULL
      // text while concat() null-propagates to a NULL html here
      .filter(col("text").isNotNull)
      .select(col("doc_id"), rawHtmlColumn.as("html"))

  /** html AND url in ONE documents scan (round 19: the pipeline's
    * former `raw ⋈ urls` doc_id join — two scans of the same table
    * joined back — tripled crawl_curate_e2e when the canonical stage
    * landed; both columns are row-local generator expressions over
    * the same documents row, so one projection carries them). */
  private def curatePages(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), rawHtmlColumn.as("html"),
        graft.ops.Url.syntheticUrlColumn.as("url"))

  /** C4-recipe HTML extraction over the synthetic crawl — see
    * [[graft.ops.Extract]] for the scan-fused, zero-exchange shape. */
  private def htmlExtractQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Extract.htmlExtract(rawHtmlFrame(s, dir))
      .orderBy("doc_id")

  /** Paragraph segmentation of the same extraction — one row per
    * boilerplate-surviving block. */
  private def htmlParagraphsQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Extract.paragraphs(rawHtmlFrame(s, dir))
      .orderBy("doc_id", "para_id")

  /** C4 page-level gate over the synthetic crawl. minLines=2 matches the
    * corpus's 2-kept-line page shape (the paper's 5 assumes real prose);
    * the blocklist exercises the containment mechanics on two corpus
    * vocabulary words. */
  private def c4PageFilterQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Extract.c4PageFilter(rawHtmlFrame(s, dir), minLines = 2,
        blocklist = Seq("vector", "spark"))
      .orderBy("doc_id")

  /** The blocked registrable domains of the crawl gate — the synthetic
    * stand-in for C4's host blocklist (two of the corpus's twenty
    * source domains, TLD variants of one of them, plus one
    * ccTLD-registered name so the gate exercises the PSL-aware
    * registrable-domain match end-to-end). */
  private val crawlBlockedDomains =
    Seq("src3-site.com", "src7-site.net", "src7-site.org", "src3-site.co.uk")

  /** The full crawl-curation recipe as ONE verdict table — the
    * end-to-end composition a C4/Gopher pipeline runs on raw pages:
    * URL gate (scheme + domain blocklist, BEFORE any content work —
    * the C4 ordering, and the cheapest drop there is) → page gate
    * (c4PageFilter) → text extraction (htmlExtract) → repetition gate
    * (Gopher top-2-gram ≤ 0.2 over the EXTRACTED text) → TWO-stage
    * dedup among full-gate-passers (round 19): canonical-declaration
    * key first (`coalesce(canonical_canon, url_canon)` — collapses
    * the variants content hashing keeps apart), then md5
    * first-occurrence among canonical winners — so a spam or
    * blocklisted page can never claim the canonical slot of a clean
    * duplicate. Per-doc booleans for every stage keep the whole
    * pipeline hash-checkable; downstream selects `final_keep`.
    * Round 20 (r19 verdict #8): the ANCHOR-ENDORSEMENT rescue is
    * composed in — a page failing the CONTENT gates (page/repetition)
    * but carrying ≥3 cross-page follow in-links on its own canonical
    * URL survives as `rescued` (the [[graft.ops.Links
    * .anchorEndorsedCurate]] rule, now exercised end-to-end: the
    * off-page signal reaches the KEPT corpus through the full chain,
    * and rescued pages enter the same two-stage dedup). URL and
    * robots admission still gate absolutely — endorsement cannot
    * resurrect a blocked or disallowed fetch. */
  private def crawlCurateE2eQ(s: SparkSession, dir: String): DataFrame =
    crawlCuratePipeline(curatePages(s, dir),
      RawGen.derived(s, dir, "robots"),
      graft.ops.Links.syntheticEndorseLinks(
        RawGen.table(s, dir, "documents")))

  /** The URL-gate → C4-gate → extraction → repetition-gate →
    * endorsement-rescue → two-stage-dedup verdict pipeline over ONE
    * `(doc_id, html, url)` frame — shared by the direct crawl query
    * and the WARC-sourced variant (whose parse round-trip must land on
    * the identical verdicts: same oracle; its URLs come from the
    * parsed `WARC-Target-URI`, so the gate exercises the round-tripped
    * URL). `endorse` is a link frame `(doc_id, link_idx, target_canon,
    * anchor, nofollow)` — the off-page endorsement source, aggregated
    * ONCE per target canonical (map-side combinable) and joined on the
    * page's own canonical URL (already computed by the gate scan). */
  private def crawlCuratePipeline(pagesIn: DataFrame,
                                  robots: DataFrame,
                                  endorse: DataFrame): DataFrame = {
    import graft.ops.{Extract, Gopher}
    val raw = pagesIn.select(col("doc_id"), col("html"))
    val urls = pagesIn.select(col("doc_id"), col("url"))
    // round 19 (r18 verdict #4): URL gate + canonical-DECLARATION
    // extraction in ONE scan (Links.canonicalKeys — url_ok is the same
    // scheme+blocklist verdict urlGate produced; dedup_key =
    // coalesce(declared canonical, url canonical)). The raw fixture
    // html predates rel=canonical (it is shared by the html_extract
    // oracles), so every 7th doc's declaration is INJECTED here —
    // https://<registrable domain>/c/<doc%13>, a canonical SHARED
    // across same-source same-m13 docs, i.e. variants whose extracted
    // text differs (content hashing keeps them apart; the canonical
    // stage is exactly what collapses them). The <link> tag adds no
    // extractable text, so every page-gate verdict is unchanged.
    val declTag = when(pmod(col("doc_id"), lit(7)) === 0,
      concat(lit("<link rel=\"canonical\" href=\"https://"), col("_dom"),
        lit("/c/"), pmod(col("doc_id"), lit(13)), lit("\">")))
      .otherwise(lit(""))
    // pin the canonical key BEFORE the PSL derivation (the
    // domain_quota_sample lesson — unpinned, registrableDomain inlines
    // the canonicalize tree at ~10 leaves: measured 2.4 s vs 0.1 s on
    // the 5k-page probe)
    val pagesAug = graft.ops.Links.pinColumns(
      graft.ops.Links.pinColumns(pagesIn
          .select(col("doc_id"), col("html"), col("url"),
            graft.ops.Url.canonicalizeUrl(col("url")).as("_uc")))
        .select(col("doc_id"), col("html"), col("url"),
          graft.ops.Url.registrableDomain(col("_uc")).as("_dom")))
      .select(col("doc_id"), concat(col("html"), declTag).as("html"),
        col("url").as("base_url"))
    val urlOk = graft.ops.Links.canonicalKeys(pagesAug, crawlBlockedDomains)
    // robots admission (round 15): composed right after the URL gate —
    // both are broadcast probes fused into the canonicalize scan, and
    // together they are the complete pre-fetch admission story
    val robotsOk = graft.ops.Url.robotsGate(urls, robots)
      .select(col("doc_id"), col("robots_ok"))
    val pages = Extract.c4PageFilter(raw, minLines = 2,
        blocklist = Seq("vector"))
      .select(col("doc_id"), col("keep").as("page_keep"))
    val text = Extract.htmlExtract(raw).select(col("doc_id"), col("text_clean"))
    // empty extractions still flow: words("") = [""], top2 = 0 → rep_ok
    val sig = Gopher.repetitionSignals(
        text.withColumnRenamed("text_clean", "text"))
      .select(col("doc_id"), (col("top2gram_char_frac") <= 0.2).as("rep_ok"))
    // round 20 (r19 verdict #8): the endorsement aggregate — one
    // hash-agg on the target canonical (map-side combinable), probed
    // on the page's OWN canonical URL (a column the gate scan already
    // carries — no re-canonicalization, no doc_id self-join)
    val ea = endorse.filter(!col("nofollow"))
      .groupBy(col("target_canon").as("url_canon"))
      .agg(count(lit(1)).cast("long").as("_nf"))
    val joined = urlOk.join(robotsOk, "doc_id").join(pages, "doc_id")
      .join(text, "doc_id").join(sig, "doc_id")
      .join(ea, Seq("url_canon"), "left")
      // round 16: the dedup key normalizes FIRST (NFC + typographic fold
      // + whitespace collapse) — without it, composed/decomposed byte
      // forms of the same visible page hash apart and both survive
      // "exact" dedup (the round-15 VERDICT: the normalizer shipped but
      // no dedup path ran it); oracle replays via normSqlOf
      .withColumn("_h", md5(TextAnalysis.normalizeExpr(col("text_clean"))))
      // rescue rule (anchorEndorsedCurate's, composed): content gates
      // pass OR ≥3 follow endorsements; URL+robots admission is
      // absolute — endorsement cannot resurrect a forbidden fetch
      .withColumn("_endorsed", coalesce(col("_nf"), lit(0L)) >= 3L)
      .withColumn("_eligible", col("url_ok") && col("robots_ok") &&
        ((col("page_keep") && col("rep_ok")) || col("_endorsed")))
    // round 19: dedup is TWO stages, cheapest collapse first — (1) the
    // canonical-declaration key (folds the variants content hashing
    // keeps apart), then (2) the content hash among canonical winners
    // (folds byte-duplicate pages with no declaration). Both windows
    // partition page-identity-cardinality keys (~n). Rescued pages
    // enter the same windows: an endorsed duplicate must not survive
    // twice.
    val firsts = joined
      .filter(col("_eligible"))
      .withColumn("_crn", row_number().over(
        Window.partitionBy("dedup_key").orderBy("doc_id")))
      .filter(col("_crn") === 1)
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_h").orderBy("doc_id")))
      .select(col("doc_id"), lit(true).as("canon_first"),
        (col("_rn") === 1).as("dedup_first"))
    joined.join(firsts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("url_ok"), col("robots_ok"),
        col("page_keep"), col("rep_ok"), col("declared"),
        (col("_eligible") && !(col("page_keep") && col("rep_ok")))
          .as("rescued"),
        coalesce(col("canon_first"), lit(false)).as("canon_first"),
        coalesce(col("dedup_first"), lit(false)).as("dedup_first"),
        (col("_eligible") &&
          coalesce(col("dedup_first"), lit(false))).as("final_keep"))
      .orderBy("doc_id")
  }

  // URL-level curation (round 13): canonical-URL dedup + per-domain stats
  // with sqrt-proportional quotas + the quota-capped sample — all over the
  // deterministic synthetic URL corpus (Url.syntheticUrls fixture contract)
  private def urlFrame(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.syntheticUrls(RawGen.table(s, dir, "documents"))

  // WARC crawl ingestion (round 13): synthetic ISO-28500 files over the
  // url × html fixtures, split + parsed by the real Content-Length-framed
  // record reader (graft.sources.Warc / the graft-spool format=warc seam).
  // Both archive forms are INPUT DATA (a crawl reads files that already
  // exist), so they persist through RawGen.derived — benchmarks time the
  // PARSE, not the per-run fixture synthesis (round-14 VERDICT: the
  // per-record gzip deflate dominated warc_read_gz's bench sample; the
  // round-9 RawGen.wire precedent applies verbatim)
  RawGen.registerDerived("warc") { (s, dir) =>
    graft.sources.Warc.syntheticWarc(
      urlFrame(s, dir).select(col("doc_id"), col("url"))
        .join(rawHtmlFrame(s, dir), "doc_id"))
  }
  RawGen.registerDerived("warc_gz") { (s, dir) =>
    graft.sources.Warc.syntheticWarcGz(
      urlFrame(s, dir).select(col("doc_id"), col("url"))
        .join(rawHtmlFrame(s, dir), "doc_id"))
  }
  private def warcFiles(s: SparkSession, dir: String): DataFrame =
    RawGen.derived(s, dir, "warc")

  // audio fingerprint near-dup (round 13): long-form synthetic WAVs →
  // native frame-energy hash → banded Hamming join
  private def audioFrame(s: SparkSession, dir: String): DataFrame =
    Multimodal.syntheticAudio(RawGen.table(s, dir, "documents"))

  private def audioFingerprintQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprint(audioFrame(s, dir)).orderBy("doc_id")

  private def audioNeardupQ(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFingerprintNeardup(audioFrame(s, dir))
      .orderBy("a_id", "b_id")

  private def warcReadQ(s: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.readRecords(warcFiles(s, dir))
      .orderBy("file_id", "rec_index")

  /** The `.warc.gz` round trip (round-13 directive): the SAME pages as
    * warc_read, but compressed one gzip member per record into a BINARY
    * payload and parsed through the auto-detecting byte-exact path — the
    * oracle is warc_read's verbatim, because gzip must be invisible to
    * every parsed field. The compressed archive comes from the
    * RawGen.derived cache (input data, built+deflated once per session —
    * see the registration above). */
  private def warcReadGzQ(s: SparkSession, dir: String): DataFrame =
    graft.sources.Warc.readRecords(RawGen.derived(s, dir, "warc_gz"))
      .orderBy("file_id", "rec_index")

  /** The crawl-curation pipeline STARTING FROM WARC BYTES: parse records,
    * recover (doc_id, html) from the response rows, run the identical
    * verdict pipeline — round-trip parity means the direct query's oracle
    * checks this one too. */
  private def warcCurateE2eQ(s: SparkSession, dir: String): DataFrame = {
    val parsed = graft.sources.Warc.readRecords(warcFiles(s, dir))
      .filter(col("warc_type") === "response")
      // record ids are <urn:uuid:00000000-0000-0000-0000-{%012d doc_id}>
      // (34-char prefix, so the 12 digits sit at 1-based offset 35)
      .select(substring(col("record_id"), 35, 12).cast("long").as("doc_id"),
        col("target_uri"), col("html"))
    // the URL gate runs on the ROUND-TRIPPED WARC-Target-URI, not the
    // generator frame — parse fidelity is part of this query's parity;
    // html and url ride ONE parsed frame (no doc_id self-join)
    crawlCuratePipeline(
      parsed.select(col("doc_id"), col("html"),
        col("target_uri").as("url")),
      RawGen.derived(s, dir, "robots"),
      graft.ops.Links.syntheticEndorseLinks(
        RawGen.table(s, dir, "documents")))
  }

  private def urlDedupQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.urlDedup(urlFrame(s, dir)).orderBy("url_canon")

  // URL admission gate (round 14): non-http(s) drop + registrable-domain
  // blocklist broadcast probe, fused into the canonicalize scan
  private def urlGateQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.urlGate(
        urlFrame(s, dir).select(col("doc_id"), col("url")),
        crawlBlockedDomains)
      .select("doc_id", "url_canon", "domain", "scheme_ok", "domain_ok",
        "url_keep")
      .orderBy("doc_id")

  // Crawl-frontier dedup (round 14): batch form of the streaming frontier —
  // catalog = canonical URLs of docs 0..249, delta = the rest; emit only
  // novel canonical forms, intra-delta first-occurrence-wins.
  // The catalog is the frontier's ACCUMULATED STATE — in production it
  // lives in storage (every earlier batch appended to it), so it joins
  // the RawGen.derived input corpora (round 15): without this, every run
  // re-derived it from the raw fixture, and the big canonicalize
  // expression tree appeared FOUR times in the plan (catalog in the
  // sketch subquery + the anti-join, delta in both union branches) —
  // ~4.3 s of mostly analyzer/optimizer tax on a 5k-row input.
  RawGen.registerDerived("url_catalog") { (s, dir) =>
    urlFrame(s, dir).filter(col("doc_id") < 250)
      .select(graft.ops.Url.canonicalizeUrl(col("url")).as("url_canon"))
      .distinct()
  }
  private def urlFrontierQ(s: SparkSession, dir: String): DataFrame = {
    val urls = urlFrame(s, dir).select(col("doc_id"), col("url"))
    graft.ops.Url.urlFrontierIncrement(urls.filter(col("doc_id") >= 250),
        RawGen.derived(s, dir, "url_catalog"))
      .select("doc_id", "url_canon")
      .orderBy("doc_id")
  }

  // robots.txt admission gate (round 15): RFC 9309 longest-match over the
  // per-domain synthetic robots corpus — the oracle regenerates the RULES
  // directly from the domain string, so the query checks parse∘generate
  // equivalence end-to-end (the Spark side parses the actual text). The
  // robots corpus is FETCHED input in production (one robots.txt per
  // domain, from the crawl itself), so it persists via RawGen.derived
  // like the WARC archives; the PARSE stays in the timed query.
  RawGen.registerDerived("robots") { (s, dir) =>
    graft.ops.Url.syntheticRobots(
      urlFrame(s, dir).select(col("doc_id"), col("url")))
  }
  RawGen.registerDerived("sitemaps") { (s, dir) =>
    graft.ops.Url.syntheticSitemaps(
      urlFrame(s, dir).select(col("doc_id"), col("url")))
  }
  // a PRIOR discovery batch's admitted seeds (even-length domains'
  // /page/1) — accumulated frontier state, like url_catalog; gives
  // crawl_discover_e2e's catalog anti-join genuine seed-side hits
  RawGen.registerDerived("seed_catalog") { (s, dir) =>
    RawGen.derived(s, dir, "robots")
      .filter(pmod(length(col("domain")), lit(2)) === 0)
      .select(concat(lit("https://"), col("domain"), lit("/page/1"))
        .as("url_canon"))
  }
  // the fetch SCHEDULER's log — which canonical seeds were last fetched
  // when (accumulated crawl state, like url_catalog): a deterministic
  // 70% stripe of the declared seeds with a seed-keyed day offset, so
  // recrawl_queue sees all three cases (novel, fresh-fetched, stale)
  RawGen.registerDerived("fetch_log") { (s, dir) =>
    graft.ops.Url.sitemapSeeds(RawGen.derived(s, dir, "sitemaps"))
      .select(col("seed_canon")).distinct()
      .filter(pmod(length(col("seed_canon")) * 7, lit(10)) < 7)
      .withColumn("last_fetch", date_sub(lit("2026-02-01").cast("date"),
        pmod(length(col("seed_canon")) * 3 +
          ascii(expr("right(seed_canon, 1)")), lit(45)).cast("int")))
  }

  /** The recrawl queue (round 17): per domain, stale declared seeds —
    * never fetched, or `<lastmod>` postdating the fetch log — ranked
    * newest-change-first with the politeness wait each rank implies.
    * See [[graft.ops.Url.recrawlQueue]] for the scale shape. */
  private def recrawlQueueQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.recrawlQueue(RawGen.derived(s, dir, "sitemaps"),
        RawGen.derived(s, dir, "fetch_log"),
        RawGen.derived(s, dir, "robots"))
      .orderBy("domain", "queue_rank")
  private def robotsGateQ(s: SparkSession, dir: String): DataFrame = {
    val urls = urlFrame(s, dir).select(col("doc_id"), col("url"))
    graft.ops.Url.robotsGate(urls, RawGen.derived(s, dir, "robots"))
      .select("doc_id", "url_canon", "domain", "path", "robots_ok")
      .orderBy("doc_id")
  }

  /** [[robotsGateQ]] for the `graftbot` product token (round 17, RFC
    * 9309 §2.2.1): the fixture's graftbot group INVERTS the `*` group's
    * /p/{d} verdict, so a hash match proves most-specific group
    * selection end-to-end (the oracle regenerates the graftbot rules —
    * the `*` and badbot groups must NOT leak in). */
  private def robotsGateAgentQ(s: SparkSession, dir: String): DataFrame = {
    val urls = urlFrame(s, dir).select(col("doc_id"), col("url"))
    graft.ops.Url.robotsGate(urls, RawGen.derived(s, dir, "robots"),
        agent = "GraftBot") // mixed case: token match is case-insensitive
      .select("doc_id", "url_canon", "domain", "path", "robots_ok")
      .orderBy("doc_id")
  }

  /** Per-domain robots METADATA (round 16): the `*` group's fractional
    * Crawl-delay (the badbot group's decoy 99 must NOT apply) + every
    * group-independent Sitemap URL, parsed from the derived robots
    * corpus; sitemaps emit as CSV + count (scalar columns hash-compare
    * cleanly). Oracle regenerates both directly from the domain string
    * — the fixture contract. */
  private def robotsMetaQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.robotsMeta(RawGen.derived(s, dir, "robots"))
      .select(col("domain"), col("crawl_delay"),
        array_join(col("sitemaps"), ",").as("sitemaps_csv"),
        size(col("sitemaps")).cast("long").as("n_sitemaps"))
      .orderBy("domain")

  /** [[robotsMetaQ]] for the `graftbot` token: the graftbot group's
    * `{len%2}.25` Crawl-delay must win over both the `*` group's and
    * the badbot decoy; sitemaps stay group-independent (identical to
    * the `*` run — the protocol contract, oracled per-agent). */
  private def robotsMetaAgentQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.robotsMeta(RawGen.derived(s, dir, "robots"),
        agent = "graftbot")
      .select(col("domain"), col("crawl_delay"),
        array_join(col("sitemaps"), ",").as("sitemaps_csv"),
        size(col("sitemaps")).cast("long").as("n_sitemaps"))
      .orderBy("domain")

  /** Sitemap seed extraction (round 16): per-domain sitemap.xml parsed
    * into `<loc>` seed URLs (trimmed, comment-stripped, canonicalized)
    * — the discovery half of the crawl loop robots_meta's Sitemap URLs
    * point into. The sitemap corpus is FETCHED input in production, so
    * it persists via RawGen.derived (the robots/WARC precedent). Oracle
    * regenerates each domain's expected locs directly from the domain
    * string — the fixture contract. */
  private def sitemapSeedsQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.sitemapSeeds(RawGen.derived(s, dir, "sitemaps"))
      .orderBy("domain", "sitemap", "seed_idx")

  /** Per-seed lastmod freshness (round 17): urlset entries paired with
    * their own optional `<lastmod>` — sm-1's dated entries parse to
    * dates, the escaped entry and the gz shard's entries have none
    * (null), the index file contributes nothing. Oracle regenerates
    * both columns from the domain string. */
  private def sitemapLastmodQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.sitemapLastmod(RawGen.derived(s, dir, "sitemaps"))
      .orderBy("domain", "sitemap", "seed_idx")

  /** Sitemap index resolution (round 17): each domain's
    * `<sitemapindex>` children with their fetched/unfetched status —
    * the fixture's /sm-404.xml child has no row, so `fetched` has both
    * values; the gzipped /sm-2.xml.gz child joins through its
    * canonical URL. Oracle regenerates the child table directly from
    * the domain string. */
  private def sitemapIndexQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.sitemapIndex(RawGen.derived(s, dir, "sitemaps"))
      .orderBy("domain", "child_idx")

  /** Crawl discovery loop end-to-end (round-17 directive): robots
    * metadata → declared sitemaps → index recursion → urlset seeds →
    * scheme/blocklist gate → frontier novelty vs the admitted catalog
    * (docs < 250 plus the even-length domains' /page/1 — a prior
    * discovery batch, so the anti-join has real hits). The gz shard's
    * duplicate /page/1 exercises the first-occurrence collapse. */
  private def crawlDiscoverE2eQ(s: SparkSession, dir: String): DataFrame = {
    val catalog = RawGen.derived(s, dir, "url_catalog")
      .unionByName(RawGen.derived(s, dir, "seed_catalog"))
    graft.ops.Url.crawlDiscover(RawGen.derived(s, dir, "robots"),
        RawGen.derived(s, dir, "sitemaps"), crawlBlockedDomains, catalog)
      .orderBy("domain", "sitemap", "seed_idx")
  }

  /** Politeness-bound crawl budget (round 16): the complete admission
    * front end (scheme + blocklist + robots) collapsed to per-domain
    * admitted counts,×crawl-delay feasibility — ONE corpus pass (see
    * [[graft.ops.Url.crawlBudget]]). */
  private def crawlBudgetQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.crawlBudget(
        urlFrame(s, dir).select(col("doc_id"), col("url")),
        crawlBlockedDomains, RawGen.derived(s, dir, "robots"))
      .orderBy("domain")

  /** [[crawlBudgetQ]] for the `graftbot` token: admitted counts follow
    * the graftbot group's inverted /p/ rules and the politeness
    * arithmetic follows its `{len%2}.25` delay — the full front end
    * re-oracled per-agent (round 17). */
  private def crawlBudgetAgentQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.crawlBudget(
        urlFrame(s, dir).select(col("doc_id"), col("url")),
        crawlBlockedDomains, RawGen.derived(s, dir, "robots"),
        agent = "graftbot")
      .orderBy("domain")

  // Unicode text normalization (round 15): every 3rd doc gains a MESSY
  // deterministic suffix (decomposed accent, curly quotes, em dash,
  // double spaces) so NFC + folding have real work and `changed` has
  // both values; the other docs must pass through byte-identical
  private def textNormalizeQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val messy = when(pmod(col("doc_id"), lit(3)) === 0,
        // the accent is DECOMPOSED (e + combining U+0301) so NFC genuinely
        // composes it; escapes keep the fixture source-encoding-proof
        concat(col("text"),
          lit(" cafe\u0301  \u201Cok\u201D \u2014 fin ")))
      .otherwise(col("text"))
    TextAnalysis.normalizeText(
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"), messy.as("text")))
      .orderBy("doc_id")
  }

  private def domainStatsQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.domainStats(urlFrame(s, dir)).orderBy("domain")

  /** Query-parameter intelligence (round 18): per (domain, param)
    * occurrence + distinct-value counts over the RAW query strings —
    * the corpus-derived evidence for param-strip policies (constant
    * boilerplate vs session-id-shaped cache busters). */
  private def urlParamStatsQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.paramStats(urlFrame(s, dir)).orderBy("domain", "param")

  /** Learned-policy URL dedup (round 18; round 20 — the r19 verdict's
    * #1: the CONSUMED policy is now [[graft.ops.Url
    * .paramPolicyCorroborated]] over the production-shaped corpus
    * fixture): the corpus' own param stats + content-fingerprint
    * corroboration become the per-domain strip list, URLs
    * re-canonicalize, first-occurrence dedup runs on the learned key.
    * Session/boilerplate variants fold; the `?art=`/`?id=` content
    * selectors SURVIVE — the content-id-collapse hazard the blind
    * distribution-only policy carried is structurally closed on the
    * path a user actually runs. */
  private def urlDedupLearnedQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.paramPolicyDedupCorroborated(
        graft.ops.Url.syntheticCorpusUrls(RawGen.table(s, dir, "documents")))
      .orderBy("learned_canon")

  /** Corroborated-policy dedup (round 19): over the session/content
    * fixture — the sess param (variants share a content fingerprint)
    * strips, the art param (each value is a DIFFERENT page) survives
    * even though both are high-card. See
    * [[graft.ops.Url.paramPolicyCorroborated]]. */
  private def urlDedupCorroboratedQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.paramPolicyDedupCorroborated(
        graft.ops.Url.syntheticSessionUrls(RawGen.table(s, dir, "documents")))
      .orderBy("learned_canon")

  // the learned-key frontier catalog: learned canonical keys of the
  // docs an earlier batch admitted — the first 250 of EACH corpus half
  // (base + session stripes), under the CORROBORATED policy learned
  // over the full corpus (round 20, r19 verdict #1: the
  // periodically-refreshed production input is the corroborated one —
  // the fetched corpus has content fingerprints)
  RawGen.registerDerived("url_catalog_learned") { (s, dir) =>
    val corpus = graft.ops.Url.syntheticCorpusUrls(
      RawGen.table(s, dir, "documents"))
    graft.ops.Url.applyParamPolicy(
        corpus.filter(graft.ops.Url.corpusCatalogPred)
          .select(col("doc_id"), col("url")),
        graft.ops.Url.paramPolicyCorroborated(corpus))
      .select(col("learned_canon")).distinct()
  }

  /** Learned-key frontier increment (round 19; round 20 — consuming
    * the CORROBORATED policy over the production-shaped corpus):
    * novelty keys on the policy-stripped canonical, so session-id/
    * boilerplate variants of a cataloged page are NOT re-admitted —
    * while `?art=`/`?id=` content pages each stay their own novel
    * fetch. See [[graft.ops.Url.urlFrontierLearnedIncrement]]. */
  private def urlFrontierLearnedQ(s: SparkSession, dir: String): DataFrame = {
    val corpus = graft.ops.Url.syntheticCorpusUrls(
      RawGen.table(s, dir, "documents"))
    graft.ops.Url.urlFrontierLearnedIncrement(
        corpus.filter(!graft.ops.Url.corpusCatalogPred)
          .select(col("doc_id"), col("url")),
        RawGen.derived(s, dir, "url_catalog_learned"),
        graft.ops.Url.paramPolicyCorroborated(corpus))
      .select("doc_id", "url_canon", "learned_canon")
      .orderBy("doc_id")
  }

  private def domainQuotaSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Url.domainQuotaSample(urlFrame(s, dir)).orderBy("doc_id")

  // fastText-shaped hashed-ngram linear classifier (round 13): Gopher gate
  // as teacher, fixed-point multinomial weights, integer argmax
  private def qualityClassifierQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Classifier.qualityClassifier(RawGen.table(s, dir, "documents"))
      .orderBy("doc_id")

  /** Multi-class LID head (round-13 directive): 5-class hashed-ngram
    * student over the generic encoded argmax. Teacher = the corpus's
    * `lang` METADATA column (en/fr/de/es/zh — the supervised-fastText
    * setting); the rule-LID teacher the directive names is single-class
    * on this synthetic corpus (its tech-vocabulary text trips the
    * English stopword list for every doc), so it cannot exercise the
    * multi-class head here — ClassifierSpec pins the rule-teacher form
    * on a genuinely multilingual fixture instead. */
  private def lidClassifierQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    graft.ops.Classifier.lidClassifierWith(docs,
        docs.select(col("doc_id"), col("lang").as("label")))
      .orderBy("doc_id")
  }

  /** Curation composition: classifier verdict as the gate, then exact
    * first-occurrence dedup among the kept — the student-model form of
    * crawl_curate_e2e's rule-gate front end. */
  private def classifierCurateQ(s: SparkSession, dir: String): DataFrame = {
    val docs = RawGen.table(s, dir, "documents")
    val clf = graft.ops.Classifier.qualityClassifier(docs)
      .select(col("doc_id"), (col("pred_label") === "keep").as("clf_keep"))
    val joined = docs.select(col("doc_id"), md5(col("text")).as("_h"))
      .join(clf, "doc_id")
    val firsts = joined.filter(col("clf_keep"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_h").orderBy("doc_id")))
      .select(col("doc_id"), (col("_rn") === 1).as("dedup_first"))
    joined.join(firsts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("clf_keep"),
        coalesce(col("dedup_first"), lit(false)).as("dedup_first"),
        (col("clf_keep") && coalesce(col("dedup_first"), lit(false)))
          .as("final_keep"))
      .orderBy("doc_id")
  }

  private def bpePairsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpePairCounts(RawGen.table(s, dir, "documents"))
      .orderBy("rank")

  private def embedOutliersQ(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingOutliers(RawGen.table(s, dir, "embeddings"))
      .orderBy("vec_id")

  private def qUnion(s: SparkSession, dir: String): DataFrame = {
    val o = RawGen.table(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .union(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .distinct()
      .orderBy("o_custkey")
  }

  /** Approx quantiles with the tolerance-boolean pattern (same as
    * approx_distinct): percentile_approx returns actual data values and its
    * sketch merge is partition-order-sensitive, so the hash-stable output is
    * the EXACT p25 (quarter fraction — exactly representable) plus booleans
    * asserting the approx p50/p90 land within 1.0 of the exact interpolated
    * values. Accuracy 1000 ⇒ rank error ≤ n/1000; on this column's density
    * that is a ~0.05 value error against the ±1.0 tolerance — sketch size
    * (the per-group state a 100 TB agg carries) should be sized to the
    * tolerance actually needed, not maxed out (10000 measured 3× slower for
    * no extra assertion power). */
  private def qApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    RawGen.table(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("_e50"),
        expr("percentile(l_quantity, 0.9)").as("_e90"),
        expr("percentile_approx(l_quantity, 0.5, 1000)").as("_a50"),
        expr("percentile_approx(l_quantity, 0.9, 1000)").as("_a90"))
      .select(col("l_returnflag"), col("cnt"), col("p25"),
        (abs(col("_a50") - col("_e50")) <= 1.0).as("p50_within_tol"),
        (abs(col("_a90") - col("_e90")) <= 1.0).as("p90_within_tol"))
      .orderBy("l_returnflag")

  /** The remaining ranking-window family in one query: dense_rank,
    * percent_rank, cume_dist over a deterministic (value, key) order.
    * percent_rank/cume_dist are exact rational fractions computed
    * identically in both engines from integer rank/count, so the doubles
    * hash-match. */
  private def qRankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    RawGen.table(s, dir, "orders")
      .filter(col("o_orderkey") % 100 === 0)  // slim, stable sample
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        dense_rank().over(w).as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("o_orderkey")
  }

  /** NOT IN subquery — the null-aware anti join, a physically distinct
    * operator from the plain anti join (q_anti): three-valued NOT IN logic
    * means one NULL on the inner side empties the result, so the engine
    * must track inner-null existence, not just key misses. Expressed in SQL
    * so Catalyst's NotIn-to-NAAJ planning runs. */
  private def qNotIn(s: SparkSession, dir: String): DataFrame = {
    RawGen.table(s, dir, "customer").createOrReplaceTempView("customer_ni")
    RawGen.table(s, dir, "orders").createOrReplaceTempView("orders_ni")
    s.sql(
      """SELECT c_custkey, c_name
        |FROM customer_ni
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_ni
        |                        WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Skew-salted join under the correctness gate: results must equal a
    * plain join (the salt only reshapes the shuffle), proven by aggregating
    * both sides down to a deterministic per-segment summary the oracle
    * computes with an ordinary join. */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = RawGen.table(s, dir, "orders")
    val cust = RawGen.table(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.ops.Partitioning.saltedJoin(orders, cust, "o_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("c_mktsegment")
  }

  // ---------- DuckDB oracles ----------

  // Single physical line: this fragment is spliced into cmfGeotabSql BEFORE
  // that string's stripMargin runs, so embedded newline+`||` would be
  // margin-stripped a second time and corrupt the concat operators.
  private val geotabSsdSql =
    """('{' || COALESCE('"customGeotabField1":"'||c1||'"','') """ +
    """|| CASE WHEN c1 IS NOT NULL AND c2 IS NOT NULL THEN ',' ELSE '' END """ +
    """|| COALESCE('"customGeotabField2":'||c2,'') || '}')"""

  private val cmfGeotabSql =
    s"""WITH base AS (
       |  SELECT event_id, user_id, event_type, value, $sqlEpochS AS es,
       |    CASE WHEN user_id % 3 <> 0 THEN event_type END AS c1,
       |    CASE WHEN event_id % 7 <> 0 THEN event_id % 100 END AS c2
       |  FROM events WHERE $sqlVehicleValid)
       |SELECT 'geo-'||event_id AS device_id, 'veh-'||user_id AS vehicle_id,
       |  ${sqlIsoFromS("es")} AS date_time, es*1000 AS epoch_source,
       |  (user_id % 180 - 90 + 0.25) AS lat, (event_id % 360 - 180 + 0.5) AS lon,
       |  CASE WHEN event_type <> 'error' THEN value END AS odometer_mi,
       |  CASE WHEN event_type <> 'view' THEN CAST(event_id % 5000 AS DOUBLE) END AS engine_rpm,
       |  CAST(user_id % 101 AS DOUBLE) AS fuel_pct,
       |  CASE event_type WHEN 'click' THEN 'ON' WHEN 'view' THEN 'OFF'
       |    WHEN 'purchase' THEN 'ON' ELSE 'UNKNOWN' END AS ignition,
       |  'veh-'||user_id AS partition_key, 'Geotab' AS source_type, 'acme' AS tenant_id,
       |  $geotabSsdSql AS ssd,
       |  'GeotabTranslator_v1.0' AS translator
       |FROM base ORDER BY device_id""".stripMargin

  private val cmfCalampSql =
    s"""WITH base AS (
       |  SELECT event_id, user_id, event_type, value, $sqlEpochS AS es
       |  FROM events WHERE $sqlVehicleValid)
       |SELECT 'cal-'||event_id AS device_id, 'cv-'||user_id AS vehicle_id,
       |  ${sqlIsoFromS("es")} AS date_time, es*1000 AS epoch_source,
       |  (user_id % 160 - 80 + 0.125) AS lat, (event_id % 340 - 170 + 0.375) AS lon,
       |  CASE WHEN event_type = 'click' THEN value END AS speed_mph,
       |  CAST(event_id % 101 AS DOUBLE) AS fuel_pct,
       |  CAST(user_id % 150 AS DOUBLE)/10.0 AS battery_v,
       |  'CalAmp' AS source_type,
       |  CASE WHEN user_id % 4 <> 0 THEN '{"calAmpSpecificValue":"'||event_type||'"}'
       |       ELSE '{}' END AS ssd
       |FROM base ORDER BY device_id""".stripMargin

  private val cmfFordSql =
    s"""WITH base AS (
       |  SELECT event_id, user_id, event_type, value, $sqlEpochMs AS ms
       |  FROM events WHERE $sqlVehicleValid)
       |SELECT 'esn-'||event_id AS device_id, 'vin-'||user_id AS vehicle_id,
       |  ${sqlIsoFromMs("ms")} AS date_time, ms AS epoch_source,
       |  ${sqlIsoFromMs("ms - 5000")} AS loc_time,
       |  (user_id % 170 - 85 + 0.5) AS lat, (event_id % 350 - 175 + 0.25) AS lon,
       |  CASE WHEN event_type <> 'signup' THEN value END AS speed_mph,
       |  CAST(event_id % 20 AS DOUBLE) + 0.5 AS fuel_gal,
       |  CASE WHEN event_type <> 'error' THEN CAST(event_id % 8000 AS DOUBLE) END AS engine_rpm,
       |  'Ford' AS source_type,
       |  CASE WHEN user_id % 7 <> 0
       |    THEN '{"doorStatus":"'||event_type||'","alerts":'||(event_id%3)||'}'
       |    ELSE '{}' END AS ssd
       |FROM base ORDER BY device_id""".stripMargin

  private val quarantineSql =
    s"""SELECT src AS source, CAST(n AS BIGINT) AS quarantined FROM (
       |  SELECT 'calamp' AS src, count(*) AS n FROM events WHERE $sqlVehiclePoison
       |  UNION ALL SELECT 'ford', count(*) FROM events WHERE $sqlVehiclePoison
       |  UNION ALL SELECT 'geotab', count(*) FROM events WHERE $sqlVehiclePoison
       |) ORDER BY source""".stripMargin

  private val routeFiltererSql =
    s"""WITH base AS (
       |  SELECT user_id, $sqlEpochMs AS ms FROM events
       |  WHERE user_id % 6 = 5 AND ts IS NOT NULL)
       |SELECT 'tenant-'||(user_id%4) AS tenant_id,
       |  'persistent://tenant-'||(user_id%4)||'/integration/telemetry' AS topic,
       |  CAST(count(*) AS BIGINT) AS msg_cnt,
       |  CAST(sum(length('{"meta":{"tenantId":"tenant-'||(user_id%4)||'"},"vehicleId":"veh-'
       |    ||user_id||'","partitionKey":"veh-'||user_id||'","epochSource":'||ms||'}')) AS BIGINT) AS bytes
       |FROM base GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // Same routed corpus profiled per topic AFTER the spool-sink round-trip:
  // equality with this oracle proves the two-phase publish lost/duplicated/
  // mis-routed nothing.
  private val routeTopicSinkSql =
    s"""WITH base AS (
       |  SELECT user_id, $sqlEpochMs AS ms FROM events
       |  WHERE user_id % 6 = 5 AND ts IS NOT NULL)
       |SELECT 'persistent://tenant-'||(user_id%4)||'/integration/telemetry' AS topic,
       |  CAST(count(*) AS BIGINT) AS msg_cnt,
       |  CAST(sum(length('{"meta":{"tenantId":"tenant-'||(user_id%4)||'"},"vehicleId":"veh-'
       |    ||user_id||'","partitionKey":"veh-'||user_id||'","epochSource":'||ms||'}')) AS BIGINT) AS bytes
       |FROM base GROUP BY 1 ORDER BY 1""".stripMargin

  private val legacyBaseSql =
    s"""WITH base AS (
       |  SELECT event_id, user_id, $sqlEpochS AS es, event_id % 5 AS kind,
       |    CAST(floor(value*100) AS BIGINT) AS cents
       |  FROM events
       |  WHERE (user_id % 9 <> 0 OR user_id IS NULL)
       |    AND event_id IS NOT NULL AND ts IS NOT NULL
       |    AND (event_id % 5 <> 3 OR value IS NOT NULL)
       |    AND (event_id % 5 NOT IN (0, 2) OR user_id IS NOT NULL)),
       |p AS (
       |  SELECT event_id, kind, ${sqlIsoFromS("es")} AS iso_s,
       |    CASE kind WHEN 0 THEN 'user-service' WHEN 1 THEN 'order-service'
       |      WHEN 2 THEN 'inventory-service' WHEN 3 THEN 'payment-gateway'
       |      ELSE 'shipping-service' END AS source,
       |    CASE kind WHEN 0 THEN 'USER_PROFILE_EVENT' WHEN 1 THEN 'ORDER_EVENT'
       |      WHEN 2 THEN 'INVENTORY_EVENT' WHEN 3 THEN 'PAYMENT_EVENT'
       |      ELSE 'SHIPMENT_EVENT' END AS event_type,
       |    CASE kind
       |      WHEN 0 THEN '{"uid":'||user_id||',"name":"user-'||user_id||'","created":'||es||'}'
       |      WHEN 1 THEN '{"orderId":"ORD-'||event_id||'","items":["item-'||(event_id%50)||'"],"placedAt":"'||${sqlIsoFromS("es")}||'"}'
       |      WHEN 2 THEN '{"sku":"SKU-'||(event_id%500)||'","qty":'||(user_id%1000)||',"updateTime":'||es||'}'
       |      WHEN 3 THEN '{"txnId":"TXN-'||event_id||'","amount":'||cents||',"currency":"EUR","time":"'||${sqlIsoFromS("es")}||'"}'
       |      ELSE '{"shipId":"SHIP-'||event_id||'","status":"SHIPPED","deliveredAt":'||es||'}'
       |    END AS payload
       |  FROM base)""".stripMargin

  private val legacyTranslateSql =
    s"""$legacyBaseSql
       |SELECT event_id, sha256(source||'|'||event_type||'|'||payload) AS event_uuid,
       |  source, event_type, iso_s AS ts_iso
       |FROM p ORDER BY event_id""".stripMargin

  private val routeSplitterSql =
    s"""$legacyBaseSql
       |SELECT event_type,
       |  'persistent://acme/integration/' ||
       |    replace(lower(regexp_replace(event_type, '_EVENT$$', '')), '_', '-') ||
       |    '-events' AS topic,
       |  CAST(count(*) AS BIGINT) AS msg_cnt
       |FROM p GROUP BY 1, 2 ORDER BY 1""".stripMargin

  private val unionSourcesSql =
    s"""WITH v AS (SELECT ($sqlEpochS)*1000 AS es FROM events WHERE $sqlVehicleValid)
       |SELECT src AS source_type, CAST(n AS BIGINT) AS msg_cnt, mn AS min_epoch, mx AS max_epoch
       |FROM (
       |  SELECT 'CalAmp' AS src, count(*) n, min(es) mn, max(es) mx FROM v HAVING count(*) > 0
       |  UNION ALL SELECT 'Geotab', count(*), min(es), max(es) FROM v HAVING count(*) > 0
       |) ORDER BY source_type""".stripMargin

  private val q1AggSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM lineitem WHERE l_quantity < 45
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val qJoinAggSql =
    """SELECT n_name, r_name, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val qWindowTopkSql =
    """SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) rn
      |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  private val qRollupSql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY 1, 2""".stripMargin

  private val qSemiSql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val qAntiSql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val dedupExactSql =
    """SELECT md5(text) AS text_md5, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
      |  CAST(count(*) AS BIGINT) AS copies
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  // normalized exact dedup: the oracle rebuilds the composed/decomposed
  // pair fixture (chr(233) = U+00E9, chr(769) = combining acute) and
  // hashes through the SAME normalize chain (normSqlOf) — each 2k/2k+1
  // pair must land on ONE md5 key. LAZY: normSqlOf is a def but keep the
  // oracle-near-decl convention.
  private lazy val dedupExactNormSql =
    """WITH e AS (SELECT doc_id AS k, text AS base FROM documents
      |  WHERE text IS NOT NULL AND doc_id%2=0),
      |p AS (SELECT d.doc_id, e.base ||
      |  CASE WHEN d.doc_id%2=0 THEN ' caf' || chr(233) || ' fin'
      |       ELSE ' cafe' || chr(769) || ' fin' END AS text
      |  FROM documents d JOIN e ON e.k = d.doc_id - d.doc_id%2
      |  WHERE d.text IS NOT NULL)
      |""".stripMargin +
    s"SELECT md5(${normSqlOf("text")}) AS text_md5,\n" +
    """  CAST(MIN(doc_id) AS BIGINT) AS keep_id,
      |  CAST(count(*) AS BIGINT) AS copies
      |FROM p GROUP BY 1 ORDER BY keep_id""".stripMargin

  private val eventsDedupSql =
    """SELECT user_id, event_type, CAST(MIN(event_id) AS BIGINT) AS keep_id,
      |  CAST(count(*) AS BIGINT) AS copies
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val duckWords = """string_split_regex(trim(text), '\s+')"""

  // Gopher repetition signals — shared CTE chain: 12-word line blocks,
  // duplicate-occurrence counts (occurrences after the first, lines and
  // chars), and the top-n-gram character fraction with the count-then-
  // longest tie-break. cmax must be staged into its own CTE: a DuckDB
  // lambda cannot reference an alias defined in the same SELECT.
  private def duckTopGram(n: Int, alias: String): Seq[String] = Seq(
    s"g$n AS (SELECT *, CASE WHEN len(ws) >= $n THEN list_transform(range(0, len(ws) - $n + 1), i -> array_to_string(ws[CAST(i+1 AS INT):CAST(i+$n AS INT)], ' ')) ELSE [] END AS grams FROM ${if (n == 2) "rep" else s"t${n - 1}"})",
    s"gm$n AS (SELECT *, CASE WHEN len(grams) > 0 THEN list_max(list_transform(list_distinct(grams), g -> len(list_filter(grams, x -> x = g)))) END AS cmax FROM g$n)",
    s"t$n AS (SELECT * EXCLUDE (grams, cmax), CASE WHEN len(grams) > 0 THEN CAST(cmax AS DOUBLE) * list_max(list_transform(list_filter(list_distinct(grams), g -> len(list_filter(grams, x -> x = g)) = cmax), g -> length(g))) / greatest(length(array_to_string(ws, ' ')), 1) ELSE 0.0 END AS $alias FROM gm$n)")

  private val gopherRepCtes: String = (Seq(
    s"w AS (SELECT doc_id, $duckWords AS ws FROM documents WHERE text IS NOT NULL)",
    "base AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 1)",
    "ln AS (SELECT doc_id, ws, list_transform(range(0, CAST(ceil(len(ws)/12.0) AS INT)), i -> array_to_string(ws[CAST(i*12+1 AS INT):CAST((i+1)*12 AS INT)], ' ')) AS lines FROM base)",
    "rep AS (SELECT doc_id, ws, lines, CAST(len(lines) AS INT) AS n_lines, " +
      "list_sum(list_transform(list_distinct(lines), g -> len(list_filter(lines, x -> x = g)) - 1)) AS dupn, " +
      "list_sum(list_transform(list_distinct(lines), g -> (len(list_filter(lines, x -> x = g)) - 1) * length(g))) AS dupch FROM ln)") ++
    duckTopGram(2, "top2") ++ duckTopGram(3, "top3") ++ duckTopGram(4, "top4"))
    .mkString(",\n")

  private val gopherRepetitionSql =
    s"""WITH $gopherRepCtes
       |SELECT doc_id, n_lines,
       |  CAST(dupn AS DOUBLE) / n_lines AS dup_line_frac,
       |  CAST(dupch AS DOUBLE) / greatest(length(array_to_string(lines, '')), 1) AS dup_line_char_frac,
       |  top2 AS top2gram_char_frac, top3 AS top3gram_char_frac,
       |  top4 AS top4gram_char_frac
       |FROM t4 ORDER BY doc_id""".stripMargin

  private val gopherQualitySql =
    s"""WITH $gopherRepCtes,
       |q AS (SELECT doc_id, ws, lines, n_lines, dupn, dupch, top2, top3, top4,
       |  len(ws) AS nw,
       |  CAST(length(array_to_string(ws, '')) AS DOUBLE) / len(ws) AS ml,
       |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws) AS af,
       |  len(list_intersect(ws, ['the','be','to','of','and','that','have','with'])) AS ns,
       |  CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE) / len(lines) AS ef,
       |  CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')) AS DOUBLE) / len(lines) AS bf,
       |  CAST(dupn AS DOUBLE) / n_lines AS dlf,
       |  CAST(dupch AS DOUBLE) / greatest(length(array_to_string(lines, '')), 1) AS dlcf
       |  FROM t4),
       |r AS (SELECT doc_id, concat_ws(',',
       |  CASE WHEN nw < 50 THEN 'too_few_words' END,
       |  CASE WHEN nw > 100000 THEN 'too_many_words' END,
       |  CASE WHEN ml < 3.0 THEN 'short_words' END,
       |  CASE WHEN ml > 10.0 THEN 'long_words' END,
       |  CASE WHEN af < 0.8 THEN 'non_alpha_words' END,
       |  CASE WHEN ns < 2 THEN 'too_few_stopwords' END,
       |  CASE WHEN ef > 0.3 THEN 'ellipsis_lines' END,
       |  CASE WHEN bf > 0.9 THEN 'bullet_lines' END,
       |  CASE WHEN dlf > 0.3 THEN 'dup_lines' END,
       |  CASE WHEN dlcf > 0.2 THEN 'dup_line_chars' END,
       |  CASE WHEN top2 > 0.20 THEN 'top2gram' END,
       |  CASE WHEN top3 > 0.18 THEN 'top3gram' END,
       |  CASE WHEN top4 > 0.16 THEN 'top4gram' END) AS fail_reasons FROM q)
       |SELECT doc_id, fail_reasons = '' AS keep, fail_reasons
       |FROM r ORDER BY doc_id""".stripMargin

  private val textStatsSql =
    s"""WITH w AS (SELECT doc_id, text, $duckWords AS ws FROM documents)
       |SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(ws) AS BIGINT) AS n_words,
       |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)/len(ws) AS avg_word_len,
       |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and'))) AS DOUBLE)/len(ws) AS stopword_ratio,
       |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpe_tokens
       |FROM w ORDER BY doc_id""".stripMargin

  private val langIdSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |c AS (SELECT doc_id,
       |  len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS en,
       |  len(list_filter(ws, x -> x IN ('le','la','les','et','est'))) AS fr,
       |  len(list_filter(ws, x -> x IN ('der','die','das','und','ist'))) AS de,
       |  len(list_filter(ws, x -> x IN ('el','los','las','y','es'))) AS es FROM w)
       |SELECT doc_id,
       |  CASE WHEN en>=fr AND en>=de AND en>=es THEN 'en'
       |       WHEN fr>=de AND fr>=es THEN 'fr'
       |       WHEN de>=es THEN 'de' ELSE 'es' END AS lang_guess
       |FROM c ORDER BY doc_id""".stripMargin

  private val docFingerprintSql =
    """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  private val langIdNgramSql = {
    val score = TextAnalysis.trigramProfiles.map { case (lang, grams) =>
      lang -> grams.map(g => s"len(regexp_extract_all(low, '$g'))").mkString(" + ")
    }.toMap
    s"""WITH c AS (SELECT doc_id, lower(text) AS low FROM documents),
       |s AS (SELECT doc_id, ${score("en")} AS en, ${score("fr")} AS fr,
       |  ${score("de")} AS de, ${score("es")} AS es FROM c)
       |SELECT doc_id,
       |  CASE WHEN en>=fr AND en>=de AND en>=es THEN 'en'
       |       WHEN fr>=de AND fr>=es THEN 'fr'
       |       WHEN de>=es THEN 'de' ELSE 'es' END AS lang_ngram
       |FROM s ORDER BY doc_id""".stripMargin
  }

  private val qPartStatsSql =
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE)/count(*) AS avg_price,
      |  CAST(MAX(p_size) AS INT) AS max_size
      |FROM part GROUP BY 1 ORDER BY 1""".stripMargin

  private val qSupplierNationSql =
    """SELECT n_name, CAST(count(*) AS BIGINT) AS suppliers,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Quality-gate CTE chain (w → m → r), ending in r(doc_id,
    * fail_reasons). Shared verbatim by qualityFilterSql and
    * curateSemanticSql so a threshold or formula change cannot drift
    * between them. The stopword-ratio column is named st0 (not st) to
    * stay clear of sibling CTE/column names in larger splices. */
  private val duckQualityCtes =
    s"""w AS (SELECT doc_id, text, $duckWords AS ws FROM documents),
       |m AS (SELECT doc_id, text,
       |  len(ws) AS nw,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)/len(ws) AS ml,
       |  CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
       |    / greatest(length(text), 1) AS sr,
       |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
       |    / len(ws) AS st0
       |FROM w),
       |r AS (SELECT doc_id, concat_ws(',',
       |  CASE WHEN text IS NULL THEN 'null_text' END,
       |  CASE WHEN nw < 10 THEN 'too_few_words' END,
       |  CASE WHEN nw > 100000 THEN 'too_many_words' END,
       |  CASE WHEN ml < 2.0 THEN 'short_words' END,
       |  CASE WHEN ml > 12.0 THEN 'long_words' END,
       |  CASE WHEN sr > 0.2 THEN 'symbol_heavy' END,
       |  CASE WHEN st0 < 0.005 THEN 'no_stopwords' END) AS fail_reasons
       |FROM m)""".stripMargin

  private val qualityFilterSql =
    s"""WITH $duckQualityCtes
       |SELECT doc_id, fail_reasons = '' AS keep, fail_reasons
       |FROM r ORDER BY doc_id""".stripMargin

  private val winnowSql =
    """WITH n AS (SELECT doc_id,
      |    regexp_replace(lower(text), '\s+', ' ', 'g') AS t FROM documents),
      |g AS (SELECT doc_id, greatest(length(t) - 7, 0) AS ng,
      |    list_transform(generate_series(1, greatest(length(t) - 7, 0)),
      |      i -> md5(substr(t, i, 8))) AS grams
      |  FROM n),
      |w AS (SELECT doc_id, ng,
      |    list_transform(generate_series(0, ng - 4),
      |      i -> list_min(grams[i+1:i+4])) AS wins
      |  FROM g)
      |SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
      |  CASE WHEN ng >= 4
      |    THEN md5(array_to_string(list_sort(list_distinct(wins)), '')) END AS winnow_digest
      |FROM w ORDER BY doc_id""".stripMargin

  /** Shared CTE chain: tokenize → shingle → 8-component minhash → 2 bands.
    * Pre-stripped (no margins) so it can be spliced into plain strings by
    * both the near-dup and the cluster oracle without double-stripMargin. */
  private val minhashSigCtes = {
    val mh = (1 to 8).map(j =>
      s"list_min(list_transform(sh, x -> md5('$j:'||x))) AS mh$j").mkString(",\n  ")
    s"""w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 3),
       |shx AS (SELECT doc_id,
       |  list_distinct(list_transform(generate_series(0, len(ws)-3),
       |    i -> array_to_string(ws[i+1:i+3], ' '))) AS sh FROM f),
       |sig AS (SELECT doc_id, sh,
       |  $mh
       |FROM shx),
       |sigb AS (SELECT *, mh1||mh2||mh3||mh4 AS b0, mh5||mh6||mh7||mh8 AS b1 FROM sig)""".stripMargin
  }

  private val neardupMinhashSql = {
    val mcnt = (1 to 8).map(j =>
      s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END").mkString(" + ")
    s"WITH $minhashSigCtes\n" +
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  ($mcnt)/8.0 AS est_jaccard,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |FROM sigb a JOIN sigb b
       |  ON (a.b0 = b.b0 OR a.b1 = b.b1) AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** CC oracle: same minhash band join yields the edges, then a recursive
    * CTE computes each doc's min reachable id (= cluster id); singletons
    * keep their own id via the non-recursive seed over all documents. */
  private val dedupClustersSql =
    s"WITH RECURSIVE $minhashSigCtes,\n" +
    s"""e AS (SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM sigb a JOIN sigb b
       |  ON (a.b0 = b.b0 OR a.b1 = b.b1) AND a.doc_id < b.doc_id),
       |sym AS (SELECT da AS a, db AS b FROM e UNION ALL SELECT db, da FROM e),
       |r(id, rc) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.id, sym.b FROM r JOIN sym ON sym.a = r.rc)
       |SELECT id AS doc_id, CAST(min(rc) AS BIGINT) AS cluster_id
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  private val neardupJaccardSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |f AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, len(ws)-3),
       |    i -> array_to_string(ws[i+1:i+3], ' '))) AS sh FROM w WHERE len(ws) >= 3),
       |x AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS g FROM f),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.nsh AS na, b.nsh AS nb, count(*) AS c
       |  FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b, CAST(c AS DOUBLE)/(na + nb - c) AS jaccard
       |FROM p WHERE CAST(c AS DOUBLE)/(na + nb - c) >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin

  private val simhashSql = {
    val bits = (0 until 16).map { k =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN " +
      s"strpos('0123456789abcdef', substr(h, ${k + 1}, 1)) % 2 = 1 " +
      s"THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH w AS (SELECT doc_id,
       |  list_transform($duckWords, x -> md5(x)) AS hs FROM documents)
       |SELECT doc_id, $bits AS simhash FROM w ORDER BY doc_id""".stripMargin
  }

  private val knnBruteSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |n AS (SELECT * FROM (SELECT vec_id, emb,
      |  sqrt(list_dot_product(emb, emb)) AS nrm FROM e) WHERE nrm > 0),
      |q AS (SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm FROM n WHERE vec_id < 8),
      |s AS (SELECT qid AS query_id, n.vec_id AS neighbor_id,
      |    list_dot_product(qemb, emb)/(qnrm*nrm) AS sim
      |  FROM q JOIN n ON n.vec_id <> qid),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
      |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank, sim
      |FROM r WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin

  private val knnLshSql = {
    val sigExpr = Similarity.planes(8, 64).map { coefs =>
      val arr = coefs.map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(emb, $arr::DOUBLE[]) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT * FROM (SELECT vec_id, emb,
       |  sqrt(list_dot_product(emb, emb)) AS nrm,
       |  $sigExpr AS sig FROM e) WHERE nrm > 0),
       |q AS (SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm, sig FROM n WHERE vec_id < 8),
       |s AS (SELECT qid AS query_id, n.vec_id AS neighbor_id,
       |    list_dot_product(qemb, emb)/(qnrm*nrm) AS sim
       |  FROM q JOIN n ON n.sig = q.sig AND n.vec_id <> qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
       |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank, sim
       |FROM r WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private val knnLshProbeSql = {
    val sigExpr = Similarity.planes(8, 64).map { coefs =>
      val arr = coefs.map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(emb, $arr::DOUBLE[]) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    // probe set = exact signature + each single-bit flip (mirrors
    // Similarity.probeSignatures)
    val flips = (0 until 8).map { j =>
      s"substr(sig,1,$j) || (CASE WHEN substr(sig,${j + 1},1)='1' THEN '0' ELSE '1' END) || substr(sig,${j + 2},${8 - j - 1})"
    }.mkString("[sig, ", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT * FROM (SELECT vec_id, emb,
       |  sqrt(list_dot_product(emb, emb)) AS nrm,
       |  $sigExpr AS sig FROM e) WHERE nrm > 0),
       |q AS (SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm,
       |    unnest($flips) AS probe
       |  FROM n WHERE vec_id < 8),
       |s AS (SELECT DISTINCT qid AS query_id, n.vec_id AS neighbor_id,
       |    list_dot_product(qemb, emb)/(qnrm*nrm) AS sim
       |  FROM q JOIN n ON n.sig = q.probe AND n.vec_id <> qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
       |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank, sim
       |FROM r WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private val knnIvfSql = {
    val cents = Similarity.ivfCentroids(16, 64).map { cv =>
      cv.map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    }
    val scoreList = cents.map(c => s"list_dot_product(emb, $c::DOUBLE[])")
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT * FROM (SELECT vec_id, emb,
       |  sqrt(list_dot_product(emb, emb)) AS nrm,
       |  $scoreList AS s FROM e) WHERE nrm > 0),
       |c AS (SELECT vec_id, emb, nrm, list_position(s, list_max(s)) AS cid FROM n),
       |q AS (SELECT qid, qemb, qnrm, cid FROM (
       |    SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm,
       |      unnest(s) AS sc, generate_subscripts(s, 1) AS cid
       |    FROM n WHERE vec_id < 8)
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sc DESC, cid) <= 2),
       |sc AS (SELECT qid AS query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(qemb, emb)/(qnrm*nrm) AS sim
       |  FROM q JOIN c ON c.cid = q.cid AND c.vec_id <> qid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM sc)
       |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank, sim
       |FROM r WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin
  }

  private val asofJoinSql =
    s"""WITH e AS (SELECT event_id, user_id, event_type, $sqlEpochUs AS us FROM events),
       |c AS (SELECT user_id, event_id AS click_id, us AS click_us FROM e
       |  WHERE event_type = 'click'),
       |v AS (SELECT user_id, us AS view_us, max(event_id) AS view_id FROM e
       |  WHERE event_type = 'view' GROUP BY 1, 2)
       |SELECT c.user_id, c.click_id, c.click_us, v.view_id,
       |  v.view_us AS view_id_ts
       |FROM c ASOF LEFT JOIN v
       |  ON c.user_id = v.user_id AND c.click_us >= v.view_us
       |ORDER BY click_id""".stripMargin

  // same ts IS NOT NULL rationale as windowSlidingSql below
  private val windowTumblingSql =
    s"""WITH e AS (SELECT $sqlEpochUs AS us, event_type, value FROM events
       |  WHERE ts IS NOT NULL),
       |g AS (SELECT (us//3600000000)*3600 AS win_s, event_type,
       |    count(*) AS cnt, SUM(CAST(value AS DECIMAL(18,4))) AS sd
       |  FROM e GROUP BY 1, 2)
       |SELECT ${sqlIsoFromS("win_s")} AS window_start, event_type,
       |  CAST(cnt AS BIGINT) AS cnt, CAST(sd AS DOUBLE) AS sum_value
       |FROM g ORDER BY 1, 2 NULLS FIRST""".stripMargin

  private val sessionizeSql =
    s"""WITH e AS (SELECT user_id, event_id, $sqlEpochUs AS us FROM events),
       |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS p FROM e),
       |n AS (SELECT *, CASE WHEN p IS NULL OR us - p > 1800000000 THEN 1 ELSE 0 END AS nw FROM l),
       |sx AS (SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
       |  ROWS UNBOUNDED PRECEDING) AS sess FROM n)
       |SELECT user_id, CAST(sess AS BIGINT) AS session_idx,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  min(us) AS start_us, max(us) AS end_us,
       |  (max(us) - min(us))//1000 AS duration_ms
       |FROM sx GROUP BY user_id, sess ORDER BY user_id, session_idx""".stripMargin

  private val multimodalMetaSql =
    """SELECT doc_id, 'text/plain' AS mime, CAST(strlen(text) AS BIGINT) AS octet_len,
      |  sha256(text) AS payload_sha256
      |FROM documents ORDER BY doc_id""".stripMargin

  // Rebuilds the synthetic BMP/WAV files byte-for-byte from the same per-doc
  // parameters (Multimodal.syntheticMedia's contract), then checks BOTH the
  // parsed header fields (vs the parameter formulas — validates the parser)
  // and md5 of the uppercase payload hex (vs its own byte construction —
  // validates the generator). leb(v) = one little-endian byte as hex.
  private val mediaDecodeSql = {
    def leb(v: String) = s"lpad(to_hex(($v) % 256), 2, '0')"
    s"""WITH m AS (SELECT doc_id, md5(text) AS h,
       |    doc_id % 31 + 1 AS w, doc_id % 17 + 1 AS ht,
       |    doc_id % 2 + 1 AS ch, 8000 + (doc_id % 8) * 1000 AS sr
       |  FROM documents),
       |x AS (SELECT doc_id, h, w, ht, ch, sr,
       |    sr * ch * 2 AS br, ch * 2 AS ba,
       |    (w*3 + 3 - (w*3 + 3) % 4) * ht AS pixb FROM m),
       |hx AS (SELECT doc_id, w, ht, ch, sr,
       |    CASE WHEN doc_id % 2 = 0 THEN
       |      '424d' || ${leb("pixb + 54")} || ${leb("(pixb + 54) // 256")} || '0000'
       |      || '00000000' || '36000000' || '28000000'
       |      || ${leb("w")} || '000000' || ${leb("ht")} || '000000'
       |      || '0100' || '1800' || '00000000'
       |      || ${leb("pixb")} || ${leb("pixb // 256")} || '0000'
       |      || '130b0000' || '130b0000' || '00000000' || '00000000'
       |      || rpad('', CAST(pixb * 2 AS INT), h)
       |    ELSE
       |      '52494646' || '34000000' || '57415645' || '666d7420'
       |      || '10000000' || '0100' || ${leb("ch")} || '00'
       |      || ${leb("sr")} || ${leb("sr // 256")} || '0000'
       |      || ${leb("br")} || ${leb("br // 256")} || '0000'
       |      || ${leb("ba")} || '00' || '1000' || '64617461' || '10000000' || h
       |    END AS hexstr
       |  FROM x)
       |SELECT doc_id,
       |  CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS mime,
       |  CAST(length(hexstr) // 2 AS BIGINT) AS octet_len,
       |  CAST(CASE WHEN doc_id % 2 = 0 THEN w ELSE 0 END AS INT) AS width,
       |  CAST(CASE WHEN doc_id % 2 = 0 THEN ht ELSE 0 END AS INT) AS height,
       |  CAST(CASE WHEN doc_id % 2 = 1 THEN sr ELSE 0 END AS INT) AS sample_rate,
       |  CAST(CASE WHEN doc_id % 2 = 1 THEN ch ELSE 0 END AS INT) AS channels,
       |  md5(upper(hexstr)) AS payload_hex_md5
       |FROM hx ORDER BY doc_id""".stripMargin
  }

  // dHash oracle: re-derive the BMP pixel array (the md5 filler tiled to
  // pixb bytes — headers are not needed because the Spark side's offset-54
  // reads land inside the same pixel bytes), then replay the 9x8 grid
  // sample + adjacent-comparison pack in portable SQL. Byte values parse
  // from the lowercase hex via the strpos digit-product idiom; halves pack
  // as Σ bit·2^(31−i) so no BIGINT overflow (DuckDB raises where the JVM
  // wraps).
  private val imagePhashCte = {
    val hexd = "'0123456789abcdef'"
    def pbyte(pos: String) =
      s"((strpos($hexd, substr(px, CAST(($pos)*2+1 AS INT), 1))-1)*16 + strpos($hexd, substr(px, CAST(($pos)*2+2 AS INT), 1))-1)"
    def bright(gx: String, gy: String) = {
      val off = s"(CAST(floor(($gy)*ht/8) AS BIGINT)*rowb + CAST(floor(($gx)*w/9) AS BIGINT)*3)"
      s"(${pbyte(off)} + ${pbyte(s"($off)+1")} + ${pbyte(s"($off)+2")})"
    }
    def half(base: Int) = {
      val bi = s"($base + i)"
      val gx = s"($bi % 8)"
      val gy = s"($bi // 8)"
      s"CAST(list_sum(list_transform(range(0, 32), i -> CASE WHEN ${bright(s"($gx)+1", gy)} > ${bright(gx, gy)} THEN CAST(pow(2, 31 - i) AS BIGINT) ELSE 0 END)) AS BIGINT)"
    }
    s"""m AS (SELECT doc_id, md5(text) AS h, doc_id % 31 + 1 AS w, doc_id % 17 + 1 AS ht FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
       |x AS (SELECT doc_id, w, ht, w*3 + 3 - (w*3 + 3) % 4 AS rowb, (w*3 + 3 - (w*3 + 3) % 4) * ht AS pixb, h FROM m),
       |p AS (SELECT doc_id, w, ht, rowb, rpad('', CAST(pixb * 2 AS INT), h) AS px FROM x),
       |ph AS (SELECT doc_id, ${half(0)} AS phash_hi, ${half(32)} AS phash_lo FROM p)""".stripMargin
  }

  private val imagePhashSql =
    s"""WITH $imagePhashCte
       |SELECT doc_id, phash_hi, phash_lo FROM ph ORDER BY doc_id""".stripMargin

  // the all-pairs oracle form is exhaustive by construction; the Spark
  // side's 4x16-bit banding is recall-exact for hamming <= 3 (pigeonhole),
  // so the two enumerate the same pairs
  private val imagePhashNeardupSql =
    s"""WITH $imagePhashCte
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.phash_hi, b.phash_hi)) + bit_count(xor(a.phash_lo, b.phash_lo)) AS INT) AS hamming
       |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash_hi, b.phash_hi)) + bit_count(xor(a.phash_lo, b.phash_lo)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  private val mediaFramesSql =
    """SELECT doc_id,
      |  CAST(ceil(octet_length(text::BLOB)/64.0) AS BIGINT) AS n_frames,
      |  md5(substring(text, 1, 64)) AS frame0_md5,
      |  CASE WHEN octet_length(text::BLOB) > 128
      |    THEN md5(substring(text, 129, 64)) END AS frame2_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  private val neardupCosineSql = {
    val sigExpr = Similarity.planes(8, 64).map { coefs =>
      val arr = coefs.map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(emb, $arr::DOUBLE[]) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT * FROM (SELECT vec_id, emb,
       |  sqrt(list_dot_product(emb, emb)) AS nrm,
       |  $sigExpr AS sig FROM e) WHERE nrm > 0),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    list_dot_product(a.emb, b.emb)/(a.nrm*b.nrm) AS cos
       |  FROM n a JOIN n b ON a.sig = b.sig AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.35
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  private val approxDistinctSql =
    """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS exact_types,
      |  true AS users_within_tol, true AS types_within_tol
      |FROM events""".stripMargin

  private val qCohortRetentionSql =
    s"""WITH e AS (SELECT user_id, $sqlEpochUs AS us FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |ud AS (SELECT DISTINCT user_id, CAST(floor(us / 86400000000) AS BIGINT) AS day FROM e),
       |c AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY 1)
       |SELECT cohort_day, day - cohort_day AS day_offset,
       |  CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS n_users
       |FROM ud JOIN c USING (user_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // the sketch-merge estimate is implementation-specific — the oracle
  // checks the EXACT counts and pins the tolerance booleans true, the
  // approx_distinct convention
  private val qSketchRollupSql =
    """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  true AS merged_within_tol
      |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val piiScrubSql = {
    // augmented text must rebuild byte-for-byte what withSyntheticPii emits
    val aug = "text || ' Contact user'||doc_id||'@example.com or +1-202-555-'" +
      "||lpad((doc_id%10000)::VARCHAR,4,'0')||' from 10.'||(doc_id%256)" +
      "||'.0.'||(doc_id%100)||' today'"
    // DuckDB single-quoted strings are escape-free, so the runtime pattern
    // strings (single backslashes) splice in verbatim
    val email = TextAnalysis.emailPattern
    val ip = TextAnalysis.ipv4Pattern
    val phone = TextAnalysis.phonePattern
    s"""WITH a AS (SELECT doc_id, $aug AS t0 FROM documents),
       |s1 AS (SELECT doc_id, t0, regexp_replace(t0, '$email', '<EMAIL>', 'g') AS t1 FROM a),
       |s2 AS (SELECT *, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM s1),
       |s3 AS (SELECT *, regexp_replace(t2, '$phone', '<PHONE>', 'g') AS t3 FROM s2)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t0, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t1, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(t2, '$phone')) AS BIGINT) AS n_phones,
       |  CAST(length(t3) AS BIGINT) AS scrubbed_len,
       |  md5(t3) AS scrubbed_md5
       |FROM s3 ORDER BY doc_id""".stripMargin
  }

  private val sampleStratifiedSql = {
    val h1 = "substr(md5(doc_id::VARCHAR),1,2)"
    val h2 = "substr(md5(doc_id::VARCHAR),3,2)"
    // mirror keepPredicate exactly, including its round(rate*256)>=256
    // always-keep short-circuit (hexThreshold clamps to 'ff', which would
    // wrongly drop md5 prefixes of 'ff' for rates that round to 256)
    val keep = mixRates.toSeq.sortBy(_._1).map { case (lang, rate) =>
      val cond =
        if (math.round(rate * 256) >= 256) "TRUE"
        else s"$h1 < '${Sampling.hexThreshold(rate)}'"
      s"WHEN '$lang' THEN $cond"
    }.mkString(" ")
    s"""WITH k AS (SELECT doc_id, lang FROM documents
       |  WHERE CASE lang $keep ELSE TRUE END)
       |SELECT doc_id, lang,
       |  CASE WHEN $h2 < '${Sampling.hexThreshold(0.8)}' THEN 'train'
       |       WHEN $h2 < '${Sampling.hexThreshold(0.9)}' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // DSIR replay: hashed unigram+bigram features, add-one-smoothed bucket
  // models over the 1024-bucket spine, per-doc c-weighted log-ratio sum.
  // The md5 prefix is parsed digit-by-digit (shardAssignSql's idiom).
  private val dsirCtes = {
    def hv(i: Int) = s"(strpos('0123456789abcdef', substr(h,$i,1))-1)"
    s"""w AS (SELECT doc_id, $duckWords AS ws FROM documents
       |  WHERE len(trim(text)) > 0),
       |g AS (
       |  SELECT doc_id, unnest(ws) AS g FROM w
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(generate_series(0, len(ws)-2),
       |    i -> array_to_string(ws[i+1:i+2], ' '))) AS g
       |  FROM w WHERE len(ws) >= 2),
       |f AS (SELECT doc_id,
       |    (${hv(1)}*4096 + ${hv(2)}*256 + ${hv(3)}*16 + ${hv(4)}) % 1024 AS bucket,
       |    count(*) AS c
       |  FROM (SELECT doc_id, md5(g) AS h FROM g) GROUP BY 1, 2),
       |q AS (SELECT bucket, sum(c) AS cq FROM f GROUP BY 1),
       |p AS (SELECT f.bucket, sum(f.c) AS cp FROM f
       |  JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
       |tot AS (SELECT (SELECT COALESCE(sum(cq), 0) FROM q) AS nq,
       |               (SELECT COALESCE(sum(cp), 0) FROM p) AS np),
       |spine AS (SELECT unnest(range(0, 1024)) AS bucket),
       |m AS (SELECT spine.bucket,
       |    ln((COALESCE(cp, 0) + 1.0) / (np + 1024.0))
       |      - ln((COALESCE(cq, 0) + 1.0) / (nq + 1024.0)) AS logratio
       |  FROM spine LEFT JOIN q USING (bucket) LEFT JOIN p USING (bucket)
       |  CROSS JOIN tot),
       |dw AS (SELECT f.doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |    sum(c * logratio) AS logw
       |  FROM f JOIN m USING (bucket) GROUP BY 1)""".stripMargin
  }

  private val dsirWeightsSql =
    s"""WITH $dsirCtes
       |SELECT doc_id, n_feats, logw FROM dw ORDER BY doc_id""".stripMargin

  private val dsirSampleSql = {
    def uv(i: Int) = s"(strpos('0123456789abcdef', substr(u,$i,1))-1)"
    val uval = (1 to 8).map(i => s"${uv(i)}*${math.pow(16, 8 - i).toLong}")
      .mkString(" + ")
    s"""WITH $dsirCtes,
       |s AS (SELECT doc_id, n_feats, logw,
       |    logw - ln(-ln((($uval) + 1.0) / 4294967298.0)) AS skey
       |  FROM (SELECT dw.*, md5(doc_id::VARCHAR) AS u FROM dw))
       |SELECT doc_id, n_feats, logw, skey
       |FROM s ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin
  }

  private val qCubeSql =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY 1, 2""".stripMargin

  private val qPercentilesSql =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  CAST(count(*) AS BIGINT) AS cnt
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  private val qMonthlyLagSql =
    """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT month, revenue,
      |  lag(revenue) OVER (ORDER BY month) AS prev_revenue
      |FROM m ORDER BY month""".stripMargin

  private val repetitionRatioSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |g AS (SELECT doc_id, list_transform(generate_series(0, len(ws)-2),
       |    i -> array_to_string(ws[i+1:i+2], ' ')) AS grams
       |  FROM w WHERE len(ws) >= 2),
       |t AS (SELECT doc_id, len(grams) AS ng,
       |    list_max(list_transform(list_distinct(grams),
       |      d -> len(list_filter(grams, x -> x = d)))) AS topc
       |  FROM g)
       |SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
       |  CAST(topc AS BIGINT) AS top_count,
       |  CAST(topc AS DOUBLE)/ng AS rep_ratio
       |FROM t ORDER BY doc_id""".stripMargin

  private val rangeJoinSql =
    """SELECT n_nationkey, n_nationkey*20.0 AS lo, n_nationkey*20.0+30.0 AS hi,
      |  CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM nation JOIN events
      |  ON value >= n_nationkey*20.0 AND value < n_nationkey*20.0+30.0
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  private val seqPackSql =
    s"""WITH t AS (SELECT doc_id, doc_id % 8 AS bucket,
       |    len(regexp_extract_all(text, '${TextAnalysis.tokenPattern}')) AS n_tokens
       |  FROM documents),
       |o AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket
       |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM t)
       |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       |  CAST(n_tokens AS BIGINT) AS n_tokens, CAST(off AS BIGINT) AS offset,
       |  CAST((off//256)*8 + bucket AS BIGINT) AS bin
       |FROM o ORDER BY doc_id""".stripMargin

  private val dedupApplySql =
    s"WITH RECURSIVE $minhashSigCtes,\n" +
    s"""e AS (SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM sigb a JOIN sigb b
       |  ON (a.b0 = b.b0 OR a.b1 = b.b1) AND a.doc_id < b.doc_id),
       |sym AS (SELECT da AS a, db AS b FROM e UNION ALL SELECT db, da FROM e),
       |r(id, rc) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.id, sym.b FROM r JOIN sym ON sym.a = r.rc),
       |reps AS (SELECT id FROM r GROUP BY id HAVING min(rc) = id)
       |SELECT lang, CAST(count(*) AS BIGINT) AS kept_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars
       |FROM documents JOIN reps ON doc_id = reps.id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // same recursive-CC chain as dedupApplySql, but the kept member is the
  // per-cluster argmax on (n_chars DESC, doc_id ASC) — mirrors
  // Dedup.bestPerCluster's encoded max exactly
  private val dedupApplyBestSql =
    s"WITH RECURSIVE $minhashSigCtes,\n" +
    s"""e AS (SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM sigb a JOIN sigb b
       |  ON (a.b0 = b.b0 OR a.b1 = b.b1) AND a.doc_id < b.doc_id),
       |sym AS (SELECT da AS a, db AS b FROM e UNION ALL SELECT db, da FROM e),
       |r(id, rc) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.id, sym.b FROM r JOIN sym ON sym.a = r.rc),
       |cl AS (SELECT id, min(rc) AS cluster_id FROM r GROUP BY id),
       |best AS (SELECT doc_id FROM (
       |  SELECT d.doc_id, row_number() OVER (PARTITION BY cl.cluster_id
       |    ORDER BY d.n_chars DESC, d.doc_id) AS rn
       |  FROM cl JOIN documents d ON d.doc_id = cl.id) WHERE rn = 1)
       |SELECT lang, CAST(count(*) AS BIGINT) AS kept_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars
       |FROM documents JOIN best USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private val lmUnigramSql =
    s"""WITH t AS (SELECT doc_id, unnest($duckWords) AS tok FROM documents),
       |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  avg(ln(CAST(cnt AS DOUBLE) / n.n)) AS avg_logprob
       |FROM t JOIN c USING (tok) CROSS JOIN n
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // Bigram replay: parallel unnest of the two shifted word-list slices
  // zips (w1, w2) rows; head-position counts make the conditional proper.
  private val lmBigramSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |b AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1,
       |    unnest(ws[2:len(ws)]) AS w2 FROM w WHERE len(ws) >= 2),
       |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS cnt1 FROM b GROUP BY 1)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  avg(ln(CAST(c12 AS DOUBLE) / cnt1)) AS avg_logprob
       |FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The bigram-LM CTE chain (same as lmBigramSql) extended with CCNet
    * bucketing: fixed-point the score to a 1e-4 grid (integer compares
    * from here on), md5-nibble sample, per-language tercile thresholds
    * as order statistics, threshold-compare buckets. `//` is DuckDB
    * integer division — floor, matching Spark's `div` on positives. */
  private val ccnetBucketsSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |b AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1,
       |    unnest(ws[2:len(ws)]) AS w2 FROM w WHERE len(ws) >= 2),
       |c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
       |c1 AS (SELECT w1, count(*) AS cnt1 FROM b GROUP BY 1),
       |s AS (SELECT doc_id, avg(ln(CAST(c12 AS DOUBLE) / cnt1)) AS avg_logprob
       |  FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY doc_id),
       |sc AS (SELECT s.doc_id, d.lang,
       |    CAST(round(avg_logprob * 1e4) AS BIGINT) AS score_fp
       |  FROM s JOIN documents d USING (doc_id)),
       |sm AS (SELECT lang, score_fp, doc_id FROM sc
       |  WHERE substr(md5(doc_id::VARCHAR),1,1) = '0'),
       |r AS (SELECT lang, score_fp,
       |    row_number() OVER (PARTITION BY lang ORDER BY score_fp DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS m FROM sm),
       |th AS (SELECT lang, max(CASE WHEN rn = (m+2)//3 THEN score_fp END) AS t1,
       |    max(CASE WHEN rn = (m*2+2)//3 THEN score_fp END) AS t2
       |  FROM r GROUP BY lang)
       |SELECT sc.doc_id, sc.lang,
       |  CASE WHEN t1 IS NULL OR score_fp >= t1 THEN 'head'
       |    WHEN t2 IS NULL OR score_fp >= t2 THEN 'middle'
       |    ELSE 'tail' END AS bucket
       |FROM sc LEFT JOIN th USING (lang) ORDER BY sc.doc_id""".stripMargin

  private val qMergeUpsertSql =
    s"""WITH e AS (SELECT user_id, event_type, event_id, value,
       |    $sqlEpochUs AS epoch_us FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
       |      ORDER BY epoch_us DESC, event_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
       |  FROM e)
       |SELECT user_id, event_type, event_id AS last_event_id,
       |  epoch_us AS last_epoch_us, value AS last_value,
       |  CAST(n_versions AS BIGINT) AS n_versions
       |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  // Q8-shaped market share: same join graph and decimal-until-the-end
  // volume; the share is one double division on both engines.
  private val qMarketShareSql =
    """WITH j AS (
      |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
      |    n1.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'),
      |a AS (SELECT o_year, sum(volume) AS t,
      |    sum(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END) AS nv
      |  FROM j GROUP BY 1)
      |SELECT o_year, CAST(nv AS DOUBLE)/CAST(t AS DOUBLE) AS mkt_share,
      |  CAST(t AS DOUBLE) AS total_volume, CAST(nv AS DOUBLE) AS nation_volume
      |FROM a ORDER BY o_year""".stripMargin

  private val qMergeTombstoneSql =
    s"""WITH e AS (SELECT user_id, event_type, event_id, value,
       |    (value < 10.0) AS is_del, $sqlEpochUs AS epoch_us FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_id IS NOT NULL AND event_type IS NOT NULL),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
       |      ORDER BY epoch_us DESC, event_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY user_id, event_type) AS n_versions,
       |    sum(CASE WHEN is_del THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id, event_type) AS n_deletes
       |  FROM e)
       |SELECT user_id, event_type, event_id AS last_event_id,
       |  epoch_us AS last_epoch_us, value AS last_value,
       |  is_del AS is_deleted, CAST(n_versions AS BIGINT) AS n_versions,
       |  CAST(n_deletes AS BIGINT) AS n_deletes
       |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  private val qScd2Sql =
    s"""WITH e AS (SELECT user_id, event_type, event_id, value,
       |    $sqlEpochUs AS epoch_us FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_id IS NOT NULL AND event_type IS NOT NULL)
       |SELECT user_id, event_type, event_id, value,
       |  epoch_us AS valid_from_us,
       |  lead(epoch_us) OVER (PARTITION BY user_id, event_type
       |    ORDER BY epoch_us, event_id) AS valid_to_us,
       |  lead(epoch_us) OVER (PARTITION BY user_id, event_type
       |    ORDER BY epoch_us, event_id) IS NULL AS is_current
       |FROM e ORDER BY user_id, event_type, valid_from_us, event_id""".stripMargin

  /** BPE replay: the same double-separator symbol-stream encoding as
    * TextAnalysis.bpeFit (chr(31) boundaries, plain replace = greedy
    * merge), unrolled to a flat CTE chain — one (pair-count → argmax →
    * merge) block per round. LEFT JOIN ON TRUE keeps the chain total
    * when a round finds no pair (mirrors the Scala early-stop). */
  private def duckBpeCtes(rounds: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String](
      s"w0 AS (SELECT unnest($duckWords) AS wd FROM documents)",
      "d0 AS (SELECT wd, CAST(count(*) AS BIGINT) AS freq, " +
        "chr(31) || regexp_replace(wd, '(?s)(.)', chr(31)||'\\1'||chr(31), 'g') || chr(31) AS seg " +
        "FROM w0 WHERE wd <> '' AND strpos(wd, chr(31)) = 0 GROUP BY wd)")
    for (r <- 0 until rounds) {
      parts += s"p$r AS (SELECT freq, unnest(ls[1:len(ls)-1]) AS lhs, " +
        s"unnest(ls[2:len(ls)]) AS rhs FROM (SELECT freq, " +
        s"list_filter(string_split(seg, chr(31)||chr(31)), x -> x <> '') AS ls " +
        s"FROM d$r) WHERE len(ls) >= 2)"
      parts += s"m$r AS (SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS cnt " +
        s"FROM p$r GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
      parts += s"d${r + 1} AS (SELECT wd, freq, CASE WHEN m.lhs IS NULL THEN seg " +
        s"ELSE replace(seg, chr(31)||m.lhs||chr(31)||chr(31)||m.rhs||chr(31), " +
        s"chr(31)||m.lhs||m.rhs||chr(31)) END AS seg FROM d$r LEFT JOIN m$r m ON TRUE)"
    }
    parts.mkString(",\n")
  }

  private val bpeRounds = 6

  private val bpeTrainSql = {
    val rows = (0 until bpeRounds).map(r =>
      s"SELECT $r AS round, lhs, rhs, cnt AS freq FROM m$r")
    s"WITH ${duckBpeCtes(bpeRounds)}\n" +
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY round")
  }

  private val bpeEncodeSql =
    s"""WITH ${duckBpeCtes(bpeRounds)},
       |tw AS (SELECT wd, CAST(len(list_filter(string_split(seg, chr(31)||chr(31)),
       |    x -> x <> '')) AS BIGINT) AS nt FROM d$bpeRounds),
       |dt AS (SELECT doc_id, unnest($duckWords) AS wd FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(SUM(nt) AS BIGINT) AS n_tokens
       |FROM dt JOIN tw USING (wd) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** PageRank replay: integer fixed-point (rank·10⁶, damping as the exact
    * rational 85/100, `//` floor division), unrolled one (contribution →
    * rank) CTE pair per round — Graph.pageRank's compile-time iters. */
  /** The fixed-point PageRank unroll (Graph.pageRank's exact integer
    * semantics) over whatever CTE named `e(src, dst)` the caller
    * splices upstream — one definition for the co-purchase graph and
    * the link-layer host graph. */
  /** The unroll's CTE body alone (ends at `r$iters (node, pr, odeg)`)
    * — splicable into larger chains (round 20: the authority-weighted
    * frontier consumes the rank mid-query). */
  private def pageRankIterCtes(iters: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String](
      "n AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
      "od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS odeg FROM e GROUP BY 1)",
      "r0 AS (SELECT n.node, CAST(1000000 AS BIGINT) AS pr, " +
        "COALESCE(od.odeg, 0) AS odeg FROM n LEFT JOIN od USING (node))")
    for (i <- 0 until iters) {
      parts += s"c$i AS (SELECT e.dst AS node, SUM(r.pr // r.odeg) AS insum " +
        s"FROM e JOIN r$i r ON r.node = e.src WHERE r.odeg > 0 GROUP BY 1)"
      parts += s"r${i + 1} AS (SELECT r.node, " +
        s"CAST(150000 + (85 * COALESCE(c.insum, 0)) // 100 AS BIGINT) AS pr, " +
        s"r.odeg FROM r$i r LEFT JOIN c$i c USING (node))"
    }
    parts.mkString(",\n")
  }

  private def pageRankIterSql(iters: Int): String =
    s"${pageRankIterCtes(iters)}\nSELECT node, pr FROM r$iters ORDER BY node"

  private val pageRankSql =
    "WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk, l_linenumber AS ln FROM lineitem),\n" +
      "e AS (SELECT a.pk AS src, b.pk AS dst FROM li a JOIN li b " +
      "ON a.ok = b.ok AND a.ln < b.ln AND a.pk <> b.pk),\n" +
      pageRankIterSql(3)

  // plain concatenation — re-stripMargin over the spliced (already-stripped)
  // SQL bodies would eat their `||` concat operators
  private val knnRecallSql =
    "SELECT b.query_id,\n" +
    "  CAST(count(l.neighbor_id) AS DOUBLE)/count(*) AS recall_at_5\n" +
    s"FROM ($knnBruteSql) b\n" +
    s"LEFT JOIN ($knnLshProbeSql) l\n" +
    "  ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id\n" +
    "GROUP BY 1 ORDER BY 1"

  // recall@5 of the compressed-domain (PQ/ADC) ranking vs exact cosine —
  // the eval every ANN deployment runs before trusting an index; note PQ
  // ranks by quantized L2 while brute ranks by cosine, so this measures the
  // whole approximation stack (int8 quantization + codebooks + metric gap)
  // lazy: interpolates knnPqSql, which is declared LATER in this file — an
  // eager val here would capture null at class-init time
  private lazy val knnPqRecallSql =
    "SELECT b.query_id,\n" +
    "  CAST(count(p.vec_id) AS DOUBLE)/count(*) AS recall_at_5\n" +
    s"FROM ($knnBruteSql) b\n" +
    s"LEFT JOIN ($knnPqSql) p\n" +
    "  ON p.query_id = b.query_id AND p.vec_id = b.neighbor_id\n" +
    "GROUP BY 1 ORDER BY 1"

  private val qMovingAvgSql =
    """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT month, revenue,
      |  avg(revenue) OVER (ORDER BY month
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mavg3
      |FROM m ORDER BY month""".stripMargin

  private val simhashNeardupSql = {
    val bitsExpr = (0 until 32).map { k =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN " +
      s"strpos('0123456789abcdef', substr(h, ${k + 1}, 1)) % 2 = 1 " +
      s"THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    // base-2 string -> BIGINT, mirroring Spark's conv(simhash, 2, 10)
    val sigNum = (1 to 32).map(i =>
      s"(CASE WHEN substr(sh,$i,1)='1' THEN ${1L << (32 - i)} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id,
       |  list_transform($duckWords, x -> md5(x)) AS hs FROM documents),
       |s AS (SELECT doc_id, $bitsExpr AS sh FROM w),
       |sb AS (SELECT doc_id, CAST($sigNum AS BIGINT) AS sg,
       |  substr(sh,1,8) AS b0, substr(sh,9,8) AS b1,
       |  substr(sh,17,8) AS b2, substr(sh,25,8) AS b3 FROM s),
       |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.sg, b.sg)) AS hd
       |  FROM sb a JOIN sb b
       |  ON (a.b0=b.b0 OR a.b1=b.b1 OR a.b2=b.b2 OR a.b3=b.b3)
       |    AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(hd AS BIGINT) AS hamming
       |FROM p WHERE hd <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  private val tfidfSql =
    s"""WITH tok AS (SELECT doc_id, unnest($duckWords) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (SELECT doc_id, term, tf, df,
       |    tf * CAST(n_docs + 1 AS DOUBLE) / (df + 1) AS score
       |  FROM tf JOIN dft USING (term) CROSS JOIN n),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term) AS rank FROM sc)
       |SELECT doc_id, CAST(rank AS INT) AS rank, term,
       |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
       |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // BM25 replay: inverted index restricted to query terms, Lucene "+1"
  // idf, per-term scores quantized to DECIMAL(28,12) before the
  // per-(query, doc) sum — exact, order-independent addition, so the
  // rank order (ties by doc_id) matches the Spark side bit for bit.
  private val bm25Sql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |base AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 1),
       |qd AS (SELECT doc_id AS query_id, unnest(list_distinct(ws[1:8])) AS term
       |  FROM base WHERE doc_id % 17 = 3 AND doc_id < 544),
       |corp AS (SELECT doc_id, ws, len(ws) AS dl FROM base WHERE NOT (doc_id % 17 = 3 AND doc_id < 544)),
       |post AS (SELECT doc_id, dl, unnest(ws) AS term FROM corp),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM post GROUP BY 1, 2, 3),
       |qt AS (SELECT DISTINCT term FROM qd),
       |rp AS (SELECT tf.* FROM tf JOIN qt USING (term)),
       |dfq AS (SELECT term, count(*) AS df FROM rp GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM corp),
       |sc AS (SELECT qd.query_id, rp.doc_id,
       |    CAST(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) *
       |      rp.tf*(1.2+1)/(rp.tf + 1.2*(1 - 0.75 + 0.75*rp.dl/avgdl)) AS DECIMAL(28,12)) AS s
       |  FROM rp JOIN qd USING (term) JOIN dfq USING (term) CROSS JOIN stats),
       |agg AS (SELECT query_id, doc_id, SUM(s) AS sd FROM sc GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, sd,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, doc_id) AS rank FROM agg)
       |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, CAST(sd AS DOUBLE) AS score
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // Hybrid retrieval: the bm25Sql pipeline (leg depth 20) full-outer-joined
  // with a dense cosine leg over embeddings (same eval ids), fused as
  // 1/(60+rank) RRF. The rrf double is a fixed two-term sum of exact
  // 1/(60+int) divisions — bit-identical across engines; ties break on
  // doc_id in both.
  private val hybridRrfSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |base AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 1),
       |qd AS (SELECT doc_id AS query_id, unnest(list_distinct(ws[1:8])) AS term
       |  FROM base WHERE doc_id % 17 = 3 AND doc_id < 544),
       |corp AS (SELECT doc_id, ws, len(ws) AS dl FROM base WHERE NOT (doc_id % 17 = 3 AND doc_id < 544)),
       |post AS (SELECT doc_id, dl, unnest(ws) AS term FROM corp),
       |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM post GROUP BY 1, 2, 3),
       |qt AS (SELECT DISTINCT term FROM qd),
       |rp AS (SELECT tf.* FROM tf JOIN qt USING (term)),
       |dfq AS (SELECT term, count(*) AS df FROM rp GROUP BY 1),
       |stats AS (SELECT count(*) AS n_docs, CAST(SUM(dl) AS DOUBLE)/count(*) AS avgdl FROM corp),
       |sc AS (SELECT qd.query_id, rp.doc_id,
       |    CAST(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) *
       |      rp.tf*(1.2+1)/(rp.tf + 1.2*(1 - 0.75 + 0.75*rp.dl/avgdl)) AS DECIMAL(28,12)) AS s
       |  FROM rp JOIN qd USING (term) JOIN dfq USING (term) CROSS JOIN stats),
       |agg AS (SELECT query_id, doc_id, SUM(s) AS sd FROM sc GROUP BY 1, 2),
       |lex0 AS (SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sd DESC, doc_id) AS lex_rank FROM agg),
       |lr AS (SELECT * FROM lex0 WHERE lex_rank <= 20),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT * FROM (SELECT vec_id, emb,
       |  sqrt(list_dot_product(emb, emb)) AS nrm FROM e) WHERE nrm > 0),
       |dq AS (SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm FROM n
       |  WHERE vec_id % 17 = 3 AND vec_id < 544),
       |dcand AS (SELECT * FROM n WHERE NOT (vec_id % 17 = 3 AND vec_id < 544)),
       |ds AS (SELECT qid AS query_id, dcand.vec_id AS doc_id,
       |    list_dot_product(qemb, emb)/(qnrm*nrm) AS sim FROM dq JOIN dcand ON true),
       |dr0 AS (SELECT query_id, doc_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, doc_id) AS dense_rank FROM ds),
       |dr AS (SELECT * FROM dr0 WHERE dense_rank <= 20),
       |f AS (SELECT COALESCE(lr.query_id, dr.query_id) AS query_id,
       |    COALESCE(lr.doc_id, dr.doc_id) AS doc_id, lr.lex_rank, dr.dense_rank,
       |    COALESCE(CAST(1.0 AS DOUBLE)/(CAST(60.0 AS DOUBLE) + CAST(lr.lex_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
       |      + COALESCE(CAST(1.0 AS DOUBLE)/(CAST(60.0 AS DOUBLE) + CAST(dr.dense_rank AS DOUBLE)), CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM lr FULL OUTER JOIN dr ON lr.query_id = dr.query_id AND lr.doc_id = dr.doc_id),
       |r AS (SELECT query_id, doc_id, rrf, lex_rank, dense_rank,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank FROM f)
       |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, CAST(rrf AS DOUBLE) AS rrf_score,
       |  CAST(COALESCE(lex_rank, 0) AS INT) AS lex_rank,
       |  CAST(COALESCE(dense_rank, 0) AS INT) AS dense_rank
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // The synthetic crawl both html_* oracles replay — identical string
  // construction to rawHtmlFrame (DuckDB list slicing is 1-based
  // inclusive and clamps, matching Spark's slice), then the same
  // strip/segment/filter pipeline in RE2 regexes. Shared single-line CTE
  // fragment (see the declaration-order gotcha).
  private val rawHtmlDuck =
    """raw AS (SELECT doc_id, '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title><script type="text/javascript">var n = 1 && 2; console.log("<p>");</script><style>.nav { color: red; }</style></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || COALESCE(array_to_string(ws[1:10], ' '), '') || '.' || '</p><div class="nav">Home | About | Contact</div><p>' || COALESCE(array_to_string(ws[11:18], ' '), '') || '</p><p>' || COALESCE(array_to_string(ws[19:30], ' '), '') || ' &amp; more &lt;b&gt; &quot;q&quot;!' || '</p><br/></body></html>' AS html FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text IS NOT NULL))"""

  private val htmlKeptDuck =
    """s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script\b[^>]*>.*?</script>', '', 'g') AS h FROM raw),
      |s2 AS (SELECT doc_id, regexp_replace(h, '(?is)<style\b[^>]*>.*?</style>', '', 'g') AS h FROM s1),
      |s3 AS (SELECT doc_id, regexp_replace(h, '(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/title)\b[^>]*>', chr(10), 'g') AS h FROM s2),
      |s4 AS (SELECT doc_id, regexp_replace(h, '<[^>]*>', '', 'g') AS h FROM s3),
      |ent AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(h, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS h FROM s4),
      |ln AS (SELECT doc_id, list_filter(list_transform(string_split(h, chr(10)), l -> trim(regexp_replace(l, '\s+', ' ', 'g'))), l -> l <> '') AS lines FROM ent),
      |kp AS (SELECT doc_id, lines, list_filter(lines, l -> regexp_matches(l, '[.!?"]$') AND len(string_split(l, ' ')) >= 3) AS kept FROM ln)""".stripMargin

  private val htmlExtractSql =
    s"""WITH $rawHtmlDuck,
       |$htmlKeptDuck
       |SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
       |  CAST(len(kept) AS INT) AS n_kept,
       |  array_to_string(kept, chr(10)) AS text_clean
       |FROM kp ORDER BY doc_id""".stripMargin

  private val htmlParagraphsSql =
    s"""WITH $rawHtmlDuck,
       |$htmlKeptDuck
       |SELECT doc_id, CAST(unnest(range(1, len(kept) + 1)) AS INT) AS para_id,
       |  unnest(kept) AS para
       |FROM kp ORDER BY doc_id, para_id""".stripMargin

  // the C4 page gate over the same raw-html CTE: kept lines also exclude
  // 'javascript' (line rule); page reasons are containment checks over the
  // newline-joined lowercased clean text
  private val c4PageFilterSql =
    s"""WITH $rawHtmlDuck,
       |$htmlKeptDuck,
       |k2 AS (SELECT doc_id, lines,
       |  list_filter(kept, l -> NOT contains(lower(l), 'javascript')) AS kept2,
       |  lower(array_to_string(lines, chr(10))) AS tl FROM kp),
       |r AS (SELECT doc_id, concat_ws(',',
       |  CASE WHEN contains(tl, 'lorem ipsum') THEN 'lorem_ipsum' END,
       |  CASE WHEN contains(tl, '{') THEN 'curly_brace' END,
       |  CASE WHEN contains(tl, 'vector') OR contains(tl, 'spark') THEN 'blocklist' END,
       |  CASE WHEN len(kept2) < 2 THEN 'too_few_sentences' END) AS fail_reasons,
       |  CAST(len(kept2) AS INT) AS n_kept_lines FROM k2)
       |SELECT doc_id, fail_reasons = '' AS keep, fail_reasons, n_kept_lines
       |FROM r ORDER BY doc_id""".stripMargin

  // the end-to-end crawl pipeline oracle: URL gate (scheme + domain
  // blocklist, the round-14 front end) + page gate + extraction +
  // top-2-gram repetition gate over the EXTRACTED words + md5
  // first-occurrence among full-gate passers. LAZY: splices the URL CTE
  // chain declared later in the file (the val-init-order gotcha).
  private lazy val crawlCurateE2eSql =
    s"""WITH $rawHtmlDuck,
       |$htmlKeptDuck,
       |k2 AS (SELECT doc_id, lines, list_filter(kept, l -> NOT contains(lower(l), 'javascript')) AS kept2,
       |  lower(array_to_string(lines, chr(10))) AS tl, array_to_string(kept, chr(10)) AS text_clean FROM kp),
       |pg AS (SELECT doc_id, text_clean, (NOT contains(tl, 'lorem ipsum')) AND (NOT contains(tl, '{')) AND (NOT contains(tl, 'vector')) AND len(kept2) >= 2 AS page_keep FROM k2),
       |tw AS (SELECT doc_id, text_clean, page_keep, string_split_regex(trim(text_clean), '\\s+') AS cws FROM pg),
       |gg AS (SELECT *, CASE WHEN len(cws) >= 2 THEN list_transform(range(0, len(cws) - 1), i -> array_to_string(cws[CAST(i+1 AS INT):CAST(i+2 AS INT)], ' ')) ELSE [] END AS grams FROM tw),
       |gm AS (SELECT *, CASE WHEN len(grams) > 0 THEN list_max(list_transform(list_distinct(grams), g -> len(list_filter(grams, x -> x = g)))) END AS cmax FROM gg),
       |gt AS (SELECT * EXCLUDE (grams, cmax), CASE WHEN len(grams) > 0 THEN CAST(cmax AS DOUBLE) * list_max(list_transform(list_filter(list_distinct(grams), g -> len(list_filter(grams, x -> x = g)) = cmax), g -> length(g))) / greatest(length(array_to_string(cws, ' ')), 1) ELSE 0.0 END AS top2 FROM gm),
       |""".stripMargin +
    // the html chain owns s1..s4; prefix the URL chain's s1..s6 (CTE
    // names only — no other bare s<digit> token exists in the chain)
    urlChainCtes.replaceAll("\\bs([1-6])\\b", "us$1") + ",\n" +
    urlGateCte + ",\n" + robotsCtes + ",\n" +
    // round 19: every 7th doc's injected rel=canonical declaration —
    // https://<domain>/c/<doc%13>, regenerated from the gate chain's
    // registrable domain (the Spark side extracts it with the real
    // relCanonical path)
    "dcl AS (SELECT doc_id, 'https://' || domain || '/c/' || (doc_id%13) " +
    "AS canonical_canon FROM ug WHERE doc_id%7 = 0),\n" +
    // round 20 (r19 verdict #8): the endorsement aggregate — the
    // syntheticEndorseLinks fixture regenerated (one follow link per
    // non-head doc at its block head, nofollow on doc%4=0), counted
    // per the HEAD's canonical URL; probed on each page's own canon
    "eel AS (SELECT doc_id - doc_id%10 AS tgt, doc_id%4 = 0 AS nof " +
    "FROM documents WHERE doc_id%10 <> 0),\n" +
    "eea AS (SELECT d2.url_canon AS ukey, CAST(count(*) AS BIGINT) AS nf " +
    "FROM eel JOIN d d2 ON d2.doc_id = eel.tgt WHERE NOT nof GROUP BY 1),\n" +
    // round 16: the dedup hash normalizes first — normSqlOf is the
    // DuckDB replay of TextAnalysis.normalizeExpr (single-line splice)
    s"j AS (SELECT gt.doc_id, ug.scheme_ok AND ug.domain_ok AS url_ok, rg.robots_ok, gt.page_keep, top2 <= 0.2 AS rep_ok, dcl.canonical_canon IS NOT NULL AS declared, COALESCE(dcl.canonical_canon, ug.url_canon) AS dedup_key, md5(${normSqlOf("text_clean")}) AS h, COALESCE(eea.nf, 0) >= 3 AS endorsed FROM gt JOIN ug ON gt.doc_id = ug.doc_id JOIN rg ON gt.doc_id = rg.doc_id LEFT JOIN dcl ON gt.doc_id = dcl.doc_id LEFT JOIN eea ON eea.ukey = ug.url_canon),\n" +
    // eligible = admission gates absolute, content gates OR the
    // endorsement rescue (round 20); dedup stages unchanged — rescued
    // pages enter the same two windows
    """j2 AS (SELECT *, url_ok AND robots_ok AND
      |  ((page_keep AND rep_ok) OR endorsed) AS eligible FROM j),
      |pc AS (SELECT doc_id, h, row_number() OVER (PARTITION BY dedup_key ORDER BY doc_id) AS crn FROM j2 WHERE eligible),
      |p AS (SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM pc WHERE crn = 1)
      |SELECT j2.doc_id, j2.url_ok, j2.robots_ok, j2.page_keep, j2.rep_ok, j2.declared,
      |  j2.eligible AND NOT (j2.page_keep AND j2.rep_ok) AS rescued,
      |  COALESCE(pc.crn = 1, false) AS canon_first,
      |  COALESCE(p.rn = 1, false) AS dedup_first,
      |  j2.eligible AND COALESCE(p.rn = 1, false) AS final_keep
      |FROM j2 LEFT JOIN pc ON j2.doc_id = pc.doc_id
      |  LEFT JOIN p ON j2.doc_id = p.doc_id ORDER BY j2.doc_id""".stripMargin


  // Zone-map pruning comparison: same grid/interleave arithmetic as
  // layout_zorder, plus the x-only bucketing; a bucket is "read" when its
  // (x, y) extent intersects the fixed box.
  private val zonemapPruneSql = {
    val read = "x0 <= 32767 AND x1 >= 16384 AND y0 <= 32767 AND y1 >= 16384"
    def leg(name: String, bcol: String) =
      s"""SELECT '$name' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(sum(CASE WHEN $read THEN 1 ELSE 0 END) AS BIGINT) AS buckets_read,
         |  CAST(sum(CASE WHEN $read THEN rows_all ELSE 0 END) AS BIGINT) AS rows_read,
         |  CAST(sum(rows_match) AS BIGINT) AS rows_match
         |FROM (SELECT $bcol AS b, min(xs) AS x0, max(xs) AS x1,
         |    min(ys) AS y0, max(ys) AS y1, count(*) AS rows_all,
         |    sum(CASE WHEN inbox THEN 1 ELSE 0 END) AS rows_match
         |  FROM zx GROUP BY 1)""".stripMargin
    s"""WITH ev AS (SELECT user_id, $sqlEpochS AS es FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |st AS (SELECT min(user_id) AS minx, max(user_id) AS maxx,
       |  min(es) AS miny, max(es) AS maxy FROM ev),
       |g AS (SELECT
       |    ((user_id - minx) * 65535) // greatest(maxx - minx, 1) AS xs,
       |    ((es - miny) * 65535) // greatest(maxy - miny, 1) AS ys
       |  FROM ev CROSS JOIN st),
       |zx AS (SELECT xs, ys, ($zMortonSumSql) >> 26 AS zbucket,
       |    xs >> 10 AS xbucket,
       |    (xs BETWEEN 16384 AND 32767 AND ys BETWEEN 16384 AND 32767) AS inbox
       |  FROM g)
       |${leg("zorder", "zbucket")}
       |UNION ALL
       |${leg("xsort", "xbucket")}
       |ORDER BY layout""".stripMargin
  }

  // Ordered funnel: each step's earliest time strictly after the previous
  // step's earliest time, stated as chained per-user aggregations.
  private val qFunnelSql =
    s"""WITH ev AS (SELECT user_id, event_type, $sqlEpochUs AS e FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |s1 AS (SELECT user_id,
       |    min(CASE WHEN event_type='view' THEN e END) AS t1 FROM ev GROUP BY 1),
       |s2 AS (SELECT ev.user_id,
       |    min(CASE WHEN ev.event_type='click' AND ev.e > s1.t1 THEN ev.e END) AS t2
       |  FROM ev JOIN s1 ON ev.user_id = s1.user_id GROUP BY 1),
       |s3 AS (SELECT ev.user_id,
       |    min(CASE WHEN ev.event_type='purchase' AND ev.e > s2.t2 THEN ev.e END) AS t3
       |  FROM ev JOIN s2 ON ev.user_id = s2.user_id GROUP BY 1)
       |SELECT CAST(count(s1.t1) AS BIGINT) AS users_s1,
       |  CAST(count(s2.t2) AS BIGINT) AS users_s2,
       |  CAST(count(s3.t3) AS BIGINT) AS users_s3
       |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
       |  LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin

  // Exact column profile: one UNION ALL branch per column over the same
  // canonical-string projection the Spark melt uses; mode tie-break is
  // (count DESC, value ASC) in both engines.
  private val profileTableSql = {
    val cols = Seq(
      "o_orderkey" -> "CAST(o_orderkey AS VARCHAR)",
      "o_custkey" -> "CAST(o_custkey AS VARCHAR)",
      "o_orderstatus" -> "CAST(o_orderstatus AS VARCHAR)",
      "o_totalprice" -> "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)",
      "o_orderdate" -> "CAST(o_orderdate AS VARCHAR)",
      "o_orderpriority" -> "CAST(o_orderpriority AS VARCHAR)")
    // LEFT JOIN (not CROSS): an all-NULL column's mode subquery is empty,
    // and a cross join would erase that column's entire stats row where
    // the Spark side emits (n, n_nonnull=0, ndv=0, null, 0)
    cols.map { case (name, ex) =>
      s"""SELECT '$name' AS col_name, n, n_nonnull, ndv, top_val,
         |   COALESCE(top_n, 0) AS top_n FROM
         | (SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(v) AS BIGINT) AS n_nonnull,
         |    CAST(count(DISTINCT v) AS BIGINT) AS ndv FROM (SELECT $ex AS v FROM orders))
         | LEFT JOIN (SELECT v AS top_val, CAST(cn AS BIGINT) AS top_n FROM
         |   (SELECT v, count(*) AS cn FROM (SELECT $ex AS v FROM orders)
         |    WHERE v IS NOT NULL GROUP BY 1 ORDER BY cn DESC, v LIMIT 1)) ON TRUE""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // Sorted-neighborhood edit-distance join: the oracle states the
  // semantics with a plain global window + bounded-offset join; the Spark
  // side reaches the identical pair set through range-bucketed sequence
  // numbers and an equi-join.
  private val snmEditDistSql =
    """WITH c AS (SELECT c_custkey, c_name,
      |    try_cast(substr(c_name, 10, 9) AS BIGINT) AS sk FROM customer
      |  WHERE try_cast(substr(c_name, 10, 9) AS BIGINT) IS NOT NULL),
      |s AS (SELECT c_custkey, c_name,
      |    row_number() OVER (ORDER BY sk, c_custkey) AS seq FROM c),
      |p AS (SELECT a.c_custkey AS l_id, a.c_name AS l_str,
      |    b.c_custkey AS r_id, b.c_name AS r_str,
      |    levenshtein(a.c_name, b.c_name) AS dist
      |  FROM s a JOIN s b ON b.seq >= a.seq + 1 AND b.seq <= a.seq + 3)
      |SELECT l_id, l_str, r_id, r_str, CAST(dist AS INT) AS dist
      |FROM p WHERE dist <= 2 ORDER BY l_id, r_id""".stripMargin

  // Global sequence: the two-pass bucket algorithm's output is exactly
  // row_number over the global (epoch_us, event_id) order — the oracle
  // states the semantics directly.
  private val qGlobalSeqSql =
    s"""WITH ev AS (SELECT event_id, $sqlEpochUs AS epoch_us FROM events
       |  WHERE ts IS NOT NULL AND event_id IS NOT NULL)
       |SELECT event_id, epoch_us,
       |  CAST(row_number() OVER (ORDER BY epoch_us, event_id) AS BIGINT) AS seq
       |FROM ev ORDER BY seq""".stripMargin

  // Z-order zone map: min-max scale both dims to a 16-bit grid with exact
  // integer floor division, bit-interleave (the 16-term Morton sum below),
  // top-6-bit bucket, then per-bucket extents.
  private val layoutZorderSql = {
    val zsum = zMortonSumSql
    s"""WITH ev AS (SELECT user_id, $sqlEpochS AS es FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |st AS (SELECT min(user_id) AS minx, max(user_id) AS maxx,
       |  min(es) AS miny, max(es) AS maxy FROM ev),
       |g AS (SELECT user_id, es,
       |    ((user_id - minx) * 65535) // greatest(maxx - minx, 1) AS xs,
       |    ((es - miny) * 65535) // greatest(maxy - miny, 1) AS ys
       |  FROM ev CROSS JOIN st),
       |z AS (SELECT user_id, es, ($zsum) >> 26 AS zbucket FROM g)
       |SELECT zbucket, CAST(count(*) AS BIGINT) AS n,
       |  min(user_id) AS x_min, max(user_id) AS x_max,
       |  min(es) AS y_min, max(es) AS y_max
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // BPE round replay: word-frequency dict → per-word character-pair
  // explode (dictionary-sized, not corpus-sized) → freq-weighted counts,
  // rank ties broken by pair text (ASCII, so both engines byte-order).
  private val bpePairsSql =
    s"""WITH tok AS (SELECT unnest($duckWords) AS wd FROM documents),
       |wf AS (SELECT wd, count(*) AS freq FROM tok WHERE wd <> '' GROUP BY 1),
       |ch AS (SELECT wd, freq, string_split_regex(wd, '') AS cs FROM wf),
       |pr AS (SELECT freq, unnest(list_transform(generate_series(1, len(cs)-1),
       |    i -> cs[i] || ' ' || cs[i+1])) AS pair FROM ch WHERE len(cs) >= 2),
       |agg AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM pr GROUP BY 1),
       |r AS (SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rank FROM agg)
       |SELECT CAST(rank AS INT) AS rank, pair, cnt FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin

  private val qDistinctAggSql =
    """SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_customers,
      |  CAST(count(*) AS BIGINT) AS orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  private val qPivotSql = {
    val cols = Seq("click", "view", "purchase", "signup", "error").map(t =>
      s"CAST(count(CASE WHEN event_type='$t' THEN 1 END) AS BIGINT) AS $t")
      .mkString(",\n  ")
    // NULLS FIRST: Spark's orderBy puts NULL first, DuckDB's puts it last —
    // align so a future corpus with NULL user_id can't flip the row order.
    s"""SELECT user_id % 8 AS bucket,
       |  $cols
       |FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin
  }

  private val decontaminateSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |f AS (SELECT doc_id, list_distinct(list_transform(generate_series(0, len(ws)-3),
       |    i -> array_to_string(ws[i+1:i+3], ' '))) AS sh FROM w WHERE len(ws) >= 3),
       |ev AS (SELECT DISTINCT unnest(sh) AS g FROM f WHERE doc_id % 10 = 7),
       |tr AS (SELECT doc_id, len(sh) AS nsh, unnest(sh) AS g FROM f WHERE doc_id % 10 <> 7),
       |j AS (SELECT tr.doc_id, tr.nsh, count(ev.g) AS c
       |  FROM tr LEFT JOIN ev ON tr.g = ev.g GROUP BY 1, 2)
       |SELECT doc_id, CAST(nsh AS BIGINT) AS n_shingles, CAST(c AS BIGINT) AS n_overlap,
       |  CAST(c AS DOUBLE)/nsh AS overlap_ratio, c > 0 AS contaminated
       |FROM j ORDER BY doc_id""".stripMargin

  private val dedupSegmentSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |s AS (SELECT doc_id, list_transform(generate_series(0, CAST(ceil(len(ws)/10.0) AS INT) - 1),
       |    i -> array_to_string(ws[i*10+1:i*10+10], ' ')) AS segs FROM w),
       |x AS (SELECT doc_id, len(segs) AS n_segs,
       |    unnest(generate_series(0, len(segs)-1)) AS seg_idx, unnest(segs) AS seg FROM s),
       |r AS (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn FROM x),
       |k AS (SELECT doc_id, count(*) AS n_kept,
       |    array_to_string(list(seg ORDER BY seg_idx), ' ') AS new_text
       |  FROM r WHERE rn = 1 GROUP BY 1)
       |SELECT d.doc_id, CAST(d.n_segs AS BIGINT) AS n_segs,
       |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(length(k.new_text) AS BIGINT) AS kept_chars,
       |  md5(k.new_text) AS kept_md5
       |FROM (SELECT DISTINCT doc_id, len(segs) AS n_segs FROM s) d
       |LEFT JOIN k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // Substring dedup, k = 10 words. Parallel unnests in one SELECT zip in
  // DuckDB (pos with its gram hash); generate_series is inclusive, so
  // 0..len-10 yields the len-9 gram starts. The covered-position expansion
  // runs only over rn > 1 rows, mirroring the Spark side.
  private val dedupSubstringSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |g AS (SELECT doc_id,
       |    unnest(generate_series(0, len(ws)-10)) AS pos,
       |    unnest(list_transform(generate_series(0, len(ws)-10),
       |      i -> md5(array_to_string(ws[i+1:i+10], ' ')))) AS g
       |  FROM w WHERE len(ws) >= 10),
       |r AS (SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn FROM g),
       |cov AS (SELECT DISTINCT doc_id, p FROM
       |    (SELECT doc_id, unnest(generate_series(pos, pos+9)) AS p
       |     FROM r WHERE rn > 1)),
       |wp AS (SELECT doc_id, unnest(generate_series(0, len(ws)-1)) AS p,
       |    unnest(ws) AS wd FROM w),
       |kept AS (SELECT wp.doc_id, count(*) AS n_kept,
       |    array_to_string(list(wd ORDER BY p), ' ') AS new_text
       |  FROM wp ANTI JOIN cov USING (doc_id, p) GROUP BY 1)
       |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
       |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(length(COALESCE(k.new_text, '')) AS BIGINT) AS kept_chars,
       |  md5(COALESCE(k.new_text, '')) AS kept_md5
       |FROM w LEFT JOIN kept k USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // The composed pipeline: each CTE mirrors one already-green stage oracle
  // (quality thresholds from qualityFilterSql, min-id-per-md5 dedup from
  // dedupExactSql's family, keep/split hashes from sampleStratifiedSql).
  private val curateE2ESql = {
    val h1 = "substr(md5(doc_id::VARCHAR),1,2)"
    val h2 = "substr(md5(doc_id::VARCHAR),3,2)"
    val keep = mixRates.toSeq.sortBy(_._1).map { case (lang, rate) =>
      val cond =
        if (math.round(rate * 256) >= 256) "TRUE"
        else s"$h1 < '${Sampling.hexThreshold(rate)}'"
      s"WHEN '$lang' THEN $cond"
    }.mkString(" ")
    s"""WITH w AS (SELECT doc_id, text, lang, $duckWords AS ws FROM documents),
       |m AS (SELECT doc_id, len(ws) AS nw,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)/len(ws) AS ml,
       |  CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
       |    / greatest(length(text), 1) AS sr,
       |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','is'))) AS DOUBLE)
       |    / len(ws) AS st
       |  FROM w WHERE text IS NOT NULL),
       |q AS (SELECT doc_id FROM m WHERE nw >= 10 AND nw <= 100000
       |  AND ml >= 2.0 AND ml <= 12.0 AND sr <= 0.2 AND st >= 0.005),
       |reps AS (SELECT min(w.doc_id) AS doc_id FROM w JOIN q USING (doc_id)
       |  GROUP BY md5(w.text)),
       |k AS (SELECT w.doc_id, w.lang, len(w.ws) AS nt FROM w JOIN reps USING (doc_id)
       |  WHERE CASE w.lang $keep ELSE TRUE END),
       |sp AS (SELECT lang, nt,
       |  CASE WHEN $h2 < '${Sampling.hexThreshold(0.8)}' THEN 'train'
       |       WHEN $h2 < '${Sampling.hexThreshold(0.9)}' THEN 'val'
       |       ELSE 'test' END AS split
       |  FROM k)
       |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(nt) AS BIGINT) AS n_tokens
       |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private val embedQuantSql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |s AS (SELECT vec_id, emb,
      |    list_max(list_transform(emb, x -> abs(x)))/127.0 AS scale FROM e),
      |q AS (SELECT vec_id, scale, emb,
      |    list_transform(emb, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
      |      ELSE greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
      |        CAST(floor(x/scale + 0.5) AS BIGINT))) END) AS qv
      |  FROM s)
      |SELECT vec_id, scale,
      |  md5(array_to_string(qv, ',')) AS q_md5,
      |  sqrt(list_sum(list_transform(generate_series(1, len(emb)),
      |    i -> (emb[i] - qv[i]*scale)*(emb[i] - qv[i]*scale)))/len(emb)) AS rmse
      |FROM q ORDER BY vec_id""".stripMargin

  private val tokenBudgetSql =
    s"""WITH t AS (SELECT doc_id, lang, len($duckWords) AS n_tokens,
       |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
       |c AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
       |    ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before FROM t)
       |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(cum_before AS BIGINT) AS cum_before
       |FROM c WHERE cum_before < 2000 ORDER BY doc_id""".stripMargin

  // ts IS NOT NULL: Spark's window() drops null-timestamp rows (the
  // TimeWindowing rule adds the filter implicitly); the oracle must match
  // or a corpus revision with NULL ts would add a NULL-window row here only
  private val windowSlidingSql =
    s"""WITH e AS (SELECT $sqlEpochUs AS us, event_type, value FROM events
       |  WHERE ts IS NOT NULL),
       |x AS (SELECT us, event_type, value, unnest([0, 1]) AS r FROM e),
       |g AS (SELECT ((us//3600000000) - r)*3600 AS win_s, event_type,
       |    count(*) AS cnt, SUM(CAST(value AS DECIMAL(18,4))) AS sd
       |  FROM x GROUP BY 1, 2)
       |SELECT ${sqlIsoFromS("win_s")} AS window_start,
       |  ${sqlIsoFromS("win_s + 7200")} AS window_end, event_type,
       |  CAST(cnt AS BIGINT) AS cnt, CAST(sd AS DOUBLE) AS sum_value
       |FROM g ORDER BY 1, 3 NULLS FIRST""".stripMargin

  private val qGroupingSetsSql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY 1, 2""".stripMargin

  private val qIntersectSql =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  private val qExceptSql =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  private val qNtileSql =
    """WITH r AS (SELECT o_orderstatus, o_totalprice,
      |    ntile(4) OVER (PARTITION BY o_orderstatus
      |      ORDER BY o_totalprice, o_orderkey) AS quartile
      |  FROM orders)
      |SELECT o_orderstatus, CAST(quartile AS INT) AS quartile,
      |  CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(min(o_totalprice) AS DOUBLE) AS min_price,
      |  CAST(max(o_totalprice) AS DOUBLE) AS max_price
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val qStringAggSql =
    """SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
      |  string_agg(s_name, '|' ORDER BY s_name) AS supplier_list
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val qGapsSql =
    s"""WITH e AS (SELECT DISTINCT user_id, $sqlEpochUs//86400000000 AS day FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn FROM e),
       |g AS (SELECT user_id, day, day - rn AS grp FROM r)
       |SELECT user_id, CAST(min(day) AS BIGINT) AS start_day,
       |  CAST(max(day) AS BIGINT) AS end_day, CAST(count(*) AS BIGINT) AS n_days
       |FROM g GROUP BY user_id, grp ORDER BY user_id, start_day""".stripMargin

  private val qHistSql =
    """SELECT event_type, CAST(floor(value/10) AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(min(value) AS DOUBLE) AS bin_min, CAST(max(value) AS DOUBLE) AS bin_max
      |FROM events WHERE value IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1 NULLS FIRST, 2""".stripMargin

  private val qRangeFrameSql =
    s"""WITH e AS (SELECT user_id, event_id, $sqlEpochS AS epoch_s FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL)
       |SELECT user_id, event_id, epoch_s,
       |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_s
       |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt_1h
       |FROM e ORDER BY user_id, event_id""".stripMargin

  private val qFirstLastSql =
    s"""WITH e AS (SELECT user_id, event_id, event_type, $sqlEpochUs AS us FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL)
       |SELECT DISTINCT user_id,
       |  first_value(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS first_type,
       |  last_value(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
       |FROM e ORDER BY user_id""".stripMargin

  private val dedupIncrementalSql =
    """SELECT doc_id FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM documents b
      |  WHERE b.doc_id % 5 = 0 AND md5(b.text) = md5(d.text))
      |ORDER BY doc_id""".stripMargin

  private val docChunkSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents
       |  WHERE text IS NOT NULL AND trim(text) <> ''),
       |n AS (SELECT doc_id, ws, len(ws) AS nw FROM w),
       |x AS (SELECT doc_id, ws,
       |    unnest(range(0, 1 + CAST(ceil(greatest(nw - 32, 0)/24.0) AS BIGINT))) AS ci
       |  FROM n),
       |c AS (SELECT doc_id, ci, ws[ci*24+1 : ci*24+32] AS chunk FROM x)
       |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       |  CAST(len(chunk) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // 4-hex-digit value of md5's prefix, digit by digit (DuckDB has no
  // hex-parse builtin; strpos on the alphabet is the established idiom here)
  private val shardAssignSql = {
    def hv(i: Int) = s"(strpos('0123456789abcdef', substr(h,$i,1))-1)"
    s"""WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
       |v AS (SELECT doc_id, h,
       |  (${hv(1)}*4096 + ${hv(2)}*256 + ${hv(3)}*16 + ${hv(4)}) % 8 AS shard FROM h)
       |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
       |FROM v ORDER BY doc_id""".stripMargin
  }

  private val ngramCountsSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
       |g AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(ws)-2),
       |    i -> array_to_string(ws[i+1:i+2], ' '))) AS gram FROM f)
       |SELECT gram, CAST(count(*) AS BIGINT) AS occurrences,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
       |FROM g GROUP BY gram ORDER BY occurrences DESC, gram LIMIT 100""".stripMargin

  // exact heavy hitters above ⌈N/1000⌉ of total bigram occurrences —
  // the CMS prefilter is output-invisible (candidates are a superset,
  // the exact HAVING verifies), so the oracle is plain GROUP BY/HAVING
  private val heavyHittersSql =
    s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
       |f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
       |g AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(ws)-2),
       |    i -> array_to_string(ws[i+1:i+2], ' '))) AS gram FROM f),
       |t AS (SELECT CAST((count(*) + 999) // 1000 AS BIGINT) AS th FROM g)
       |SELECT gram, CAST(count(*) AS BIGINT) AS occurrences,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
       |FROM g GROUP BY gram HAVING count(*) >= (SELECT th FROM t)
       |ORDER BY gram""".stripMargin

  private val domainMixSql =
    """WITH r AS (SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
      |  FROM documents WHERE source IN ('src0','src1','src2'))
      |SELECT doc_id, source, CAST(rank AS BIGINT) AS rank
      |FROM r WHERE rank <= CASE source WHEN 'src0' THEN 30
      |  WHEN 'src1' THEN 20 WHEN 'src2' THEN 10 END
      |ORDER BY doc_id""".stripMargin

  private val corpusStatsSql =
    s"""WITH w AS (SELECT lang, len($duckWords) AS nt FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CAST(nt AS DECIMAL(18,0))) AS BIGINT) AS total_tokens,
       |  quantile_cont(nt, 0.25) AS p25_tokens,
       |  quantile_cont(nt, 0.5) AS p50_tokens,
       |  quantile_cont(nt, 0.75) AS p75_tokens,
       |  CAST(CAST(SUM(CAST(nt AS DECIMAL(18,0))) AS BIGINT) AS DOUBLE)/count(*)
       |    AS mean_tokens
       |FROM w GROUP BY lang ORDER BY lang""".stripMargin

  // moment sums exact in decimal, closed forms written with the IDENTICAL
  // operation order as the Spark side — bit-identical doubles (see qCorr)
  private val qCorrSql =
    """WITH m AS (SELECT l_returnflag,
      |  CAST(count(*) AS DOUBLE) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS cnt,
      |  CASE WHEN (n*sxx - sx*sx) > 0.0 AND (n*syy - sy*sy) > 0.0
      |    THEN (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
      |    END AS corr_qty_price,
      |  CASE WHEN n > 1.0 THEN (sxy - sx*sy/n) / (n - 1.0)
      |    END AS covar_qty_price
      |FROM m ORDER BY l_returnflag""".stripMargin

  private val qModeSql =
    """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      |  FROM orders GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
      |    ORDER BY cnt DESC, o_orderpriority) AS rn FROM c)
      |SELECT o_orderstatus, o_orderpriority AS mode_priority,
      |  CAST(cnt AS BIGINT) AS cnt
      |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin

  private val qScalarSubSql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 1.5 * (
      |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         / COUNT(*)
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  // ((x%7)+7)%7, not plain %: DuckDB's % is sign-preserving while the Spark
  // side uses pmod — identical for this corpus, but a pre-1970 epoch would
  // make the day negative and flip the dow in one engine only
  private val qZeroFillSql =
    s"""WITH e AS (SELECT event_type,
       |    ((($sqlEpochUs//86400000000) % 7) + 7) % 7 AS dow FROM events
       |  WHERE event_type IS NOT NULL AND ts IS NOT NULL),
       |c AS (SELECT event_type, dow, count(*) AS cnt FROM e GROUP BY 1, 2),
       |t AS (SELECT DISTINCT event_type FROM e),
       |d AS (SELECT unnest(range(0, 7)) AS dow)
       |SELECT t.event_type, CAST(d.dow AS BIGINT) AS dow,
       |  CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
       |FROM t CROSS JOIN d
       |LEFT JOIN c ON c.event_type = t.event_type AND c.dow = d.dow
       |ORDER BY 1, 2""".stripMargin

  // shared int8-quantization CTEs (mirror of Similarity.quantizedVecs)
  private val duckQuantBase =
    """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |s AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x)))/127.0 AS scale FROM e),
      |q AS (SELECT vec_id, CASE WHEN scale = 0
      |    THEN list_transform(emb, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(emb, x -> greatest(CAST(-127 AS BIGINT),
      |      least(CAST(127 AS BIGINT), CAST(floor(x/scale + 0.5) AS BIGINT)))) END AS qv
      |  FROM s)""".stripMargin

  // seed centroids + one assignment pass on top of the base CTEs
  private val duckSeedAssign =
    """c AS (SELECT vec_id AS cid, qv AS cq FROM q ORDER BY vec_id LIMIT 8),
      |d AS (SELECT q.vec_id, c.cid,
      |    list_sum(list_transform(range(1, len(q.qv)+1),
      |      i -> (q.qv[i]-c.cq[i])*(q.qv[i]-c.cq[i]))) AS dist2
      |  FROM q CROSS JOIN c),
      |a AS (SELECT vec_id, cid, dist2,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
      |  FROM d)""".stripMargin

  // winner rows of the assignment window — the frame every downstream
  // embedding-op fragment (SemDeDup pairs, outlier stats) builds on
  private val duckAsgCte =
    "asg AS (SELECT vec_id, cid, dist2 FROM a WHERE rn = 1)"

  /** SemDeDup pairwise chain on top of asg: NORMALIZED int8 vectors,
    * within-cluster ordered-pair integer dots (127²·cosine), and
    * dup = vectors with a lower-id cluster-mate clearing 5646 =
    * ceil(0.35·127²). Shared by dedupSemanticSql and curateSemanticSql. */
  private val duckSemPairCtes =
    """sn AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM e),
      |qn AS (SELECT vec_id, CASE WHEN nrm = 0
      |    THEN list_transform(emb, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(emb, x -> greatest(CAST(-127 AS BIGINT),
      |      least(CAST(127 AS BIGINT), CAST(floor(x*127.0/nrm + 0.5) AS BIGINT)))) END AS qv
      |  FROM sn),
      |pairs AS (SELECT a2.vec_id AS hi,
      |    list_sum(list_transform(range(1, len(n1.qv)+1), i -> n1.qv[i]*n2.qv[i])) AS dt
      |  FROM asg a1 JOIN asg a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
      |  JOIN qn n1 ON n1.vec_id = a1.vec_id
      |  JOIN qn n2 ON n2.vec_id = a2.vec_id),
      |dup AS (SELECT hi, count(*) AS n_sim, max(dt) AS max_dot
      |  FROM pairs WHERE dt >= 5646 GROUP BY hi)""".stripMargin

  /** Outlier-stats chain on top of asg: per-cluster exact integer moments
    * cast to double once, per-vector z-scores in CTE j. The stats CTE is
    * named stt (not st) to stay clear of sibling names in larger splices.
    * Shared by embedOutliersSql and curateSemanticSql. */
  private val duckOutlierCtes =
    """stt AS (SELECT cid, count(*) AS n, CAST(SUM(dist2) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(dist2 AS HUGEINT)*CAST(dist2 AS HUGEINT)) AS DOUBLE) AS s2
      |  FROM asg GROUP BY 1),
      |j AS (SELECT asg.vec_id, asg.cid, asg.dist2, s1/n AS mean_d2,
      |    sqrt(greatest(s2/n - (s1/n)*(s1/n), 0)) AS std_d2
      |  FROM asg JOIN stt USING (cid))""".stripMargin

  private val kmeansAssignSql =
    s"""WITH $duckQuantBase,
       |$duckSeedAssign,
       |$duckAsgCte
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid, CAST(dist2 AS BIGINT) AS dist2
       |FROM asg ORDER BY vec_id""".stripMargin

  private val kmeansUpdateSql =
    s"""WITH $duckQuantBase,
       |$duckSeedAssign,
       |j AS (SELECT a.cid, q.qv FROM a JOIN q USING (vec_id) WHERE a.rn = 1),
       |x AS (SELECT cid, qv, unnest(range(1, len(qv)+1)) AS i FROM j)
       |SELECT CAST(cid AS BIGINT) AS cid, CAST(i-1 AS INT) AS dim,
       |  CAST(count(*) AS BIGINT) AS n, CAST(SUM(qv[i]) AS BIGINT) AS sum_q,
       |  CAST(CAST(SUM(qv[i]) AS BIGINT) AS DOUBLE)/count(*) AS mean_q
       |FROM x GROUP BY cid, i ORDER BY cid, dim""".stripMargin

  // SemDeDup replay: kmeans assignment (raw-int8 CTEs) buckets vectors;
  // the shared pair chain scores them; a vector is dropped when any
  // lower-id cluster-mate clears the bar.
  private val dedupSemanticSql =
    s"""WITH $duckQuantBase,
       |$duckSeedAssign,
       |$duckAsgCte,
       |$duckSemPairCtes
       |SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cid,
       |  CAST(COALESCE(dup.n_sim, 0) AS BIGINT) AS n_sim_lower,
       |  CAST(COALESCE(dup.max_dot, 0) AS BIGINT) AS max_dot_lower,
       |  dup.hi IS NULL AS keep
       |FROM asg LEFT JOIN dup ON dup.hi = asg.vec_id ORDER BY vec_id""".stripMargin

  // Outlier replay: kmeans assignment distances through the shared
  // z-score chain, flag at 2σ.
  private val embedOutliersSql =
    s"""WITH $duckQuantBase,
       |$duckSeedAssign,
       |$duckAsgCte,
       |$duckOutlierCtes
       |SELECT vec_id, CAST(cid AS BIGINT) AS cid, CAST(dist2 AS BIGINT) AS dist2,
       |  mean_d2, std_d2,
       |  CAST(dist2 AS DOUBLE) > mean_d2 + 2.0*std_d2 AS is_outlier
       |FROM j ORDER BY vec_id""".stripMargin

  // Curation-composition replay assembled from the SHARED stage
  // fragments (quality gate, SemDeDup pair chain, outlier z-scores), so
  // a threshold change in any stage oracle flows here automatically:
  // per-language report over quality keeps × SemDeDup keeps × inliers.
  private val curateSemanticSql =
    s"""WITH $duckQualityCtes,
       |qk AS (SELECT doc_id FROM r WHERE fail_reasons = ''),
       |$duckQuantBase,
       |$duckSeedAssign,
       |$duckAsgCte,
       |$duckSemPairCtes,
       |semk AS (SELECT asg.vec_id FROM asg LEFT JOIN dup ON dup.hi = asg.vec_id
       |  WHERE dup.hi IS NULL),
       |$duckOutlierCtes,
       |inl AS (SELECT vec_id FROM j WHERE NOT (CAST(dist2 AS DOUBLE) > mean_d2 + 2.0*std_d2)),
       |tok AS (SELECT doc_id, lang, len($duckWords) AS nt FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens
       |FROM tok JOIN qk USING (doc_id)
       |JOIN semk ON semk.vec_id = tok.doc_id
       |JOIN inl ON inl.vec_id = tok.doc_id
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Unrolled oracle for the fixed-round Lloyd loop: the iteration count is
    * a compile-time constant, so the recursive structure is generated as a
    * flat CTE chain (assign → integer-rounded means → new centroid lists,
    * repeated), exactly mirroring Similarity.kmeansIter's rounds. */
  private val kmeansIterSql = {
    val k = 8; val iters = 2
    def dist(c: String) =
      s"list_sum(list_transform(range(1, len(q.qv)+1), " +
      s"j -> (q.qv[j]-$c.cq[j])*(q.qv[j]-$c.cq[j])))"
    val parts = scala.collection.mutable.ArrayBuffer[String](
      s"c0 AS (SELECT vec_id AS cid, qv AS cq FROM q ORDER BY vec_id LIMIT $k)")
    for (i <- 0 until iters) {
      parts += s"d$i AS (SELECT q.vec_id, c$i.cid, ${dist(s"c$i")} AS dist2 " +
        s"FROM q CROSS JOIN c$i)"
      parts += s"a$i AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, " +
        s"row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn " +
        s"FROM d$i) WHERE rn = 1)"
      parts += s"x$i AS (SELECT a$i.cid, q.qv, unnest(range(1, len(q.qv)+1)) AS i " +
        s"FROM a$i JOIN q USING (vec_id))"
      parts += s"m$i AS (SELECT cid, i, CAST(floor(CAST(SUM(qv[i]) AS DOUBLE)" +
        s"/count(*) + 0.5) AS BIGINT) AS rv FROM x$i GROUP BY cid, i)"
      parts += s"c${i + 1} AS (SELECT cid, list(rv ORDER BY i) AS cq FROM m$i GROUP BY cid)"
    }
    parts += s"df AS (SELECT q.vec_id, c$iters.cid, ${dist(s"c$iters")} AS dist2 " +
      s"FROM q CROSS JOIN c$iters)"
    s"WITH $duckQuantBase,\n${parts.mkString(",\n")}\n" +
    "SELECT vec_id, CAST(cid AS BIGINT) AS cid, CAST(dist2 AS BIGINT) AS dist2 " +
    "FROM (SELECT vec_id, cid, dist2, row_number() OVER " +
    "(PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM df) " +
    "WHERE rn = 1 ORDER BY vec_id"
  }

  // PQ replay: per subspace — slice, seed codebook (k lowest vec_ids), one
  // Lloyd round (argmin ties by cid, floor(mean+0.5)), re-encode, query LUT
  // — then the ADC sum + per-query rank. Same integer-exactness contract as
  // kmeansIterSql, so the chain is deterministic end to end.
  // PQ's quantization base: unit-normalize then fixed-scale int8 (mirrors
  // Similarity.normalizedQuantVecs — L2-on-unit-vectors == cosine order)
  private val duckNormQuantBase =
    """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |s AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM e),
      |q AS (SELECT vec_id, CASE WHEN nrm = 0
      |    THEN list_transform(emb, x -> CAST(0 AS BIGINT))
      |    ELSE list_transform(emb, x -> greatest(CAST(-127 AS BIGINT),
      |      least(CAST(127 AS BIGINT), CAST(floor(x*127.0/nrm + 0.5) AS BIGINT)))) END AS qv
      |  FROM s)""".stripMargin

  /** The PQ pipeline's generated CTEs (codebooks, codes, lut) — shared by
    * knn_pq and knn_ivf_pq; expects a `q (vec_id, qv)` CTE in scope. */
  private def pqCtes(m: Int, k: Int, dim: Int): Seq[String] = {
    val sl = dim / m
    def dist(a: String, b: String) =
      s"list_sum(list_transform(range(1, len($a)+1), " +
      s"j -> ($a[j]-$b[j])*($a[j]-$b[j])))"
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    for (i <- 0 until m) {
      parts += s"s$i AS (SELECT vec_id, qv[${i * sl + 1}:${(i + 1) * sl}] AS sv FROM q)"
      parts += s"c$i AS (SELECT vec_id AS cid, sv AS cq FROM s$i ORDER BY vec_id LIMIT $k)"
      parts += s"a$i AS (SELECT vec_id, cid FROM (SELECT s$i.vec_id, c.cid, " +
        s"row_number() OVER (PARTITION BY s$i.vec_id " +
        s"ORDER BY ${dist(s"s$i.sv", "c.cq")}, c.cid) AS rn " +
        s"FROM s$i CROSS JOIN c$i c) WHERE rn = 1)"
      parts += s"x$i AS (SELECT a$i.cid, s$i.sv, unnest(range(1, len(s$i.sv)+1)) AS ii " +
        s"FROM a$i JOIN s$i USING (vec_id))"
      parts += s"m$i AS (SELECT cid, ii, CAST(floor(CAST(SUM(sv[ii]) AS DOUBLE)" +
        s"/count(*) + 0.5) AS BIGINT) AS rv FROM x$i GROUP BY cid, ii)"
      parts += s"cb$i AS (SELECT cid, list(rv ORDER BY ii) AS cq FROM m$i GROUP BY cid)"
      parts += s"e$i AS (SELECT vec_id, $i AS sub, cid FROM (SELECT s$i.vec_id, c.cid, " +
        s"row_number() OVER (PARTITION BY s$i.vec_id " +
        s"ORDER BY ${dist(s"s$i.sv", "c.cq")}, c.cid) AS rn " +
        s"FROM s$i CROSS JOIN cb$i c) WHERE rn = 1)"
      parts += s"l$i AS (SELECT s$i.vec_id AS query_id, $i AS sub, c.cid, " +
        s"${dist(s"s$i.sv", "c.cq")} AS d2 " +
        s"FROM s$i CROSS JOIN cb$i c WHERE s$i.vec_id < 8)"
    }
    parts += (0 until m).map(i => s"SELECT * FROM e$i")
      .mkString("codes AS (", " UNION ALL ", ")")
    parts += (0 until m).map(i => s"SELECT * FROM l$i")
      .mkString("lut AS (", " UNION ALL ", ")")
    parts.toSeq
  }

  private def pqRankSql(topK: Int): String =
    "SELECT query_id, vec_id, CAST(adc AS BIGINT) AS adc_dist2, " +
    "CAST(rn AS BIGINT) AS rank FROM (SELECT query_id, vec_id, adc, " +
    "row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn " +
    s"FROM sc) WHERE rn <= $topK ORDER BY query_id, rank"

  private val knnPqSql = {
    val parts = pqCtes(m = 4, k = 16, dim = 64) :+
      ("sc AS (SELECT lut.query_id, codes.vec_id, SUM(lut.d2) AS adc " +
       "FROM codes JOIN lut USING (sub, cid) " +
       // self-pairs excluded, mirroring pqTopK (and the IVF-PQ chain)
       "WHERE codes.vec_id <> lut.query_id GROUP BY 1, 2)")
    s"WITH $duckNormQuantBase,\n${parts.mkString(",\n")}\n" + pqRankSql(5)
  }

  // IVF-PQ with RESIDUAL encoding (mirror of Similarity.ivfPqTopK): the
  // knn_ivf coarse quantizer picks WHICH vectors are scored (rank-<=nprobe
  // probed lists, self-pair excluded); the PQ chain scores each one in the
  // compressed domain over its RESIDUAL against its own list's integer
  // centroid (±round(127/sqrt(dim)) components — the coarse ±1 centroid
  // expressed in the normalized-int8 domain). Codebooks are PER LIST
  // (pooled cells would encode list identity, not variation — see the
  // Similarity.ivfPqTopK scaladoc), seeded by the k globally-lowest-id
  // vectors residualized against every list. The query side builds one
  // LUT per probed list from the query's residual vs THAT list's centroid
  // and codebook (asymmetric distance). CTE namespaces: raw/n/cc/qp/ci/
  // rc/rq/gs = coarse + residual side; e/s/q (duckNormQuantBase) = int8
  // base; s$i..l$i = the per-subspace per-list PQ chain over residuals.
  private def knnIvfPqSqlFor(nprobe: Int, finish: String): String = {
    val m = 32; val k = 32; val dim = 64; val sl = dim / m
    val cents = Similarity.ivfCentroids(16, dim)
    val scoreList = cents.map { cv =>
      val arr = cv.map(d => if (d > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"list_dot_product(emb, $arr::DOUBLE[])"
    }.mkString("[", ", ", "]")
    val ci = math.floor(127.0 / math.sqrt(dim.toDouble) + 0.5).toLong
    val centInt = cents.map(cv =>
      cv.map(d => if (d > 0) s"$ci" else s"-$ci").mkString("[", ",", "]"))
      .mkString("[", ", ", "]")
    def dist(a: String, b: String) =
      s"list_sum(list_transform(range(1, len($a)+1), " +
      s"j -> ($a[j]-$b[j])*($a[j]-$b[j])))"
    val parts = scala.collection.mutable.ArrayBuffer[String](
      "raw AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)",
      "n AS (SELECT * FROM (SELECT vec_id, sqrt(list_dot_product(emb, emb)) AS nrm, " +
        s"$scoreList AS cs FROM raw) WHERE nrm > 0)",
      "cc AS (SELECT vec_id, list_position(cs, list_max(cs)) AS ccid FROM n)",
      "qp AS (SELECT qid AS query_id, cid AS ccid FROM (SELECT vec_id AS qid, " +
        "unnest(cs) AS sc, generate_subscripts(cs, 1) AS cid FROM n WHERE vec_id < 8) " +
        s"QUALIFY row_number() OVER (PARTITION BY qid ORDER BY sc DESC, cid) <= $nprobe)",
      // (ccid, integer centroid) lookup — parallel unnest zips positions
      s"ci AS (SELECT unnest(range(1, ${cents.size + 1})) AS ccid, " +
        s"unnest($centInt) AS cv)",
      // corpus residuals: normalized-int8 qv minus own list's int centroid
      s"rc AS (SELECT q.vec_id, cc.ccid, list_transform(range(1, ${dim + 1}), " +
        "i -> q.qv[i] - ci.cv[i]) AS qv FROM q JOIN cc USING (vec_id) " +
        "JOIN ci ON ci.ccid = cc.ccid)",
      // query residuals, one per probed list (asymmetric distance)
      s"rq AS (SELECT qp.query_id, qp.ccid, list_transform(range(1, ${dim + 1}), " +
        "i -> q.qv[i] - ci.cv[i]) AS qv FROM qp JOIN q ON q.vec_id = qp.query_id " +
        "JOIN ci ON ci.ccid = qp.ccid)",
      // global seeds: k lowest-id vectors with a coarse list (nrm > 0)
      s"gs AS (SELECT q.vec_id AS cid, q.qv FROM q JOIN cc USING (vec_id) " +
        s"ORDER BY q.vec_id LIMIT $k)")
    for (i <- 0 until m) {
      parts += s"s$i AS (SELECT vec_id, ccid, qv[${i * sl + 1}:${(i + 1) * sl}] AS sv FROM rc)"
      // per-list seed cells: every global seed residualized vs list ccid
      parts += s"c$i AS (SELECT ci.ccid, gs.cid, list_transform(" +
        s"range(${i * sl + 1}, ${(i + 1) * sl + 1}), j -> gs.qv[j] - ci.cv[j]) AS cq " +
        s"FROM gs CROSS JOIN ci)"
      parts += s"a$i AS (SELECT vec_id, ccid, cid FROM (SELECT s$i.vec_id, s$i.ccid, c.cid, " +
        s"row_number() OVER (PARTITION BY s$i.vec_id " +
        s"ORDER BY ${dist(s"s$i.sv", "c.cq")}, c.cid) AS rn " +
        s"FROM s$i JOIN c$i c ON c.ccid = s$i.ccid) WHERE rn = 1)"
      parts += s"x$i AS (SELECT a$i.ccid, a$i.cid, s$i.sv, unnest(range(1, len(s$i.sv)+1)) AS ii " +
        s"FROM a$i JOIN s$i ON s$i.vec_id = a$i.vec_id)"
      parts += s"m$i AS (SELECT ccid, cid, ii, CAST(floor(CAST(SUM(sv[ii]) AS DOUBLE)" +
        s"/count(*) + 0.5) AS BIGINT) AS rv FROM x$i GROUP BY ccid, cid, ii)"
      parts += s"cb$i AS (SELECT ccid, cid, list(rv ORDER BY ii) AS cq FROM m$i GROUP BY ccid, cid)"
      parts += s"e$i AS (SELECT vec_id, ccid, $i AS sub, cid FROM (SELECT s$i.vec_id, " +
        s"s$i.ccid, c.cid, row_number() OVER (PARTITION BY s$i.vec_id " +
        s"ORDER BY ${dist(s"s$i.sv", "c.cq")}, c.cid) AS rn " +
        s"FROM s$i JOIN cb$i c ON c.ccid = s$i.ccid) WHERE rn = 1)"
      parts += s"r$i AS (SELECT query_id, ccid, qv[${i * sl + 1}:${(i + 1) * sl}] AS sv FROM rq)"
      parts += s"l$i AS (SELECT r$i.query_id, r$i.ccid, $i AS sub, c.cid, " +
        s"${dist(s"r$i.sv", "c.cq")} AS d2 FROM r$i JOIN cb$i c ON c.ccid = r$i.ccid)"
    }
    parts += (0 until m).map(i => s"SELECT * FROM e$i")
      .mkString("codes AS (", " UNION ALL ", ")")
    parts += (0 until m).map(i => s"SELECT * FROM l$i")
      .mkString("lut AS (", " UNION ALL ", ")")
    parts += "sc AS (SELECT lut.query_id, codes.vec_id, SUM(lut.d2) AS adc " +
      "FROM codes JOIN lut ON lut.ccid = codes.ccid AND lut.sub = codes.sub " +
      "AND lut.cid = codes.cid WHERE codes.vec_id <> lut.query_id GROUP BY 1, 2)"
    s"WITH $duckNormQuantBase,\n${parts.mkString(",\n")}\n" + finish
  }

  private def knnIvfPqSqlFor(nprobe: Int): String =
    knnIvfPqSqlFor(nprobe, pqRankSql(5))

  private lazy val knnIvfPqSql = knnIvfPqSqlFor(2)

  // IVF-PQ + exact re-rank (the FAISS refine recipe): the ADC chain picks
  // a SHORTLIST of candidates per query; the final ranking re-scores that
  // shortlist with exact cosine over the RAW embeddings, fixing ADC's
  // quantization-induced ordering errors. `raw` has the unnormalized
  // vectors, `n` their norms (emb is projected away in n, hence the
  // double join).
  private def knnIvfPqRerankFinish(shortlist: Int, topK: Int): String =
    // leading comma: this finish EXTENDS the WITH chain (pqRankSql-style
    // finishes start at the final SELECT instead)
    s",\nshort AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, " +
    "row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn " +
    s"FROM sc) WHERE rn <= $shortlist),\n" +
    "ex AS (SELECT s.query_id, s.vec_id, " +
    "list_dot_product(rq2.emb, rv.emb)/(nq.nrm*nv.nrm) AS sim FROM short s " +
    "JOIN raw rq2 ON rq2.vec_id = s.query_id " +
    "JOIN n nq ON nq.vec_id = s.query_id " +
    "JOIN raw rv ON rv.vec_id = s.vec_id " +
    "JOIN n nv ON nv.vec_id = s.vec_id)\n" +
    "SELECT query_id, vec_id, sim, CAST(rn AS BIGINT) AS rank FROM " +
    "(SELECT query_id, vec_id, sim, row_number() OVER " +
    "(PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn FROM ex) " +
    s"WHERE rn <= $topK ORDER BY query_id, rank"

  private lazy val knnIvfPqRerankSql =
    knnIvfPqSqlFor(2, knnIvfPqRerankFinish(shortlist = 20, topK = 5))

  // recall@5 of the IVF-PQ SERVING path vs exact cosine — the rerank
  // chain at the round-13 recall point (nprobe=16, shortlist=40; see
  // knnIvfPqRecallQ's scaladoc for the measured coverage-ceiling curve
  // and the demo-scale exhaustive-probe caveat). The raw-ADC recall
  // evidence (np=8: 0.55 at sf0.1 / 0.675 at sf0.01 with m=32) lives in
  // DESIGN.md §3.4's sweep table.
  // TRAINED-quantizer IVF-PQ (Similarity.ivfPqTopKWithCents): the coarse
  // quantizer is integer-Lloyd k-means REPLAYED IN SQL (the kmeansIterSql
  // recipe: k lowest-id seeds over the normalized-int8 domain, `iters`
  // unrolled rounds of integer argmin + integer means), centroids then
  // norm-corrected for integer-dot assignment scores, corpus rows SPILLED
  // to their top-`assignTop` lists, and per-list ADC sums deduped by MIN.
  // Everything after the centroid CTEs reuses knnIvfPqSqlFor's
  // per-subspace chain shape against ci-as-rows instead of ci-as-literals.
  private def duckDist(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a)+1), " +
    s"j -> ($a[j]-$b[j])*($a[j]-$b[j])))"

  /** Shared prefix of the trained-quantizer oracles: normalized-int8 base
    * aliases, the `iters`-round integer-Lloyd centroid CTEs, and the
    * spill-assignment (`cc`) / query-probe (`qp`) CTEs, all derived in
    * SQL so the oracle trains independently of the Spark side. */
  private def trainedQuantCtes(nprobe: Int, numCentroids: Int, iters: Int,
                               assignTop: Int): scala.collection.mutable.ArrayBuffer[String] = {
    val dim = 64
    val dist = duckDist _
    // norm-corrected score of an int8 vector list expr vs a centroid row
    def score(qv: String, cq: String) =
      s"list_dot_product(list_transform($qv, x -> CAST(x AS DOUBLE)), " +
      s"list_transform($cq, x -> CAST(x AS DOUBLE))) / " +
      s"sqrt(CAST(list_sum(list_transform($cq, x -> x*x)) AS DOUBLE))"
    // AS MATERIALIZED throughout: DuckDB 1.0 INLINES every CTE reference,
    // so without it the 4-round Lloyd chain re-evaluates once per
    // downstream reference (32 subspaces × several refs each — observed
    // as a runaway oracle). Materialization changes evaluation strategy
    // only, never results.
    val parts = scala.collection.mutable.ArrayBuffer[String](
      "raw AS MATERIALIZED (SELECT vec_id, emb FROM e)",
      "n AS MATERIALIZED (SELECT vec_id, nrm FROM s WHERE nrm > 0)",
      // training corpus: rows whose int8 vector has any nonzero component
      "t0 AS MATERIALIZED (SELECT vec_id, qv FROM q " +
        "WHERE len(list_filter(qv, x -> x <> 0)) > 0)",
      s"k0 AS MATERIALIZED (SELECT vec_id AS cid, qv AS cq FROM t0 ORDER BY vec_id LIMIT $numCentroids)")
    for (r <- 0 until iters) {
      parts += s"a$r AS MATERIALIZED (SELECT vec_id, cid FROM (SELECT t0.vec_id, c.cid, " +
        s"row_number() OVER (PARTITION BY t0.vec_id " +
        s"ORDER BY ${dist("t0.qv", "c.cq")}, c.cid) AS rn " +
        s"FROM t0 CROSS JOIN k$r c) WHERE rn = 1)"
      parts += s"x$r AS MATERIALIZED (SELECT a$r.cid, t0.qv, unnest(range(1, ${dim + 1})) AS ii " +
        s"FROM a$r JOIN t0 USING (vec_id))"
      parts += s"k${r + 1} AS MATERIALIZED (SELECT cid, list(rv ORDER BY ii) AS cq FROM " +
        s"(SELECT cid, ii, CAST(floor(CAST(SUM(qv[ii]) AS DOUBLE)/count(*) + 0.5) " +
        s"AS BIGINT) AS rv FROM x$r GROUP BY cid, ii) GROUP BY cid)"
    }
    parts += s"ci AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY cid) AS BIGINT) AS ccid, " +
      s"cq AS cv FROM k$iters WHERE len(list_filter(cq, x -> x <> 0)) > 0)"
    // corpus spill assignment + query probes, both by the same score
    parts += "csc AS MATERIALIZED (SELECT q.vec_id, ci.ccid, " +
      s"${score("q.qv", "ci.cv")} AS sc " +
      "FROM q JOIN n USING (vec_id) CROSS JOIN ci)"
    parts += "cc AS MATERIALIZED (SELECT vec_id, ccid FROM (SELECT vec_id, ccid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, ccid) AS rn " +
      s"FROM csc) WHERE rn <= $assignTop)"
    parts += "qp AS MATERIALIZED (SELECT vec_id AS query_id, ccid FROM (SELECT vec_id, ccid, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, ccid) AS rn " +
      s"FROM csc WHERE vec_id < 8) WHERE rn <= $nprobe)"
    parts
  }

  private def knnIvfPqTrainedSqlFor(nprobe: Int, finish: String,
                                    numCentroids: Int = 64, iters: Int = 4,
                                    assignTop: Int = 2): String = {
    val m = 32; val k = 32; val dim = 64; val sl = dim / m
    val dist = duckDist _
    val parts = trainedQuantCtes(nprobe, numCentroids, iters, assignTop)
    parts += s"rc AS MATERIALIZED (SELECT cc.vec_id, cc.ccid, list_transform(range(1, ${dim + 1}), " +
      "i -> q.qv[i] - ci.cv[i]) AS qv FROM cc JOIN q USING (vec_id) " +
      "JOIN ci ON ci.ccid = cc.ccid)"
    parts += s"rq AS MATERIALIZED (SELECT qp.query_id, qp.ccid, list_transform(range(1, ${dim + 1}), " +
      "i -> q.qv[i] - ci.cv[i]) AS qv FROM qp JOIN q ON q.vec_id = qp.query_id " +
      "JOIN ci ON ci.ccid = qp.ccid)"
    parts += s"gs AS MATERIALIZED (SELECT q.vec_id AS cid, q.qv FROM q JOIN n USING (vec_id) " +
      s"ORDER BY q.vec_id LIMIT $k)"
    for (i <- 0 until m) {
      parts += s"s$i AS MATERIALIZED (SELECT vec_id, ccid, qv[${i * sl + 1}:${(i + 1) * sl}] AS sv FROM rc)"
      parts += s"c$i AS MATERIALIZED (SELECT ci.ccid, gs.cid, list_transform(" +
        s"range(${i * sl + 1}, ${(i + 1) * sl + 1}), j -> gs.qv[j] - ci.cv[j]) AS cq " +
        s"FROM gs CROSS JOIN ci)"
      parts += s"a_$i AS MATERIALIZED (SELECT vec_id, ccid, cid FROM (SELECT s$i.vec_id, s$i.ccid, c.cid, " +
        s"row_number() OVER (PARTITION BY s$i.vec_id, s$i.ccid " +
        s"ORDER BY ${dist(s"s$i.sv", "c.cq")}, c.cid) AS rn " +
        s"FROM s$i JOIN c$i c ON c.ccid = s$i.ccid) WHERE rn = 1)"
      parts += s"x_$i AS MATERIALIZED (SELECT a_$i.ccid, a_$i.cid, s$i.sv, unnest(range(1, len(s$i.sv)+1)) AS ii " +
        s"FROM a_$i JOIN s$i ON s$i.vec_id = a_$i.vec_id AND s$i.ccid = a_$i.ccid)"
      parts += s"m$i AS MATERIALIZED (SELECT ccid, cid, ii, CAST(floor(CAST(SUM(sv[ii]) AS DOUBLE)" +
        s"/count(*) + 0.5) AS BIGINT) AS rv FROM x_$i GROUP BY ccid, cid, ii)"
      parts += s"cb$i AS MATERIALIZED (SELECT ccid, cid, list(rv ORDER BY ii) AS cq FROM m$i GROUP BY ccid, cid)"
      parts += s"e$i AS MATERIALIZED (SELECT vec_id, ccid, $i AS sub, cid FROM (SELECT s$i.vec_id, " +
        s"s$i.ccid, c.cid, row_number() OVER (PARTITION BY s$i.vec_id, s$i.ccid " +
        s"ORDER BY ${dist(s"s$i.sv", "c.cq")}, c.cid) AS rn " +
        s"FROM s$i JOIN cb$i c ON c.ccid = s$i.ccid) WHERE rn = 1)"
      parts += s"r$i AS MATERIALIZED (SELECT query_id, ccid, qv[${i * sl + 1}:${(i + 1) * sl}] AS sv FROM rq)"
      parts += s"l$i AS MATERIALIZED (SELECT r$i.query_id, r$i.ccid, $i AS sub, c.cid, " +
        s"${dist(s"r$i.sv", "c.cq")} AS d2 FROM r$i JOIN cb$i c ON c.ccid = r$i.ccid)"
    }
    parts += (0 until m).map(i => s"SELECT * FROM e$i")
      .mkString("codes AS MATERIALIZED (", " UNION ALL ", ")")
    parts += (0 until m).map(i => s"SELECT * FROM l$i")
      .mkString("lut AS MATERIALIZED (", " UNION ALL ", ")")
    // spill dedup: per-list ADC sums, then MIN across the probed lists a
    // vector is reachable through (mirrors the Spark two-stage aggregate)
    parts += "sc0 AS MATERIALIZED (SELECT lut.query_id, codes.vec_id, codes.ccid, SUM(lut.d2) AS adc " +
      "FROM codes JOIN lut ON lut.ccid = codes.ccid AND lut.sub = codes.sub " +
      "AND lut.cid = codes.cid WHERE codes.vec_id <> lut.query_id GROUP BY 1, 2, 3)"
    parts += "sc AS MATERIALIZED (SELECT query_id, vec_id, MIN(adc) AS adc FROM sc0 GROUP BY 1, 2)"
    // the shared quantization base is inlined text — materialize its CTEs
    // too in THIS oracle's copy (e/s/q each feed several consumers here)
    val base = duckNormQuantBase
      .replace("e AS (", "e AS MATERIALIZED (")
      .replace("s AS (", "s AS MATERIALIZED (")
      .replace("q AS (", "q AS MATERIALIZED (")
    s"WITH $base,\n${parts.mkString(",\n")}\n" + finish
  }

  // direct trained-chain output (the strong per-row oracle for the
  // whole train -> spill-assign -> residual-PQ -> rerank pipeline)
  private lazy val knnIvfPqTrainedSql =
    knnIvfPqTrainedSqlFor(16, knnIvfPqRerankFinish(shortlist = 40, topK = 5))

  // recall@5 of the TRAINED serving path vs exact cosine, at FRACTIONAL
  // list coverage (nprobe=16 of 64 trained centroids = 25% — the round-13
  // directive: the md5-quantizer point needed an exhaustive probe for its
  // 1.00, which made the eval blind to list-coverage regressions).
  private lazy val knnIvfPqRecallSql =
    "SELECT b.query_id,\n" +
    "  CAST(count(p.vec_id) AS DOUBLE)/count(*) AS recall_at_5\n" +
    s"FROM ($knnBruteSql) b\n" +
    s"LEFT JOIN ($knnIvfPqTrainedSql) p\n" +
    "  ON p.query_id = b.query_id AND p.vec_id = b.neighbor_id\n" +
    "GROUP BY 1 ORDER BY 1"

  // persisted trained-index serving (raw-vector lists): the oracle is the
  // LIVE trained search — index persistence must be result-invisible,
  // the same contract as knn_ivf_indexed vs knnIvfSql
  private lazy val knnIvfTrainedIndexedSql = {
    val parts = trainedQuantCtes(nprobe = 16, numCentroids = 64, iters = 4,
      assignTop = 2)
    parts += "xx AS MATERIALIZED (SELECT qp.query_id, cc.vec_id AS neighbor_id, " +
      "list_dot_product(rq.emb, rv.emb)/(nq.nrm*nv.nrm) AS sim " +
      "FROM qp JOIN cc ON cc.ccid = qp.ccid " +
      "JOIN raw rq ON rq.vec_id = qp.query_id " +
      "JOIN n nq ON nq.vec_id = qp.query_id " +
      "JOIN raw rv ON rv.vec_id = cc.vec_id " +
      "JOIN n nv ON nv.vec_id = cc.vec_id " +
      "WHERE cc.vec_id <> qp.query_id)"
    // spill dedup over equal sims, then the rank cut
    parts += "dd AS (SELECT query_id, neighbor_id, MAX(sim) AS sim FROM xx GROUP BY 1, 2)"
    val base = duckNormQuantBase
      .replace("e AS (", "e AS MATERIALIZED (")
      .replace("s AS (", "s AS MATERIALIZED (")
      .replace("q AS (", "q AS MATERIALIZED (")
    s"WITH $base,\n${parts.mkString(",\n")}\n" +
      "SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, sim FROM " +
      "(SELECT query_id, neighbor_id, sim, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM dd) " +
      "WHERE rn <= 5 ORDER BY query_id, rank"
  }

  private val qUnionSql =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |UNION
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  private val qRankFamilySql =
    """WITH f AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 100 = 0)
      |SELECT o_orderkey, o_orderstatus, o_totalprice,
      |  CAST(dense_rank() OVER w AS INT) AS drank,
      |  percent_rank() OVER w AS prank,
      |  cume_dist() OVER w AS cdist
      |FROM f
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  private val qSaltedJoinSql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val qNotInSql =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
      |                        WHERE o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  private val approxQuantilesSql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  true AS p50_within_tol, true AS p90_within_tol
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- URL curation oracles: rebuild the synthetic URL corpus
  // (Url.syntheticUrls' per-doc_id contract), replay the canonicalizer
  // (strip fragment/www/default port/tracking params, sort params, fold
  // case and trailing slash), then dedup / per-domain stats / quota sample
  // the synthetic-URL generator CTE alone (Url.syntheticUrls' per-doc_id
  // contract) — shared by the canonicalization chain below and the
  // warc_read oracle, which embeds the raw URL in WARC headers
  private val urlGenCte =
    """u AS (SELECT doc_id, n_chars,
      |    (CASE WHEN doc_id%23=0 THEN 'ftp' ELSE (CASE doc_id%4 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTP' WHEN 2 THEN 'http' ELSE 'HTTPS' END) END)
      |    || '://' || (CASE doc_id%3 WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.' ELSE '' END)
      |    || 'Sub' || (doc_id%7) || '.' || source || '-site.'
      |    || (CASE (doc_id%13)%8 WHEN 0 THEN 'com' WHEN 1 THEN 'Org' WHEN 2 THEN 'net' WHEN 3 THEN 'co.uk' WHEN 4 THEN 'com.au' WHEN 5 THEN 'org.uk' WHEN 6 THEN 'ck' ELSE 'k12.ma.us' END)
      |    || (CASE WHEN doc_id%5=0 THEN (CASE WHEN doc_id%4 IN (0,3) THEN ':443' ELSE ':80' END)
      |             WHEN doc_id%11=0 THEN ':8080' ELSE '' END)
      |    || '/p/' || (doc_id%13) || (CASE WHEN doc_id%6=0 THEN '/' ELSE '' END)
      |    || (CASE doc_id%8 WHEN 0 THEN '?utm_source=feed&b=2&a=1'
      |         WHEN 1 THEN '?id=' || (doc_id%17) || '&utm_campaign=x'
      |         WHEN 2 THEN '?a=1&b=2' WHEN 3 THEN '?b=2&a=1' ELSE '' END)
      |    || (CASE WHEN doc_id%9=0 THEN '#sec' ELSE '' END) AS url
      |  FROM documents)""".stripMargin

  // the PSL snapshot IN-lists, generated from the SAME loaded rule sets
  // the Spark expression probes (graft.ops.Url.pslSnapshot — round 16:
  // the full rule grammar, not just 2-label suffixes) so the two engines
  // can never drift; spliced via replace AFTER stripMargin (single-line,
  // no margin chars) — declared BEFORE their user (object-val init order)
  private def sqlList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("(", ",", ")")

  // concatenated, NOT interpolated into the stripMargin literal: the
  // generator fragment's `||` concat operators would be margin-stripped
  // a second time (the single-line-splice gotcha). The WITH-less chain is
  // shared with crawlCurateE2eSql (declared LAZY — it precedes this val).
  /** The canonicalize+domain steps of [[urlChainCtes]] WITHOUT the
    * generator — reusable against any `u(doc_id, n_chars, url)` input
    * via [[renameCtes]] (the link layer feeds extracted hrefs through
    * the SAME canonicalization the urls take, so the SQL replay must be
    * one definition, renamed, not a second copy that could drift). */
  private val urlCanonSteps =
    """ s1 AS (SELECT doc_id, n_chars, split_part(url, '#', 1) AS base FROM u),
      | s2 AS (SELECT doc_id, n_chars,
      |    lower(split_part(base, '://', 1)) AS scheme,
      |    substr(base, length(split_part(base, '://', 1)) + 4) AS aftersch FROM s1),
      | s3 AS (SELECT doc_id, n_chars, scheme,
      |    split_part(aftersch, '?', 1) AS beforeq,
      |    CASE WHEN contains(aftersch, '?')
      |      THEN substr(aftersch, length(split_part(aftersch, '?', 1)) + 2)
      |      ELSE '' END AS rawq FROM s2),
      | s4 AS (SELECT doc_id, n_chars, scheme, rawq,
      |    split_part(beforeq, '/', 1) AS hostport,
      |    substr(beforeq, length(split_part(beforeq, '/', 1)) + 1) AS rawpath FROM s3),
      | s5 AS (SELECT doc_id, n_chars, scheme, rawq, rawpath,
      |    regexp_replace(lower(split_part(hostport, ':', 1)), '^www\.', '') AS host,
      |    CASE WHEN contains(hostport, ':') THEN split_part(hostport, ':', 2) ELSE '' END AS port FROM s4),
      | s6 AS MATERIALIZED (SELECT doc_id, n_chars, scheme, host,
      |    CASE WHEN port='' OR (scheme='http' AND port='80') OR (scheme='https' AND port='443')
      |      THEN '' ELSE ':' || port END AS keptport,
      |    CASE WHEN rawpath='' THEN '/'
      |      WHEN rawpath<>'/' AND ends_with(rawpath, '/') THEN substr(rawpath, 1, length(rawpath)-1)
      |      ELSE rawpath END AS canonpath,
      |    list_filter(string_split(rawq, '&'), x -> x <> ''
      |      AND NOT starts_with(split_part(x, '=', 1), 'utm_')
      |      AND split_part(x, '=', 1) NOT IN ('fbclid','gclid')) AS ps FROM s5),
      | cc AS MATERIALIZED (SELECT doc_id, n_chars,
      |    scheme || '://' || host || keptport || canonpath ||
      |    (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(list_sort(ps), '&') ELSE '' END) AS url_canon
      |  FROM s6),
      | dh0 AS (SELECT doc_id, n_chars, url_canon,
      |    split_part(split_part(split_part(url_canon, '://', 2), '/', 1), ':', 1) AS bare FROM cc),
      | dh AS (SELECT *,
      |    regexp_extract(bare, '([^.]+)$', 1) AS psl1,
      |    regexp_extract(bare, '([^.]+\.[^.]+)$', 1) AS psl2,
      |    regexp_extract(bare, '([^.]+\.[^.]+\.[^.]+)$', 1) AS psl3,
      |    regexp_extract(bare, '([^.]+\.[^.]+\.[^.]+\.[^.]+)$', 1) AS psl4 FROM dh0),
      | d AS MATERIALIZED (SELECT doc_id, n_chars, url_canon,
      |    CASE WHEN psl3 IN PSL_EXC3_LIST THEN psl3
      |      WHEN psl2 IN PSL_EXC2_LIST THEN psl2
      |      WHEN psl2 IN PSL_WILD2_LIST THEN (CASE WHEN psl4 = '' THEN bare ELSE psl4 END)
      |      WHEN psl3 IN PSL_SUF3_LIST THEN (CASE WHEN psl4 = '' THEN bare ELSE psl4 END)
      |      WHEN psl1 IN PSL_WILD1_LIST THEN (CASE WHEN psl3 = '' THEN bare ELSE psl3 END)
      |      WHEN psl2 IN PSL_SUF2_LIST THEN (CASE WHEN psl3 = '' THEN bare ELSE psl3 END)
      |      ELSE psl2 END AS domain FROM dh),
      | st AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls,
      |    CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS total_chars,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS isqrt
      |  FROM d GROUP BY domain),
      | qt AS (SELECT domain, n_docs, n_urls, total_chars,
      |    greatest(1, CAST(100 * isqrt // (SELECT sum(isqrt) FROM st) AS BIGINT)) AS quota
      |  FROM st)""".stripMargin
      .replace("PSL_EXC3_LIST", sqlList(graft.ops.Url.pslExc3))
      .replace("PSL_EXC2_LIST", sqlList(graft.ops.Url.pslExc2))
      .replace("PSL_WILD2_LIST", sqlList(graft.ops.Url.pslWild2))
      .replace("PSL_SUF3_LIST", sqlList(graft.ops.Url.publicSuffix3))
      .replace("PSL_WILD1_LIST", sqlList(graft.ops.Url.pslWild1))
      .replace("PSL_SUF2_LIST", sqlList(graft.ops.Url.publicSuffix2))

  private val urlChainCtes = urlGenCte + ",\n" + urlCanonSteps

  /** Prefix every CTE name of a spliced SQL fragment — whole-word, so
    * `d` never touches `doc_id` and `u` never touches `url`. */
  private def renameCtes(sql: String, prefix: String): String =
    Seq("s1", "s2", "s3", "s4", "s5", "s6", "cc", "dh0", "dh", "d",
      "st", "qt", "u")
      .foldLeft(sql)((acc, n) => acc.replaceAll("\\b" + n + "\\b", prefix + n))

  private val urlCanonCte = "WITH " + urlChainCtes

  // the URL admission gate: scheme from the canonical key (always
  // lowercased there), domain from the d CTE, blocklist as a NOT IN over
  // the same registrable domains the Spark side broadcasts (one of them
  // a ccTLD-registered name, so the gate's PSL containment is oracled)
  private val urlBlockedSqlList =
    "('src3-site.com','src7-site.net','src7-site.org','src3-site.co.uk')"

  private val urlGateCte =
    "ug AS (SELECT doc_id, url_canon, domain, " +
    "split_part(url_canon, '://', 1) IN ('http','https') AS scheme_ok, " +
    s"domain NOT IN $urlBlockedSqlList AS domain_ok FROM d)"

  private val urlGateSql = urlCanonCte + ",\n" + urlGateCte +
    "\nSELECT doc_id, url_canon, domain, scheme_ok, domain_ok, " +
    "scheme_ok AND domain_ok AS url_keep FROM ug ORDER BY doc_id"

  // crawl-frontier dedup: catalog = distinct canonical forms of docs
  // 0..249; delta keeps its per-canonical first (lowest doc_id) minus
  // catalog members. NOT IN is safe: url_canon is never NULL
  private val urlFrontierSql = urlCanonCte + ",\n" +
    """fcat AS (SELECT DISTINCT url_canon FROM cc WHERE doc_id < 250),
      |fdelta AS (SELECT doc_id, url_canon FROM cc WHERE doc_id >= 250),
      |fintra AS (SELECT doc_id, url_canon,
      |  row_number() OVER (PARTITION BY url_canon ORDER BY doc_id) AS rn FROM fdelta)
      |SELECT doc_id, url_canon FROM fintra
      |WHERE rn = 1 AND url_canon NOT IN (SELECT url_canon FROM fcat)
      |ORDER BY doc_id""".stripMargin

  private val urlDedupSql = urlCanonCte +
    "\nSELECT url_canon, CAST(min(doc_id) AS BIGINT) AS keep_doc_id, " +
    "CAST(count(*) AS BIGINT) AS n_dups FROM cc GROUP BY url_canon ORDER BY url_canon"

  // text normalization: DuckDB's nfc_normalize implements the same
  // UAX #15 canonical composition as java.text.Normalizer; quote/dash
  // folding is a character-for-character translate; whitespace collapse
  // is '\s+' in both engines (RE2 and Java agree on the fixture's
  // whitespace — no \x0B, the duckWords coexistence precedent).
  // normSqlOf is the ONE DuckDB spelling of TextAnalysis.normalizeExpr,
  // shared by the standalone query, the curate-e2e dedup hashes, and
  // dedup_exact_norm (a def: immune to object-val init order; emits a
  // single line — safe to splice into stripMargin blocks).
  private def normSqlOf(e: String): String =
    s"trim(regexp_replace(translate(nfc_normalize($e), " +
    "chr(8216)||chr(8217)||chr(8220)||chr(8221)||chr(8211)||chr(8212), " +
    "chr(39)||chr(39)||chr(34)||chr(34)||chr(45)||chr(45)), " +
    "'\\s+', ' ', 'g'))"

  private val textNormalizeSql =
    """WITH m AS (SELECT doc_id,
      |  CASE WHEN doc_id%3=0 THEN text || ' cafe' || chr(769) || '  ' ||
      |    chr(8220) || 'ok' || chr(8221) || ' ' || chr(8212) || ' fin '
      |  ELSE text END AS raw
      |  FROM documents WHERE text IS NOT NULL),
      |n AS (SELECT doc_id, raw,
      |""".stripMargin +
    s"  ${normSqlOf("raw")} AS text_norm FROM m)\n" +
    """SELECT doc_id, text_norm, text_norm <> raw AS changed
      |FROM n ORDER BY doc_id""".stripMargin

  // robots gate: the oracle rebuilds each domain's RULES directly from
  // the domain string (the fixture contract), then replays RFC 9309
  // longest-match precedence as an argmax over length*2+allow, where
  // length is the RULE PATH AS WRITTEN (wildcard octets included — the
  // round-16 §2.2.3 contract) — the Spark side parses the generated
  // robots TEXT and translates wildcard rules to regexes, so a hash
  // match proves parse∘generate∘translate end-to-end. Wildcard rules
  // carry a hand-written RE2 pattern here (`pat`; literal rules NULL →
  // starts_with), equivalent to the Spark side's \Q…\E translation.
  // The CTE chain (expects `d` in scope, ends at `rg`) is shared
  // verbatim by the standalone gate query and both curate-e2e
  // compositions; the TEMPLATE (round 17) swaps only the regenerated
  // rule set, so the per-agent variant replays the identical
  // match/precedence SQL against the graftbot group's rules.
  private def robotsCtesWith(rules: String) =
    s""" rp AS (SELECT doc_id, url_canon, domain,
      |    substr(split_part(url_canon, '://', 2),
      |      length(split_part(split_part(url_canon, '://', 2), '/', 1)) + 1) AS path FROM d),
      | rdom AS (SELECT DISTINCT domain FROM d),
      | rrules AS (
      |$rules),
      | rm AS (SELECT p.doc_id,
      |    max(length(r.prefix)*2 + CASE WHEN r.allow THEN 1 ELSE 0 END) AS enc
      |  FROM rp p JOIN rrules r
      |    ON p.domain = r.domain AND (CASE WHEN r.pat IS NULL
      |      THEN starts_with(p.path, r.prefix)
      |      ELSE regexp_matches(p.path, r.pat) END)
      |  GROUP BY p.doc_id),
      | rg AS (SELECT rp.doc_id, rp.url_canon, rp.domain, rp.path,
      |    COALESCE(rm.enc % 2 = 1, TRUE) AS robots_ok
      |  FROM rp LEFT JOIN rm ON rp.doc_id = rm.doc_id)""".stripMargin

  /** The `*` group's regenerated rule table (syntheticRobots' contract)
    * — shared by the doc-keyed robots replay and the link-discovery
    * replay (one definition; the rules body must not drift). */
  private val starRulesSql =
    """  SELECT domain, FALSE AS allow,
      |    '/p/' || CAST(length(domain)%13 AS VARCHAR) AS prefix,
      |    CAST(NULL AS VARCHAR) AS pat FROM rdom
      |  UNION ALL SELECT domain, TRUE,
      |    '/p/' || CAST(length(domain)%13 AS VARCHAR) || '2', NULL FROM rdom
      |  UNION ALL SELECT domain, FALSE, '/*?id=', '^/.*\?id=' FROM rdom
      |  UNION ALL SELECT domain, FALSE,
      |    '/p/' || CAST((length(domain)%13+1)%13 AS VARCHAR) || '$',
      |    '^/p/' || CAST((length(domain)%13+1)%13 AS VARCHAR) || '$' FROM rdom
      |  UNION ALL SELECT domain, FALSE, '/admin', NULL FROM rdom
      |  UNION ALL SELECT domain, FALSE, '/page/2$', '^/page/2$' FROM rdom""".stripMargin

  private val robotsCtes = robotsCtesWith(starRulesSql)

  // the graftbot group (syntheticRobots' round-17 contract): Disallow
  // /p/ inverted by Allow /p/{d} — badbot and * rules must NOT appear
  private val robotsAgentCtes = robotsCtesWith(
    """  SELECT domain, FALSE AS allow, '/p/' AS prefix,
      |    CAST(NULL AS VARCHAR) AS pat FROM rdom
      |  UNION ALL SELECT domain, TRUE,
      |    '/p/' || CAST(length(domain)%13 AS VARCHAR), NULL FROM rdom""".stripMargin)

  private val robotsGateSql = urlCanonCte + ",\n" + robotsCtes +
    "\nSELECT doc_id, url_canon, domain, path, robots_ok FROM rg ORDER BY doc_id"

  // per-agent gate (round 17): same match/precedence replay over the
  // graftbot group's regenerated rules — a hash match proves RFC 9309
  // §2.2.1 most-specific group selection (neither the * group's nor
  // badbot's rules may leak into the verdict)
  private val robotsGateAgentSql = urlCanonCte + ",\n" + robotsAgentCtes +
    "\nSELECT doc_id, url_canon, domain, path, robots_ok FROM rg ORDER BY doc_id"

  // robots metadata: crawl_delay and both sitemap URLs regenerate
  // directly from the domain string (the syntheticRobots contract), so
  // a hash match proves the parser recovered the *-group's delay — the
  // literal 0 on len%5 domains (round 17's pinned "no delay" edge),
  // else the fractional {len%3}.5, never the badbot decoy 99 — and
  // collected sitemaps group-independently in file order
  private val starDelaySql =
    "CASE WHEN length(domain)%5 = 0 THEN 0.0 ELSE length(domain)%3 + 0.5 END"

  private val robotsMetaSql = urlCanonCte + s""",
      | rdom AS (SELECT DISTINCT domain FROM d)
      |SELECT domain, $starDelaySql AS crawl_delay,
      |  'https://' || domain || '/s2.xml,https://' || domain ||
      |    '/sitemap.xml' AS sitemaps_csv,
      |  CAST(2 AS BIGINT) AS n_sitemaps
      |FROM rdom ORDER BY domain""".stripMargin

  // per-agent metadata: the graftbot group's {len%2}.25 delay wins;
  // sitemaps stay group-independent (identical to the * run)
  private val robotsMetaAgentSql = urlCanonCte + """,
      | rdom AS (SELECT DISTINCT domain FROM d)
      |SELECT domain, length(domain)%2 + 0.25 AS crawl_delay,
      |  'https://' || domain || '/s2.xml,https://' || domain ||
      |    '/sitemap.xml' AS sitemaps_csv,
      |  CAST(2 AS BIGINT) AS n_sitemaps
      |FROM rdom ORDER BY domain""".stripMargin

  // sitemap seeds, v2 (round 17): each domain's expected <loc> set per
  // URLSET file regenerates directly from the domain string — sm-1's
  // 1+len%3 whitespace-padded entries plus the entity-escaped one (the
  // extractor must emit the DECODED '&'), the gzipped sm-2's two (the
  // extractor must gunzip), and NOTHING from the index file (its locs
  // are child sitemaps, not seeds) or either comment decoy (one
  // multi-line — the strip must be DOTALL)
  // rdom is MATERIALIZED: without it DuckDB 1.0 inlines the deep url
  // canonicalize chain into every union branch × the window × the
  // anti-join of crawl_discover_e2e and the plan explodes (OOM on a
  // 500-row input); materializing the 178-domain frame once is the
  // obviously-right shape in any engine
  private val sitemapSeedEntriesCtes =
    """ rdom AS MATERIALIZED (SELECT DISTINCT domain FROM d),
      | sg AS (SELECT domain,
      |    unnest(range(1, length(domain)%3 + 2)) AS i FROM rdom),
      | ss AS (
      |  SELECT domain, 'https://' || domain || '/sm-1.xml' AS sitemap,
      |    CAST(i AS BIGINT) AS seed_idx,
      |    'https://' || domain || '/page/' || CAST(i AS VARCHAR) AS seed_url
      |  FROM sg
      |  UNION ALL SELECT domain, 'https://' || domain || '/sm-1.xml',
      |    CAST(length(domain)%3 + 2 AS BIGINT),
      |    'https://' || domain || '/page/esc?a=1&b=2' FROM rdom
      |  UNION ALL SELECT domain, 'https://' || domain || '/sm-2.xml.gz',
      |    CAST(1 AS BIGINT), 'https://' || domain || '/gz/1' FROM rdom
      |  UNION ALL SELECT domain, 'https://' || domain || '/sm-2.xml.gz',
      |    CAST(2 AS BIGINT), 'https://' || domain || '/page/1' FROM rdom)""".stripMargin

  private val sitemapSeedsSql = urlCanonCte + ",\n" + sitemapSeedEntriesCtes +
    """
      |SELECT domain, sitemap, seed_idx, seed_url, seed_url AS seed_canon
      |FROM ss ORDER BY domain, sitemap, seed_idx""".stripMargin

  // per-seed lastmod: sm-1's i-th entry carries lastmod 2026-01-0i,
  // the escaped entry and both gz entries carry none — regenerated per
  // domain, so a hash match proves the PER-BLOCK pairing (a flat
  // parallel tag zip would mis-attach dates the moment one entry
  // omits lastmod)
  private val sitemapLastmodSql = urlCanonCte + """,
      | rdom AS MATERIALIZED (SELECT DISTINCT domain FROM d),
      | sg AS (SELECT domain,
      |    unnest(range(1, length(domain)%3 + 2)) AS i FROM rdom),
      | sl AS (
      |  SELECT domain, 'https://' || domain || '/sm-1.xml' AS sitemap,
      |    CAST(i AS BIGINT) AS seed_idx,
      |    'https://' || domain || '/page/' || CAST(i AS VARCHAR) AS seed_canon,
      |    CAST('2026-01-0' || CAST(i AS VARCHAR) AS DATE) AS lastmod
      |  FROM sg
      |  UNION ALL SELECT domain, 'https://' || domain || '/sm-1.xml',
      |    CAST(length(domain)%3 + 2 AS BIGINT),
      |    'https://' || domain || '/page/esc?a=1&b=2', NULL FROM rdom
      |  UNION ALL SELECT domain, 'https://' || domain || '/sm-2.xml.gz',
      |    CAST(1 AS BIGINT), 'https://' || domain || '/gz/1', NULL FROM rdom
      |  UNION ALL SELECT domain, 'https://' || domain || '/sm-2.xml.gz',
      |    CAST(2 AS BIGINT), 'https://' || domain || '/page/1', NULL FROM rdom)
      |SELECT domain, sitemap, seed_idx, seed_canon, lastmod
      |FROM sl ORDER BY domain, sitemap, seed_idx""".stripMargin

  // sitemap index children: three per domain from the index file, the
  // third (sm-404.xml) unfetched — regenerated straight from the
  // domain string; the multi-line-commented child must NOT appear
  private val sitemapIndexSql = urlCanonCte + """,
      | rdom AS (SELECT DISTINCT domain FROM d),
      | ch AS (SELECT domain, unnest(range(1, 4)) AS i FROM rdom)
      |SELECT domain, 'https://' || domain || '/sitemap.xml' AS index_url,
      |  CAST(i AS BIGINT) AS child_idx,
      |  'https://' || domain || CASE i WHEN 1 THEN '/sm-1.xml'
      |    WHEN 2 THEN '/sm-2.xml.gz' ELSE '/sm-404.xml' END AS child_url,
      |  'https://' || domain || CASE i WHEN 1 THEN '/sm-1.xml'
      |    WHEN 2 THEN '/sm-2.xml.gz' ELSE '/sm-404.xml' END AS child_canon,
      |  i < 3 AS fetched
      |FROM ch ORDER BY domain, child_idx""".stripMargin

  // crawl discovery e2e: regenerated urlset seeds (both reachable via
  // the index), gated on scheme + blocklist + the domain's ROBOTS
  // rules (the complete front end), first-occurrence per canonical
  // seed (the gz shard's duplicate /page/1 collapses to sm-1's), then
  // novelty vs the admitted catalog — doc canons < 250 plus the
  // prior-batch seed catalog (even-length domains' /page/1). The
  // robots gate replays as ONE anchored regex: of the * group's six
  // rules, only '/page/2$' can match seed space (/p/-prefix rules,
  // '/*?id=' and '/admin' cannot match /page//gz paths — verified by
  // enumeration), so the single-rule filter IS the full precedence
  // verdict for these seeds; the Spark side runs the general argmax.
  private val crawlDiscoverE2eSql = urlCanonCte + ",\n" +
    sitemapSeedEntriesCtes + s""",
      | sgate AS (SELECT * FROM ss WHERE domain NOT IN $urlBlockedSqlList
      |   AND NOT regexp_matches(substr(seed_url, 9 + length(domain)),
      |     '^/page/2${'$'}')),
      | sfirst AS (SELECT domain, sitemap, seed_idx, seed_url FROM (
      |    SELECT g.*, row_number() OVER (PARTITION BY seed_url
      |      ORDER BY sitemap, seed_idx) AS rn FROM sgate g) WHERE rn = 1),
      | fcat AS (SELECT DISTINCT url_canon FROM cc WHERE doc_id < 250),
      | scat AS (SELECT 'https://' || domain || '/page/1' AS url_canon
      |    FROM rdom WHERE length(domain)%2 = 0)
      |SELECT domain, sitemap, seed_idx, seed_url, seed_url AS seed_canon
      |FROM sfirst
      |WHERE seed_url NOT IN (SELECT url_canon FROM fcat
      |  UNION ALL SELECT url_canon FROM scat)
      |ORDER BY domain, sitemap, seed_idx""".stripMargin

  // crawl budget: the full admission front end (scheme + blocklist +
  // robots verdicts — the ug/rg CTE chains) collapsed per domain, then
  // politeness arithmetic: est = n·delay, cap = floor(target/delay),
  // except delay = 0 ("no delay", the round-17 pinned edge) where the
  // no-cap semantics are Long.MaxValue in both engines. All values
  // exact in double (n × (k+0.5), 3600/(k+0.5) for k in 0..2)
  private def crawlBudgetSqlWith(robots: String, delay: String) =
    urlCanonCte + ",\n" + urlGateCte + ",\n" + robots + s""",
      | bb AS (SELECT ug.domain, CAST(count(*) AS BIGINT) AS n_admitted
      |  FROM ug JOIN rg ON ug.doc_id = rg.doc_id
      |  WHERE ug.scheme_ok AND ug.domain_ok AND rg.robots_ok GROUP BY 1),
      | bd AS (SELECT domain, n_admitted, $delay AS crawl_delay_s FROM bb),
      | bc AS (SELECT domain, n_admitted, crawl_delay_s,
      |    CASE WHEN crawl_delay_s = 0 THEN 9223372036854775807
      |      ELSE CAST(floor(3600.0 / crawl_delay_s) AS BIGINT)
      |      END AS cap_pages FROM bd)
      |SELECT domain, n_admitted, crawl_delay_s,
      |  n_admitted * crawl_delay_s AS est_crawl_s,
      |  cap_pages, least(n_admitted, cap_pages) AS n_fetchable
      |FROM bc ORDER BY domain""".stripMargin

  private val crawlBudgetSql = crawlBudgetSqlWith(robotsCtes, starDelaySql)

  private val crawlBudgetAgentSql =
    crawlBudgetSqlWith(robotsAgentCtes, "length(domain)%2 + 0.25")

  /** The LINK-LAYER oracle CTEs (round 17, [[graft.ops.Links]]): the
    * expected `linkExtract` output REGENERATED from the same doc_id
    * arithmetic the fixture uses (hash equality proves parse∘generate =
    * identity — the syntheticRobots convention), with every extracted
    * href_abs pushed through the canonical chain RENAMED (`l` prefix) so
    * target canonicalization is the same single definition the urls
    * take, not a second copy. Splice after [[urlChainCtes]]. */
  private val linkLayerCtes = {
    val tld2 = "(CASE (doc_id%13+1)%8 WHEN 0 THEN 'com' WHEN 1 THEN 'Org' " +
      "WHEN 2 THEN 'net' WHEN 3 THEN 'co.uk' WHEN 4 THEN 'com.au' " +
      "WHEN 5 THEN 'org.uk' WHEN 6 THEN 'ck' ELSE 'k12.ma.us' END)"
    val root = "scheme || '://' || host || keptport"
    s"""lb AS (SELECT s6.doc_id, d2.source, s6.scheme, s6.host, s6.keptport,
      |    s6.doc_id%13 AS m13, s6.doc_id%7 AS m7, s6.doc_id%6 AS m6,
      |    s6.doc_id%4 AS m4, s6.doc_id%3 AS m3, s6.doc_id%9 AS m9,
      |    $tld2 AS tld2
      |  FROM s6 JOIN documents d2 USING (doc_id)),
      | lraw AS (
      |  SELECT doc_id, CAST(1 AS BIGINT) AS link_idx,
      |    'https://www.' || source || '-site.' || tld2 || '/p/' || m13 ||
      |      (CASE WHEN m4=0 THEN '?b=2&amp;a=1' ELSE '' END) AS href,
      |    'https://www.' || source || '-site.' || tld2 || '/p/' || m13 ||
      |      (CASE WHEN m4=0 THEN '?b=2&a=1' ELSE '' END) AS href_abs,
      |    'Read more ' || doc_id || ' &amp; extras' AS anchor,
      |    FALSE AS nofollow FROM lb
      |  UNION ALL
      |  SELECT doc_id, CAST(3 AS BIGINT), '/p/' || m13 || '/child',
      |    $root || '/p/' || m13 || '/child', 'Next page', FALSE FROM lb
      |  UNION ALL
  -- slot 5 (round 18, RFC 3986 §5.2.3): a <base href="/bdir/"> (m11=0)
  -- overrides the page as the resolution base; otherwise the base is
  -- the page URL WITH its directory slash restored — every 6th doc's
  -- raw path ends in '/', so '../up/<m7>' resolves from INSIDE the
  -- /p/<m13>/ directory to /p/up/<m7> (pre-r18 the slash-stripped
  -- canonical base wrongly yielded /up/<m7>)
      |  SELECT doc_id, CAST(5 AS BIGINT),
      |    CASE WHEN m6=0 THEN '../up/' || m7 ELSE 'sib' || m7 || '.html' END,
      |    $root || (CASE WHEN m6=0 AND doc_id%11=0 THEN '/up/' || m7
      |      WHEN m6=0 THEN '/p/up/' || m7
      |      WHEN doc_id%11=0 THEN '/bdir/sib' || m7 || '.html'
      |      ELSE '/p/sib' || m7 || '.html' END),
      |    'Sibling ' || m7, FALSE FROM lb
      |  UNION ALL
      |  SELECT doc_id, CAST(6 AS BIGINT),
      |    '//cdn' || m3 || '.example.net/r/' || m9,
      |    scheme || '://cdn' || m3 || '.example.net/r/' || m9,
      |    'sponsored & paid', TRUE FROM lb),
      | lu AS (SELECT doc_id*10 + link_idx AS doc_id,
      |    CAST(0 AS BIGINT) AS n_chars, href_abs AS url FROM lraw),
      |""".stripMargin +
      renameCtes(urlCanonSteps, "l") + """,
      | lx AS (SELECT lraw.doc_id, lraw.link_idx, lraw.href, lraw.href_abs,
      |    ld.url_canon AS target_canon, ld.domain AS target_domain,
      |    lraw.anchor, lraw.nofollow
      |  FROM lraw JOIN ld ON ld.doc_id = lraw.doc_id*10 + lraw.link_idx)""".stripMargin
  }

  private val linkExtractSql = urlCanonCte + ",\n" + linkLayerCtes +
    "\nSELECT doc_id, link_idx, href, href_abs, target_canon, anchor, " +
    "nofollow FROM lx ORDER BY doc_id, link_idx"

  // first_anchor: lexicographic (doc_id, link_idx) winner via DuckDB's
  // ordered aggregate — the same convention as Spark's min_by struct key
  // (a numeric composite key breaks at >=100 tags/page; round-18 ADVICE)
  private val anchorTextSql = urlCanonCte + ",\n" + linkLayerCtes + """
    |SELECT target_canon, CAST(count(*) AS BIGINT) AS n_links,
    |  CAST(sum(CASE WHEN NOT nofollow THEN 1 ELSE 0 END) AS BIGINT) AS n_follow,
    |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_docs,
    |  first(anchor ORDER BY doc_id, link_idx) AS first_anchor
    |FROM lx GROUP BY 1 ORDER BY 1""".stripMargin

  /** Follow edges between DIFFERENT registrable domains: source domain
    * from the base chain's `d`, target domain riding `lx` (joined once
    * where the target canon is — a second `ld` instantiation here made
    * DuckDB's inliner re-expand the whole chain per reference). */
  private val linkEdgeCte =
    """e AS (SELECT d.domain AS src, lx.target_domain AS dst
      |  FROM lx JOIN d ON d.doc_id = lx.doc_id
      |  WHERE NOT lx.nofollow AND d.domain <> lx.target_domain)""".stripMargin

  private val linkGraphSql = urlCanonCte + ",\n" + linkLayerCtes + ",\n" +
    linkEdgeCte + """
    |SELECT src, dst, CAST(count(*) AS BIGINT) AS weight FROM e
    |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val hostPageRankSql = urlCanonCte + ",\n" + linkLayerCtes + ",\n" +
    linkEdgeCte + ",\n" + pageRankIterSql(3)

  /** Link-discovery replay: the regenerated link table gated exactly as
    * [[graft.ops.Links.linkDiscover]] — follow-only, scheme, blocklist
    * on the target's registrable domain (from the renamed `ld` chain),
    * the `*` group's rules (the SHARED [[starRulesSql]] body) matched
    * against the target path with the RFC precedence encoding, then
    * first-occurrence argmin and the catalog NOT-IN. */
  private val linkDiscoverCtes = urlCanonCte + ",\n" +
    linkLayerCtes.replace("lx AS (SELECT", "lx AS MATERIALIZED (SELECT") +
    s""",
      | ldg AS (SELECT doc_id, link_idx, href_abs, target_canon,
      |    target_domain AS tdomain,
      |    substr(split_part(target_canon, '://', 2),
      |      length(split_part(split_part(target_canon, '://', 2), '/', 1)) + 1) AS tpath
      |  FROM lx WHERE NOT nofollow
      |    AND split_part(target_canon, '://', 1) IN ('http', 'https')
      |    AND target_domain NOT IN $urlBlockedSqlList),
      | rdom AS (SELECT DISTINCT domain FROM d),
      | rrules AS (
      |$starRulesSql),
      | lrm AS (SELECT g.doc_id, g.link_idx,
      |    max(length(r.prefix)*2 + CASE WHEN r.allow THEN 1 ELSE 0 END) AS enc
      |  FROM ldg g JOIN rrules r ON g.tdomain = r.domain AND
      |    (CASE WHEN r.pat IS NULL THEN starts_with(g.tpath, r.prefix)
      |     ELSE regexp_matches(g.tpath, r.pat) END)
      |  GROUP BY 1, 2),
      | lok AS (SELECT g.* FROM ldg g LEFT JOIN lrm
      |    ON g.doc_id = lrm.doc_id AND g.link_idx = lrm.link_idx
      |  WHERE COALESCE(lrm.enc % 2 = 1, TRUE)),
      | lcat AS (SELECT DISTINCT target_canon FROM lx
      |  WHERE link_idx = 3 AND doc_id%5 = 0),
      | lfirst AS (SELECT target_canon,
      |    first(doc_id ORDER BY doc_id, link_idx) AS doc_id,
      |    first(link_idx ORDER BY doc_id, link_idx) AS link_idx,
      |    first(href_abs ORDER BY doc_id, link_idx) AS target_url,
      |    min(tdomain) AS tdomain
      |  FROM lok GROUP BY 1)""".stripMargin

  private val linkDiscoverSql = linkDiscoverCtes + """
    |SELECT doc_id, link_idx, target_url, target_canon FROM lfirst
    |WHERE target_canon NOT IN (SELECT target_canon FROM lcat)
    |ORDER BY target_canon""".stripMargin

  /** Redirect-aware discovery replay ([[graft.ops.Links
    * .linkDiscoverResolved]]): the same gated first-occurrence
    * candidates, probed against the regenerated redirect map's
    * CLOSED-FORM resolution — the fixture's chains are ≤2 hops by
    * construction (child → /p/m, then /p/m → /final/m when m%8=0), so
    * the oracle states the chain end directly instead of replaying the
    * pointer doubling; the m13=12 CYCLE rows drop (unresolved). The
    * RESOLVED fetch is then RE-GATED (round 19, r18 ADVICE): the
    * domain's rules re-match against the FINAL path — in this fixture
    * the anchored `/p/{(d+1)%13}$` rule genuinely drops resolved
    * `/p/4` finals on len%13=3 domains that their stubs passed. The
    * final host equals the stub's host by fixture construction, so
    * the re-gate's blocklist/domain probe reuses `tdomain` (the Spark
    * op re-derives it generally). The novelty NOT-IN probes the FINAL
    * url, not the stub. */
  private val linkDiscoverResolvedSql = linkDiscoverCtes + """,
    | rmap AS (SELECT DISTINCT
    |    scheme || '://' || host || keptport || '/p/' || m13 || '/child' AS src,
    |    CASE WHEN m13%8=0
    |      THEN scheme || '://' || host || keptport || '/final/' || m13
    |      WHEN m13=4
    |      THEN scheme || '://' || host || keptport || '/ok/4'
    |      ELSE scheme || '://' || host || keptport || '/p/' || m13
    |      END AS fin,
    |    CASE WHEN m13%8=0 THEN 2 ELSE 1 END AS rhops,
    |    m13 <> 12 AS rok
    |  FROM lb WHERE m13%4 = 0
    |  UNION ALL SELECT DISTINCT
    |    scheme || '://' || host || keptport ||
    |      (CASE WHEN doc_id%11=0 THEN '/bdir/sib5.html'
    |       ELSE '/p/sib5.html' END) AS src,
    |    scheme || '://' || host || keptport || '/admin/redir' AS fin,
    |    1 AS rhops, TRUE AS rok
    |  FROM lb WHERE m6 <> 0 AND m7 = 5),
    | lres AS (SELECT f.doc_id, f.link_idx, f.target_url, f.target_canon,
    |    f.tdomain,
    |    COALESCE(r.fin, f.target_canon) AS final_canon,
    |    CAST(COALESCE(r.rhops, 0) AS BIGINT) AS hops
    |  FROM lfirst f LEFT JOIN rmap r ON f.target_canon = r.src
    |  WHERE r.src IS NULL OR r.rok),
    | lfp AS (SELECT *, substr(split_part(final_canon, '://', 2),
    |    length(split_part(split_part(final_canon, '://', 2), '/', 1)) + 1)
    |    AS fpath
    |  FROM lres
    |  WHERE split_part(final_canon, '://', 1) IN ('http', 'https')),
    | lfm AS (SELECT p.target_canon AS tc,
    |    max(length(r.prefix)*2 + CASE WHEN r.allow THEN 1 ELSE 0 END) AS enc
    |  FROM lfp p JOIN rrules r ON p.tdomain = r.domain AND
    |    (CASE WHEN r.pat IS NULL THEN starts_with(p.fpath, r.prefix)
    |     ELSE regexp_matches(p.fpath, r.pat) END)
    |  GROUP BY 1),
    | lfok AS (SELECT p.* FROM lfp p LEFT JOIN lfm
    |    ON p.target_canon = lfm.tc
    |  WHERE COALESCE(lfm.enc % 2 = 1, TRUE)),
    | lwin AS (SELECT final_canon,
    |    first(doc_id ORDER BY doc_id, link_idx) AS doc_id,
    |    first(link_idx ORDER BY doc_id, link_idx) AS link_idx,
    |    first(target_url ORDER BY doc_id, link_idx) AS target_url,
    |    first(target_canon ORDER BY doc_id, link_idx) AS target_canon,
    |    first(hops ORDER BY doc_id, link_idx) AS hops
    |  FROM lfok GROUP BY 1)
    |SELECT doc_id, link_idx, target_url, target_canon, final_canon, hops
    |FROM lwin WHERE final_canon NOT IN (SELECT target_canon FROM lcat)
    |ORDER BY final_canon""".stripMargin

  /** Anchor-endorsed frontier replay ([[graft.ops.Links.frontierRank]]):
    * the novel admitted targets joined with the anchor aggregates over
    * ALL links (nofollow rows count into n_links-side stats but not
    * n_follow — the same frame [[anchorTextSql]] aggregates), ranked
    * per registrable domain by (n_follow DESC, n_src_docs DESC,
    * target_canon) — the deterministic politeness-queue order. */
  private val frontierAnchorRankSql = linkDiscoverCtes + """,
    | novel AS (SELECT * FROM lfirst
    |  WHERE target_canon NOT IN (SELECT target_canon FROM lcat)),
    | aagg AS (SELECT target_canon,
    |    CAST(sum(CASE WHEN NOT nofollow THEN 1 ELSE 0 END) AS BIGINT)
    |      AS n_follow,
    |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_src_docs,
    |    first(anchor ORDER BY doc_id, link_idx) AS first_anchor
    |  FROM lx GROUP BY 1)
    |SELECT n.tdomain AS domain, n.target_canon, n.target_url,
    |  a.n_follow, a.n_src_docs, a.first_anchor,
    |  CAST(row_number() OVER (PARTITION BY n.tdomain
    |    ORDER BY a.n_follow DESC, a.n_src_docs DESC, n.target_canon)
    |    AS BIGINT) AS priority
    |FROM novel n JOIN aagg a USING (target_canon)
    |ORDER BY domain, priority""".stripMargin

  /** Authority-weighted frontier replay ([[graft.ops.Links
    * .frontierRankAuthority]]): the anchor-rank chain plus the host
    * graph's integer PageRank (the SHARED [[pageRankIterCtes]] body —
    * host_pagerank's exact semantics), authority = Σ pr(src domain)
    * over CROSS-DOMAIN follow in-links (internal links endorse
    * nothing; a src host off the rank table contributes 0 — here the
    * rank covers every linking host by construction), ordered
    * authority-first within each target domain's queue. */
  private val frontierAuthorityRankSql = linkDiscoverCtes + ",\n" +
    linkEdgeCte + ",\n" + pageRankIterCtes(3) + """,
    | novel AS (SELECT * FROM lfirst
    |  WHERE target_canon NOT IN (SELECT target_canon FROM lcat)),
    | asrc AS (SELECT lx.target_canon, lx.target_domain, lx.nofollow,
    |    lx.doc_id, lx.link_idx, lx.anchor, d.domain AS srcd
    |  FROM lx JOIN d ON d.doc_id = lx.doc_id),
    | aagg AS (SELECT asrc.target_canon,
    |    CAST(sum(CASE WHEN NOT asrc.nofollow
    |        AND asrc.srcd <> asrc.target_domain
    |      THEN COALESCE(r.pr, 0) ELSE 0 END) AS BIGINT) AS authority,
    |    CAST(sum(CASE WHEN NOT asrc.nofollow THEN 1 ELSE 0 END)
    |      AS BIGINT) AS n_follow,
    |    CAST(count(DISTINCT asrc.doc_id) AS BIGINT) AS n_src_docs,
    |    first(asrc.anchor ORDER BY asrc.doc_id, asrc.link_idx)
    |      AS first_anchor
    |  FROM asrc LEFT JOIN r3 r ON r.node = asrc.srcd GROUP BY 1)
    |SELECT n.tdomain AS domain, n.target_canon, n.target_url,
    |  a.authority, a.n_follow, a.n_src_docs, a.first_anchor,
    |  CAST(row_number() OVER (PARTITION BY n.tdomain
    |    ORDER BY a.authority DESC, a.n_follow DESC, a.n_src_docs DESC,
    |      n.target_canon) AS BIGINT) AS priority
    |FROM novel n JOIN aagg a USING (target_canon)
    |ORDER BY domain, priority""".stripMargin

  /** Meta-refresh replay: the expected extraction regenerated from the
    * fixture arithmetic (every 9th doc, minus the url-less self-reload
    * stripe), resolved against the base chain's s6 parts. */
  private val metaRefreshSql = urlCanonCte + """,
      | mrb AS (SELECT s6.doc_id, s6.scheme, s6.host, s6.keptport,
      |    s6.doc_id%7 AS m7, s6.doc_id%2 AS m2
      |  FROM s6 WHERE s6.doc_id%9 = 0 AND s6.doc_id%5 <> 0)
      |SELECT doc_id,
      |  CASE WHEN m2=0 THEN 2.0 ELSE 3.0 END AS delay_s,
      |  '/moved/' || m7 AS target,
      |  scheme || '://' || host || keptport || '/moved/' || m7
      |    AS target_canon
      |FROM mrb ORDER BY doc_id""".stripMargin

  /** rel=canonical replay: the declared href/canon regenerated from the
    * fixture arithmetic; `is_self` compares against the base chain's
    * own url_canon (query-bearing pages are NOT self under a
    * query-stripped declaration — the chain decides, not a CASE). */
  private val relCanonicalCtes = """rcb AS (SELECT s6.doc_id, s6.scheme,
      |    s6.host, s6.keptport,
      |    cc.url_canon, d2.source,
      |    s6.doc_id%13 AS m13, s6.doc_id%3 AS m3,
      |    (CASE (s6.doc_id%13)%8 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
      |      WHEN 2 THEN 'net' WHEN 3 THEN 'co.uk' WHEN 4 THEN 'com.au'
      |      WHEN 5 THEN 'org.uk' WHEN 6 THEN 'ck'
      |      ELSE 'k12.ma.us' END) AS tldl
      |  FROM s6 JOIN cc ON cc.doc_id = s6.doc_id
      |  JOIN documents d2 ON d2.doc_id = s6.doc_id
      |  WHERE s6.doc_id%7 = 0),
      | rcx AS (SELECT doc_id, url_canon,
      |    CASE WHEN m3=0 THEN '/p/' || m13
      |      ELSE 'https://' || source || '-site.' || tldl || '/p/' || m13
      |      END AS href,
      |    CASE WHEN m3=0
      |      THEN scheme || '://' || host || keptport || '/p/' || m13
      |      ELSE 'https://' || source || '-site.' || tldl || '/p/' || m13
      |      END AS canonical_canon
      |  FROM rcb)""".stripMargin

  private val relCanonicalSql = urlCanonCte + ",\n" + relCanonicalCtes + """
      |SELECT doc_id, href, canonical_canon,
      |  (canonical_canon = url_canon) AS is_self
      |FROM rcx ORDER BY doc_id""".stripMargin

  /** Canonical-declaration dedup replay ([[graft.ops.Links
    * .canonicalDedup]]): the url-gate verdicts (`ug`) left-joined with
    * the regenerated declarations (`rcx`), keyed on
    * `coalesce(canonical_canon, url_canon)`, winner = lowest doc_id
    * among GATE-PASSERS of the key; gated-out pages keep=false and
    * never claim a slot. */
  private val dedupCanonicalSql = urlCanonCte + ",\n" + urlGateCte +
    ",\n " + relCanonicalCtes + """,
      | ck AS (SELECT ug.doc_id,
      |    (ug.scheme_ok AND ug.domain_ok) AS url_ok,
      |    rcx.canonical_canon IS NOT NULL AS declared,
      |    COALESCE(rcx.canonical_canon, ug.url_canon) AS dedup_key
      |  FROM ug LEFT JOIN rcx ON rcx.doc_id = ug.doc_id),
      | cw AS (SELECT dedup_key, min(doc_id) AS w FROM ck
      |  WHERE url_ok GROUP BY 1)
      |SELECT ck.doc_id, ck.url_ok, ck.declared, ck.dedup_key,
      |  (cw.w IS NOT NULL AND ck.doc_id = cw.w) AS keep
      |FROM ck LEFT JOIN cw USING (dedup_key) ORDER BY ck.doc_id""".stripMargin

  /** Anchor-endorsed curation replay ([[graft.ops.Links
    * .anchorEndorsedCurate]]): the regenerated endorsement edges (one
    * follow link per non-head doc at its block head, nofollow on
    * doc%4=0) aggregate per the HEAD's canonical URL — colliding
    * canons merge, exactly the operator's group key — and the keep
    * verdict is quality-pass OR ≥3 follow endorsements; the quality
    * side reuses the quality_filter chain verbatim. */
  private val anchorCurateSql = urlCanonCte + ",\n" + duckQualityCtes + """,
      | el AS (SELECT doc_id AS src, doc_id - doc_id%10 AS tgt,
      |    doc_id%4 = 0 AS nof FROM documents WHERE doc_id%10 <> 0),
      | elc AS (SELECT el.src, el.nof, d.url_canon AS tcanon
      |  FROM el JOIN d ON d.doc_id = el.tgt),
      | ea AS (SELECT tcanon,
      |    CAST(sum(CASE WHEN NOT nof THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_follow,
      |    CAST(count(DISTINCT src) AS BIGINT) AS n_src_docs,
      |    'rec ' || min(src) AS first_anchor
      |  FROM elc GROUP BY 1)
      |SELECT d.doc_id, d.url_canon,
      |  (r.fail_reasons = '') AS quality_keep,
      |  COALESCE(ea.n_follow, 0) AS n_follow,
      |  COALESCE(ea.n_src_docs, 0) AS n_src_docs,
      |  ea.first_anchor,
      |  (r.fail_reasons = '' OR COALESCE(ea.n_follow, 0) >= 3) AS keep
      |FROM d JOIN r USING (doc_id) LEFT JOIN ea ON d.url_canon = ea.tcanon
      |ORDER BY d.doc_id""".stripMargin

  /** Pointer-doubling replay: the SAME ⌈log₂ 8⌉ = 3 left self-joins
    * Graph.resolveChains plans, so chain ends, hop counts, and the
    * deterministic cycle landing points agree to the bit. */
  private val redirectResolveSql =
    """WITH rg AS (SELECT doc_id, doc_id%8 AS p,
      |    (doc_id - doc_id%8) // 8 AS c FROM documents),
      | re AS (SELECT
      |    'https://r' || (c%97) || '.example.com/hop/' || c || '/' || p AS src,
      |    CASE WHEN p < c%7 + 1
      |      THEN 'https://r' || (c%97) || '.example.com/hop/' || c || '/' || (p+1)
      |      ELSE 'https://r' || (c%97) || '.example.com/hop/' || c || '/0' END AS dst
      |  FROM rg WHERE p < c%7 + 1 OR (p = c%7 + 1 AND c%13 = 0)),
      | m0 AS (SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM re),
      | m1 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst,
      |    a.hops + COALESCE(b.hops, 0) AS hops
      |  FROM m0 a LEFT JOIN m0 b ON a.dst = b.src),
      | m2 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst,
      |    a.hops + COALESCE(b.hops, 0) AS hops
      |  FROM m1 a LEFT JOIN m1 b ON a.dst = b.src),
      | m3 AS (SELECT a.src, COALESCE(b.dst, a.dst) AS dst,
      |    a.hops + COALESCE(b.hops, 0) AS hops
      |  FROM m2 a LEFT JOIN m2 b ON a.dst = b.src),
      | sk AS (SELECT DISTINCT src FROM re)
      |SELECT m3.src, m3.dst AS final_url, m3.hops,
      |  (sk.src IS NULL) AS resolved
      |FROM m3 LEFT JOIN sk ON m3.dst = sk.src ORDER BY m3.src""".stripMargin

  /** Recrawl-queue replay: seeds + lastmods + the fetch-log stripe all
    * REGENERATED from the domain string (the sitemap-fixture
    * convention), then the same stale filter, rank window, and
    * politeness arithmetic. `rdom` is MATERIALIZED — DuckDB inlines
    * CTEs, and this query references the domain through enough layers
    * (union branches × fetch-log subquery × stale join × rank window)
    * that filter pushdown re-inlines the PSL/canon expression tree
    * per reference and exhausts memory (the CollapseProject disease,
    * DuckDB edition); materializing the 10⁴-row domain set bounds it. */
  private val recrawlQueueSql = urlCanonCte + s""",
      | rdom AS MATERIALIZED (SELECT DISTINCT domain FROM d),
      | rsl0 AS (SELECT domain,
      |    unnest(range(1, length(domain)%3 + 2)) AS i FROM rdom),
      | rsl1 AS (SELECT domain,
      |    'https://' || domain || '/page/' || i AS seed_canon,
      |    CAST('2026-01-0' || i AS DATE) AS lastmod FROM rsl0
      |  UNION ALL SELECT domain,
      |    'https://' || domain || '/page/esc?a=1&b=2', NULL FROM rdom
      |  UNION ALL SELECT domain,
      |    'https://' || domain || '/gz/1', NULL FROM rdom),
      | rfl AS (SELECT seed_canon,
      |    DATE '2026-02-01' - CAST((length(seed_canon)*3 +
      |      ascii(right(seed_canon, 1)))%45 AS INT) AS last_fetch
      |  FROM (SELECT DISTINCT seed_canon FROM rsl1)
      |  WHERE (length(seed_canon)*7)%10 < 7),
      | rst AS (SELECT rsl1.domain, rsl1.seed_canon, rsl1.lastmod,
      |    rfl.last_fetch
      |  FROM rsl1 LEFT JOIN rfl USING (seed_canon)
      |  WHERE rfl.last_fetch IS NULL OR
      |    (rsl1.lastmod IS NOT NULL AND rsl1.lastmod > rfl.last_fetch)),
      | rrq AS (SELECT domain, seed_canon, lastmod, last_fetch,
      |    CAST(row_number() OVER (PARTITION BY domain
      |      ORDER BY lastmod DESC NULLS LAST, seed_canon) AS BIGINT)
      |      AS queue_rank
      |  FROM rst)
      |SELECT domain, seed_canon, lastmod, last_fetch, queue_rank,
      |  (queue_rank - 1) * ($starDelaySql) AS est_wait_s
      |FROM rrq ORDER BY domain, queue_rank""".stripMargin

  private val domainStatsSql = urlCanonCte +
    "\nSELECT domain, n_docs, n_urls, total_chars, quota FROM qt ORDER BY domain"

  /** Param-stats replay CTEs: the chain's own raw-query split (s3.rawq —
    * the SAME slicing the canonicalizer uses, one definition) exploded
    * to (param, value) rows joined to the PSL domain, then the
    * per-(domain, param) stats — shared by `url_param_stats` and the
    * learned-policy dedup. */
  private val paramStatsCtes = """pv AS (SELECT s3.doc_id, d.domain,
      |    unnest(list_filter(string_split(s3.rawq, '&'), x -> x <> '')) AS kv
      |  FROM s3 JOIN d ON d.doc_id = s3.doc_id),
      | pp AS (SELECT doc_id, domain, split_part(kv, '=', 1) AS param,
      |    substr(kv, length(split_part(kv, '=', 1)) + 2) AS value FROM pv),
      | pstat AS (SELECT domain, param,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_urls,
      |    CAST(count(DISTINCT value) AS BIGINT) AS n_vals,
      |    count(DISTINCT value) = 1 AS constant_val,
      |    count(DISTINCT value) > 1 AND
      |      count(DISTINCT value) * 2 >= count(DISTINCT doc_id)
      |      AS high_card
      |  FROM pp GROUP BY 1, 2)""".stripMargin

  private val urlParamStatsSql = urlCanonCte + ",\n" + paramStatsCtes + """
      |SELECT domain, param, n_urls, n_vals, constant_val, high_card
      |FROM pstat ORDER BY 1, 2""".stripMargin

  /** Corroborated learned-policy CTEs over the PRODUCTION corpus
    * fixture ([[graft.ops.Url.syntheticCorpusUrls]]) — round 20, the
    * r19 verdict's #1 (the consumed policy is the corroborated one).
    * Base-half rows ride the canonical chain (`d`) with a closed-form
    * content fp (subdomain wheel + path page + the `?id=` selector
    * value); session-half rows regenerate closed-form at doc_id+10⁷.
    * RAW kv stats union the base chain's `pp` with the session params;
    * corroboration groups key the CANONICAL kv's this-param-stripped
    * URL; policy = constant_val on distribution evidence alone,
    * high_card only when every varying group agrees on one fp
    * ([[graft.ops.Url.paramPolicyCorroborated]]'s exact rule); apply
    * filters each URL's canonical params against its domain's strip
    * list — ends at `llck (doc_id, url_canon, learned_canon)`. */
  private val learnedCorpusCtes = """ofp AS (SELECT doc_id,
      |    'w' || source || '-' || (doc_id%7) || '-' || (doc_id%13) ||
      |      (CASE WHEN doc_id%8=1 THEN '-i' || (doc_id%17) ELSE '' END) AS fp
      |  FROM documents),
      | lsu AS (SELECT doc_id + 10000000 AS doc_id,
      |    source || '-app.com' AS domain,
      |    '/a/' || ((doc_id//20)%5) AS pathp,
      |    CASE WHEN (doc_id//20)%4=0 THEN 'sess'
      |         WHEN (doc_id//20)%4=1 THEN 'art'
      |         WHEN (doc_id//20)%4=2 THEN 'v' END AS param,
      |    CASE WHEN (doc_id//20)%4=0 THEN 's' || (doc_id + 10000000)
      |         WHEN (doc_id//20)%4=1 THEN 'a' || (doc_id + 10000000)
      |         WHEN (doc_id//20)%4=2 THEN '1' END AS value,
      |    CASE WHEN (doc_id//20)%4=1 THEN 'c' || (doc_id + 10000000)
      |         ELSE 'p' || ((doc_id//20)%5) END AS fp
      |  FROM documents),
      | lsu2 AS (SELECT doc_id, domain, fp,
      |    'https://' || domain || pathp ||
      |      (CASE WHEN param IS NOT NULL THEN '?' || param || '=' || value
      |       ELSE '' END) AS url_canon
      |  FROM lsu),
      | lcorp AS MATERIALIZED (
      |  SELECT d.doc_id, d.url_canon, d.domain, ofp.fp
      |  FROM d JOIN ofp USING (doc_id)
      |  UNION ALL
      |  SELECT doc_id, url_canon, domain, fp FROM lsu2),
      | lkv AS (SELECT doc_id, domain, param, value FROM pp
      |  UNION ALL
      |  SELECT doc_id, domain, param, value FROM lsu
      |  WHERE param IS NOT NULL),
      | lpstat AS (SELECT domain, param,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_urls,
      |    CAST(count(DISTINCT value) AS BIGINT) AS n_vals
      |  FROM lkv GROUP BY 1, 2),
      | lcb AS MATERIALIZED (SELECT doc_id, url_canon, domain, fp,
      |    split_part(url_canon, '?', 1) AS pathpart,
      |    CASE WHEN contains(url_canon, '?')
      |      THEN string_split(substr(url_canon,
      |        length(split_part(url_canon, '?', 1)) + 2), '&')
      |      ELSE [] END AS cps
      |  FROM lcorp),
      | lcg AS (SELECT domain, fp, pathpart, cps,
      |    split_part(ckv, '=', 1) AS param,
      |    substr(ckv, length(split_part(ckv, '=', 1)) + 2) AS cval
      |  FROM (SELECT domain, fp, pathpart, cps, unnest(cps) AS ckv
      |        FROM lcb)),
      | lg1 AS (SELECT domain, param,
      |    pathpart || (CASE WHEN len(list_filter(cps,
      |        x -> split_part(x, '=', 1) <> param)) > 0
      |      THEN '?' || array_to_string(list_filter(cps,
      |        x -> split_part(x, '=', 1) <> param), '&')
      |      ELSE '' END) AS stripped,
      |    count(DISTINCT cval) AS nv, count(DISTINCT fp) AS nfp
      |  FROM lcg GROUP BY 1, 2, 3),
      | lg2 AS (SELECT domain, param,
      |    sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) > 0 AND
      |    sum(CASE WHEN nv > 1 AND nfp > 1 THEN 1 ELSE 0 END) = 0 AS corrob
      |  FROM lg1 GROUP BY 1, 2),
      | lpol AS MATERIALIZED (SELECT p.domain, list(p.param) AS drops
      |  FROM lpstat p LEFT JOIN lg2 USING (domain, param)
      |  WHERE p.n_urls >= 2 AND (p.n_vals = 1 OR
      |    (p.n_vals > 1 AND p.n_vals*2 >= p.n_urls
      |     AND coalesce(corrob, FALSE)))
      |  GROUP BY 1),
      | llck AS MATERIALIZED (SELECT doc_id, url_canon,
      |    pathpart || (CASE WHEN len(keep_ps) > 0
      |      THEN '?' || array_to_string(keep_ps, '&') ELSE '' END)
      |      AS learned_canon
      |  FROM (SELECT lcb.doc_id, lcb.url_canon, lcb.pathpart,
      |      list_filter(lcb.cps, x -> NOT list_contains(
      |        coalesce(lpol.drops, []), split_part(x, '=', 1))) AS keep_ps
      |    FROM lcb LEFT JOIN lpol USING (domain))),
      | lfcat AS (SELECT DISTINCT learned_canon FROM llck
      |  WHERE doc_id < 250 OR (doc_id >= 10000000 AND doc_id < 10000250))""".stripMargin

  /** Corroborated learned-policy dedup replay: the shared corpus
    * chain, then the standard min/count collapse. */
  private val urlDedupLearnedSql = urlCanonCte + ",\n" + paramStatsCtes +
    ",\n " + learnedCorpusCtes + """
      |SELECT learned_canon, min(doc_id) AS keep_doc_id,
      |  CAST(count(*) AS BIGINT) AS n_dups,
      |  CAST(count(DISTINCT url_canon) AS BIGINT) AS n_canon_variants
      |FROM llck GROUP BY 1 ORDER BY 1""".stripMargin

  /** Corroborated learned-key frontier replay ([[graft.ops.Url
    * .urlFrontierLearnedIncrement]]): the catalog is the learned keys
    * of the first 250 docs of EACH corpus half (the accumulated-state
    * convention), the delta the rest; intra-delta first occurrence per
    * learned key, then novelty NOT-IN on the LEARNED key — the
    * session/boilerplate variants of a cataloged page fold onto its
    * key and are NOT re-admitted, while content-id pages stay novel. */
  private val urlFrontierLearnedSql = urlCanonCte + ",\n" + paramStatsCtes +
    ",\n " + learnedCorpusCtes + """,
      | lfwin AS (SELECT learned_canon,
      |    first(doc_id ORDER BY doc_id) AS doc_id,
      |    first(url_canon ORDER BY doc_id) AS url_canon
      |  FROM llck
      |  WHERE NOT (doc_id < 250 OR (doc_id >= 10000000 AND doc_id < 10000250))
      |  GROUP BY 1)
      |SELECT doc_id, url_canon, learned_canon FROM lfwin
      |WHERE learned_canon NOT IN (SELECT learned_canon FROM lfcat)
      |ORDER BY doc_id""".stripMargin

  /** Shared prefix of the three learned-discovery oracles: the full
    * corpus chain (for `lpol` — the corroborated strip lists — and
    * `lfcat` — the learned-key catalog). */
  private val learnedDiscoverPrefix = urlCanonCte + ",\n" + paramStatsCtes +
    ",\n " + learnedCorpusCtes

  /** Learned sitemap-discovery replay ([[graft.ops.Url.crawlDiscover]]
    * with a policy): seeds regenerate closed-form from the session
    * sitemap fixture (seed_idx = rank by doc_id within the source's
    * one urlset); every seed is http(s), unblocked, and allowed (the
    * fixture's single `/private` rule never matches `/a/…`), so the
    * gate replay is the identity; the learned key strips the seed's
    * single param when the domain's corroborated list contains it;
    * winner = lowest (sitemap, seed_idx) per learned key; novelty =
    * NOT IN the learned catalog. */
  private val crawlDiscoverLearnedSql = learnedDiscoverPrefix + """,
      | sdoc AS (SELECT doc_id, source,
      |    CASE WHEN (doc_id//20)%4=3 THEN 'x' || (doc_id%7)
      |      ELSE CAST((doc_id//20)%5 AS VARCHAR) ||
      |        (CASE WHEN (doc_id//20)%4=0 THEN '?sess=s' || doc_id
      |              WHEN (doc_id//20)%4=1 THEN '?art=a' || doc_id
      |              ELSE '?v=1' END) END AS tail,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
      |      AS BIGINT) AS seed_idx
      |  FROM documents),
      | sseed AS (SELECT source || '-app.com' AS domain,
      |    'https://' || source || '-app.com/sm-s.xml' AS sitemap,
      |    seed_idx,
      |    'https://' || source || '-app.com/a/' || tail AS seed_url
      |  FROM sdoc),
      | slk AS (SELECT s.domain, s.sitemap, s.seed_idx, s.seed_url,
      |    s.seed_url AS seed_canon,
      |    CASE WHEN contains(s.seed_url, '?') AND list_contains(
      |        coalesce(p.drops, []),
      |        split_part(split_part(s.seed_url, '?', 2), '=', 1))
      |      THEN split_part(s.seed_url, '?', 1) ELSE s.seed_url END
      |      AS seed_learned
      |  FROM sseed s LEFT JOIN lpol p ON s.domain = p.domain),
      | sw AS (SELECT *, row_number() OVER (PARTITION BY seed_learned
      |    ORDER BY sitemap, seed_idx) AS rn FROM slk)
      |SELECT domain, sitemap, seed_idx, seed_url, seed_canon, seed_learned
      |FROM sw WHERE rn = 1
      |  AND seed_learned NOT IN (SELECT learned_canon FROM lfcat)
      |ORDER BY domain, seed_idx""".stripMargin

  /** The regenerated session link table shared by both learned link
    * oracles: tag position IS link_idx (sess 1, art 2, novel-x 3 on
    * the bare stripe), hrefs already canonical. */
  private val sessionLinkCte = """lle AS (
      |  SELECT doc_id, CAST(1 AS BIGINT) AS link_idx,
      |    source || '-app.com' AS domain,
      |    'https://' || source || '-app.com/a/' || ((doc_id//20)%5) ||
      |      '?sess=s' || doc_id AS href
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 2, source || '-app.com',
      |    'https://' || source || '-app.com/a/' || ((doc_id//20)%5) ||
      |      '?art=a' || doc_id
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 3, source || '-app.com',
      |    'https://' || source || '-app.com/a/x' || (doc_id%7)
      |  FROM documents WHERE (doc_id//20)%4=3)""".stripMargin

  /** Learned link-discovery replay ([[graft.ops.Links.linkDiscover]]
    * with a policy): the regenerated link table (all follow, all
    * http(s), unblocked, robots-allowed by the fixture), learned-key
    * strip via `lpol`, winner = lowest (doc_id, link_idx) per learned
    * key, novelty NOT IN the learned catalog. */
  private val linkDiscoverLearnedSql = learnedDiscoverPrefix + ",\n " +
    sessionLinkCte + """,
      | llg AS (SELECT e.doc_id, e.link_idx, e.href, e.href AS target_canon,
      |    CASE WHEN contains(e.href, '?') AND list_contains(
      |        coalesce(p.drops, []),
      |        split_part(split_part(e.href, '?', 2), '=', 1))
      |      THEN split_part(e.href, '?', 1) ELSE e.href END
      |      AS target_learned
      |  FROM lle e LEFT JOIN lpol p ON e.domain = p.domain),
      | llw AS (SELECT *, row_number() OVER (PARTITION BY target_learned
      |    ORDER BY doc_id, link_idx) AS rn FROM llg)
      |SELECT doc_id, link_idx, href AS target_url, target_canon,
      |  target_learned
      |FROM llw WHERE rn = 1
      |  AND target_learned NOT IN (SELECT learned_canon FROM lfcat)
      |ORDER BY target_learned""".stripMargin

  /** Learned redirect-aware replay ([[graft.ops.Links
    * .linkDiscoverResolved]] with a policy): stage-1 winner per STATIC
    * target, the single-hop redirect map applied closed-form (stub
    * `/a/x<k>` → novel `/a/y<k>` on k%3=0, else a session variant of
    * page k%5), re-gate is the identity on this fixture, learned key
    * on the RESOLVED url, final collapse per learned key, novelty NOT
    * IN the learned catalog. */
  private val linkDiscoverResolvedLearnedSql = learnedDiscoverPrefix +
    ",\n " + sessionLinkCte + """,
      | lr1 AS (SELECT *, row_number() OVER (PARTITION BY href
      |    ORDER BY doc_id, link_idx) AS rn1 FROM lle),
      | lrt AS (SELECT doc_id, link_idx, domain, href AS target_canon
      |  FROM lr1 WHERE rn1 = 1),
      | lrr AS (SELECT t.*,
      |    CASE WHEN t.target_canon LIKE '%/a/x%' THEN
      |      (CASE WHEN CAST(substr(t.target_canon,
      |          length(t.target_canon), 1) AS INT) % 3 = 0
      |        THEN replace(t.target_canon, '/a/x', '/a/y')
      |        ELSE split_part(t.target_canon, '/a/x', 1) || '/a/' ||
      |          (CAST(substr(t.target_canon, length(t.target_canon), 1)
      |            AS INT) % 5) || '?sess=sx' ||
      |          substr(t.target_canon, length(t.target_canon), 1) END)
      |      ELSE t.target_canon END AS final_canon,
      |    CASE WHEN t.target_canon LIKE '%/a/x%' THEN CAST(1 AS BIGINT)
      |      ELSE CAST(0 AS BIGINT) END AS hops
      |  FROM lrt t),
      | lrk AS (SELECT r.*,
      |    CASE WHEN contains(r.final_canon, '?') AND list_contains(
      |        coalesce(p.drops, []),
      |        split_part(split_part(r.final_canon, '?', 2), '=', 1))
      |      THEN split_part(r.final_canon, '?', 1) ELSE r.final_canon END
      |      AS final_learned
      |  FROM lrr r LEFT JOIN lpol p ON r.domain = p.domain),
      | lrw AS (SELECT *, row_number() OVER (PARTITION BY final_learned
      |    ORDER BY doc_id, link_idx) AS rn2 FROM lrk)
      |SELECT doc_id, link_idx, target_canon AS target_url, target_canon,
      |  final_canon, hops, final_learned
      |FROM lrw WHERE rn2 = 1
      |  AND final_learned NOT IN (SELECT learned_canon FROM lfcat)
      |ORDER BY final_learned""".stripMargin

  /** Corroborated-policy dedup replay over the SESSION fixture
    * ([[graft.ops.Url.syntheticSessionUrls]] regenerated closed-form —
    * each URL carries at most ONE param, so the this-param-stripped
    * group key is simply the path): `sess` (unique value, page-keyed
    * fp) corroborates and strips; `art` (unique value, VALUE-keyed fp)
    * violates corroboration and survives; `v` strips as a constant. */
  private val urlDedupCorroboratedSql =
    """WITH su AS (SELECT doc_id,
      |    source || '-app.com' AS domain,
      |    '/a/' || ((doc_id//20)%5) AS pathp,
      |    'https://' || source || '-app.com/a/' || ((doc_id//20)%5) ||
      |      (CASE WHEN (doc_id//20)%4=0 THEN '?sess=s' || doc_id
      |            WHEN (doc_id//20)%4=1 THEN '?art=a' || doc_id
      |            WHEN (doc_id//20)%4=2 THEN '?v=1' ELSE '' END) AS url_canon,
      |    CASE WHEN (doc_id//20)%4=0 THEN 'sess'
      |         WHEN (doc_id//20)%4=1 THEN 'art'
      |         WHEN (doc_id//20)%4=2 THEN 'v' END AS param,
      |    CASE WHEN (doc_id//20)%4=0 THEN 's' || doc_id
      |         WHEN (doc_id//20)%4=1 THEN 'a' || doc_id
      |         WHEN (doc_id//20)%4=2 THEN '1' END AS value,
      |    CASE WHEN (doc_id//20)%4=1 THEN 'c' || doc_id
      |         ELSE 'p' || ((doc_id//20)%5) END AS fp
      |  FROM documents),
      | spstat AS (SELECT domain, param,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_urls,
      |    CAST(count(DISTINCT value) AS BIGINT) AS n_vals
      |  FROM su WHERE param IS NOT NULL GROUP BY 1, 2),
      | sg1 AS (SELECT domain, param, pathp,
      |    count(DISTINCT value) AS nv, count(DISTINCT fp) AS nfp
      |  FROM su WHERE param IS NOT NULL GROUP BY 1, 2, 3),
      | sg2 AS (SELECT domain, param,
      |    sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) > 0 AND
      |    sum(CASE WHEN nv > 1 AND nfp > 1 THEN 1 ELSE 0 END) = 0 AS corrob
      |  FROM sg1 GROUP BY 1, 2),
      | spol AS (SELECT s.domain, list(s.param) AS drops
      |  FROM spstat s JOIN sg2 USING (domain, param)
      |  WHERE s.n_urls >= 2 AND (s.n_vals = 1 OR
      |    (s.n_vals > 1 AND s.n_vals*2 >= s.n_urls AND corrob))
      |  GROUP BY 1),
      | skey AS (SELECT su.doc_id, su.url_canon,
      |    CASE WHEN su.param IS NOT NULL AND
      |        list_contains(coalesce(p.drops, []), su.param)
      |      THEN 'https://' || su.domain || su.pathp
      |      ELSE su.url_canon END AS learned_canon
      |  FROM su LEFT JOIN spol p ON su.domain = p.domain)
      |SELECT learned_canon, min(doc_id) AS keep_doc_id,
      |  CAST(count(*) AS BIGINT) AS n_dups,
      |  CAST(count(DISTINCT url_canon) AS BIGINT) AS n_canon_variants
      |FROM skey GROUP BY 1 ORDER BY 1""".stripMargin

  private val domainQuotaSampleSql = urlCanonCte + """,
      | r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
      |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank FROM d)
      |SELECT r.doc_id, r.domain, CAST(r.rank AS BIGINT) AS rank
      |FROM r JOIN qt USING (domain) WHERE r.rank <= qt.quota
      |ORDER BY r.doc_id""".stripMargin

  // ---- hashed-ngram linear classifier oracles: quality_filter teacher
  // labels (reuses duckQualityCtes verbatim), dsirFeatures' md5-prefix
  // bucket spelling, closed-form fixed-point multinomial weights,
  // integer scoring — Classifier.scala's full pipeline in SQL
  /** Teacher-agnostic core of the hashed-ngram classifier oracle
    * (trainLinear + classifyScores in SQL): expects a `lbl (doc_id,
    * label)` CTE in scope, ends at `sc2 (doc_id, label, score)`. Shared
    * verbatim by the quality (keep/drop) and LID (en/fr/de/es) heads so
    * the training/scoring replay can never drift between them. */
  private val classifierCoreCtes = {
    def hv(i: Int) = s"(strpos('0123456789abcdef', substr(h,$i,1))-1)"
    s"""fw AS (SELECT doc_id, $duckWords AS ws FROM documents
       |  WHERE len(trim(text)) > 0),
       |fg AS (
       |  SELECT doc_id, unnest(ws) AS g FROM fw
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(generate_series(0, len(ws)-2),
       |    i -> array_to_string(ws[i+1:i+2], ' '))) AS g
       |  FROM fw WHERE len(ws) >= 2),
       |ff AS (SELECT doc_id,
       |    (${hv(1)}*4096 + ${hv(2)}*256 + ${hv(3)}*16 + ${hv(4)}) % 1024 AS bucket,
       |    count(*) AS c
       |  FROM (SELECT doc_id, md5(g) AS h FROM fg) GROUP BY 1, 2),
       |lf AS (SELECT ff.doc_id, ff.bucket, ff.c, lbl.label
       |  FROM ff JOIN lbl USING (doc_id)),
       |cnt2 AS (SELECT label, bucket, CAST(sum(c) AS BIGINT) AS cnt
       |  FROM lf GROUP BY 1, 2),
       |tt AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot FROM cnt2 GROUP BY 1),
       |sp AS (SELECT label, tot, unnest(range(0, 1024)) AS bucket FROM tt),
       |wt AS (SELECT sp.label, sp.bucket,
       |    CAST(floor(ln((COALESCE(cnt, 0) + 1.0) / (tot + 1024.0)) * 1000000 + 0.5) AS BIGINT) AS w
       |  FROM sp LEFT JOIN cnt2 ON sp.label = cnt2.label AND sp.bucket = cnt2.bucket),
       |ncl AS (SELECT label, CAST(count(*) AS BIGINT) AS nc
       |  FROM lbl JOIN fw USING (doc_id) GROUP BY 1),
       |pt AS (SELECT CAST(sum(nc) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS ncls FROM ncl),
       |pw AS (SELECT label,
       |    CAST(floor(ln((nc + 1.0) / (n + ncls)) * 1000000 + 0.5) AS BIGINT) AS prior
       |  FROM ncl CROSS JOIN pt),
       |sc AS (SELECT ff.doc_id, wt.label, CAST(sum(ff.c * wt.w) AS BIGINT) AS s
       |  FROM ff JOIN wt USING (bucket) GROUP BY 1, 2),
       |sc2 AS (SELECT sc.doc_id, sc.label, sc.s + pw.prior AS score
       |  FROM sc JOIN pw USING (label))""".stripMargin
  }

  private val classifierCtes =
    s"""$duckQualityCtes,
       |lbl AS (SELECT doc_id,
       |  CASE WHEN fail_reasons = '' THEN 'keep' ELSE 'drop' END AS label
       |  FROM r),
       |$classifierCoreCtes,
       |pv AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN label = 'drop' THEN score END) AS BIGINT) AS score_drop,
       |    CAST(sum(CASE WHEN label = 'keep' THEN score END) AS BIGINT) AS score_keep
       |  FROM sc2 GROUP BY 1)""".stripMargin

  // LID head: teacher = the corpus's lang METADATA (5 classes — see
  // lidClassifierQ's scaladoc for why the rule-LID teacher is degenerate
  // on this corpus), then the generic argmax — score DESC, label ASC,
  // the classify() tiebreak.
  private val lidClassifierSql =
    s"""WITH lbl AS (SELECT doc_id, lang AS label FROM documents),
       |$classifierCoreCtes,
       |rk AS (SELECT doc_id, label, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn
       |  FROM sc2)
       |SELECT rk.doc_id, rk.label AS pred_label, CAST(rk.score AS BIGINT) AS score,
       |  lbl.label AS teacher_lang, (rk.label = lbl.label) AS agree
       |FROM rk JOIN lbl USING (doc_id) WHERE rn = 1 ORDER BY rk.doc_id""".stripMargin

  // ---- audio fingerprint oracles: rebuild the synthetic PCM data
  // (17 chained md5s, 260 bytes), replay the 65-frame integer energy
  // signature digit-by-digit, then the exhaustive pair check (the
  // banding's pigeonhole recall-exactness argument, as for image_phash)
  private val audioFpCte = {
    val chain = (0 until 17)
      .map(i => s"md5('grp:'||(doc_id//10)||'#$i')").mkString(" || ")
    val spike = "((doc_id % 10) * 3000)"
    val dhex = s"substr($chain, 1, 516) || " +
      s"lower(lpad(to_hex($spike % 256), 2, '0') || lpad(to_hex($spike // 256), 2, '0'))"
    def hv(pos: String) = s"(strpos('0123456789abcdef', substr(dhex, $pos, 1))-1)"
    s"""ah AS (SELECT doc_id, $dhex AS dhex
       |  FROM documents WHERE text IS NOT NULL),
       |sm AS (SELECT doc_id, list_transform(generate_series(0, 129), j ->
       |    CAST(${hv("4*j+1")}*16 + ${hv("4*j+2")}
       |      + (${hv("4*j+3")}*16 + ${hv("4*j+4")})*256 AS BIGINT)) AS uv
       |  FROM ah),
       |sv AS (SELECT doc_id, list_transform(uv,
       |    v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS s FROM sm),
       |en AS (SELECT doc_id, list_transform(generate_series(0, 64), i ->
       |    s[2*i+1]*s[2*i+1] + s[2*i+2]*s[2*i+2]) AS e FROM sv),
       |afp AS (SELECT doc_id,
       |  CAST(COALESCE(list_sum(list_transform(generate_series(0, 31), i ->
       |    CASE WHEN e[i+2] > e[i+1] THEN (CAST(1 AS BIGINT) << (31-i)) ELSE 0 END)), 0) AS BIGINT) AS afp_hi,
       |  CAST(COALESCE(list_sum(list_transform(generate_series(0, 31), i ->
       |    CASE WHEN e[32+i+2] > e[32+i+1] THEN (CAST(1 AS BIGINT) << (31-i)) ELSE 0 END)), 0) AS BIGINT) AS afp_lo
       |  FROM en)""".stripMargin
  }

  private val audioFingerprintSql =
    s"""WITH $audioFpCte
       |SELECT doc_id, afp_hi, afp_lo FROM afp ORDER BY doc_id""".stripMargin

  private val audioNeardupSql =
    s"""WITH $audioFpCte
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(bit_count(xor(a.afp_hi, b.afp_hi)) + bit_count(xor(a.afp_lo, b.afp_lo)) AS INT) AS hamming
       |FROM afp a JOIN afp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.afp_hi, b.afp_hi)) + bit_count(xor(a.afp_lo, b.afp_lo)) <= 3
       |ORDER BY a_id, b_id""".stripMargin

  // ---- warc_read oracle: derive every parsed field straight from the
  // generator contracts (urlGenCte raw URLs × rawHtmlDuck pages), so the
  // Spark side's build → Content-Length-split → parse round trip is
  // checked field-for-field against an independent derivation
  private val warcReadSql =
    "WITH " + urlGenCte + ",\n" + rawHtmlDuck + ",\n" +
    s"""resp AS (SELECT u.doc_id, u.doc_id % 16 AS file_id, u.url, raw.html
      |  FROM u JOIN raw USING (doc_id)),
      |rr AS (SELECT file_id,
      |    CAST(row_number() OVER (PARTITION BY file_id ORDER BY doc_id) AS INT) AS rec_index,
      |    'response' AS warc_type,
      |    '<urn:uuid:00000000-0000-0000-0000-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') || '>' AS record_id,
      |    url AS target_uri,
      |    ${sqlIsoFromS("1700000000 + doc_id")} AS warc_date,
      |    CAST(59 + strlen(html) AS BIGINT) AS content_length,
      |    CAST(200 AS INT) AS http_status, html FROM resp),
      |wi AS (SELECT DISTINCT file_id, CAST(0 AS INT) AS rec_index,
      |    'warcinfo' AS warc_type,
      |    '<urn:uuid:ffffffff-0000-0000-0000-' || lpad(CAST(file_id AS VARCHAR), 12, '0') || '>' AS record_id,
      |    CAST(NULL AS VARCHAR) AS target_uri,
      |    ${sqlIsoFromS("1700000000 + file_id")} AS warc_date,
      |    CAST(29 AS BIGINT) AS content_length,
      |    CAST(NULL AS INT) AS http_status, CAST(NULL AS VARCHAR) AS html FROM resp)
      |SELECT file_id, rec_index, warc_type, record_id, target_uri, warc_date,
      |  content_length, http_status, html
      |FROM (SELECT * FROM wi UNION ALL SELECT * FROM rr)
      |ORDER BY file_id, rec_index""".stripMargin

  // COALESCE to long-min mirrors the Spark side's single-class-degenerate
  // handling: the absent class's NULL score must lose, not null the verdict
  private val duckScoreKeep =
    "COALESCE(pv.score_keep, -9223372036854775807 - 1) > " +
      "COALESCE(pv.score_drop, -9223372036854775807 - 1)"

  private val qualityClassifierSql =
    s"""WITH $classifierCtes
       |SELECT pv.doc_id, pv.score_drop, pv.score_keep,
       |  CASE WHEN $duckScoreKeep THEN 'keep' ELSE 'drop' END AS pred_label,
       |  (lbl.label = 'keep') AS teacher_keep,
       |  ((CASE WHEN $duckScoreKeep THEN 'keep' ELSE 'drop' END) = 'keep')
       |    = (lbl.label = 'keep') AS agree
       |FROM pv JOIN lbl USING (doc_id) ORDER BY pv.doc_id""".stripMargin

  private val classifierCurateSql =
    s"""WITH $classifierCtes,
       |cf AS (SELECT pv.doc_id,
       |    -- coalesced comparison: a NULL score (single-class degenerate
       |    -- corpus) loses to the present class, like the Spark side
       |    (CASE WHEN $duckScoreKeep THEN TRUE ELSE FALSE END) AS clf_keep
       |  FROM pv JOIN lbl USING (doc_id)),
       |ddj AS (SELECT d2.doc_id, md5(d2.text) AS hh, cf.clf_keep
       |  FROM documents d2 JOIN cf USING (doc_id)),
       |fr AS (SELECT doc_id,
       |    row_number() OVER (PARTITION BY hh ORDER BY doc_id) = 1 AS dedup_first
       |  FROM ddj WHERE clf_keep)
       |SELECT ddj.doc_id, ddj.clf_keep,
       |  COALESCE(fr.dedup_first, FALSE) AS dedup_first,
       |  (ddj.clf_keep AND COALESCE(fr.dedup_first, FALSE)) AS final_keep
       |FROM ddj LEFT JOIN fr USING (doc_id) ORDER BY ddj.doc_id""".stripMargin

  // ---------- registry ----------

  // Registry order is execution order in Verify/Bench, so per-query
  // timings are attributed the same way every round (a hash order would
  // hand whichever query iterates first the residual JIT warmup). Declared
  // last, so every oracle SQL val above is initialized before it is read.
  val registry: Seq[Query] = Query.registry(
    Query("q1_agg", q1Agg, q1AggSql),
    Query("cmf_geotab", cmfGeotab, cmfGeotabSql),
    Query("cmf_calamp", cmfCalamp, cmfCalampSql),
    Query("cmf_ford", cmfFord, cmfFordSql),
    Query("quarantine_counts", quarantineCounts, quarantineSql),
    Query("route_filterer", routeFilterer, routeFiltererSql),
    Query("route_topic_sink", routeTopicSink, routeTopicSinkSql),
    Query("route_splitter", routeSplitter, routeSplitterSql),
    Query("legacy_translate", legacyTranslate, legacyTranslateSql),
    Query("union_sources", unionSources, unionSourcesSql),
    Query("q_join_agg", qJoinAgg, qJoinAggSql),
    Query("q_window_topk", qWindowTopk, qWindowTopkSql),
    Query("q_rollup", qRollup, qRollupSql),
    Query("q_semi", qSemi, qSemiSql),
    Query("q_anti", qAnti, qAntiSql),
    Query("dedup_exact", dedupExactDocs, dedupExactSql),
    Query("dedup_exact_norm", dedupExactNormQ, dedupExactNormSql),
    Query("events_dedup", eventsDedup, eventsDedupSql),
    Query("text_stats", textStats, textStatsSql),
    Query("lang_id", langId, langIdSql),
    Query("lang_id_ngram", langIdNgramQ, langIdNgramSql),
    Query("q_part_stats", qPartStats, qPartStatsSql),
    Query("q_supplier_nation", qSupplierNation, qSupplierNationSql),
    Query("doc_fingerprint", docFingerprint, docFingerprintSql),
    Query("quality_filter", qualityFilterQ, qualityFilterSql),
    Query("gopher_repetition", gopherRepetitionQ, gopherRepetitionSql),
    Query("gopher_quality", gopherQualityQ, gopherQualitySql),
    Query("winnow_fingerprint", winnowQ, winnowSql),
    Query("neardup_minhash", neardupMinhash, neardupMinhashSql),
    Query("simhash_buckets", simhashBuckets, simhashSql),
    Query("knn_brute", knnBrute, knnBruteSql),
    Query("knn_lsh", knnLsh, knnLshSql),
    Query("knn_lsh_probe", knnLshProbe, knnLshProbeSql),
    Query("knn_ivf", knnIvf, knnIvfSql),
    // indexed serving is row-identical to the live probe by construction
    Query("knn_ivf_indexed", knnIvfIndexedQ, knnIvfSql),
    Query("knn_ivf_trained_indexed", knnIvfTrainedIndexedQ,
      knnIvfTrainedIndexedSql),
    Query("knn_pq", knnPq, knnPqSql),
    Query("knn_pq_recall", knnPqRecallQ, knnPqRecallSql),
    Query("knn_ivf_pq", knnIvfPq, knnIvfPqSql),
    Query("knn_ivf_pq_recall", knnIvfPqRecallQ, knnIvfPqRecallSql),
    Query("knn_ivf_pq_trained", knnIvfPqTrainedQ, knnIvfPqTrainedSql),
    Query("knn_ivf_pq_rerank", knnIvfPqRerankQ, knnIvfPqRerankSql),
    Query("asof_join", asofJoinQ, asofJoinSql),
    Query("window_tumbling", windowTumbling, windowTumblingSql),
    Query("sessionize", sessionizeQ, sessionizeSql),
    Query("multimodal_meta", multimodalMeta, multimodalMetaSql),
    Query("media_decode", mediaDecode, mediaDecodeSql),
    Query("image_phash", imagePhashQ, imagePhashSql),
    Query("image_phash_neardup", imagePhashNeardupQ, imagePhashNeardupSql),
    Query("media_frames", mediaFrames, mediaFramesSql),
    Query("neardup_cosine", neardupCosine, neardupCosineSql),
    Query("approx_distinct", approxDistinct, approxDistinctSql),
    Query("q_cohort_retention", qCohortRetention, qCohortRetentionSql),
    Query("q_sketch_rollup", qSketchRollup, qSketchRollupSql),
    Query("neardup_jaccard", neardupJaccardQ, neardupJaccardSql),
    Query("dedup_clusters", dedupClustersQ, dedupClustersSql),
    Query("dedup_clusters_star", dedupClustersStarQ, dedupClustersSql),
    Query("pii_scrub", piiScrubQ, piiScrubSql),
    Query("sample_stratified", sampleStratifiedQ, sampleStratifiedSql),
    Query("dsir_weights", dsirWeightsQ, dsirWeightsSql),
    Query("dsir_sample", dsirSampleQ, dsirSampleSql),
    Query("q_cube", qCube, qCubeSql),
    Query("q_percentiles", qPercentiles, qPercentilesSql),
    Query("q_monthly_lag", qMonthlyLag, qMonthlyLagSql),
    Query("repetition_ratio", repetitionRatioQ, repetitionRatioSql),
    Query("range_join", rangeJoinQ, rangeJoinSql),
    Query("seq_pack", seqPackQ, seqPackSql),
    Query("dedup_apply", dedupApplyQ, dedupApplySql),
    Query("dedup_apply_best", dedupApplyBestQ, dedupApplyBestSql),
    Query("lm_unigram_score", lmUnigramQ, lmUnigramSql),
    Query("knn_recall", knnRecallQ, knnRecallSql),
    Query("q_moving_avg", qMovingAvg, qMovingAvgSql),
    // same semantics as knn_brute, different engine path (typed Aggregator)
    Query("knn_topk_agg", knnTopkAgg, knnBruteSql),
    Query("simhash_neardup", simhashNeardupQ, simhashNeardupSql),
    Query("q_distinct_agg", qDistinctAgg, qDistinctAggSql),
    Query("q_pivot", qPivot, qPivotSql),
    Query("tfidf_top_terms", tfidfQ, tfidfSql),
    Query("decontaminate", decontaminateQ, decontaminateSql),
    Query("dedup_segment", dedupSegmentQ, dedupSegmentSql),
    Query("dedup_substring", dedupSubstringQ, dedupSubstringSql),
    Query("curate_e2e", curateE2E, curateE2ESql),
    Query("embed_quant", embedQuantQ, embedQuantSql),
    Query("token_budget", tokenBudgetQ, tokenBudgetSql),
    Query("window_sliding", windowSliding, windowSlidingSql),
    Query("q_grouping_sets", qGroupingSets, qGroupingSetsSql),
    Query("q_intersect", qIntersect, qIntersectSql),
    Query("q_except", qExcept, qExceptSql),
    Query("q_ntile", qNtile, qNtileSql),
    Query("q_string_agg", qStringAgg, qStringAggSql),
    Query("q_gaps", qGaps, qGapsSql),
    Query("q_hist", qHist, qHistSql),
    Query("q_range_frame", qRangeFrame, qRangeFrameSql),
    Query("q_first_last", qFirstLast, qFirstLastSql),
    Query("dedup_incremental", dedupIncrementalQ, dedupIncrementalSql),
    Query("dedup_incremental_sharded", dedupIncrementalShardedQ,
      dedupIncrementalSql),
    Query("doc_chunk", docChunkQ, docChunkSql),
    Query("shard_assign", shardAssignQ, shardAssignSql),
    Query("ngram_counts", ngramCountsQ, ngramCountsSql),
    Query("domain_mix", domainMixQ, domainMixSql),
    Query("corpus_stats", corpusStatsQ, corpusStatsSql),
    Query("q_corr", qCorr, qCorrSql),
    Query("q_mode", qMode, qModeSql),
    Query("q_scalar_sub", qScalarSub, qScalarSubSql),
    Query("q_zero_fill", qZeroFill, qZeroFillSql),
    Query("kmeans_assign", kmeansAssignQ, kmeansAssignSql),
    Query("kmeans_update", kmeansUpdateQ, kmeansUpdateSql),
    Query("kmeans_iter", kmeansIterQ, kmeansIterSql),
    Query("dedup_semantic", dedupSemanticQ, dedupSemanticSql),
    Query("bm25_search", bm25Q, bm25Sql),
    // indexed serving shares the live scoring core — same oracle
    Query("bm25_search_indexed", bm25IndexedQ, bm25Sql),
    Query("bpe_pairs", bpePairsQ, bpePairsSql),
    Query("embed_outliers", embedOutliersQ, embedOutliersSql),
    Query("curate_semantic", curateSemanticQ, curateSemanticSql),
    Query("q_union", qUnion, qUnionSql),
    Query("approx_quantiles", qApproxQuantiles, approxQuantilesSql),
    Query("q_rank_family", qRankFamily, qRankFamilySql),
    Query("q_not_in", qNotIn, qNotInSql),
    Query("q_salted_join", qSaltedJoin, qSaltedJoinSql),
    Query("lm_bigram_score", lmBigramQ, lmBigramSql),
    Query("bpe_train", bpeTrainQ, bpeTrainSql),
    Query("bpe_encode", bpeEncodeQ, bpeEncodeSql),
    Query("graph_pagerank", pageRankQ, pageRankSql),
    Query("link_extract", linkExtractQ, linkExtractSql),
    Query("anchor_text", anchorTextQ, anchorTextSql),
    Query("link_graph", linkGraphQ, linkGraphSql),
    Query("host_pagerank", hostPageRankQ, hostPageRankSql),
    Query("link_discover_e2e", linkDiscoverQ, linkDiscoverSql),
    Query("meta_refresh", metaRefreshQ, metaRefreshSql),
    Query("rel_canonical", relCanonicalQ, relCanonicalSql),
    Query("redirect_resolve", redirectResolveQ, redirectResolveSql),
    Query("link_discover_resolved", linkDiscoverResolvedQ,
      linkDiscoverResolvedSql),
    Query("crawl_discover_learned", crawlDiscoverLearnedQ,
      crawlDiscoverLearnedSql),
    Query("link_discover_learned", linkDiscoverLearnedQ,
      linkDiscoverLearnedSql),
    Query("link_discover_resolved_learned", linkDiscoverResolvedLearnedQ,
      linkDiscoverResolvedLearnedSql),
    Query("frontier_anchor_rank", frontierAnchorRankQ, frontierAnchorRankSql),
    Query("frontier_authority_rank", frontierAuthorityRankQ,
      frontierAuthorityRankSql),
    Query("dedup_canonical", dedupCanonicalQ, dedupCanonicalSql),
    Query("anchor_endorsed_curate", anchorCurateQ, anchorCurateSql),
    Query("ccnet_buckets", ccnetBucketsQ, ccnetBucketsSql),
    Query("q_merge_upsert", qMergeUpsert, qMergeUpsertSql),
    Query("q_merge_tombstone", qMergeTombstone, qMergeTombstoneSql),
    Query("q_market_share", qMarketShare, qMarketShareSql),
    Query("q_scd2", qScd2, qScd2Sql),
    Query("hybrid_rrf", hybridRrfQ, hybridRrfSql),
    // the indexed form is row-identical to the live fusion by construction
    // (exact dense leg at nprobe = numCentroids) — same oracle
    Query("hybrid_rrf_indexed", hybridRrfIndexedQ, hybridRrfSql),
    Query("html_extract", htmlExtractQ, htmlExtractSql),
    Query("html_paragraphs", htmlParagraphsQ, htmlParagraphsSql),
    Query("c4_page_filter", c4PageFilterQ, c4PageFilterSql),
    Query("crawl_curate_e2e", crawlCurateE2eQ, crawlCurateE2eSql),
    Query("url_dedup", urlDedupQ, urlDedupSql),
    Query("url_gate", urlGateQ, urlGateSql),
    Query("url_frontier", urlFrontierQ, urlFrontierSql),
    Query("robots_gate", robotsGateQ, robotsGateSql),
    Query("robots_gate_agent", robotsGateAgentQ, robotsGateAgentSql),
    Query("robots_meta", robotsMetaQ, robotsMetaSql),
    Query("robots_meta_agent", robotsMetaAgentQ, robotsMetaAgentSql),
    Query("crawl_budget", crawlBudgetQ, crawlBudgetSql),
    Query("crawl_budget_agent", crawlBudgetAgentQ, crawlBudgetAgentSql),
    Query("sitemap_seeds", sitemapSeedsQ, sitemapSeedsSql),
    Query("sitemap_lastmod", sitemapLastmodQ, sitemapLastmodSql),
    Query("recrawl_queue", recrawlQueueQ, recrawlQueueSql),
    Query("sitemap_index", sitemapIndexQ, sitemapIndexSql),
    Query("crawl_discover_e2e", crawlDiscoverE2eQ, crawlDiscoverE2eSql),
    Query("text_normalize", textNormalizeQ, textNormalizeSql),
    Query("heavy_hitters", heavyHittersQ, heavyHittersSql),
    Query("domain_stats", domainStatsQ, domainStatsSql),
    Query("url_param_stats", urlParamStatsQ, urlParamStatsSql),
    Query("url_dedup_learned", urlDedupLearnedQ, urlDedupLearnedSql),
    Query("url_dedup_corroborated", urlDedupCorroboratedQ,
      urlDedupCorroboratedSql),
    Query("url_frontier_learned", urlFrontierLearnedQ, urlFrontierLearnedSql),
    Query("domain_quota_sample", domainQuotaSampleQ, domainQuotaSampleSql),
    Query("quality_classifier", qualityClassifierQ, qualityClassifierSql),
    Query("classifier_curate", classifierCurateQ, classifierCurateSql),
    Query("lid_classifier", lidClassifierQ, lidClassifierSql),
    Query("warc_read", warcReadQ, warcReadSql),
    Query("warc_read_gz", warcReadGzQ, warcReadSql),
    // round-trip identity: parsing the synthetic WARC recovers exactly the
    // (doc_id, html) frame the direct pipeline starts from — same oracle
    Query("warc_curate_e2e", warcCurateE2eQ, crawlCurateE2eSql),
    Query("audio_fingerprint", audioFingerprintQ, audioFingerprintSql),
    Query("audio_fingerprint_neardup", audioNeardupQ, audioNeardupSql),
    Query("q_global_seq", qGlobalSeq, qGlobalSeqSql),
    Query("layout_zorder", layoutZorderQ, layoutZorderSql),
    Query("snm_editdist", snmEditDistQ, snmEditDistSql),
    Query("q_funnel", qFunnel, qFunnelSql),
    Query("zonemap_prune", zonemapPruneQ, zonemapPruneSql),
    Query("profile_table", profileTableQ, profileTableSql)
  )

  /** Name → query, in registry order. */
  val byName: Map[String, Query] =
    scala.collection.immutable.ListMap(registry.map(q => q.name -> q): _*)
}
