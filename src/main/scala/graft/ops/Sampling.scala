package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / data-mixing operators for training-data
  * pipelines (SURVEY.md §2.5 extensions).
  *
  * All decisions are pure functions of a row's id: keep/split is decided by
  * comparing a prefix of md5(id) against a threshold. That makes sampling
  *  - reproducible (same corpus → same sample, any cluster size),
  *  - engine-portable (the DuckDB oracle recomputes it with its own md5),
  *  - shuffle-free (a scan-fused filter — at 100 TB the sample never
  *    materializes the rejected rows anywhere),
  *  - stable under incremental ingest (a doc's fate never depends on what
  *    else is in the corpus — unlike reservoir or rand() sampling).
  * Rates quantize to 1/256 steps via the first two hex digits; that
  * granularity is plenty for mixture weights and keeps the predicate a
  * cheap string compare.
  */
object Sampling {

  /** Two-hex-digit threshold for a rate in [0,1]: keep iff
    * substr(md5(id),1,2) < threshold. Clamped to "ff" — a 3-char "100"
    * would compare lexicographically BELOW every 2-char hex string and
    * silently invert the predicate (caught by PropSpec's monotonicity
    * property), so rates that round to 256/256 must short-circuit to
    * always-keep instead (see [[keepPredicate]]). */
  def hexThreshold(rate: Double): String =
    f"${math.min(255, math.max(0, math.round(rate * 256))).toInt}%02x"

  def keepPredicate(idCol: Column, rate: Double): Column =
    if (math.round(rate * 256) >= 256) lit(true)
    else substring(md5(idCol.cast("string")), 1, 2) < hexThreshold(rate)

  /** Stratified sample: per-stratum keep rates (data mixing — e.g. upsample
    * low-resource languages, downsample boilerplate-heavy domains). Strata
    * missing from `rates` use `defaultRate`. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 1.0): DataFrame = {
    val pred = rates.foldLeft(when(lit(false), lit(true))) {
      case (acc, (stratum, rate)) =>
        acc.when(col(strataCol) === stratum, keepPredicate(col(idCol), rate))
    }.otherwise(keepPredicate(col(idCol), defaultRate))
    df.filter(pred)
  }

  /** Deterministic train/validation/test assignment from the SECOND hex
    * digit pair of the id hash, so splits are independent of any
    * stratifiedSample decision taken on the first pair (a doc sampled in is
    * not biased toward any split). Fractions quantize to 1/256; a fraction
    * (or cumulative train+val) that rounds to 256/256 short-circuits to
    * always-match, mirroring [[keepPredicate]] — otherwise the clamped "ff"
    * threshold would mis-assign the ~1/256 of ids whose hash pair is "ff". */
  def splitAssign(df: DataFrame, idCol: String,
                  trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val h = substring(md5(col(idCol).cast("string")), 3, 2)
    def below(frac: Double): Column =
      if (math.round(frac * 256) >= 256) lit(true) else h < hexThreshold(frac)
    df.withColumn("split",
      when(below(trainFrac), "train")
        .when(below(trainFrac + valFrac), "val")
        .otherwise("test"))
  }

  /** Token-budget sampling for data mixing: per stratum (language/domain),
    * keep documents in deterministic hash order until the stratum's
    * cumulative token count reaches `budget` (greedy prefix — the budget
    * overshoots by at most the last document). This is how a training mix
    * caps each source at N tokens rather than N documents.
    *
    * Shape: one shuffle (window partitioned by stratum). The running sum is
    * inherently sequential per stratum, so at 100 TB a hot stratum makes
    * this window the straggler. */
  def tokenBudget(docs: DataFrame, budget: Long, strataCol: String = "lang",
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Dedup.words, not an inline split: tokenization is defined ONCE so the
    // RE2-whitespace-class contract can't drift between op and oracle
    val nTok = size(Dedup.words(col(textCol)))
    docs
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .filter(col("cum_before") < budget)
      .select(col(idCol), col(strataCol), col("n_tokens"), col("cum_before"))
  }

  /** Deterministic global shuffle for training-shard layout: every row gets
    * a pseudo-random shard (first 4 hex digits of md5(id) mod numShards) and
    * a position within that shard (rank in hash order) — together a
    * reproducible random permutation of the corpus, without ever running a
    * global sort. The trainer reads shard files in position order and sees
    * hash-shuffled data.
    *
    * Scale shape: ONE shuffle (the per-shard rank window); partitions are
    * balanced by construction (md5 is uniform), so no shard is a straggler.
    * Contrast with orderBy(rand()): nondeterministic under retry AND a
    * global range sort. */
  def shardAssign(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    // pmod(x, 0) is NULL under non-ANSI SQL — every row would land in a
    // NULL shard with garbage positions instead of erroring
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val h = md5(col(idCol).cast("string"))
    val shard = pmod(conv(substring(h, 1, 4), 16, 10).cast("long"), lit(numShards))
    df.withColumn("_h", h)
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("_h"), col(idCol))).cast("long"))
      .drop("_h")
  }

  /** Count-quota mixture sampling (the training-mix recipe): given target
    * WEIGHTS per stratum and a total document budget, keep the first
    * floor(weight × budget) documents of each stratum in deterministic hash
    * order. Strata absent from `weights` contribute nothing. Unlike
    * [[stratifiedSample]] (rate per stratum — output scales with corpus),
    * this caps absolute counts, which is how a mix spec ("30% web, 20%
    * code…") is actually written.
    *
    * Scale shape: one shuffle (per-stratum rank window). The rank only needs
    * to be computed for strata in the recipe — everything else is filtered
    * before the window, so the exchange carries candidate strata only. */
  def mixtureSample(df: DataFrame, stratumCol: String, idCol: String,
                    weights: Map[String, Double], budget: Long): DataFrame = {
    val quota = weights.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (stratum, w)) =>
        // +1e-6 before the floor: w*budget in binary floats can land just
        // below the intended integer (0.29*100 = 28.999999999999996) and
        // silently under-allocate the decimal spec by one document
        acc.when(col(stratumCol) === stratum,
          lit(math.floor(w * budget + 1e-6).toLong))
    }.otherwise(lit(0L))
    df.filter(col(stratumCol).isin(weights.keys.toSeq: _*))
      .withColumn("rank", row_number().over(
        Window.partitionBy(stratumCol)
          .orderBy(md5(col(idCol).cast("string")), col(idCol))).cast("long"))
      .filter(col("rank") <= quota)
  }

  // ---- DSIR: Data Selection via Importance Resampling (Xie et al. 2023) ----
  //
  // Distribution-MATCHING selection, a different axis from the quality
  // gates in TextAnalysis: score each raw document by how much more likely
  // its hashed n-gram bag is under a TARGET corpus' feature distribution
  // than under the raw corpus' own, then resample ∝ exp(weight) via Gumbel
  // top-k. Everything is hash-agg / broadcast-join shaped:
  //  - the feature pass is one explode + pre-aggregated (doc, bucket) count
  //    (map-side combine absorbs in-doc repetition);
  //  - both bag-of-hashed-ngrams models are B-row frames (B = 1024 buckets)
  //    — broadcast for the scoring join no matter how big the corpus is;
  //  - Gumbel keys are pure functions of doc_id (md5-uniform), so the
  //    "sample" is deterministic, engine-portable, and re-runnable — the
  //    same properties every other Sampling op here guarantees.
  // At 100 TB: two corpus passes (features for the models could reuse the
  // same pre-aggregated frame if persisted; here each query is
  // self-contained), one TakeOrdered(k) — no global sort materializes.

  private val dsirBuckets = 1024

  /** All unigram+bigram feature buckets of the text column, one fused
    * native pass ([[graft.functions.DsirBuckets]] — md5 fed the gram
    * BYTES, no per-gram string/hex materialization; bucket-exact parity
    * with the composable `conv(substring(md5(gram),1,4),16,10) % B`
    * spelling and with the DuckDB oracle, FunctionsSpec). */
  private def dsirBucketsCol: Column =
    graft.functions.DsirBuckets.dsirBuckets(Dedup.words(col("text")), dsirBuckets)

  /** Hashed unigram+bigram features: (doc_id, bucket, c). The bucket is the
    * first 4 md5 hex digits mod B — the same hex-prefix idiom as
    * [[keepPredicate]], so the DuckDB oracle replays it digit-by-digit. */
  def dsirFeatures(docs: DataFrame): DataFrame =
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(dsirBucketsCol).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))

  /** Smoothed per-bucket log ratio from two (bucket, count) model frames
    * over the full B-bucket spine (a bucket unseen in either corpus still
    * gets a finite ratio). B rows — broadcast it. */
  private def smoothedLogRatio(qModel: DataFrame, pModel: DataFrame): DataFrame = {
    // one slice: the spine is B literal rows (~8 KB) at ANY corpus scale —
    // the default defaultParallelism slices schedule a full task wave for it
    val spine = qModel.sparkSession.range(0, dsirBuckets, 1, 1)
      .select(col("id").as("bucket"))
    val b = lit(dsirBuckets.toDouble)
    spine
      .join(qModel, Seq("bucket"), "left")
      .join(pModel, Seq("bucket"), "left")
      .select(col("bucket"),
        (log((coalesce(col("cp"), lit(0L)) + lit(1.0)) /
             (sum(coalesce(col("cp"), lit(0L))).over(Window.partitionBy()) + b)) -
         log((coalesce(col("cq"), lit(0L)) + lit(1.0)) /
             (sum(coalesce(col("cq"), lit(0L))).over(Window.partitionBy()) + b)))
          .as("logratio"))
  }

  private def dsirModel(feats: DataFrame, name: String): DataFrame =
    feats.groupBy("bucket").agg(sum(col("c")).cast("long").as(name))

  /** Per-document log importance weight: Σ_features c · logratio(bucket).
    * The raw corpus' feature frame is computed ONCE (localCheckpoint) and
    * shared between the q model and the scoring join — the raw explode is
    * the only corpus-sized work, so it must not run twice (the
    * bigramLogProb lesson). One broadcast join + one hash-agg after. */
  def dsirWeights(rawDocs: DataFrame, targetDocs: DataFrame): DataFrame = {
    val featRaw = dsirFeatures(rawDocs).localCheckpoint()
    val ratio = smoothedLogRatio(dsirModel(featRaw, "cq"),
      dsirModel(dsirFeatures(targetDocs), "cp"))
    featRaw.join(broadcast(ratio), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("c")).cast("long").as("n_feats"),
        sum(col("c") * col("logratio")).as("logw"))
  }

  /** Gumbel top-k resampling: key = logw + Gumbel(doc_id) samples k docs
    * without replacement ∝ exp(logw) — the paper's resampling step with the
    * noise derived from md5(doc_id) (8 hex digits → uniform in (0,1)), so
    * the draw is deterministic. TakeOrdered(k): no global sort. */
  def dsirSample(rawDocs: DataFrame, targetDocs: DataFrame, k: Int): DataFrame = {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(1.0)) / lit(4294967298.0) // 2^32 + 2
    dsirWeights(rawDocs, targetDocs)
      .withColumn("skey", col("logw") - log(-log(u)))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(k)
  }
}
