package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** fastText-style linear classification over hashed n-gram features
  * (Joulin et al., "Bag of Tricks for Efficient Text Classification",
  * 2016) — the model family CCNet uses for language-ID and FineWeb-Edu
  * for quality scoring: hash the text's n-grams into B buckets, score
  * each class as a linear function of the bucket counts, argmax.
  *
  * Training here is the closed-form multinomial estimate (per-class
  * Laplace-smoothed bucket log-likelihoods + class log-prior) rather than
  * SGD — a linear model of exactly the fastText shape whose weights are
  * reproducible in practice across engines, which is what makes the
  * oracle replay possible. Weights and scores are FIXED-POINT LONGS
  * (`floor(1e6·ln(…)+0.5)`): per-document scores are integer sums, so
  * GIVEN the weights, ranking/argmax can never drift with partitioning
  * or summation order — the same contract as the kmeans/PQ family
  * (Similarity.scala). The WEIGHTS themselves are one step short of that
  * guarantee: `ln` is libm-dependent, and two implementations differing
  * by 1 ulp flip the floor when `1e6·ln(x)+0.5` lands within ~1e-9 of an
  * integer — vanishingly rare per weight and never observed across
  * Java/DuckDB on this corpus, but a deployment that needs bit-exact
  * weights as a CONTRACT should derive them from integer counts via a
  * fixed-point log table.
  *
  * Features reuse the fused native hashing pass
  * ([[graft.functions.DsirBuckets]] — md5 fed gram bytes, no per-gram
  * string materialization) via [[Sampling.dsirFeatures]], so feature
  * extraction runs inside whole-stage codegen in ONE corpus scan.
  *
  * Scale shape: training = one feature pass + a (C·B)-row model agg;
  * inference = one feature pass + a BROADCAST model join + two hash aggs
  * (per-(doc,class) sum, then per-doc argmax). Nothing corpus-sized
  * shuffles except (doc_id, bucket, c) feature rows collapsing map-side.
  * Score-overflow envelope: |score| ≤ n_grams_per_doc · ~20·10⁶; the
  * ·64 argmax encoding stays inside a long for docs up to ~10⁹ grams.
  */
object Classifier {

  /** Fixed-point scale for weights/scores (micro-nats). */
  private val Scale = 1000000L
  /** Feature-bucket count — MUST match [[Sampling.dsirFeatures]]' space
    * (the oracle replays that spelling). */
  private val B = 1024

  /** Train the linear model from `(doc_id, text, label)` rows:
    * one row per (label, bucket) with fixed-point weight
    * w = floor(Scale·ln((cnt+1)/(tot_c+B)) + 0.5), plus one `bucket = -1`
    * row per class carrying the prior floor(Scale·ln((n_c+1)/(N+C)) + 0.5).
    * The model is C·(B+1) rows — broadcast-tiny at any corpus size. */
  def trainLinear(labeled: DataFrame): DataFrame = {
    val nonEmpty = labeled.filter(length(trim(col("text"))) > 0)
    trainLinearFrom(
      Sampling.dsirFeatures(nonEmpty.select("doc_id", "text")), nonEmpty)
  }

  /** [[trainLinear]] over a PRE-COMPUTED feature frame (round 21): the
    * distillation operators below run the hashed-ngram feature pass for
    * training and AGAIN for classification in sequential jobs — sharing
    * one checkpointed frame halves the dominant md5-per-gram corpus
    * cost. `feats` may cover a superset of the labeled docs (the join
    * restricts it; dsirFeatures' per-doc agg commutes with the per-doc
    * label join, so the restricted frame is row-identical to computing
    * features on the labeled slice directly). That holds only with ONE
    * label row per `doc_id`: trainLinear features the labeled rows, so a
    * doc labeled twice has its counts doubled there but not here.
    * `nonEmpty` supplies the class priors and must already carry
    * trainLinear's empty-text filter. */
  private[graft] def trainLinearFrom(feats: DataFrame,
                                     nonEmpty: DataFrame): DataFrame = {
    val spark = nonEmpty.sparkSession
    val joined = feats.join(nonEmpty.select("doc_id", "label"), "doc_id")
    val counts = joined.groupBy("label", "bucket")
      .agg(sum(col("c")).cast("long").as("cnt"))
    val totals = counts.groupBy("label")
      .agg(sum(col("cnt")).cast("long").as("tot"))
    // full B-bucket spine per class: a bucket unseen in one class still
    // gets that class's smoothed floor (otherwise its weight would be
    // NULL and every doc touching it would drop out of that class's sum).
    // counts is bounded by C·B rows BY CONSTRUCTION (≤ 64·1024 at the
    // encoding ceiling), so the spine join broadcasts at any corpus scale
    // instead of shuffling+sorting a model-sized frame (round 21).
    val spine = totals.crossJoin(
      spark.range(0, B, 1, 1).select(col("id").as("bucket")))
    val fp = (x: org.apache.spark.sql.Column) =>
      floor(x * Scale + lit(0.5)).cast("long")
    val weights = spine.join(broadcast(counts), Seq("label", "bucket"), "left")
      .select(col("label"), col("bucket"),
        fp(log((coalesce(col("cnt"), lit(0L)) + lit(1.0)) /
          (col("tot") + lit(B.toDouble)))).as("w"))
    val perClass = nonEmpty.groupBy("label")
      .agg(count(lit(1)).cast("long").as("nc"))
    val priors = perClass.crossJoin(broadcast(
        perClass.agg(sum(col("nc")).as("n"), count(lit(1)).as("ncls"))))
      .select(col("label"), lit(-1L).as("bucket"),
        fp(log((col("nc") + lit(1.0)) / (col("n") + col("ncls")))).as("w"))
    weights.unionByName(priors)
  }

  /** Per-(doc, class) fixed-point scores: prior + Σ_buckets c·w. One
    * feature pass, one broadcast model join, one hash agg. Empty-text
    * docs carry no features and emit no rows (they cannot be scored). */
  def classifyScores(docs: DataFrame, model: DataFrame): DataFrame =
    classifyScoresFrom(Sampling.dsirFeatures(docs), model)

  /** [[classifyScores]] over a pre-computed feature frame — see
    * [[trainLinearFrom]]. */
  private[graft] def classifyScoresFrom(feats: DataFrame,
                                        model: DataFrame): DataFrame = {
    val weights = model.filter(col("bucket") >= 0)
    val priors = model.filter(col("bucket") === -1L)
      .select(col("label"), col("w").as("prior"))
    feats
      .join(broadcast(weights), "bucket")
      .groupBy("doc_id", "label")
      .agg(sum(col("c") * col("w")).as("sc"))
      .join(broadcast(priors), "label")
      .select(col("doc_id"), col("label"),
        (col("sc") + col("prior")).cast("long").as("score"))
  }

  /** Argmax classification: `(doc_id, pred_label, score)` — the winning
    * class per doc, ties broken by ascending label name (deterministic
    * under any partitioning: the (score, class-index) pair is encoded
    * into ONE long so the argmax is a plain max() HashAggregate — the
    * assignToCentroids trick; min(struct) would SortAggregate). */
  def classify(docs: DataFrame, model: DataFrame): DataFrame =
    classifyFrom(Sampling.dsirFeatures(docs), model)

  /** [[classify]] over a pre-computed feature frame — see
    * [[trainLinearFrom]]. */
  private[graft] def classifyFrom(feats: DataFrame,
                                  model: DataFrame): DataFrame = {
    val scores = classifyScoresFrom(feats, model)
    // dense class index by ascending label — COLLECTED once (round 20):
    // the model is checkpointed and C ≤ 64, so the class list is a tiny
    // driver value; the previous shape paid a count() action plus TWO
    // broadcast-exchange builds (index attach + label decode) per query
    // for what is now a row-local literal-map probe and a literal-array
    // decode. orderBy("label") keeps the ENGINE's string ordering (the
    // same total order the row_number window used), so cidx values are
    // unchanged.
    val classes = model.select("label").distinct().orderBy("label")
      .collect().map(_.getString(0))
    // empty model: map() would build map<null,null> and fail analysis at
    // element_at with an inscrutable error; a null label would become a
    // null map key (runtime error at probe time). Fail loudly up front.
    require(classes.nonEmpty,
      "classify() needs a trained model with at least one class")
    require(classes.forall(_ != null),
      "classify() model contains a NULL label — labels must be non-null")
    // the encoding reserves 6 bits for the class index — a 65th class
    // would alias class 0 with an off-by-one score, silently. Real
    // many-class uses (a full LID head) need a wider reservation; fail
    // loudly instead.
    require(classes.length <= 64,
      s"classify()'s argmax encoding reserves 6 bits for the class " +
        s"index (<= 64 classes); got ${classes.length} — widen the " +
        "encoding or shard the label space")
    val cidxMap = map(classes.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c), lit(i.toLong)) }: _*)
    val labelArr = array(classes.map(lit): _*)
    val enc = col("score") * 64 +
      (lit(63L) - element_at(cidxMap, col("label")))
    scores
      .select(col("doc_id"), enc.as("enc"))
      .groupBy("doc_id")
      .agg(max(col("enc")).as("enc"))
      .select(col("doc_id"), (lit(63L) - pmod(col("enc"), lit(64))).as("cidx"),
        // decode score: strip the index part (enc is then an exact
        // multiple of 64) and arithmetic-shift — integer-exact for any
        // long, unlike `/ 64`, whose long/long → DOUBLE division loses
        // mantissa bits past 2^53
        shiftright(col("enc") - pmod(col("enc"), lit(64)), 6).as("score"))
      .select(col("doc_id"),
        element_at(labelArr, (col("cidx") + 1).cast("int")).as("pred_label"),
        col("score"))
  }

  /** Multi-class language-ID head: the same distillation recipe as
    * [[qualityClassifier]] with a caller-supplied `(doc_id, label)`
    * teacher — the supervised-fastText setting: when the corpus carries
    * language labels as METADATA (the synthetic `documents.lang` column;
    * in a real crawl, a labeled subset), distill the text→language
    * classifier from those. Exercises [[classify]]'s generic encoded
    * argmax beyond the binary case (a handful of classes ≪ the encoding's
    * 64-class ceiling; a wider head shards the label space per the
    * classify() contract). `teacher` must carry one label row per
    * `doc_id`: the model is then the one [[trainLinear]] fits on the
    * labeled docs (see [[trainLinearFrom]]). Output is the per-doc
    * evaluation frame: the student's verdict and fixed-point score, the
    * teacher's language, and agreement — the per-class agreement matrix
    * is one groupBy away. */
  def lidClassifierWith(docs: DataFrame, teacher: DataFrame): DataFrame = {
    // ONE feature pass (round 21): train and classify both read this
    // checkpointed frame — previously each ran its own corpus-wide
    // md5-per-gram explode in sequential jobs.
    val fs = Sampling.dsirFeatures(docs.select("doc_id", "text"))
      .localCheckpoint()
    val nonEmpty = docs.select("doc_id", "text").join(teacher, "doc_id")
      .filter(length(trim(col("text"))) > 0)
    val model = trainLinearFrom(fs, nonEmpty).localCheckpoint()
    val out = classifyFrom(fs, model)
      .join(teacher, "doc_id")
      .select(col("doc_id"), col("pred_label"), col("score"),
        col("label").as("teacher_lang"),
        (col("pred_label") === col("label")).as("agree"))
    val mat = out.localCheckpoint()
    Seq(model, fs).foreach(Dedup.releaseCheckpoint)
    mat
  }

  /** The self-distilled quality classifier — the FineWeb-Edu recipe shape
    * with a rule gate as the (free, deterministic) teacher: label every
    * doc keep/drop by [[TextAnalysis.qualityFilter]] (the corpus-tuned
    * gate — the paper-threshold [[Gopher.qualityGate]] drops ~100% of the
    * short synthetic docs, which would leave the student a single-class
    * no-op), train the hashed-ngram linear model on those labels, and
    * score the corpus with it. Output: per-doc fixed-point scores for
    * both classes, the argmax verdict, the teacher's verdict, and
    * agreement — the evaluation frame a curation team reads before
    * swapping the cheap student in for the expensive teacher. The model
    * is checkpointed once and shared between branches (released before
    * return — the dsirWeights pattern). */
  def qualityClassifier(docs: DataFrame): DataFrame = {
    val teacher = TextAnalysis.qualityFilter(docs)
      .select(col("doc_id"),
        when(col("keep"), lit("keep")).otherwise(lit("drop")).as("label"))
    // ONE feature pass shared by train and classify — see lidClassifierWith
    val fs = Sampling.dsirFeatures(docs.select("doc_id", "text"))
      .localCheckpoint()
    val nonEmpty = docs.select("doc_id", "text").join(teacher, "doc_id")
      .filter(length(trim(col("text"))) > 0)
    val model = trainLinearFrom(fs, nonEmpty).localCheckpoint()
    val scores = classifyScoresFrom(fs, model)
    val pivoted = scores.groupBy("doc_id")
      .agg(sum(when(col("label") === "drop", col("score"))).as("score_drop"),
        sum(when(col("label") === "keep", col("score"))).as("score_keep"))
    val out = pivoted.join(teacher, "doc_id")
      .select(col("doc_id"),
        col("score_drop").cast("long").as("score_drop"),
        col("score_keep").cast("long").as("score_keep"),
        // strict >: a tie goes to 'drop' (ascending-label tiebreak, the
        // classify() contract). Coalesce to Long.MinValue: on a degenerate
        // single-class teacher corpus the ABSENT class's score is NULL,
        // and a bare NULL comparison made every doc predict the INVERSE
        // of the only class the teacher emitted (round-13 ADVICE) — the
        // present class must win instead.
        when(coalesce(col("score_keep"), lit(Long.MinValue)) >
            coalesce(col("score_drop"), lit(Long.MinValue)), lit("keep"))
          .otherwise(lit("drop")).as("pred_label"),
        (col("label") === "keep").as("teacher_keep"))
      .withColumn("agree",
        (col("pred_label") === "keep") === col("teacher_keep"))
    val mat = out.localCheckpoint()
    Seq(model, fs).foreach(Dedup.releaseCheckpoint)
    mat
  }
}
