package graft

import graft.ops.{Classifier, Sampling}
import org.apache.spark.sql.functions._

/** Hashed-ngram linear classifier (round 13): training shape, generic
  * multi-class argmax, determinism, and plan contracts. */
class ClassifierSpec extends SparkSpec {

  private def labeled() = {
    import spark.implicits._
    // two separable "languages": disjoint vocabularies
    val en = (0L until 40L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog number $i", "en"))
    val xx = (100L until 140L).map(i =>
      (i, s"zorp blick flumm gnart wizzle drong quee snuv item $i", "xx"))
    (en ++ xx).toDF("doc_id", "text", "label")
  }

  test("trainLinear: C·(B+1) model rows, every bucket has a weight for " +
    "every class, priors ride at bucket = -1") {
    val model = Classifier.trainLinear(labeled())
    val counts = model.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("en" -> 1025L, "xx" -> 1025L))
    assert(model.filter(col("bucket") === -1L).count() === 2)
    // weights are fixed-point longs, never null (full spine contract)
    assert(model.filter(col("w").isNull).count() === 0)
  }

  test("trainLinearFrom over a superset feature frame == trainLinear on the " +
    "labeled slice, with one label row per doc") {
    import spark.implicits._
    // a blank labeled doc exercises the empty-text filter; the unlabeled
    // docs are in the feature frame only
    val lab = labeled().union(Seq((50L, "   ", "en")).toDF("doc_id", "text", "label"))
    val unlabeled = (200L until 220L).map(i => (i, s"gnart quick drong lazy $i"))
      .toDF("doc_id", "text")
    val superset = Sampling.dsirFeatures(
      lab.select("doc_id", "text").union(unlabeled))
    val nonEmpty = lab.filter(length(trim(col("text"))) > 0)
    def rows(m: org.apache.spark.sql.DataFrame) =
      m.select("label", "bucket", "w").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val want = rows(Classifier.trainLinear(lab))
    assert(want.length === 2 * 1025)
    assert(rows(Classifier.trainLinearFrom(superset, nonEmpty)) === want)
  }

  test("classify separates disjoint vocabularies and matches the " +
    "classifyScores argmax exactly (encoded-argmax parity)") {
    val docs = labeled()
    val model = Classifier.trainLinear(docs)
    val pred = Classifier.classify(docs.select("doc_id", "text"), model)
    val byDoc = pred.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byDoc.size === 80)
    assert((0L until 40L).forall(byDoc(_) == "en"))
    assert((100L until 140L).forall(byDoc(_) == "xx"))
    // argmax parity against the per-class score frame
    val scores = Classifier.classifyScores(docs.select("doc_id", "text"), model)
      .collect().groupBy(_.getLong(0))
    byDoc.foreach { case (id, lbl) =>
      val best = scores(id).minBy(r => (-r.getLong(2), r.getString(1)))
      assert(best.getString(1) === lbl, s"doc $id argmax mismatch")
    }
  }

  test("classification is deterministic under repartitioning (integer " +
    "scores cannot drift with summation order)") {
    val docs = labeled()
    val model = Classifier.trainLinear(docs)
    val a = Classifier.classify(docs.select("doc_id", "text"), model)
      .orderBy("doc_id").collect().toSeq
    val b = Classifier.classify(
        docs.repartition(7).select("doc_id", "text"), model)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("argmax plan: model joins broadcast, aggregates stay HashAggregate " +
    "(no SortAggregate from the encoded argmax)") {
    val docs = labeled()
    val model = Classifier.trainLinear(docs).localCheckpoint()
    val p = Classifier.classify(docs.select("doc_id", "text"), model)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"model join not broadcast:\n$p")
    assert(!p.contains("SortAggregate"), s"argmax degraded to sort-agg:\n$p")
    graft.ops.Dedup.releaseCheckpoint(model)
  }

  test("lidClassifierWith: 4-class rule-LID distillation — per-class " +
    "agreement is strong on a separable multilingual corpus, plan stays " +
    "hash-agg") {
    import spark.implicits._
    // each language's docs are built FROM its rule-LID stopwords plus a
    // disjoint content vocabulary, so the teacher labels are clean and
    // the student has separable features
    def mk(lo: Long, stop: String, filler: String) =
      (lo until lo + 30L).map(i =>
        (i, s"$stop $filler$i $stop $filler ${filler}x $stop"))
    val docs = (mk(0L, "the a of and is", "cat") ++
      mk(100L, "le la les et est", "chien") ++
      mk(200L, "der die das und ist", "hund") ++
      mk(300L, "el los las y es", "perro")).toDF("doc_id", "text")
    val teacher = graft.ops.TextAnalysis.langId(docs)
      .select(col("doc_id"), col("lang_guess").as("label"))
    val out = Classifier.lidClassifierWith(docs, teacher)
    assert(out.count() === 120)
    // ≥ 3 distinct classes actually predicted (the multi-class point)
    assert(out.select("pred_label").distinct().count() >= 3)
    val perClass = out.groupBy("teacher_lang")
      .agg(avg(col("agree").cast("double")).as("rate"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(perClass.keySet === Set("en", "fr", "de", "es"))
    perClass.foreach { case (lang, rate) =>
      assert(rate >= 0.8, s"per-class agreement for $lang only $rate") }
    // the generic argmax must stay a HashAggregate on the wider head too
    val model = Classifier.trainLinear(docs.join(teacher, "doc_id"))
    val p = Classifier.classify(docs, model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortAggregate"), s"4-class argmax degraded:\n$p")
  }

  test("qualityClassifier: verdict frame covers the scorable corpus, " +
    "teacher recovery is strong on a separable corpus") {
    import spark.implicits._
    // quality split: fluent long docs vs stopword-free junk
    val good = (0L until 30L).map(i =>
      (i, ("the deal of the day is a fine offer and " * 3) + i, "en", "s", 100L))
    val junk = (100L until 130L).map(i =>
      (i, s"zzzz qqqq $i", "en", "s", 10L))
    val docs = (good ++ junk).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Classifier.qualityClassifier(docs)
    assert(out.count() === 60)
    val agree = out.filter(col("agree")).count()
    assert(agree >= 55, s"student recovered only $agree/60 teacher verdicts")
  }

  test("qualityClassifier on a single-class teacher corpus predicts that " +
    "class, not its inverse (round-13 ADVICE regression)") {
    import spark.implicits._
    // every doc passes the quality gate -> the teacher emits ONLY 'keep',
    // so score_drop is NULL for every doc; the coalesced comparison must
    // let the present class win (the old bare NULL comparison predicted
    // 'drop' for the whole corpus)
    val docs = (0L until 25L).map(i =>
      (i, ("the deal of the day is a fine offer and " * 3) + i, "en", "s", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Classifier.qualityClassifier(docs).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Boolean]("teacher_keep")),
      "fixture must be a keep-only teacher corpus")
    assert(out.forall(_.getAs[String]("pred_label") == "keep"),
      "single-class corpus must predict the only class the teacher emitted")
    assert(out.forall(_.getAs[Boolean]("agree")))
  }
}
