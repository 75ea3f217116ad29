package graft

import graft.ops.{Similarity, TextAnalysis, Windows}
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** North-star ops: text analysis goldens, approx-distinct tolerance, cosine
  * top-k correctness (local-top-k pass vs a plain global window). */
class OpsSpec extends SparkSpec {

  test("textStats: golden counts on a crafted string") {
    import spark.implicits._
    val d = Seq((1L, "The cat sat on the mat. 123 go!")).toDF("doc_id", "text")
    val r = TextAnalysis.textStats(d).head()
    // words: The cat sat on the mat. 123 go!  -> 8 whitespace tokens
    assert(r.getLong(1) === 31L)  // n_chars
    assert(r.getLong(2) === 8L)   // n_words
    assert(r.getLong(3) === 8L)   // n_distinct_words ("the" vs "The" differ)
    // bpe tokens: The|cat|sat|on|the|mat|.|123|go|! = 10
    assert(r.getLong(6) === 10L)
  }

  test("bpe tokenizer counts punctuation singly and never counts whitespace") {
    import spark.implicits._
    val d = Seq((1L, "ab cd!")).toDF("doc_id", "text")
    // ab|cd|! = 3 (the round-2 bug double-counted whitespace runs -> 4)
    assert(TextAnalysis.textStats(d).head().getLong(6) === 3L)
  }

  test("qualityFilter: gibberish fails with named reasons, prose passes") {
    import spark.implicits._
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "a second sentence of plain text is here to pad the word count"
    val d = Seq(
      (1L, prose),
      (2L, "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) ____"),
      (3L, "word")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityFilter(d).orderBy("doc_id").collect()
    assert(r(0).getBoolean(1) === true)
    assert(r(0).getString(2) === "")
    assert(r(1).getBoolean(1) === false)
    assert(r(1).getString(2).contains("symbol_heavy"))
    assert(r(1).getString(2).contains("no_stopwords"))
    assert(r(2).getString(2).contains("too_few_words"))
  }

  test("winnow: local edits keep most fingerprints, digest robust to duplication") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val doubled = a.replace(" over ", "  over \t")
    val d = Seq((1L, a), (2L, a), (3L, doubled), (4L, "xyz")).toDF("doc_id", "text")
    val r = TextAnalysis.winnow(d).orderBy("doc_id").collect()
    assert(r(0).getString(2) === r(1).getString(2))   // identical docs
    // internal whitespace runs collapse in normalization -> same digest
    assert(r(0).getString(2) === r(2).getString(2))
    assert(r(3).isNullAt(2))                           // too short: no digest
    assert(r(0).getLong(1) === a.length - 7)
  }

  test("langId picks the language with most stopword hits") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat and the dog of a house is here"),
      (2L, "le chat et la maison est grande les arbres"),
      (3L, "der hund und die katze ist das haus")).toDF("doc_id", "text")
    val r = TextAnalysis.langId(d).orderBy("doc_id").collect().map(_.getString(1))
    assert(r === Array("en", "fr", "de"))
  }

  test("langIdNgram: character trigram profiles pick the language") {
    import spark.implicits._
    val d = Seq(
      (1L, "The thing and the other thing belonging together"),
      (2L, "der schnelle braune fuchs springt einfach durch ich"),
      (3L, "los gatos y las casas que hemos comprado")).toDF("doc_id", "text")
    val r = TextAnalysis.langIdNgram(d).orderBy("doc_id").collect().map(_.getString(1))
    assert(r === Array("en", "de", "es"))
  }

  test("fingerprint: whitespace/case variants collapse to one fingerprint") {
    import spark.implicits._
    val d = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other thing"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.fingerprint(d).collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) === r(2L))
    assert(r(1L) !== r(3L))
  }

  test("hll_sketch_agg(lgK=14) within 5% of exact (SparkEntry.approxDistinct contract)") {
    val df = spark.range(100000).selectExpr("cast(id % 7919 as long) v")
    val r = df.selectExpr(
      "hll_sketch_estimate(hll_sketch_agg(v, 14)) a",
      "count(DISTINCT v) e").head()
    val (a, e) = (r.getLong(0), r.getLong(1))
    assert(math.abs(a - e).toDouble / e < 0.05)
  }

  test("cosineTopK: local-top-k pass returns exactly the global window's answer") {
    import spark.implicits._
    // deterministic pseudo-random corpus, spread over several partitions so
    // the per-partition heap pass actually has something to merge
    val dim = 8
    def vec(seed: Long): Seq[Float] =
      (0 until dim).map(i => (((seed * 2654435761L + i * 40503L) % 1000) / 500.0f - 1.0f))
    val corpus = (0L until 200L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .repartition(7)
    val queries = (0L until 4L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val fast = Similarity.cosineTopK(corpus, queries, 5)
      .orderBy("query_id", "rank").collect()

    // reference: plain global window, no local pass
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("c_emb"))
    val sim = Similarity.dot(col("q_emb"), col("c_emb")) /
      (Similarity.norm(col("q_emb")) * Similarity.norm(col("c_emb")))
    val rn = row_number().over(
      Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id")))
    val slow = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", sim.cast("double")).withColumn("rank", rn)
      .filter(col("rank") <= 5)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("rank"), col("sim"))
      .orderBy("query_id", "rank").collect()
    assert(fast === slow)
  }

  test("lshCosineTopK: same-signature buckets only; identical vector is rank-1 hit") {
    import spark.implicits._
    def vec(seed: Long): Seq[Float] =
      (0 until 64).map(i => (((seed * 97 + i * 31) % 100) / 50.0f - 1.0f))
    val corpus = ((0L until 50L).map(i => (i, vec(i))) :+ (99L, vec(7L)))
      .toDF("vec_id", "embedding")
    val queries = Seq((7L, vec(7L))).toDF("vec_id", "embedding")
    val r = Similarity.lshCosineTopK(corpus, queries, 3)
      .orderBy("rank").collect()
    // vec 99 is a copy of query 7 -> same signature bucket, cosine 1.0, rank 1
    assert(r.nonEmpty)
    assert(r.head.getLong(1) === 99L)
    assert(math.abs(r.head.getDouble(3) - 1.0) < 1e-12)
  }

  test("multiprobe LSH top-k: per rank, sim(single) <= sim(multiprobe) <= sim(brute force)") {
    import spark.implicits._
    def vec(seed: Long): Seq[Float] =
      (0 until 64).map(i => (((seed * 131 + i * 17) % 200) / 100.0f - 1.0f))
    val corpus = (0L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = (0L until 4L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    // per query: sims in rank order
    def ranked(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.select("query_id", "rank", "sim").collect().toSeq
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.sortBy(_.getAs[Number](1).intValue).map(_.getDouble(2)) }
        .withDefaultValue(Seq.empty)
    val single = ranked(Similarity.lshCosineTopK(corpus, queries, 5))
    val multi = ranked(Similarity.lshCosineTopKMultiprobe(corpus, queries, 5))
    val brute = ranked(Similarity.cosineTopK(corpus, queries, 5))
    // the candidate sets nest (own bucket ⊆ own + distance-1 buckets ⊆
    // corpus), so the top-k over a larger set holds at least as many hits
    // and is at least as similar at every rank. The PAIR sets do not nest:
    // a bucket-restricted top-5 may hold neighbors outside brute's top-5.
    for (q <- 0L until 4L) {
      val (s, m, b) = (single(q), multi(q), brute(q))
      assert(s.size <= m.size && m.size <= b.size, s"query $q: hit counts $s / $m / $b")
      s.indices.foreach(r => assert(s(r) <= m(r) + 1e-12, s"query $q rank ${r + 1}: $s vs $m"))
      m.indices.foreach(r => assert(m(r) <= b(r) + 1e-12, s"query $q rank ${r + 1}: $m vs $b"))
      assert(b.size === 5)
    }
    // the probe set widens this fixture's candidates (8 single-bucket hits
    // against 18 multiprobe hits), so the bounds above are not vacuous
    assert(multi.values.map(_.size).sum > single.values.map(_.size).sum)
  }

  test("ivfTopK: identical vector shares its centroid list and ranks first") {
    import spark.implicits._
    def vec(seed: Long): Seq[Float] =
      (0 until 64).map(i => (((seed * 131 + i * 17) % 200) / 100.0f - 1.0f))
    val corpus = ((0L until 50L).map(i => (i, vec(i))) :+ (99L, vec(5L)))
      .toDF("vec_id", "embedding")
    val queries = Seq((5L, vec(5L))).toDF("vec_id", "embedding")
    val r = Similarity.ivfTopK(corpus, queries, 3).orderBy("rank").collect()
    assert(r.nonEmpty)
    assert(r.head.getLong(1) === 99L) // exact copy -> same centroid, cos 1.0
    assert(math.abs(r.head.getDouble(3) - 1.0) < 1e-12)
  }

  test("probeSignatures: exact sig plus every Hamming-1 neighbor") {
    import spark.implicits._
    val r = Seq("10110101").toDF("sig")
      .select(explode(Similarity.probeSignatures(col("sig"), 8)).as("p"))
      .collect().map(_.getString(0))
    assert(r.length === 9)
    assert(r.head === "10110101")
    assert(r.distinct.length === 9)
    assert(r.tail.forall(p =>
      p.zip("10110101").count { case (x, y) => x != y } === 1))
  }

  test("dead-letter sink: quarantine written per-source, payload intact") {
    val t = graft.translate.VehicleTranslators.geotab(
      strings("""{"Device_ID":"only"}""", "not json at all"), "t")
    val out = java.nio.file.Files.createTempDirectory("dlq").toString
    graft.route.DeadLetter.write(t.quarantine, "geotab", out)
    val back = spark.read.parquet(out)
    assert(back.count() === 2)
    assert(back.select("source").distinct().head().getString(0) === "geotab")
    assert(back.filter(col("value") === "not json at all").count() === 1)
  }

  test("sessionize: gap splits sessions per user") {
    import spark.implicits._
    val us = (t: Long) => t * 1000000L
    val ev = Seq(
      (1L, 10L, us(1000)), (2L, 10L, us(1100)),   // session 1 (gap 100 s)
      (3L, 10L, us(10000)),                        // gap 8900 s > 1800 -> session 2
      (4L, 20L, us(500))                           // other user
    ).toDF("event_id", "user_id", "epoch_us")
    val r = Windows.sessionize(ev)
      .select("user_id", "session_idx", "n_events").orderBy("user_id", "session_idx")
      .collect()
    assert(r === Array(Row(10L, 1L, 2L), Row(10L, 2L, 1L), Row(20L, 1L, 1L)))
  }

  test("tumblingCounts: hour buckets with decimal-exact sums") {
    import spark.implicits._
    val ev = Seq(
      (1L, "click", 1.5, 100L), (2L, "click", 2.5, 200L),    // hour 0
      (3L, "view", 1.0, 3700L)                               // hour 1
    ).map { case (id, et, v, s) => (id, et, v, s * 1000000L) }
      .toDF("event_id", "event_type", "value", "epoch_us")
    val r = Windows.tumblingCounts(ev)
      .orderBy("window_start", "event_type")
      .collect()
    assert(r === Array(
      Row("1970-01-01T00:00:00Z", "click", 2L, 4.0),
      Row("1970-01-01T01:00:00Z", "view", 1L, 1.0)))
  }

  test("qualityFilter: NULL text is rejected with an explicit reason") {
    import spark.implicits._
    val d = Seq((1L, null: String),
      (2L, "the cat and the dog sat on a mat of straw here")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityFilter(d).orderBy("doc_id").collect()
    assert(r(0).getBoolean(1) === false && r(0).getString(2) === "null_text")
    assert(r(1).getBoolean(1) === true)
  }

  test("frameSample: stride beyond payload yields NULL, not the empty-input md5") {
    import spark.implicits._
    import graft.ops.Multimodal
    val media = Multimodal.asMediaTable(
      Seq((1L, "x" * 150)).toDF("doc_id", "text"))
    // 150 bytes, stride 4 * 64 = 256 > 150 -> no frame4
    val r = Multimodal.frameSample(media, frameBytes = 64, stride = 4).head()
    assert(r.isNullAt(3), "nonexistent frame must fingerprint as NULL")
    // stride 2 * 64 = 128 < 150 -> frame2 exists
    assert(!Multimodal.frameSample(media, frameBytes = 64, stride = 2).head().isNullAt(3))
  }

  test("pqTopK: ADC retrieval separates well-separated clusters, deterministic") {
    import spark.implicits._
    import graft.ops.Similarity
    // two tight clusters far apart in the first coordinates; 8-dim, m=2
    def vec(base: Float, j: Int): Array[Float] =
      Array.tabulate(8)(d => base + (if (d == j % 4) 0.5f else 0f))
    val corpus = ((1L to 6L).map(i => (i, vec(10f, i.toInt))) ++
      (7L to 12L).map(i => (i, vec(-10f, i.toInt)))).toDF("vec_id", "embedding")
    val queries = Seq((1L, vec(10f, 1)), (7L, vec(-10f, 7)))
      .toDF("vec_id", "embedding")
    val r = Similarity.pqTopK(corpus, queries, m = 2, k = 2, topK = 5, dim = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // every retrieved neighbor is from the query's own cluster
    assert(r.filter(_._1 == 1L).forall(_._2 <= 6L), r.mkString(","))
    assert(r.filter(_._1 == 7L).forall(_._2 >= 7L), r.mkString(","))
    // ranks are 1..5 per query, ADC distances nonneg and nondecreasing
    for (qid <- Seq(1L, 7L)) {
      val mine = r.filter(_._1 == qid).sortBy(_._4)
      assert(mine.map(_._4).toSeq === (1L to 5L))
      assert(mine.map(_._3).toSeq === mine.map(_._3).sorted.toSeq)
      assert(mine.forall(_._3 >= 0L))
    }
    // bit-exact determinism across runs (integer codebooks + ADC)
    val r2 = Similarity.pqTopK(corpus, queries, m = 2, k = 2, topK = 5, dim = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.sorted.toSeq === r2.sorted.toSeq)
  }

  test("ivfPqTopK: residual ADC separates clusters; candidates monotone in nprobe") {
    import spark.implicits._
    import graft.ops.Similarity
    def vec(base: Float, j: Int): Array[Float] =
      Array.tabulate(8)(d => base + (if (d == j % 4) 0.5f else 0f))
    val corpus = ((1L to 6L).map(i => (i, vec(10f, i.toInt))) ++
      (7L to 12L).map(i => (i, vec(-10f, i.toInt)))).toDF("vec_id", "embedding")
    val queries = Seq((1L, vec(10f, 1)), (7L, vec(-10f, 7)))
      .toDF("vec_id", "embedding")
    def run() = Similarity.ivfPqTopK(corpus, queries, m = 2, k = 2, topK = 5,
        dim = 8, numCentroids = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    val r = run()
    // residual coding must preserve the obvious structure: every retrieved
    // neighbor comes from the query's own cluster, no self-pairs
    assert(r.nonEmpty)
    assert(r.filter(_._1 == 1L).forall(n => n._2 <= 6L && n._2 != 1L), r.mkString(","))
    assert(r.filter(_._1 == 7L).forall(n => n._2 >= 7L && n._2 != 7L), r.mkString(","))
    // bit-exact determinism (integer residuals + integer codebooks + ADC)
    assert(r.sorted.toSeq === run().sorted.toSeq)
    // more probed lists can only ADD candidates — a candidate's codes and
    // its (query, list) LUT are independent of nprobe, so the restriction
    // is monotone (topK=12 spans the whole corpus, so no rank-cut effects)
    def cands(np: Int) = Similarity.ivfPqTopK(corpus, queries, m = 2, k = 2,
        topK = 12, dim = 8, numCentroids = 4, nprobe = np)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(cands(1).subsetOf(cands(4)))
  }

  test("trained IVF-PQ: integer-Lloyd quantizer is deterministic, spill " +
    "assignment only adds reachable candidates, clusters separate") {
    import spark.implicits._
    import graft.ops.Similarity
    def vec(base: Float, j: Int): Array[Float] =
      Array.tabulate(8)(d => base + (if (d == j % 4) 0.5f else 0f))
    val corpus = ((1L to 6L).map(i => (i, vec(10f, i.toInt))) ++
      (7L to 12L).map(i => (i, vec(-10f, i.toInt)))).toDF("vec_id", "embedding")
    val queries = Seq((1L, vec(10f, 1)), (7L, vec(-10f, 7)))
      .toDF("vec_id", "embedding")
    // training: deterministic across runs, ≤ numCentroids usable centroids
    val c1 = Similarity.ivfTrainCentroidsInt(corpus, numCentroids = 4, iters = 3)
    val c2 = Similarity.ivfTrainCentroidsInt(corpus, numCentroids = 4, iters = 3)
    assert(c1 === c2)
    assert(c1.nonEmpty && c1.size <= 4 && c1.forall(_.size == 8))
    assert(c1.forall(_.exists(_ != 0L)), "zero centroids must be dropped")
    def run(at: Int, np: Int, topK: Int = 5) =
      Similarity.ivfPqTopKTrained(corpus, queries, m = 2, k = 2, topK = topK,
          dim = 8, numCentroids = 4, nprobe = np, assignTop = at, iters = 3)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    val r = run(at = 1, np = 2)
    assert(r.nonEmpty)
    // the two opposite-sign clusters must separate under a TRAINED
    // quantizer at partial coverage
    assert(r.filter(_._1 == 1L).forall(n => n._2 <= 6L && n._2 != 1L), r.mkString(","))
    assert(r.filter(_._1 == 7L).forall(n => n._2 >= 7L && n._2 != 7L), r.mkString(","))
    assert(r.sorted.toSeq === run(at = 1, np = 2).sorted.toSeq) // bit-exact
    // spill monotonicity: reachability = assignment ∩ probes, so top-2
    // assignment can only ADD candidates at the same probe set
    def cands(at: Int) = run(at, np = 2, topK = 12).map(x => (x._1, x._2)).toSet
    assert(cands(1).subsetOf(cands(2)))
    // rerank of the trained chain: sims are exact cosines, ranks 1..k
    val rr = Similarity.ivfPqRerankTopKTrained(corpus, queries, m = 2, k = 2,
        topK = 3, dim = 8, numCentroids = 4, nprobe = 2, shortlist = 8,
        assignTop = 2, iters = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3)))
    for (qid <- Seq(1L, 7L)) {
      val mine = rr.filter(_._1 == qid).sortBy(_._4)
      assert(mine.map(_._4).toSeq === (1L to 3L))
      assert(mine.map(_._3).toSeq === mine.map(_._3).sorted.reverse.toSeq)
    }
  }

  test("ivfPqRerankTopK: exact rescoring of the ADC shortlist, order by true cosine") {
    import spark.implicits._
    import graft.ops.Similarity
    def vec(base: Float, j: Int): Array[Float] =
      Array.tabulate(8)(d => base + (if (d == j % 4) 0.5f else 0f))
    val corpus = ((1L to 6L).map(i => (i, vec(10f, i.toInt))) ++
      (7L to 12L).map(i => (i, vec(-10f, i.toInt)))).toDF("vec_id", "embedding")
    val queries = Seq((1L, vec(10f, 1)), (7L, vec(-10f, 7)))
      .toDF("vec_id", "embedding")
    def rerank = Similarity.ivfPqRerankTopK(corpus, queries, m = 2, k = 2,
        topK = 3, dim = 8, numCentroids = 4, shortlist = 8)
    // plan shape: the exact pass must be broadcast-restricted (shortlist +
    // queries broadcast into the corpus scan), never a cartesian/NLJ over
    // the corpus
    val plan = rerank.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in rerank plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"exact pass not broadcast-restricted:\n$plan")
    val r = rerank
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3)))
    // cluster structure survives (same contract as the ADC-only test)
    assert(r.filter(_._1 == 1L).forall(n => n._2 <= 6L && n._2 != 1L), r.mkString(","))
    assert(r.filter(_._1 == 7L).forall(n => n._2 >= 7L && n._2 != 7L), r.mkString(","))
    // the re-ranked order is the TRUE cosine order of the shortlist: for
    // each query, ranks follow descending exact cosine vs the raw vectors
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
           math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val raw = ((1L to 6L).map(i => (i, vec(10f, i.toInt))) ++
      (7L to 12L).map(i => (i, vec(-10f, i.toInt)))).toMap
    for (qid <- Seq(1L, 7L)) {
      val mine = r.filter(_._1 == qid).sortBy(_._4)
      assert(mine.map(_._4).toSeq === (1L to 3L))
      // sims are exactly the recomputed cosines, in nonincreasing order
      mine.foreach { case (_, v, sim, _) =>
        assert(math.abs(sim - cos(raw(qid), raw(v))) < 1e-9) }
      assert(mine.map(_._3).toSeq === mine.map(_._3).sorted.reverse.toSeq)
    }
    // with the shortlist spanning the reachable candidates, rerank's top-k
    // can only improve on ADC's: its rank-1 is the true nearest among them
    val adc = Similarity.ivfPqTopK(corpus, queries, m = 2, k = 2, topK = 8,
        dim = 8, numCentroids = 4)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val rerankTop = r.filter(_._4 == 1L).map(t => (t._1, t._2))
    rerankTop.foreach { case (q, v) =>
      val best = adc.filter(_._1 == q).map(_._2)
        .maxBy(c => cos(raw(q), raw(c)))
      assert(v === best, s"query $q rank-1 $v != true-best-in-shortlist $best")
    }
  }

  test("unigramLogProb: common-vocabulary docs outscore rare-token docs; probs sum sane") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "the cat sat on the mat"),     // all tokens recur across docs
      (2L, "the cat sat on the mat"),
      (3L, "zyx qwv jkl pqr"),            // every token unique to doc 3
      (4L, "the cat")).toDF("doc_id", "text")
    val r = TextAnalysis.unigramLogProb(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).sortBy(_._1)
    assert(r.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    // identical docs -> identical scores; rare-token doc scores strictly lower
    assert(r(0)._3 === r(1)._3)
    assert(r(2)._3 < r(0)._3)
    // "the" (freq 5/16) scores above ln(1/16) floor; all logprobs negative
    assert(r.forall(_._3 < 0.0))
    assert(r(0)._2 === 6L && r(3)._2 === 2L)
  }

  test("ivfTopK: candidate set grows monotonically with nprobe") {
    import spark.implicits._
    import graft.ops.Similarity
    def vec(seed: Long): Seq[Float] =
      (0 until 64).map(i => (((seed * 131 + i * 17) % 200) / 100.0f - 1.0f))
    val corpus = (0L until 50L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val queries = Seq((5L, vec(5L)), (7L, vec(7L))).toDF("vec_id", "embedding")
    // k=50 spans every possible candidate, so the result set IS the
    // candidate set; exact re-ranking scores are probe-independent, so
    // nprobe=1's candidates must all reappear at nprobe=3
    def cands(np: Int) = Similarity.ivfTopK(corpus, queries, 50, nprobe = np)
      .select("query_id", "neighbor_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val c1 = cands(1); val c3 = cands(3)
    assert(c1.nonEmpty && c1.subsetOf(c3))
    assert(c3.size > c1.size) // extra lists contribute on this corpus
  }

  test("decode parses real headers: files written by the JDK's own encoders") {
    import spark.implicits._
    import graft.ops.Multimodal
    // BMP from ImageIO and WAV from javax.sound — encoders entirely
    // independent of syntheticMedia, so this validates the PARSER
    val img = new java.awt.image.BufferedImage(13, 7,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bOut = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", bOut))
    val fmt = new javax.sound.sampled.AudioFormat(11025f, 16, 2, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](32)), fmt, 8)
    val wOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wOut)
    val media = Seq(
      (1L, "image/bmp", bOut.toByteArray),
      (2L, "audio/wav", wOut.toByteArray)).toDF("doc_id", "mime", "payload")
    val r = Multimodal.decode(spark, media).collect().sortBy(_.doc_id)
    assert(r(0).width === 13 && r(0).height === 7)
    assert(r(1).sample_rate === 11025 && r(1).channels === 2)
    // NULL payload: zeroed quarantine-able row, never an NPE mid-job
    val withNull = Seq((3L, "application/octet-stream", null: Array[Byte]))
      .toDF("doc_id", "mime", "payload")
    val n = Multimodal.decode(spark, withNull).head()
    assert(n.octet_len === 0L && n.width === 0 && n.sample_rate === 0)
    assert(n.payload_hex_md5.nonEmpty) // empty-payload fingerprint, not null
  }

  test("syntheticMedia BMPs are read by a stock decoder; decode matches the contract") {
    import spark.implicits._
    import graft.ops.Multimodal
    val docs = Seq((2L, "some bmp document"), (7L, "a wav document"),
      (30L, "widest bmp in the cycle")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(docs)
    // generated BMPs decode end-to-end (header AND full pixel array) with
    // the JDK's ImageIO — spec conformance, not just self-consistency
    media.filter($"mime" === "image/bmp").select("doc_id", "payload").collect()
      .foreach { row =>
        val id = row.getLong(0)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](1)))
        assert(img != null, s"ImageIO rejected BMP for doc $id")
        assert(img.getWidth === (id % 31 + 1).toInt)
        assert(img.getHeight === (id % 17 + 1).toInt)
      }
    val dec = Multimodal.decode(spark, media).collect()
      .map(d => d.doc_id -> d).toMap
    assert(dec(2L).width === 3 && dec(2L).height === 3)
    assert(dec(30L).width === 31 && dec(30L).height === 14)
    assert(dec(7L).sample_rate === 15000 && dec(7L).channels === 2)
    assert(dec(7L).octet_len === 60L) // 44-byte header + 16 data bytes
  }

  test("dHash matches an independent ImageIO-pixel reference; phash " +
    "plan is scan-fused; banded near-dup finds exact dups, no cartesian") {
    import spark.implicits._
    import graft.ops.Multimodal
    // docs 8/30 distinct texts; 42 duplicates 8's text but sits at a
    // different (w, h) cycle position, so it is NOT a pixel-dup; 1062 =
    // 8 + 2*31*17 shares text AND (id%2, id%31, id%17) with 8 → identical
    // image bytes → hamming 0
    val docs = Seq((8L, "alpha beta gamma"), (30L, "delta epsilon"),
      (42L, "alpha beta gamma"), (1062L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(docs)
    val ph = Multimodal.imagePhash(media)
    val got = ph.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2))).toMap

    // independent reference: decode via the JDK's ImageIO, replay the
    // 9x8 grid + adjacent comparison on its pixels. ImageIO returns rows
    // TOP-DOWN; dHash samples the STORED (bottom-up) order, so stored
    // row y is image row h-1-y — orientation-consistent, just flipped.
    def refHash(payload: Array[Byte]): (Long, Long) = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      val (w, h) = (img.getWidth, img.getHeight)
      def bright(gx: Int, gy: Int): Int = {
        val x = gx * w / 9
        val y = gy * h / 8
        val rgb = img.getRGB(x, h - 1 - y)
        ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      }
      def half(base: Int): Long = (0 until 32).map { i =>
        val bi = base + i
        if (bright(bi % 8 + 1, bi / 8) > bright(bi % 8, bi / 8))
          1L << (31 - i)
        else 0L
      }.sum
      (half(0), half(32))
    }
    val raw = media.filter($"mime" === "image/bmp")
      .select("doc_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    raw.foreach { case (id, p) =>
      assert(got(id) === refHash(p), s"dHash mismatch for doc $id") }

    // identical text + identical (w, h) cycle position → identical image
    assert(got(8L) === got(1062L))
    val pairs = Multimodal.imagePhashNeardup(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((8L, 1062L, 0)))
    // TOP-DOWN BMPs (negative 4-byte biHeight — valid per the spec) must
    // parse |h|, not a garbage 2-byte unsigned read that samples almost
    // every grid point out of range and hashes unrelated images to ~0
    def topDown(p: Array[Byte]): Array[Byte] = {
      val q = p.clone()
      val h = java.nio.ByteBuffer.wrap(p)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(22)
      java.nio.ByteBuffer.wrap(q)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(22, -h)
      q
    }
    val tdHashes = Seq(raw(8L), raw(30L)).map(p =>
      graft.functions.BmpDHash.compute(topDown(p)))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(tdHashes(0) !== tdHashes(1),
      "distinct top-down images collapsed to one hash")
    assert(tdHashes.forall(t => t._1 != 0L || t._2 != 0L),
      "top-down image hashed to the degenerate (0, 0)")
    // and |h| geometry means a top-down flip of the SAME image keeps the
    // same grid extents (bits may differ — row order changes brights)
    assert(tdHashes(0) !== ((0L, 0L)))

    // per-image hashing is row-local (zero exchanges); the near-dup join
    // is band-bucketed, never a cartesian
    val pPh = ph.queryExecution.executedPlan.toString
    assert(!pPh.contains("Exchange"), s"imagePhash shuffles:\n$pPh")
    val pNd = Multimodal.imagePhashNeardup(media)
      .queryExecution.executedPlan.toString
    assert(!pNd.contains("CartesianProduct") &&
      !pNd.contains("BroadcastNestedLoopJoin"),
      s"near-dup join is not band-bucketed:\n$pNd")
  }

  test("tfidfTopTerms: rare terms outrank common ones, rational idf exact") {
    import spark.implicits._
    val d = Seq(
      (1L, "shared shared rare1"),
      (2L, "shared common"),
      (3L, "shared common")).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfTopTerms(d, k = 1).orderBy("doc_id").collect()
    // doc 1: rare1 df=1 -> score 1*4/2=2.0 beats shared tf=2 df=3 -> 2*4/4=2.0;
    // tie at 2.0 broken by term asc -> "rare1"
    assert(r(0).getString(2) === "rare1" && r(0).getDouble(5) === 2.0)
    // docs 2,3: common df=2 -> 1*4/3 beats shared 1*4/4
    assert(r(1).getString(2) === "common" && r(1).getDouble(5) === 4.0 / 3)
    assert(r(2).getString(2) === "common")
  }

  test("repetitionRatio: boilerplate scores near 1, varied text lower") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam"),      // 4 bigrams, all "spam spam"
      (2L, "one two three four five"),       // 4 bigrams, all distinct
      (3L, "solo")                            // < 2 words -> dropped
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionRatio(d).orderBy("doc_id").collect()
    assert(r.length === 2)
    assert(r(0) === Row(1L, 4L, 4L, 1.0))
    assert(r(1) === Row(2L, 4L, 1L, 0.25))
  }

  test("rangeJoinBucketed: exact interval semantics, equi-join plan") {
    import spark.implicits._
    import graft.ops.Joins
    val pts = Seq((1L, 5.0), (2L, 25.0), (3L, 99.0)).toDF("id", "v")
    val iv = Seq(("a", 0.0, 30.0), ("b", 20.0, 50.0)).toDF("name", "lo", "hi")
    val joined = Joins.rangeJoinBucketed(pts, "v", iv, "lo", "hi", 20.0)
    val got = joined.select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    // 5.0 -> a; 25.0 -> a and b; 99.0 -> none
    assert(got === Array((1L, "a"), (2L, "a"), (2L, "b")))
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("cosineTopKAgg (typed Aggregator) equals cosineTopK (mapPartitions+window)") {
    import spark.implicits._
    val corpus = (0L until 60L).map(i =>
      (i, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 4)
    val a = Similarity.cosineTopK(corpus, queries, 5)
      .orderBy("query_id", "rank").collect()
    val b = Similarity.cosineTopKAgg(corpus, queries, 5)
      .orderBy("query_id", "rank").collect()
    assert(a.nonEmpty)
    assert(a === b)
  }

  test("seqPack: per-bucket cumulative offsets, bin = sequence of first token") {
    import spark.implicits._
    import graft.ops.Packing
    // one bucket (numBuckets=1) to make offsets easy to follow
    val d = Seq((0L, 100L), (1L, 100L), (2L, 100L), (3L, 10L))
      .toDF("doc_id", "toks")
    val r = Packing.seqPack(d, col("toks"), seqLen = 256, numBuckets = 1)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(3), x.getLong(4)))
    // offsets 0,100,200,300 -> bins 0,0,0,1
    assert(r === Array((0L, 0L, 0L), (1L, 100L, 0L), (2L, 200L, 0L), (3L, 300L, 1L)))
    // bucketed: two independent streams, offsets restart per bucket
    val r2 = Packing.seqPack(d, col("toks"), seqLen = 256, numBuckets = 2)
      .orderBy("doc_id").collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(3)))
    assert(r2 === Array((0L, 0L, 0L), (1L, 1L, 0L), (2L, 0L, 100L), (3L, 1L, 100L)))
  }

  test("piiScrub: redacts emails, IPs, phones with per-type counts") {
    import spark.implicits._
    val d = Seq((1L, "mail a.b+c@test.org or admin@x.io, " +
      "call +1-202-555-0123, host 192.168.0.1 end")).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(d).head()
    assert(r.getLong(1) === 2L) // emails
    assert(r.getLong(2) === 1L) // ips
    assert(r.getLong(3) === 1L) // phones
    val scrubbed = d.select(
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        TextAnalysis.emailPattern, "<EMAIL>"),
        TextAnalysis.ipv4Pattern, "<IP>"),
        TextAnalysis.phonePattern, "<PHONE>")).head().getString(0)
    assert(scrubbed ===
      "mail <EMAIL> or <EMAIL>, call <PHONE>, host <IP> end")
  }

  test("withSyntheticPii round-trips through piiScrub with exactly one of each") {
    import spark.implicits._
    val d = Seq((42L, "plain words only")).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(TextAnalysis.withSyntheticPii(d)).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((1L, 1L, 1L)))
  }

  test("stratifiedSample: rate 0 drops all, rate 1 keeps all, rates nest monotonically") {
    import spark.implicits._
    val d = (1L to 400L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("doc_id", "lang")
    import graft.ops.Sampling
    assert(Sampling.stratifiedSample(d, "lang", "doc_id", Map("en" -> 0.0, "fr" -> 1.0))
      .filter(col("lang") === "en").count() === 0)
    assert(Sampling.stratifiedSample(d, "lang", "doc_id", Map("en" -> 1.0)).count() === 400)
    val at25 = Sampling.stratifiedSample(d, "lang", "doc_id", Map("en" -> 0.25, "fr" -> 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val at50 = Sampling.stratifiedSample(d, "lang", "doc_id", Map("en" -> 0.5, "fr" -> 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(at25.subsetOf(at50))
    assert(at50.size > at25.size && at25.nonEmpty)
    // deterministic: same input -> same sample
    val again = Sampling.stratifiedSample(d, "lang", "doc_id", Map("en" -> 0.25, "fr" -> 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === at25)
  }

  test("decontaminate: flags training docs sharing n-grams with the eval set") {
    import spark.implicits._
    // doc 7 is eval (doc_id % 10 == 7); doc 1 repeats its words, doc 2 is clean
    val d = Seq(
      (7L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma something else entirely"),
      (2L, "totally unrelated words with no overlap at all")).toDF("doc_id", "text")
    val r = TextAnalysis.decontaminate(d)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.keySet === Set(1L, 2L)) // eval doc itself is not reported
    assert(r(1L).getBoolean(4) === true)
    // doc 1 has 4 3-grams; only "alpha beta gamma" appears in the eval set
    assert(r(1L).getLong(1) === 4L && r(1L).getLong(2) === 1L)
    assert(r(2L).getBoolean(4) === false)
    assert(r(2L).getLong(2) === 0L)
  }

  test("segmentDedup: drops repeated segments globally, reports fully-deduped docs") {
    import spark.implicits._
    val seg1 = (1 to 10).map(i => s"w$i").mkString(" ")   // exactly one 10-word segment
    val seg2 = (11 to 20).map(i => s"x$i").mkString(" ")
    val d = Seq(
      (1L, s"$seg1 $seg2"),      // keeps both segments
      (2L, s"$seg1 fresh tail"), // first segment duplicates doc 1's -> drops 1 of 2
      (3L, seg2)                 // fully duplicated -> n_kept = 0
    ).toDF("doc_id", "text")
    val r = graft.ops.Dedup.segmentDedup(d)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 2L && r(1L).getLong(2) === 2L)
    assert(r(2L).getLong(1) === 2L && r(2L).getLong(2) === 1L)
    assert(r(3L).getLong(1) === 1L && r(3L).getLong(2) === 0L)
    assert(r(3L).isNullAt(4)) // no surviving text -> null digest
    // doc 2's surviving text is its second segment only
    assert(r(2L).getLong(3) === "fresh tail".length.toLong)
  }

  test("quantizeInt8: reconstruction bounded by scale/2, zero vector safe, clamp holds") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.127f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(d).collect().map(x => x.getLong(0) -> x).toMap
    val scale1 = r(1L).getDouble(1)
    assert(math.abs(scale1 - 1.0 / 127.0) < 1e-15)
    // per-component rounding error <= scale/2 -> rmse <= scale/2
    assert(r(1L).getDouble(3) <= scale1 / 2 + 1e-15)
    assert(r(2L).getDouble(1) === 0.0 && r(2L).getDouble(3) === 0.0)
  }

  test("tokenBudget: per-stratum kept set is a hash-order prefix under the budget") {
    import spark.implicits._
    val d = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr", Seq.fill(10)("tok").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val kept = graft.ops.Sampling.tokenBudget(d, 105)
    val perLang = kept.groupBy("lang").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // 10 tokens/doc, budget 105 -> cum_before of the 11th doc is 100 < 105,
    // the 12th sees 110 -> exactly 11 docs per stratum
    assert(perLang === Map("en" -> 11L, "fr" -> 11L))
    assert(kept.agg(max("cum_before")).head().getLong(0) < 105)
    // deterministic re-run
    assert(graft.ops.Sampling.tokenBudget(d, 105).collect().toSet === kept.collect().toSet)
  }

  test("activityIslands: consecutive days merge, gaps split, duplicate days collapse") {
    import spark.implicits._
    val day = 86400000000L
    val ev = Seq(
      (1L, 1L * day + 5), (1L, 2L * day + 9), (1L, 2L * day + 99), // days 1,2 (dup day 2)
      (1L, 5L * day),                                              // gap -> island [5,5]
      (2L, 3L * day)).toDF("user_id", "epoch_us")
    val r = graft.ops.Windows.activityIslands(ev)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSet === Set((1L, 1L, 2L, 2L), (1L, 5L, 5L, 1L), (2L, 3L, 3L, 1L)))
  }

  test("slidingCounts: every event lands in exactly width/slide windows") {
    import spark.implicits._
    val base = 1700000000000000L // µs, hour-unaligned offset applied per row
    val ev = Seq(
      (1L, base, "click", 1.0),
      (2L, base + 1800L * 1000000, "click", 2.0),
      (3L, base + 5400L * 1000000, "view", 3.0))
      .toDF("event_id", "epoch_us", "event_type", "value")
    val r = graft.ops.Windows.slidingCounts(ev, 7200, 3600)
    // 3 events x (7200/3600 = 2 windows each) = 6 counted rows total
    assert(r.agg(sum("cnt")).head().getLong(0) === 6L)
    // window bounds are 2h apart and hour-aligned
    val bounds = r.select("window_start", "window_end").collect()
    bounds.foreach { b =>
      assert(b.getString(0).endsWith(":00:00Z") && b.getString(1).endsWith(":00:00Z"))
    }
  }

  test("splitAssign: total partition into train/val/test, independent of sampling digit") {
    import spark.implicits._
    import graft.ops.Sampling
    val d = (1L to 1000L).map(i => Tuple1(i)).toDF("doc_id")
    val splits = Sampling.splitAssign(d, "doc_id").groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.values.sum === 1000L)
    assert(splits.keySet === Set("train", "val", "test"))
    // 80/10/10 within ±5 points at n=1000
    assert(splits("train") > 750 && splits("train") < 850)
  }

  test("bpePairCounts: frequency-weighted adjacent pairs, deterministic tie order") {
    import spark.implicits._
    // word freqs: "aab" ×3, "ab" ×2, "b" ×1 (no pair) →
    //   "a a": 3 (from aab), "a b": 3+2=5 → rank1="a b"(5), rank2="a a"(3)
    val docs = Seq((1L, "aab ab aab"), (2L, "ab aab b")).toDF("doc_id", "text")
    val r = TextAnalysis.bpePairCounts(docs)
      .collect().map(x => (x.getInt(0), x.getString(1), x.getLong(2)))
    assert(r.toSeq === Seq((1, "a b", 5L), (2, "a a", 3L)))
    // single-char words contribute nothing; ranks are dense from 1
    assert(r.map(_._1).toSeq === (1 to r.length))
  }

  test("bm25Search: rare-term and short-doc boosts rank as BM25 says") {
    import spark.implicits._
    // query doc 3 (3 % 17 == 3): terms {apple, banana}. Corpus: doc 4 has
    // BOTH terms in a short doc (rare banana dominates → rank 1); doc 1
    // has apple 3× (tf saturation still beats doc 2's single apple);
    // doc 5 matches nothing and must be absent.
    val docs = Seq(
      (1L, "apple apple apple common common common common"),
      (2L, "apple common common common common common common"),
      (3L, "apple banana"),
      (4L, "banana apple common common"),
      (5L, "common common common common")).toDF("doc_id", "text")
    def run() = TextAnalysis.bm25Search(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val r = run()
    assert(r.length === 3)
    assert(r.map(x => (x._2, x._3)).toSeq.sorted === Seq((1, 4L), (2, 1L), (3, 2L)))
    // scores strictly decrease down the ranking; all positive
    val byRank = r.sortBy(_._2).map(_._4)
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a > b })
    assert(byRank.forall(_ > 0))
    // decimal-quantized sums: bit-identical across runs
    assert(r.sorted.toSeq === run().sorted.toSeq)
    // plan: query-side frames broadcast; no cartesian over the corpus
    // (the 1-row stats frame is the one justified broadcast cross join)
    val plan = TextAnalysis.bm25Search(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in bm25 plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"query side not broadcast:\n$plan")
  }

  test("embeddingOutliers: far-from-prototype vector flagged, flags self-consistent") {
    import spark.implicits._
    import graft.ops.Similarity
    def vec(vals: (Int, Float)*): Array[Float] = {
      val a = Array.fill(8)(0f); vals.foreach { case (i, v) => a(i) = v }; a
    }
    // cluster 1 (seed id 1): seven exact copies (dist2 0) + one far member
    // (id 15, dist2 = 102² in the quantized domain → z ≈ 2.6); cluster 2:
    // four exact copies of the seed — zero variance, no outliers possible
    val corpus = (Seq(1L, 3L, 5L, 7L, 9L, 11L, 13L).map(i => (i, vec(0 -> 10f))) ++
      Seq((15L, vec(0 -> 10f, 1 -> 8f))) ++
      Seq(2L, 4L, 6L, 8L).map(i => (i, vec(0 -> -10f)))).toDF("vec_id", "embedding")
    def run() = Similarity.embeddingOutliers(corpus, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
    val r = run()
    assert(r.length === 12)
    assert(r.filter(_._6).map(_._1).toSeq === Seq(15L), r.mkString(","))
    // the flag is exactly the 2σ rule over the returned columns
    assert(r.forall(x => x._6 === (x._3.toDouble > x._4 + 2.0 * x._5)))
    // zero-variance cluster: every member AT the mean, none flagged
    assert(r.filter(_._2 == 2L).forall(x => x._5 === 0.0 && !x._6))
    assert(r.sorted.toSeq === run().sorted.toSeq)
  }

  test("semanticDedup: within-cluster near-dups drop, cross-direction outlier survives") {
    import spark.implicits._
    import graft.ops.Similarity
    def vec(vals: (Int, Float)*): Array[Float] = {
      val a = Array.fill(8)(0f); vals.foreach { case (i, v) => a(i) = v }; a
    }
    // two directional groups (±e0) that cluster by raw L2 to the two seed
    // vectors (ids 1, 2), plus an orthogonal LOW-magnitude outlier that
    // lands in cluster 1 by L2 but has cosine ≈ 0.03 with its cluster-mates
    val corpus = Seq(
      (1L, vec(0 -> 10f)), (2L, vec(0 -> -10f)),
      (3L, vec(0 -> 10f, 1 -> 0.5f)), (4L, vec(0 -> -10f, 1 -> 0.5f)),
      (5L, vec(0 -> 10.5f, 2 -> 0.5f)), (6L, vec(0 -> -10.5f, 2 -> 0.5f)),
      (7L, vec(0 -> 0.1f, 3 -> 3f))).toDF("vec_id", "embedding")
    def run() = Similarity.semanticDedup(corpus, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    val r = run()
    // every input vector reported exactly once; keep <=> no similar lower id
    assert(r.length === 7)
    assert(r.forall(x => x._5 === (x._3 === 0L)))
    val keep = r.filter(_._5).map(_._1).toSet
    assert(keep === Set(1L, 2L, 7L), r.mkString(","))
    // dropped vectors saw at least one lower-id cluster-mate over the bar
    assert(r.filterNot(_._5).forall(x => x._3 >= 1 && x._4 >= 5646))
    // bit-exact determinism (integer cluster geometry + integer dots)
    assert(r.sorted.toSeq === run().sorted.toSeq)
    // the pairwise stage is an equi-join on cid, never a corpus cartesian
    val plan = Similarity.semanticDedup(corpus, k = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("semanticDedup: hot-cluster chunked pairwise == plain join, chunk keys in plan") {
    import spark.implicits._
    import graft.ops.Similarity
    // worst case the chunk guard exists for: EVERY vector lands in one
    // cluster (k=1), so the unchunked pairwise stage is a single-reducer
    // n² join. 25 rows at chunk=4 → m=7 sub-chunks, 49 chunk-pair tasks.
    val corpus = (1L to 25L).map { i =>
      val a = Array.fill(8)(0f); a(0) = 10f; a((i % 7 + 1).toInt) = i / 5f
      (i, a)
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    val chunked = Similarity.semanticDedup(corpus, k = 1, chunk = 4)
    // verdict parity: hash-sharding the cluster must not change results
    assert(rows(chunked) === rows(Similarity.semanticDedup(corpus, k = 1)))
    // the pairwise join really carries the chunk keys (bounded tasks),
    // and sharding introduces no cartesian
    val plan = chunked.queryExecution.executedPlan.toString
    assert(plan.contains("lc#") && plan.contains("hc#"), s"no chunk keys:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("semanticCurate: shared-assignment composition == standalone operators") {
    import spark.implicits._
    import graft.ops.Similarity
    def vec(vals: (Int, Float)*): Array[Float] = {
      val a = Array.fill(8)(0f); vals.foreach { case (i, v) => a(i) = v }; a
    }
    // union of the two standalone fixtures: directional near-dup groups
    // for the verdict side, a far-from-prototype member for the flag side
    val corpus = Seq(
      (1L, vec(0 -> 10f)), (2L, vec(0 -> -10f)),
      (3L, vec(0 -> 10f, 1 -> 0.5f)), (4L, vec(0 -> -10f, 1 -> 0.5f)),
      (5L, vec(0 -> 10.5f, 2 -> 0.5f)), (6L, vec(0 -> -10.5f, 2 -> 0.5f)),
      (7L, vec(0 -> 0.1f, 3 -> 3f)), (15L, vec(0 -> 10f, 1 -> 8f)))
      .toDF("vec_id", "embedding")
    val (sem, outl) = Similarity.semanticCurate(corpus, k = 2)
    assert(sem.collect().map(_.toSeq).sortBy(_.head.toString) ===
      Similarity.semanticDedup(corpus, k = 2)
        .collect().map(_.toSeq).sortBy(_.head.toString))
    assert(outl.collect().map(_.toSeq).sortBy(_.head.toString) ===
      Similarity.embeddingOutliers(corpus, k = 2)
        .collect().map(_.toSeq).sortBy(_.head.toString))
  }
  test("coPurchaseEdges: ordered pairs within order, no self-loops, multiplicity kept") {
    import spark.implicits._
    import graft.ops.Graph
    // order 1: parts 10,20,10 on lines 1,2,3 -> (10,20),(10,10)x,(20,10);
    // order 2: single line -> no edges
    val li = Seq(
      (1L, 10L, 1), (1L, 20L, 2), (1L, 10L, 3),
      (2L, 30L, 1))
      .toDF("l_orderkey", "l_partkey", "l_linenumber")
    val got = Graph.coPurchaseEdges(li).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // (10,10) self-loop dropped; both cross pairs kept (direction by line)
    assert(got === Seq((10L, 20L), (20L, 10L)))
  }

  test("pageRank: hand-computed 3-node cycle with a split edge") {
    import spark.implicits._
    import graft.ops.Graph
    // 1->2, 1->3, 2->3, 3->1 at scale 1e6, damping 85/100, 3 rounds —
    // values traced by hand with floor division at every step
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1054187L, 2L -> 728531L, 3L -> 1217281L))
  }

  test("pageRank: dangling node keeps base rank, no-inlink node too") {
    import spark.implicits._
    import graft.ops.Graph
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 1 has no in-edges -> base only; node 2 receives 1's full rank
    assert(got === Map(1L -> 150000L, 2L -> 1000000L))
  }

  test("bigramLogProb: head-position MLE on a hand-checked corpus") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // bigrams: d1: (a b),(b a),(a b); d2: (a b); d3 has 1 word -> dropped
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "a")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(docs).orderBy("doc_id").collect()
    // c12(a,b)=3 c1(a)=3 -> logP=0; c12(b,a)=1 c1(b)=1 -> logP=0
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((1L, 3L, 0.0), (2L, 1L, 0.0)))
  }

  test("perplexityBuckets: matches an independent Scala recomputation on sf0.001") {
    import graft.ops.TextAnalysis
    val dir = "/root/testdata/sf0.001"
    val docs = graft.gen.RawGen.table(spark, dir, "documents")
    val got = TextAnalysis.perplexityBuckets(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    // independent reference: scores from bigramLogProb (tested above),
    // then plain-Scala md5 sample + order-statistic thresholds + compares
    val lang = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // HALF_UP (away from zero, like Spark round), not math.round (which
    // rounds .5 toward +inf — differs on the negative scores here)
    val fp = TextAnalysis.bigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDouble(2) * 1e4)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toMap
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val th = fp.keys.groupBy(lang).map { case (lg, ids) =>
      val sample = ids.filter(id => md5hex(id.toString).startsWith("0"))
        .toSeq.map(id => (fp(id), id)).sortBy { case (s, id) => (-s, id) }
      val m = sample.size
      val t = (p: Int) => if (p >= 1 && p <= m) Some(sample(p - 1)._1) else None
      lg -> (t((m + 2) / 3), t((m * 2 + 2) / 3))
    }
    val want = fp.map { case (id, s) =>
      val (t1, t2) = th(lang(id))
      id -> (lang(id),
        if (t1.forall(s >= _)) "head"
        else if (t2.forall(s >= _)) "middle" else "tail")
    }
    assert(got === want)
    // sanity: the sf0.001 corpus is big enough that at least one language
    // actually splits into three strata (guards against an all-head bug)
    assert(got.values.map(_._2).toSet === Set("head", "middle", "tail"))
  }

  test("q_merge_upsert: aggregate latest-wins equals the window row_number form") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.byName("q_merge_upsert").run(spark, dir).collect().toSeq
    val e = graft.gen.RawGen.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("event_type").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("epoch_us").desc, col("event_id").desc)
    val cnt = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type")
    val want = e.select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"),
        col("epoch_us").as("last_epoch_us"), col("value").as("last_value"),
        count(lit(1)).over(cnt).as("n_versions"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1).drop("rn")
      .orderBy("user_id", "event_type").collect().toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("q_scd2: validity intervals chain exactly and one current row per key") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.byName("q_scd2").run(spark, dir).collect()
    assert(rows.nonEmpty)
    val byKey = rows.groupBy(r => (r.getLong(0), r.getString(1)))
    for ((_, vs) <- byKey) {
      // output order is (valid_from_us, event_id) within the key
      val sorted = vs.sortBy(r => (r.getLong(4), r.getLong(2)))
      assert(vs.toSeq === sorted.toSeq)
      // intervals chain: each version's valid_to is the next valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(!a.isNullAt(5) && a.getLong(5) === b.getLong(4))
          assert(!a.getBoolean(6))
        case _ =>
      }
      // exactly one open-ended current row per key, and it's the last
      assert(vs.count(_.getBoolean(6)) === 1)
      assert(sorted.last.isNullAt(5) && sorted.last.getBoolean(6))
    }
    // historization loses no versions: same row count as the filtered input
    val n = graft.gen.RawGen.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull && col("event_type").isNotNull).count()
    assert(rows.length.toLong === n)
  }

  test("driver smoke: SparkEntry.entry yields rows on sf0.001 (the driver's own check)") {
    // the flagship reads the driver parquet through RawGen — this is the
    // exact rows>0 probe the grading driver runs, so a testdata-encoding
    // drift (the r10 NTZ breakage class) fails HERE, not first in CI
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("RawGen.events: tz-aware and NTZ parquet encodings normalize to identical epochs") {
    import spark.implicits._
    // one post-1970 instant with sub-second precision, one pre-1970 (the
    // floor-division boundary where truncation toward zero would be off
    // by one), one exact second
    val isos = Seq("2023-10-26T10:00:00.123456Z", "1969-12-31T23:59:59.750Z",
      "2000-01-01T00:00:00Z")
    val base = isos.zipWithIndex.map { case (iso, i) => (i.toLong, iso) }
      .toDF("event_id", "iso")
    def write(dir: java.nio.file.Path, tsType: String): String = {
      base.select(col("event_id"),
        col("iso").cast("timestamp").cast(tsType).as("ts"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
      dir.toString
    }
    val tzDir = write(java.nio.file.Files.createTempDirectory("enc_tz"), "timestamp")
    val ntzDir = write(java.nio.file.Files.createTempDirectory("enc_ntz"), "timestamp_ntz")
    def epochs(d: String): Seq[(Long, Long, Long, Long)] =
      graft.gen.RawGen.events(spark, d)
        .select("event_id", "epoch_us", "epoch_ms", "epoch_s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(_._1)
    val tz = epochs(tzDir)
    assert(epochs(ntzDir) === tz, "NTZ encoding diverged from tz-aware")
    // and the values themselves are the UTC epochs, floored (not
    // truncated toward zero) for the pre-1970 row
    assert(tz === Seq(
      (0L, 1698314400123456L, 1698314400123L, 1698314400L),
      (1L, -250000L, -250L, -1L),
      (2L, 946684800000000L, 946684800000L, 946684800L)))
  }

  test("dsirWeights: target == raw gives zero weights; target vocab scores above off-target") {
    import spark.implicits._
    import graft.ops.Sampling
    val docs = Seq(
      (1L, "alpha beta alpha", "en"), (2L, "alpha beta gamma", "en"),
      (3L, "delta epsilon zeta", "fr"), (4L, "delta zeta delta", "fr"))
      .toDF("doc_id", "text", "lang")
    // identical distributions -> every bucket log-ratio is exactly 0
    val self = Sampling.dsirWeights(docs, docs).collect()
    assert(self.length === 4)
    assert(self.forall(r => math.abs(r.getDouble(2)) < 1e-12))
    // English-targeted weights must rank the English-vocabulary docs
    // above the French-vocabulary ones (distribution matching, not
    // quality: the words themselves carry the signal)
    val w = Sampling.dsirWeights(docs, docs.filter($"lang" === "en"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(Seq(1L, 2L).map(w).min > Seq(3L, 4L).map(w).max)
    // resampling is deterministic and ranks by noisy weight
    val s1 = Sampling.dsirSample(docs, docs.filter($"lang" === "en"), 2)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val s2 = Sampling.dsirSample(docs, docs.filter($"lang" === "en"), 2)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(s1 === s2)
  }

  test("funnel: strictly-ordered step chain per user") {
    import spark.implicits._
    val ev = Seq(
      // complete funnel
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // click only BEFORE the first view -> stalls at step 1
      (2L, "click", 5L), (2L, "view", 10L), (2L, "click", 9L),
      // purchase before the click -> stalls at step 2
      (3L, "view", 10L), (3L, "click", 15L), (3L, "purchase", 12L),
      // never views
      (4L, "purchase", 1L),
      // same-timestamp click is NOT strictly after the view
      (5L, "view", 10L), (5L, "click", 10L)
    ).toDF("user_id", "event_type", "epoch_us")
    val got = Windows.funnel(ev).orderBy("user_id").collect().map(r =>
      (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
    assert(got.toSeq === Seq(
      (1L, Some(10L), Some(20L), Some(30L)),
      (2L, Some(10L), None, None),
      (3L, Some(10L), Some(15L), None),
      (4L, None, None, None),
      (5L, Some(10L), None, None)))
  }

  test("columnProfile: counts, exact ndv, deterministic mode") {
    import spark.implicits._
    val df = Seq(
      (Some(1), Some("x")), (Some(2), Some("y")), (Some(2), None),
      (Some(3), Some("x")), (None, Some("y"))
    ).toDF("a", "b")
    val got = graft.ops.Profile.columnProfile(df, Seq("a", "b"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5)))
    assert(got.toSeq === Seq(
      ("a", 5L, 4L, 3L, "2", 2L),
      // x and y tie at 2 -> smallest value wins
      ("b", 5L, 4L, 2L, "x", 2L)))
    // all-NULL column: stats row survives with (n, 0, 0, null, 0) — the
    // contract the oracle's LEFT JOIN mirrors
    val allNull = Seq((Some(1), Option.empty[String]),
      (Some(2), Option.empty[String])).toDF("a", "b")
    val gn = graft.ops.Profile.columnProfile(allNull, Seq("a", "b"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4), r.getLong(5)))
    assert(gn.toSeq === Seq(("a", 2L, 2L, 2L, "1", 1L),
      ("b", 2L, 0L, 0L, null, 0L)))
  }
}
