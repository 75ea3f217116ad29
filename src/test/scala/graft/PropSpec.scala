package graft

import graft.model.Cmf
import graft.time.IsoTime
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property tests (SURVEY.md §5 plan item 2): timestamp canonicalization
  * round-trips, enum normalization totality, native-vs-composable dot parity
  * — each over ScalaCheck-generated inputs, evaluated through the actual
  * Catalyst expressions (not a Scala reimplementation). */
class PropSpec extends SparkSpec {

  private val epochMsGen: Gen[Long] =
    Gen.chooseNum(0L, 4102444800000L) // 1970..2100

  test("ISO canonicalization round-trips every epoch millisecond") {
    import spark.implicits._
    val samples = (1 to 200).flatMap(_ => epochMsGen.sample)
    val df = samples.toDF("ms")
      .withColumn("iso", IsoTime.isoFromEpochMillis(col("ms")))
      .withColumn("back", IsoTime.epochMillisFromIso(col("iso")))
    assert(df.filter(col("back") =!= col("ms")).count() === 0)
    // canonical shape: Z offset, fractional part only when ms%1000 != 0
    val bad = df.filter(!col("iso").rlike(
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d{3})?Z$")).count()
    assert(bad === 0)
  }

  test("epochMillisFromIso accepts 1-9 fractional digits like Instant.parse") {
    import spark.implicits._
    // Instant.parse("2023-10-26T10:00:00.<frac>Z").toEpochMilli truncates
    // sub-ms digits; bare dates / space-separated datetimes stay rejected.
    val cases = Seq(
      ("2023-10-26T10:00:00Z", 1698314400000L),
      ("2023-10-26T10:00:00.1Z", 1698314400100L),
      ("2023-10-26T10:00:00.12Z", 1698314400120L),
      ("2023-10-26T10:00:00.123Z", 1698314400123L),
      ("2023-10-26T10:00:00.1234Z", 1698314400123L),
      ("2023-10-26T10:00:00.12345Z", 1698314400123L),
      ("2023-10-26T10:00:00.123456Z", 1698314400123L),
      ("2023-10-26T10:00:00.1234567Z", 1698314400123L),
      ("2023-10-26T10:00:00.12345678Z", 1698314400123L),
      ("2023-10-26T10:00:00.123456789Z", 1698314400123L),
      ("2023-10-26T11:00:00.5+01:00", 1698314400500L))
    val got = cases.map(_._1).toDF("iso")
      .select(IsoTime.epochMillisFromIso(col("iso")).as("ms"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g === e) }
    val rejected = Seq("2023-10-26", "2023-10-26 10:00:00Z",
      "2023-10-26T10:00:00.Z", "not-a-time").toDF("iso")
      .select(IsoTime.epochMillisFromIso(col("iso")).as("ms"))
    assert(rejected.filter(col("ms").isNotNull).count() === 0)
  }

  test("epoch extremes quarantine instead of throwing (Long.MinValue abs-wrap)") {
    import spark.implicits._
    // abs(Long.MinValue) wraps negative under non-ANSI SQL (and throws
    // under ANSI), so an abs()-based range guard passes the one value it
    // must reject and timestamp_millis kills the job — the guard now uses
    // between(). These are schema-valid wire values (raw JSON longs via
    // calAmp captureTime / ford ts), so they MUST poison, never throw.
    val extremes = Seq(Long.MinValue, Long.MaxValue,
      Long.MinValue / 1000L, Long.MaxValue / 1000L, 0L)
    val df = extremes.toDF("ms")
      .withColumn("rep", IsoTime.representableMs(col("ms")))
      .withColumn("iso", IsoTime.isoFromEpochMillis(col("ms")))
    val rows = df.collect().map(r =>
      r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2))))).toMap
    assert(rows(Long.MinValue) === (false, None))
    assert(rows(Long.MaxValue) === (false, None))
    // the in-range extremes stay representable
    assert(rows(Long.MinValue / 1000L)._1 === true)
    assert(rows(Long.MaxValue / 1000L)._1 === true)
    assert(rows(0L) === (true, Some("1970-01-01T00:00:00Z")))
  }

  test("splitAssign: fractions rounding to 256/256 short-circuit to always-keep") {
    import spark.implicits._
    import graft.ops.Sampling
    val ids = (1L to 512L).map(Tuple1(_)).toDF("doc_id")
    // trainFrac=1.0: everything is train (no 'ff' leak to val/test)
    val allTrain = Sampling.splitAssign(ids, "doc_id", trainFrac = 1.0, valFrac = 0.0)
    assert(allTrain.filter(col("split") =!= "train").count() === 0)
    // train+val=1.0: nothing may land in test
    val noTest = Sampling.splitAssign(ids, "doc_id", trainFrac = 0.5, valFrac = 0.5)
    assert(noTest.filter(col("split") === "test").count() === 0)
  }

  test("whole-second instants never carry a fractional part (reference formatter parity)") {
    import spark.implicits._
    val secs = (1 to 100).flatMap(_ => Gen.chooseNum(0L, 4102444800L).sample)
    val df = secs.toDF("s")
      .withColumn("iso", IsoTime.isoFromEpochSeconds(col("s")))
    assert(df.filter(col("iso").contains(".")).count() === 0)
    assert(df.filter(!col("iso").endsWith("Z")).count() === 0)
  }

  test("enum normalization is total: any string lands in domain + UNKNOWN") {
    import spark.implicits._
    val strGen = Gen.oneOf(Gen.alphaNumStr, Gen.oneOf("on", "ON", "On", "oFF",
      "off", "", " ", "AJAR", "unknown", "null"))
    val samples = (1 to 200).flatMap(_ => strGen.sample) :+ null
    val df = samples.toDF("s")
      .select(Cmf.enumNormalize(col("s"), Seq("ON", "OFF")).as("e"))
    val domain = Set("ON", "OFF", "UNKNOWN")
    assert(df.collect().forall(r => domain.contains(r.getString(0))))
    // case-insensitive mapping hits the canonical spelling
    val on = Seq("on", "On", "oN").toDF("s")
      .select(Cmf.enumNormalize(col("s"), Seq("ON", "OFF"))).collect()
    assert(on.forall(_.getString(0) == "ON"))
  }

  test("geotab poison contract: valid iff every required field survives (random field drops)") {
    import spark.implicits._
    val required = Set("Device_ID", "Vehicle_ID", "Record_DateTime", "Latitude", "Longitude")
    val optional = Set("Odometer_mi", "Fuel_Level_pct", "Ignition_Status")
    val fieldJson = Map(
      "Device_ID" -> "\"Device_ID\":\"d\"",
      "Vehicle_ID" -> "\"Vehicle_ID\":\"v\"",
      "Record_DateTime" -> "\"Record_DateTime\":\"2023-10-26T10:00:00Z\"",
      "Latitude" -> "\"Latitude\":1.5",
      "Longitude" -> "\"Longitude\":2.5",
      "Odometer_mi" -> "\"Odometer_mi\":3.0",
      "Fuel_Level_pct" -> "\"Fuel_Level_pct\":4.0",
      "Ignition_Status" -> "\"Ignition_Status\":\"ON\"")
    val subsetGen = Gen.someOf(required ++ optional)
    val cases = (1 to 120).flatMap(_ => subsetGen.sample).map(_.toSet)
    val inputs = cases.map(fs => (
      fs.map(fieldJson).mkString("{", ",", "}"),
      required.subsetOf(fs)))
    val df = inputs.map(_._1).toDF("value")
    val t = graft.translate.VehicleTranslators.geotab(df, "t")
    val expectValid = inputs.count(_._2)
    assert(t.valid.count() === expectValid)
    assert(t.quarantine.count() === inputs.length - expectValid)
  }

  test("sampling thresholds: monotone in rate, total at the extremes, nested keep-sets") {
    import spark.implicits._
    import graft.ops.Sampling
    val rates = (1 to 60).flatMap(_ => Gen.chooseNum(0.0, 1.0).sample)
    // hexThreshold is monotone, so keep-sets nest: rate1 <= rate2 -> keep(rate1) ⊆ keep(rate2)
    rates.sliding(2).foreach {
      case Seq(a, b) =>
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        assert(Sampling.hexThreshold(lo) <= Sampling.hexThreshold(hi))
      case _ =>
    }
    assert(Sampling.hexThreshold(0.0) === "00")
    val ids = (1L to 500L).map(Tuple1(_)).toDF("id")
    val kept = rates.take(5).map { r =>
      r -> ids.filter(Sampling.keepPredicate(col("id"), r)).collect().map(_.getLong(0)).toSet
    }
    kept.sortBy(_._1).sliding(2).foreach {
      case Seq((_, s1), (_, s2)) => assert(s1.subsetOf(s2))
      case _ =>
    }
    assert(ids.filter(Sampling.keepPredicate(col("id"), 1.0)).count() === 500)
    assert(ids.filter(Sampling.keepPredicate(col("id"), 0.0)).count() === 0)
  }

  test("segmentDedup invariants: kept counts bounded, distinct segments conserved") {
    import spark.implicits._
    import graft.ops.Dedup
    val wordGen = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, wordGen))
    val docs = (0 until 30).flatMap(i => docGen.sample.map(ws => (i.toLong, ws.mkString(" "))))
      .toDF("doc_id", "text")
    val r = Dedup.segmentDedup(docs, segWords = 4).collect()
    // every doc reported exactly once; 0 <= n_kept <= n_segs
    assert(r.length === docs.count())
    assert(r.forall(x => x.getLong(2) >= 0 && x.getLong(2) <= x.getLong(1)))
    // total kept segments == number of DISTINCT segments in the corpus
    val distinctSegs = docs.select(explode(
      org.apache.spark.sql.functions.transform(
        sequence(lit(0), ceil(size(split(trim(col("text")), "[ ]+")) / lit(4.0)).cast("int") - 1),
        i => array_join(slice(split(trim(col("text")), "[ ]+"), i * 4 + 1, lit(4)), " "))))
      .distinct().count()
    assert(r.map(_.getLong(2)).sum === distinctSegs)
  }

  test("decontaminate invariants: ratio in [0,1], contaminated iff overlap > 0") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val wordGen = Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6")
    val docGen = Gen.chooseNum(3, 25).flatMap(n => Gen.listOfN(n, wordGen))
    val docs = (0 until 40).flatMap(i => docGen.sample.map(ws => (i.toLong, ws.mkString(" "))))
      .toDF("doc_id", "text")
    val r = TextAnalysis.decontaminate(docs).collect()
    assert(r.forall { x =>
      val ratio = x.getDouble(3)
      ratio >= 0.0 && ratio <= 1.0 &&
        (x.getBoolean(4) === (x.getLong(2) > 0)) &&
        x.getLong(2) <= x.getLong(1)
    })
    // no eval doc (doc_id % 10 == 7) ever appears in the report
    assert(r.forall(_.getLong(0) % 10 != 7))
  }

  test("quantizeInt8 invariants: |q| <= 127 encoded in digest domain, rmse <= scale/2") {
    import spark.implicits._
    import graft.ops.Similarity
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-10.0, 10.0).map(_.toFloat))
    val vecs = (0 until 50).flatMap(i => vecGen.sample.map(v => (i.toLong, v)))
      .toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(vecs).collect()
    // max per-component quantization error is scale/2 (round-to-nearest),
    // so rmse (a mean) can never exceed it
    assert(r.forall(x => x.getDouble(3) <= x.getDouble(1) / 2 + 1e-12))
    assert(r.forall(x => x.getDouble(1) >= 0.0))
  }

  test("native graft_dot equals composable form on random vectors") {
    import spark.implicits._
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-1000.0, 1000.0))
    val rows = (1 to 100).flatMap { _ =>
      for (a <- vecGen.sample; b <- vecGen.sample) yield (a, b)
    }
    val df = rows.toDF("a", "b")
      .withColumn("n", graft.functions.DotProduct.dot(col("a"), col("b")))
      .withColumn("c", graft.ops.Similarity.dotComposed(col("a"), col("b")))
    assert(df.filter(col("n") =!= col("c")).count() === 0)
  }

  test("chunkDocs invariants: token coverage, bounded sizes, stride-aligned overlap") {
    import spark.implicits._
    import graft.ops.Packing
    val (cs, st) = (7, 5)
    val docGen = Gen.chooseNum(1, 40).map(n => (1 to n).map(i => s"t$i").mkString(" "))
    val docs = (0 until 60).flatMap(i => docGen.sample.map(t => (i.toLong, t)))
    val df = docs.toDF("doc_id", "text")
    val chunks = Packing.chunkDocs(df, cs, st).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
    docs.foreach { case (id, text) =>
      val n = text.split(" ").length
      val expected = 1 + math.ceil(math.max(n - cs, 0) / st.toDouble).toInt
      val cl = chunks(id)
      assert(cl.length === expected, s"doc $id ($n words)")
      // every chunk is full-size except possibly the last; indices dense
      assert(cl.map(_.getLong(1)).toSeq === (0 until expected).map(_.toLong))
      cl.init.foreach(c => assert(c.getLong(2) === cs))
      assert(cl.last.getLong(2) === math.min(cs, n - (expected - 1) * st))
    }
  }

  test("shardAssign is a permutation: every id exactly once, shards in range") {
    import spark.implicits._
    import graft.ops.Sampling
    val ids = Gen.listOfN(300, Gen.chooseNum(0L, 1000000L)).sample.get.distinct
    val r = Sampling.shardAssign(ids.map(Tuple1(_)).toDF("doc_id"), "doc_id", 5)
      .collect()
    assert(r.length === ids.length)
    assert(r.map(_.getLong(0)).sorted.toSeq === ids.sorted)
    assert(r.forall(x => x.getLong(1) >= 0 && x.getLong(1) < 5))
  }

  test("substringDedup matches a brute-force reference on random dup-heavy corpora") {
    import spark.implicits._
    import graft.ops.Dedup
    // tiny vocab + short docs -> dense k-gram collisions, the adversarial
    // regime for first-occurrence bookkeeping (overlaps, within-doc repeats,
    // whole-doc copies all occur by construction)
    val k = 3
    val vocab = Vector("a", "b", "c", "d")
    val docGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpus = (0 until 3).map { round =>
      (1 to 25).flatMap(i => docGen.sample.map(t => ((round * 100 + i).toLong, t)))
    }
    // independent reference: per-doc word vectors, global first-occurrence
    // scan in (doc_id, pos) order over exact gram text, positional masking
    def reference(docs: Seq[(Long, String)]): Map[Long, (Int, Int)] = {
      val ws = docs.sortBy(_._1).map { case (id, t) => id -> t.split("\\s+").toVector }
      val seen = scala.collection.mutable.Set[String]()
      val covered = scala.collection.mutable.Map[Long, Set[Int]]().withDefaultValue(Set())
      for ((id, w) <- ws; p <- 0 to w.length - k) {
        val g = w.slice(p, p + k).mkString(" ")
        if (seen(g)) covered(id) = covered(id) ++ (p until p + k)
        else seen += g
      }
      ws.map { case (id, w) => id -> (w.length, w.length - covered(id).size) }.toMap
    }
    corpus.foreach { docs =>
      val got = Dedup.substringDedup(docs.toDF("doc_id", "text"), k = k)
        .collect().map(r => r.getLong(0) -> (r.getLong(1).toInt, r.getLong(2).toInt))
        .toMap
      assert(got === reference(docs))
    }
  }

  test("both CC variants match union-find on random graphs") {
    import spark.implicits._
    import graft.ops.Dedup
    def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (1L to n).map(i => i -> find(i)).toMap
    }
    val edgeGen = for {
      a <- Gen.chooseNum(1L, 40L); b <- Gen.chooseNum(1L, 40L)
    } yield (a, b)
    (0 until 3).foreach { _ =>
      val edges = (1 to 30).flatMap(_ => edgeGen.sample).filter(e => e._1 != e._2)
      val expected = unionFind(40L, edges).toSeq.sorted
      val nodes = (1L to 40L).map(Tuple1(_)).toDF("id")
      val e = edges.toDF("src", "dst")
      val prop = Dedup.connectedComponents(e, Some(nodes))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
      val star = Dedup.connectedComponentsStar(e, Some(nodes))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
      assert(prop === expected)
      assert(star === expected)
    }
  }

  test("semanticDedup matches a brute-force reference on random int8 geometries") {
    import spark.implicits._
    import graft.ops.Similarity
    val dim = 8; val k = 4
    val vecGen = Gen.listOfN(dim, Gen.chooseNum(-5.0, 5.0).map(_.toFloat))
    // independent reference: same quantization contract re-implemented in
    // plain Scala — raw-int8 L2 argmin to the k lowest-id seeds (ties by
    // ascending cid), normalized-int8 integer dots within clusters
    def refVerdicts(vs: Seq[(Long, Seq[Float])], minDot: Long): Map[Long, (Long, Long, Long, Boolean)] = {
      def quantRaw(v: Seq[Float]): Seq[Long] = {
        val d = v.map(_.toDouble); val sc = d.map(math.abs).max / 127.0
        if (sc == 0) d.map(_ => 0L)
        else d.map(x => math.max(-127L, math.min(127L, math.floor(x / sc + 0.5).toLong)))
      }
      def quantNorm(v: Seq[Float]): Seq[Long] = {
        val d = v.map(_.toDouble); val n = math.sqrt(d.map(x => x * x).sum)
        if (n == 0) d.map(_ => 0L)
        else d.map(x => math.max(-127L, math.min(127L, math.floor(x * 127.0 / n + 0.5).toLong)))
      }
      val sorted = vs.sortBy(_._1)
      val cents = sorted.take(k).map { case (id, v) => (id, quantRaw(v)) }
      def l2(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val asg = vs.map { case (id, v) =>
        id -> cents.map { case (cid, cq) => (l2(quantRaw(v), cq), cid) }.min._2
      }.toMap
      val nq = vs.map { case (id, v) => id -> quantNorm(v) }.toMap
      vs.map { case (id, _) =>
        val lower = vs.filter(o => o._1 < id && asg(o._1) == asg(id))
          .map(o => nq(o._1).zip(nq(id)).map { case (x, y) => x * y }.sum)
          .filter(_ >= minDot)
        id -> (asg(id), lower.length.toLong,
          (if (lower.isEmpty) 0L else lower.max), lower.isEmpty)
      }.toMap
    }
    (0 until 3).foreach { round =>
      val vs = (0 until 40).flatMap(i => vecGen.sample.map(v => ((round * 100 + i).toLong, v.toSeq)))
      val got = Similarity.semanticDedup(vs.toDF("vec_id", "embedding"), k = k, tau = 0.35)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .toMap
      // the operator's integer bar: ceil(0.35 * 127^2)
      assert(got === refVerdicts(vs, 5646), s"round $round")
      // chunked pairwise (hot-cluster guard at chunk=4 → every ~10-row
      // cluster spans 2-3 sub-chunks) must be verdict-identical
      val chunked = Similarity.semanticDedup(vs.toDF("vec_id", "embedding"),
          k = k, tau = 0.35, chunk = 4)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .toMap
      assert(chunked === got, s"chunked round $round")
    }
  }

  test("bm25Search matches a naive reference scorer on random corpora") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = Gen.chooseNum(2, 12).flatMap(n => Gen.listOfN(n, wordGen))
    val docs = (0 until 40).flatMap(i => docGen.sample.map(ws => (i.toLong, ws.mkString(" "))))
    // reference: same carving (doc_id % 17 == 3, first-8 distinct terms),
    // Lucene '+1' idf, decimal-12 per-term quantization, rank by (sum desc, doc)
    def ref(ds: Seq[(Long, String)], topK: Int): Seq[(Long, Int, Long)] = {
      val toks = ds.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      val (qs, corpus) = toks.partition { case (id, _) => id % 17 == 3 && id < 544 }
      val n = corpus.length
      val avgdl = corpus.map(_._2.length).sum.toDouble / n
      val df = corpus.flatMap(_._2.distinct).groupBy(identity).view.mapValues(_.length).toMap
      qs.flatMap { case (qid, ws) =>
        val terms = ws.take(8).distinct
        corpus.flatMap { case (did, cws) =>
          val s = terms.flatMap { t =>
            val tf = cws.count(_ == t)
            if (tf == 0) None else {
              val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
              val tfn = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * cws.length / avgdl))
              Some(BigDecimal(idf * tfn).setScale(12, BigDecimal.RoundingMode.HALF_UP))
            }
          }
          if (s.isEmpty) None else Some((did, s.sum))
        }.sortBy { case (did, sd) => (-sd, did) }
          .take(topK).zipWithIndex
          .map { case ((did, _), i) => (qid, i + 1, did) }
      }
    }
    val got = TextAnalysis.bm25Search(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got === ref(docs, 5).sorted)
  }

  test("dsirWeights matches a plain-Scala reference on random corpora") {
    import spark.implicits._
    import graft.ops.Sampling
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    val docGen = Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, wordGen))
    val docs = (0 until 60).flatMap(i => docGen.sample.map(ws =>
      (i.toLong, ws.mkString(" "), if (i % 3 == 0) "en" else "fr")))
    // reference: same 2-byte md5 bucket, unigram+bigram bag, add-one
    // smoothing over 1024 buckets — independent Scala, no Spark
    def bucket(g: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
      (((md(0) & 0xff) << 8) | (md(1) & 0xff)) % 1024
    }
    def feats(ds: Seq[(Long, String, String)]): Map[Long, Map[Int, Long]] =
      ds.map { case (id, t, _) =>
        val ws = t.trim.split("\\s+").toSeq
        val grams = ws ++
          (if (ws.length >= 2) ws.sliding(2).map(_.mkString(" ")).toSeq else Nil)
        id -> grams.groupBy(bucket).view.mapValues(_.size.toLong).toMap
      }.toMap
    val raw = feats(docs)
    val tgt = feats(docs.filter(_._3 == "en"))
    def tot(m: Map[Long, Map[Int, Long]]) = m.values.flatMap(_.values).sum
    val (nq, np) = (tot(raw), tot(tgt))
    def cnt(m: Map[Long, Map[Int, Long]], b: Int) =
      m.values.map(_.getOrElse(b, 0L)).sum
    val ref = raw.map { case (id, bs) =>
      id -> bs.map { case (b, c) =>
        c * (math.log((cnt(tgt, b) + 1.0) / (np + 1024.0)) -
             math.log((cnt(raw, b) + 1.0) / (nq + 1024.0)))
      }.sum
    }
    val got = Sampling.dsirWeights(docs.toDF("doc_id", "text", "lang"),
        docs.filter(_._3 == "en").toDF("doc_id", "text", "lang"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet === ref.keySet)
    got.foreach { case (id, w) =>
      assert(math.abs(w - ref(id)) < 1e-9, s"doc $id: $w vs ${ref(id)}") }
  }

  test("mixtureSample quotas are monotone in budget (prefix property)") {
    import spark.implicits._
    import graft.ops.Sampling
    val docs = (0L until 200L).map(i => (i, s"s${i % 4}")).toDF("doc_id", "source")
    val w = Map("s0" -> 0.4, "s1" -> 0.3)
    val small = Sampling.mixtureSample(docs, "source", "doc_id", w, 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val large = Sampling.mixtureSample(docs, "source", "doc_id", w, 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // growing the budget only ADDS documents (hash-order prefix grows)
    assert(small.subsetOf(large))
  }
  test("bpeTrain/bpeEncode match a naive merge-list reference on random corpora") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // tiny alphabet with runs -> overlapping same-pair occurrences (aaa),
    // the adversarial case for greedy left-to-right merge semantics
    val wordGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val docGen = Gen.chooseNum(2, 8).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    def mergeWord(sym: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < sym.length) {
        if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += sym(i); i += 1 }
      }
      out.result()
    }
    def reference(docs: Seq[(Long, String)], rounds: Int)
        : (Seq[(Int, String, String, Long)], Map[String, Int]) = {
      val words = docs.flatMap(_._2.split("\\s+")).filter(_.nonEmpty)
      val freq = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      var segs = freq.keys.map(w => w -> w.map(_.toString).toVector).toMap
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var r = 0
      var exhausted = false
      while (r < rounds && !exhausted) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
          .withDefaultValue(0L)
        for ((w, sym) <- segs if sym.length >= 2; p <- sym.sliding(2))
          counts((p(0), p(1))) += freq(w)
        if (counts.isEmpty) exhausted = true
        else {
          val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
          merges += ((r, a, b, c))
          segs = segs.map { case (w, sym) => w -> mergeWord(sym, a, b) }
        }
        r += 1
      }
      (merges.result(), segs.view.mapValues(_.length).toMap)
    }
    (0 until 3).foreach { round =>
      val docs = (1 to 20).flatMap(i =>
        docGen.sample.map(t => ((round * 100 + i).toLong, t)))
      val (refMerges, refTokens) = reference(docs, rounds = 4)
      val df = docs.toDF("doc_id", "text")
      val gotMerges = TextAnalysis.bpeTrain(df, rounds = 4).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(gotMerges === refMerges)
      val gotEnc = TextAnalysis.bpeEncode(df, rounds = 4).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val refEnc = docs.map { case (id, t) =>
        val ws = t.split("\\s+").filter(_.nonEmpty)
        id -> (ws.length.toLong, ws.map(w => refTokens(w).toLong).sum)
      }.filter(_._2._1 > 0).toMap
      assert(gotEnc === refEnc)
    }
  }

  test("pageRank matches an integer reference on random multigraphs") {
    import spark.implicits._
    import graft.ops.Graph
    def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var pr = nodes.map(_ -> 1000000L).toMap
      for (_ <- 0 until iters) {
        val insum = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        for ((s, d) <- edges) insum(d) += pr(s) / outdeg(s)
        pr = nodes.map(n => n -> (150000L + 85L * insum(n) / 100L)).toMap
      }
      pr
    }
    val edgeGen = for {
      s <- Gen.chooseNum(1L, 12L); d <- Gen.chooseNum(1L, 12L) if s != d
    } yield (s, d)
    (0 until 3).foreach { _ =>
      // duplicates kept: parallel edges are weight, exactly as the op treats
      val edges = (1 to 30).flatMap(_ => edgeGen.sample)
      val got = Graph.pageRank(edges.toDF("src", "dst"), iters = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === reference(edges, 3))
    }
  }

  test("globalSequence == sorted-index reference on random multisets, " +
    "any bucket count") {
    import spark.implicits._
    import graft.ops.Layout
    val valGen = Gen.chooseNum(-50L, 50L) // heavy ties, negatives included
    (0 until 3).foreach { round =>
      val rows = (1 to 80).flatMap(i => valGen.sample.map(v => (i.toLong, v)))
      val expected = rows.sortBy { case (id, v) => (v, id) }.zipWithIndex
        .map { case ((id, v), i) => (id, v, (i + 1).toLong) }.toSet
      Seq(1, 3, 16).foreach { buckets =>
        val got = Layout.globalSequence(rows.toDF("id", "v"), "v", "id",
          buckets = buckets)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === expected, s"round=$round buckets=$buckets")
      }
    }
  }

  test("funnel == brute-force per-user chain reference on random event soup") {
    import spark.implicits._
    import graft.ops.Windows
    val steps = Seq("view", "click", "purchase")
    val evGen = for {
      u <- Gen.chooseNum(1L, 6L)
      s <- Gen.oneOf(steps :+ "noise")
      t <- Gen.chooseNum(0L, 40L)
    } yield (u, s, t)
    def reference(evs: Seq[(Long, String, Long)]): Map[Long, Seq[Option[Long]]] =
      evs.map(_._1).distinct.map { u =>
        val mine = evs.filter(_._1 == u)
        val times = steps.scanLeft(Option(Long.MinValue)) { (prev, s) =>
          prev.flatMap { p =>
            val cand = mine.filter(e => e._2 == s && e._3 > p).map(_._3)
            if (cand.isEmpty) None else Some(cand.min)
          }
        }.tail
        u -> times
      }.toMap
    (0 until 3).foreach { _ =>
      val evs = (1 to 60).flatMap(_ => evGen.sample)
      val got = Windows.funnel(evs.toDF("user_id", "event_type", "epoch_us"))
        .collect().map(r => r.getLong(0) ->
          (1 to 3).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))
        .toMap
      assert(got === reference(evs))
    }
  }

  test("columnProfile == groupBy reference: counts, ndv, tie-broken mode") {
    import spark.implicits._
    import graft.ops.Profile
    val vGen = Gen.option(Gen.chooseNum(0, 5))
    (0 until 3).foreach { _ =>
      val rows = (1 to 50).map(_ => (vGen.sample.flatten, vGen.sample.flatten))
      val df = rows.toDF("a", "b")
      val got = Profile.columnProfile(df, Seq("a", "b")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getString(4), r.getLong(5))).toMap
      Seq("a" -> rows.map(_._1), "b" -> rows.map(_._2)).foreach {
        case (name, vs) =>
          val nn = vs.flatten
          val mode =
            if (nn.isEmpty) (null, 0L)
            else {
              val counts = nn.groupBy(v => v.toString).view.mapValues(_.size.toLong)
              val top = counts.toSeq.sortBy { case (v, c) => (-c, v) }.head
              (top._1, top._2)
            }
          assert(got(name) === ((vs.size.toLong, nn.size.toLong,
            nn.map(_.toString).distinct.size.toLong, mode._1, mode._2)), name)
      }
    }
  }

  test("graft_json_fields equals readTree with json_tuple's rendering on random objects") {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import com.fasterxml.jackson.databind.node.JsonNodeFactory
    import graft.functions.{JsonFields, JsonShape}
    import scala.jdk.CollectionConverters._
    val shape = JsonShape(Seq("a", "b", "o", "n"), objects = Set("o"),
      nested = Map("n" -> JsonShape(Seq("x", "y"))))
    val nf = JsonNodeFactory.instance
    val rnd = new scala.util.Random(15)
    val units = Seq("a", "b", " ", "\"", "\\", "/", "\n", "\t", "\u0001", "é", "€", "😀", "{", ":")
    def str(): String = Seq.fill(rnd.nextInt(6))(units(rnd.nextInt(units.size))).mkString
    def value(depth: Int): JsonNode = rnd.nextInt(if (depth > 2) 7 else 9) match {
      case 0 => nf.textNode(str())
      case 1 => nf.numberNode(rnd.nextInt(2001) - 1000)
      case 2 => nf.numberNode(rnd.nextLong())
      case 3 => nf.numberNode(rnd.nextGaussian() * math.pow(10, rnd.nextInt(30) - 15))
      case 4 => nf.booleanNode(rnd.nextBoolean())
      case 5 => nf.nullNode()
      case 6 => nf.textNode(str())
      case 7 => obj(Seq("p", "q", "a"), depth + 1)
      case _ => nf.arrayNode().addAll(Seq.fill(rnd.nextInt(3))(value(depth + 1)).asJava)
    }
    def obj(keys: Seq[String], depth: Int): JsonNode = {
      val o = nf.objectNode()
      rnd.shuffle(keys).take(rnd.nextInt(keys.size + 1)).foreach(k => o.set[JsonNode](k, value(depth)))
      o
    }
    def record(): JsonNode = {
      val o = nf.objectNode()
      rnd.shuffle(Seq("a", "b", "o", "n", "u")).take(rnd.nextInt(5) + 1).foreach {
        case "o" if rnd.nextBoolean() => o.set[JsonNode]("o", obj(Seq("p", "q"), 1))
        case "n" if rnd.nextInt(3) > 0 => o.set[JsonNode]("n", obj(Seq("x", "y", "z"), 1))
        case k => o.set[JsonNode](k, value(1))
      }
      o
    }
    val mapper = new ObjectMapper()
    val texts = Seq.fill(300)(mapper.writeValueAsString(record()))

    // json_tuple's rendering of a tree node: a string unquoted, else JSON
    // from a UTF-8 generator (which escapes surrogate pairs)
    def rendered(v: JsonNode): String =
      if (v == null || v.isNull) null else if (v.isTextual) v.textValue
      else new String(mapper.writeValueAsBytes(v), "UTF-8")
    def expected(o: JsonNode, s: JsonShape): Seq[Any] = {
      val isObj = (k: String) => o.get(k) == null || o.get(k).isNull || o.get(k).isObject
      s.keys.flatMap { k =>
        s.nested.get(k) match {
          case Some(sub) if o.get(k) != null && o.get(k).isObject => expected(o.get(k), sub)
          case Some(sub) => Seq.fill(sub.keys.size)(null) :+ false
          case None => Seq(rendered(o.get(k)))
        }
      } :+ (!o.fieldNames.asScala.forall(s.keys.contains) ||
        !(s.objects ++ s.nested.keySet).forall(isObj))
    }

    val got = strings(texts: _*).select(JsonFields(col("value"), shape, "")).collect()
    texts.zip(got).foreach { case (t, row) =>
      assert(row.toSeq === expected(mapper.readTree(t), shape), t)
    }
    // and Spark's own json_tuple agrees on every top-level text
    val tupled = strings(texts: _*).select(json_tuple(col("value"), "a", "b", "o")).collect()
    got.zip(tupled).foreach { case (g, j) => assert(Seq(g(0), g(1), g(2)) === j.toSeq) }
  }
}
