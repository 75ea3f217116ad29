package graft

import graft.functions.DotProduct
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Native expression parity: the codegen'd DotProduct must be bit-identical
  * to the composable zip_with/aggregate form on every input shape. */
class FunctionsSpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (2L, Seq(0.1, -0.2), Seq(0.3, 0.7)),
      (3L, Seq.empty[Double], Seq.empty[Double]),
      (4L, Seq(1.0), Seq(1.0, 2.0)) // length mismatch -> NULL
    ).toDF("id", "a", "b")
  }

  test("graft_dot == composable zip_with/aggregate form, incl. NULL on length mismatch") {
    val native = vecs.select(col("id"), DotProduct.dot(col("a"), col("b")).as("d"))
      .orderBy("id").collect()
    val composed = vecs.select(col("id"),
      Similarity.dotComposed(col("a"), col("b")).as("d")).orderBy("id").collect()
    assert(native === composed)
    assert(native(0).getDouble(1) === 32.0)
    assert(native(2).getDouble(1) === 0.0)
    assert(native(3).isNullAt(1))
  }

  test("graft_l2sq == composable form on long arrays, incl. NULL on length mismatch") {
    import spark.implicits._
    val lv = Seq(
      (1L, Seq(1L, 2L, 3L), Seq(4L, 6L, 8L)),      // 9+16+25 = 50
      (2L, Seq(-127L, 127L), Seq(127L, -127L)),    // 2*254^2 = 129032
      (3L, Seq.empty[Long], Seq.empty[Long]),
      (4L, Seq(1L), Seq(1L, 2L))                   // mismatch -> NULL
    ).toDF("id", "a", "b")
    val native = lv.select(col("id"),
      graft.functions.L2Squared.l2sq(col("a"), col("b")).as("d")).orderBy("id").collect()
    val composed = lv.select(col("id"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x).as("d")).orderBy("id").collect()
    assert(native === composed)
    assert(native(0).getLong(1) === 50L)
    assert(native(1).getLong(1) === 129032L)
    assert(native(2).getLong(1) === 0L)
    assert(native(3).isNullAt(1))
  }

  test("graft_minhash == composable array_min(transform(md5)) form, incl. empty -> NULL") {
    import spark.implicits._
    import graft.ops.Dedup
    val rows = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("solo")),
      (3L, Seq.empty[String]),
      (4L, (1 to 50).map(i => s"shingle $i text"))
    ).toDF("id", "sh")
    for (seed <- Seq(1, 2, 7)) {
      val native = rows.select(col("id"), Dedup.minhash(col("sh"), seed).as("m"))
        .orderBy("id").collect()
      val composed = rows.select(col("id"), Dedup.minhashComposed(col("sh"), seed).as("m"))
        .orderBy("id").collect()
      assert(native === composed, s"seed=$seed")
      assert(native(2).isNullAt(1))
    }
  }

  test("knn queries stay oracle-consistent under the native dot (cosine of copy = 1)") {
    import spark.implicits._
    def vec(seed: Long): Seq[Float] =
      (0 until 16).map(i => ((seed * 31 + i * 7) % 10) / 5.0f - 1.0f)
    // seeds < 10 only: vec() is periodic mod 10, so larger seeds would
    // duplicate earlier vectors and tie at cosine 1.0
    val corpus = ((0L until 10L).map(i => (i, vec(i))) :+ (42L, vec(3L)))
      .toDF("vec_id", "embedding")
    val queries = Seq((3L, vec(3L))).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(corpus, queries, 1).head()
    assert(top.getLong(1) === 42L)
    assert(math.abs(top.getDouble(3) - 1.0) < 1e-12)
  }

  test("graft_shingle_hashes: set cardinality + pairwise intersections match the string spelling") {
    import graft.functions.ShingleHashes
    import graft.ops.Dedup
    import spark.implicits._
    // random-ish word docs with deliberate repetition (dup shingles within
    // a doc) and shared runs across docs (non-empty intersections)
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docs = (0L until 30L).map { id =>
      val base = Vector.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      // every third doc repeats its own head (intra-doc dup shingles)
      val ws = if (id % 3 == 0) base ++ base.take(6) else base
      (id, ws.mkString(" "))
    }.toDF("doc_id", "text")
    val w = Dedup.words(col("text"))
    val n = 3
    val strings = docs.filter(size(w) >= n)
      .select(col("doc_id"), Dedup.shingles(w, n).as("sh"))
    val hashes = docs.filter(size(w) >= n)
      .select(col("doc_id"), ShingleHashes.shingleHashes(w, n).as("sh"))
    // 1. per-doc distinct cardinality identical (this is `nsh` in
    //    jaccardNeardup / `n_shingles` in decontaminate)
    val cs = strings.select(col("doc_id"), size(col("sh")).as("c")).orderBy("doc_id").collect()
    val ch = hashes.select(col("doc_id"), size(col("sh")).as("c")).orderBy("doc_id").collect()
    assert(cs === ch)
    // 2. every pairwise intersection size identical (this is the Jaccard
    //    numerator): hash equality must mirror string equality exactly
    def pairCounts(df: org.apache.spark.sql.DataFrame) = {
      val e = df.select(col("doc_id"), explode(col("sh")).as("g"))
      e.as("a").join(e.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("c")).orderBy("da", "db").collect()
    }
    assert(pairCounts(strings) === pairCounts(hashes))
    // 3. short docs: fewer than n words -> filtered before the expression;
    //    exactly n words -> single shingle
    val one = Seq((0L, "a b c")).toDF("doc_id", "text")
    val r = one.select(ShingleHashes.shingleHashes(Dedup.words(col("text")), 3).as("sh")).head()
    assert(r.getSeq[Long](0).size === 1)
  }

  test("graft_dsir_buckets: bucket-exact parity with the composable md5/conv spelling") {
    import graft.functions.DsirBuckets
    import graft.ops.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "Gamma", "δελτα", "e_ps", "z")
    val docs = (0L until 40L).map { id =>
      (id, Vector.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val ws = Dedup.words(col("text"))
    // composable reference: unigrams ++ space-joined bigrams, md5 hex
    // prefix parsed with conv — exactly what the DuckDB oracle replays
    val bigrams = transform(sequence(lit(1), size(ws) - 1),
      i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1)))
    val grams = when(size(ws) >= 2, concat(ws, bigrams)).otherwise(ws)
    val composable = docs.select(col("doc_id"),
      transform(grams, g =>
        conv(substring(md5(g), 1, 4), 16, 10).cast("long") % 1024).as("bs"))
    val native = docs.select(col("doc_id"),
      DsirBuckets.dsirBuckets(ws, 1024).as("bs"))
    val c = composable.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    val n = native.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(n === c)
  }

  test("graft_nfc_normalize: decomposed sequences compose (UAX #15), " +
    "already-NFC input passes through, NULL propagates") {
    import spark.implicits._
    // "cafe" + combining acute (U+0301) must compose to the single
    // codepoint U+00E9; Korean jamo runs compose to a precomposed
    // syllable; ASCII is identity
    val got = Seq(
        "cafe\u0301 time",
        "\u1100\u1161",          // jamo run -> U+AC00
        "plain ascii",
        null)
      .toDF("t")
      .select(graft.functions.NfcNormalize(col("t")).as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(got(0) === Some("caf\u00e9 time"))
    assert(got(1) === Some("\uac00"))
    assert(got(2) === Some("plain ascii"))
    assert(got(3) === None)
    // java.text.Normalizer agrees (the expression is a thin fused wrapper)
    assert(java.text.Normalizer.normalize("cafe\u0301", java.text.Normalizer.Form.NFC)
      === "caf\u00e9")
  }

  test("graft_sorted_contains: binary search over a sorted string array " +
    "agrees with array_contains on first/middle/last/absent keys, " +
    "empty array is false, NULLs propagate (round 19 — the O(log n) " +
    "param-policy probe; array_contains measured exponent 1.79 on the " +
    "param-vocab megadomain)") {
    import spark.implicits._
    val arr = (0 until 1000).map(i => f"k$i%04d")
    val rows = Seq(
      (arr, "k0000"), (arr, "k0500"), (arr, "k0999"), (arr, "zzz"),
      (arr, "aaa"), (Seq.empty[String], "k0000"), (arr, null))
      .toDF("a", "k")
    val got = rows.select(
        graft.functions.SortedContains(col("a"), col("k")).as("s"),
        array_contains(col("a"), col("k")).as("b"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    got.foreach { case (s, b) => assert(s === b, "diverged from builtin") }
    assert(got.take(3).forall(_._1 === Some(true)))
    assert(got(3)._1 === Some(false) && got(4)._1 === Some(false))
    assert(got(5)._1 === Some(false))
    assert(got(6)._1 === None)
    // null ARRAY propagates too
    val nullArr = Seq((null.asInstanceOf[Seq[String]], "k"))
      .toDF("a", "k")
      .select(graft.functions.SortedContains(col("a"), col("k")).as("s"))
      .collect().head
    assert(nullArr.isNullAt(0))
  }

  test("graft_strip_params: drops sorted-listed param names in one pass " +
    "(name = segment before first '=', whole segment when none), keeps " +
    "order, path-only when nothing survives, url unchanged when nothing " +
    "matches or no query; NULLs propagate") {
    import spark.implicits._
    val drops = Seq("b", "sid", "zz")
    val rows = Seq(
      ("https://e.com/p?a=1&b=2&sid=x", drops),       // strip b, sid
      ("https://e.com/p?b=2&sid=x", drops),           // all stripped -> path
      ("https://e.com/p?a=1&c=3", drops),             // untouched
      ("https://e.com/p", drops),                     // no query
      ("https://e.com/p?sid", drops),                 // bare name, no '='
      // empty segments (trailing '&', '&&') are KEPT segments — parity
      // with the list_filter spelling demands '?' / '?&' survive
      // (round 20, r19 ADVICE: builder emptiness conflated these)
      ("https://e.com/p?b=2&", drops),
      ("https://e.com/p?b=2&&", drops),
      (null.asInstanceOf[String], drops))
      .toDF("u", "d")
    val got = rows.select(
        graft.functions.StripParams(col("u"), col("d")).as("s"))
      .collect().map(r => Option(r.getString(0)))
    assert(got === Seq(
      Some("https://e.com/p?a=1"),
      Some("https://e.com/p"),
      Some("https://e.com/p?a=1&c=3"),
      Some("https://e.com/p"),
      Some("https://e.com/p"),
      Some("https://e.com/p?"),
      Some("https://e.com/p?&"),
      None))
    // parity with the list_filter spelling the oracle replays
    val alt = rows.filter(col("u").isNotNull).select(
      concat(substring_index(col("u"), "?", 1),
        when(size(filter(split(substring_index(col("u"), "?", -1), "&"),
            p => !array_contains(col("d"), substring_index(p, "=", 1)))) > 0
            && col("u").contains("?"),
          concat(lit("?"), array_join(
            filter(split(substring_index(col("u"), "?", -1), "&"),
              p => !array_contains(col("d"), substring_index(p, "=", 1))),
            "&")))
          .otherwise(lit(""))).as("s"))
      .collect().map(_.getString(0))
    assert(got.flatten.toSeq === alt.toSeq)
  }

  test("graft_canonicalize_url / graft_registrable_domain: byte parity " +
      "with the composed Catalyst spellings over fixtures + adversarial") {
    import org.apache.spark.sql.functions._
    import graft.ops.Url
    val docs = spark.range(0, 2000).select(col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"),
      (col("id") % 997 + 10).as("n_chars"))
    val fixture = Url.syntheticUrls(docs).select(col("url"))
      .unionByName(Url.syntheticSessionUrls(
        docs.select(col("doc_id"), col("source"))).select(col("url")))
    val adversarial = Seq(
      null, "", "x", "://", "://x", "http://", "HTTP://WWW.Ex.COM:80/",
      "https://a.co.uk:443/p/?b=2&a=1&utm_x=1#f", "ftp://Sub.x.ck:8080/p/5/",
      "http://h/p?", "http://h/p?&", "http://h/p?a=1&&b=2",
      "http://h:90/p?fbclid=1&gclid=2&x=3", "http://h/p?utm_",
      "http://h/p?a=1?b=2", "http://h#f?q=1", "http://h/p#a#b",
      "http://www./", "http://:80/", "http://h/", "http://h//",
      "https://h:443", "http://h:080/", "www.x.com/p", "a#b",
      "http://h/p?==&=a&a==b", "http://x.y.z.co.uk:8080/a/b/c/",
      "http://k12.ma.us/", "http://a.b.ck/", "http://www.ck/",
      "http://h/p?z=1&A=2&a=3", "http://ÜÉ.com/Пя?п=1&a=é",
      "http://h.ß.com/", "HTTPS://WWW.A.CK:443/q/?utm_a=1#x",
      "http://trailing.dot./p", "http://..d/", "http://h:90:91/p")
    val adv = spark.createDataFrame(
      spark.sparkContext.parallelize(adversarial.map(org.apache.spark.sql.Row(_)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType, nullable = true))))
    Seq(fixture, adv).foreach { frame =>
      val both = frame.select(
        Url.canonicalizeUrl(col("url")).as("n_canon"),
        Url.canonicalizeUrlComposed(col("url")).as("c_canon"))
        .withColumn("n_dom", Url.registrableDomain(col("n_canon")))
        .withColumn("c_dom", Url.registrableDomainComposed(col("c_canon")))
        // also probe the domain extraction on the RAW url (callers pass
        // non-canonical strings through resolveHref edges too)
        .withColumn("n_dom_raw", Url.registrableDomain(col("c_canon")))
      val bad = both.filter(
        !(col("n_canon") <=> col("c_canon")) ||
          !(col("n_dom") <=> col("c_dom")) ||
          !(col("n_dom_raw") <=> col("c_dom"))).collect()
      assert(bad.isEmpty, s"native/composed divergence: ${bad.take(5).toSeq}")
    }
  }

  test("graft_resolve_href / graft_decode_entities: byte parity with the " +
      "composed spellings over all resolution branches") {
    import org.apache.spark.sql.functions._
    import graft.ops.Links
    val bases = Seq(
      "https://x.com/a/b", "https://x.com/a/b/", "https://x.com/",
      "https://x.com", "http://x.com:8080/p?q=1", "https://x.com/a/b?k=v",
      "://weird", "https://x.com/a%20b/c", "")
    val hrefs = Seq(
      null, "", "https://other.org/z", "HTTP://UP.com/", "ftp://f/x",
      "a+b-c.9://odd", "//cdn.com/lib.js", "?page=2", "?","/root/x",
      "/a/../b", "/..", "/../..", "../up", "./same", "sub/page.html",
      "a/./b/../c", "..", ".", "x//y", "x/..//y/", "&amp;path",
      "post.html?x=1", "p?q=../z", "q#frag", "%7Euser/p", "a:b",
      "mailto:x@y.z", "..../odd", "/trail/", "trail/")
    val rows = for (b <- bases; h <- hrefs) yield (b, h)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (b, h) =>
        org.apache.spark.sql.Row(b, h) }, 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val bad = df.select(
        Links.resolveHref(col("b"), col("h")).as("n"),
        Links.resolveHrefComposed(col("b"), col("h")).as("c"),
        graft.functions.DecodeEntities(col("h")).as("nd"),
        Links.decodeEntitiesComposed(col("h")).as("cd"))
      .filter(!(col("n") <=> col("c")) || !(col("nd") <=> col("cd")))
      .collect()
    assert(bad.isEmpty, s"divergence: ${bad.take(5).toSeq}")
    // entity-bearing strings through the decode parity
    val ents = Seq("&amp;lt;", "a&lt;b&gt;c", "&quot;q&#39;", "&nbsp;&amp;amp;",
      "no entities", "&", "&amp", "&AMP;")
    val edf = spark.createDataFrame(
      spark.sparkContext.parallelize(ents.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val ebad = edf.select(graft.functions.DecodeEntities(col("h")).as("nd"),
        Links.decodeEntitiesComposed(col("h")).as("cd"))
      .filter(!(col("nd") <=> col("cd"))).collect()
    assert(ebad.isEmpty, s"entity divergence: ${ebad.toSeq}")
  }

  test("graft_nearest_centroid_enc: min-encoded argmin, first-index ties, " +
      "length-mismatched centroids skipped, no usable centroid = NULL") {
    import org.apache.spark.sql.functions._
    val rows = spark.range(1).select(
      typedLit(Seq(1L, 2L)).as("qv"),
      typedLit(Seq(Seq(1L, 2L), Seq(0L, 2L), Seq(1L, 2L, 3L))).as("cents"))
    // centroid 0: d2=0 → enc 0·2²⁴+0 = 0; centroid 1: d2=1 → 2²⁴+1;
    // centroid 2: length mismatch → skipped. min = 0.
    val enc = rows.select(graft.functions.NearestCentroidEnc(
      col("qv"), col("cents")).as("e")).head().getLong(0)
    assert(enc === 0L)
    // tie on distance (two identical centroids): lowest index wins —
    // the assignToCentroids dense-index tiebreak
    val tie = spark.range(1).select(
      typedLit(Seq(5L)).as("qv"),
      typedLit(Seq(Seq(4L), Seq(6L), Seq(4L))).as("cents"))
      .select(graft.functions.NearestCentroidEnc(col("qv"), col("cents"))
        .as("e")).head().getLong(0)
    assert(tie === (1L << 24) * 1L + 0L) // d2=1 at index 0
    // every centroid unusable → NULL (matches min-over-null-l2sq)
    val nul = spark.range(1).select(
      typedLit(Seq(1L, 2L)).as("qv"),
      typedLit(Seq(Seq(1L))).as("cents"))
      .select(graft.functions.NearestCentroidEnc(col("qv"), col("cents"))
        .as("e")).head()
    assert(nul.isNullAt(0))
  }

  test("graft_absmax_quant: byte parity with the composed array_max/" +
      "transform spelling over adversarial vectors") {
    import org.apache.spark.sql.types._
    val adversarial: Seq[Seq[java.lang.Double]] = Seq(
      null,
      Seq.empty,
      Seq(null),
      Seq(null, null),
      Seq(0.0d: java.lang.Double),
      Seq(-0.0d: java.lang.Double, 0.0d: java.lang.Double),
      Seq(Double.NaN: java.lang.Double, 1.0d: java.lang.Double),
      Seq(Double.PositiveInfinity: java.lang.Double,
        -1.0d: java.lang.Double),
      Seq(Double.NegativeInfinity: java.lang.Double),
      Seq(java.lang.Double.MIN_VALUE: java.lang.Double), // subnormal: scale underflows to 0.0
      Seq(1e-300d: java.lang.Double, -1e-300d: java.lang.Double),
      Seq(1.0d: java.lang.Double, null, -2.5d: java.lang.Double),
      Seq(3.7d: java.lang.Double, -128.4d: java.lang.Double,
        0.49d: java.lang.Double, 127.5d: java.lang.Double),
      Seq(1e300d: java.lang.Double, -1e-10d: java.lang.Double))
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(
        adversarial.map(v => org.apache.spark.sql.Row(
          if (v == null) null else v.map(x => if (x == null) null else x.doubleValue()))), 2),
      StructType(Seq(StructField("emb", ArrayType(DoubleType, true), true))))
    val both = rows.select(
      graft.functions.AbsMaxQuantVec(col("emb")).as("n"),
      graft.ops.Similarity.absMaxQuantComposed(col("emb")).as("c")).collect()
    both.zipWithIndex.foreach { case (r, i) =>
      assert((r.isNullAt(0), if (r.isNullAt(0)) null else r.getSeq[Any](0)) ===
        ((r.isNullAt(1), if (r.isNullAt(1)) null else r.getSeq[Any](1))),
        s"absmax divergence on input ${adversarial(i)}")
    }
    // deterministic-fixture sweep: the embeddings-shaped synthetic vectors
    val fx = spark.range(0, 500).select(
      transform(sequence(lit(1), lit(16)),
        i => sin(col("id") * i.cast("double")) * 9.7).as("emb"))
    val bad = fx.select(
      graft.functions.AbsMaxQuantVec(col("emb")).as("n"),
      graft.ops.Similarity.absMaxQuantComposed(col("emb")).as("c"))
      .filter(not(col("n") <=> col("c"))).count()
    assert(bad === 0L)
  }

  test("graft_norm_quant / graft_vec_add / graft_vec_sub: parity with the " +
      "composed transform / zip_with spellings") {
    // norm_quant vs transform(emb, x => clamp(floor(x·127/nrm + 0.5)))
    val fx = spark.range(0, 300).select(
      transform(sequence(lit(1), lit(8)),
        i => sin(col("id") * i.cast("double")) * 3.3).as("emb"))
      .withColumn("nrm", sqrt(graft.ops.Similarity.dotComposed(
        col("emb"), col("emb"))))
      // the callers' guard: zero-norm rows are filtered before quantizing
      // (under ANSI the composed division would throw on them)
      .filter(col("nrm") > 0.0)
    val composedNq = transform(col("emb"), x =>
      greatest(lit(-127L), least(lit(127L),
        floor(x * lit(127.0) / col("nrm") + lit(0.5)).cast("long"))))
    val nqBad = fx.select(
      graft.functions.NormQuantVec(col("emb"), col("nrm")).as("n"),
      composedNq.as("c")).filter(not(col("n") <=> col("c"))).count()
    assert(nqBad === 0L)
    // (zero norm is NOT parity-pinned: under ANSI the composed division
    // throws DIVIDE_BY_ZERO; every caller filters nrm > 0 first, so the
    // regime is unreachable in the operators)
    // vec add/sub vs zip_with over null elements and length mismatch
    import org.apache.spark.sql.types._
    val pairs: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (Seq(1L: java.lang.Long, 2L: java.lang.Long),
        Seq(3L: java.lang.Long, -4L: java.lang.Long)),
      (Seq(1L: java.lang.Long), Seq(3L: java.lang.Long, 5L: java.lang.Long)),
      (Seq(null, 2L: java.lang.Long), Seq(1L: java.lang.Long, null)),
      (Seq.empty, Seq(7L: java.lang.Long)))
    val pr = spark.createDataFrame(
      spark.sparkContext.parallelize(pairs.map { case (a, b) =>
        org.apache.spark.sql.Row(
          a.map(x => if (x == null) null else x.longValue()),
          b.map(x => if (x == null) null else x.longValue()))
      }, 2),
      StructType(Seq(StructField("a", ArrayType(LongType, true), true),
        StructField("b", ArrayType(LongType, true), true))))
    val vBad = pr.select(
      graft.functions.VecAddSub.add(col("a"), col("b")).as("na"),
      zip_with(col("a"), col("b"), (x, y) => x + y).as("ca"),
      graft.functions.VecAddSub.sub(col("a"), col("b")).as("ns"),
      zip_with(col("a"), col("b"), (x, y) => x - y).as("cs"))
      .filter(not(col("na") <=> col("ca")) || not(col("ns") <=> col("cs")))
      .count()
    assert(vBad === 0L)
  }

  test("graft_top_centroids: parity with the posexplode ranking spelling, " +
      "and min(k, usable) when probes exceed usable centroids") {
    import org.apache.spark.sql.expressions.Window
    val cents = Seq(Seq(1L, 0L, 0L), Seq(0L, 1L, 0L), Seq(1L, 1L, 0L),
      Seq(-1L, 0L, 1L), Seq(2L, 2L, 2L))
    val centArrs = array(cents.map(cv => array(cv.map(lit): _*)): _*)
    val qvs = spark.range(0, 50).select(col("id"),
      transform(sequence(lit(1), lit(3)),
        i => pmod(col("id") * i.cast("long") * 37L, lit(21L)) - 10L).as("qv"))
    // composed: score_i = dot(qv, c_i)/‖c_i‖ (long squares widened after
    // the multiply), rank by (score desc, position asc) — the qprobe
    // window spelling TopCentroids mirrors
    val scores = array(cents.map { cv =>
      val carr = array(cv.map(lit): _*)
      graft.ops.Similarity.dotComposed(col("qv").cast("array<double>"),
        carr.cast("array<double>")) /
        sqrt(lit(cv.map(c => (c * c).toDouble).sum))
    }: _*)
    val k = 3
    val composed = qvs
      .select(col("id"), posexplode(scores).as(Seq("_pos", "_sc")))
      .withColumn("_pr", row_number().over(
        Window.partitionBy("id").orderBy(col("_sc").desc, col("_pos"))))
      .filter(col("_pr") <= k)
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("_pr"), col("_pos")))),
        x => x("_pos") + 1).as("c"))
    val native = qvs.select(col("id"),
      graft.functions.TopCentroids(col("qv"), centArrs, k).as("n"))
    val bad = native.join(composed, "id")
      .filter(not(col("n").cast("array<long>") <=> col("c").cast("array<long>")))
      .count()
    assert(bad === 0L)
    // k beyond the centroid count: returns min(k, usable) positions (the
    // documented divergence from the masked-argmax chain, which padded
    // with duplicate positions once all scores were -Inf)
    val over = spark.range(1).select(typedLit(Seq(1L, 2L, 3L)).as("qv"))
      .select(graft.functions.TopCentroids(col("qv"), centArrs, 99).as("n"))
      .head().getSeq[Long](0)
    assert(over.length === cents.length)
    assert(over.toSet.size === cents.length)
  }

  test("graft_a_tags: byte parity with the zipped double regexp_extract_all " +
      "spelling over adversarial and fixture-shaped HTML") {
    val adversarial = Seq(
      null,
      "",
      "no tags at all",
      "<a href=\"/x\">one</a>",
      "<A HREF='/y' TITLE=\"a>b\">Body</A>",              // '>' inside quotes
      "<a href=\"/broken>never closed quote</a>",          // unterminated quote
      "<a href='/u'>unclosed anchor",                       // no </a>
      "<abbr title='x'>not an a tag</abbr>",                // \b guard
      "<a>empty attrs</a>",
      "<a\nhref='/nl'\n>multi\nline\nbody</a>",             // (?s) newlines
      "<a href=/bare>bare value</a>",
      "<a href='/1'>first</a><a href='/2'>second</a>",
      "<a href='/o'><a href='/i'>inner</a>",                // nested opens
      "x<a href='/t'>t</a (not a closer)> tail </a>",       // </a needs '>'
      "<a data-x=\"it's fine\">quotes in quotes</a>",
      "<a href='/e'></a>",                                   // empty body
      "<a", "<a ", "<a href='x'",                            // truncated heads
      "<A HREF='/z'>mixed</A><a broken='>trap</a>",
      "pre <a  rel = 'nofollow'  href = \"/r\" > spaced </a> post")
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(
        adversarial.map(org.apache.spark.sql.Row(_)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.StringType, nullable = true))))
    // fixture-shaped pages: repeated anchors with entities, quotes, and
    // boilerplate between them
    val fixture = spark.range(0, 500).select(concat(
      lit("<html><body><h1>Doc </h1><p>t&amp;x</p><a href=\"/p/"),
      col("id"), lit("?a=1&amp;b=2\" rel='nofollow'>Anchor "), col("id"),
      lit(" <b>bold</b></a><div class=\"nav\">Home | <a href='../up'>Up"),
      lit("</a></div><a href=.>dot</a><script>var a = '<a>';</script>"),
      lit("</body></html>")).as("h"))
    Seq(rows, fixture).foreach { frame =>
      val bad = frame.select(
        graft.functions.ATagsExtract(col("h")).as("n"),
        graft.ops.Links.aTagsZippedComposed(col("h")).as("c"))
        .filter(not(col("n") <=> col("c"))).count()
      assert(bad === 0L, "a-tag scan diverges from the regex spelling")
    }
  }
}
