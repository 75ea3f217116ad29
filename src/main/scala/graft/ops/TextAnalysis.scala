package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation (SURVEY.md §2.5):
  * quality stats, token counting, language ID, document fingerprinting.
  * All pure per-row Catalyst expressions — they fuse into the scan and
  * shuffle nothing.
  */
object TextAnalysis {

  /** The whitespace class shared by every tokenizer here: the RE2 set
    * ([ \t\n\f\r]) written explicitly, because Java's \s additionally
    * includes vertical tab (\x0B) while the DuckDB oracle's RE2 \s does
    * not — an explicit class keeps both engines tokenizing identically. */
  private val wsChars = " \\t\\n\\f\\r"
  val wsPlus = s"[$wsChars]+"
  private val wsOne = s"[$wsChars]"

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation. */
  val tokenPattern = s"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9$wsChars]"

  def textStats(docs: DataFrame): DataFrame = {
    val w = split(trim(col("text")), wsPlus)
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(w).cast("long").as("n_words"),
      size(array_distinct(w)).cast("long").as("n_distinct_words"),
      (length(regexp_replace(col("text"), wsOne, "")).cast("double") / size(w))
        .as("avg_word_len"),
      (size(filter(w, x => x.isin("the", "a", "of", "and"))).cast("double") / size(w))
        .as("stopword_ratio"),
      // Column API, not expr(): the SQL lexer would eat the \s escape and
      // turn the char class into [^a-zA-Z0-9s] (counting whitespace runs).
      size(regexp_extract_all(col("text"), lit(tokenPattern), lit(0))).cast("long")
        .as("bpe_tokens"))
  }

  /** Heuristic language ID by stopword evidence, argmax over languages with
    * a fixed preference order on ties (en > fr > de > es). */
  def langId(docs: DataFrame): DataFrame = {
    val w = split(trim(col("text")), wsPlus)
    def hits(stops: Seq[String]): Column =
      size(filter(w, x => x.isin(stops: _*)))
    val en = hits(Seq("the", "a", "of", "and", "is"))
    val fr = hits(Seq("le", "la", "les", "et", "est"))
    val de = hits(Seq("der", "die", "das", "und", "ist"))
    val es = hits(Seq("el", "los", "las", "y", "es"))
    docs.select(col("doc_id"),
      when(en >= fr && en >= de && en >= es, "en")
        .when(fr >= de && fr >= es, "fr")
        .when(de >= es, "de")
        .otherwise("es").as("lang_guess"))
  }

  /** Characteristic character-trigram profiles per language (distinctive,
    * non-overlapping with each other's top-frequency trigrams). */
  val trigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "ing", "ion"),
    "fr" -> Seq("les", "ent", "une", "est"),
    "de" -> Seq("der", "sch", "ein", "ich"),
    "es" -> Seq("los", "las", "que", "ado"))

  /** Character-n-gram language ID: count profile-trigram occurrences in the
    * lowercased text, argmax with the same fixed tie order as [[langId]].
    * Counts are non-overlapping matches (regexp semantics — identical in
    * the DuckDB oracle), computed scan-fused with zero shuffles. */
  def langIdNgram(docs: DataFrame): DataFrame = {
    val low = lower(col("text"))
    val scores = trigramProfiles.map { case (lang, grams) =>
      // trigrams are alphanumeric — safe as literal regexes in both engines
      lang -> grams.map(g => size(regexp_extract_all(low, lit(g), lit(0))))
        .reduce(_ + _)
    }
    // argmax with profile-order tie preference, derived from the list so a
    // fifth language extends the cascade instead of MatchError-ing a
    // hardcoded 4-way destructure (the oracle builder iterates the same way)
    val cascade = scores.zipWithIndex.init.foldLeft(when(lit(false), "")) {
      case (acc, ((lang, s), i)) =>
        val laterScores = scores.drop(i + 1).map(_._2)
        acc.when(laterScores.map(s >= _).reduce(_ && _), lang)
    }.otherwise(scores.last._1)
    docs.select(col("doc_id"), cascade.as("lang_ngram"))
  }

  /** Canonical-form fingerprint: md5 over lowercased, whitespace-collapsed
    * text. Equal fingerprints ⇒ same normalized content. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(regexp_replace(lower(col("text")), wsPlus, " ")).as("fingerprint"))

  /** Gopher-style quality gate: cheap per-row heuristics that drop boilerplate
    * and garbage before expensive dedup/training stages. Emits the verdict
    * AND the reasons (comma-joined, stable order) so filtering is auditable.
    * All thresholds are parameters — corpus-dependent by design. */
  def qualityFilter(docs: DataFrame,
                    minWords: Int = 10, maxWords: Int = 100000,
                    minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 12.0,
                    maxSymbolRatio: Double = 0.2,
                    minStopwordRatio: Double = 0.005): DataFrame = {
    val reasons = qualityFailReasons(col("text"), minWords, maxWords,
      minMeanWordLen, maxMeanWordLen, maxSymbolRatio, minStopwordRatio)
    docs.select(col("doc_id"),
      (reasons === "").as("keep"),
      reasons.as("fail_reasons"))
  }

  /** The gate's fail-reason expression, exposed so compositions fuse
    * it into their own scan (round 19 — the canonicalKeys lesson: a
    * gate that only exists as a DataFrame op forces a doc_id self-join
    * of two corpus scans on every consumer). */
  private[graft] def qualityFailReasons(text: Column,
      minWords: Int = 10, maxWords: Int = 100000,
      minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 12.0,
      maxSymbolRatio: Double = 0.2,
      minStopwordRatio: Double = 0.005): Column = {
    val w = split(trim(text), wsPlus)
    val nWords = size(w)
    val meanLen = length(regexp_replace(text, wsOne, "")).cast("double") / nWords
    val symbolRatio =
      length(regexp_replace(text, s"[a-zA-Z0-9$wsChars]", "")).cast("double") /
        greatest(length(text), lit(1))
    val stopRatio =
      size(filter(w, x => x.isin("the", "a", "of", "and", "is"))).cast("double") / nWords
    concat_ws(",",
      // NULL text first: every threshold comparison on null evaluates to
      // null, concat_ws skips nulls, and a contentless doc would otherwise
      // sail through the gate with empty fail_reasons
      when(text.isNull, "null_text"),
      when(nWords < minWords, "too_few_words"),
      when(nWords > maxWords, "too_many_words"),
      when(meanLen < minMeanWordLen, "short_words"),
      when(meanLen > maxMeanWordLen, "long_words"),
      when(symbolRatio > maxSymbolRatio, "symbol_heavy"),
      when(stopRatio < minStopwordRatio, "no_stopwords"))
  }

  /** Corpus-self-trained unigram LM score — the cheapest member of the
    * model-based quality family: each document's mean log-probability
    * under the corpus's own unigram distribution. Documents of common,
    * fluent vocabulary score high; gibberish, rare-token spam, and
    * wrong-language fragments score low (their tokens are rare in-corpus).
    * The standard use is a percentile cut before expensive model scoring.
    *
    * Scale shape: token counts are one hash-agg shuffle; the score join is
    * an equi-join on the token (shuffle_hash pinned — a 100 TB corpus's
    * vocabulary is far beyond broadcast); the per-doc mean is a second
    * hash-agg. The exploded token frame is recomputed per consumer rather
    * than persisted — it is corpus-sized, and two column-pruned scans beat
    * caching it. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(trim(col("text")), wsPlus)).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val n = toks.agg(count(lit(1)).cast("double").as("n")).scalar()
    toks.join(counts.hint("shuffle_hash"), Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        avg(log(col("cnt").cast("double") / n)).as("avg_logprob"))
  }

  /** Gopher-style repetition metric: the fraction of a doc's word n-grams
    * taken by its single most frequent n-gram. Boilerplate/spam shows up as
    * rep_ratio near 1. Row-local higher-order expressions (the per-row cost
    * is O(distinct·total) on ~10²-word docs — fine; no shuffle, scan-fused).
    * Docs with fewer than n words are dropped (no n-grams to measure). */
  def repetitionRatio(docs: DataFrame, n: Int = 2): DataFrame = {
    val w = split(trim(col("text")), wsPlus)
    val grams = transform(sequence(lit(0), size(col("_ws")) - n),
      i => array_join(slice(col("_ws"), i + lit(1), lit(n)), " "))
    docs.filter(size(w) >= n)
      .withColumn("_ws", w)
      .withColumn("_grams", grams)
      .withColumn("_top", array_max(transform(array_distinct(col("_grams")),
        g => size(filter(col("_grams"), x => x === g)))))
      .select(col("doc_id"),
        size(col("_grams")).cast("long").as("n_grams"),
        col("_top").cast("long").as("top_count"),
        (col("_top").cast("double") / size(col("_grams"))).as("rep_ratio"))
  }

  /** Top-k characteristic terms per doc by smoothed TF-IDF. The idf is the
    * RATIONAL form (N+1)/(df+1) rather than its log: ranking is what this
    * operator is for, log is monotone, and a log-free score is bit-exact
    * across engines (libm log implementations differ in the last ulp, which
    * a hash-comparing oracle cannot tolerate).
    *
    * Scale shape: explode → two hash aggs (doc-term TF, term DF) → one
    * broadcast of the term-DF side? No — DF is corpus-vocabulary-sized, so
    * it joins BY TERM (shuffle on the term key, same partitioning the DF agg
    * just produced); only the 1-row corpus count broadcasts. The final
    * per-doc top-k is a window partitioned by doc_id. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val tokens = docs.select(col("doc_id"),
      explode(split(trim(col("text")), wsPlus)).as("term"))
    val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.select(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    // shuffle_hash pinned: dft is corpus-VOCABULARY-sized (the scaladoc's
    // whole point) — auto-broadcast on small-looking stats would be the
    // driver-OOM path at scale, same pin as unigramLogProb's counts join
    tf.join(dft.hint("shuffle_hash"), "term")
      .crossJoin(broadcast(total))
      .withColumn("score",
        col("tf") * (col("n_docs") + 1).cast("double") / (col("df") + 1))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  // PII patterns: conservative constructs only (char classes, bounded
  // repeats, \b) so Java regex (Spark) and RE2 (DuckDB oracle) agree.
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern = s"\\+?\\d[\\d\\-$wsChars()]{6,}\\d"

  /** Deterministic PII-bearing corpus for exercising [[piiScrub]]: the test
    * documents contain no real PII, so append one email, one phone, and one
    * IPv4 derived from doc_id (pure function — the oracle rebuilds it). */
  def withSyntheticPii(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      lit(" Contact user"), col("doc_id").cast("string"), lit("@example.com or +1-202-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), (col("doc_id") % 100).cast("string"), lit(" today")))

  /** PII scrubbing for training-data curation: redact emails, IPv4s, and
    * phone numbers with typed placeholders, count each redaction class.
    * Pure per-row expressions — scan-fused, shuffle-free, and safe to run
    * as the first pass over a raw 100 TB crawl. Redaction order matters
    * (emails contain dots/digits): emails → IPs → phones, with each count
    * taken on the previous stage's output so the classes don't overlap. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val s0 = col("text")
    val s1 = regexp_replace(s0, emailPattern, "<EMAIL>")
    val s2 = regexp_replace(s1, ipv4Pattern, "<IP>")
    val s3 = regexp_replace(s2, phonePattern, "<PHONE>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(s0, lit(emailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(s1, lit(ipv4Pattern), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(s2, lit(phonePattern), lit(0))).cast("long").as("n_phones"),
      length(s3).cast("long").as("scrubbed_len"),
      md5(s3).as("scrubbed_md5"))
  }

  /** Train/eval decontamination: flag training documents sharing word
    * n-grams with a held-out evaluation set (the standard guard against
    * benchmark leakage into a training corpus). The eval membership
    * predicate is a parameter; the default carves a deterministic ~10%
    * pseudo-benchmark out of the corpus so the operator is oracle-checkable
    * on synthetic data.
    *
    * Scale shape: the benchmark n-gram set is tiny relative to a 100 TB
    * corpus (benchmarks are ~10⁶ n-grams), so it BROADCASTS — the corpus
    * side stays scan-fused: shingle per row, hash-join against the
    * broadcast set, one aggregation keyed by doc_id (map-side partial).
    * Nothing corpus-sized ever shuffles except the per-doc count rows.
    * If the eval side outgrows broadcast, drop the hint and Catalyst falls
    * back to a shuffle join on the n-gram key. */
  def decontaminate(docs: DataFrame, n: Int = 3,
                    evalPred: Column = col("doc_id") % 10 === 7): DataFrame = {
    val w = Dedup.words(col("text"))
    // Probe on 64-bit shingle hashes via the fused
    // [[graft.functions.ShingleHashes]] expression (zero string allocation;
    // see its scaladoc for the exact-equality contract): the broadcast set
    // becomes 8 bytes/gram and the join compares longs. A 64-bit collision
    // can only flip one gram into a false overlap hit — negligible.
    val base = docs.filter(size(w) >= n)
      .select(col("doc_id"),
        graft.functions.ShingleHashes.shingleHashes(w, n).as("sh"),
        evalPred.as("_eval"))
    val evalGrams = base.filter(col("_eval"))
      .select(explode(col("sh")).as("g")).distinct()
      .withColumn("_hit", lit(1))
    base.filter(!col("_eval"))
      .select(col("doc_id"), size(col("sh")).as("_nsh"), explode(col("sh")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy("doc_id", "_nsh")
      .agg(sum(coalesce(col("_hit"), lit(0))).as("_c"))
      .select(col("doc_id"),
        col("_nsh").cast("long").as("n_shingles"),
        col("_c").cast("long").as("n_overlap"),
        (col("_c").cast("double") / col("_nsh")).as("overlap_ratio"),
        (col("_c") > 0).as("contaminated"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones; the Lucene "+1" idf
    * form so every term weight is positive): top-k corpus documents per
    * query, scored by Σ_t idf(t)·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).
    * Queries are carved from the corpus by `evalPred` (the decontaminate
    * convention — deterministic, oracle-checkable on synthetic data);
    * each query is the distinct first `queryTerms` tokens of its doc.
    *
    * Determinism contract: per-term scores are doubles (ln differs by
    * ulps across engines), but each is QUANTIZED to DECIMAL(28,12) before
    * the per-(query, doc) sum — decimal addition is exact and
    * order-independent, so the sum (and therefore the rank order, ties
    * broken by doc_id) cannot depend on partitioning or fold order the
    * way a double sum would.
    *
    * Scale shape: the corpus pays one explode + hash agg to build
    * postings (doc_id, dl, term, tf) — the standard inverted-index build,
    * shuffled on nothing bigger than its own rows. The query term set is
    * tiny (queries × ≤queryTerms rows), so it BROADCASTS three times:
    * restricting postings to query terms (a broadcast semi-join fused
    * into the agg output), attaching query_ids, and attaching per-term
    * df (computed on the restricted frame — never a vocabulary-wide df
    * pass). Only (query_id, matching doc) rows reach the final agg +
    * per-query top-k window. Known skew: a stopword query term matches
    * ~every doc and lands one query's candidates in one window
    * partition — cap query terms by df upstream if that bites.
    *
    * The default query set is FIXED-SIZE (first 32 eligible ids), not a
    * corpus fraction: retrieval cost is queries × Σ df(term), so a query
    * set that grows with the corpus is O(N²) by construction — measured
    * exactly that way on the 31-word synthetic vocabulary (7.7M scored
    * pairs at sf0.1 with fraction queries, 8× fewer with the fixed set).
    * A production eval runs a fixed benchmark query set for the same
    * reason. */
  def bm25Search(docs: DataFrame, topK: Int = 5, queryTerms: Int = 8,
                 k1: Double = 1.2, b: Double = 0.75,
                 evalPred: Column = bm25DefaultPred): DataFrame = {
    val base = bm25Base(docs, evalPred)
    val corpus = base.filter(!col("_q"))
    bm25Score(bm25Postings(corpus), bm25Stats(corpus),
      bm25Queries(docs, queryTerms, evalPred), topK, k1, b)
  }

  /** The fixed-size eval query-set predicate, exposed as a function of
    * the id column so multi-leg retrievers ([[graft.ops.Retrieval]]) can
    * apply the SAME set to differently-keyed frames (doc_id vs vec_id) —
    * two private copies of the constant would let the legs drift apart
    * silently if one were ever tuned. */
  def evalQueryPred(id: Column): Column = id % 17 === 3 && id < 544

  private val bm25DefaultPred: Column = evalQueryPred(col("doc_id"))

  private def bm25Base(docs: DataFrame, evalPred: Column): DataFrame = {
    val w = Dedup.words(col("text"))
    docs.filter(size(w) >= 1)
      .select(col("doc_id"), w.as("ws"), evalPred.as("_q"))
  }

  /** The query frame bm25Search derives internally — exposed so an
    * INDEXED search can run the same queries against a persisted index. */
  def bm25Queries(docs: DataFrame, queryTerms: Int = 8,
                  evalPred: Column = bm25DefaultPred): DataFrame =
    bm25Base(docs, evalPred).filter(col("_q"))
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(col("ws"), 1, queryTerms))).as("term"))

  // corpus: (doc_id, ws) → the inverted index (doc_id, dl, term, tf)
  private def bm25Postings(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))

  // carries the raw (n_docs, dl_sum) moments alongside the derived avgdl.
  // dl_sum coalesces to 0 (sum over an empty frame is NULL) and avgdl
  // null-guards n_docs=0: an all-filtered corpus produces the (0, 0, null)
  // row.
  private def bm25Stats(corpus: DataFrame): DataFrame =
    corpus.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(col("ws")).cast("long")), lit(0L)).as("dl_sum"))
      .withColumn("avgdl", when(col("n_docs") > 0,
        col("dl_sum").cast("double") / col("n_docs")))

  // the serving-path core, shared by the live and indexed forms
  private def bm25Score(postings: DataFrame, stats: DataFrame,
                        queries: DataFrame, topK: Int,
                        k1: Double, b: Double): DataFrame = {
    // restrict to query terms FIRST: df is then computed over a frame
    // bounded by Σ df(query terms), not the corpus vocabulary
    val rp = postings.join(broadcast(queries.select("term").distinct()), "term")
    val dfq = rp.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = rp.join(broadcast(queries), "term")
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (idf * tfNorm).cast("decimal(28,12)").as("s"))
    val ranked = scored.groupBy("query_id", "doc_id")
      .agg(sum(col("s")).as("sd"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("sd").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
    ranked.select(col("query_id"), col("rank"), col("doc_id"),
      col("sd").cast("double").as("score"))
  }

  /** Build-once half of the BM25 serving pair: persist the inverted index
    * (postings bucketed + sorted BY TERM) and the 1-row corpus stats as
    * tables. At 100 TB the postings build — the explode + hash agg over
    * the whole corpus — dominates every query batch; amortizing it into
    * one write is the difference between a search SERVICE and a per-batch
    * scan. Bucketing by term means a future non-broadcast query set
    * (an equi-join on term) arrives pre-clustered with no shuffle on the
    * postings side. */
  def bm25WriteIndex(docs: DataFrame, prefix: String = "bm25",
                     buckets: Int = 32,
                     evalPred: Column = bm25DefaultPred): Unit = {
    val corpus = bm25Base(docs, evalPred).filter(!col("_q"))
    // a REBUILD must be idempotent across JVMs — see dropManagedTable
    Partitioning.dropManagedTable(docs.sparkSession, s"${prefix}_postings")
    Partitioning.dropManagedTable(docs.sparkSession, s"${prefix}_stats")
    bm25Postings(corpus).write.mode("overwrite")
      .bucketBy(buckets, "term").sortBy("term")
      .saveAsTable(s"${prefix}_postings")
    bm25Stats(corpus).write.mode("overwrite").saveAsTable(s"${prefix}_stats")
  }

  /** Query-many half: identical semantics to [[bm25Search]] (same scoring
    * core), but postings and stats come from the persisted index — no
    * corpus scan, no explode, no postings agg at query time. `queries` is
    * a (query_id, term) frame, e.g. [[bm25Queries]]. */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession,
                        queries: DataFrame, prefix: String = "bm25",
                        topK: Int = 5, k1: Double = 1.2,
                        b: Double = 0.75): DataFrame =
    bm25Score(spark.table(s"${prefix}_postings"),
      spark.table(s"${prefix}_stats"), queries, topK, k1, b)

  /** One BPE tokenizer-training round: corpus-wide adjacent-symbol pair
    * counts (characters as initial symbols), weighted by word frequency —
    * the statistic whose argmax IS the next BPE merge (Sennrich et al.,
    * "Neural Machine Translation of Rare Words with Subword Units", 2016).
    * A tokenizer-training pipeline iterates this; one round is the
    * oracle-checkable unit, and each subsequent round only changes the
    * symbol segmentation, not the shape of the computation.
    *
    * Scale shape — the reason this belongs in a 100 TB engine: the pair
    * explode runs on the DISTINCT-WORD dictionary, not the corpus. The
    * corpus pays exactly one token hash-agg (map-side combine collapses
    * repeats before the shuffle); the dictionary is Heaps-law-sublinear
    * in corpus size, and the pair frame it explodes to is bounded by
    * dictionary size × word length. The final rank is a global window
    * over the aggregated PAIR frame — ≤ |alphabet|² + observed multi-char
    * symbols, thousands of rows regardless of corpus size. */
  def bpePairCounts(docs: DataFrame, topK: Int = 50): DataFrame = {
    val toks = docs.select(explode(Dedup.words(col("text"))).as("wd"))
      .filter(col("wd") =!= "")
    val wf = toks.groupBy("wd").agg(count(lit(1)).as("freq"))
    val pairs = wf
      .withColumn("_cs", split(col("wd"), ""))
      .filter(size(col("_cs")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), size(col("_cs")) - 1),
        i => concat(element_at(col("_cs"), i), lit(" "),
          element_at(col("_cs"), i + 1)))).as("pair"))
    pairs.groupBy("pair").agg(sum(col("freq")).cast("long").as("cnt"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("pair"))).cast("int"))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("pair"), col("cnt"))
  }

  /** Winnowing document fingerprints (rolling k-gram hashes, sliding-window
    * minimum — the MOSS scheme): robust to local edits, shuffle-free, and
    * portable (md5-based hash family, so any engine reproduces it). Returns
    * the fingerprint-set digest per doc; equal digests ⇒ near-identical
    * content up to k-gram granularity. */
  def winnow(docs: DataFrame, k: Int = 8, window: Int = 4): DataFrame = {
    // NB: Spark's sequence(a, b) DESCENDS when a > b (it never returns
    // empty), so every sequence below is guarded by a when() on the count.
    val base = docs.select(col("doc_id"),
      regexp_replace(lower(col("text")), wsPlus, " ").as("_norm"))
      .withColumn("_n", greatest(length(col("_norm")) - (k - 1), lit(0)))
      .withColumn("_grams", when(col("_n") >= 1,
        transform(sequence(lit(1), col("_n")),
          i => md5(col("_norm").substr(i, lit(k))))))
    // least(element_at...) not array_min(slice...): slice materializes a
    // fresh w-element array per window position — O(n·w) allocations per doc
    // that dominated the honest (fully-materialized) benchmark at 67 s for
    // 5k docs; direct element reads are allocation-free (0.5 s warm)
    val wins = transform(sequence(lit(0), col("_n") - window),
      i => least((1 to window).map(o => element_at(col("_grams"), i + lit(o))): _*))
    base.select(col("doc_id"),
      col("_n").cast("long").as("n_grams"),
      when(col("_n") >= window,
        md5(array_join(array_sort(array_distinct(wins)), ""))).as("winnow_digest"))
  }

  /** Corpus-level n-gram frequency table, top-k: the vocabulary/boilerplate
    * census a curation pipeline runs before choosing dedup and filtering
    * thresholds. Counts are raw OCCURRENCES (not the per-doc-distinct
    * shingle sets of [[Dedup.shingles]]) plus document frequency.
    *
    * Scale shape: explode → one hash agg keyed by the n-gram (map-side
    * partial aggregation collapses repeats before the shuffle; count and
    * count-distinct-doc share the agg) → global top-k via TakeOrdered
    * (each partition keeps k rows; no global sort materializes). */
  def ngramCounts(docs: DataFrame, n: Int = 2, topK: Int = 100): DataFrame = {
    val w = Dedup.words(col("text"))
    val grams = transform(sequence(lit(0), size(col("_ws")) - n),
      i => array_join(slice(col("_ws"), i + lit(1), lit(n)), " "))
    docs.filter(size(w) >= n)
      .withColumn("_ws", w)
      .select(col("doc_id"), explode(grams).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("gram"))
      .limit(topK)
  }

  /** Exact frequent n-grams above a FRACTION-of-corpus threshold, with a
    * count-min-sketch prefilter ([[graft.functions.Cms]]) so only
    * candidate keys ever reach the exact aggregation — the heavy-hitters
    * pattern for 100 TB frequency mining. [[ngramCounts]] answers "the
    * top k"; this answers "every gram above φ·N occurrences" — the form
    * boilerplate detection and stop-list induction actually need, and the
    * one a fixed-k census silently truncates.
    *
    * TWO passes over the scan-fused gram Generate, no corpus-sized
    * state: (1) ONE aggregation computing both the total gram count N →
    * integer threshold T = ⌈N·num/den⌉ (exact `div` arithmetic —
    * replayable in any engine) AND the CMS build (fixed depth×width
    * table regardless of corpus size — the property that lets the
    * FRACTION threshold scale: width ≈ 3·den/num bounds spurious
    * candidates at any N, where a bloom would grow with the key count) —
    * they are both aggregates over the same frame, so separate actions
    * would pay a full extra corpus explode (the round-14 review
    * finding); (2) a scan-side estimate-≥-T filter feeding the exact
    * verify aggregation. CMS never underestimates, so candidates are a
    * SUPERSET of the true heavy hitters and the exact group-by +
    * HAVING verify emits EXACTLY the true set — seed-independent output,
    * sketch-dependent shuffle volume. At 100 TB with a zipfian gram
    * tail, the tail (the overwhelming majority of distinct keys, each
    * seen a handful of times) fails the probe scan-side and never
    * shuffles; the exact agg's exchange carries only near-threshold
    * keys. */
  def frequentNgrams(docs: DataFrame, n: Int = 2, fracNum: Long = 1L,
                     fracDen: Long = 1000L, depth: Int = 5,
                     width: Int = 1 << 16): DataFrame = {
    require(fracNum > 0 && fracDen > 0, "threshold fraction must be positive")
    val w = Dedup.words(col("text"))
    val grams = transform(sequence(lit(0), size(col("_ws")) - n),
      i => array_join(slice(col("_ws"), i + lit(1), lit(n)), " "))
    val g = docs.filter(size(w) >= n)
      .withColumn("_ws", w)
      .select(col("doc_id"), explode(grams).as("gram"))
    // ⌈N·num/den⌉ in pure integer arithmetic: (N·num + den−1) div den
    // (SQL's integral DIV — the Column `/` is floating division).
    // Threshold and sketch in ONE action (`head()` on the combined agg —
    // a bounded 1-row model-sized pull, the kmeans-centroid allowance),
    // then embedded as LITERALS: this is exactly the byte image a scalar
    // subquery substitutes before execution, minus one corpus explode
    // per extra subquery. (First tried as scalar subqueries over a
    // localCheckpoint'd stats frame — a LogicalRDD-backed subquery
    // defeats literal substitution and re-evaluated per probe: 58 s vs
    // 1.0 s on the sf0.1 gram corpus. Literal embedding measured
    // fastest of all three formulations.)
    val statsRow = g.agg(
        expr(s"CAST((count(1) * $fracNum + ${fracDen - 1L}) DIV $fracDen AS BIGINT)")
          .as("_t"),
        graft.functions.Cms.cmsAggSized(
          xxhash64(col("gram")), depth, width).as("_cms"))
      .head()
    val thresh = lit(statsRow.getLong(0))
    val sketch = lit(statsRow.getAs[Array[Byte]](1))
    g.filter(coalesce(graft.functions.Cms.estimate(
        sketch, xxhash64(col("gram"))) >= thresh, lit(false)))
      .groupBy("gram")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .filter(col("occurrences") >= thresh)
      .orderBy("gram")
  }

  /** CCNet-style text normalization — the pass that runs BEFORE any
    * hash-keyed dedup, because the same visible string arrives from real
    * crawls in multiple byte forms that hash apart:
    *  1. Unicode NFC ([[graft.functions.NfcNormalize]], native — Spark
    *     has no normalizer builtin): composed (U+00E9) and decomposed
    *     (e + U+0301) sequences unify;
    *  2. typographic fold: curly quotes → ASCII quotes, en/em dashes →
    *     '-' (one `translate`, character-for-character);
    *  3. whitespace-run collapse to a single space, plus trim.
    * Row-local, scan-fused, codegen'd end to end — zero shuffles; the
    * DuckDB oracle replays the identical chain (`nfc_normalize` +
    * translate + regexp). `changed` reports whether normalization
    * touched the row — the audit column a curation run logs. */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val collapsed = normalizeExpr(col(textCol))
    docs.select(col("doc_id"), collapsed.as("text_norm"),
      (collapsed =!= col(textCol)).as("changed"))
  }

  /** The [[normalizeText]] chain as a bare column (NFC compose, then
    * typographic quote/dash fold, then whitespace-run collapse + trim) for
    * composing INTO other operators: most importantly immediately before
    * any content-hash dedup key (`md5(normalizeExpr(text))`), so
    * composed/decomposed byte forms of the same visible string can never
    * hash apart (the round-15 VERDICT gap: the normalizer shipped as a
    * standalone pass but no dedup path actually ran it). Row-local and
    * scan-fused; the DuckDB replay is [[graft.SparkEntry]]'s shared
    * `normSqlOf` fragment; keep the two in lockstep. */
  def normalizeExpr(c: Column): Column = {
    val nfc = graft.functions.NfcNormalize(c)
    val folded = translate(nfc,
      "\u2018\u2019\u201C\u201D\u2013\u2014", "''\"\"--")
    trim(regexp_replace(folded, "\\s+", " "))
  }

  /** Per-stratum corpus profile: doc count, token totals, mean and exact
    * quartile token counts — the report a mixture designer reads before
    * writing weights. Quartiles of INTEGRAL token counts at quarter
    * fractions are exactly representable doubles, so the result is
    * bit-identical across engines (same trick as q_percentiles); the mean
    * divides a decimal-exact sum, deterministic under any partitioning.
    * One hash-agg shuffle on the stratum key. */
  def corpusStats(docs: DataFrame, strataCol: String = "lang"): DataFrame = {
    val nTok = size(Dedup.words(col("text"))).cast("long")
    docs
      .select(col(strataCol), nTok.as("_nt"))
      .groupBy(strataCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt").cast("decimal(18,0)")).cast("long").as("total_tokens"),
        expr("percentile(_nt, 0.25)").as("p25_tokens"),
        expr("percentile(_nt, 0.5)").as("p50_tokens"),
        expr("percentile(_nt, 0.75)").as("p75_tokens"))
      .withColumn("mean_tokens",
        col("total_tokens").cast("double") / col("n_docs"))
  }

  /** Bigram-LM fluency score — the second-order refinement of
    * [[unigramLogProb]]: per doc, the mean log P(wᵢ | wᵢ₋₁) under the
    * corpus MLE (bigram count over head-position count, so the
    * conditional sums to 1 over continuations). Fluent word ORDER now
    * matters: a doc of common words in a scrambled order scores low
    * where the unigram model cannot tell. Docs with fewer than two
    * tokens have no bigram and drop out (mirrored by the oracle).
    *
    * Scale shape (reworked twice — r10 plan audit, then the r11 10×
    * scale probe): the corpus-sized explode runs twice as a cheap
    * scan-fused Generate — once into the `c12` hash-agg, once into the
    * scoring join — and CORPUS-sized data is never materialized (the
    * checkpoint-the-instance-frame variant probed at exponent 1.31 on
    * 10× corpus: natural text has little in-doc bigram repetition, so
    * the per-doc pre-agg barely shrank what it wrote). What IS cached is
    * only the VOCAB-sized `c12` model — needed twice (its own `cnt1`
    * rollup: cnt1(w1) = Σ_w2 c12, exact, no third corpus pass; and the
    * logp join build) — spillable and released once the result is
    * materialized (the Dedup managed-lifecycle pattern, so bench
    * repeat-sampling cannot stack blocks). The count frames join
    * vocab×vocab on w1 (skew bounded by the hottest head's continuation
    * fan-out ≤ |vocab|), and the instance stream joins exactly once, on
    * the (w1, w2) COMPOSITE key — which splinters the stopword hot keys
    * ("the", "of") across their continuations instead of funneling each
    * into one reducer, the 100 TB skew killer the original w1-only
    * instance join had. shuffle_hash pinned: bigram vocabulary is far
    * beyond broadcast at scale.
    *
    * Precondition of the two-scan shape: `docs` must be stable across
    * scans (any deterministic lineage over immutable storage is — the
    * normal case). A frame that changes between jobs (rand()-filtered,
    * unpinned sample, source being appended to) would build the model
    * from one snapshot and score another; snapshot such inputs first. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val ws = split(trim(col("text")), wsPlus)
    def bi = docs.filter(size(ws) >= 2).select(col("doc_id"),
      explode(transform(sequence(lit(1), size(ws) - 1),
        i => struct(element_at(ws, i).as("w1"),
          element_at(ws, i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).cast("long").as("cnt1"))
    val logp = c12.join(c1.hint("shuffle_hash"), Seq("w1"))
      .select(col("w1"), col("w2"),
        log(col("c12").cast("double") / col("cnt1")).as("lp"))
    val res = bi.join(logp.hint("shuffle_hash"), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        avg(col("lp")).as("avg_logprob"))
      .localCheckpoint()
    c12.unpersist(blocking = false)
    res
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
    * language's documents into head/middle/tail thirds by LM score, the
    * canonical quality-stratification step before mixing training data.
    *
    * Scale shape — thresholds from a SAMPLE, bucketing row-local, which
    * is exactly how CCNet itself works (its percentiles come from a
    * fraction of Common Crawl, not the full corpus):
    *  1. score every doc with [[bigramLogProb]] (already checkpointed),
    *     fixed-point the score to a LONG (0.1-millinat units) so every
    *     downstream comparison is integer-exact across engines — ln()
    *     and the distributed avg() are the only float ops, and their
    *     cross-engine divergence (~1e-13: libm ULPs plus summation
    *     order) is ~1e-9 of the 1e-4 grid, so a doc landing exactly on
    *     a rounding boundary is a non-event;
    *  2. take the deterministic md5-prefix sample (first hex nibble '0',
    *     ~1/16 — row-local filter, no sort, same device as
    *     Sampling.stratifiedSample so the oracle recomputes it exactly);
    *  3. per-language tercile thresholds as ORDER STATISTICS of the
    *     sample (row_number at positions ceil(m/3), ceil(2m/3) in
    *     score-DESC order): element selection, not interpolation, so no
    *     cross-engine quantile arithmetic. The only sort in the plan is
    *     sample-sized and per-language;
    *  4. broadcast the (|langs|-row) threshold frame and bucket every
    *     scored doc with integer compares — head: score ≥ t1, middle:
    *     score ≥ t2, tail: below. Ties at a threshold land in the upper
    *     bucket (deterministic; documented contract). A language absent
    *     from the sample (tiny SF) degrades to all-head, never a crash.
    * Docs with <2 words carry no bigram score and are excluded, matching
    * [[bigramLogProb]]'s contract. At 100 TB every corpus-sized stage is
    * a scan-fused filter or the LM scoring join itself — the bucketing
    * adds one broadcast join and zero wide shuffles. */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val scored = bigramLogProb(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("score_fp", round(col("avg_logprob") * 1e4, 0).cast("long"))
    val sample = scored.filter(
      substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("score_fp").desc, col("doc_id"))
    val whole = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val ranked = sample.select(col("lang"), col("score_fp"),
      row_number().over(byScore).as("rn"),
      count(lit(1)).over(whole).as("m"))
    val th = ranked.groupBy("lang").agg(
      max(when(col("rn") === expr("(m + 2) div 3"), col("score_fp"))).as("t1"),
      max(when(col("rn") === expr("(m * 2 + 2) div 3"), col("score_fp"))).as("t2"))
    scored.join(broadcast(th), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("t1").isNull || col("score_fp") >= col("t1"), "head")
          .when(col("t2").isNull || col("score_fp") >= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  // ---- BPE tokenizer: training rounds + corpus encode ----
  //
  // Symbol-stream representation: each dictionary word's current
  // segmentation is ONE string, tokens separated by a DOUBLE unit
  // separator (\u001f\u001f) with the double separator also at both ends.
  // A merge of pair (a,b) is then a plain string replace of
  //   \u001f a \u001f\u001f b \u001f   with   \u001f a b \u001f
  // — the single-separator pattern edges overlap the double boundaries,
  // which makes left-to-right non-overlapping replace() EXACTLY BPE's
  // greedy merge semantics: adjacent disjoint occurrences (…a b a b…)
  // each keep an untouched boundary char so both merge, while overlapping
  // occurrences (…a a a… for pair (a,a)) merge alternately because the
  // first match consumes the middle boundary. No lookahead regex needed,
  // so the same expression runs on Java and RE2-based engines.

  private val bpeSep = "\u001f"
  private val bpeBound = bpeSep + bpeSep

  /** Shared BPE fit: checkpointed (word, freq, seg) dictionary plus the
    * merge table learned over `rounds` greedy rounds (argmax pair by
    * summed word frequency, ties by pair lexicographically — Sennrich et
    * al. 2016). Each round runs ONE dictionary-sized job (pair explode +
    * hash-agg + top-1) and collects a single row to the driver, which is
    * re-injected as a literal in the next round's segmentation
    * expression — so the plan stays linear in rounds with no per-round
    * checkpoints (the kmeansIter lesson). The corpus is touched exactly
    * once, by the dictionary hash-agg: training cost scales with the
    * DISTINCT-word dictionary (Heaps-law-sublinear), not corpus size.
    * Words containing the separator byte are excluded up front (they
    * would corrupt the symbol stream); the oracle applies the same
    * filter. Rounds stop early if no adjacent pair remains. */
  private def bpeFit(docs: DataFrame, rounds: Int):
      (DataFrame, Column, Seq[(Int, String, String, Long)]) = {
    val dict = docs.select(explode(Dedup.words(col("text"))).as("wd"))
      .filter(col("wd") =!= "" && !col("wd").contains(bpeSep))
      .groupBy("wd").agg(count(lit(1)).as("freq"))
      .withColumn("seg", concat(lit(bpeSep),
        // (?s): Java's default `.` excludes  / / where
        // RE2's excludes only \n — DOTALL makes both engines wrap every
        // non-separator char identically
        regexp_replace(col("wd"), "(?s)(.)", bpeSep + "$1" + bpeSep),
        lit(bpeSep)))
      .localCheckpoint()
    var seg: Column = col("seg")
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      val syms = filter(split(seg, bpeBound), x => x =!= "")
      val top = dict.filter(size(syms) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("lhs"),
            element_at(syms, i + 1).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rh, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, l, rh, c))
        seg = replace(seg, lit(bpeSep + l + bpeBound + rh + bpeSep),
          lit(bpeSep + l + rh + bpeSep))
      }
      r += 1
    }
    (dict, seg, merges.toSeq)
  }

  /** BPE tokenizer training: the merge table (round, lhs, rhs, freq)
    * learned by [[bpeFit]] — one row per greedy merge round. This is the
    * artifact a tokenizer-training pipeline persists; [[bpePairCounts]]
    * is its single-round statistic. */
  def bpeTrain(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val (_, _, merges) = bpeFit(docs, rounds)
    merges.toDF("round", "lhs", "rhs", "freq")
  }

  /** Corpus encode with the trained merges: per doc, word count and BPE
    * token count under the final segmentation — the compression statistic
    * (tokens per word) that decides whether a tokenizer is worth its
    * vocabulary. One corpus pass (word explode) joined to the
    * dictionary's per-word token counts; the join is pinned shuffle_hash
    * (the dictionary of a 100 TB corpus is beyond broadcast). */
  def bpeEncode(docs: DataFrame, rounds: Int = 6): DataFrame = {
    val (dict, seg, _) = bpeFit(docs, rounds)
    val tokCounts = dict.select(col("wd"),
      size(filter(split(seg, bpeBound), x => x =!= "")).cast("long").as("nt"))
    docs.select(col("doc_id"), explode(Dedup.words(col("text"))).as("wd"))
      .join(tokCounts.hint("shuffle_hash"), Seq("wd"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_tokens"))
  }
}
