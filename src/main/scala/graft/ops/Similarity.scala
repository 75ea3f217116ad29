package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One scored (query, candidate) pair — the unit flowing through the
  * local-top-k pass. Top level so Encoders.product resolves it. */
final case class ScoredPair(query_id: Long, neighbor_id: Long, sim: Double)

object ScoredPair {
  /** The order every ANN query ranks by: sim desc, then neighbor_id asc. */
  val bestFirst: Ordering[ScoredPair] =
    Ordering.by((e: ScoredPair) => (-e.sim, e.neighbor_id))
}

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * (`Array[Float]`, SURVEY.md §2.5).
  *
  * Two tiers:
  *  - [[cosineTopK]] — brute-force baseline: the (small) query set is
  *    broadcast against the corpus, so the "cross join" is a broadcast
  *    nested-loop with NO shuffle of the big side; per-pair cost is one
  *    native dot product inside codegen.
  *  - [[lshCosineTopK]] — the 100 TB path: random-hyperplane LSH. Each
  *    vector gets a b-bit signature (sign of ⟨v, p_k⟩ for deterministic
  *    md5-derived hyperplanes); candidates are only corpus rows whose
  *    signature equals a query's (equi-join on the bucket key — a plain
  *    hash join that scales horizontally), then exact cosine re-ranks.
  *
  * All arithmetic is double-precision with left-to-right folds so the DuckDB
  * oracle (list_dot_product over DOUBLE[]) reproduces results bit-for-bit.
  */
object Similarity {

  /** ⟨a,b⟩ with a strict left-to-right accumulation order. Backed by the
    * native codegen'd [[graft.functions.DotProduct]] expression (one fused
    * loop, no intermediate array) — identical semantics to the composable
    * [[dotComposed]] form, asserted by OpsSpec. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  /** Built-ins-only reference implementation of [[dot]]. */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Vector admission, the first step of every cosine and IVF operator:
    * `vec_id` under the caller's alias `id`, the embedding as
    * `array<double>` under `emb`, its norm under `nrm`, and zero-norm rows
    * dropped. A zero vector has no cosine and no coarse list, so it can be
    * neither a query nor a candidate. */
  private def admitted(df: DataFrame, id: String, emb: String,
                       nrm: String): DataFrame =
    df.select(col("vec_id").as(id), asDouble(col("embedding")).as(emb))
      .withColumn(nrm, norm(col(emb)))
      .filter(col(nrm) > 0.0)

  /** Cosine of an admitted query (`q_emb`, `q_norm`) and an admitted
    * candidate (`c_emb`, `c_norm`). */
  private def cosine: Column =
    dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))

  /** Cosine of every (query, candidate) pair that shares `key`, self-pairs
    * dropped: (query_id, neighbor_id, sim). The query side is broadcast, so
    * the candidate side never shuffles. */
  private def scoredOn(c: DataFrame, q: DataFrame, key: String): DataFrame =
    c.join(broadcast(q), Seq(key))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine.cast("double").as("sim"))

  /** The rank every cosine search ends with: per query, the `k` best
    * scored pairs under (sim desc, neighbor_id asc), numbered from 1:
    * (query_id, neighbor_id, rank, sim). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val rn = row_number().over(
      Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id")))
    scored.withColumn("rank", rn).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Per-partition bounded-heap top-k: keeps only the k best candidates per
    * query per input partition, so the exchange feeding the global ranking
    * window carries ≤ k·partitions·queries rows instead of
    * |corpus|·|queries|. Comparator matches the final sort (sim desc,
    * neighbor_id asc) so the local pass is a strict superset of the global
    * winners. This is the one genuinely imperative per-partition loop in the
    * library — a window over the full scored set would shuffle everything
    * into #queries partitions (straggler/OOM at scale). */
  private def localTopK(scored: DataFrame, k: Int): DataFrame = {
    val ds = scored.as(Encoders.product[ScoredPair])
    ds.mapPartitions { it =>
      // max-heap under best-first order: its head is the WORST kept pair
      val heaps = scala.collection.mutable.Map.empty[
        Long, scala.collection.mutable.PriorityQueue[ScoredPair]]
      it.foreach { e =>
        val h = heaps.getOrElseUpdate(e.query_id,
          scala.collection.mutable.PriorityQueue.empty(ScoredPair.bestFirst))
        h.enqueue(e)
        if (h.size > k) h.dequeue()
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }(Encoders.product[ScoredPair]).toDF()
  }

  /** The scored pairs of brute-force cosine search: every admitted
    * (query, corpus) pair but self-pairs, in [[ScoredPair]]'s columns. The
    * query side is broadcast, so the corpus never shuffles and scoring
    * fuses into its scan. */
  private def bruteScored(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val q = admitted(queries, "query_id", "q_emb", "q_norm")
    admitted(corpus, "neighbor_id", "c_emb", "c_norm")
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        cosine.cast("double").as("sim"))
  }

  /** Brute-force cosine top-k: for each row of `queries`, the k most similar
    * `corpus` rows (self-pairs excluded). A local top-k pass bounds the
    * ranking exchange. Output: (query_id, neighbor_id, rank, sim). */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(localTopK(bruteScored(corpus, queries), k), k)

  /** [[cosineTopK]] with the ranking done by the typed
    * [[graft.functions.TopKAggregator]] instead of localTopK+window:
    * identical output, but the k-bounding happens inside the engine's
    * two-phase aggregation (map-side partial buffers are already capped at
    * k), so there is no imperative partition loop and no ranking window at
    * all. Registered as its own query so the two implementations stay
    * oracle-checked against each other. */
  def cosineTopKAgg(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val topk = new graft.functions.TopKAggregator(k, ScoredPair.bestFirst).toColumn
    bruteScored(corpus, queries).as(Encoders.product[ScoredPair])
      .groupByKey(_.query_id)(Encoders.scalaLong)
      .agg(topk)
      .flatMap { case (qid, tops) =>
        tops.iterator.zipWithIndex.map { case (e, i) =>
          (qid, e.neighbor_id, i + 1, e.sim)
        }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaInt, Encoders.scalaDouble))
      .toDF("query_id", "neighbor_id", "rank", "sim")
  }

  /** Deterministic ±1 hyperplane coefficient for (plane, dim), derived from
    * md5 parity — reproducible anywhere (the DuckDB oracle inlines the same
    * values via [[planes]]). */
  private def planeCoef(plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane:$dim".getBytes("UTF-8"))
    if ((digest(0) & 1) == 1) 1.0 else -1.0
  }

  def planes(numPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until numPlanes).map(p => (0 until dim).map(d => planeCoef(p, d)))

  /** b-bit random-hyperplane signature of an embedding column. */
  private def lshSignature(emb: Column, planeSeq: Seq[Seq[Double]]): Column = {
    val bits = planeSeq.map { coefs =>
      val p = array(coefs.map(lit): _*)
      when(dot(emb, p) > 0.0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed self-join (only
    * same-signature pairs are scored — a plain equi-join on the bucket key,
    * no all-pairs pass), then exact cosine filters at `threshold`. The
    * corpus-scale analogue of MinHash near-dup for embedding columns. */
  def cosineNeardup(corpus: DataFrame, threshold: Double,
                    numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val ps = planes(numPlanes, dim)
    val base = admitted(corpus, "vec_id", "emb", "nrm")
      .withColumn("sig", lshSignature(col("emb"), ps))
    val a = base.select(col("vec_id").as("vec_a"), col("emb").as("a_emb"),
      col("nrm").as("a_nrm"), col("sig"))
    val b = base.select(col("vec_id").as("vec_b"), col("emb").as("b_emb"),
      col("nrm").as("b_nrm"), col("sig"))
    // corpus-sized signature self-join: pin the partitioned join (the
    // optimizer would auto-broadcast one corpus-sized side at test SF)
    a.hint("shuffle_hash").join(b, Seq("sig"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Deterministic ±1 coarse-quantizer centroids for IVF, md5-derived like
    * [[planes]] but from a disjoint seed family. */
  def ivfCentroids(numCentroids: Int, dim: Int): Seq[Seq[Double]] =
    (0 until numCentroids).map { c =>
      (0 until dim).map { d =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(s"ivf:$c:$d".getBytes("UTF-8"))
        if ((digest(0) & 1) == 1) 1.0 else -1.0
      }
    }

  /** IVF-style ANN: corpus rows are assigned to their argmax-similarity
    * centroid (the inverted-list key); each query probes its top-`nprobe`
    * centroids' lists only, then exact cosine re-ranks. Search cost scales
    * with nprobe/numCentroids of the corpus — the partition-pruning shape of
    * ANN, complementary to the LSH signature family. Assignment and probing
    * are pure expressions, the list lookup is an equi-join on centroid id. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numCentroids: Int = 16, dim: Int = 64,
              nprobe: Int = 2): DataFrame =
    rankTopK(scoredOn(ivfAssignCorpus(corpus, numCentroids, dim),
      ivfProbes(queries, numCentroids, dim, nprobe), "cid"), k)

  /** Dot scores of `emb` against each md5 coarse centroid, in centroid
    * order — the md5 quantizer's one scoring rule. */
  private def scores(emb: Column, cents: Seq[Seq[Double]]): Column =
    array(cents.map(cv => dot(emb, array(cv.map(lit): _*))): _*)

  /** `df` plus `cid`, the 1-based md5 list whose centroid scores highest
    * against `emb` (the first one on ties). */
  private def nearestMd5(df: DataFrame, emb: String,
                         cents: Seq[Seq[Double]]): DataFrame =
    df.withColumn("_s", scores(col(emb), cents))
      .withColumn("cid", array_position(col("_s"), array_max(col("_s"))))
      .drop("_s")

  /** The md5 probe set: each query row once per one of its top-`nprobe`
    * lists as `cid`, with the `keep` columns. A rank filter over the
    * exploded (centroid, score) pairs, ties broken by centroid index, so
    * every query gets exactly min(nprobe, numCentroids) probes (an
    * argmax-of-the-rest spelling degenerated to ONE probe when all scores
    * tied). The window partitions the tiny exploded QUERY side only
    * (|queries| x numCentroids rows), never the corpus. */
  private def md5Probes(q: DataFrame, keep: Seq[String], emb: String,
                        cents: Seq[Seq[Double]], nprobe: Int): DataFrame = {
    val kept = keep.map(col)
    q.select(kept :+ posexplode(scores(col(emb), cents)).as(Seq("_pos", "_sc")): _*)
      .withColumn("_pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("_sc").desc, col("_pos"))))
      .filter(col("_pr") <= nprobe)
      .select(kept :+ (col("_pos") + 1).cast("long").as("cid"): _*)
  }

  /** The corpus half of the IVF index: every vector assigned to its
    * nearest deterministic coarse centroid — (neighbor_id, c_emb, c_norm,
    * cid). This is the expensive corpus-sized pass; the serving pair
    * below amortizes it into one bucketed write. */
  private def ivfAssignCorpus(corpus: DataFrame, numCentroids: Int,
                              dim: Int): DataFrame =
    nearestMd5(admitted(corpus, "neighbor_id", "c_emb", "c_norm"), "c_emb",
      ivfCentroids(numCentroids, dim))

  /** Build-once half of the IVF serving pair (the vector sibling of
    * [[TextAnalysis.bm25WriteIndex]]): persist the assigned corpus as
    * inverted lists bucketed BY CENTROID — at query time the probed-list
    * equi-join on cid finds the corpus pre-clustered on disk, no
    * assignment scan and (against a co-bucketed frame) no shuffle. At
    * 100 TB the assignment pass over the corpus dominates every query
    * batch; one write amortizes it across all of them. */
  def ivfWriteIndex(corpus: DataFrame, prefix: String = "ivf",
                    numCentroids: Int = 16, dim: Int = 64,
                    buckets: Int = 16): Unit = {
    // a REBUILD must be idempotent across JVMs — see
    // Partitioning.dropManagedTable
    Partitioning.dropManagedTable(corpus.sparkSession, s"${prefix}_lists")
    Partitioning.dropManagedTable(corpus.sparkSession, s"${prefix}_meta")
    ivfAssignCorpus(corpus, numCentroids, dim)
      .write.mode("overwrite")
      .bucketBy(buckets, "cid").sortBy("cid")
      .saveAsTable(s"${prefix}_lists")
    // the quantizer geometry IS part of the index: a query probing with a
    // different centroid set would still cid-equi-join plausibly and
    // return silently wrong neighbors — persist it and assert at read.
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((numCentroids, dim, buckets)).toDF("num_centroids", "dim", "buckets")
      .write.mode("overwrite").saveAsTable(s"${prefix}_meta")
  }

  /** Query-many half: identical semantics to [[ivfTopK]] (same probe and
    * scoring core), but the inverted lists come from the persisted index
    * — zero corpus work at query time. */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                       queries: DataFrame, prefix: String = "ivf",
                       k: Int = 5, numCentroids: Int = 16, dim: Int = 64,
                       nprobe: Int = 2): DataFrame = {
    val meta = spark.table(s"${prefix}_meta").head()
    require(meta.getInt(0) == numCentroids && meta.getInt(1) == dim,
      s"index '$prefix' was built with numCentroids=${meta.getInt(0)}, " +
        s"dim=${meta.getInt(1)} but queried with numCentroids=$numCentroids, " +
        s"dim=$dim — probes would use a different quantizer than the lists")
    rankTopK(scoredOn(spark.table(s"${prefix}_lists"),
      ivfProbes(queries, numCentroids, dim, nprobe), "cid"), k)
  }

  /** Persisted TRAINED-quantizer IVF index (round-14 completion of the
    * trained family's scale story: per-query training in
    * [[ivfPqRerankTopKTrained]] is the demo shape — at 100 TB training
    * and the corpus assignment pass amortize into ONE index build, and
    * queries only probe). Persists three tables:
    * `{prefix}_cents` (the integer Lloyd centroids — the quantizer IS
    * part of the index, same argument as the md5 family's meta),
    * `{prefix}_lists` (raw-vector inverted lists bucketed by cid, each
    * vector SPILLED to its top-`assignTop` lists), and a 4-column
    * `{prefix}_meta` carrying (num_centroids, dim, buckets, assign_top).
    */
  def ivfWriteIndexTrained(corpus: DataFrame, prefix: String = "ivft",
                           numCentroids: Int = 64, dim: Int = 64,
                           buckets: Int = 16, iters: Int = 4,
                           assignTop: Int = 2): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq(s"${prefix}_lists", s"${prefix}_meta", s"${prefix}_cents")
      .foreach(Partitioning.dropManagedTable(spark, _))
    val centInts = ivfTrainCentroidsInt(corpus, numCentroids, iters)
    centInts.zipWithIndex
      .map { case (cv, i) => ((i + 1).toLong, cv) }
      .toDF("ccid", "cq")
      .write.mode("overwrite").saveAsTable(s"${prefix}_cents")
    trainedAssign(corpus, centInts, assignTop)
      .write.mode("overwrite")
      .bucketBy(buckets, "cid").sortBy("cid")
      .saveAsTable(s"${prefix}_lists")
    Seq((centInts.size, dim, buckets, assignTop))
      .toDF("num_centroids", "dim", "buckets", "assign_top")
      .write.mode("overwrite").saveAsTable(s"${prefix}_meta")
  }

  /** Query half: probe the top-`nprobe` persisted centroids by the same
    * norm-corrected score as assignment ([[trainedLists]]), exact-cosine
    * the probed lists, and collapse spill duplicates (a neighbor
    * reachable through two probed lists scores identically in both — the
    * dedup is over equal values). Zero corpus work at query time. */
  def ivfSearchIndexedTrained(spark: org.apache.spark.sql.SparkSession,
                              queries: DataFrame, prefix: String = "ivft",
                              k: Int = 5, nprobe: Int = 16): DataFrame = {
    val probes = trainedLists(centMatrix(persistedCents(spark, prefix)),
      nprobe)(admittedQuant(queries, "query_id", "q_emb", "q_norm"))
    rankTopK(scoredOn(spark.table(s"${prefix}_lists"), probes, "cid")
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("sim")).as("sim")), k)
  }

  /** The persisted quantizer, read back as driver-side integer centroids
    * (k×dim longs — tiny) in ccid order. */
  private def persistedCents(spark: org.apache.spark.sql.SparkSession,
                             prefix: String): Seq[Seq[Long]] =
    spark.table(s"${prefix}_cents").orderBy("ccid").collect()
      .map(_.getSeq[Long](1).toSeq).toSeq

  /** Integer centroids as one constant `array<array<bigint>>` column. */
  private def centMatrix(cents: Seq[Seq[Long]]): Column =
    array(cents.map(cv => array(cv.map(lit): _*)): _*)

  /** [[admitted]] plus the vector's normalized int8 form as `_qv`
    * ([[graft.functions.NormQuantVec]]): the domain the trained quantizer
    * ranks lists in and both IVF-PQ quantizers take residuals in. */
  private def admittedQuant(df: DataFrame, id: String, emb: String,
                            nrm: String): DataFrame =
    admitted(df, id, emb, nrm)
      .withColumn("_qv", graft.functions.NormQuantVec(col(emb), col(nrm)))

  /** Trained-centroid ranking, the one rule the trained IVF family assigns
    * and probes by: each row of an [[admittedQuant]] frame once per one of
    * its top-`n` lists as `cid` (1-based). Lists rank by norm-corrected
    * integer-dot score over `_qv`, ties to the lowest index, as one native
    * loop ([[graft.functions.TopCentroids]]): exact integers summed in
    * doubles (|qv·c| ≤ 127²·dim ≪ 2⁵³) over a driver-side norm, so every
    * engine ranks alike. Row-local: never a corpus-sized ranking window. */
  private def trainedLists(cents: Column, n: Int)(df: DataFrame): DataFrame =
    df.withColumn("cid",
      explode(graft.functions.TopCentroids(col("_qv"), cents, n)))

  /** Corpus assignment of the trained index build: every vector SPILLED to
    * its top-`assignTop` lists — (neighbor_id, c_emb, c_norm, cid). */
  private def trainedAssign(embs: DataFrame, centInts: Seq[Seq[Long]],
                            assignTop: Int): DataFrame = {
    require(centInts.nonEmpty, "no usable centroids")
    require(assignTop >= 1 && assignTop <= centInts.size,
      s"assignTop must be in [1, ${centInts.size}], got $assignTop")
    trainedLists(centMatrix(centInts), assignTop)(
        admittedQuant(embs, "neighbor_id", "c_emb", "c_norm"))
      .drop("_qv")
  }

  private def ivfProbes(queries: DataFrame, numCentroids: Int, dim: Int,
                        nprobe: Int): DataFrame =
    md5Probes(admitted(queries, "query_id", "q_emb", "q_norm"),
      Seq("query_id", "q_emb", "q_norm"), "q_emb",
      ivfCentroids(numCentroids, dim), nprobe)

  /** All `numPlanes`+1 multiprobe signatures of a query signature: the exact
    * bucket plus each single-bit flip. Probing adjacent buckets recovers most
    * of the recall single-bucket LSH loses for near-boundary vectors, at
    * (numPlanes+1)× candidate cost — still candidate-bounded, never all-pairs. */
  def probeSignatures(sig: Column, numPlanes: Int): Column = {
    val flips = (0 until numPlanes).map { j =>
      val bit = substring(sig, j + 1, 1)
      concat(substring(sig, 1, j),
        when(bit === "1", "0").otherwise("1"),
        substring(sig, j + 2, numPlanes - j - 1))
    }
    array(sig +: flips: _*)
  }

  /** Multiprobe variant of [[lshCosineTopK]]: queries probe their own bucket
    * plus every Hamming-distance-1 bucket. The probe explosion happens on the
    * (small, broadcast) query side only; the corpus is still touched once via
    * one equi-join on the signature. */
  def lshCosineTopKMultiprobe(corpus: DataFrame, queries: DataFrame, k: Int,
                              numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val ps = planes(numPlanes, dim)
    val q = admitted(queries, "query_id", "q_emb", "q_norm")
      .withColumn("sig",
        explode(probeSignatures(lshSignature(col("q_emb"), ps), numPlanes)))
    val c = admitted(corpus, "neighbor_id", "c_emb", "c_norm")
      .withColumn("sig", lshSignature(col("c_emb"), ps))
    // no pair dedup needed: a corpus row has exactly ONE signature and the
    // probe set (exact + single-bit flips) is pairwise distinct, so a
    // (query, neighbor) pair can match the equi-join at most once — a
    // dropDuplicates here would just add a full extra exchange
    rankTopK(scoredOn(c, q, "sig"), k)
  }

  /** LSH-bucketed cosine top-k: exact re-rank restricted to same-signature
    * candidates. Recall < 1 by construction (that's the trade), but fully
    * deterministic given the md5 plane family. */
  def lshCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val ps = planes(numPlanes, dim)
    val q = admitted(queries, "query_id", "q_emb", "q_norm")
      .withColumn("sig", lshSignature(col("q_emb"), ps))
    val c = admitted(corpus, "neighbor_id", "c_emb", "c_norm")
      .withColumn("sig", lshSignature(col("c_emb"), ps))
    rankTopK(scoredOn(c, q, "sig"), k)
  }

  /** Symmetric per-vector int8 scalar quantization — the standard 4×
    * footprint cut before an ANN index is built over a trillion-embedding
    * corpus. scale = max|v|/127; q_i = clamp(round(v_i/scale), ±127);
    * reports the quantized payload digest and the reconstruction RMSE so a
    * pipeline can gate on quantization loss.
    *
    * Entirely row-local (scan-fused, shuffle-free). Determinism notes:
    * round is spelled floor(x+0.5) because Spark's ROUND and DuckDB's
    * round() disagree on negative-half cases (HALF_UP vs half-away); the
    * error sum is a strict left-to-right fold matching the oracle's
    * sequential list_sum; float→double widening is exact in both engines. */
  /** Int8-quantized embedding vectors (same formula as [[quantizeInt8]],
    * kept as the ARRAY rather than a digest — the k-means ops below do
    * integer arithmetic on it, which is what makes them deterministic). */
  private def quantizedVecs(embs: DataFrame): DataFrame =
    // round 21: native one-loop abs-max quantization (the two transform
    // HOFs were CodegenFallback in the kmeans/semantic corpus scans);
    // arithmetic mirrored branch-exactly — see
    // [[graft.functions.AbsMaxQuantVec]]. The composed spelling is kept
    // below as the parity reference FunctionsSpec pins.
    embs.select(col("vec_id"),
      graft.functions.AbsMaxQuantVec(asDouble(col("embedding"))).as("qv"))

  /** Built-ins-only reference spelling of [[quantizedVecs]]' per-row
    * quantization — the byte-parity pin for
    * [[graft.functions.AbsMaxQuantVec]] (FunctionsSpec). */
  private[graft] def absMaxQuantComposed(emb: Column): Column = {
    val scale = array_max(transform(emb, x => abs(x))) / lit(127.0)
    when(scale === 0.0, transform(emb, _ => lit(0L)))
      .otherwise(transform(emb, x =>
        greatest(lit(-127L), least(lit(127L),
          floor(x / scale + lit(0.5)).cast("long")))))
  }

  /** One Lloyd assignment step of k-means over int8-quantized embeddings —
    * the coarse-quantizer training loop an IVF index build runs. Centroids
    * are the k lowest-id vectors (deterministic data-derived seeding);
    * distances are INTEGER squared-L2 over the quantized values, so the
    * argmin is bit-exact in any engine and under any partitioning (double
    * accumulation order can never flip a winner).
    *
    * Scale shape: the k centroids BROADCAST; scoring is a broadcast
    * nested-loop fused into the corpus scan; the argmin is a min(struct)
    * aggregation whose map-side partials collapse the N×k scored rows to one
    * row per vector before the shuffle. Nothing corpus-sized is exchanged
    * except the (vec_id, cid, dist2) result. */
  def kmeansAssign(embs: DataFrame, k: Int = 8): DataFrame = {
    val q = quantizedVecs(embs)
    assignToCentroids(q, q.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cq")))
  }

  /** Argmin assignment of every `q` row to its nearest centroid.
    *
    * The (dist2, centroid) argmin is ENCODED INTO ONE LONG —
    * dist2·2²⁴ + dense-centroid-index — so the aggregation is a plain
    * min(long) that Spark executes as a HashAggregate; a min(struct(...))
    * spelling forces SortAggregate (struct buffers aren't mutable in the
    * hash path), i.e. two extra per-round SORTS of the N×k scored rows.
    * Ties in dist2 break by centroid index, which is assigned in ascending
    * cid order — identical semantics to lexicographic (dist2, cid) min.
    * Bounds: index < 2²⁴ centroids; dist2·2²⁴ fits a long for any
    * dim·254² < 2³⁹ (dim ≲ 8.5M) — int8 vectors can't overflow it.
    *
    * The native codegen'd [[graft.functions.L2Squared]] (not
    * aggregate(zip_with(...))) keeps scoring inside whole-stage codegen:
    * HOFs are CodegenFallback and allocate an intermediate array per
    * (vector, centroid) pair — this sits in the N×k hot path. */
  /** Row-local argmin assignment against DRIVER-KNOWN centroids (round 20,
    * guide §2.4 — remove shuffles outright): the Lloyd loop collects each
    * round's k×dim centroids anyway, so the next round's assignment can
    * score against LITERAL centroid arrays instead of crossJoin-ing a
    * centroid frame and re-aggregating the N×k scored rows by vec_id —
    * `q` rows are unique per vec_id, making that groupBy(vec_id) exchange
    * pure waste. Distances are the same integer squared-L2
    * ([[graft.functions.L2Squared]]); ties break at the FIRST minimum
    * position = the lowest dense index in ascending-cid order — bit-for-bit
    * the encoded-min tie rule of [[assignToCentroids]]. Zero exchanges:
    * the argmin fuses into the corpus scan. */
  private def assignToCentroidsLocal(q: DataFrame,
                                     cents: Seq[(Long, Seq[Long])]): DataFrame = {
    if (cents.isEmpty)
      return q.select(col("vec_id"), lit(0L).as("cid"), lit(0L).as("dist2"),
        col("qv")).filter(lit(false))
    val sorted = cents.sortBy(_._1)
    val shift = 1L << 24
    // the assignToCentroids ENCODING (enc_i = l2sq_i·2²⁴ + i, min wins,
    // ties to the lowest dense index) as ONE native expression over a
    // constant centroid MATRIX ([[graft.functions.NearestCentroidEnc]]).
    // Both composed spellings measured ~1 s/round of per-round fixed cost
    // at k=64 — a k-array + array_min/array_position form re-inlined the k
    // l2sq calls at each of its three references under CollapseProject,
    // and a least(l2sq×k) form carries a k·dim-literal tree through
    // analysis and codegen every round. The encoded winner is PINNED as
    // an attribute (pinColumns — a Generate is a CollapseProject barrier)
    // before the cid/dist2 decode references it twice.
    val enc = graft.functions.NearestCentroidEnc(col("qv"),
      centMatrix(sorted.map(_._2)))
    val cidArr = array(sorted.map(c => lit(c._1)): _*)
    Links.pinColumns(q.select(col("vec_id"), col("qv"), enc.as("_enc")))
      .select(col("vec_id"),
        element_at(cidArr,
          (pmod(col("_enc"), lit(shift)) + 1).cast("int")).as("cid"),
        shiftright(col("_enc"), 24).as("dist2"),
        col("qv"))
  }

  /** One Lloyd round over driver-known centroids (round 20): row-local
    * argmin ([[assignToCentroidsLocal]]) then ONE k-row hash aggregation —
    * count + per-dimension integer sums as plain `sum(element_at(qv, i))`
    * columns (map-side combinable, dim+1 long buffers) — collected and
    * rounded on the driver with the exact arithmetic of the old in-plan
    * spelling (`floor(s.toDouble/n + 0.5).toLong` ≡
    * `floor(cast(s as double)/n + 0.5) :: long`). Replaces, per round:
    * a corpus groupBy(vec_id), a corpus self-join on vec_id, a posexplode
    * to N×dim rows and TWO more aggregations — the previous shape's four
    * exchanges become one, and each round is exactly one driver job.
    * Empty clusters drop (no row aggregates), same as before. */
  private def lloydRound(q: DataFrame, cents: Seq[(Long, Seq[Long])],
                         dim: Int): Seq[(Long, Seq[Long])] = {
    // dim == 0 (zero-length vectors): the aggregation list below would be
    // empty and aggs.head would throw. The old posexplode shape produced
    // no update rows — every cluster emptied out — so mirror that:
    // return no centroids and let the caller's cents.nonEmpty loop stop.
    if (dim == 0) return Nil
    val aggs = (0 until dim).flatMap { i =>
      Seq(sum(element_at(col("qv"), i + 1)).as(s"_s$i"),
        count(element_at(col("qv"), i + 1)).as(s"_n$i"))
    }
    val rows = assignToCentroidsLocal(q, cents)
      .groupBy("cid").agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      val cid = r.getLong(0)
      val cq = (0 until dim).map { i =>
        val s = r.getLong(1 + 2 * i)
        val n = r.getLong(2 + 2 * i)
        math.floor(s.toDouble / n + 0.5).toLong
      }
      (cid, cq)
    }.sortBy(_._1).toSeq
  }

  private def assignToCentroids(q: DataFrame, cents: DataFrame): DataFrame = {
    val shift = 1L << 24
    // k rows: the single-partition ordering window is over the tiny
    // centroid frame only, never the corpus
    val centsIdx = cents.withColumn("cidx",
      row_number().over(Window.orderBy("cid")).cast("long") - 1)
    val enc = graft.functions.L2Squared.l2sq(col("qv"), col("cq")) * shift +
      col("cidx")
    q.crossJoin(broadcast(centsIdx))
      .select(col("vec_id"), enc.as("enc"))
      .groupBy("vec_id")
      .agg(min(col("enc")).as("enc"))
      .select(col("vec_id"), pmod(col("enc"), lit(shift)).as("cidx"),
        shiftright(col("enc"), 24).as("dist2"))
      .join(broadcast(centsIdx.select(col("cidx"), col("cid"))), "cidx")
      .select(col("vec_id"), col("cid"), col("dist2"))
  }

  /** The matching Lloyd update step: per-(centroid, dimension) integer sums
    * and counts over the assigned vectors, plus the double mean (exact
    * integer sum ÷ count — deterministic). Output is k×dim rows (tiny).
    * Shape: one join on vec_id, posexplode, one hash agg on (cid, dim). */
  def kmeansUpdate(embs: DataFrame, k: Int = 8): DataFrame = {
    // ONE quantization pass shared between the assign and the update join
    // (kmeansAssign(embs, k) would rebuild quantizedVecs internally)
    val q = quantizedVecs(embs)
    val assigned = assignToCentroids(q, q.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cq")))
    assigned.select("vec_id", "cid")
      .join(q, "vec_id")
      .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy("cid", "dim")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_q"))
      .withColumn("mean_q", col("sum_q").cast("double") / col("n"))
      .select(col("cid"), col("dim"), col("n"), col("sum_q"), col("mean_q"))
  }

  /** Fixed-round Lloyd k-means over int8-quantized embeddings: `iters`
    * (assign → update) rounds, then a final assignment. Updated centroids
    * are ROUNDED BACK TO INTEGERS (floor(mean+0.5)), so every round's
    * distances stay integer squared-L2 — the whole loop is bit-exact under
    * any partitioning and cluster size, which is what lets a 100 TB
    * clustering job be resumed, re-run, and oracle-verified to the bit.
    * A fixed iteration count (not a convergence test) keeps the round
    * count engine-independent; clusters that lose all members drop out
    * (their id simply stops appearing).
    *
    * Scale shape per round: same as [[kmeansAssign]]/[[kmeansUpdate]] —
    * k broadcast centroids, map-side-collapsed argmin, one k×dim-row
    * update agg. The round's k×dim centroid result is COLLECTED to the
    * driver and re-injected as a LocalRelation (the MLlib KMeans loop
    * shape): centroids are k×dim longs regardless of corpus size, so the
    * collect is driver-tiny at any scale, and it makes each Lloyd round
    * exactly ONE driver-synchronized job — the next round's two broadcast
    * exchanges build from the local relation with no extra Spark jobs, and
    * there are no per-round checkpoint blocks to manage. (The previous
    * per-round localCheckpoint + 2 broadcast-build jobs tripled the
    * round's scheduler synchronizations; under co-tenant load that showed
    * up as 3.68 s driver vs 1.79 s steady in round 8.) */
  def kmeansIter(embs: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val q = quantizedVecs(embs).localCheckpoint()
    // round 20: driver-seeded one-job Lloyd rounds (see
    // ivfTrainCentroidsInt) — the final assignment is row-local too, so
    // the whole query is `iters`+2 tiny jobs with one exchange each where
    // the previous shape paid four exchanges per round.
    var cents: Seq[(Long, Seq[Long])] = q.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    var i = 0
    while (i < iters && cents.nonEmpty) {
      cents = lloydRound(q, cents, dim)
      i += 1
    }
    assignToCentroidsLocal(q, cents).select("vec_id", "cid", "dist2")
  }

  /** SemDeDup — semantic deduplication by clustering then within-cluster
    * cosine pruning (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023). The insight: exact
    * and fuzzy text dedup miss SEMANTIC duplicates (paraphrases, format
    * variants), but corpus-wide pairwise cosine is O(N²). Clustering first
    * bounds the quadratic term to within-cluster pairs — the paper prunes
    * inside k-means clusters of the embedding space, which is where near
    * duplicates land by construction.
    *
    * Composition here: [[kmeansAssign]]'s deterministic integer Lloyd
    * assignment (raw-int8 domain, k lowest-id seeds) buckets the corpus;
    * within each cluster, every (lower-id, higher-id) pair is scored by
    * integer dot product over the NORMALIZED int8 vectors (127²·cosine —
    * the [[normalizedQuantVecs]] domain, so the threshold is a cosine
    * threshold and the arithmetic is bit-exact in any engine: int products
    * ≤ 127²·dim ≪ 2⁵³ stay exact in double). A vector is dropped when ANY
    * lower-id vector in its cluster clears `tau` — first-occurrence-wins,
    * the same convention as every dedup operator in this library.
    *
    * Scale shape: the cluster assignment is [[kmeansAssign]]'s broadcast
    * argmin (nothing corpus-sized shuffles except the assignment rows);
    * the pairwise stage is an EQUI-JOIN on cid — never a corpus cross
    * join — so its cost is Σ|cluster|², the quantity the paper's k
    * controls. At 100 TB, k grows with N (k ≈ N/target-cluster-size,
    * e.g. 10⁵ clusters for 10¹⁰ docs) holding per-cluster pair counts
    * flat and the cid key cardinality high enough to partition evenly;
    * the demo k=8 mirrors the oracle-checkable kmeans family. A skewed
    * hot cluster is the operator's known failure mode (the paper
    * re-clusters oversized clusters; [[Partitioning.saltedJoin]]-style
    * salting does NOT apply — the pair predicate needs all members
    * co-located). The pairwise stage therefore hash-splits every
    * cluster into ≤[[SemanticChunk]]-row sub-chunks and shards the join
    * across chunk PAIRS (see [[semanticVerdicts]]) — identical verdicts,
    * bounded per-task pair counts.
    */
  def semanticDedup(embs: DataFrame, k: Int = 8,
                    tau: Double = 0.35,
                    chunk: Int = SemanticChunk): DataFrame = {
    // checkpoint: the verdict stage reads this frame four times (cluster
    // sizes, both join sides, the keep-verdict spine) — materialize the
    // quantize+assign pipeline once instead of per-consumer. Released by
    // the caller's scope (bench leak fence / test session teardown).
    val withVec = semanticWithVec(embs, semanticCentroids(embs, k))
      .localCheckpoint()
    semanticVerdicts(withVec, semanticMinDot(tau), chunk)
  }

  // 127²·tau, ceil'd: an integer bar in the normalized-int8 dot domain
  private def semanticMinDot(tau: Double): Long =
    math.ceil(tau * 127L * 127L).toLong

  /** The k-lowest-id integer centroids [[semanticDedup]] seeds with. */
  private def semanticCentroids(embs: DataFrame, k: Int): DataFrame = {
    val q = quantizedVecs(embs)
    q.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cq"))
  }

  // (cid, vec_id, nv): cluster assignment + normalized-int8 vector (as
  // exact doubles) — the row shape the pairwise stage reads
  private def semanticWithVec(embs: DataFrame, cents: DataFrame): DataFrame =
    assignToCentroids(quantizedVecs(embs), cents)
      .select(col("vec_id"), col("cid"))
      .join(normalizedQuantVecs(embs), "vec_id")
      .select(col("cid"), col("vec_id"), col("qv").cast("array<double>").as("nv"))

  /** Rows per pairwise-stage chunk: a hot cluster's within-cluster join
    * is sharded into chunk×chunk-bounded tasks (≤64M dot products each),
    * so one oversized cluster can no longer pin the whole stage on a
    * single reducer. At bench scale every cluster fits one chunk and the
    * plan degenerates to the plain cid equi-join (plus a k-row size agg). */
  private val SemanticChunk = 8192

  // verdicts for every withVec vector: dropped iff ANY vector with a
  // lower id in the same cluster clears minDot.
  //
  // Hot-cluster guard: the known failure mode of SemDeDup at scale is one
  // skewed cluster whose Σn² pairwise work lands on a single cid reducer
  // (salting does not apply — the pair predicate needs cluster members
  // co-located). Instead each cluster is hash-split into m = ceil(n/chunk)
  // deterministic sub-chunks and each side is replicated across the OTHER
  // side's chunk axis, so task key (cid, lc, hc) holds exactly lo-chunk
  // lc × hi-chunk hc: every unordered pair lands in exactly one task,
  // every task is bounded by chunk² pairs, and the m-way replication
  // shuffles O(n·m) = O(pairs/chunk) rows — strictly dominated by the
  // O(pairs) dot-product work the stage does anyway. Verdicts are
  // bit-identical to the unchunked join (SimilaritySpec parity at chunk=4).
  private def semanticVerdicts(withVec: DataFrame, minDot: Long,
                               chunk: Int = SemanticChunk): DataFrame = {
    // k rows (cid → m); Catalyst prunes nv out of this count-only subtree
    val sizes = withVec.groupBy("cid")
      .agg(ceil(count(lit(1)) / lit(chunk.toDouble)).cast("int").as("m"))
    val chunkOf = pmod(xxhash64(col("vec_id")), col("m")).cast("int")
    val lo = withVec.join(broadcast(sizes), "cid")
      .select(col("cid"), chunkOf.as("lc"),
        explode(sequence(lit(0), col("m") - 1)).as("hc"),
        col("vec_id").as("lo_id"), col("nv").as("lo_nv"))
    val hi = withVec.join(broadcast(sizes), "cid")
      .select(col("cid"), chunkOf.as("hc"),
        explode(sequence(lit(0), col("m") - 1)).as("lc"),
        col("vec_id").as("hi_id"), col("nv").as("hi_nv"))
    // equi-join on (cid, chunk pair) + id-order predicate: each unordered
    // pair scored once
    val dots = lo.join(hi, Seq("cid", "lc", "hc"))
      .filter(col("lo_id") < col("hi_id"))
      .select(col("hi_id"),
        dot(col("lo_nv"), col("hi_nv")).cast("long").as("dt"))
      .filter(col("dt") >= minDot)
      .groupBy("hi_id")
      .agg(count(lit(1)).as("n_sim"), max(col("dt")).as("max_dot"))
    val assigned = withVec.select(col("vec_id"), col("cid"))
    assigned.join(dots, assigned("vec_id") === dots("hi_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(col("n_sim"), lit(0L)).cast("long").as("n_sim_lower"),
        coalesce(col("max_dot"), lit(0L)).cast("long").as("max_dot_lower"),
        col("n_sim").isNull.as("keep"))
  }

  /** Embedding-space outlier scoring — the data-PRUNING cousin of
    * [[semanticDedup]] (prototype-distance metrics in the SSL-prototypes /
    * DataComp tradition): every vector's integer squared-L2 distance to
    * its cluster prototype, z-scored against its own cluster's distance
    * distribution. Far-from-every-prototype vectors are mislabeled junk,
    * OCR garbage, or genuinely novel content — either way the tail a
    * curation pipeline inspects or drops first. Dedup removes the
    * too-similar; this flags the too-strange.
    *
    * Determinism: distances are integers ([[kmeansAssign]]'s contract);
    * per-cluster moments are EXACT decimal sums of integers cast to
    * double once (correctly-rounded in any engine), so mean/std — and
    * every flag — are bit-identical across engines and partitionings.
    * Scale shape: one broadcast-argmin assignment + one k-row stats agg
    * broadcast back; nothing corpus-sized shuffles except the
    * assignment rows. */
  def embeddingOutliers(embs: DataFrame, k: Int = 8,
                        zThresh: Double = 2.0): DataFrame =
    // the existing assignment operator IS this op's first stage — one
    // composition, so a future seeding/encoding change can't diverge
    outliersFromAssign(kmeansAssign(embs, k), zThresh)

  private def outliersFromAssign(asg: DataFrame, zThresh: Double): DataFrame = {
    // square in DECIMAL, not long: dist2 reaches dim·254², so a long
    // product wraps silently past dim ≈ 47k (inside assignToCentroids'
    // documented dim ≲ 8.5M envelope) while the oracle's engine errors —
    // the worst kind of asymmetry. (19,0)×(19,0) → (38,0) is exact.
    val d2 = col("dist2").cast("decimal(19,0)")
    val stats = asg.groupBy("cid").agg(
      count(lit(1)).as("n"),
      sum(col("dist2").cast("decimal(28,0)")).cast("double").as("s1"),
      sum(d2 * d2).cast("double").as("s2"))
    val mean = col("s1") / col("n")
    val std  = sqrt(greatest(col("s2") / col("n") - mean * mean, lit(0.0)))
    asg.join(broadcast(stats), "cid")
      .select(col("vec_id"), col("cid"), col("dist2"),
        mean.as("mean_d2"), std.as("std_d2"),
        (col("dist2").cast("double") > mean + lit(zThresh) * std).as("is_outlier"))
  }

  /** [[semanticDedup]] verdicts and [[embeddingOutliers]] flags derived
    * from ONE shared quantize + broadcast-argmin assignment pass — the
    * composition a curation pipeline runs (drop the too-similar AND the
    * too-strange in one read of the embeddings). Called separately, each
    * operator builds its own identical assignment subtree and the N×k
    * scoring executes twice; sharing the frame makes the two subtrees
    * literally identical, so Spark's ReuseExchange computes the
    * assignment aggregation once per query. Results are bit-identical to
    * the standalone operators (OpsSpec asserts both). */
  def semanticCurate(embs: DataFrame, k: Int = 8, tau: Double = 0.35,
                     zThresh: Double = 2.0): (DataFrame, DataFrame) = {
    val q = quantizedVecs(embs)
    val asg = assignToCentroids(q, q.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cq")))
    val withVec = asg.select(col("vec_id"), col("cid"))
      .join(normalizedQuantVecs(embs), "vec_id")
      .select(col("cid"), col("vec_id"), col("qv").cast("array<double>").as("nv"))
      .localCheckpoint() // four verdict-stage consumers — see semanticDedup
    (semanticVerdicts(withVec, semanticMinDot(tau)),
      outliersFromAssign(asg, zThresh))
  }

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring — the
    * codebook compression that makes billion-vector search feasible
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI'11). Each int8-quantized vector splits into `m` subvectors;
    * each subspace learns a k-centroid codebook (ONE integer Lloyd round,
    * seeded by the k lowest-id vectors — the [[kmeansIter]] determinism
    * contract, so codebooks/codes/rankings are bit-exact across engines
    * and partitionings); the corpus is stored as m small codes per vector.
    * A query computes exact distances to all k×m codebook cells ONCE (a
    * tiny lookup table, broadcast), and scoring a corpus vector is m
    * lookup-adds over its codes — no full-vector arithmetic in the hot
    * loop. At scale the codes table is ~dim/m× smaller than the vectors
    * and the scan is memory-bandwidth-shaped; this composes with
    * [[ivfTopK]]'s inverted lists (IVF-PQ) by restricting `codes` to the
    * probed lists. Complements brute (exact), LSH/multiprobe (bucketed),
    * IVF (partition-pruned): the compressed-domain family member.
    *
    * Shared-id-space assumption (family-wide, like every sibling top-k
    * operator here): `query_id` and `vec_id` are drawn from ONE id space,
    * and a pair with `query_id == vec_id` is treated as a self-match and
    * excluded. If the query set is EXTERNAL to the corpus, an id collision
    * silently drops one legitimate neighbor — re-key external queries
    * (e.g. negate or offset their ids) before calling.
    */
  def pqTopK(embs: DataFrame, queries: DataFrame, m: Int = 4, k: Int = 4,
             topK: Int = 5, dim: Int = 64): DataFrame = {
    val (codes, lut, release) = pqIndex(embs, queries, m, k, dim)
    // compressed-domain scan: m lookup-adds per corpus vector per query,
    // map-side partial sums collapse before the (query_id, vec_id) exchange.
    // Self-pairs excluded like every sibling top-k operator — queries drawn
    // from the corpus would otherwise burn rank 1 on themselves (adc 0)
    // and depress recall@k comparisons by one slot.
    val scored = codes.join(broadcast(lut), Seq("sub", "cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_dist2"))
    finishPq(scored, topK, release)
  }

  /** IVF-PQ with RESIDUAL encoding (Jégou et al. §IV — the FAISS IVFADC
    * recipe): [[ivfTopK]]'s coarse inverted lists restrict WHICH vectors
    * are scored; PQ codes+ADC decide HOW — but each vector's codes
    * quantize its RESIDUAL against its own coarse centroid, not the raw
    * vector. Residuals stay integer (normalized-int8 corpus minus the
    * int8-scaled ±1/√dim centroid, components within ±143), so the whole
    * composition keeps the bit-exact determinism contract and the DuckDB
    * oracle replays it end to end.
    *
    * Codebooks are PER COARSE LIST (the local-codebook IVFPQ variant),
    * not pooled. Measured reason: this corpus's coarse centroids explain
    * only ~22% of vector energy (isotropic embeddings), so residuals keep
    * most of the −centroid component and a POOLED codebook spends all its
    * cells separating the numCentroids list-clusters instead of encoding
    * within-list variation — recall@5 collapsed to 0.025 vs raw PQ's
    * 0.325. Within one list the centroid term is constant, so per-list
    * cells encode actual variation: recall@5 recovers to 0.15 (nprobe=2)
    * / 0.325 (nprobe=8) at the same m and k. Codebook count scales as
    * numCentroids×m (broadcast-tiny; cells are k per book max).
    *
    * Asymmetric distance on the query side: each (query, probed list)
    * pair gets its OWN lookup table over the query's residual vs that
    * list's centroid and that list's codebook — k×m×nprobe tiny rows per
    * query, broadcast. Codes outside probed lists match no LUT row and
    * never reach the aggregation — at scale only ~nprobe/numCentroids of
    * the codes table survives the join. The chain itself is
    * [[residualPqTerms]], shared with the trained quantizer; this path
    * assigns each vector to its one nearest md5 list ([[nearestMd5]]) and
    * probes [[md5Probes]]. */
  def ivfPqTopK(embs: DataFrame, queries: DataFrame, m: Int = 4, k: Int = 16,
                topK: Int = 5, dim: Int = 64,
                numCentroids: Int = 16, nprobe: Int = 2): DataFrame = {
    val coarse = ivfCentroids(numCentroids, dim)
    // the coarse centroids expressed in the normalized-int8 domain:
    // unit-normalizing a ±1 vector gives ±1/√dim components, which
    // quantize at scale 127 to ±round(127/√dim) — exact integers
    val cs = math.floor(127.0 / math.sqrt(dim.toDouble) + 0.5).toLong
    val (terms, release) = residualPqTerms(embs, queries,
      centMatrix(coarse.map(_.map(v => if (v > 0) cs else -cs))),
      m, k, dim, perVec = 1,
      nearestMd5(_, "_emb", coarse),
      md5Probes(_, Seq("query_id", "_qv"), "_emb", coarse, nprobe))
    finishPq(terms.groupBy("query_id", "vec_id")
      .agg(sum(col("d2")).as("adc_dist2")), topK, release)
  }

  /** IVF-PQ with exact re-ranking — the FAISS "refine" recipe (Jégou §VII):
    * the compressed-domain ADC chain picks a SHORTLIST of `shortlist`
    * candidates per query (cheap, scans only probed lists' codes), then the
    * final ranking re-scores exactly those (query, candidate) pairs with
    * exact cosine over the RAW embeddings, fixing the ordering errors ADC's
    * quantization introduces. Recall ceiling = the shortlist's coverage of
    * the true top-k (what nprobe/shortlist control); within that ceiling
    * the ranking is exact.
    *
    * Scale shape: the shortlist is |Q|·shortlist rows — broadcast it, so
    * the exact pass is ONE corpus scan restricted by a broadcast hash join
    * (never a corpus shuffle), plus a broadcast of the |Q| query vectors.
    * Per-query candidate identity rides the shortlist pairs, so a vector
    * shortlisted for query A is never rescored for query B. */
  def ivfPqRerankTopK(embs: DataFrame, queries: DataFrame, m: Int = 4,
                      k: Int = 16, topK: Int = 5, dim: Int = 64,
                      numCentroids: Int = 16, nprobe: Int = 2,
                      shortlist: Int = 20): DataFrame = {
    val short = ivfPqTopK(embs, queries, m, k, shortlist, dim,
        numCentroids, nprobe)
      .select(col("query_id"), col("vec_id"))
    rerankExact(embs, queries, short, topK)
  }

  /** TRAINED coarse quantizer for the IVF family (round-13 directive):
    * integer Lloyd k-means over the normalized-int8 domain
    * ([[normalizedQuantVecs]], zero-norm rows excluded), k lowest-id
    * seeds, `iters` fixed rounds, final integer centroids COLLECTED to
    * the driver (k×dim longs — tiny at any corpus size, the kmeansIter
    * loop shape). The md5 ±1 quantizer ([[ivfCentroids]]) ignores the
    * data, so on weakly-clustered embeddings its list-coverage recall
    * ceiling at 50% probe coverage measured only ~0.85; trained
    * centroids concentrate each query's true neighbors into its top
    * lists (measured ceilings ≥ 0.93 at 25% coverage — DESIGN.md §3.4).
    * Zero centroids (a cluster whose integer mean rounds to all-0) are
    * dropped: they cannot be cosine-scored. Deterministic end to end —
    * integer distances, integer means, fixed rounds — so the DuckDB
    * oracle replays training bit-exact. */
  def ivfTrainCentroidsInt(corpus: DataFrame, numCentroids: Int = 64,
                           iters: Int = 4): Seq[Seq[Long]] = {
    val q = normalizedQuantVecs(corpus)
      .filter(exists(col("qv"), _ =!= 0L))
      .localCheckpoint()
    // round 20 (guide §2.4/§1.2-1): the loop already round-trips the k×dim
    // centroids through the driver, so seed them there too and run each
    // Lloyd round as ONE job — row-local argmin against literal centroids
    // + a single k-row hash agg (lloydRound) — instead of the previous
    // four-exchange chain (corpus groupBy(vec_id) + self-join on vec_id +
    // N×dim posexplode + two aggs). Bit-identical by construction: same
    // integer distances, same first-min tie rule, same rounding
    // arithmetic; SimilaritySpec pins the oracle parity.
    var cents: Seq[(Long, Seq[Long])] = q.orderBy("vec_id")
      .limit(numCentroids).select(col("vec_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    var i = 0
    while (i < iters && cents.nonEmpty) {
      cents = lloydRound(q, cents, dim)
      i += 1
    }
    val out = cents.sortBy(_._1).map(_._2).filter(_.exists(_ != 0L))
    Dedup.releaseCheckpoint(q)
    out
  }

  /** IVF-PQ over the TRAINED quantizer, with SPILL ASSIGNMENT: each
    * corpus vector joins its top-`assignTop` lists (not just the argmax
    * one — the IVF replication trade: `assignTop`× index size buys back
    * the boundary-vector recall single assignment loses; FAISS calls
    * this multiple-assignment). Scoring/probing use the norm-corrected
    * integer dot — dot(qv, c)/‖c‖ over exact integers, so the argmax is
    * engine-deterministic — and the residual-PQ chain is the
    * [[ivfPqTopK]] machinery against the trained integer centroids. A
    * vector reachable through two probed lists is scored per list and
    * keeps its MIN ADC distance (each list has its own codebooks, so the
    * sums aren't poolable). `numCentroids` here is the TRAINING k; at
    * 100 TB it grows ~√N and the centroid-literal expressions give way
    * to the persisted-index path (ivfWriteIndex), same as the md5
    * family. */
  def ivfPqTopKTrained(embs: DataFrame, queries: DataFrame, m: Int = 32,
                       k: Int = 32, topK: Int = 5, dim: Int = 64,
                       numCentroids: Int = 64, nprobe: Int = 16,
                       assignTop: Int = 2, iters: Int = 4): DataFrame =
    ivfPqTopKWithCents(embs, queries,
      ivfTrainCentroidsInt(embs, numCentroids, iters), m, k, topK, dim,
      nprobe, assignTop)

  /** [[ivfPqRerankTopK]]'s exact-rerank refine over the trained spill
    * chain — the round-13 recall serving point (numCentroids=64,
    * nprobe=16 → 25% list coverage, assignTop=2, shortlist=40): recall@5
    * ≥ 0.9 at FRACTIONAL coverage, where the md5 quantizer needed an
    * exhaustive probe (nprobe=16 of 16) for its 1.00. */
  def ivfPqRerankTopKTrained(embs: DataFrame, queries: DataFrame,
                             m: Int = 32, k: Int = 32, topK: Int = 5,
                             dim: Int = 64, numCentroids: Int = 64,
                             nprobe: Int = 16, shortlist: Int = 40,
                             assignTop: Int = 2, iters: Int = 4): DataFrame = {
    val short = ivfPqTopKTrained(embs, queries, m, k, shortlist, dim,
        numCentroids, nprobe, assignTop, iters)
      .select(col("query_id"), col("vec_id"))
    rerankExact(embs, queries, short, topK)
  }

  /** The exact-cosine re-rank shared by the md5 and trained refine paths:
    * one corpus scan restricted by the broadcast shortlist. */
  private def rerankExact(embs: DataFrame, queries: DataFrame,
                          short: DataFrame, topK: Int): DataFrame = {
    val rescored = admitted(embs, "vec_id", "c_emb", "c_norm")
      .join(broadcast(short), Seq("vec_id"))
      .join(broadcast(admitted(queries, "query_id", "q_emb", "q_norm")),
        Seq("query_id"))
      .select(col("query_id"), col("vec_id"), cosine.as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    rescored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** The trained-quantizer IVF-PQ core: [[ivfPqTopK]]'s residual chain
    * over caller-supplied integer centroids, with spill assignment
    * ([[trainedLists]]' ranking) and per-list min-ADC dedup. */
  private def ivfPqTopKWithCents(embs: DataFrame, queries: DataFrame,
                                 centInts: Seq[Seq[Long]], m: Int, k: Int,
                                 topK: Int, dim: Int, nprobe: Int,
                                 assignTop: Int): DataFrame = {
    require(centInts.nonEmpty, "trained quantizer produced no usable centroids")
    require(assignTop >= 1 && assignTop <= centInts.size,
      s"assignTop must be in [1, ${centInts.size}], got $assignTop")
    val cents = centMatrix(centInts)
    val (terms, release) = residualPqTerms(embs, queries, cents, m, k, dim,
      perVec = assignTop, trainedLists(cents, assignTop),
      trainedLists(cents, nprobe))
    // spill dedup: a vector reachable through two probed lists is scored
    // once per list; keep the MIN full-m ADC sum (per-list codebooks make
    // the per-list sums incomparable to pool any other way)
    finishPq(terms.groupBy("query_id", "vec_id", "ccid")
      .agg(sum(col("d2")).as("_adc1"))
      .groupBy("query_id", "vec_id")
      .agg(min(col("_adc1")).as("adc_dist2")), topK, release)
  }

  /** The residual-PQ chain both IVF-PQ quantizers share, from residual
    * frames to ADC terms (Jégou et al. §IV; per-list codebooks, see
    * [[ivfPqTopK]]). Corpus and query rows are admitted and quantized by
    * [[admittedQuant]] (`_qv`, beside the raw `_emb`); `assign` gives each
    * corpus row its coarse lists as `cid` — exactly `perVec` per vector —
    * and `probe` each query row its probed lists. Every (vector, list) row
    * becomes its residual against that list's row of `cents`; the corpus
    * residuals are checkpointed (ONE corpus pass).
    *
    * Seeds are the k lowest-id vectors' normalized qv, rebuilt from any of
    * their residual rows (qv + cent(ccid) is exact and list-independent,
    * so the min() is a dedup over equal values) and residualized against
    * EVERY list by a cross join with the list-count rows. The k lowest ids
    * lie within the k·perVec lowest-id rows, so the dedup runs over
    * k·perVec rows: no per-list rank window and no aggregation over the
    * corpus.
    *
    * Returns the (query, vector, list, subspace) ADC terms — corpus codes
    * joined to the per-(query, probed list) lookup table, self-pairs
    * dropped; the (ccid, sub, cid) equi-join is the IVF restriction and
    * the ADC lookup in one — and the release of the corpus and codebook
    * checkpoints. */
  private def residualPqTerms(embs: DataFrame, queries: DataFrame,
                              cents: Column, m: Int, k: Int, dim: Int,
                              perVec: Int, assign: DataFrame => DataFrame,
                              probe: DataFrame => DataFrame
                             ): (DataFrame, () => Unit) = {
    require(dim % m == 0, "dim must divide into m equal subvectors")
    val subLen = dim / m
    def centOf(ccid: Column): Column = element_at(cents, ccid.cast("int"))
    def residuals(df: DataFrame, id: String,
                  lists: DataFrame => DataFrame): DataFrame =
      lists(admittedQuant(df, id, "_emb", "_nrm"))
        .select(col(id), col("cid").as("ccid"),
          graft.functions.VecAddSub.sub(col("_qv"), centOf(col("cid"))).as("qv"))
    val rcorpus = residuals(embs, "vec_id", assign).localCheckpoint()
    val qprobe = residuals(queries, "query_id", probe)

    val subs = subspacesOf(rcorpus, Seq(col("vec_id"), col("ccid")), m, subLen)
    val centDf = rcorpus.sparkSession.range(0, 1, 1, 1)
      .select(posexplode(cents).as(Seq("_p", "carr")))
      .select((col("_p") + 1).cast("long").as("bccid"), col("carr"))
    val seedBase = rcorpus.orderBy("vec_id").limit(k * perVec)
      .select(col("vec_id"),
        graft.functions.VecAddSub.add(col("qv"), centOf(col("ccid"))).as("nqv"))
      .groupBy("vec_id").agg(min(col("nqv")).as("nqv"))
      .orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("nqv"))
    val seeds = subspacesOf(
      seedBase.crossJoin(centDf)
        .select(col("cid"), col("bccid").as("ccid"),
          graft.functions.VecAddSub.sub(col("nqv"), col("carr")).as("qv")),
      Seq(col("ccid"), col("cid")), m, subLen)
      .select(col("ccid"), col("sub"), col("cid"), col("sv").as("cq"))
    val books = pqTrainBooks(subs, seeds,
      Seq("vec_id", "ccid"), Seq("ccid", "sub"))
    val codes = pqEncode(subs, books, Seq("vec_id", "ccid"), Seq("ccid", "sub"))
    val lut = subspacesOf(qprobe, Seq(col("query_id"), col("ccid")), m, subLen)
      .join(broadcast(books), Seq("ccid", "sub"))
      .select(col("query_id"), col("ccid"), col("sub"), col("cid"),
        graft.functions.L2Squared.l2sq(col("sv"), col("cq")).as("d2"))
    val terms = codes.join(broadcast(lut), Seq("ccid", "sub", "cid"))
      .filter(col("query_id") =!= col("vec_id"))
    (terms, () => Seq(rcorpus, books).foreach(Dedup.releaseCheckpoint))
  }

  private def finishPq(scored: DataFrame, topK: Int,
                       release: () => Unit): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist2"), col("vec_id"))
    val result = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id"),
        col("adc_dist2").cast("long").as("adc_dist2"), col("rank"))
      // managed lifecycle (Dedup.materializeThenRelease pattern): the
      // quantized-corpus checkpoint is corpus-sized — materialize the tiny
      // top-k result eagerly, then release corpus + codebook blocks
      .localCheckpoint()
    release()
    result
  }

  /** Explode an (keys..., qv) frame into per-subspace rows
    * (keys..., sub, sv) — SUBSPACE AS DATA, not a Scala loop: one frame
    * carries all m subspaces, so a PQ pipeline is ~3 eager actions
    * (corpus quantization, codebooks, result) instead of ~3·m — per-job
    * overhead is the entire cost of these ops below cluster scale. */
  private def subspacesOf(df: DataFrame, keyCols: Seq[Column], m: Int,
                          subLen: Int): DataFrame =
    df.select(keyCols :+ posexplode(array((0 until m).map(i =>
      slice(col("qv"), i * subLen + 1, subLen)): _*)).as(Seq("sub", "sv")): _*)

  /** Encoded-long argmin per (vecKeys, subspace) against a tiny broadcast
    * codebook frame keyed by `bookKeys` — (sub, cid, cq) for one shared
    * codebook per subspace, (ccid, sub, cid, cq) for per-coarse-list
    * codebooks. assignToCentroids' trick with the book key added to every
    * group (ties break by dense index in ascending cid order, the
    * cross-engine contract). `vecKeys` must contain every non-`sub`
    * book key so the cell lookup joins unambiguously. */
  private def pqEncode(side: DataFrame, books: DataFrame,
                       vecKeys: Seq[String],
                       bookKeys: Seq[String] = Seq("sub")): DataFrame = {
    val shift = 1L << 24
    val idx = books.withColumn("cidx",
      row_number().over(
        Window.partitionBy(bookKeys.map(col): _*).orderBy("cid")).cast("long") - 1)
    val enc = graft.functions.L2Squared.l2sq(col("sv"), col("cq")) * shift +
      col("cidx")
    val keys = (vecKeys :+ "sub").map(col)
    side.join(broadcast(idx), bookKeys)
      .select(keys :+ enc.as("enc"): _*)
      .groupBy(keys: _*)
      .agg(min(col("enc")).as("enc"))
      .select(keys :+ pmod(col("enc"), lit(shift)).as("cidx"): _*)
      .join(broadcast(idx.select((bookKeys :+ "cidx" :+ "cid").map(col): _*)),
        bookKeys :+ "cidx")
      .select(keys :+ col("cid"): _*)
  }

  /** One integer Lloyd round over every (book key, subspace) in one plan:
    * assign each (vector, subspace) to its seed cell, integer-mean the
    * members (floor(mean+0.5)), rebuild the (bookKeys, cid, cq) codebooks.
    * Cells that capture no member drop out (the kmeansIter contract).
    * Eagerly checkpointed; the caller releases via
    * [[Dedup.releaseCheckpoint]]. */
  private def pqTrainBooks(subs: DataFrame, seeds: DataFrame,
                           vecKeys: Seq[String] = Seq("vec_id"),
                           bookKeys: Seq[String] = Seq("sub")): DataFrame = {
    val rounded = floor(col("s").cast("double") / col("n") + lit(0.5)).cast("long")
    val bk = bookKeys.map(col)
    pqEncode(subs, seeds, vecKeys, bookKeys)
      .join(subs.select((vecKeys :+ "sub" :+ "sv").map(col): _*),
        vecKeys :+ "sub")
      .select(bk :+ col("cid") :+ posexplode(col("sv")).as(Seq("dim", "v")): _*)
      .groupBy(bk :+ col("cid") :+ col("dim"): _*)
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(bk :+ col("cid") :+ col("dim") :+ rounded.as("rv"): _*)
      .groupBy(bk :+ col("cid"): _*)
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("rv")))),
        x => x("rv")).as("cq"))
      .localCheckpoint()
  }

  /** Raw-vector PQ index build: (codes, lut, release). `codes` is the
    * compressed corpus — (vec_id, sub, cid), m rows per vector; `lut` the
    * per-query ADC lookup table — (query_id, sub, cid, d2), k×m rows per
    * query; `release` frees the corpus/codebook checkpoints once the
    * caller has materialized its result. */
  private def pqIndex(embs: DataFrame, queries: DataFrame, m: Int, k: Int,
                      dim: Int): (DataFrame, DataFrame, () => Unit) = {
    require(dim % m == 0, "dim must divide into m equal subvectors")
    val subLen = dim / m
    val q = normalizedQuantVecs(embs).localCheckpoint()
    val subs = subspacesOf(q, Seq(col("vec_id")), m, subLen)
    // seeds: the k lowest-id vectors supply every subspace's initial
    // centroids (k×m rows — no corpus-wide window needed)
    val seeds = subspacesOf(q.orderBy("vec_id").limit(k),
      Seq(col("vec_id").as("cid")), m, subLen)
      .select(col("sub"), col("cid"), col("sv").as("cq"))
    val books = pqTrainBooks(subs, seeds)
    // compressed corpus: m codes per vector
    val codes = pqEncode(subs, books, Seq("vec_id"))
    // ADC lookup table: queries × (m × k) cells, exact integer distances
    val lut = subspacesOf(normalizedQuantVecs(queries),
      Seq(col("vec_id").as("query_id")), m, subLen)
      .join(broadcast(books), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        graft.functions.L2Squared.l2sq(col("sv"), col("cq")).as("d2"))
    (codes, lut, () => Seq(q, books).foreach(Dedup.releaseCheckpoint))
  }

  /** Unit-normalize, THEN int8-quantize at the fixed scale 127 (unit
    * vectors have |x_i| ≤ 1). On unit vectors squared-L2 is 2−2·cos, so
    * PQ's integer-L2 ADC ranking tracks the cosine ranking the rest of the
    * ANN family (and its recall ground truth) uses — without this, raw
    * int8 L2 ranks by magnitude as much as by angle. Same determinism
    * contract as [[quantizedVecs]]: strict left-to-right fold for the
    * norm, floor(x+0.5) rounding, IEEE sqrt/div exact in both engines. */
  private def normalizedQuantVecs(embs: DataFrame): DataFrame = {
    val emb = asDouble(col("embedding"))
    embs
      .withColumn("_emb", emb)
      .withColumn("_nrm",
        norm(col("_emb")))
      .withColumn("qv",
        when(col("_nrm") === 0.0, transform(col("_emb"), _ => lit(0L)))
          // round 20: native one-loop quantization (the transform HOF is
          // CodegenFallback in the corpus scan); arithmetic mirrored
          // bit-exactly — see graft.functions.NormQuantVec
          .otherwise(graft.functions.NormQuantVec(col("_emb"), col("_nrm"))))
      .select(col("vec_id"), col("qv"))
  }

  def quantizeInt8(embs: DataFrame): DataFrame = {
    val emb = asDouble(col("embedding"))
    val scale = array_max(transform(col("_emb"), x => abs(x))) / lit(127.0)
    val q = transform(col("_emb"), x =>
      when(col("scale") === 0.0, lit(0L))
        .otherwise(greatest(lit(-127L),
          least(lit(127L), floor(x / col("scale") + lit(0.5)).cast("long")))))
    val err2 = aggregate(
      zip_with(col("_emb"), col("_q"), (v, qi) => {
        val d = v - qi * col("scale"); d * d
      }),
      lit(0.0), (acc, x) => acc + x)
    embs
      .withColumn("_emb", emb)
      .withColumn("scale", scale)
      .withColumn("_q", q)
      .select(col("vec_id"), col("scale"),
        md5(array_join(transform(col("_q"), _.cast("string")), ",")).as("q_md5"),
        sqrt(err2 / size(col("_emb"))).as("rmse"))
  }
}
