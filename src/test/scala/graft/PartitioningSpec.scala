package graft

import graft.ops.Partitioning
import org.apache.spark.sql.functions._

/** Persisted bucketed indexes and skew salting: result parity plus the
  * plan properties that justify them. */
class PartitioningSpec extends SparkSpec {

  test("saltedJoin returns exactly the plain join's rows") {
    import spark.implicits._
    // pathological skew: 90% of the big side on one key
    val big = ((1L to 900L).map(_ => (7L, "hot")) ++
      (1L to 100L).map(i => (i % 20, s"cold$i"))).toDF("k", "v")
    val small = (0L until 20L).map(i => (i, s"dim$i")).toDF("k", "d")
    val plain = big.join(small, "k").groupBy("k").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Partitioning.saltedJoin(big, small, "k")
      .groupBy("k").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === plain)
  }

  test("bm25 persisted index: identical results to the live search, no corpus scan at query time") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "apple apple apple common common common common"),
      (2L, "apple common common common common common common"),
      (3L, "apple banana"),
      (4L, "banana apple common common"),
      (5L, "common common common common")).toDF("doc_id", "text")
    TextAnalysis.bm25WriteIndex(docs, "bm25t", buckets = 4)
    val queries = TextAnalysis.bm25Queries(docs)
    val indexed = TextAnalysis.bm25SearchIndexed(spark, queries, "bm25t")
    val live = TextAnalysis.bm25Search(docs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(indexed) === rows(live))
    // query-time plan reads the persisted postings (table-backed scan) and
    // never re-explodes the corpus: its only Generate is the query frame's
    // own term explode
    val p = indexed.queryExecution.executedPlan.toString
    assert(p.contains("bm25t_postings"), s"indexed search not table-backed:\n$p")
    val gens = "Generate".r.findAllIn(p).length
    val liveGens = "Generate".r
      .findAllIn(live.queryExecution.executedPlan.toString).length
    assert(gens < liveGens, s"indexed plan still explodes the corpus ($gens vs $liveGens)")
  }

  test("ivfWriteIndex + ivfSearchIndexed == live ivfTopK; query plan is " +
    "table-backed with no corpus assignment") {
    import spark.implicits._
    import graft.ops.Similarity
    // deterministic non-trivial vectors: 40 corpus + 4 query, 8-dim
    def vec(seed: Int): Array[Float] =
      (0 until 8).map(d => ((seed * 31 + d * 17) % 13 - 6).toFloat).toArray
    val corpus = (10L to 49L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val queries = (1L to 4L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(corpus, "ivft", numCentroids = 4, dim = 8,
      buckets = 4)
    val indexed = Similarity.ivfSearchIndexed(spark, queries, "ivft",
      k = 5, numCentroids = 4, dim = 8, nprobe = 2)
    val live = Similarity.ivfTopK(corpus, queries, k = 5,
      numCentroids = 4, dim = 8, nprobe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(rows(indexed) === rows(live) && rows(live).nonEmpty)
    // query-time plan reads the persisted inverted lists, and the corpus
    // assignment (array_position over the centroid score array) happens
    // only in the live plan
    val p = indexed.queryExecution.executedPlan.toString
    assert(p.contains("ivft_lists"), s"indexed search not table-backed:\n$p")
    // (no array_position in the indexed plan = no centroid assignment at
    // query time; the live plan's own assignment constant-folds into its
    // LocalTableScan here, so it can't serve as the counter-assert)
    assert(!p.contains("array_position"),
      s"indexed plan still assigns the corpus to centroids:\n$p")
    // quantizer-geometry mismatch must fail loudly, not return plausible
    // neighbors probed against the wrong centroid set
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfSearchIndexed(spark, queries, "ivft",
        k = 5, numCentroids = 8, dim = 8, nprobe = 2)
    }
    assert(e.getMessage.contains("different quantizer"))
  }

  test("trained persisted IVF index: search is probe-only with spill " +
    "duplicates collapsed; centroids persist with the index") {
    import spark.implicits._
    import graft.ops.Similarity
    def vec(seed: Int): Array[Float] =
      (0 until 8).map(d => ((seed * 29 + d * 13) % 11 - 5).toFloat).toArray
    val corpus = (10L to 49L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val queries = (1L to 4L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    Similarity.ivfWriteIndexTrained(corpus, "tvidx", numCentroids = 4,
      dim = 8, buckets = 4, iters = 3, assignTop = 2)
    val cents = spark.table("tvidx_cents").orderBy("ccid").collect()
      .map(_.getSeq[Long](1).toSeq).toSeq
    assert(cents.nonEmpty && cents.forall(_.size == 8))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val served = rows(Similarity.ivfSearchIndexedTrained(spark, queries,
      "tvidx", k = 5, nprobe = 4))
    assert(served.nonEmpty)
    // no (query, neighbor) appears twice at ANY rank (spill dedup)
    val pairs = served.toSeq.map(t => (t._1, t._2))
    assert(pairs.distinct.size === pairs.size)
    // full-coverage probe == exact cosine ranking over the indexed corpus
    val brute = rows(Similarity.cosineTopK(corpus, queries, 5)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("int"),
        col("sim")))
    val full = rows(Similarity.ivfSearchIndexedTrained(spark, queries,
      "tvidx", k = 5, nprobe = cents.size))
    assert(full === brute,
      "full-probe trained index must equal exact cosine top-k")
  }

  test("dropManagedTable on an EXTERNAL table drops the catalog entry but " +
    "leaves the user-owned data (round-12 ADVICE regression)") {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("ext-data")
    (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(dataDir.toString)
    spark.sql(s"CREATE TABLE ext_victim (id BIGINT, v STRING) USING parquet " +
      s"LOCATION '$dataDir'")
    assert(spark.catalog.tableExists("ext_victim"))
    Partitioning.dropManagedTable(spark, "ext_victim")
    assert(!spark.catalog.tableExists("ext_victim"))
    // the location the catalog only POINTED at must survive, readable
    assert(spark.read.parquet(dataDir.toString).count() === 10)
    // while a MANAGED table's location IS reclaimed (the function's job)
    (1L to 5L).map(i => (i, s"m$i")).toDF("id", "v")
      .write.saveAsTable("managed_victim")
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "managed_victim")).location.getPath
    Partitioning.dropManagedTable(spark, "managed_victim")
    assert(!spark.catalog.tableExists("managed_victim"))
    assert(!new java.io.File(loc).exists(),
      s"managed location $loc should have been reclaimed")
  }

  test("saltedJoin tolerates map-typed columns on the big side") {
    import spark.implicits._
    // hash() rejects MapType — the salt must exclude map columns (at any
    // nesting depth) instead of throwing AnalysisException on frames that
    // plain join handles fine
    val big = ((1L to 50L).map(i => (i % 5, s"v$i", Map("a" -> i))) ++
      (1L to 200L).map(_ => (3L, "hot", Map("b" -> 1L)))).toDF("k", "v", "attrs")
    val small = (0L until 5L).map(i => (i, s"dim$i")).toDF("k", "d")
    val plain = big.join(small, "k").count()
    assert(Partitioning.saltedJoin(big, small, "k").count() === plain)
  }
}
