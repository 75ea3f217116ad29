package graft

import graft.functions.WavEnergyHash
import graft.ops.Multimodal

/** Audio fingerprint near-dup (round 13): RIFF chunk-walk robustness,
  * group near-dup structure, and banding-vs-exhaustive parity. */
class AudioSpec extends SparkSpec {

  private def payloadOf(docId: Long): Array[Byte] = {
    import spark.implicits._
    Multimodal.syntheticAudio(Seq((docId, "t")).toDF("doc_id", "text"))
      .select("payload").head().getAs[Array[Byte]](0)
  }

  private def hashOf(p: Array[Byte]): (Long, Long) = {
    val r = WavEnergyHash.compute(p)
    (r.getLong(0), r.getLong(1))
  }

  test("chunk walk: an extra LIST chunk (odd size + pad byte) between " +
    "fmt and data fingerprints identically to the canonical layout") {
    val canon = payloadOf(7L)
    // splice "LIST" + size 5 + 5 junk bytes + 1 pad at offset 36 (before
    // the data chunk header)
    val extra = "LIST".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ "abcde".getBytes("US-ASCII") ++
      Array[Byte](0)
    val hostile = canon.take(36) ++ extra ++ canon.drop(36)
    assert(hashOf(hostile) === hashOf(canon),
      "fixed-offset parsing: the chunk walk did not skip the LIST chunk")
    // malformed payloads hash to (0,0), never throw
    assert(hashOf("JUNK".getBytes("US-ASCII")) === (0L, 0L))
    assert(hashOf(canon.take(20)) === (0L, 0L))
  }

  test("group structure: same-group clips are hamming <= 1, cross-group " +
    "fingerprints differ widely; banded join == exhaustive pairs") {
    import spark.implicits._
    val docs = ((20L to 24L) ++ (40L to 43L)).map(i => (i, s"text $i"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticAudio(docs)
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    assert(ham(fp(20L), fp(21L)) <= 1)
    assert(ham(fp(22L), fp(24L)) <= 1)
    assert(ham(fp(40L), fp(41L)) <= 1)
    assert(ham(fp(20L), fp(40L)) > 3, "cross-group clips should not collide")
    // banded join equals the exhaustive O(n²) enumeration
    val banded = Multimodal.audioFingerprintNeardup(media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val ids = fp.keys.toSeq.sorted
    val exhaustive = (for {
      a <- ids; b <- ids if a < b
      h = ham(fp(a), fp(b)) if h <= 3
    } yield (a, b, h)).sorted
    assert(banded === exhaustive)
  }
}
