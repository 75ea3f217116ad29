package graft

import graft.ops.Gopher

/** Gopher/MassiveText quality rules (round 12): hand-computed signal
  * values, threshold behavior, and the zero-exchange plan. */
class GopherSpec extends SparkSpec {

  test("repetitionSignals: hand-computed duplicate-line and top-gram " +
    "fractions on a crafted document") {
    import spark.implicits._
    // lineWords=2 → lines: ["a b","a b","c d"]; "a b" duplicated once
    // (dup_n=1, dup_chars=3); line_chars = 9. joined stream
    // "a b a b c d" = 11 chars; top-2-gram "a b" count 2... grams of the
    // word stream: [a b, b a, a b, b c, c d] → "a b" ×2, len 3 → top2 =
    // 2*3/11; top3: all distinct ("a b a","b a b","a b c","b c d") →
    // 1*5/11; top4 → 1*7/11
    val docs = Seq((1L, "a b a b c d")).toDF("doc_id", "text")
    val r = Gopher.repetitionSignals(docs, lineWords = 2).head()
    assert(r.getInt(1) === 3)
    assert(r.getDouble(2) === 1.0 / 3)
    assert(r.getDouble(3) === 3.0 / 9)
    assert(r.getDouble(4) === 2.0 * 3 / 11)
    assert(r.getDouble(5) === 1.0 * 5 / 11)
    assert(r.getDouble(6) === 1.0 * 7 / 11)
  }

  test("repetitionSignals: top-gram count ties break to the LONGEST gram") {
    import spark.implicits._
    // every 2-gram occurs once; longest is "ccc dddd" (8 chars);
    // stream len = 3+1+3+1+4+1+2 = wait: "aa bb ccc dddd ee" → 17 chars
    val docs = Seq((1L, "aa bb ccc dddd ee")).toDF("doc_id", "text")
    val r = Gopher.repetitionSignals(docs, lineWords = 12).head()
    assert(r.getDouble(4) === 1.0 * 8 / 17)
  }

  test("qualityGate: a clean English-ish doc keeps; word-soup fails with " +
    "named reasons; plans are row-local (zero exchanges)") {
    import spark.implicits._
    // i varies every other word, so no 2-gram (or longer) ever repeats —
    // a genuinely non-repetitive doc with stopwords and sane word shapes
    val clean = ((1 to 30).map(i =>
      s"the w${i}a of w${i}b and w${i}c that w${i}d have w${i}e with w${i}f")
      .mkString(" "))
    val soup = (1 to 60).map(_ => "scan table scan").mkString(" ")
    val docs = Seq((1L, clean), (2L, soup)).toDF("doc_id", "text")
    val got = Gopher.qualityGate(docs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(got(1L)._1 === true, s"clean doc failed: ${got(1L)._2}")
    assert(!got(2L)._1)
    assert(got(2L)._2.contains("too_few_stopwords"))
    assert(got(2L)._2.contains("top2gram"), s"got: ${got(2L)._2}")
    val pS = Gopher.repetitionSignals(docs).queryExecution.executedPlan.toString
    val pQ = Gopher.qualityGate(docs).queryExecution.executedPlan.toString
    assert(!pS.contains("Exchange"), s"signals shuffle:\n$pS")
    assert(!pQ.contains("Exchange"), s"gate shuffles:\n$pQ")
  }
}
