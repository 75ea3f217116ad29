package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's own yardstick parser: BASELINE.md's per-query bar tables
  * are what the bar-breach auto-rerun (Bench.scala) judges samples
  * against, so a silent parse regression would disarm the whole
  * cold-start/interference defense. No SparkSession needed. */
class BenchSpec extends AnyFunSuite {

  test("parseBars reads the convention-matched table from a markdown file") {
    val md =
      """Prose mentioning **local[4]** casually must not arm the parser.
        || not_a_bar | 9.99 |
        |
        |Per-query steady-state table, **local[4]**, canonical run
        |
        || query | sec |
        ||---|---|
        || q1_agg | 0.59 |
        || cmf_ford | 1.45 |
        |
        |Per-query entries for queries not in the table below (older):
        || stale_row | 7.77 |
        |
        |Per-query bar table, **local[32]** (the driver's convention)
        |
        || query | sec |
        ||---|---|
        || q1_agg | 0.36 |
        || cmf_ford | 0.73 |
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("bars", ".md")
    java.nio.file.Files.writeString(f, md)
    val b4 = Bench.parseBars(f.toString, "4")
    val b32 = Bench.parseBars(f.toString, "32")
    assert(b4 === Map("q1_agg" -> 0.59, "cmf_ford" -> 1.45))
    assert(b32 === Map("q1_agg" -> 0.36, "cmf_ford" -> 0.73))
    // a heading without the requested convention's marker DESELECTS, so
    // the "stale_row" between tables lands in neither map
    assert(!b4.contains("stale_row") && !b32.contains("stale_row"))
    assert(!b4.contains("not_a_bar"))
    // unconventioned cpu count and missing file both degrade to no bars
    assert(Bench.parseBars(f.toString, "16").isEmpty)
    assert(Bench.parseBars("/no/such/file.md", "32").isEmpty)
  }

  test("parseBars covers the live BASELINE.md tables for both conventions, " +
    "and the tables cover the FULL registry — a query can never register " +
    "without a bar in BOTH tables (round-14 VERDICT: table-vs-table " +
    "equality alone let two queries ship with no bars at all)") {
    // tests run with cwd = repo root (sbt), same as the driver's bench run
    val b4 = Bench.parseBars("BASELINE.md", "4")
    val b32 = Bench.parseBars("BASELINE.md", "32")
    assert(b4.keySet === b32.keySet,
      s"convention tables diverge: only-in-4=${b4.keySet -- b32.keySet} " +
        s"only-in-32=${b32.keySet -- b4.keySet}")
    // FULL registry coverage, both directions: every registered query has
    // a bar (new queries get quiet-host entries in the same change that
    // registers them), and bars only exist for registered queries
    val unbarred = SparkEntry.byName.keySet -- b32.keySet
    assert(unbarred.isEmpty, s"registered queries with no bars: $unbarred")
    val unknown = b32.keySet -- SparkEntry.byName.keySet
    assert(unknown.isEmpty, s"bars for unregistered queries: $unknown")
    // spot-pin two entries against the committed round-15 tables so a
    // section-selection bug (right rows, wrong table) is caught —
    // recalibrating the tables updates these pins deliberately
    assert(b32("q1_agg") === 0.31)
    assert(b4("q1_agg") === 0.55)
  }
}
