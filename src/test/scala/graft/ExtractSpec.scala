package graft

import graft.ops.Extract
import org.apache.spark.sql.functions._

/** C4/CCNet-recipe HTML extraction front end (round 12). */
class ExtractSpec extends SparkSpec {

  test("stripHtml: script/style subtrees vanish, block closers become " +
    "line breaks, tags strip, entities decode") {
    import spark.implicits._
    val html = "<html><head><title>T</title>" +
      "<script type=\"text/javascript\">var x = 1 < 2; // <p> inside</script>" +
      "<style>.a { color: red; }</style></head>" +
      "<body><h1>Head Line</h1><p>First sentence here.</p>" +
      "<div>Nav &amp; bar</div><p>A &lt;tag&gt; &quot;quoted&quot; " +
      "&#39;apos&#39;&nbsp;end.</p><br/>tail</body></html>"
    val out = Seq((1L, html)).toDF("doc_id", "html")
      .select(Extract.stripHtml(col("html")).as("t")).head().getString(0)
    assert(!out.contains("var x"), "script content leaked")
    assert(!out.contains("color"), "style content leaked")
    // no real markup survives ("<tag>" below is DECODED entity text, the
    // contract: markup strips BEFORE entities decode)
    assert(!out.contains("<p>") && !out.contains("<html>") &&
      !out.contains("<body>"), s"tag survived: $out")
    assert(out.contains("First sentence here."))
    assert(out.contains("Nav & bar"))
    assert(out.contains("A <tag> \"quoted\" 'apos' end."))
    // block closers produced line structure
    val lines = out.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    assert(lines === Seq("T", "Head Line", "First sentence here.",
      "Nav & bar", "A <tag> \"quoted\" 'apos' end.", "tail"))
  }

  test("stripHtml: double-escaped entities decode exactly ONE level " +
    "(&amp; last — the classic unescape-order bug)") {
    import spark.implicits._
    val out = Seq((1L, "<p>&amp;lt;script&amp;gt; and A &amp; B</p>"))
      .toDF("doc_id", "html")
      .select(graft.ops.Extract.stripHtml(col("html")).as("t"))
      .head().getString(0)
    // '&amp;lt;' is the ESCAPED TEXT '&lt;' — it must stay literal text,
    // never double-decode into a live '<script>'
    assert(out.contains("&lt;script&gt;"), s"double-unescaped: $out")
    assert(!out.contains("<script>"))
    assert(out.contains("A & B"))
  }

  test("c4KeepLine: terminal punctuation AND word-count rules") {
    import spark.implicits._
    val cases = Seq(
      ("This is a sentence.", true),
      ("Is this a question?", true),
      ("He said \"stop\" and left!", true),
      ("Home | About | Contact", false), // no terminal punctuation
      ("Short.", false), // < 3 words
      ("ends in comma, not period,", false))
    val got = cases.map(_._1).toDF("l")
      .select(col("l"), Extract.c4KeepLine(col("l")).as("k"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    cases.foreach { case (l, want) =>
      assert(got(l) === want, s"line: $l") }
  }

  test("c4PageFilter: page rules fire on lorem-ipsum/brace/blocklist/" +
    "sentence-count; javascript lines drop before the count; zero exchanges") {
    import spark.implicits._
    val raw = Seq(
      (1L, "<p>one fine sentence here.</p><p>and another good one!</p>"),
      (2L, "<p>lorem ipsum dolor sit amet.</p><p>regular text follows on!</p>"),
      (3L, "<p>code block { x = 1 } inline.</p><p>more words right here!</p>"),
      (4L, "<p>enable javascript to continue now.</p><p>one surviving line here!</p>"),
      (5L, "<p>totally banned term appears here.</p><p>second fine line too!</p>")
    ).toDF("doc_id", "html")
    val got = graft.ops.Extract.c4PageFilter(raw,
        blocklist = Seq("banned")).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2), r.getInt(3)))
      .toMap
    assert(got(1L) === ((true, "", 2)))
    assert(got(2L) === ((false, "lorem_ipsum", 2)))
    assert(got(3L) === ((false, "curly_brace", 2)))
    // the javascript LINE drops, leaving 1 kept line, under the 2 required
    assert(got(4L) === ((false, "too_few_sentences", 1)))
    assert(got(5L) === ((false, "blocklist", 2)))
    val p = graft.ops.Extract.c4PageFilter(raw)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"c4PageFilter shuffles:\n$p")
  }

  test("htmlExtract + paragraphs: per-doc counts and exploded blocks " +
    "agree; extraction plan is scan-fused with ZERO exchanges") {
    import spark.implicits._
    val raw = Seq(
      (1L, "<p>one two three.</p><p>no punct line</p><p>four five six!</p>"),
      (2L, "<div>Home | About</div><p>only boilerplate</p>"),
      (3L, "plain untagged text with an ending.")
    ).toDF("doc_id", "html")
    val ex = Extract.htmlExtract(raw)
    val got = ex.collect().map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got(1L) === ((3, 2, "one two three.\nfour five six!")))
    assert(got(2L) === ((2, 0, "")))
    assert(got(3L) === ((1, 1, "plain untagged text with an ending.")))
    val paras = Extract.paragraphs(raw).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(paras === Seq((1L, 1, "one two three."), (1L, 2, "four five six!"),
      (3L, 1, "plain untagged text with an ending.")))
    // the whole pipeline is row-local: no exchange anywhere (the explode
    // in paragraphs is a Generate, not a shuffle)
    val pEx = ex.queryExecution.executedPlan.toString
    val pPara = Extract.paragraphs(raw).queryExecution.executedPlan.toString
    assert(!pEx.contains("Exchange"), s"htmlExtract shuffles:\n$pEx")
    assert(!pPara.contains("Exchange"), s"paragraphs shuffles:\n$pPara")
  }
}
