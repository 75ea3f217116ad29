package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Raw-text extraction front end — the step upstream of every text
  * operator in this library: crawled pages arrive as HTML, and the
  * language-ID / quality / dedup / LM pipeline all assume clean text.
  * Follows the public C4 recipe (Raffel et al., "Exploring the Limits of
  * Transfer Learning with a Unified Text-to-Text Transformer", 2020, §2.2)
  * and the CCNet preprocessing stage (Wenzek et al., "CCNet: Extracting
  * High Quality Monolingual Datasets from Web Crawl Data", 2019):
  * strip markup, segment into block-level lines, drop boilerplate lines,
  * keep per-document structure for downstream chunking.
  *
  * Scale shape: every step is a row-local expression chain —
  * regexp_replace / split / filter / transform fused into the scan by
  * whole-stage codegen, ZERO exchanges (PlanSpec pins it). At 100 TB this
  * is the cheapest kind of operator the engine has: one pass, no shuffle,
  * and its selectivity (boilerplate drop) shrinks everything downstream.
  */
object Extract {

  /** Markup → newline-structured plain text, as one expression chain:
    *  1. drop script/style SUBTREES (their text is code, not content);
    *  2. turn block-level CLOSERS (</p>, </div>, </h1>…, </li>, </tr>,
    *     </title>) and <br> into line breaks — the line structure the
    *     boilerplate filter operates on;
    *  3. strip every remaining tag;
    *  4. decode the five predefined XML entities plus &nbsp; (the C4
    *     recipe's minimal entity set — a full HTML5 entity table is a
    *     dictionary lookup, same shape, longer list).
    * Inline (?is) flags keep the regexes portable across engines (Java
    * regex here, RE2 in the DuckDB oracle). */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", "")
    val breaks = regexp_replace(noStyle,
      "(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/title)\\b[^>]*>", "\n")
    val noTags = regexp_replace(breaks, "<[^>]*>", "")
    // &amp; decodes LAST: decoding it first double-unescapes
    // double-escaped entities ('&amp;lt;' must yield the literal text
    // '&lt;', not '<' — the classic unescape-order bug)
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
  }

  /** The newline-split, whitespace-normalized, non-empty LINES of a
    * stripped page: each line trimmed, runs of whitespace collapsed to
    * single spaces. This is the unit the C4 line filter judges. */
  private def textLines(text: Column): Column =
    filter(
      transform(split(text, "\n"),
        l => trim(regexp_replace(l, "\\s+", " "))),
      l => l =!= "")

  /** C4's line-level boilerplate rule (§2.2): keep a line only if it ends
    * in a terminal punctuation mark AND has at least `minWords` words.
    * Nav bars ("Home | About"), bare headings, and button labels all fail
    * one of the two tests; sentences pass. */
  def c4KeepLine(line: Column, minWords: Int = 3): Column =
    line.rlike("[.!?\"]$") &&
      size(split(line, " ")) >= minWords

  /** Per-document extraction summary over a frame with (`idCol`,
    * `htmlCol`): the raw line count, the boilerplate-surviving line
    * count, and the kept lines re-joined as the clean text downstream
    * operators consume. Purely row-local. */
  def htmlExtract(raw: DataFrame, htmlCol: String = "html",
                  idCol: String = "doc_id",
                  minWords: Int = 3): DataFrame = {
    // stage the stripped lines ONCE (c4PageFilter's pattern): `lines` and
    // `kept` as sibling expressions would each embed the full
    // 5-regexp strip chain — Catalyst Columns are trees, not DAGs, so
    // the chain would run twice per row on the hottest scan path
    val kept = filter(col("_lines"), l => c4KeepLine(l, minWords))
    raw.select(col(idCol), textLines(stripHtml(col(htmlCol))).as("_lines"))
      .select(col(idCol),
        size(col("_lines")).as("n_lines"),
        size(kept).as("n_kept"),
        array_join(kept, "\n").as("text_clean"))
  }

  /** The fewest kept lines a page may have. C4 asks for 5 sentences of
    * real prose; a kept line here is one extracted block, and the
    * generated crawl's pages carry 2 of them, so 2 is the bar. */
  private val MinKeptLines = 2

  /** C4's PAGE-level rules (§2.2), applied on top of the line filter:
    * a page is dropped whole when its cleaned text contains "lorem
    * ipsum" (template boilerplate) or a curly brace (code), when fewer
    * than [[MinKeptLines]] lines survive the line filter (the paper's
    * "fewer than 5 sentences" rule), or when it contains
    * a blocklisted term. Lines containing "javascript" are additionally
    * dropped at LINE level before the count (the paper's one
    * line-content rule). `blocklist` defaults empty — C4 used the public
    * "List of Dirty, Naughty, Obscene..." word list, which a deployment
    * passes in; the mechanics (lowercased containment over the cleaned
    * text) are what this operator provides. Output: (idCol, keep,
    * fail_reasons, n_kept_lines) — row-local, zero exchanges. */
  def c4PageFilter(raw: DataFrame, htmlCol: String = "html",
                   idCol: String = "doc_id", minWords: Int = 3,
                   blocklist: Seq[String] = Seq.empty): DataFrame = {
    // stage the extracted lines once; the rule expressions below then
    // reference a cheap attribute instead of re-running the regexp chain
    // per rule
    val kept = filter(col("_lines"), l =>
      c4KeepLine(l, minWords) && !lower(l).contains("javascript"))
    val textLc = lower(array_join(col("_lines"), "\n"))
    val blockHit = blocklist.foldLeft(lit(false))(
      (acc, w) => acc || textLc.contains(w.toLowerCase))
    val reasons = concat_ws(",",
      when(textLc.contains("lorem ipsum"), "lorem_ipsum"),
      when(textLc.contains("{"), "curly_brace"),
      when(blockHit, "blocklist"),
      when(size(kept) < MinKeptLines, "too_few_sentences"))
    raw.select(col(idCol), textLines(stripHtml(col(htmlCol))).as("_lines"))
      .select(col(idCol),
        (reasons === "").as("keep"),
        reasons.as("fail_reasons"),
        size(kept).as("n_kept_lines"))
  }

  /** Paragraph segmentation: one output row per surviving line (block ≈
    * paragraph once block closers became line breaks), with its 1-based
    * position — the chunking unit for [[Packing.chunkDocs]]-style
    * downstream ops. The explode is output-bounded (Σ kept lines) and
    * still shuffle-free. */
  def paragraphs(raw: DataFrame, htmlCol: String = "html",
                 idCol: String = "doc_id",
                 minWords: Int = 3): DataFrame = {
    val kept = filter(textLines(stripHtml(col(htmlCol))),
      l => c4KeepLine(l, minWords))
    raw.select(col(idCol), posexplode(kept).as(Seq("_pos", "para")))
      .select(col(idCol), (col("_pos") + 1).as("para_id"), col("para"))
  }
}
