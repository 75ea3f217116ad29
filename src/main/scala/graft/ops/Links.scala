package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The HTML LINK layer (round 17) — the piece of the crawl loop between
  * content extraction ([[Extract]]) and the URL frontier ([[Url]]): a
  * fetched page's outlinks are where the next round of frontier seeds
  * comes from, anchor text is the classic off-page relevance/quality
  * signal (it describes the TARGET, written by a third party), and the
  * domain-level link graph feeds centrality weighting
  * ([[Graph.pageRank]]) for source mixing. The reference engine stops at
  * per-record routing (each connectors connector.yaml — no link
  * semantics);
  * this layer is the beyond-reference crawl surface the round-15..17
  * robots/sitemap front end plugs into.
  *
  * Scale shape: extraction and resolution are row-local expression
  * chains fused into the page scan (zero exchanges — PlanSpec-style pin
  * in LinksSpec); the anchor aggregation is ONE hash-agg on the target
  * key with map-side combine; the host graph is |edges|-sized, never
  * page-scale, by the time it reaches PageRank.
  */
object Links {

  /** One `<a …>body</a>` match: attribute blob (group 1) and body
    * (group 2). The attribute blob is QUOTE-AWARE — `[^>"']` segments
    * alternate with complete quoted runs — so a literal `>` inside a
    * quoted attribute value (legal HTML: `title="a>b"`) cannot
    * truncate the tag early. Non-greedy body stops at the first
    * closer; (?is) makes `.` span lines and the tag
    * case-insensitive. */
  private val aTagPattern =
    "(?is)<a\\b((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>(.*?)</a>"

  /** The `<base …>` tag's attribute blob, same quote-aware scan. */
  private val baseTagPattern =
    "(?is)<base\\b((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>"

  /** The composed spelling of the a-tag extraction — parity REFERENCE
    * for [[graft.functions.ATagsExtract]] (round 21): two full-page
    * `regexp_extract_all` scans of [[aTagPattern]], zipped (identical
    * patterns ⇒ identical match spans, so index i of both arrays is the
    * same tag). */
  private[graft] def aTagsZippedComposed(h: Column): Column =
    arrays_zip(
      regexp_extract_all(h, lit(aTagPattern), lit(1)),
      regexp_extract_all(h, lit(aTagPattern), lit(2)))

  /** A quoted-or-bare attribute value: `href="…"`, `href='…'`, or the
    * HTML-legal unquoted `href=…` (terminated by whitespace or `>`). */
  private def attrValue(attrs: Column, name: String): Column = {
    val raw = regexp_extract(attrs,
      s"(?i)\\b$name\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>\"']+)", 1)
    when(raw.startsWith("\"") || raw.startsWith("'"),
      raw.substr(lit(2), length(raw) - 2)).otherwise(raw)
  }

  /** The C4-minimal entity set ([[Extract.stripHtml]]'s table, same
    * ordering contract: `&amp;` LAST so `&amp;lt;` yields the literal
    * text `&lt;`, never `<`). Literal replace, no regex. */
  private def decodeEntities(c: Column): Column =
    graft.functions.DecodeEntities(c)

  /** The composed spelling of [[decodeEntities]] — parity REFERENCE for
    * the native expression (round 20): six chained regexp_replace calls,
    * each a String round-trip per value in the per-link hot path. */
  private[graft] def decodeEntitiesComposed(c: Column): Column =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(c) { case (acc, (e, r)) => regexp_replace(acc, e, r) }

  /** RFC 3986 §5.2.4 dot-segment removal over an absolute path (with an
    * optional query, which rides through untouched): `/a/../b` → `/b`,
    * `/a/./b` → `/a/b`, duplicate slashes collapse. A `..` at root is a
    * no-op (the RFC's behavior). One `aggregate` fold over the split
    * segments — row-local, replayed by the ORACLE not as a fold but as
    * the regenerated expected path (the parse∘generate identity
    * convention). */
  private[graft] def removeDotSegments(pq: Column): Column = {
    val path = substring_index(pq, "?", 1)
    val query = pq.substr(length(path) + 1, lit(1 << 20))
    val folded = aggregate(split(path, "/"), typedLit(Seq.empty[String]),
      (acc, s) =>
        when(s === "..", slice(acc, lit(1), greatest(size(acc) - 1, lit(0))))
          .when(s === "." || s === "", acc)
          .otherwise(concat(acc, array(s))))
    val joined = concat(lit("/"), array_join(folded, "/"))
    // a trailing slash is SEMANTIC under §5.2.4 (it keeps the path a
    // directory — base resolution reads the dir from it); re-append it
    // when the input had one and the fold (which drops empty segments)
    // ate it
    val kept = when(path.endsWith("/") && !joined.endsWith("/"),
      concat(joined, lit("/"))).otherwise(joined)
    concat(kept, query)
  }

  /** Resolve an (entity-decoded) href against the CANONICAL base URL —
    * the library resolves after canonicalization so the base parts are
    * already case/port/www-normalized and the work happens once:
    *  - a scheme-qualified href is already absolute (kept as written);
    *  - `//host/p` (protocol-relative) takes the base scheme;
    *  - `/p` (root-relative) takes scheme://host[:port];
    *  - anything else is path-relative: joined to the base path's
    *    directory, then dot-segments removed (§5.2.4).
    * Root/path-relative results are dot-normalized; absolute hrefs pass
    * through (a crawl corpus's absolute links are overwhelmingly
    * already clean, and [[Url.canonicalizeUrl]] runs downstream
    * regardless). */
  private[graft] def resolveHref(baseCanon: Column, href: Column): Column =
    graft.functions.ResolveHref(baseCanon, href)

  /** The composed spelling of [[resolveHref]] — parity REFERENCE for the
    * native expression (round 20): it references its base at ~8 leaves
    * and folds dot segments with a CodegenFallback `aggregate` HOF per
    * link row. */
  private[graft] def resolveHrefComposed(baseCanon: Column,
                                         href: Column): Column = {
    val scheme = substring_index(baseCanon, "://", 1)
    val afterScheme = baseCanon.substr(length(scheme) + 4, lit(1 << 20))
    val root = concat(scheme, lit("://"), substring_index(afterScheme, "/", 1))
    val basePath = substring_index(Url.canonPathQuery(baseCanon), "?", 1)
    val dir = regexp_replace(basePath, "[^/]*$", "")
    when(href.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), href)
      .when(href.startsWith("//"), concat(scheme, lit(":"), href))
      // query-only reference (§5.3): the base PATH is kept, only the
      // query replaces — "?page=2" against /list is /list?page=2, not
      // a directory join
      .when(href.startsWith("?"), concat(root, basePath, href))
      .when(href.startsWith("/"), concat(root, removeDotSegments(href)))
      .otherwise(concat(root, removeDotSegments(concat(dir, href))))
  }

  /** The RESOLUTION form of a page's canonical URL: the canonical key
    * with the raw URL's trailing slash restored when the canonicalizer
    * stripped it (`dirSlash` = the raw fragment/query-stripped form
    * ended in '/'). RFC 3986 §5.2.3 reads the directory from that
    * slash — `post.html` against `/blog/` is `/blog/post.html`; against
    * the slash-stripped canonical `/blog` it would wrongly resolve to
    * `/post.html`. The slash goes back at the PATH end — before the
    * canonical query when one rides the key (`/blog?q=1` →
    * `/blog/?q=1`, the §5.3 query-only base). Root URLs already keep
    * their slash. */
  private[graft] def dirBase(baseCanon: Column, dirSlash: Column): Column = {
    val path = substring_index(baseCanon, "?", 1)
    val query = baseCanon.substr(length(path) + 1, lit(1 << 20))
    when(dirSlash && !path.endsWith("/"),
      concat(path, lit("/"), query)).otherwise(baseCanon)
  }

  /** Per-page outlink extraction over a frame with (`idCol`, `htmlCol`,
    * `baseUrlCol`): one row per `<a>` tag that carries a FETCHABLE
    * href — tags without an href, fragment-only links (`#top`), and
    * non-fetch schemes (javascript/mailto/tel/data) are dropped AFTER
    * the 1-based `link_idx` is assigned, so an index always names the
    * tag's position in the page (stable across filter changes).
    * Output per link: the raw attribute text (`href`), the
    * entity-decoded resolved absolute form (`href_abs`), its canonical
    * key (`target_canon` — the frontier/dedup join key), the
    * tag-stripped whitespace-normalized anchor text (falling back to
    * the first `alt` attribute in the body when the text is empty —
    * image links carry their description there), and the
    * `rel=nofollow` flag (crawl schedulers and centrality both treat
    * nofollow edges differently — the graph builders here exclude
    * them).
    *
    * RESOLUTION BASE (HTML5 §4.2.3): a `<base href>` element overrides
    * the page URL as the base for relative hrefs; a RELATIVE base
    * itself resolves against the page URL first. `_base` stays the
    * PAGE's canonical URL (link provenance — a hostGraph edge's source
    * is the linking page, never the base element); `_rbase` is the
    * effective resolution base. Both are computed BELOW the explode so
    * every per-link reference is a Generate-output attribute — the
    * [[pinColumns]] plan-size discipline, applied structurally.
    *
    * DIRECTORY PAGES (RFC 3986 §5.2.3, round 18): the canonicalizer
    * strips the trailing slash from non-root paths, but that slash IS
    * the base path's directory semantics — `href="post.html"` on the
    * page `https://x.com/blog/` must resolve to `/blog/post.html`,
    * not `/post.html`. The resolution base therefore RESTORES the
    * slash when the RAW page URL's (fragment/query-stripped) path had
    * one; only the emitted canonical keys (`_base`, `target_canon`)
    * stay slash-stripped.
    *
    * Zipping two `regexp_extract_all` calls of the SAME pattern
    * (groups 1 and 2) is alignment-safe: identical patterns produce
    * identical match spans, so index i of both arrays is the same tag.
    * Everything is row-local — the explode is output-bounded (Σ links
    * per page) and the chain fuses into the page scan, zero exchanges. */
  def linkExtract(pages: DataFrame, htmlCol: String = "html",
                  baseUrlCol: String = "base_url",
                  idCol: String = "doc_id"): DataFrame = {
    val h = col(htmlCol)
    // round 21: native one-pass quote-aware a-tag scan — the composed
    // double regexp_extract_all ran the alternation regex over the full
    // page twice per row (see graft.functions.ATagsExtract's EXACTNESS
    // note; aTagsZippedComposed below is the parity reference).
    val zipped = graft.functions.ATagsExtract(h)
    // a fragment-only base (`<base href="#x">`) resolves to the page
    // URL itself (the fragment plays no part in reference resolution) —
    // treat it as absent rather than path-joining a '#…' string
    val baseHref0 = attrValue(regexp_extract(h, baseTagPattern, 1), "href")
    val baseHref = when(baseHref0.startsWith("#"), lit(""))
      .otherwise(baseHref0)
    val altText = attrValue(col("_body"), "alt")
    val bodyText = trim(regexp_replace(decodeEntities(
      regexp_replace(col("_body"), "<[^>]*>", "")), "\\s+", " "))
    pages
      // stage the page canon once, then derive the resolution base from
      // the COLUMN (resolveHref references its base at ~8 leaves);
      // `_dirsl` records whether the RAW URL's fragment/query-stripped
      // form ended in '/' — the directory bit the canonical key drops
      .select(col(idCol), col(htmlCol),
        Url.canonicalizeUrl(col(baseUrlCol)).as("_base"),
        substring_index(substring_index(col(baseUrlCol), "#", 1), "?", 1)
          .endsWith("/").as("_dirsl"))
      // the resolution base is NOT canonicalized: canonicalization
      // strips the trailing slash whose presence IS the directory
      // semantics (<base href="/bdir/"> must yield dir /bdir/, and a
      // directory-style PAGE URL /blog/ must keep its slash too —
      // dirBase restores it); resolution only needs scheme/host/path,
      // and the target's canonical form normalizes everything downstream
      .select(col(idCol), col("_base"),
        when(baseHref === "", dirBase(col("_base"), col("_dirsl")))
          .otherwise(resolveHref(dirBase(col("_base"), col("_dirsl")),
            decodeEntities(baseHref)))
          .as("_rbase"),
        posexplode(zipped).as(Seq("_i", "_t")))
      .select(col(idCol), col("_base"), col("_rbase"),
        (col("_i") + 1).cast("long").as("link_idx"),
        attrValue(col("_t")("0"), "href").as("href"),
        attrValue(col("_t")("0"), "rel").as("_rel"),
        col("_t")("1").as("_body"))
      .filter(col("href") =!= "" && !col("href").startsWith("#") &&
        !lower(col("href")).rlike("^(javascript|mailto|tel|data):"))
      // decode + resolve into a COLUMN before canonicalizing — the
      // canonicalizer references its input at ~15 leaves and inlining
      // the resolution tree at each one multiplies the plan (the
      // domain_quota_sample round-16 lesson)
      .select(col(idCol), col("_base"), col("link_idx"), col("href"),
        resolveHref(col("_rbase"), decodeEntities(col("href")))
          .as("href_abs"),
        when(bodyText === "",
          trim(regexp_replace(decodeEntities(altText), "\\s+", " ")))
          .otherwise(bodyText).as("anchor"),
        lower(col("_rel")).contains("nofollow").as("nofollow"))
      .withColumn("target_canon", Url.canonicalizeUrl(col("href_abs")))
  }

  /** The `<meta …>` tag's attribute blob, quote-aware like
    * [[aTagPattern]]. */
  private val metaTagPattern =
    "(?is)<meta\\b((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>"

  /** META-REFRESH redirects — the HTML-level redirect a crawl pipeline
    * must treat like a 30x (pages "moved" via
    * `<meta http-equiv="refresh" content="N;url=…">` are a real and
    * common pattern; a pipeline that only follows HTTP Location
    * headers silently indexes the stub page): one row per page whose
    * FIRST refresh meta carries a url= directive, with the declared
    * delay, the raw target, and its resolved canonical form (the
    * [[linkExtract]] resolution rules, `<base href>` included). A
    * url-less refresh (`content="5"` — a self-reload) is not a
    * redirect and emits nothing. The directive grammar is parsed
    * case-insensitively with optional whitespace (`2;url=`, `2; URL=`
    * — both browser-accepted). Row-local, scan-fused, zero exchanges;
    * the output edges feed [[Graph.resolveChains]] exactly like an
    * HTTP redirect map. */
  def metaRefresh(pages: DataFrame, htmlCol: String = "html",
                  baseUrlCol: String = "base_url",
                  idCol: String = "doc_id"): DataFrame = {
    val h = col(htmlCol)
    // try_element_at: a page with no refresh meta has an EMPTY filtered
    // array (plain element_at throws under ANSI)
    val refreshAttrs = try_element_at(
      filter(regexp_extract_all(h, lit(metaTagPattern), lit(1)),
        a => lower(a).rlike(
          "http-equiv\\s*=\\s*[\"']?\\s*refresh")), lit(1))
    val baseHref0 = attrValue(regexp_extract(h, baseTagPattern, 1), "href")
    val baseHref = when(baseHref0.startsWith("#"), lit(""))
      .otherwise(baseHref0)
    // the url= value may itself be quoted INSIDE the content directive
    // (content="0; url='/x'" — browser-accepted); strip one layer of
    // matching quotes before resolving, same unquote rule as attrValue
    val rawTarget = trim(regexp_extract(col("_c"), "(?i)url\\s*=\\s*(.*)$", 1))
    val target = when(length(rawTarget) >= 2 &&
        ((rawTarget.startsWith("\"") && rawTarget.endsWith("\"")) ||
          (rawTarget.startsWith("'") && rawTarget.endsWith("'"))),
      trim(rawTarget.substr(lit(2), length(rawTarget) - 2)))
      .otherwise(rawTarget)
    pages
      .select(col(idCol), h,
        Url.canonicalizeUrl(col(baseUrlCol)).as("_base"),
        substring_index(substring_index(col(baseUrlCol), "#", 1), "?", 1)
          .endsWith("/").as("_dirsl"))
      .select(col(idCol),
        when(baseHref === "", dirBase(col("_base"), col("_dirsl")))
          .otherwise(resolveHref(dirBase(col("_base"), col("_dirsl")),
            decodeEntities(baseHref)))
          .as("_rbase"),
        attrValue(coalesce(refreshAttrs, lit("")), "content").as("_c"))
      .select(col(idCol), col("_rbase"),
        regexp_extract(col("_c"), "^\\s*([0-9]+(?:\\.[0-9]+)?)", 1)
          .as("_d"),
        target.as("target"))
      .filter(col("target") =!= "")
      .select(col(idCol),
        coalesce(col("_d").cast("double"), lit(0.0)).as("delay_s"),
        col("target"),
        resolveHref(col("_rbase"), decodeEntities(col("target")))
          .as("_abs"))
      .withColumn("target_canon", Url.canonicalizeUrl(col("_abs")))
      .drop("_abs")
  }

  /** The `<link …>` tag's attribute blob, quote-aware like
    * [[aTagPattern]]. */
  private val linkTagPattern =
    "(?is)<link\\b((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>"

  /** REL=CANONICAL extraction — the page's self-declared canonical URL
    * (`<link rel="canonical" href=…>`), the dedup hint crawl pipelines
    * prefer over content hashing when present (it collapses
    * parameter/subdomain/mirror variants the canonicalizer cannot know
    * about). One row per page that declares one: the raw href, its
    * resolved canonical form (the [[linkExtract]] rules, `<base>`
    * included), and `is_self` — whether the declaration points at the
    * page's own canonical URL (a non-self canonical is the "this page
    * is a duplicate, index THAT one" signal; dedup keyed on
    * `canonical_canon` collapses the variants). `rel` is matched as a
    * WORD of the space-separated token list (rel="canonical alternate"
    * counts; rel="canonicalish" does not). A declaration whose href
    * carries a NON-FETCH scheme (`javascript:`/`mailto:`/`tel:`/
    * `data:` — [[linkExtract]]'s exact guard) counts as NO declaration
    * and emits NO row (round 20, r19 ADVICE: the resolver's grammar
    * would otherwise treat `mailto:x@y` as a relative path segment
    * and emit a junk resolved URL; an unfetchable canonical target is
    * not a usable dedup key, so suppressing the declaration keeps
    * every consumer — [[canonicalDedup]] included — on the
    * `coalesce`-to-own-URL path; LinksSpec pins the mailto: case).
    * Row-local, zero exchanges. */
  def relCanonical(pages: DataFrame, htmlCol: String = "html",
                   baseUrlCol: String = "base_url",
                   idCol: String = "doc_id"): DataFrame =
    relCanonicalAll(pages, htmlCol, baseUrlCol, idCol)
      .filter(col("canonical_canon").isNotNull)
      .select(col(idCol), col("href"), col("canonical_canon"),
        (col("canonical_canon") === col("_base")).as("is_self"))

  /** The keep-all form of [[relCanonical]]: one row per PAGE — the
    * page's own canonical URL (`_base`), the declared href and its
    * resolved canonical form, both NULL when the page declares none.
    * This is what [[canonicalKeys]] fuses its URL gate onto (round 19,
    * r18 ADVICE: composing urlGate and relCanonical as two separate
    * page scans joined on doc_id cost a corpus-sized join that only
    * auto-broadcast hid at test scale — here gate and declaration are
    * columns of ONE scan). Row-local, zero exchanges. */
  private[graft] def relCanonicalAll(pages: DataFrame,
                                     htmlCol: String = "html",
                                     baseUrlCol: String = "base_url",
                                     idCol: String = "doc_id"): DataFrame = {
    val h = col(htmlCol)
    val canonAttrs = try_element_at(
      filter(regexp_extract_all(h, lit(linkTagPattern), lit(1)),
        a => lower(regexp_extract(a,
          "(?i)\\brel\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>\"']+)", 1))
          .rlike("(^|[\"'\\s])canonical([\"'\\s]|$)")), lit(1))
    val baseHref0 = attrValue(regexp_extract(h, baseTagPattern, 1), "href")
    val baseHref = when(baseHref0.startsWith("#"), lit(""))
      .otherwise(baseHref0)
    // CHEAP PRESCAN (round 19 — measured 2.55 s → the quote-aware
    // link-tag regex family on every row dominated the curate e2e): a
    // page whose html never contains the literal token "canonical"
    // (case-folded) cannot declare rel=canonical, so the extraction —
    // and, per row that does declare, the <base> regex and the whole
    // resolution chain — run inside `when` branches only where the
    // substring scan fires. Spark evaluates conditional branches
    // lazily, so non-declaring rows pay one lower+contains pass.
    val mayDeclare = lower(h).contains("canonical")
    // pin the resolved-absolute column as an ATTRIBUTE before the final
    // canonicalize: canonicalizeUrl references its input at ~15 leaves,
    // the callers (is_self / declared / dedup_key) reference the result
    // 2-3 more times, and CollapseProject would otherwise inline the
    // full resolve∘decode∘extract tree at every one of those leaves —
    // the measured round-19 first cut OOM'd the 8 GiB test heap on the
    // 5k-row fixture
    pinColumns(pages
        .select(col(idCol), h,
          Url.canonicalizeUrl(col(baseUrlCol)).as("_base"),
          substring_index(substring_index(col(baseUrlCol), "#", 1), "?", 1)
            .endsWith("/").as("_dirsl"))
        .select(col(idCol), col("_base"), h, col("_dirsl"),
          when(mayDeclare,
            attrValue(coalesce(canonAttrs, lit("")), "href"))
            .otherwise(lit("")).as("_href0"))
        // a NON-FETCH-scheme declared href (javascript/mailto/tel/
        // data) is treated as NO declaration (round 20, r19 ADVICE —
        // the same scheme guard [[linkExtract]] applies to <a> tags:
        // the resolver's grammar would otherwise join `mailto:x@y` as
        // a RELATIVE path segment and hand consumers a junk dedup
        // key; an unfetchable canonical target cannot be a canonical)
        .select(col(idCol), col("_base"), h, col("_dirsl"),
          when(lower(col("_href0"))
              .rlike("^(javascript|mailto|tel|data):"), lit(""))
            .otherwise(col("_href0")).as("_href"))
        // the resolution base in its OWN projection level, null-guarded:
        // resolveHref references its base arg at ~8 leaves, so this
        // alias must stay materialized (CollapseProject's
        // multi-reference guard keeps it) — inlined, the <base> regex
        // ran 8× per declaring row (measured 40 s on the 5k probe)
        .select(col(idCol), col("_base"), col("_href"),
          when(col("_href") === "", lit(null).cast("string"))
            .otherwise(
              when(baseHref === "", dirBase(col("_base"), col("_dirsl")))
                .otherwise(resolveHref(dirBase(col("_base"), col("_dirsl")),
                  decodeEntities(baseHref))))
            .as("_rbase"))
        .select(col(idCol), col("_base"),
          when(col("_href") === "", lit(null).cast("string"))
            .otherwise(col("_href")).as("href"),
          when(col("_href") === "", lit(null).cast("string"))
            .otherwise(resolveHref(col("_rbase"), decodeEntities(col("_href"))))
            .as("_abs")))
      .select(col(idCol), col("_base"), col("href"),
        when(col("_abs").isNull, lit(null).cast("string"))
          .otherwise(Url.canonicalizeUrl(col("_abs"))).as("canonical_canon"))
  }

  /** Anchor-text aggregation: the per-TARGET view of the link layer —
    * in-link count, follow count, distinct linking pages, and the
    * first-occurrence anchor (LEXICOGRAPHIC lowest `(doc_id, link_idx)`
    * — the same min-struct convention [[linkDiscover]] uses; a numeric
    * composite like doc_id·k + link_idx breaks on any page with ≥ k
    * tags and collides across documents). `min_by` on a struct key is
    * map-side combinable, no window. At crawl scale this is the one
    * exchange the layer pays: a single aggregation on `target_canon`,
    * partial-combined before the shuffle. */
  def anchorText(links: DataFrame): DataFrame =
    links.groupBy("target_canon")
      .agg(count(lit(1)).as("n_links"),
        sum(when(!col("nofollow"), 1L).otherwise(0L)).as("n_follow"),
        count_distinct(col("doc_id")).as("n_src_docs"),
        min_by(col("anchor"), struct(col("doc_id"), col("link_idx")))
          .as("first_anchor"))

  /** ANCHOR-ENDORSED curation gate (round 19 — the r18 verdict's #3:
    * [[anchorText]]'s off-page signal reached the fetch queue
    * ([[frontierRank]]) but never the KEPT corpus): per candidate doc
    * `(doc_id, url, text)`, the corpus-wide anchor aggregates of the
    * doc's OWN canonical URL join in, and the gate keeps a page that
    * passes the text-quality filter OR carries ≥ `minFollow` follow
    * endorsements — the link-endorsed RESCUE web-scale curation
    * applies: anchor text and in-links are written by THIRD PARTIES,
    * so they retain borderline pages whose on-page signals alone would
    * drop them (and `first_anchor` rides along as the off-page
    * description). Emits per doc: the quality verdict, the endorsement
    * stats, and the final `keep`.
    *
    * Scale shape: the quality signals fuse into the same scan as the
    * canonicalizer ([[graft.ops.TextAnalysis.qualityFailReasons]] as an
    * expression — no doc_id self-join of two corpus scans, the
    * canonicalKeys lesson); the anchor side is [[anchorText]]'s single
    * hash-agg; the join is ONE equi-join on the canonical URL key —
    * corpus × |link-targets|, an honest shuffle with no broadcast
    * assumption at any scale. */
  def anchorEndorsedCurate(docs: DataFrame, links: DataFrame,
                           minFollow: Long = 3L): DataFrame = {
    val anchors = anchorText(links)
      .select(col("target_canon"), col("n_follow").as("_nf"),
        col("n_src_docs").as("_ns"), col("first_anchor"))
    val base = pinColumns(docs.select(col("doc_id"),
        Url.canonicalizeUrl(col("url")).as("url_canon"),
        (graft.ops.TextAnalysis.qualityFailReasons(col("text")) === "")
          .as("quality_keep")))
    base.join(anchors, col("url_canon") === col("target_canon"), "left")
      .select(col("doc_id"), col("url_canon"), col("quality_keep"),
        coalesce(col("_nf"), lit(0L)).as("n_follow"),
        coalesce(col("_ns"), lit(0L)).as("n_src_docs"),
        col("first_anchor"),
        (col("quality_keep") || coalesce(col("_nf"), lit(0L)) >= minFollow)
          .as("keep"))
  }

  /** Deterministic endorsement-link fixture (round 19 — the
    * [[anchorEndorsedCurate]] oracle corpus: [[syntheticLinkedHtml]]'s
    * pages are never TARGETS of their own links, so no existing link
    * frame endorses a curatable doc): every doc whose `doc_id%10 ≠ 0`
    * emits one follow link (nofollow when `doc_id%4 = 0`) at its
    * block HEAD — the doc `doc_id - doc_id%10` — with anchor
    * `rec <src>`; targets are the heads' own [[Url.syntheticUrls]]
    * canonical forms, so the gate's join key is the real canonical
    * chain (and colliding canons merge endorsements exactly as the
    * aggregate defines). Pure doc_id arithmetic; the join to the
    * heads' URLs is fixture GENERATION, not operator work. */
  def syntheticEndorseLinks(docs: DataFrame): DataFrame = {
    val u = Url.syntheticUrls(docs).select(col("doc_id"),
      Url.canonicalizeUrl(col("url")).as("_uc"))
    val src = u.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"),
        (col("doc_id") - pmod(col("doc_id"), lit(10))).as("_tgt"))
    src.join(u.select(col("doc_id").as("_tgt"), col("_uc").as("target_canon")),
        Seq("_tgt"))
      .select(col("doc_id"), lit(1L).as("link_idx"), col("target_canon"),
        concat(lit("rec "), col("doc_id")).as("anchor"),
        (pmod(col("doc_id"), lit(4)) === 0).as("nofollow"))
  }

  /** Pin a frame's already-computed expensive columns as ATTRIBUTES
    * before further expression-heavy derivation: a one-element `explode`
    * is a Generate node, and Catalyst's CollapseProject cannot
    * substitute a parent projection's aliases through a Generate — so
    * everything below stays computed ONCE. Without it, re-deriving from
    * [[linkExtract]]'s computed columns blows up multiplicatively:
    * [[Url.registrableDomain]] references its input at ~10 leaves, each
    * leaf re-inlining the full canonicalize∘resolve∘decode tree, and
    * the collapse compounds per projection level — the measured
    * optimized plan was 300 MB (the domain_quota_sample round-16
    * lesson, one level deeper). The Generate costs zero storage and
    * stays one streaming codegen pass (GenerateExec participates in
    * whole-stage codegen), unlike a cache/localCheckpoint barrier that
    * would materialize a corpus-sized frame. */
  private[graft] def pinColumns(df: DataFrame): DataFrame = {
    val names = df.columns.toSeq
    df.select(explode(array(struct(names.map(col): _*))).as("_pin"))
      .select(names.map(n => col("_pin")(n).as(n)): _*)
  }

  /** The domain-level link graph: one edge per FOLLOW link between two
    * DIFFERENT registrable domains (intra-site navigation and nofollow
    * edges carry no endorsement — the standard centrality-graph
    * hygiene). Parallel edges are KEPT: multiplicity is the edge
    * weight, the [[Graph.coPurchaseEdges]] convention, so the frame
    * feeds [[Graph.pageRank]] unchanged. Row-local on top of
    * [[linkExtract]] — the canonical columns are [[pinColumns]]-pinned
    * first so both domain extractions reference attributes, not
    * re-inlined expression trees. */
  def hostGraph(links: DataFrame): DataFrame =
    pinColumns(links.filter(!col("nofollow"))
        .select(col("_base"), col("target_canon")))
      .select(Url.registrableDomain(col("_base")).as("src"),
        Url.registrableDomain(col("target_canon")).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** LINK-driven frontier discovery end-to-end (round 17 — the link
    * layer's composition into the crawl loop, the [[Url.crawlDiscover]]
    * shape with page outlinks as the seed source): follow links only
    * (a `rel=nofollow` edge carries no endorsement and a polite
    * LLM-data crawler does not schedule fetches from it) → the crawl
    * admission rules of [[Url]] on the target (scheme, blocklist, the
    * target domain's robots rules) → first-occurrence winner per
    * canonical target (lowest `(doc_id, link_idx)`, min-struct, map-
    * side combinable) → novelty anti-join against the admitted
    * catalog ([[Url.novel]]). Output: one row per NOVEL admitted target.
    *
    * Scale shape: the extraction is scan-fused; the canon columns are
    * [[pinColumns]]-pinned before the domain/path re-derivations (the
    * hostGraph plan-size lesson); the winner aggregation hash-partitions
    * on `target_canon`, so the catalog anti-join adds no stream-side
    * exchange. */
  def linkDiscover(pages: DataFrame, blocked: Seq[String],
                   robots: DataFrame, catalog: DataFrame,
                   agent: String = "*",
                   expectedDomains: Long = 0L,
                   policy: Option[DataFrame] = None): DataFrame = {
    val firsts = discoverFirsts(linkExtract(pages), blocked, robots, agent,
      expectedDomains, policy)
    Url.novel(firsts,
      col(if (policy.isDefined) "target_learned" else "target_canon"),
      catalog, policy.isDefined)
  }

  /** The gate-and-dedup front half of [[linkDiscover]], over an
    * already-extracted link frame (so compositions that also need the
    * links — [[frontierRank]] — extract once): follow-only → scheme →
    * blocklist → robots → first-occurrence winner per canonical
    * target (per learned key with a `policy`, [[Url.withLearnedKey]]).
    * Returns `(doc_id, link_idx, target_url, target_canon)`, plus
    * `target_learned` with a policy, hash-partitioned on the winner's
    * key. */
  private[graft] def discoverFirsts(linkFrame: DataFrame,
                                    blocked: Seq[String], robots: DataFrame,
                                    agent: String,
                                    expectedDomains: Long = 0L,
                                    policy: Option[DataFrame] = None)
      : DataFrame = {
    val links = pinColumns(
      linkFrame.filter(!col("nofollow"))
        .select(col("doc_id"), col("link_idx"), col("href_abs"),
          col("target_canon")))
    val gated = Url.admitted(links
        .filter(Url.schemeOk(col("target_canon")))
        .withColumn("_td", Url.registrableDomain(col("target_canon"))),
      "_td", "target_canon", blocked, robots, agent, expectedDomains)
    // with a `policy` the winner collapses on the learned key (session
    // variants of one page are ONE candidate), and the caller's novelty
    // anti-join reuses this partitioning on `target_learned`
    val keyed = Url.withLearnedKey(gated, policy, "_td", "target_canon",
      "_nov", expectedDomains)
    val firsts = keyed.groupBy("_nov")
      .agg(min(struct(col("doc_id"), col("link_idx"), col("href_abs"),
        col("target_canon"))).as("_w"))
      .select(col("_w.doc_id").as("doc_id"),
        col("_w.link_idx").as("link_idx"),
        col("_w.href_abs").as("target_url"),
        col("_w.target_canon").as("target_canon"), col("_nov"))
    if (policy.isDefined)
      firsts.withColumnRenamed("_nov", "target_learned")
    else firsts.drop("_nov")
  }

  /** REDIRECT-AWARE frontier discovery (round 18 — the round-17
    * verdict's composition gap: [[linkDiscover]] enqueued raw targets,
    * so a frontier URL that is a redirect stub was admitted as itself,
    * fetched, and only then discovered moved). Same gates and
    * first-occurrence winner as [[linkDiscover]], then every candidate
    * target probes the CHAIN-RESOLVED redirect map
    * ([[Graph.resolveChains]] over `redirects` — HTTP Location and
    * [[metaRefresh]] edges alike):
    *  - a target that is a redirect source schedules its `final_canon`
    *    (the chain end), with `hops` counting the chain length;
    *  - an UNRESOLVED target (a redirect cycle — a fetch trap) is
    *    dropped entirely;
    *  - targets off the map schedule themselves (`hops` 0).
    * The RESOLVED target is RE-GATED (round 19, r18 ADVICE):
    * `final_canon` is the fetch the scheduler actually issues, so the
    * scheme/blocklist/robots verdicts re-run against it — without
    * this, a gate-passing stub that redirects onto a blocked domain
    * or a robots-disallowed path is a gate BYPASS. Unredirected rows
    * (`hops` 0) re-test their own already-passed target — a no-op by
    * construction. Two raw targets collapsing onto one final URL keep
    * the lowest `(doc_id, link_idx)` witness, and the NOVELTY
    * anti-join probes `final_canon` — not the stub.
    *
    * Scale shape: the redirect map is |redirects|-sized (far below
    * page scale) and already resolved in ⌈log₂ maxHops⌉ self-joins;
    * the probe is one equi-join on the winner aggregation's
    * partitioning key; the re-gate is the same row-local
    * blocklist/rules probes as the pre-gate (strategy follows
    * `expectedDomains`); the final-collapse is one more hash-agg, and
    * the catalog anti-join is unchanged. */
  def linkDiscoverResolved(pages: DataFrame, blocked: Seq[String],
                           robots: DataFrame, catalog: DataFrame,
                           redirects: DataFrame,
                           agent: String = "*",
                           expectedDomains: Long = 0L,
                           policy: Option[DataFrame] = None): DataFrame = {
    val firsts = discoverFirsts(linkExtract(pages), blocked, robots, agent,
      expectedDomains)
    val resolved = Graph.resolveChains(redirects)
      .select(col("src").as("_rs"), col("final_url"),
        col("hops").as("_rh"), col("resolved").as("_rok"))
    val probed = firsts
      .join(resolved, col("target_canon") === col("_rs"), "left")
      .filter(col("_rok").isNull || col("_rok"))
      .select(col("doc_id"), col("link_idx"), col("target_url"),
        col("target_canon"),
        coalesce(col("final_url"), col("target_canon")).as("final_canon"),
        coalesce(col("_rh"), lit(0L)).as("hops"))
    // re-gate the RESOLVED fetch on final_canon's registrable domain and
    // path
    val regated = Url.admitted(pinColumns(probed)
        .filter(Url.schemeOk(col("final_canon")))
        .withColumn("_fd", Url.registrableDomain(col("final_canon"))),
      "_fd", "final_canon", blocked, robots, agent, expectedDomains)
    // the learned key strips the RESOLVED fetch: a stub redirecting onto
    // a session variant of a cataloged page folds onto the page's key
    val keyed = Url.withLearnedKey(regated, policy, "_fd", "final_canon",
        "_nov", expectedDomains)
      .select(col("doc_id"), col("link_idx"), col("target_url"),
        col("target_canon"), col("final_canon"), col("hops"), col("_nov"))
    val collapsed = keyed.groupBy("_nov")
      .agg(min(struct(col("doc_id"), col("link_idx"), col("target_url"),
        col("target_canon"), col("hops"), col("final_canon"))).as("_w"))
      .select(col("_w.doc_id").as("doc_id"),
        col("_w.link_idx").as("link_idx"),
        col("_w.target_url").as("target_url"),
        col("_w.target_canon").as("target_canon"),
        col("_w.final_canon").as("final_canon"),
        col("_w.hops").as("hops"), col("_nov"))
    val fresh = Url.novel(collapsed, col("_nov"), catalog, policy.isDefined)
    if (policy.isDefined) fresh.withColumnRenamed("_nov", "final_learned")
    else fresh.drop("_nov")
  }

  /** ANCHOR-ENDORSED frontier scheduling (round 18 — the round-17
    * verdict's other composition gap: [[anchorText]] aggregated the
    * classic off-page relevance signal and nothing consumed it): the
    * novel admitted targets of [[linkDiscover]] joined with their
    * anchor aggregates and ranked per REGISTRABLE DOMAIN by follow-link
    * endorsement — `priority` 1 is the domain's most-endorsed fetch,
    * ties broken by distinct linking pages then the canonical key. The
    * per-domain framing is the crawl-politeness reality: a scheduler
    * drains one queue per domain, so the rank that matters is within
    * the domain's queue, and the window key is domain-cardinality —
    * high, so no reducer sees more than one domain's queue.
    *
    * The gates and BOTH per-target views are FUSED into one pass: the
    * gate verdict rides each link row as a flag (`_adm`, broadcast
    * probes only), and a SINGLE aggregation on `target_canon` computes
    * the admitted winner (min-struct over flagged rows) alongside the
    * anchor stats over ALL rows — one extraction pass and one shuffle
    * where the composed `discoverFirsts + anchorText + join` form paid
    * two of each (a second full pass over the HTML extraction
    * dominated; the dedup_canonical lesson). A target with no admitted
    * link aggregates a NULL winner and drops. */
  def frontierRank(pages: DataFrame, blocked: Seq[String],
                   robots: DataFrame, catalog: DataFrame,
                   agent: String = "*",
                   expectedDomains: Long = 0L): DataFrame =
    frontierRankCore(pages, blocked, robots, catalog, None, agent,
      expectedDomains)

  /** AUTHORITY-WEIGHTED frontier scheduling (round 20 — the r19
    * verdict's #3: [[Graph.pageRank]] over the host graph was computed
    * and consumed by nothing): [[frontierRank]] with the per-domain
    * centrality table joined in, ordering each domain's queue by
    * `authority` — the sum of the ENDORSING host's rank over
    * cross-domain follow in-links (an internal link is not an
    * endorsement; a host off the rank table contributes 0) — before
    * the anchor-count tiebreaks. This is the classic crawl-scheduling
    * composition: a single link from a high-centrality hub outranks
    * many links from obscure hosts. `hostRank` is `(node, pr)` —
    * [[Graph.pageRank]] over [[hostGraph]], refreshed offline in
    * production and probed here like every |domains|-sized frame
    * ([[Url.domainFrameSide]], `expectedDomains`).
    *
    * Scale shape: identical to [[frontierRank]] plus one row-local
    * probe — the src-page domain derives from the extraction's own
    * `_base` column (no second corpus scan, no doc_id self-join) and
    * the rank joins on it before the SAME single fused aggregation. */
  def frontierRankAuthority(pages: DataFrame, blocked: Seq[String],
                            robots: DataFrame, catalog: DataFrame,
                            hostRank: DataFrame,
                            agent: String = "*",
                            expectedDomains: Long = 0L): DataFrame =
    frontierRankCore(pages, blocked, robots, catalog, Some(hostRank),
      agent, expectedDomains)

  private def frontierRankCore(pages: DataFrame, blocked: Seq[String],
                               robots: DataFrame, catalog: DataFrame,
                               hostRank: Option[DataFrame],
                               agent: String,
                               expectedDomains: Long): DataFrame = {
    // pin ONCE: the gate flags and the aggregation below would otherwise
    // re-inline the full canonicalize∘resolve∘decode tree per reference —
    // the plan-size failure mode pinColumns exists for. The authority
    // variant also keeps the SRC page's registrable domain — derived
    // from the extraction's own `_base`, scan-fused.
    val baseCols = Seq(col("doc_id"), col("link_idx"), col("href_abs"),
      col("target_canon"), col("anchor"), col("nofollow"))
    val links = pinColumns(linkExtract(pages).select(
      (if (hostRank.isDefined)
        baseCols :+ Url.registrableDomain(col("_base")).as("_srcd")
      else baseCols): _*))
    val flagged = Url.probeBlocklist(links
        .withColumn("_td", Url.registrableDomain(col("target_canon"))),
        blocked, "_td")
      .join(Url.domainFrameSide(Url.domainRobotsRules(robots, agent, "_td"),
        expectedDomains), Seq("_td"), "left")
      .withColumn("_adm", !col("nofollow") &&
        Url.schemeOk(col("target_canon")) && col("_blocked").isNull &&
        Url.robotsAllowed(col("_rules"),
          Url.canonPathQuery(col("target_canon"))))
    // the authority variant probes the rank on the SRC domain — one
    // more row-local |domains|-frame join, then the same single agg
    val ranked = hostRank match {
      case Some(hr) => flagged.join(
        Url.domainFrameSide(hr.select(col("node").as("_srcd"),
          col("pr")), expectedDomains), Seq("_srcd"), "left")
      case None => flagged
    }
    val statAggs = Seq(
      sum(when(!col("nofollow"), 1L).otherwise(0L)).as("n_follow"),
      count_distinct(col("doc_id")).as("n_src_docs"),
      min_by(col("anchor"), struct(col("doc_id"), col("link_idx")))
        .as("first_anchor"),
      min(col("_td")).as("domain")) ++
      (if (hostRank.isDefined)
        Seq(sum(when(!col("nofollow") && col("_srcd") =!= col("_td"),
          coalesce(col("pr"), lit(0L))).otherwise(0L)).as("authority"))
      else Nil)
    val agg = ranked.groupBy("target_canon")
      .agg(min(when(col("_adm"),
          struct(col("doc_id"), col("link_idx"), col("href_abs"))))
          .as("_w"),
        statAggs: _*)
      .filter(col("_w").isNotNull)
    val orderCols =
      (if (hostRank.isDefined) Seq(col("authority").desc) else Nil) ++
        Seq(col("n_follow").desc, col("n_src_docs").desc,
          col("target_canon"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain")
      .orderBy(orderCols: _*)
    val outCols = Seq(col("domain"), col("target_canon"),
      col("_w.href_abs").as("target_url")) ++
      (if (hostRank.isDefined) Seq(col("authority")) else Nil) ++
      Seq(col("n_follow"), col("n_src_docs"), col("first_anchor"))
    Url.novel(agg, col("target_canon"), catalog, learned = false)
      .select(outCols: _*)
      .withColumn("priority", row_number().over(w).cast("long"))
  }

  /** CANONICAL-DECLARATION-AWARE exact dedup (round 18 — realizing
    * [[relCanonical]]'s stated purpose: the page-declared canonical URL
    * is the dedup key crawl pipelines prefer over content hashing when
    * present, because it collapses parameter/subdomain/mirror variants
    * the canonicalizer cannot know about). Per page: URL gate (scheme +
    * registrable-domain blocklist — the cheapest drop, before any
    * content work), then first-occurrence dedup among GATE-PASSERS on
    * `coalesce(canonical_canon, url_canon)` — a declared canonical
    * collapses all its variants onto one key; an undeclared page keys
    * on its own canonical URL (plain URL dedup). A gated-out page can
    * never claim a clean page's slot (the curate-pipeline convention).
    * Output per input page: the gate verdict, whether a canonical was
    * declared, the dedup key, and `keep` (the key's lowest-doc_id
    * gate-passing witness).
    *
    * Scale shape: extraction and gating are scan-fused row-local work
    * (the gate frames broadcast); the winner is ONE row_number window
    * over the key, ordered gate-passers-first — a single corpus pass
    * and a single shuffle. A window is the RIGHT shape here (unlike
    * the megadomain-rank cases DESIGN.md §4 bans): the partition key
    * is page identity — cardinality ~n, so no reducer sees more than
    * a handful of variant rows. The agg+join-back alternative costs a
    * second full pass over the HTML extraction, which dominates. */
  def canonicalDedup(pages: DataFrame, blocked: Seq[String],
                     htmlCol: String = "html",
                     baseUrlCol: String = "base_url",
                     idCol: String = "doc_id"): DataFrame = {
    val keyed = canonicalKeys(pages, blocked, htmlCol, baseUrlCol, idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("dedup_key").orderBy(col("url_ok").desc, col(idCol))
    keyed.withColumn("_rn", row_number().over(w))
      .select(col(idCol), col("url_ok"), col("declared"), col("dedup_key"),
        (col("_rn") === 1 && col("url_ok")).as("keep"))
  }

  /** The per-page keying stage of [[canonicalDedup]]: URL gate verdict
    * + whether a canonical was declared + the dedup key
    * `coalesce(canonical_canon, url_canon)`.
    * ONE page scan (round 19, r18 ADVICE): the gate verdict columns
    * (scheme + blocklist broadcast probe on the page's registrable
    * domain) compute row-locally in the same projection that extracts
    * the canonical declaration — no doc_id self-join of two corpus
    * scans. The [[pinColumns]] stage keeps the PSL derivation from
    * re-inlining the canonicalize tree. */
  private[graft] def canonicalKeys(pages: DataFrame, blocked: Seq[String],
                                   htmlCol: String = "html",
                                   baseUrlCol: String = "base_url",
                                   idCol: String = "doc_id"): DataFrame =
    Url.probeBlocklist(
        pinColumns(relCanonicalAll(pages, htmlCol, baseUrlCol, idCol))
          .withColumn("_dom", Url.registrableDomain(col("_base")))
          .withColumn("_scheme_ok", Url.schemeOk(col("_base"))),
        blocked, "_dom")
      .select(col(idCol),
        (col("_scheme_ok") && col("_blocked").isNull).as("url_ok"),
        col("canonical_canon").isNotNull.as("declared"),
        coalesce(col("canonical_canon"), col("_base")).as("dedup_key"),
        // the page's OWN canonical URL rides along (round 20): the
        // endorsement join in the curate e2e keys on it, and it is
        // already computed here — re-deriving it downstream would
        // re-inline the canonicalize tree
        col("_base").as("url_canon"))

  /** Deterministic per-document HTML pages with a FIXED 8-slot `<a>`
    * template — every field a pure function of `doc_id` so the DuckDB
    * oracle REGENERATES the expected extraction (hash equality proves
    * parse ∘ generate = identity, the syntheticRobots convention). The
    * base URL is [[Url.syntheticUrls]]' url for the same doc (so base
    * canonicalization, ftp schemes, and kept ports all flow through
    * resolution). Slots (1-based tag positions):
    *  1. absolute cross-TLD link — `www.`-prefixed host on the NEXT
    *     tld-wheel entry (the host graph's inter-domain edge), an
    *     entity-escaped query (`?b=2&amp;a=1`) every 4th doc, and
    *     markup + a double-escaped entity in the anchor;
    *  2. `<a name=…>` with NO href — dropped, index still consumed;
    *  3. root-relative child page, uppercase tag + single quotes; the
    *     anchor is an `<img alt>` every 5th doc (the alt-text fallback
    *     must produce the same anchor);
    *  4. `javascript:` — dropped;
    *  5. path-relative sibling, `../up/<m7>` every 6th doc (dot-segment
    *     resolution) else `sib<m7>.html` (directory join — against
    *     `/bdir/` on every 11th doc, which sets a relative
    *     `<base href="/bdir/">`);
    *  6. protocol-relative CDN link, `rel=nofollow`, entity in anchor;
    *  7. fragment-only `#top` — dropped;
    *  8. `mailto:` — dropped.
    * Survivors: slots 1, 3, 5, 6 — four links per document. The head
    * additionally carries a META-REFRESH every 9th doc (the second
    * directive spelling QUOTES the target inside the directive —
    * `URL="/moved/…"` — so the unquote path is oracle-exercised;
    * url-less —
    * i.e. NOT a redirect — when m5=0; else `/moved/<m7>` in one of two
    * directive spellings) for [[metaRefresh]]. */
  def syntheticLinkedHtml(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def m(k: Int): Column = pmod(id, lit(k))
    // the NEXT entry on syntheticUrls' 8-TLD wheel: same source, shifted
    // TLD — so absolute links connect the fixture's own domain family
    val tld2 = element_at(
      array(lit("com"), lit("Org"), lit("net"),
        lit("co.uk"), lit("com.au"), lit("org.uk"),
        lit("ck"), lit("k12.ma.us")),
      (pmod(pmod(id, lit(13)) + 1, lit(8)) + 1).cast("int"))
    val absHref = concat(lit("https://www."), col("source"), lit("-site."),
      tld2, lit("/p/"), m(13),
      when(m(4) === 0, lit("?b=2&amp;a=1")).otherwise(lit("")))
    val relHref = when(m(6) === 0, concat(lit("../up/"), m(7)))
      .otherwise(concat(lit("sib"), m(7), lit(".html")))
    // every 11th doc sets a RELATIVE <base href> (resolves against the
    // page, then becomes the base for the path-relative slot); every
    // 5th doc's slot-3 anchor is an <img alt> (the text fallback);
    // every 9th doc carries a META-REFRESH — url-less (a self-reload,
    // NOT a redirect) when m5==0, else a /moved/<m7> target in one of
    // two browser-accepted directive spellings
    val refresh = when(m(9) =!= 0, lit(""))
      .when(m(5) === 0,
        lit("<meta http-equiv=\"refresh\" content=\"5\">"))
      .when(m(2) === 0, concat(
        lit("<meta http-equiv=\"refresh\" content=\"2;url=/moved/"),
        m(7), lit("\">")))
      .otherwise(concat(
        lit("<meta http-equiv='Refresh' content='3; URL=\"/moved/"),
        m(7), lit("\"'>")))
    // every 7th doc declares a rel=canonical: root-relative to its own
    // query-stripped path when m3==0 (self iff the page canon carries
    // no query), else the SUBDOMAIN-STRIPPED https host — the classic
    // variant-collapse declaration (never self: fixture pages always
    // have a Sub<m7> host label)
    val tldLow = element_at(
      array(lit("com"), lit("org"), lit("net"),
        lit("co.uk"), lit("com.au"), lit("org.uk"),
        lit("ck"), lit("k12.ma.us")),
      (pmod(pmod(id, lit(13)), lit(8)) + 1).cast("int"))
    val canonicalLink = when(m(7) =!= 0, lit(""))
      .when(m(3) === 0,
        concat(lit("<link rel=\"canonical\" href=\"/p/"), m(13),
          lit("\">")))
      .otherwise(concat(lit("<link rel='canonical alternate' " +
        "href='https://"), col("source"), lit("-site."), tldLow,
        lit("/p/"), m(13), lit("'>")))
    val head = concat(lit("<head>"),
      when(m(11) === 0, lit("<base href=\"/bdir/\">")).otherwise(lit("")),
      refresh, canonicalLink, lit("</head>"))
    val slot3Body = when(m(5) === 0,
      lit("<img src=\"/i.png\" alt='Next page'/>")).otherwise(lit("Next page"))
    val html = concat(
      lit("<html>"), head, lit("<body><p>Intro "), id, lit(".</p>\n"),
      lit("<a href=\""), absHref, lit("\">Read <b>more</b> "), id,
      lit(" &amp;amp; extras</a>\n"),
      lit("<a name=\"x\">no href</a>\n"),
      lit("<A HREF='/p/"), m(13), lit("/child'>"), slot3Body, lit("</A>\n"),
      lit("<a href=\"javascript:void(0)\">Click</a>\n"),
      lit("<a href=\""), relHref, lit("\">Sibling "), m(7), lit("</a>\n"),
      lit("<a rel=\"nofollow\" href=\"//cdn"), m(3),
      lit(".example.net/r/"), m(9), lit("\">sponsored &amp; paid</a>\n"),
      lit("<a href=\"#top\">Top</a>\n"),
      lit("<a href=\"mailto:a@b.example\">mail</a>\n"),
      lit("</body></html>"))
    Url.syntheticUrls(docs)
      .select(col("doc_id"), col("source"), col("url").as("base_url"))
      .withColumn("html", html)
  }

  /** Deterministic redirect edges over a synthetic canonical-URL space,
    * pure `doc_id` arithmetic (oracle-regenerable): docs group into
    * 8-slot chains (`g = doc_id - doc_id%8`), chain c = g/8 has length
    * `1 + c%7` (1..7 hops — real redirect chains are short; browsers
    * cap around 20, crawlers 5–10), slot p < len contributes the edge
    * hop p → hop p+1, and every 13th chain closes into a CYCLE (its
    * first past-the-end slot redirects back to hop 0 — redirect loops
    * are a real crawl pathology the resolver must terminate on).
    * Node keys are already-canonical URLs. */
  def syntheticRedirects(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val p = pmod(id, lit(8))
    val g = id - p
    val c = (g / 8).cast("long")
    val len = pmod(c, lit(7)) + 1
    def node(pos: Column): Column = concat(lit("https://r"), pmod(c, lit(97)),
      lit(".example.com/hop/"), c, lit("/"), pos)
    docs.select(id.as("doc_id"), p.as("_p"), len.as("_len"),
        node(p).as("_src"), node(p + 1).as("_fwd"), node(lit(0)).as("_loop"),
        pmod(c, lit(13)).as("_c13"))
      .filter(col("_p") < col("_len") ||
        (col("_p") === col("_len") && col("_c13") === 0))
      .select(col("_src").as("src"),
        when(col("_p") < col("_len"), col("_fwd")).otherwise(col("_loop"))
          .as("dst"))
  }

  /** Deterministic redirect edges over the LINK-TARGET canonical space
    * (round 18 — [[syntheticRedirects]] lives in its own synthetic URL
    * space; [[linkDiscoverResolved]] needs redirects that intersect
    * what [[syntheticLinkedHtml]]'s pages actually link to): for every
    * doc whose `m13 = doc_id%13` is a multiple of 4, its own slot-3
    * child target `<root>/p/<m13>/child` is a redirect stub —
    *  - hop 1: `<root>/p/<m13>/child` → `<root>/p/<m13>`, except
    *    m13 = 4, whose stub lands on `<root>/ok/4` (round 19: a 1-hop
    *    chain whose final passes the re-gate on EVERY domain — the
    *    pre-r19 1-hop landing `/p/4` was robots-gated away on the
    *    com.au domains m13=4 always maps to once the re-gate landed);
    *  - m13 ∈ {0, 8}: a second hop `<root>/p/<m13>` → `<root>/final/<m13>`
    *    (a 2-hop chain the resolver must compose);
    *  - m13 = 12: `<root>/p/12` → back to the child — a redirect CYCLE
    *    (the fetch trap [[Graph.resolveChains]] flags unresolved).
    * Round 19 (the [[linkDiscoverResolved]] re-gate's fixture): every
    * doc with `m7 = 5, m6 ≠ 0` makes its own slot-5 SIBLING target a
    * 1-hop stub onto `<root>/admin/redir` — a path the fixture's
    * robots disallow on EVERY domain (`Disallow: /admin`), so the
    * stub passes every pre-gate and the re-gate must drop its
    * resolution (the robots-bypass-by-redirect case, r18 ADVICE).
    * `<root>` is the doc's own canonical `scheme://host[:port]` (the
    * same base slot 3 resolves against), and the frame is `distinct()`
    * so the resolver's src-unique contract holds when doc_ids share a
    * (root, m13) pair. Pure doc_id arithmetic — the oracle regenerates
    * the map and its ≤2-hop resolution closed-form. */
  def syntheticLinkRedirects(docs: DataFrame): DataFrame = {
    val u = Url.syntheticUrls(docs).select(col("doc_id"),
      Url.canonicalizeUrl(col("url")).as("_c"))
    val scheme = substring_index(col("_c"), "://", 1)
    val after = col("_c").substr(length(scheme) + 4, lit(1 << 20))
    val root = concat(scheme, lit("://"), substring_index(after, "/", 1))
    val base0 = u.select(col("doc_id"), root.as("_r"),
      pmod(col("doc_id"), lit(13)).as("_m"))
    val base = base0.filter(pmod(col("_m"), lit(4)) === 0)
    val child = concat(col("_r"), lit("/p/"), col("_m"), lit("/child"))
    val page = concat(col("_r"), lit("/p/"), col("_m"))
    val e1 = base.select(child.as("src"),
      when(col("_m") === 4, concat(col("_r"), lit("/ok/4")))
        .otherwise(page).as("dst"))
    val e2 = base.filter(pmod(col("_m"), lit(8)) === 0)
      .select(page.as("src"),
        concat(col("_r"), lit("/final/"), col("_m")).as("dst"))
    val e3 = base.filter(col("_m") === 12)
      .select(page.as("src"), child.as("dst"))
    val e4 = base0.filter(pmod(col("doc_id"), lit(6)) =!= 0 &&
        pmod(col("doc_id"), lit(7)) === 5)
      .select(concat(col("_r"),
          when(pmod(col("doc_id"), lit(11)) === 0, lit("/bdir/sib5.html"))
            .otherwise(lit("/p/sib5.html"))).as("src"),
        concat(col("_r"), lit("/admin/redir")).as("dst"))
    e1.unionByName(e2).unionByName(e3).unionByName(e4).distinct()
  }

  /** Link pages for the LEARNED discovery loop (round 20 — the r19
    * verdict's #2 fixture, link flavor): one page per doc on a neutral
    * hub host, linking (1) a SESSION variant of session-domain page
    * `id%5` (`?sess=s<id>` — must fold onto the page's learned key and
    * not be re-admitted when the page is cataloged), (2) a CONTENT
    * selector (`?art=a<id>` — its own learned key, stays novel), and
    * (3) on the bare stripe a NOVEL page `/a/x<id%7>` (admitted once
    * per domain — and the redirect-aware variant's stub source,
    * [[syntheticSessionRedirects]]). Hrefs are emitted pre-canonical
    * so the oracle regenerates them closed-form. */
  def syntheticSessionLinkPages(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    // param/page wheels on the WITHIN-SOURCE index (the
    // [[graft.ops.Url.syntheticSessionUrls]] round-20 contract); the
    // novel-page wheel keeps raw `id%7` (gcd(7,20)=1)
    val g = floor(id / lit(20)).cast("long")
    def m(k: Int): Column = pmod(g, lit(k))
    val appRoot = concat(lit("https://"), col("source"), lit("-app.com/a/"))
    val html = concat(
      lit("<html><body>\n"),
      lit("<a href=\""), appRoot, m(5), lit("?sess=s"), id,
      lit("\">s</a>\n"),
      lit("<a href=\""), appRoot, m(5), lit("?art=a"), id,
      lit("\">a</a>\n"),
      when(m(4) === 3, concat(lit("<a href=\""), appRoot, lit("x"),
        pmod(id, lit(7)), lit("\">x</a>\n"))).otherwise(lit("")),
      lit("</body></html>\n"))
    docs.select(id.as("doc_id"), html.as("html"),
      concat(lit("https://hub.example.org/h/"), id).as("base_url"))
  }

  /** Redirect map for the LEARNED redirect-aware loop (round 20): each
    * novel stub `/a/x<k>` (k 0..6) redirects — on k%3=0 to a genuinely
    * novel page `/a/y<k>` (admitted, hops 1), otherwise onto a SESSION
    * VARIANT of cataloged page `k%5` (`?sess=sx<k>` — the case the
    * learned final-key exists for: without it the variant is "novel"
    * and the stub re-enqueues a cataloged page). Single-hop by
    * construction (no dst is a src). */
  def syntheticSessionRedirects(docs: DataFrame): DataFrame = {
    val ks = docs.select(col("source")).distinct()
      .select(col("source"), explode(sequence(lit(0), lit(6))).as("k"))
    val root = concat(lit("https://"), col("source"), lit("-app.com/a/"))
    ks.select(
      concat(root, lit("x"), col("k")).as("src"),
      when(pmod(col("k"), lit(3)) === 0,
          concat(root, lit("y"), col("k")))
        .otherwise(concat(root, pmod(col("k"), lit(5)),
          lit("?sess=sx"), col("k"))).as("dst"))
  }
}
