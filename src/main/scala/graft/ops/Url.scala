package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** One candidate row of [[Url.domainQuotaSample]]'s per-domain bounded
  * top-k: `rank_key` is the deterministic md5 sampling key, the
  * aggregator orders ascending by (rank_key, doc_id). */
final case class DomainDoc(domain: String, rank_key: String, doc_id: Long)

/** URL-level curation (round-13 addition to SURVEY.md §2.5's crawl front
  * end): canonicalized-URL exact dedup and per-domain aggregation feeding
  * sampling quotas. In a real crawl pipeline these run BEFORE any content
  * op — the cheapest dedup there is (a string key per page, no shingles,
  * no vectors) and the mix-control lever every large corpus uses (per
  * C4/CCNet practice: cap the share any single domain contributes).
  *
  * Everything here is row-local expression work plus one hash aggregation
  * on the canonical key — the 100 TB shape: the canonicalizer runs fused
  * into the scan; the dedup/stats shuffles carry only (key, count)-sized
  * rows. The DuckDB oracle replays the same string pipeline, so the
  * canonicalization contract is pinned cross-engine.
  */
object Url {

  /** Deterministic synthetic URL corpus over `documents` — the
    * [[Multimodal.syntheticMedia]] fixture pattern: every doc gets a raw
    * URL whose messiness (scheme/host case, www prefix, default and
    * explicit ports, trailing slash, shuffled + tracking query params,
    * fragments) is a pure function of doc_id, so the oracle rebuilds the
    * identical corpus and the canonicalizer's collapses are verifiable.
    * Collision structure: the canonical key folds case/port/slash/param
    * variants together, so distinct doc_ids genuinely collide (the dedup
    * has real work to do). */
  def syntheticUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), col("n_chars"),
      syntheticUrlColumn.as("url"))

  /** The raw-URL expression of [[syntheticUrls]] over `(doc_id,
    * source)` columns — exposed (round 19) so a composition can
    * derive html AND url in ONE scan of the documents table instead
    * of joining two generator frames on doc_id. */
  def syntheticUrlColumn: Column = {
    val id = col("doc_id")
    val scheme0 = element_at(
      array(lit("https"), lit("HTTP"), lit("http"), lit("HTTPS")),
      (pmod(id, lit(4)) + 1).cast("int"))
    // every 23rd doc is a non-http(s) link (ftp) so the scheme gate
    // ([[urlGate]]) has real work; the port rule below stays keyed on the
    // PRE-override scheme (doc_id%4) so the oracle's CASE replays it
    val scheme = when(pmod(id, lit(23)) === 0, lit("ftp")).otherwise(scheme0)
    val www = element_at(array(lit("WWW."), lit("www."), lit("")),
      (pmod(id, lit(3)) + 1).cast("int"))
    // registrable domain = source × TLD (so the per-domain stats have a
    // real distribution to aggregate); subdomain + case variance on top.
    // The TLD wheel draws from every PSL rule shape (round-16: 2-label
    // suffixes co.uk/com.au/org.uk, the 3-label suffix k12.ma.us, and
    // the *.ck whole-TLD wildcard — the PSL-aware registrableDomain's
    // full grammar must be exercised by the oracle data, not just unit
    // fixtures). The selector is a function of the SAME doc_id%13 the
    // path uses, so the TLD adds zero fresh entropy to the canonical key
    // and the fixture's collision structure (distinct doc_ids genuinely
    // folding) survives the wider TLD set.
    val host = concat(lit("Sub"), pmod(id, lit(7)), lit("."), col("source"),
      lit("-site."), element_at(
        array(lit("com"), lit("Org"), lit("net"),
          lit("co.uk"), lit("com.au"), lit("org.uk"),
          lit("ck"), lit("k12.ma.us")),
        (pmod(pmod(id, lit(13)), lit(8)) + 1).cast("int")))
    val isHttps = lower(scheme0) === "https"
    val port = when(pmod(id, lit(5)) === 0,
        when(isHttps, lit(":443")).otherwise(lit(":80")))
      .when(pmod(id, lit(11)) === 0, lit(":8080"))
      .otherwise(lit(""))
    val path = concat(lit("/p/"), pmod(id, lit(13)),
      when(pmod(id, lit(6)) === 0, lit("/")).otherwise(lit("")))
    val query = when(pmod(id, lit(8)) === 0, lit("?utm_source=feed&b=2&a=1"))
      .when(pmod(id, lit(8)) === 1,
        concat(lit("?id="), pmod(id, lit(17)), lit("&utm_campaign=x")))
      .when(pmod(id, lit(8)) === 2, lit("?a=1&b=2"))
      .when(pmod(id, lit(8)) === 3, lit("?b=2&a=1"))
      .otherwise(lit(""))
    val frag = when(pmod(id, lit(9)) === 0, lit("#sec")).otherwise(lit(""))
    concat(scheme, lit("://"), www, host, port, path, query, frag)
  }

  /** Canonical form of an absolute http(s) URL, as one fused expression
    * chain (no UDF — this runs per-page at crawl scale):
    *  1. scheme and host lowercased; a leading `www.` stripped
    *  2. the scheme's default port (`:80` http / `:443` https) stripped,
    *     any other explicit port kept
    *  3. the fragment dropped (never sent to the server)
    *  4. tracking params removed (`utm_*`, `fbclid`, `gclid`), the
    *     remaining query params sorted byte-lexicographically (param
    *     ORDER is not semantic; sorting makes the key order-insensitive)
    *  5. a trailing slash stripped from non-root paths; an empty path
    *     becomes `/`
    * Assumes well-formed absolute URLs with a scheme (the crawl-record
    * shape — a WARC `WARC-Target-URI` is always absolute). Parsing is
    * substring/split arithmetic rather than `parse_url` so the DuckDB
    * oracle can replay byte-identical semantics. */
  def canonicalizeUrl(url: Column): Column =
    graft.functions.CanonicalizeUrl(url)

  /** The composed Catalyst spelling of [[canonicalizeUrl]] (rounds 13–19)
    * — kept as the parity REFERENCE for the native expression (round 20):
    * FunctionsSpec asserts byte-identical outputs over the fixture
    * corpora and adversarial strings. The native form exists because this
    * tree inlines `url` into ~50 leaves (every substring offset re-derives
    * its prefix), so each call site carried 10²–10³ expression nodes
    * through analysis, codegen and task serialization — the URL-family
    * plans measured 300–750 KB of plan text, with the canonicalizer
    * re-executed once per reference. */
  private[graft] def canonicalizeUrlComposed(url: Column): Column = {
    val base = substring_index(url, "#", 1)            // drop fragment
    val scheme = lower(substring_index(base, "://", 1))
    val afterScheme = base.substr(length(scheme) + 4, lit(1 << 20))
    val beforeQuery = substring_index(afterScheme, "?", 1)
    // everything after the FIRST '?' (offset arithmetic, not
    // substring_index(…, -1): RFC 3986 allows '?' INSIDE a query, and
    // after-the-last would drop params before the second '?' — also the
    // DuckDB oracle's split_part(…, 2) semantics, so the engines agree)
    val rawQuery = when(afterScheme.contains("?"),
      afterScheme.substr(length(beforeQuery) + 2, lit(1 << 20)))
      .otherwise(lit(""))
    val hostport = substring_index(beforeQuery, "/", 1)
    val rawPath = beforeQuery.substr(length(hostport) + 1, lit(1 << 20))
    val host = regexp_replace(lower(substring_index(hostport, ":", 1)),
      "^www\\.", "")
    val port = when(hostport.contains(":"),
      substring_index(hostport, ":", -1)).otherwise(lit(""))
    val keptPort = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val params = filter(split(rawQuery, "&"), p =>
      p =!= "" && !substring_index(p, "=", 1).startsWith("utm_") &&
        !substring_index(p, "=", 1).isin("fbclid", "gclid"))
    val canonQuery = when(size(params) > 0,
      concat(lit("?"), array_join(array_sort(params), "&"))).otherwise(lit(""))
    val canonPath = when(rawPath === "", lit("/"))
      .when(rawPath =!= "/" && rawPath.endsWith("/"),
        rawPath.substr(lit(1), length(rawPath) - 1))
      .otherwise(rawPath)
    concat(scheme, lit("://"), host, keptPort, canonPath, canonQuery)
  }

  /** Bundled Public Suffix List snapshot (Mozilla PSL, publicsuffix.org
    * — public knowledge), loaded from the
    * `graft/public_suffix_snapshot.dat` resource in the PSL's own rule
    * syntax: plain suffix rules (2- and 3-label), `*.base` wildcard
    * rules, `!name` exception rules, `//` comments. A production
    * deployment swaps in the complete file — the loader and matcher are
    * rule-shape-general; at the full list's ~10⁴ entries every probe
    * set below is still a broadcast-trivial InSet literal. The parsed
    * sets feed BOTH the Spark expression ([[registrableDomain]]) and
    * the DuckDB oracle's generated IN-lists
    * ([[graft.SparkEntry]]), so the engines cannot drift. */
  private[graft] val pslSnapshot: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_snapshot.dat")
    require(in != null, "public_suffix_snapshot.dat resource missing")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).toList
    finally in.close()
  }
  private def labels(s: String): Int = s.count(_ == '.') + 1
  /** Plain 2-label suffix rules (`co.uk`): registrable keeps 3 labels. */
  private[graft] val publicSuffix2: Seq[String] =
    pslSnapshot.filter(r => !r.startsWith("*.") && !r.startsWith("!") &&
      labels(r) == 2)
  /** Plain 3-label suffix rules (`k12.ak.us`): registrable keeps 4. */
  private[graft] val publicSuffix3: Seq[String] =
    pslSnapshot.filter(r => !r.startsWith("*.") && !r.startsWith("!") &&
      labels(r) == 3)
  /** 1-label wildcard bases (`ck` from `*.ck`): any 2-label name under
    * the base is itself a suffix, so registrable keeps 3 labels. */
  private[graft] val pslWild1: Seq[String] =
    pslSnapshot.filter(_.startsWith("*.")).map(_.drop(2))
      .filter(labels(_) == 1)
  /** 2-label wildcard bases (`kawasaki.jp` from `*.kawasaki.jp`): any
    * 3-label name under the base is a suffix; registrable keeps 4. */
  private[graft] val pslWild2: Seq[String] =
    pslSnapshot.filter(_.startsWith("*.")).map(_.drop(2))
      .filter(labels(_) == 2)
  /** 2-label exceptions (`!www.ck`): registrable despite the wildcard. */
  private[graft] val pslExc2: Seq[String] =
    pslSnapshot.filter(_.startsWith("!")).map(_.drop(1))
      .filter(labels(_) == 2)
  /** 3-label exceptions (`!city.kawasaki.jp`). */
  private[graft] val pslExc3: Seq[String] =
    pslSnapshot.filter(_.startsWith("!")).map(_.drop(1))
      .filter(labels(_) == 3)

  /** Registrable domain of a canonical URL, Public-Suffix-List-aware
    * over the full bundled rule grammar ([[pslSnapshot]] — round 16;
    * the round-15 snapshot knew only plain 2-label rules): the longest
    * matching PSL rule determines the public suffix, the registrable
    * name is that suffix plus ONE more host label, exception rules
    * prevail over wildcards (the PSL's own precedence). A host that IS
    * a bare public suffix returns itself — the containment-safe
    * direction for blocklists. Pure expression work (each set probe
    * compiles to an InSet over the host's trailing 1–3 labels), so the
    * lookup fuses into the same scan as the canonicalizer, and the
    * DuckDB oracle replays the identical decision CASE from the same
    * loaded sets. */
  def registrableDomain(urlCanon: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.RegistrableDomain(
        org.apache.spark.sql.graftbridge.Bridge.expression(urlCanon),
        pslExc3.toSet, pslExc2.toSet, pslWild2.toSet, publicSuffix3.toSet,
        pslWild1.toSet, publicSuffix2.toSet))

  /** The composed Catalyst spelling of [[registrableDomain]] — the parity
    * REFERENCE for the native expression (round 20; see
    * [[canonicalizeUrlComposed]]). */
  private[graft] def registrableDomainComposed(urlCanon: Column): Column = {
    // everything after the FIRST '://' (offset arithmetic, the
    // canonicalizeUrl spelling): substring_index(…, -1) takes the segment
    // after the LAST occurrence, so a query-param value containing '://'
    // would yield a different "host" than the oracle's first-occurrence
    // split_part — and the canonical path always starts with '/', so the
    // host ends at the first '/' regardless of later '://'s
    val scheme = substring_index(urlCanon, "://", 1)
    val afterScheme = urlCanon.substr(length(scheme) + 4, lit(1 << 20))
    val host = substring_index(afterScheme, "/", 1)
    val bare = substring_index(host, ":", 1)
    val last1 = regexp_extract(bare, "([^.]+)$", 1)
    val last2 = regexp_extract(bare, "([^.]+\\.[^.]+)$", 1)
    val last3 = regexp_extract(bare, "([^.]+\\.[^.]+\\.[^.]+)$", 1)
    val last4 = regexp_extract(bare, "([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$", 1)
    def orBare(l: Column): Column = when(l === "", bare).otherwise(l)
    // precedence: exceptions first (PSL rule), then longer rules before
    // shorter (wild2/suffix3 reach 3 labels of suffix; wild1/suffix2
    // reach 2), plain 2-label fallback last — the SQL CASE in
    // SparkEntry mirrors this ORDER clause for clause
    when(last3.isin(pslExc3: _*), last3)
      .when(last2.isin(pslExc2: _*), last2)
      .when(last2.isin(pslWild2: _*), orBare(last4))
      .when(last3.isin(publicSuffix3: _*), orBare(last4))
      .when(last1.isin(pslWild1: _*), orBare(last3))
      .when(last2.isin(publicSuffix2: _*), orBare(last3))
      .otherwise(last2)
  }

  /** The URL-level admission gate a crawl pipeline runs before ANY
    * content work (C4 drops non-http(s) links and pages from a host
    * blocklist at exactly this point): per row,
    *  - `scheme_ok` — [[schemeOk]], and
    *  - `domain_ok` — the registrable domain has no blocklist entry
    *    ([[probeBlocklist]]).
    * Both fuse into the canonicalizer's scan; the corpus side never
    * shuffles (UrlSpec pins the plan). */
  def urlGate(urls: DataFrame, blocked: DataFrame): DataFrame = {
    val canon = urls.select(col("doc_id"),
        canonicalizeUrl(col("url")).as("url_canon"))
      .withColumn("domain", registrableDomain(col("url_canon")))
      .withColumn("scheme_ok", schemeOk(col("url_canon")))
    probeBlocklist(canon, blocked, "domain")
      .select(col("doc_id"), col("url_canon"), col("domain"),
        col("scheme_ok"), col("_blocked").isNull.as("domain_ok"),
        (col("scheme_ok") && col("_blocked").isNull).as("url_keep"))
  }

  /** [[urlGate]] over an in-code blocklist (the static-config shape). */
  def urlGate(urls: DataFrame, blocked: Seq[String]): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    urlGate(urls, blocked.toDF("domain"))
  }

  // ---- crawl admission: one definition per rule -----------------------------
  // Every crawl operator here and in [[Links]] admits through these
  // functions. Each takes the key column its caller already derived, so a
  // call site keeps its own operator order and filter-or-flag form.

  /** Scheme rule: the canonical scheme is http or https. A crawl frontier
    * emits ftp/mailto/javascript links too; none fetch a page worth
    * curating. */
  private[graft] def schemeOk(urlCanon: Column): Column =
    substring_index(urlCanon, "://", 1).isin("http", "https")

  /** Blocklist rule: `rows` left-joined on their registrable-domain column
    * `key` with the blocklist's `domain` column, so `_blocked` is true on a
    * listed row and null otherwise. Matching on the REGISTRABLE domain
    * means a blocklisted `example.com` also drops `sub.example.com`, the
    * containment C4's list intends. The list is BROADCAST: a production
    * blocklist is 10³–10⁶ domains (kilobytes to a few MB), so the probe is
    * map-side and the corpus side never shuffles. `distinct`, because real
    * host blocklists repeat entries and a duplicated build-side domain
    * would duplicate every matching row out of the left join; that one
    * exchange is on the |blocklist| side. */
  private[graft] def probeBlocklist(rows: DataFrame, blocked: DataFrame,
                                    key: String): DataFrame =
    rows.join(broadcast(blocked.select(col("domain").as(key)).distinct()
      .withColumn("_blocked", lit(true))), Seq(key), "left")

  /** [[probeBlocklist]] over an in-code blocklist. */
  private[graft] def probeBlocklist(rows: DataFrame, blocked: Seq[String],
                                    key: String): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    probeBlocklist(rows, blocked.toDF("domain"), key)
  }

  /** One robots.txt text per domain, `(domain, _txt)`. Duplicate domain
    * rows collapse to their max text (deterministic, where
    * dropDuplicates' winner is not): a duplicated build-side domain would
    * fan out every matching URL row of the caller's join. The exchange is
    * on the |domains|-sized frame only, and in a shuffle-mode probe
    * ([[domainFrameSide]]) it doubles as the join's build-side
    * partitioning. */
  private def robotsTexts(robots: DataFrame): DataFrame =
    robots.groupBy("domain").agg(max(col("robots_txt")).as("_txt"))

  /** `(key, _rules)`: each domain's robots rules for `agent`, parsed once
    * per DOMAIN ([[robotsTexts]], [[robotsRules]]), never per URL. */
  private[graft] def domainRobotsRules(robots: DataFrame, agent: String,
                                       key: String): DataFrame =
    robotsTexts(robots).select(col("domain").as(key),
      robotsRules(col("_txt"), agent).as("_rules"))

  /** Robots rule: whether the domain's `rules` (null when it has no
    * robots.txt) allow `path` ([[canonPathQuery]]). No robots row, or no
    * matching rule, means allowed: RFC 9309's default, and no rules
    * fetched yet IS the no-restriction state. */
  private[graft] def robotsAllowed(rules: Column, path: Column): Column =
    coalesce(pmod(robotsBestEnc(rules, path), lit(2)) === 1, lit(true))

  /** The blocklist and robots rules as filters, in that order, on `rows`
    * whose registrable domain is in `key` and whose canonical URL is in
    * `canon` (the discovery loops' gate: a candidate the crawler's own
    * verdicts forbid never reaches the fetch frontier). */
  private[graft] def admitted(rows: DataFrame, key: String, canon: String,
                              blocked: Seq[String], robots: DataFrame,
                              agent: String,
                              expectedDomains: Long): DataFrame =
    probeBlocklist(rows, blocked, key)
      .filter(col("_blocked").isNull)
      .join(domainFrameSide(domainRobotsRules(robots, agent, key),
        expectedDomains), Seq(key), "left")
      .filter(robotsAllowed(col("_rules"), canonPathQuery(col(canon))))

  /** Learned-key rule: adds `out`, the `canon` column with its domain's
    * learned strip list removed. `policy` is [[paramPolicyCorroborated]]'s
    * `(domain, _drop)` frame, probed on the caller's registrable-domain
    * column `key` (strategy per [[domainFrameSide]]); a domain without a
    * list, or no policy at all, keeps `canon`. Keying winners and novelty
    * on this key means a session-id or boilerplate variant of a cataloged
    * page is not re-admitted: the crawl-trap axis bites at fetch time.
    * The strip is ONE native expression ([[graft.functions.StripParams]],
    * a binary search per param name over the SORTED list): the
    * `array_contains` spelling scanned O(|strip list|) per param
    * (exponent 1.79 on a 10⁵-name megadomain), and the higher-order
    * `filter` spelling was CodegenFallback, whose per-row eval
    * re-materialized the policy array out of the join stage (~55 s for 2M
    * rows). Stripping keeps the canonical query's sorted order. The
    * DuckDB oracle keeps plain `list_contains`/`list_filter` (membership
    * is order-insensitive). */
  private[graft] def withLearnedKey(rows: DataFrame,
                                    policy: Option[DataFrame], key: String,
                                    canon: String, out: String,
                                    expectedDomains: Long): DataFrame =
    policy match {
      case Some(p) => rows
        .join(domainFrameSide(p.select(col("domain").as(key), col("_drop")),
          expectedDomains), Seq(key), "left")
        .withColumn(out, when(col("_drop").isNull, col(canon))
          .otherwise(graft.functions.StripParams(col(canon), col("_drop"))))
      case None => rows.withColumn(out, col(canon))
    }

  /** Novelty rule: the `rows` whose `key` is absent from the catalog of
    * already-admitted keys, `learned_canon` ([[withLearnedKey]]) when
    * `learned`, else `url_canon`. One exact anti-join; the catalog side is
    * pinned off auto-broadcast (slim rows, corpus-scale cardinality;
    * LeftAnti builds RIGHT). When a first-occurrence aggregation already
    * hash-partitioned `rows` on `key`, the stream side adds no exchange. */
  private[graft] def novel(rows: DataFrame, key: Column, catalog: DataFrame,
                           learned: Boolean): DataFrame =
    rows.join(catalog.select(
        col(if (learned) "learned_canon" else "url_canon").as("_cat"))
        .hint("shuffle_hash"),
      key === col("_cat"), "left_anti")

  // ---- robots.txt admission (round 15) ------------------------------------

  /** Parse a robots.txt TEXT into the rules of the group SELECTED for a
    * crawler product token (RFC 9309 §2.2.1, round 17: most specific
    * matching `User-agent:` value wins, `*` is the fallback; `agent =
    * "*"` reads exactly the `*` group — the pre-round-17 behavior) —
    * `array<struct<allow boolean, prefix string, wild boolean, pattern
    * string>>` — via the native [[graft.functions.RobotsRules]]
    * expression: O(lines) passes per file, input capped at 500 KiB in
    * bytes (RFC 9309 §2.4's own minimum-processing bound), RFC grouping
    * (UA runs, case-insensitive fields, comments/CRLF, empty-Disallow =
    * no rule), and §2.2.3 wildcard rules (`*`, trailing `$`) translated
    * ONCE per rule into an anchored regex for the downstream match.
    * (The round-15 `aggregate`-fold spelling was O(lines·rules) — it
    * rebuilt the accumulated rules array per line — and skipped the
    * MUST-level wildcard clause; both fixed by the native form.) */
  def robotsRules(txt: Column): Column = graft.functions.RobotsRules(txt)

  /** [[robotsRules]] for a specific crawler product token. */
  def robotsRules(txt: Column, agent: String): Column =
    graft.functions.RobotsRules(txt, lit(agent))

  /** The RFC 9309 precedence encoding behind [[robotsAllowed]]: filter
    * the domain's rules to those MATCHING the path (`startsWith` for
    * literal rules, one regex find for pre-translated wildcard ones),
    * then argmax the RFC precedence — longest rule path (as written,
    * wildcard octets included) wins, `Allow` wins length ties — encoded
    * as `length(prefix)·2 + allow` so a plain integer `array_max`
    * decides and `enc % 2 = 1` reads back "allowed". Null when no rule
    * matches. Row-local, fused into the caller's scan. */
  private def robotsBestEnc(rules: Column, path: Column): Column = {
    val matched = filter(rules, r =>
      when(r("wild"), regexp_like(path, r("pattern")))
        .otherwise(path.startsWith(r("prefix"))))
    array_max(transform(matched,
      r => length(r("prefix")) * 2 + when(r("allow"), 1).otherwise(0)))
  }

  /** The path-and-query of a canonical URL — the string robots rules
    * match against (RFC 9309 matches the path plus optional query).
    * Never empty: [[canonicalizeUrl]] guarantees a leading `/`. */
  private[graft] def canonPathQuery(urlCanon: Column): Column = {
    val scheme = substring_index(urlCanon, "://", 1)
    val afterScheme = urlCanon.substr(length(scheme) + 4, lit(1 << 20))
    val hostport = substring_index(afterScheme, "/", 1)
    afterScheme.substr(length(hostport) + 1, lit(1 << 20))
  }

  /** Broadcast ceiling of [[domainFrameSide]], in estimated BYTES (the
    * [[Dedup.broadcastFamilyMaxBytes]] pattern). */
  private[graft] val rulesBroadcastMaxBytes: Long = 256L << 20

  /** Conservative per-domain byte estimate for the parsed rules frame
    * (domain string + a handful of short rule structs + regex patterns). */
  private[graft] val rulesBytesPerDomain: Long = 512L

  /** Join-side strategy for a |domains|-sized per-domain frame (robots
    * rules, crawl-delay metadata, learned param policies, …), shared by
    * every op that probes one (round 19 — the r17/r18 verdicts' one
    * carried scale defect was unconditional `broadcast(...)` at five of
    * these sites): BROADCAST while the caller-stated scale estimate
    * (`expectedDomains` × `bytesPerDomain`, the bloom family's
    * convention) fits [[rulesBroadcastMaxBytes]] — zero corpus-side
    * exchanges — else a shuffle-hash equi-join on the domain key, where
    * the corpus shuffles once on a high-cardinality key (megadomain
    * skew is AQE's skew-join case). A web crawl has 10⁷–10⁸ registrable
    * domains; with rule arrays that frame is GBs — a broadcast-only
    * plan is a driver/executor OOM at exactly the scale these ops
    * target.
    *
    * `expectedDomains = 0` (every call site's default) means "assume
    * broadcastable" — the small-corpus convenience default, NOT a safe
    * harbor: a caller at crawl scale must state its domain estimate or
    * the frame broadcasts unconditionally. The comparison divides
    * rather than multiplies (round 20, r19 ADVICE: `domains × bytes`
    * can overflow Long to a negative product that silently passes the
    * ceiling check and broadcasts a huge frame). */
  private[graft] def domainFrameSide(frame: DataFrame, expectedDomains: Long,
      bytesPerDomain: Long = rulesBytesPerDomain): DataFrame =
    if (expectedDomains <= rulesBroadcastMaxBytes / math.max(bytesPerDomain, 1L))
      broadcast(frame)
    else frame.hint("shuffle_hash")

  /** robots.txt admission — the third gate of the crawl front end (after
    * [[urlGate]]'s scheme + blocklist): per URL, its REGISTRABLE
    * domain's verdict ([[robotsAllowed]]: RFC 9309 longest-match
    * precedence with the §2.2.3 `*`/`$` wildcards, allowed by default).
    * `robots` carries `(domain, robots_txt)`; the rules parse once per
    * domain ([[domainRobotsRules]]).
    *
    * Scale shape: the match is a ROW-LOCAL fold over the domain's rules,
    * fused into the canonicalizer's scan. The rules join follows
    * [[domainFrameSide]]: a broadcast with zero corpus-side exchanges,
    * or at crawl scale a shuffle-hash equi-join where the corpus
    * shuffles once on the registrable domain (megadomain skew is AQE's
    * skew-join case: OptimizeSkewedJoin splits oversized partitions for
    * shuffle-hash joins since Spark 3.2). UrlSpec pins BOTH plan modes
    * and their row parity. */
  def robotsGate(urls: DataFrame, robots: DataFrame,
                 expectedDomains: Long = 0L, agent: String = "*"): DataFrame = {
    val rules = domainRobotsRules(robots, agent, "domain")
    val canon = urls.select(col("doc_id"),
        canonicalizeUrl(col("url")).as("url_canon"))
      .withColumn("domain", registrableDomain(col("url_canon")))
      .withColumn("path", canonPathQuery(col("url_canon")))
    canon.join(domainFrameSide(rules, expectedDomains), Seq("domain"), "left")
      .select(col("doc_id"), col("url_canon"), col("domain"), col("path"),
        robotsAllowed(col("_rules"), col("path")).as("robots_ok"))
  }

  /** Per-domain robots.txt METADATA (round 16): the selected group's
    * `Crawl-delay` (the de-facto politeness extension Bing and Yandex
    * honor — seconds, fractional allowed, null when absent; group
    * selection is per-agent as in [[robotsRules]], round 17) and
    * every `Sitemap:` URL (group-independent per the sitemaps protocol,
    * file order). One O(lines) native pass per domain
    * ([[graft.functions.RobotsMeta]], the [[robotsRules]] shape and
    * 500 KiB cap); duplicate domain rows collapse in [[robotsTexts]].
    * |domains|-sized in and out — no corpus work. */
  def robotsMeta(robots: DataFrame, agent: String = "*"): DataFrame =
    robotsTexts(robots)
      .select(col("domain"),
        graft.functions.RobotsMeta(col("_txt"), lit(agent)).as("_m"))
      .select(col("domain"),
        col("_m.crawl_delay").as("crawl_delay"),
        col("_m.sitemaps").as("sitemaps"))

  /** Per-domain CRAWL BUDGET — the feasibility table a polite fetch
    * scheduler reads before allocating fetchers: politeness (one request
    * per `crawl_delay` seconds per domain — the delay is a PER-DOMAIN
    * serialization constraint, more fetchers cannot shorten it) makes a
    * domain's minimum wall time `n_admitted × delay`, so the pages
    * actually fetchable inside a wall-clock target is
    * `floor(target / delay)` — the politeness-bound admission cap that
    * big-domain crawl curation must apply BEFORE content work (or the
    * fetch queue silently starves on megadomains).
    * Per admitted-by-all-gates URL (scheme + blocklist + robots — the
    * complete front end), grouped by registrable domain:
    * `(domain, n_admitted, crawl_delay_s, est_crawl_s, cap_pages,
    * n_fetchable)`; domains with a blocklisted or fully-disallowed page
    * set simply have no admitted rows and drop out.
    *
    * Scale shape: ONE corpus pass — canonicalize + blocklist broadcast
    * probe + rules probe fused into the same scan (NOT a composition of
    * [[urlGate]] and [[robotsGate]], which would canonicalize twice and
    * join two corpus-sized verdict frames on doc_id); the only
    * corpus-keyed exchange is the |domains|-row count aggregation
    * (map-side combine), and `crawl_delay` rides the rules frame so no
    * second metadata join touches the corpus. `expectedDomains` picks
    * the rules-side strategy exactly as in [[robotsGate]]. */
  def crawlBudget(urls: DataFrame, blocked: Seq[String], robots: DataFrame,
                  defaultDelayS: Double = 1.0, wallTargetS: Long = 3600L,
                  expectedDomains: Long = 0L, agent: String = "*"): DataFrame = {
    // rules + metadata parsed in ONE pass over the per-domain frame
    val rules = robotsTexts(robots)
      .select(col("domain"), robotsRules(col("_txt"), agent).as("_rules"),
        coalesce(
          graft.functions.RobotsMeta(col("_txt"), lit(agent))("crawl_delay"),
          lit(defaultDelayS)).as("_delay"))
    val canon = urls.select(col("doc_id"),
        canonicalizeUrl(col("url")).as("url_canon"))
      .withColumn("domain", registrableDomain(col("url_canon")))
      .withColumn("path", canonPathQuery(col("url_canon")))
      .withColumn("scheme_ok", schemeOk(col("url_canon")))
    probeBlocklist(canon, blocked, "domain")
      .join(domainFrameSide(rules, expectedDomains), Seq("domain"), "left")
      .filter(col("scheme_ok") && col("_blocked").isNull &&
        robotsAllowed(col("_rules"), col("path")))
      .groupBy("domain")
      .agg(count(lit(1)).cast("long").as("n_admitted"),
        // functionally dependent on the group key (one rules row per
        // domain); max() just satisfies the aggregation
        max(coalesce(col("_delay"), lit(defaultDelayS))).as("crawl_delay_s"))
      .select(col("domain"), col("n_admitted"), col("crawl_delay_s"),
        (col("n_admitted") * col("crawl_delay_s")).as("est_crawl_s"),
        // `Crawl-delay: 0` is a real-world value meaning "no politeness
        // serialization" — the division would be floor(∞), whose
        // Long-cast differs between engines (round-16 ADVICE), so the
        // no-cap semantics are PINNED as Long.MaxValue in both
        when(col("crawl_delay_s") === 0, lit(Long.MaxValue))
          .otherwise(floor(lit(wallTargetS.toDouble) / col("crawl_delay_s"))
            .cast("long"))
          .as("cap_pages"))
      .withColumn("n_fetchable", least(col("n_admitted"), col("cap_pages")))
  }

  /** Deterministic synthetic robots.txt corpus — one text per registrable
    * domain of `urls`, derived purely from the domain string so the
    * DuckDB oracle regenerates the same RULES directly (parse(generate)
    * equivalence is exactly what the oracle then checks). Each file
    * carries the hostile shapes the parser must survive: a non-`*` group
    * that must NOT apply, comments, blank lines, an empty Disallow, an
    * Allow that overrides a shorter Disallow on the same subtree
    * (longest-match), plus the RFC 9309 §2.2.3 wildcard shapes (round
    * 16): a `*` rule that reaches into the query string and a
    * `$`-anchored rule that matches one exact path but NOT its
    * query-bearing or longer siblings. With d = length(domain) mod 13:
    *   Disallow: /p/{d}         — also prefix-matches 2-digit /p/{d}x
    *   Allow:    /p/{d}2        — longest-match carve-out
    *   Disallow: (slash)*?id=   — wildcard: any path whose query is id=…
    *   Disallow: /p/{(d+1)%13}$ — anchored: that exact path, query-free
    * Round-16 metadata lines ([[robotsMeta]]'s fixture contract): a
    * `Crawl-delay: 99` inside the badbot group that must NOT apply, the
    * `*` group's `Crawl-delay` — the literal `0` ("no delay", the
    * round-17 pinned edge) when len(domain)%5 == 0, else the fractional
    * `{len(domain)%3}.5` — and two `Sitemap:` URLs — one inside the
    * badbot group, one at the tail — both of which must collect
    * (sitemaps are group-independent).
    * Round-17 seed-space rule: `Disallow: /page/2$` in the `*` group —
    * it can never match a doc URL (those live under /p/), so every
    * corpus verdict is unchanged, while the sitemap corpus's /page/2
    * seed genuinely drops in [[crawlDiscover]]'s robots gate.
    * Round-17 group-selection contract: a `User-agent: graftbot` group
    * whose rules INVERT the `*` group's verdict on the /p/{d} subtree
    * (`Disallow: /p/` + `Allow: /p/{d}`) and whose `Crawl-delay:
    * {len(domain)%2}.25` differs from the `*` group's — it must apply
    * exactly when the crawler token is `graftbot` (RFC 9309 §2.2.1
    * most-specific selection) and NEVER at agent `*`. */
  def syntheticRobots(urls: DataFrame): DataFrame = {
    val domains = urls
      .select(canonicalizeUrl(col("url")).as("_uc"))
      .select(registrableDomain(col("_uc")).as("domain"))
      .distinct()
    val d13 = pmod(length(col("domain")), lit(13))
    val j13 = pmod(d13 + 1, lit(13))
    val d3 = pmod(length(col("domain")), lit(3))
    val d2 = pmod(length(col("domain")), lit(2))
    val starDelay = when(pmod(length(col("domain")), lit(5)) === 0, lit("0"))
      .otherwise(concat(d3, lit(".5")))
    domains.select(col("domain"), concat(
      lit("# crawl policy\nUser-agent: badbot\nDisallow: /\nCrawl-delay: 99\n"),
      lit("Sitemap: https://"), col("domain"), lit("/s2.xml\n\n"),
      lit("User-agent: graftbot\nDisallow: /p/\nAllow: /p/"), d13,
      lit("\nCrawl-delay: "), d2, lit(".25\n\n"),
      lit("User-agent: *\nDisallow: /p/"), d13,
      lit("\nAllow: /p/"), d13, lit("2\n"),
      lit("Crawl-delay: "), starDelay, lit("\n"),
      lit("Disallow: /*?id=\n"),
      lit("Disallow: /p/"), j13, lit("$\n"),
      lit("Disallow:\n"), // empty value: no restriction, parser must skip
      lit("Disallow: /admin\n"),
      // fires only in SEED space (/page/2 from the sitemap corpus —
      // doc URLs live under /p/), so the round-17 discovery loop's
      // robots gate has a rule that genuinely drops a seed while every
      // corpus-path query's verdict set is unchanged
      lit("Disallow: /page/2$\n"),
      lit("Sitemap: https://"), col("domain"), lit("/sitemap.xml\n"))
      .as("robots_txt"))
  }

  /** Deterministic synthetic sitemap corpus, v2 (round 17 — the round-16
    * fixture was one flat urlset per domain): THREE fetched files per
    * registrable domain, `(domain, sitemap_url, content binary)`,
    * derived purely from the domain string so the DuckDB oracle
    * regenerates the expected structure directly:
    *  - `/sitemap.xml` — a `<sitemapindex>` (the sitemaps.org nesting
    *    every large site ships: the 50k-URL cap per urlset forces it)
    *    listing `/sm-1.xml`, `/sm-2.xml.gz`, and `/sm-404.xml` (which
    *    has NO row — an unfetched child), plus a MULTI-LINE XML comment
    *    wrapping a decoy `<loc>` (the round-16 single-line decoy could
    *    not catch a non-DOTALL strip);
    *  - `/sm-1.xml` — a urlset of 1 + len(domain)%3 `/page/{i}` entries
    *    (whitespace-padded locs, lastmod siblings, a single-line
    *    comment decoy) plus one ENTITY-ESCAPED entry
    *    (`…/page/esc?a=1&amp;b=2` — the sitemaps protocol requires
    *    escaping inside `<loc>`; the extractor must decode it);
    *  - `/sm-2.xml.gz` — a GZIPPED urlset (protocol-sanctioned
    *    `.xml.gz`) with `/gz/1` and a DUPLICATE of `/page/1` (so the
    *    discovery loop's first-occurrence dedup has real work). */
  def syntheticSitemaps(urls: DataFrame): DataFrame = {
    val domains = urls
      .select(canonicalizeUrl(col("url")).as("_uc"))
      .select(registrableDomain(col("_uc")).as("domain"))
      .distinct()
    val dom = col("domain")
    val xmlHead = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
    val n = pmod(length(dom), lit(3)) + 1
    val entries = array_join(transform(sequence(lit(1), n.cast("int")), i =>
      concat(lit("  <url>\n    <loc> https://"), dom,
        lit("/page/"), i,
        lit(" </loc>\n    <lastmod>2026-01-0"), i,
        lit("</lastmod>\n  </url>\n"))), "")
    val urlset1 = concat(
      lit(xmlHead),
      lit("<!-- <loc>https://decoy.invalid/x</loc> -->\n"),
      lit("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
      entries,
      lit("  <url><loc>https://"), dom,
      lit("/page/esc?a=1&amp;b=2</loc></url>\n"),
      lit("</urlset>\n"))
    val urlset2 = concat(
      lit(xmlHead),
      lit("<urlset>\n  <url><loc>https://"), dom, lit("/gz/1</loc></url>\n"),
      lit("  <url><loc> https://"), dom, lit("/page/1 </loc></url>\n"),
      lit("</urlset>\n"))
    val index = concat(
      lit(xmlHead),
      lit("<!-- retired shard\n  <sitemap><loc>https://"), dom,
      lit("/old.xml</loc></sitemap>\n-->\n"),
      lit("<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
      lit("  <sitemap>\n    <loc> https://"), dom,
      lit("/sm-1.xml </loc>\n  </sitemap>\n"),
      lit("  <sitemap><loc>https://"), dom, lit("/sm-2.xml.gz</loc></sitemap>\n"),
      lit("  <sitemap><loc>https://"), dom, lit("/sm-404.xml</loc></sitemap>\n"),
      lit("</sitemapindex>\n"))
    domains.select(dom,
        concat(lit("https://"), dom, lit("/sitemap.xml")).as("sitemap_url"),
        index.cast("binary").as("content"))
      .unionByName(domains.select(dom,
        concat(lit("https://"), dom, lit("/sm-1.xml")).as("sitemap_url"),
        urlset1.cast("binary").as("content")))
      .unionByName(domains.select(dom,
        concat(lit("https://"), dom, lit("/sm-2.xml.gz")).as("sitemap_url"),
        graft.functions.GzipCompress(urlset2).as("content")))
  }

  /** Robots metadata for the SESSION-domain corpus (round 20 — the
    * learned-key discovery fixtures): one row per `<source>-app.com`
    * registrable domain, declaring the domain's single urlset
    * ([[syntheticSessionSitemaps]]) and carrying one `*`-group rule
    * that NEVER matches the fixture's `/a/…` seed space (`/private`) —
    * the rules parse has real work, the verdict is always allowed, and
    * the oracle replays the gate as a constant. */
  def syntheticSessionRobots(docs: DataFrame): DataFrame =
    docs.select(col("source")).distinct()
      .select(concat(col("source"), lit("-app.com")).as("domain"),
        concat(lit("User-agent: *\nDisallow: /private\n\n"),
          lit("Sitemap: https://"), col("source"),
          lit("-app.com/sm-s.xml\n")).as("robots_txt"))

  /** Sitemap corpus for the LEARNED discovery loop (round 20 — the r19
    * verdict's #2 fixture: "a session variant of a cataloged target is
    * NOT re-admitted"): per `<source>-app.com` domain ONE urlset
    * (`/sm-s.xml`, declared by [[syntheticSessionRobots]]) whose
    * seeds, ordered by doc_id, follow the session-stripe wheel —
    * `?sess=s<id>` (session variant of page `id%5`), `?art=a<id>`
    * (content selector), `?v=1` (boilerplate), and for the bare stripe
    * a NOVEL page `/a/x<id%7>` (not in any catalog — the
    * novel-learned-key-admitted-once path). Seeds are emitted
    * pre-canonical so the oracle regenerates them closed-form; the
    * per-domain body aggregates deterministically (sort by doc_id). */
  def syntheticSessionSitemaps(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    // param/page wheels on the WITHIN-SOURCE index (the
    // [[syntheticSessionUrls]] round-20 contract); the novel-page
    // wheel keeps raw `id%7` (gcd(7,20)=1 — free within a source)
    val g = floor(id / lit(20)).cast("long")
    def m(k: Int): Column = pmod(g, lit(k))
    val loc = concat(lit("  <url><loc>https://"), col("source"),
      lit("-app.com/a/"),
      when(m(4) === 3, concat(lit("x"), pmod(id, lit(7))))
        .otherwise(concat(m(5),
          when(m(4) === 0, concat(lit("?sess=s"), id))
            .when(m(4) === 1, concat(lit("?art=a"), id))
            .otherwise(lit("?v=1")))),
      lit("</loc></url>\n"))
    docs.select(col("source"),
        struct(id.as("doc_id"), loc.as("_l")).as("_e"))
      .groupBy("source")
      .agg(array_join(transform(array_sort(collect_list(col("_e"))),
        e => e("_l")), "").as("_body"))
      .select(concat(col("source"), lit("-app.com")).as("domain"),
        concat(lit("https://"), col("source"), lit("-app.com/sm-s.xml"))
          .as("sitemap_url"),
        concat(lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset>\n"),
          col("_body"), lit("</urlset>\n")).cast("binary").as("content"))
  }

  /** Decode the five XML character entities the sitemaps protocol
    * requires escaping inside `<loc>` (`&amp; &lt; &gt; &quot; &apos;`
    * — sitemaps.org, public; round-16 ADVICE: unescaped extraction
    * emits wrong seed keys for every real-world `&`-bearing URL).
    * `&amp;` decodes LAST so `&amp;lt;` yields the literal text `&lt;`,
    * not `<`. Literal `replace`, no regex — row-local. */
  private[graft] def xmlUnescape(c: Column): Column =
    replace(replace(replace(replace(replace(
      c, lit("&lt;"), lit("<")), lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")), lit("&apos;"), lit("'")),
      lit("&amp;"), lit("&"))

  /** Decoded text + canonical self-URL of a fetched sitemap frame
    * `(domain, sitemap_url, content binary)`: gunzip when the RFC 1952
    * magic leads ([[graft.functions.GunzipText]] — `.xml.gz` sitemaps
    * are protocol-sanctioned), strip XML comments DOTALL (`(?s)` —
    * a comment spanning lines must not leak its `<loc>`s; round-16
    * ADVICE), and classify index vs urlset by the `<sitemapindex`
    * root. All row-local. */
  private def decodedSitemaps(sitemaps: DataFrame): DataFrame =
    sitemaps.select(col("domain"),
      canonicalizeUrl(col("sitemap_url")).as("sitemap"),
      regexp_replace(graft.functions.GunzipText(col("content")),
        "(?s)<!--.*?-->", "").as("_nc"))
      .withColumn("_is_index", col("_nc").contains("<sitemapindex"))

  private val locPattern = "<loc>([^<]*)</loc>"

  /** Sitemap seed extraction — the discovery half of the crawl loop the
    * robots family completes ([[robotsMeta]] surfaces each domain's
    * sitemap URLs; this extracts the page URLs a fetched sitemap
    * declares, feeding the frontier): per fetched `(domain,
    * sitemap_url, content)` row that is a URLSET (an index file's
    * `<loc>`s are child SITEMAP URLs, not page seeds — they surface via
    * [[sitemapIndex]] instead), every `<loc>` value (sitemaps.org
    * protocol, public), gunzipped when needed, comment-stripped DOTALL
    * FIRST (a commented-out loc is not a seed), entity-decoded
    * ([[xmlUnescape]]), trimmed (the spec requires whitespace-tolerant
    * parsers), emitted one row per seed with its source sitemap,
    * position, and canonical form — ready for [[urlGate]] /
    * [[urlFrontierIncrement]] downstream.
    *
    * Scale shape: row-local decode + regexp extraction + one explode,
    * fused into the sitemap scan — no joins, no shuffles; a crawl's
    * sitemap corpus is |sitemaps|-sized, far below page scale. The
    * pattern is anchored to the tag (`<loc>…</loc>`), so the DuckDB
    * oracle replays byte-identically. */
  def sitemapSeeds(sitemaps: DataFrame): DataFrame =
    decodedSitemaps(sitemaps)
      .filter(!col("_is_index"))
      .select(col("domain"), col("sitemap"),
        posexplode(regexp_extract_all(col("_nc"), lit(locPattern), lit(1)))
          .as(Seq("seed_idx", "_raw")))
      .select(col("domain"), col("sitemap"),
        (col("seed_idx") + 1).cast("long").as("seed_idx"),
        xmlUnescape(trim(col("_raw"))).as("seed_url"))
      .withColumn("seed_canon", canonicalizeUrl(col("seed_url")))

  /** Per-seed `<lastmod>` freshness (round 17 — the sitemaps.org
    * recrawl signal: a fetch scheduler prioritizes by it, and a
    * training-data pipeline uses it to bound content staleness): like
    * [[sitemapSeeds]] but pairing each urlset `<loc>` with ITS OWN
    * entry's optional `<lastmod>` — extraction is per `<url>` BLOCK
    * (DOTALL — entries span lines), then per-block loc/lastmod pulls,
    * so a lastmod can never mis-attach to a neighboring entry (flat
    * parallel extraction of the two tag streams would zip them wrongly
    * the moment one entry omits lastmod). `lastmod` parses as a date
    * via try_to_date semantics (W3C allows full datetimes; the
    * yyyy-MM-dd prefix is taken, unparseable → null — never a throw
    * under ANSI). Row-local, no joins, |sitemaps|-sized. */
  def sitemapLastmod(sitemaps: DataFrame): DataFrame =
    decodedSitemaps(sitemaps)
      .filter(!col("_is_index"))
      .select(col("domain"), col("sitemap"),
        posexplode(regexp_extract_all(col("_nc"),
          lit("(?s)<url>(.*?)</url>"), lit(1)))
          .as(Seq("seed_idx", "_entry")))
      .select(col("domain"), col("sitemap"),
        (col("seed_idx") + 1).cast("long").as("seed_idx"),
        xmlUnescape(trim(regexp_extract(col("_entry"),
          "<loc>([^<]*)</loc>", 1))).as("seed_url"),
        regexp_extract(col("_entry"),
          "<lastmod>([^<]*)</lastmod>", 1).as("_lm"))
      .filter(col("seed_url") =!= "") // a <url> block without a loc is noise
      .select(col("domain"), col("sitemap"), col("seed_idx"),
        canonicalizeUrl(col("seed_url")).as("seed_canon"),
        try_to_timestamp(substring(trim(col("_lm")), 1, 10),
          lit("yyyy-MM-dd")).cast("date").as("lastmod"))

  /** Sitemap INDEX resolution (round 17 — the sitemaps.org
    * `<sitemapindex><sitemap><loc>` nesting is how every large site
    * ships its URL set; the 50k-URL cap per urlset file forces it):
    * per fetched index file, every declared child sitemap URL with its
    * position and canonical form, plus `fetched` — whether that child
    * is itself present in the frame (joined on the canonical sitemap
    * URL). The unfetched rows ARE the fetch scheduler's work list; the
    * fetched ones chain into [[sitemapSeeds]].
    *
    * Scale shape: row-local extraction, then one |children|×|sitemaps|
    * equi-join on the canonical URL — both sides |sitemaps|-sized (far
    * below page scale), so a plain shuffle equi-join is the honest
    * strategy at any corpus size. */
  def sitemapIndex(sitemaps: DataFrame): DataFrame = {
    val base = decodedSitemaps(sitemaps)
    val children = base.filter(col("_is_index"))
      .select(col("domain"), col("sitemap").as("index_url"),
        posexplode(regexp_extract_all(col("_nc"), lit(locPattern), lit(1)))
          .as(Seq("child_idx", "_raw")))
      .select(col("domain"), col("index_url"),
        (col("child_idx") + 1).cast("long").as("child_idx"),
        xmlUnescape(trim(col("_raw"))).as("child_url"))
      .withColumn("child_canon", canonicalizeUrl(col("child_url")))
    children
      .join(base.select(col("sitemap").as("child_canon")).distinct()
        .withColumn("_f", lit(true)), Seq("child_canon"), "left")
      .select(col("domain"), col("index_url"), col("child_idx"),
        col("child_url"), col("child_canon"),
        coalesce(col("_f"), lit(false)).as("fetched"))
  }

  /** The RECRAWL QUEUE (round 17 — the consumer of [[sitemapLastmod]]'s
    * freshness signal): per domain, the politeness-ordered list of
    * declared seeds a fetch scheduler should re-fetch this cycle.
    * A seed is STALE when it was never fetched (`last_fetch` null after
    * the fetch-log join — novel discovery) or its newest declared
    * `<lastmod>` postdates the last fetch; a DATELESS already-fetched
    * seed is not re-queued (no evidence of change — the standard
    * conditional-recrawl economy; it re-enters via its own refresh
    * cadence, not this queue). Ranking inside a domain is newest
    * change first (`lastmod DESC NULLS LAST`, seed key tiebreak — novel
    * dateless seeds queue after dated changes), and
    * `est_wait_s = (rank−1) · crawl_delay` states WHEN the fetch can
    * happen under the domain's politeness delay ([[robotsMeta]]) — the
    * serialization constraint more fetchers cannot shorten.
    *
    * Scale shape: one hash-agg collapses cross-shard duplicate
    * declarations to the newest lastmod (map-side combine, `max`
    * ignores nulls so a dateless duplicate never erases a date); ONE
    * equi-join on the canonical seed key against the fetch log (the
    * log is corpus-sized at web scale and carries the shuffle; the
    * seed side is |sitemaps|-bounded); the per-domain metadata joins
    * broadcast. The rank window partitions one domain's DECLARED seed
    * set — bounded by the sitemaps protocol (50k per urlset × declared
    * files), the discovery frame, never the page corpus (corpus-scale
    * per-domain ranking is [[domainQuotaSample]]'s bounded top-k job,
    * not a window). */
  def recrawlQueue(sitemaps: DataFrame, fetchLog: DataFrame,
                   robots: DataFrame, agent: String = "*",
                   defaultDelayS: Double = 1.0,
                   expectedDomains: Long = 0L): DataFrame = {
    val seeds = sitemapLastmod(sitemaps)
      .groupBy(col("domain"), col("seed_canon"))
      .agg(max(col("lastmod")).as("lastmod"))
    val meta = robotsMeta(robots, agent)
      .select(col("domain"), col("crawl_delay"))
    val stale = seeds
      .join(fetchLog.select(col("seed_canon"), col("last_fetch")),
        Seq("seed_canon"), "left")
      .filter(col("last_fetch").isNull ||
        (col("lastmod").isNotNull && col("lastmod") > col("last_fetch")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("domain")
      .orderBy(col("lastmod").desc_nulls_last, col("seed_canon"))
    // the metadata frame is |domains|-sized (one crawl-delay row per
    // domain with a robots.txt) — strategy follows the caller's scale
    // estimate like every per-domain probe (round 19)
    stale.join(domainFrameSide(meta, expectedDomains), Seq("domain"), "left")
      .withColumn("queue_rank", row_number().over(w).cast("long"))
      .select(col("domain"), col("seed_canon"), col("lastmod"),
        col("last_fetch"), col("queue_rank"),
        ((col("queue_rank") - 1) *
          coalesce(col("crawl_delay"), lit(defaultDelayS))).as("est_wait_s"))
  }

  /** The crawl DISCOVERY loop end-to-end (round-17 directive — the
    * composition is where double-canonicalize and plan regressions
    * hide, the [[crawlBudget]] lesson): robots.txt metadata → declared
    * sitemap URLs → fetched sitemap files → one level of
    * `<sitemapindex>` recursion → urlset page seeds → the COMPLETE
    * admission front end (scheme + registrable-domain blocklist +
    * the domain's robots rules — a crawler must not enqueue a fetch
    * its own robots verdict forbids; the rules parse ONCE per domain
    * from the same robots frame the metadata came from) → frontier
    * novelty vs the already-admitted catalog. Output: one row per NOVEL admitted seed,
    * `(domain, sitemap, seed_idx, seed_url, seed_canon)`, where
    * duplicate discoveries collapse to the first occurrence (lowest
    * `(sitemap, seed_idx)` — the library's deterministic-winner
    * convention, as a map-side-combinable min-struct aggregation, not a
    * window).
    *
    * Scale shape: every join before seed extraction is on the
    * |sitemaps|-sized frame (reachability is a semi-join on the
    * canonical sitemap URL; the one-level recursion re-reads the same
    * slim frame — never page-scale data); each seed canonicalizes ONCE
    * (gate and frontier reuse the column); the blocklist is a broadcast
    * probe; novelty is ONE exact anti-join on `seed_canon` — the
    * first-occurrence aggregation already hash-partitioned the seeds
    * on that exact key, so the join adds ZERO stream-side exchange
    * (only the catalog shuffles, pinned off auto-broadcast), which is
    * strictly cheaper than [[urlFrontierIncrement]]'s bloom-prefilter
    * split here: the sketch's value is skipping the stream-side
    * shuffle, and this stream side rides for free. */
  def crawlDiscover(robots: DataFrame, sitemaps: DataFrame,
                    blocked: Seq[String], catalog: DataFrame,
                    agent: String = "*",
                    expectedDomains: Long = 0L,
                    policy: Option[DataFrame] = None): DataFrame = {
    val files = decodedSitemaps(sitemaps)
    // reachability frames feed LEFT SEMI joins only, so duplicates are
    // harmless — no distinct anywhere below (each would cost an
    // exchange + two aggregates, DOUBLED by the frontier's
    // fresh/verified union branches)
    val declared = robotsMeta(robots, agent)
      .select(explode(col("sitemaps")).as("_u"))
      .select(canonicalizeUrl(col("_u")).as("sitemap"))
    // one recursion level — which is the COMPLETE semantics, not an
    // approximation: the sitemaps protocol forbids an index file from
    // referencing another index file (sitemaps.org: a sitemap index
    // "can't list other sitemap index files"), so index→urlset is the
    // deepest legal nesting. Children of REACHABLE index files join
    // back into the frame (the fixture's unfetched /sm-404.xml child
    // simply finds no row — exactly a real fetch gap).
    val viaIndex = files.filter(col("_is_index"))
      .join(declared, Seq("sitemap"), "left_semi")
      .select(explode(regexp_extract_all(col("_nc"), lit(locPattern), lit(1)))
        .as("_raw"))
      // project the decoded child URL into a COLUMN before canonicalizing:
      // canonicalizeUrl references its input at ~15 leaves, and inlining
      // the unescape+trim tree at each one multiplies the plan (the
      // domain_quota_sample round-16 lesson)
      .select(xmlUnescape(trim(col("_raw"))).as("_child"))
      .select(canonicalizeUrl(col("_child")).as("sitemap"))
    val reachable = declared.unionByName(viaIndex)
    val seeds = files.filter(!col("_is_index"))
      .join(reachable, Seq("sitemap"), "left_semi")
      .select(col("domain"), col("sitemap"),
        posexplode(regexp_extract_all(col("_nc"), lit(locPattern), lit(1)))
          .as(Seq("seed_idx", "_raw")))
      .select(col("domain"), col("sitemap"),
        (col("seed_idx") + 1).cast("long").as("seed_idx"),
        xmlUnescape(trim(col("_raw"))).as("seed_url"))
      .withColumn("seed_canon", canonicalizeUrl(col("seed_url")))
    // admission on the canonical column (computed once above)
    val gated = admitted(seeds
        .withColumn("_sd", registrableDomain(col("seed_canon")))
        .filter(schemeOk(col("seed_canon"))),
      "_sd", "seed_canon", blocked, robots, agent, expectedDomains)
    // with a `policy` the winner and the novelty key on the learned
    // canonical, and `catalog` carries `learned_canon` keys
    val keyed = withLearnedKey(gated, policy, "_sd", "seed_canon", "_nov",
      expectedDomains)
    // first-occurrence winner per novelty key: min over the struct
    // orders by (sitemap, seed_idx) lexicographically — map-side
    // combinable, no per-key window sort. (String payload in the buffer
    // means SortAggregate, not HashAggregate — acceptable here: the
    // partial still collapses to one row per distinct canon per task
    // BEFORE the exchange, which is the part that matters at scale;
    // the assignToCentroids long-encoding trick needs a numeric-only
    // winner and doesn't apply.)
    val firsts = keyed.groupBy("_nov")
      .agg(min(struct(col("sitemap"), col("seed_idx"), col("domain"),
        col("seed_url"), col("seed_canon"))).as("_w"))
      .select(col("_w.domain").as("domain"), col("_w.sitemap").as("sitemap"),
        col("_w.seed_idx").as("seed_idx"), col("_w.seed_url").as("seed_url"),
        col("_w.seed_canon").as("seed_canon"), col("_nov"))
    val fresh = novel(firsts, col("_nov"), catalog, policy.isDefined)
    if (policy.isDefined) fresh.withColumnRenamed("_nov", "seed_learned")
    else fresh.drop("_nov")
  }

  /** Canonicalized-URL exact dedup, first-occurrence-wins (the library-wide
    * dedup convention): one row per distinct canonical URL with the
    * lowest-doc_id keeper and the collapse count. One hash aggregation on
    * the canonical string key — map-side partial min/count collapse before
    * the shuffle, so the exchange carries one row per DISTINCT url. */
  def urlDedup(urls: DataFrame): DataFrame =
    urls.select(col("doc_id"), canonicalizeUrl(col("url")).as("url_canon"))
      .groupBy("url_canon")
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).cast("long").as("n_dups"))

  /** One micro-batch of CRAWL-FRONTIER dedup — the ingest-time form of
    * [[urlDedup]], and the one genuinely streaming URL workload (a crawler
    * discovers links continuously; only NOVEL canonical URLs should reach
    * the fetch queue). `delta` is this batch's discovered `(doc_id, url)`
    * rows; `catalog` is one `url_canon` column of every canonical URL any
    * earlier batch admitted. A delta row survives iff it is the batch's
    * own first occurrence of its canonical form (lowest doc_id — the
    * library-wide convention) AND the form is absent from the catalog.
    *
    * Scale shape per batch ([[graft.ops.Dedup.incrementalDedup]]'s
    * pattern on the cheapest possible key): a sized bloom sketch over the
    * catalog prefilters scan-side, so only sketch-positives (true
    * re-discoveries + ~1% false positives) reach the exact anti-join —
    * and re-discoveries are the COMMON case in a crawl frontier (most
    * links point to already-seen pages), which is exactly when the
    * prefilter's join-side savings matter most. `shards` > 1 selects the
    * hash-prefix-sharded sketch family for catalogs past the scalar
    * ceiling (a frontier catalog is one row per unique URL ever seen —
    * 10¹⁰⁺ at web scale). False negatives impossible; output is
    * byte-identical at any shard count (UrlSpec pins parity). */
  def urlFrontierIncrement(delta: DataFrame, catalog: DataFrame,
                           expectedCatalogSize: Long = 1000000L,
                           shards: Int = 1): DataFrame = {
    val canon = delta.select(col("doc_id"),
      canonicalizeUrl(col("url")).as("url_canon"))
    val intraFirst = canon
      .withColumn("_rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("url_canon").orderBy("doc_id")))
      .filter(col("_rn") === 1).drop("_rn")
    val flagged = Dedup.bloomMaybe(intraFirst, "url_canon",
      catalog, "url_canon", expectedCatalogSize, shards)
    val fresh = flagged.filter(!col("_maybe"))
    val verified = novel(flagged.filter(col("_maybe")), col("url_canon"),
      catalog, learned = false)
    fresh.unionByName(verified).drop("_maybe")
  }

  /** [[urlFrontierIncrement]] on the LEARNED canonical key (round 19 —
    * the r18 verdict's #2: the param intelligence stopped at its own
    * dedup query while the frontier kept keying on the STATIC
    * canonical, so every session-id/boilerplate variant of a cataloged
    * page was re-admitted and fetched — the crawl-trap axis bites at
    * fetch time, not corpus time). `policy` is the
    * [[paramPolicyCorroborated]] frame — re-learned periodically
    * offline, a static input here; `catalog` carries one
    * `learned_canon` per page-identity any earlier batch admitted. A
    * delta row survives iff it is the batch's own first occurrence of
    * its LEARNED key (lowest doc_id) and the key is absent from the
    * catalog.
    *
    * Scale shape: the policy probe is row-local (strategy follows
    * `expectedDomains` — [[domainFrameSide]]); the intra-batch winner
    * is one min-struct aggregation that hash-partitions the delta on
    * the learned key, so the novelty check stays ONE exact anti-join
    * with zero stream-side exchange (the [[crawlDiscover]] argument —
    * only the catalog shuffles, pinned off auto-broadcast). */
  def urlFrontierLearnedIncrement(delta: DataFrame, catalog: DataFrame,
                                  policy: DataFrame,
                                  expectedDomains: Long = 0L): DataFrame = {
    val keyed = applyParamPolicy(delta, policy, expectedDomains)
    val intra = keyed.groupBy("learned_canon")
      .agg(min(struct(col("doc_id"), col("url_canon"))).as("_w"))
      .select(col("_w.doc_id").as("doc_id"),
        col("_w.url_canon").as("url_canon"), col("learned_canon"))
    novel(intra, col("learned_canon"), catalog, learned = true)
  }

  /** Deterministic session/content-param URL corpus (round 19 — the
    * [[paramPolicyCorroborated]] fixture: [[syntheticUrls]] has no
    * param whose value is unique-per-page CONTENT, so no oracle could
    * see the content-id collapse the corroboration rule prevents).
    * One URL per doc on domain `<source>-app.com`, wheels keyed on the
    * doc's WITHIN-SOURCE index `g = doc_id div 20` (round 20 — see the
    * in-body comment: `doc_id%k` wheels are constant per source): page
    * identity `m5 = g%5` (path `/a/<m5>`), param stripe by `m4 = g%4`:
    *  - m4=0: `?sess=s<doc_id>` — unique value per doc, content is the
    *    PAGE's (`fp = p<m5>`): the corroborated session shape, STRIP;
    *  - m4=1: `?art=a<doc_id>` — unique value per doc but the value
    *    SELECTS the content (`fp = c<doc_id>`): high_card, NOT
    *    corroborated → KEPT (the content-id case the blind policy
    *    would wrongly fold);
    *  - m4=2: `?v=1` — constant boilerplate, STRIP;
    *  - m4=3: bare.
    * The scheme upper-cases on even docs so the canonicalizer has
    * (only) case work — the oracle regenerates canonical forms
    * closed-form. */
  def syntheticSessionUrls(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    // stripe wheel = the doc's index WITHIN its source (round 20): the
    // documents table assigns source round-robin (`src{doc_id%20}`,
    // the TESTDATA contract), so any `doc_id%k` wheel with gcd(k,20)>1
    // is CONSTANT per source — the round-19 spelling's m4/m5 gave each
    // `-app.com` domain exactly ONE param stripe and ONE page, so no
    // domain ever saw sess AND art and the per-domain corroboration
    // had nothing to corroborate. `id div 20` cycles freely within a
    // source; the 10⁷ corpus offset stays transparent (500000 ≡ 0 mod
    // 4, 5, and 2).
    val g = floor(id / lit(20)).cast("long")
    def m(k: Int): Column = pmod(g, lit(k))
    val scheme = when(m(2) === 0, lit("HTTPS")).otherwise(lit("https"))
    val query = when(m(4) === 0, concat(lit("?sess=s"), id))
      .when(m(4) === 1, concat(lit("?art=a"), id))
      .when(m(4) === 2, lit("?v=1"))
      .otherwise(lit(""))
    docs.select(id.as("doc_id"),
      concat(scheme, lit("://"), col("source"), lit("-app.com/a/"), m(5),
        query).as("url"),
      when(m(4) === 1, concat(lit("c"), id))
        .otherwise(concat(lit("p"), m(5))).as("fp"))
  }

  /** The PRODUCTION-SHAPED learned-policy corpus (round 20 — the r19
    * verdict's #1: the corroborated policy must be what the modeling
    * queries CONSUME, which needs a corpus carrying BOTH the full
    * canonicalizer/PSL variance and the session/content stripes the
    * corroboration rule exists to tell apart): [[syntheticUrls]] plus
    * [[syntheticSessionUrls]] on a disjoint doc_id range (offset 10⁷ —
    * divisible by every session-stripe modulus, so the stripe
    * arithmetic and the oracle's closed-form replay survive the
    * shift verbatim) and disjoint registrable domains (`-site.<tld>`
    * vs `-app.com` — per-domain policies compose without interaction).
    * Every row carries the page's content fingerprint `fp` — a pure
    * function of the page's TRUE identity (host subdomain wheel, path
    * page, and the `?id=` content selector when present for the base
    * half; the session half's own contract otherwise), which is what a
    * fetched corpus has (md5 of the page text) and what the learn pass
    * corroborates against. Under the corroborated policy the base
    * half's `?id=` param can never strip — even at a tiny SF where its
    * value distribution happens to look session-shaped, its varying
    * groups disagree on fp — while `?sess=` folds and `?v=`/`utm_*`
    * strip on distribution evidence alone. */
  def syntheticCorpusUrls(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    def m(k: Int): Column = pmod(id, lit(k))
    val base = syntheticUrls(docs).select(id.as("doc_id"), col("url"),
      concat(lit("w"), col("source"), lit("-"), m(7), lit("-"), m(13),
        when(m(8) === 1, concat(lit("-i"), m(17))).otherwise(lit("")))
        .as("fp"))
    val sess = syntheticSessionUrls(docs.select(
      (id + lit(10000000L)).as("doc_id"), col("source")))
    base.unionByName(sess)
  }

  /** The accumulated-catalog membership rule for the
    * [[syntheticCorpusUrls]] frontier fixtures: the first 250 docs of
    * EACH half (base and offset-10⁷ session) are the earlier batch —
    * so the catalog holds learned keys from both stripes and the
    * delta's session/boilerplate variants of cataloged pages exercise
    * the learned-key fold on every path. */
  def corpusCatalogPred: Column =
    col("doc_id") < 250L ||
      (col("doc_id") >= 10000000L && col("doc_id") < 10000250L)

  /** Per-domain corpus statistics plus a deterministic sampling quota —
    * the mix-control table a curation pipeline joins against before
    * sampling. Quotas are sqrt-proportional (the standard flattening
    * between proportional — which lets a megadomain dominate — and
    * uniform — which overweights one-page domains), computed in INTEGER
    * arithmetic: floor(sqrt(n)) per domain, exact long sum, then
    * budget·isqrt div total (long integer division, exact while
    * budget·isqrt fits a long) with a 1-doc floor — bit-identical in any
    * engine and under any partitioning, unlike a double sqrt-share sum.
    * Scale shape: one hash agg on domain, then a 1-row total broadcast
    * back; |domains| rows total. */
  def domainStats(urls: DataFrame, budget: Long = 100L): DataFrame = {
    val canon = urls.select(col("doc_id"), col("n_chars"),
      canonicalizeUrl(col("url")).as("url_canon"))
    val stats = canon
      .withColumn("domain", registrableDomain(col("url_canon")))
      .groupBy("domain")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        count_distinct(col("url_canon")).cast("long").as("n_urls"),
        sum(col("n_chars").cast("decimal(18,0)")).cast("long").as("total_chars"))
      .withColumn("isqrt", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val total = stats.agg(sum(col("isqrt")).as("isqrt_total"))
    stats.crossJoin(broadcast(total))
      .select(col("domain"), col("n_docs"), col("n_urls"), col("total_chars"),
        // long `div` long stays integral end-to-end; `/` on longs is
        // DOUBLE division in Spark SQL, inexact past 2^53 — the exact
        // envelope is now budget*isqrt <= Long.MAX (documented above)
        greatest(lit(1L),
          expr(s"${budget}L * isqrt div isqrt_total").cast("long"))
          .as("quota"))
  }

  /** Apply [[domainStats]] quotas as a sample: per domain, keep the
    * `quota` docs with the lowest (md5(doc_id), doc_id) rank — the same
    * deterministic hash-order rank rule as [[Sampling.mixtureSample]],
    * but with DATA-DERIVED quotas joined in (broadcast — the quota table
    * is |domains| rows) instead of a static weight map.
    *
    * Ranking is a BOUNDED per-domain top-k
    * ([[graft.functions.TopKAggregator]] by (rank_key, doc_id), k = budget — every quota
    * is ≤ budget by construction: budget·isqrt div total ≤ budget), NOT
    * a per-domain rank window: the window form put a megadomain's entire
    * 10⁸–10⁹-page row set through ONE task's sort just to keep its
    * sqrt-capped handful (the round-14 VERDICT straggler), while the
    * aggregator's map-side partial buffers cap at k rows, so the head
    * domain's shuffle contribution is k·tasks rows and no single task
    * ever sees more than the merge tree hands it. Output is byte-equal
    * to the window form for every surviving row (rank = position in the
    * same (md5, doc_id) ascending order — UrlSpec pins parity and the
    * window-free plan; the DuckDB oracle still states it as a window,
    * which at |oracle| scale is fine). */
  def domainQuotaSample(urls: DataFrame, budget: Long = 100L): DataFrame = {
    val k = math.min(math.max(budget, 1L), Int.MaxValue.toLong).toInt
    // quota needs only n_docs, so the stats agg and the top-k ranking
    // share ONE groupBy(domain) — a single corpus pass (canonicalize +
    // PSL domain once), where the [[domainStats]]-then-rank composition
    // paid two. The udaf spelling (not groupByKey) keeps the scan,
    // explode and post-agg arithmetic in codegen; only the k-capped
    // buffer itself is object work.
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKAggregator(k,
        Ordering.by((e: DomainDoc) => (e.rank_key, e.doc_id))),
      Encoders.product[DomainDoc])
    // canonicalize into a COLUMN first, derive the domain from the column
    // reference: registrableDomain substitutes its input into ~10 leaves
    // (4 trailing-label regexes + the PSL CASE arms), and inlining the
    // full canonicalize tree at each leaf cost 2.7x wall clock when the
    // round-16 PSL grammar widened the matcher (bench bar breach)
    val agged = urls
      .withColumn("_uc", canonicalizeUrl(col("url")))
      .withColumn("domain", registrableDomain(col("_uc")))
      .select(col("domain"), md5(col("doc_id").cast("string")).as("rank_key"),
        col("doc_id").cast("long").as("doc_id"))
      .groupBy("domain")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        topk(col("domain"), col("rank_key"), col("doc_id")).as("top"))
      .withColumn("isqrt",
        floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val total = agged.agg(sum(col("isqrt")).as("isqrt_total"))
    agged.crossJoin(broadcast(total))
      .select(col("domain"),
        greatest(lit(1L),
          expr(s"${budget}L * isqrt div isqrt_total").cast("long")).as("quota"),
        posexplode(col("top")).as(Seq("pos", "rd")))
      .filter(col("pos") < col("quota"))
      .select(col("rd.doc_id").as("doc_id"), col("domain"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** QUERY-PARAMETER intelligence (round 18): per `(domain, param)` —
    * occurrence count and distinct-value count over the RAW query
    * strings (pre-canonicalization: the tracking params the
    * canonicalizer strips are exactly what this op exists to
    * DISCOVER). INPUT CONTRACT: `urls` must carry `(doc_id, url)` —
    * `doc_id` is required (round 19: support counts distinct PAGES,
    * not kv occurrences), a url-only frame fails analysis by design. The two flags are the standard param-policy signals a
    * crawl pipeline derives from its own corpus instead of a
    * hardcoded `utm_*` list:
    *  - `constant_val` — one value corpus-wide on this domain
    *    (boilerplate/tracking: stripping it cannot split real pages);
    *  - `high_card` — MORE than one value AND distinct values ≥ half
    *    the occurrences (session-id / cache-buster shape: the param
    *    explodes the URL space without adding content, the classic
    *    crawl-trap axis; the >1 guard keeps a low-support constant —
    *    1 value over 2 rows passes the ratio — out of the flag).
    * `n_urls` counts DISTINCT input rows (doc_id) carrying the param,
    * not kv occurrences (round 19, r18 ADVICE: a single URL repeating
    * a param — `?a=1&a=2` — must not satisfy a minSupport of 2 by
    * itself; support measures corpus evidence, in pages).
    * Downstream applies a support threshold on `n_urls` before acting
    * (the columns carry the evidence; the op doesn't hide it behind a
    * tuned constant).
    *
    * Scale shape: parse + explode are scan-fused row-local work (the
    * explode is output-bounded by params-per-URL, a small constant);
    * ONE aggregation on (domain, param) — cardinality |domains|·
    * |param vocabulary|, far below corpus scale — with map-side
    * partial combine; the exact distinct is the standard two-phase
    * expand. The domain derivation stays below the Generate so every
    * post-explode reference is an attribute (the pinColumns
    * discipline, structurally). */
  def paramStats(urls: DataFrame): DataFrame = {
    val base = substring_index(col("url"), "#", 1)
    val beforeQ = substring_index(base, "?", 1)
    val rawq = when(base.contains("?"),
      base.substr(length(beforeQ) + 2, lit(1 << 20))).otherwise(lit(""))
    val kvKey = substring_index(col("_kv"), "=", 1)
    // pin the canonical key (and the possibly-computed raw url) as
    // ATTRIBUTES before registrableDomain and the query split derive
    // from them: CollapseProject would otherwise inline the
    // canonicalize tree at every PSL leaf and the url expression at
    // every slice — the generated projection code blows past Janino's
    // comfortable size and the first execution pays a 20 s compile
    // (measured on url_dedup_learned, whose plan embeds this subtree)
    Links.pinColumns(urls.select(col("doc_id"), col("url"),
        canonicalizeUrl(col("url")).as("_uc")))
      .select(col("doc_id"), registrableDomain(col("_uc")).as("domain"),
        explode(filter(split(rawq, "&"), p => p =!= "")).as("_kv"))
      .select(col("doc_id"), col("domain"), kvKey.as("param"),
        col("_kv").substr(length(kvKey) + 2, lit(1 << 20)).as("_v"))
      .groupBy("domain", "param")
      .agg(count_distinct(col("doc_id")).cast("long").as("n_urls"),
        count_distinct(col("_v")).cast("long").as("n_vals"))
      .select(col("domain"), col("param"), col("n_urls"), col("n_vals"),
        (col("n_vals") === 1).as("constant_val"),
        (col("n_vals") > 1 && col("n_vals") * 2 >= col("n_urls"))
          .as("high_card"))
  }

  /** CONTENT-CORROBORATED param policy (round 19 — the r18 verdict's
    * "what's wrong" #2: value-distribution evidence alone cannot tell
    * a session id from a unique-per-page CONTENT id — `?article=12345`
    * is `high_card` exactly like `?sid=abc123`, and stripping it folds
    * every article on the domain onto one key). Here a `high_card`
    * param joins the strip list only when the corpus CORROBORATES the
    * session shape: among URL groups identical except for this param's
    * value (same domain, same this-param-stripped canonical key),
    * every group where the value actually VARIES agrees on one content
    * fingerprint — i.e. the variants demonstrably serve the same page
    * — and at least one such varying group exists. A content-selector
    * param fails immediately (different values → different
    * fingerprints) and is KEPT. `constant_val` params still strip on
    * distribution evidence alone (one corpus-wide value cannot split
    * real pages). `urls` must carry `(doc_id, url, fp)` — fp is any
    * per-page content fingerprint (md5 of normalized text, a simhash
    * band, …), already in the row so the learn pass stays scan-fused.
    * Output: one `(domain, _drop array<string>)` row per domain with at
    * least one param to strip at `minSupport`+ distinct-page support —
    * the per-domain STRIP LIST the apply pass (and the frontier,
    * [[urlFrontierLearnedIncrement]]) consumes. The array is SORTED
    * ([[withLearnedKey]]'s binary-search contract — a crawl-trap
    * megadomain can flag 10⁵+ param names).
    *
    * Scale shape: one extra learn aggregation keyed on (domain, param,
    * stripped-key) — input is the kv rows (params-per-URL-bounded),
    * collapsing map-side; the verdict agg is |domains|·|param vocab|
    * as in [[paramStats]]. */
  def paramPolicyCorroborated(urls: DataFrame,
                              minSupport: Long = 2L): DataFrame = {
    val canon = Links.pinColumns(urls
        .select(col("doc_id"), col("fp"), col("url"),
          canonicalizeUrl(col("url")).as("url_canon")))
      .withColumn("domain", registrableDomain(col("url_canon")))
    val pathPart = substring_index(col("url_canon"), "?", 1)
    val q = col("url_canon").substr(length(pathPart) + 2, lit(1 << 20))
    val params = when(col("url_canon").contains("?"), split(q, "&"))
      .otherwise(typedLit(Seq.empty[String]))
    val kvKey = substring_index(col("_kv"), "=", 1)
    val others = filter(col("_ps"), p =>
      substring_index(p, "=", 1) =!= col("param"))
    val kv = Links.pinColumns(canon.select(col("domain"), col("fp"),
        pathPart.as("_path"), params.as("_ps")))
      .select(col("domain"), col("fp"), col("_path"), col("_ps"),
        explode(col("_ps")).as("_kv"))
      .select(col("domain"), col("fp"), col("_path"), col("_ps"),
        kvKey.as("param"),
        col("_kv").substr(length(kvKey) + 2, lit(1 << 20)).as("_v"))
      .select(col("domain"), col("param"), col("_v"), col("fp"),
        when(size(others) > 0,
          concat(col("_path"), lit("?"), array_join(others, "&")))
          .otherwise(col("_path")).as("_stripped"))
    val groups = kv.groupBy("domain", "param", "_stripped")
      .agg(count_distinct(col("_v")).as("_nv"),
        count_distinct(col("fp")).as("_nfp"))
    val corrob = groups.groupBy("domain", "param")
      .agg((sum(when(col("_nv") > 1, 1L).otherwise(0L)) > 0 &&
        sum(when(col("_nv") > 1 && col("_nfp") > 1, 1L).otherwise(0L)) === 0)
        .as("_corrob"))
    paramStats(urls.select(col("doc_id"), col("url")))
      .join(corrob, Seq("domain", "param"), "left")
      .filter(col("n_urls") >= minSupport &&
        (col("constant_val") ||
          (col("high_card") && coalesce(col("_corrob"), lit(false)))))
      .groupBy("domain")
      .agg(sort_array(collect_set(col("param"))).as("_drop"))
  }

  /** LEARNED-POLICY URL dedup ([[paramStats]] consumed): the corpus
    * teaches its own canonicalization. The strip list per domain comes
    * from [[paramPolicyCorroborated]] (boilerplate and corroborated
    * session params go; a unique-per-page content param SURVIVES);
    * every URL re-canonicalizes with those params removed, and
    * first-occurrence dedup runs on the learned key. Collapses the
    * variants the static canonicalizer's hardcoded `utm_*` list cannot
    * know (`?sid=abc` vs `?sid=def`; `?lang=en` vs bare). Output: one
    * row per learned key with the lowest-doc_id keeper, the collapse
    * count, and `n_canon_variants` (distinct STATIC canonical forms
    * folded — >1 is the policy's added value over [[urlDedup]]).
    *
    * Scale shape: two corpus passes by nature (learn, then apply) —
    * both scan-fused; the policy table is |domains|·|flagged params|
    * rows, grouped to one strip-array per domain — BROADCAST while the
    * caller-stated domain scale fits the ceiling, else a shuffle-hash
    * probe ([[domainFrameSide]] — at 10⁷–10⁸ crawl domains the policy
    * frame is GBs); the apply pass is a per-row array filter (the
    * canonical query is already sorted, so stripping preserves key
    * order) + the same one-exchange hash-agg as [[urlDedup]]. */
  def paramPolicyDedupCorroborated(urls: DataFrame, minSupport: Long = 2L,
                                   expectedDomains: Long = 0L): DataFrame =
    applyParamPolicy(urls.select(col("doc_id"), col("url")),
        paramPolicyCorroborated(urls, minSupport), expectedDomains)
      .groupBy("learned_canon")
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).cast("long").as("n_dups"),
        count_distinct(col("url_canon")).cast("long").as("n_canon_variants"))

  /** The APPLY half of [[paramPolicyDedupCorroborated]]: per
    * `(doc_id, url)` row, the LEARNED canonical key ([[withLearnedKey]])
    * alongside the static one — `(doc_id, url_canon, learned_canon)`.
    * Row-local once the policy row is joined in. */
  private[graft] def applyParamPolicy(urls: DataFrame, policy: DataFrame,
                                      expectedDomains: Long = 0L): DataFrame = {
    // pin the canonical key as an ATTRIBUTE before the PSL derivation
    // (the domain_quota_sample lesson: registrableDomain references its
    // input at ~10 leaves)
    val canon = Links.pinColumns(urls
        .select(col("doc_id"), canonicalizeUrl(col("url")).as("url_canon")))
      .withColumn("domain", registrableDomain(col("url_canon")))
    withLearnedKey(canon, Some(policy), "domain", "url_canon",
        "learned_canon", expectedDomains)
      .select(col("doc_id"), col("url_canon"), col("learned_canon"))
  }
}
