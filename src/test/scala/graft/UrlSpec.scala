package graft

import graft.ops.Url
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** URL-level curation (round 13): canonicalizer semantics, dedup
  * first-occurrence contract, sqrt-quota stats, and plan shape. */
class UrlSpec extends SparkSpec {

  test("canonicalizeUrl: case folds, www/default-port/fragment strip, " +
    "tracking params drop, params sort, trailing slash strips") {
    import spark.implicits._
    val cases = Seq(
      // case + www + default port + fragment + param order
      ("HTTPS://WWW.Sub1.src0-site.Org:443/p/3?b=2&a=1#sec",
       "https://sub1.src0-site.org/p/3?a=1&b=2"),
      // tracking params vanish; surviving params sorted
      ("http://h.example.com/p/1?utm_source=feed&b=2&a=1",
       "http://h.example.com/p/1?a=1&b=2"),
      ("https://h.example.com/x?utm_campaign=x&gclid=z&fbclid=y",
       "https://h.example.com/x"),
      // non-default port survives; trailing slash strips
      ("http://h.example.com:8080/p/5/", "http://h.example.com:8080/p/5"),
      // root path: empty -> '/', bare '/' kept
      ("http://h.example.com", "http://h.example.com/"),
      ("http://h.example.com/", "http://h.example.com/"),
      // http :80 strips, https :80 kept (not that scheme's default)
      ("http://h.example.com:80/a", "http://h.example.com/a"),
      ("https://h.example.com:80/a", "https://h.example.com:80/a"))
    val got = cases.map(_._1).toDF("url")
      .select(Url.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got === cases.map(_._2))
  }

  test("registrableDomain: last two labels off the canonical host, " +
    "port-blind") {
    import spark.implicits._
    val got = Seq("https://sub1.src0-site.org/p/3?a=1",
        "http://h.example.com:8080/p",
        "http://example.com/")
      .toDF("u").select(Url.registrableDomain(col("u")).as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("src0-site.org", "example.com", "example.com"))
  }

  test("registrableDomain is PSL-aware: a public-suffix TLD keeps THREE " +
    "labels, a bare public suffix returns itself (round-14 VERDICT — the " +
    "two-label rule mis-bucketed every ccTLD-registered domain)") {
    import spark.implicits._
    val got = Seq(
        "https://shop.example.co.uk/p",      // PSL: 3 labels
        "http://www2.news.example.com.au:8080/x", // PSL + port-blind
        "https://example.org.uk/p",          // exactly registrable
        "https://co.uk/",                    // bare public suffix: itself
        "https://deep.sub.example.com/p")    // non-PSL: 2 labels as before
      .toDF("u").select(Url.registrableDomain(col("u")).as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("example.co.uk", "example.com.au", "example.org.uk",
      "co.uk", "example.com"))
  }

  test("registrableDomain handles the FULL PSL rule grammar (round-15 " +
    "VERDICT #8): 3-label suffixes keep FOUR labels, *.tld wildcards make " +
    "every 2-label child a suffix, exceptions beat their wildcard") {
    import spark.implicits._
    val cases = Seq(
      // 3-label suffix rule k12.ma.us: registrable keeps 4 labels
      ("https://www.lincoln.k12.ma.us/p", "lincoln.k12.ma.us"),
      ("https://lincoln.k12.ma.us/p", "lincoln.k12.ma.us"),
      ("https://k12.ma.us/", "k12.ma.us"),            // bare suffix: itself
      // plain 2-label suffix aichi.jp (the pref.aichi.jp shape)
      ("http://www.pref.aichi.jp/x", "pref.aichi.jp"),
      // *.ck wildcard: any 2-label child is a suffix -> keep 3 labels
      ("https://www.shop.example.ck/p", "shop.example.ck"),
      ("https://shop.example.ck/p", "shop.example.ck"),
      ("https://example.ck/p", "example.ck"),         // child suffix: itself
      // !www.ck exception: registrable despite *.ck
      ("https://www.ck/p", "www.ck"),
      ("https://a.www.ck/p", "www.ck"),
      // *.kawasaki.jp (2-label wildcard base): 3-label child is a suffix
      ("https://site.example.kawasaki.jp/p", "site.example.kawasaki.jp"),
      // !city.kawasaki.jp exception beats the wildcard
      ("https://www.city.kawasaki.jp/p", "city.kawasaki.jp"),
      ("https://city.kawasaki.jp/p", "city.kawasaki.jp"))
    val got = cases.map(_._1)
      .toDF("u").select(Url.registrableDomain(col("u")).as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(got === cases.map(_._2),
      cases.map(_._1).zip(got).mkString("\n"))
  }

  test("urlGate PSL containment: blocking a co.uk-registered domain drops " +
    "its subdomains but NOT sibling registrations under the same suffix") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://a.bad.co.uk/p"),     // subdomain of blocked: drop
      (2L, "https://bad.co.uk/p"),       // blocked exactly: drop
      (3L, "https://good.co.uk/p"),      // sibling under co.uk: keep
      (4L, "https://bad.com/p"))         // different registration: keep
      .toDF("doc_id", "url")
    val got = Url.urlGate(urls, Seq("bad.co.uk"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("url_keep")).toMap
    assert(got === Map(1L -> false, 2L -> false, 3L -> true, 4L -> true))
  }

  test("registrableDomain splits on the FIRST '://' — a query-param value " +
    "containing '://' cannot shift the host (round-13 ADVICE regression)") {
    import spark.implicits._
    // the surviving param carries a full URL; the old last-occurrence
    // split extracted 'evil.test' as the domain
    val got = Seq("https://example.com/p/1?next=https://evil.test/x")
      .toDF("u").select(Url.registrableDomain(col("u")).as("d"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("example.com"))
  }

  test("urlDedup folds scheme-case/www/port/slash/param-order variants to " +
    "one key, keeps the lowest doc_id; plan has ONE aggregate exchange " +
    "and no join") {
    import spark.implicits._
    val urls = Seq(
      (10L, 7L, "HTTP://WWW.a.example.com:80/p/1/?b=2&a=1"),
      (3L, 5L, "http://a.example.com/p/1?a=1&b=2&utm_source=x"),
      (8L, 2L, "http://a.example.com/p/2"),
      (5L, 1L, "https://a.example.com/p/1?a=1&b=2")) // scheme differs: distinct
      .toDF("doc_id", "n_chars", "url")
    val out = Url.urlDedup(urls).orderBy("url_canon").collect()
    assert(out.length === 3)
    val byUrl = out.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byUrl("http://a.example.com/p/1?a=1&b=2") === (3L, 2L))
    assert(byUrl("http://a.example.com/p/2") === (8L, 1L))
    assert(byUrl("https://a.example.com/p/1?a=1&b=2") === (5L, 1L))
    val p = Url.urlDedup(urls).queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"urlDedup joins:\n$p")
  }

  test("robotsRules: only the User-agent:* group's rules collect; a UA " +
    "run shares one group; comments/CRLF/empty-Disallow handled " +
    "(RFC 9309 grouping)") {
    import spark.implicits._
    val txt =
      "# policy\r\nUser-agent: badbot\r\nDisallow: /\r\n\r\n" +
        "User-agent: goodbot\nUser-agent: *\n" + // UA run incl. *
        "Disallow: /private # inline comment\n" +
        "ALLOW: /private/ok\n" + // field names case-insensitive
        "Disallow:\n" + // empty value: no rule
        "\nUser-agent: otherbot\nDisallow: /other\n"
    val rules = Seq(txt).toDF("t")
      .select(Url.robotsRules(col("t")).as("r")).head().getSeq[Row](0)
      .map(r => (r.getBoolean(0), r.getString(1)))
    assert(rules === Seq((false, "/private"), (true, "/private/ok")))
    // the star group FIRST in a run that also names others still applies
    val txt2 = "User-agent: *\nUser-agent: extra\nDisallow: /x\n"
    val rules2 = Seq(txt2).toDF("t")
      .select(Url.robotsRules(col("t")).as("r")).head().getSeq[Row](0)
      .map(r => (r.getBoolean(0), r.getString(1)))
    assert(rules2 === Seq((false, "/x")))
  }

  test("robotsGate: longest matching prefix wins, Allow wins length ties, " +
    "no rule / no robots row allows (RFC 9309 precedence)") {
    import spark.implicits._
    val robots = Seq(
      ("ruled.com",
        "User-agent: *\nDisallow: /p\nAllow: /p/ok\nDisallow: /p/okx\n" +
          "Allow: /tie\nDisallow: /tie\n"))
      .toDF("domain", "robots_txt")
    val urls = Seq(
      (1L, "http://a.ruled.com/p/1"),      // /p disallow: drop
      (2L, "http://a.ruled.com/p/ok"),     // longer allow: keep
      (3L, "http://a.ruled.com/p/okx"),    // longest disallow beats /p/ok
      (4L, "http://a.ruled.com/free"),     // no matching rule: keep
      (5L, "http://a.ruled.com/tie"),      // equal length: Allow wins
      (6L, "http://norobots.com/p/1"))     // no robots row: keep
      .toDF("doc_id", "url")
    val got = Url.robotsGate(urls, robots)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("robots_ok")).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> false,
      4L -> true, 5L -> true, 6L -> true))
    // query string is part of the matched string (RFC: path + query)
    val q = Url.robotsGate(
        Seq((7L, "http://a.ruled.com/p/1?a=1")).toDF("doc_id", "url"), robots)
      .head().getAs[Boolean]("robots_ok")
    assert(!q)
  }

  test("robotsGate plan: rules broadcast per domain, the match is a " +
    "row-local fold — no corpus-side exchange (the urlGate shape)") {
    import spark.implicits._
    val urls = (0L until 64L).map(i => (i, s"https://h$i.example.com/p"))
      .toDF("doc_id", "url")
    val robots = Seq(("example.com", "User-agent: *\nDisallow: /p\n"))
      .toDF("domain", "robots_txt")
    val plan = Url.robotsGate(urls, robots)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"not a broadcast probe:\n$plan")
    val bcastIdx = plan.indexOf("BroadcastExchange")
    val exIdx = plan.indexOf("Exchange hashpartitioning")
    assert(exIdx === -1 || (bcastIdx >= 0 && exIdx > bcastIdx),
      s"corpus side shuffles:\n$plan")
  }

  test("syntheticRobots: one row per registrable domain; the generated " +
    "text parses back to exactly the generator's rule set") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"src${i % 3}", 64L))
      .toDF("doc_id", "source", "n_chars")
    val urls = Url.syntheticUrls(docs).select("doc_id", "url")
    val robots = Url.syntheticRobots(urls)
    val doms = robots.select("domain").collect().map(_.getString(0))
    assert(doms.length === doms.distinct.length && doms.nonEmpty)
    val parsed = robots
      .select(col("domain"), Url.robotsRules(col("robots_txt")).as("r"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[Row](1).map(x => (x.getBoolean(0), x.getString(1))))
    parsed.foreach { case (dom, rules) =>
      val d13 = dom.length % 13
      val j13 = (d13 + 1) % 13
      assert(rules === Seq((false, s"/p/$d13"), (true, s"/p/${d13}2"),
        (false, "/*?id="), (false, s"/p/$j13$$"),
        (false, "/admin"), (false, "/page/2$")),
        s"domain $dom parsed $rules")
    }
  }

  test("robotsGate wildcards (RFC 9309 §2.2.3, MUST-level): '*' matches " +
    "any char run incl. into the query, trailing '$' anchors end-of-match, " +
    "precedence counts the rule path's raw octets") {
    import spark.implicits._
    val robots = Seq(
      ("wild.com",
        "User-agent: *\n" +
          "Disallow: /*?sid=\n" +       // any path whose query starts sid=
          "Disallow: /*.pdf$\n" +       // any path ending .pdf
          "Allow: /docs/manual.pdf$\n" + // longer: carve-out beats /*.pdf$
          "Disallow: /exact$\n"))        // exact path only
      .toDF("domain", "robots_txt")
    val urls = Seq(
      (1L, "http://a.wild.com/page?sid=9"),        // /*?sid= : drop
      (2L, "http://a.wild.com/page?other=1"),      // no match: keep
      (3L, "http://a.wild.com/files/x.pdf"),       // /*.pdf$ : drop
      (4L, "http://a.wild.com/files/x.pdf?a=1"),   // $ blocks query form: keep
      (5L, "http://a.wild.com/docs/manual.pdf"),   // longer Allow wins: keep
      (6L, "http://a.wild.com/exact"),             // /exact$ : drop
      (7L, "http://a.wild.com/exactly"),           // $ anchored, no match: keep
      (8L, "http://a.wild.com/exact?q=1"))         // query breaks anchor: keep
      .toDF("doc_id", "url")
    val got = Url.robotsGate(urls, robots)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("robots_ok")).toMap
    assert(got === Map(1L -> false, 2L -> true, 3L -> false, 4L -> true,
      5L -> true, 6L -> false, 7L -> true, 8L -> true))
  }

  test("robotsGate: duplicate (domain, robots_txt) rows do NOT fan out " +
    "matching URL rows (round-15 ADVICE — the urlGate blocklist defect " +
    "class); collapse is deterministic") {
    import spark.implicits._
    val txt = "User-agent: *\nDisallow: /p\n"
    val robots = Seq(("dup.com", txt), ("dup.com", txt), ("dup.com", txt))
      .toDF("domain", "robots_txt")
    val urls = Seq((1L, "http://a.dup.com/p/1"), (2L, "http://a.dup.com/ok"))
      .toDF("doc_id", "url")
    val out = Url.robotsGate(urls, robots).collect()
    assert(out.length === 2, "duplicated robots rows fanned out the join")
    val got = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Boolean]("robots_ok")).toMap
    assert(got === Map(1L -> false, 2L -> true))
  }

  test("robotsGate shuffle mode: past the broadcast ceiling the rules " +
    "probe becomes a shuffle-hash equi-join on domain (no broadcast of " +
    "the |domains|-sized frame), row-identical to the broadcast form") {
    import spark.implicits._
    val urls = (0L until 64L).map(i => (i, s"https://h$i.dom$i.example.com/p"))
      .toDF("doc_id", "url")
    val robots = (0L until 64L)
      .map(i => ("example.com", "User-agent: *\nDisallow: /p\n"))
      .toDF("domain", "robots_txt")
    val bcast = Url.robotsGate(urls, robots)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getBoolean(4)))
    val shuffled = Url.robotsGate(urls, robots, expectedDomains = 1L << 40)
    val plan = shuffled.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"rules frame still broadcast past the ceiling:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"fallback is not a shuffle-hash join:\n$plan")
    val got = shuffled.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(4)))
    assert(got === bcast, "shuffle mode diverged from broadcast mode")
  }

  test("robotsMeta: the * group's fractional Crawl-delay wins (a non-* " +
    "group's decoy does NOT apply; unparseable/absent -> null), Sitemap " +
    "lines collect group-independently in file order, dup rows collapse") {
    import spark.implicits._
    val robots = Seq(
      ("a.com", "User-agent: badbot\nCrawl-delay: 99\n" +
        "Sitemap: https://a.com/s1.xml\n\n" +
        "User-agent: *\nCrawl-delay: 2.5\nDisallow: /x\n" +
        "Sitemap: https://a.com/s2.xml\n"),
      ("a.com", "User-agent: badbot\nCrawl-delay: 99\n" +
        "Sitemap: https://a.com/s1.xml\n\n" +
        "User-agent: *\nCrawl-delay: 2.5\nDisallow: /x\n" +
        "Sitemap: https://a.com/s2.xml\n"),               // dup row
      ("b.com", "User-agent: *\nCrawl-delay: nonsense\n"), // unparseable
      ("c.com", "User-agent: *\nDisallow: /\n"))           // absent
      .toDF("domain", "robots_txt")
    val got = Url.robotsMeta(robots).orderBy("domain").collect()
      .map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        r.getSeq[String](2)))
    assert(got.length === 3, "duplicate domain rows did not collapse")
    assert(got(0) === (("a.com", Some(2.5),
      Seq("https://a.com/s1.xml", "https://a.com/s2.xml"))))
    assert(got(1) === (("b.com", None, Seq())))
    assert(got(2) === (("c.com", None, Seq())))
  }

  test("crawlBudget: one-pass admission counts x politeness arithmetic — " +
    "the cap binds on a big domain, blocked domains drop, a domain with " +
    "no robots row gets the default delay") {
    import spark.implicits._
    // big.com: 5 pages, delay 2s, wall target 6s -> cap_pages 3 binds;
    // small.com: 2 pages, no robots row -> default delay 1s, cap 6;
    // blocked.com: blocklisted, must not appear; ftp row: scheme drop
    val urls = ((1L to 5L).map(i => (i, s"http://a.big.com/p/$i")) ++
      Seq((10L, "http://small.com/x"), (11L, "http://small.com/y"),
        (20L, "http://a.blocked.com/z"), (21L, "ftp://small.com/f")))
      .toDF("doc_id", "url")
    val robots = Seq(("big.com", "User-agent: *\nCrawl-delay: 2\n"))
      .toDF("domain", "robots_txt")
    val got = Url.crawlBudget(urls, Seq("blocked.com"), robots,
        defaultDelayS = 1.0, wallTargetS = 6L)
      .orderBy("domain").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5)))
    assert(got === Array(
      ("big.com", 5L, 2.0, 10.0, 3L, 3L),
      ("small.com", 2L, 1.0, 2.0, 6L, 2L)))
  }

  test("sitemapSeeds v2: urlset <loc> values extract trimmed, entity-" +
    "decoded, canonicalized; single- AND multi-line XML comments strip " +
    "first (DOTALL — round-16 ADVICE); index files emit NO seeds; a " +
    "gzipped payload inflates by magic") {
    import spark.implicits._
    def b(s: String): Array[Byte] = s.getBytes("UTF-8")
    val urlset =
      "<?xml version=\"1.0\"?>\n" +
        "<!-- <loc>https://decoy.invalid/x</loc> -->\n" +
        "<!-- retired\n  <loc>https://decoy.invalid/multiline</loc>\n-->\n" +
        "<urlset>\n  <url>\n    <loc> https://EX.com/a/ </loc>\n  </url>\n" +
        "  <url><loc>https://ex.com/b?b=2&amp;a=1</loc></url>\n</urlset>"
    val index =
      "<sitemapindex>\n" +
        "  <sitemap><loc>https://ex.com/sm-1.xml</loc></sitemap>\n" +
        "</sitemapindex>"
    val gz = graft.functions.GzipCompress.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        "<urlset><url><loc>https://ex.com/z</loc></url></urlset>"))
    val sm = Seq(
      ("ex.com", "https://ex.com/sm-1.xml", b(urlset)),
      ("ex.com", "https://ex.com/sitemap.xml", b(index)),
      ("ex.com", "https://ex.com/sm-2.xml.gz", gz))
      .toDF("domain", "sitemap_url", "content")
    val got = Url.sitemapSeeds(sm).orderBy("sitemap", "seed_idx").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3), r.getString(4)))
    assert(got === Array(
      ("https://ex.com/sm-1.xml", 1L,
        "https://EX.com/a/", "https://ex.com/a"),
      ("https://ex.com/sm-1.xml", 2L,
        "https://ex.com/b?b=2&a=1", "https://ex.com/b?a=1&b=2"),
      ("https://ex.com/sm-2.xml.gz", 1L,
        "https://ex.com/z", "https://ex.com/z")))
  }

  test("sitemap fixture contract: per domain sm-1 carries 2 + len%3 " +
    "seeds (incl. the entity-escaped one, decoded), the gzipped sm-2 " +
    "carries 2, the index carries none; sitemapIndex resolves 3 " +
    "children with sm-404 unfetched") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"src${i % 3}", 64L))
      .toDF("doc_id", "source", "n_chars")
    val urls = Url.syntheticUrls(docs).select("doc_id", "url")
    val fixture = Url.syntheticSitemaps(urls)
    val seeds = Url.sitemapSeeds(fixture)
    val perSm = seeds.groupBy("domain", "sitemap").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(perSm.nonEmpty)
    perSm.foreach { case (dom, sm, n) =>
      if (sm.endsWith("/sm-1.xml"))
        assert(n === 2L + dom.length % 3, s"$sm seed count $n")
      else if (sm.endsWith("/sm-2.xml.gz")) assert(n === 2L, s"$sm count $n")
      else fail(s"seeds from a non-urlset file: $sm")
    }
    // every decoded seed is on its own domain with no residual entities
    assert(seeds.filter(col("seed_url").contains("&amp;")).count() === 0L)
    assert(seeds.filter(!col("seed_canon")
      .startsWith(concat(lit("https://"), col("domain")))).count() === 0L)
    val idx = Url.sitemapIndex(fixture)
    val byDom = idx.groupBy("domain")
      .agg(count(lit(1)).as("n"),
        sum(when(col("fetched"), 1).otherwise(0)).as("nf"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).distinct
    assert(byDom === Array((3L, 2L)),
      "each domain must resolve 3 index children, 2 of them fetched")
    val unfetched = idx.filter(!col("fetched"))
      .select("child_canon").collect().map(_.getString(0))
    assert(unfetched.forall(_.endsWith("/sm-404.xml")))
  }

  test("robots group selection (RFC 9309 §2.2.1): the most specific " +
    "matching UA value wins (longest prefix of the product token), * " +
    "applies only when no specific group matches, token match is " +
    "case-insensitive, tied groups combine; robotsMeta's crawl_delay " +
    "follows the same selection") {
    import spark.implicits._
    val txt =
      "User-agent: GraftBot\nDisallow: /g\nCrawl-delay: 3\n\n" +
        "User-agent: graft\nDisallow: /pfx\n\n" +
        "User-agent: graftbot\nDisallow: /g2\n\n" + // tied with GraftBot
        "User-agent: *\nDisallow: /star\nCrawl-delay: 7\n"
    def rulesFor(agent: String): Seq[String] =
      Seq(txt).toDF("t")
        .select(Url.robotsRules(col("t"), agent).as("r"))
        .head().getSeq[Row](0).map(_.getAs[String]("prefix"))
    assert(rulesFor("graftbot") === Seq("/g", "/g2"),
      "exact token match must select BOTH tied groups (RFC combine)")
    assert(rulesFor("GRAFTBOT") === Seq("/g", "/g2"), "case-insensitive")
    assert(rulesFor("graftbot-news") === Seq("/g", "/g2"),
      "longest matching prefix wins over the shorter 'graft'")
    assert(rulesFor("grafter") === Seq("/pfx"),
      "'graft' is the only matching prefix for 'grafter'")
    assert(rulesFor("otherbot") === Seq("/star"),
      "* is the fallback when no specific group matches")
    assert(rulesFor("*") === Seq("/star"),
      "agent '*' reads exactly the * group (pre-round-17 behavior)")
    val delays = Seq(("graftbot", 3.0), ("otherbot", 7.0))
    delays.foreach { case (agent, want) =>
      val got = Url.robotsMeta(Seq(("a.com", txt)).toDF("domain", "robots_txt"),
        agent).head().getDouble(1)
      assert(got === want, s"crawl_delay for $agent")
    }
    // grafter: the 'graft' group has no Crawl-delay -> falls to... the
    // SELECTED group only (no cross-group inheritance): delay is null
    val grafter = Url.robotsMeta(
      Seq(("a.com", txt)).toDF("domain", "robots_txt"), "grafter")
      .head()
    assert(grafter.isNullAt(1),
      "a selected group without Crawl-delay must yield null, not the * group's")
  }

  test("crawlBudget: Crawl-delay 0 means NO politeness cap — cap_pages " +
    "pins to Long.MaxValue, est 0, n_fetchable = n_admitted (round-17 " +
    "pinned edge: floor(target/0) diverges across engines)") {
    import spark.implicits._
    val urls = (1L to 4L).map(i => (i, s"http://a.fast.com/p/$i"))
      .toDF("doc_id", "url")
    val robots = Seq(("fast.com", "User-agent: *\nCrawl-delay: 0\n"))
      .toDF("domain", "robots_txt")
    val got = Url.crawlBudget(urls, Seq.empty, robots).head()
    assert(got.getString(0) === "fast.com")
    assert(got.getLong(1) === 4L)
    assert(got.getDouble(2) === 0.0)
    assert(got.getDouble(3) === 0.0)
    assert(got.getLong(4) === Long.MaxValue)
    assert(got.getLong(5) === 4L)
  }

  test("sitemapLastmod: each loc pairs with ITS OWN entry's lastmod — a " +
    "dateless entry in the MIDDLE yields null there (a flat parallel " +
    "tag zip would shift the later date onto it); datetime values take " +
    "their date prefix; garbage parses to null, never throws") {
    import spark.implicits._
    val urlset =
      "<urlset>\n" +
        "  <url><loc>https://ex.com/a</loc><lastmod>2026-02-01</lastmod></url>\n" +
        "  <url><loc>https://ex.com/b</loc></url>\n" + // no lastmod
        "  <url>\n    <loc>https://ex.com/c</loc>\n" +
        "    <lastmod>2026-03-05T10:11:12+00:00</lastmod>\n  </url>\n" +
        "  <url><loc>https://ex.com/d</loc><lastmod>not-a-date</lastmod></url>\n" +
        "</urlset>"
    val sm = Seq(("ex.com", "https://ex.com/s.xml", urlset.getBytes("UTF-8")))
      .toDF("domain", "sitemap_url", "content")
    val got = Url.sitemapLastmod(sm).orderBy("seed_idx").collect()
      .map(r => (r.getLong(2), r.getString(3),
        Option(r.getDate(4)).map(_.toString)))
    assert(got === Array(
      (1L, "https://ex.com/a", Some("2026-02-01")),
      (2L, "https://ex.com/b", None),
      (3L, "https://ex.com/c", Some("2026-03-05")),
      (4L, "https://ex.com/d", None)))
  }

  test("sitemapSeeds is streaming-compatible: the same rows through " +
    "readStream produce the identical seed set (row-local decode + " +
    "extract — no state, no watermark needed)") {
    import spark.implicits._
    val urlset = "<urlset><url><loc> https://ex.com/a/ </loc></url>" +
      "<url><loc>https://ex.com/b?b=2&amp;a=1</loc></url></urlset>"
    val batchDf = Seq(("ex.com", "https://ex.com/s.xml",
      urlset.getBytes("UTF-8"))).toDF("domain", "sitemap_url", "content")
    val expected = Url.sitemapSeeds(batchDf).orderBy("seed_idx").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getString(4)))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Array[Byte])](spark)
    mem.addData(("ex.com", "https://ex.com/s.xml", urlset.getBytes("UTF-8")))
    val q = Url.sitemapSeeds(mem.toDF()
        .toDF("domain", "sitemap_url", "content"))
      .writeStream.format("memory").queryName("sm_seeds_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sm_seeds_stream").orderBy("seed_idx").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getString(4)))
    assert(got === expected)
    assert(got.map(_._3).toSeq ===
      Seq("https://ex.com/a", "https://ex.com/b?a=1&b=2"))
  }

  test("crawlDiscover e2e: robots-declared sitemaps resolve through one " +
    "index level (unfetched children skip), undeclared urlsets are NOT " +
    "reachable, seeds gate on scheme + blocklist + the domain's robots " +
    "rules, duplicates collapse to first occurrence, catalog members " +
    "drop") {
    import spark.implicits._
    def b(s: String): Array[Byte] = s.getBytes("UTF-8")
    val robots = Seq(
      ("ex.com", "User-agent: *\nDisallow: /p3$\n" +
        "Sitemap: https://ex.com/sitemap.xml\n"),
      ("bl.com", "User-agent: *\nSitemap: https://bl.com/s.xml\n"))
      .toDF("domain", "robots_txt")
    val sitemaps = Seq(
      ("ex.com", "https://ex.com/sitemap.xml", b(
        "<sitemapindex>" +
          "<sitemap><loc>https://ex.com/sm-a.xml</loc></sitemap>" +
          "<sitemap><loc>https://ex.com/sm-miss.xml</loc></sitemap>" +
          "</sitemapindex>")),
      ("ex.com", "https://ex.com/sm-a.xml", b(
        "<urlset><url><loc>https://ex.com/p1</loc></url>" +
          "<url><loc>https://ex.com/p2</loc></url>" +
          "<url><loc>https://EX.com/p1</loc></url>" + // dup via canon
          "<url><loc>https://ex.com/p3</loc></url>" + // robots-disallowed
          "<url><loc>ftp://ex.com/f</loc></url></urlset>")),
      ("ex.com", "https://ex.com/orphan.xml", b( // declared nowhere
        "<urlset><url><loc>https://ex.com/orphan</loc></url></urlset>")),
      ("bl.com", "https://bl.com/s.xml", b( // blocklisted domain
        "<urlset><url><loc>https://bl.com/x</loc></url></urlset>")))
      .toDF("domain", "sitemap_url", "content")
    val catalog = Seq("https://ex.com/p2").toDF("url_canon")
    val got = Url.crawlDiscover(robots, sitemaps, Seq("bl.com"), catalog)
      .select("domain", "sitemap", "seed_idx", "seed_canon")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(got === Array(
      ("ex.com", "https://ex.com/sm-a.xml", 1L, "https://ex.com/p1")))
    // plan pin (round-17 directive): the blocklist gate rides a
    // broadcast probe, the frontier novelty check is a shuffle-hash
    // anti-join (the catalog is corpus-scale — it must never
    // broadcast), and the composition introduces no sort-merge join or
    // cartesian product anywhere
    val plan = Url.crawlDiscover(robots, sitemaps, Seq("bl.com"), catalog)
      .queryExecution.executedPlan.toString
    assert("ShuffledHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftAnti".r
        .findFirstIn(plan).isDefined,
      s"catalog anti-join is not shuffle-hash:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"blocklist probe is not a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"sort-merge join leaked:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian leaked:\n$plan")
  }

  test("crawlBudget plan: ONE corpus pass — no corpus-sized doc_id join " +
    "(the urlGate-then-robotsGate composition would shuffle two verdict " +
    "frames), gates ride broadcast probes, one domain aggregation") {
    import spark.implicits._
    val urls = (0L until 64L).map(i => (i, s"https://h$i.example$i.com/p"))
      .toDF("doc_id", "url")
    val robots = Seq(("example1.com", "User-agent: *\nCrawl-delay: 1\n"))
      .toDF("domain", "robots_txt")
    val plan = Url.crawlBudget(urls, Seq("blocked.test"), robots)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"corpus-sized doc_id exchange in the plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"gate probes are not broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"unexpected corpus-side sort-merge join:\n$plan")
  }

  test("robotsRules caps input at RFC 9309's 500 KiB and parses a " +
    "many-line file in one O(lines) pass (round-15 VERDICT: the fold " +
    "spelling was O(lines^2))") {
    import spark.implicits._
    // ~40k rule lines ≈ 680 KiB: rules materially past 500 KiB must drop
    val sb = new StringBuilder("User-agent: *\n")
    (0 until 40000).foreach(i => sb.append(f"Disallow: /r$i%07d\n"))
    val t0 = System.nanoTime()
    val rules = Seq(sb.toString).toDF("t")
      .select(Url.robotsRules(col("t")).as("r")).head().getSeq[Row](0)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(rules.length < 40000, "rules past the 500 KiB cap were kept")
    assert(rules.length > 25000, s"cap cut far too early (${rules.length})")
    assert(elapsedMs < 30000, f"hostile-size parse took $elapsedMs%.0f ms")
  }

  test("urlFrontierIncrement: intra-delta first occurrence wins, catalog " +
    "members drop (through canonicalization), and output is byte-identical " +
    "at shards 1/2/16 — the scaladoc's parity claim, pinned") {
    import spark.implicits._
    val catalog = Seq("http://a.site.com/p/1", "https://b.site.com/x?b=2&a=1")
      .toDF("url")
      .select(Url.canonicalizeUrl(col("url")).as("url_canon")).distinct()
    val delta = Seq(
      (10L, "HTTP://WWW.a.site.com:80/p/1/"), // catalog dup via canon: drop
      (11L, "https://b.site.com/x?a=1&b=2"),  // catalog dup (param order): drop
      (12L, "http://new.site.com/n"),          // novel: keep
      (13L, "http://New.SITE.com/n"),          // intra-delta dup of 12: drop
      (14L, "http://other.site.com/o"))        // novel: keep
      .toDF("doc_id", "url")
    def run(shards: Int) = Url.urlFrontierIncrement(delta, catalog,
        expectedCatalogSize = 64L, shards = shards)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val base = run(1)
    assert(base === Seq(
      (12L, "http://new.site.com/n"),
      (14L, "http://other.site.com/o")))
    for (shards <- Seq(2, 16))
      assert(run(shards) === base, s"shards=$shards diverged")
    // empty catalog: everything novel modulo intra-delta firsts
    val fresh = Url.urlFrontierIncrement(delta,
        spark.range(0).select(lit(null).cast("string").as("url_canon")))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(fresh === Seq(10L, 11L, 12L, 14L))
  }

  test("domainStats: sqrt-proportional integer quotas sum sanely and " +
    "every domain gets >= 1; quota sample honors quotas exactly") {
    import spark.implicits._
    // 3 domains with 16 / 4 / 1 docs -> isqrt 4 / 2 / 1, total 7:
    // quotas floor(14*4/7)=8, floor(14*2/7)=4, floor(14*1/7)=2
    val docs = ((0 until 16).map(i => (i.toLong, 10L, s"http://a.dom-a.com/p/$i")) ++
      (0 until 4).map(i => (100L + i, 10L, s"http://a.dom-b.com/p/$i")) ++
      Seq((200L, 10L, "http://a.dom-c.com/p/0")))
      .toDF("doc_id", "n_chars", "url")
    val st = Url.domainStats(docs, budget = 14L).orderBy("domain").collect()
    assert(st.map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSeq ===
      Seq(("dom-a.com", 16L, 8L), ("dom-b.com", 4L, 4L), ("dom-c.com", 1L, 2L)))
    val sample = Url.domainQuotaSample(docs, budget = 14L)
    val byDom = sample.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // quota caps bind where n_docs > quota; small domains keep all docs
    assert(byDom === Map("dom-a.com" -> 8L, "dom-b.com" -> 4L, "dom-c.com" -> 1L))
  }

  test("domainQuotaSample == the per-domain rank-window form row-for-row, " +
    "with a window-free bounded top-k plan (round-14 VERDICT: the window " +
    "put a megadomain's whole row set through one task)") {
    import spark.implicits._
    // zipf-ish: one head domain with 60 docs, a torso, two singletons
    val docs = ((0 until 60).map(i => (i.toLong, 10L, s"http://s$i.head.com/p/$i")) ++
      (100 until 112).map(i => (i.toLong, 10L, s"http://a.torso.net/p/$i")) ++
      Seq((200L, 10L, "http://one.org/x"), (201L, 10L, "http://two.org/y")))
      .toDF("doc_id", "n_chars", "url")
    val got = Url.domainQuotaSample(docs, budget = 9L)
      .orderBy("doc_id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // the reference semantics, stated as the window it replaced
    val expected = Url.domainStats(docs, budget = 9L).select("domain", "quota")
      .join(docs.withColumn("domain",
          Url.registrableDomain(Url.canonicalizeUrl(col("url"))))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("domain")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).cast("long")),
        "domain")
      .filter(col("rank") <= col("quota"))
      .select("doc_id", "domain", "rank")
      .orderBy("doc_id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.count(_._2 == "head.com") < 60,
      "quota did not cap the head domain")
    // plan shape: NO rank window anywhere; the k-capped typed aggregation
    // (ObjectHashAggregate) does the ranking
    val plan = Url.domainQuotaSample(docs, budget = 9L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"rank window survived:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"no bounded top-k aggregation in the plan:\n$plan")
  }

  test("syntheticUrls is deterministic and collision-bearing: re-generation " +
    "is identical, and canonical keys genuinely collapse variants") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, s"src${i % 3}", 64L))
      .toDF("doc_id", "source", "n_chars")
    val u1 = Url.syntheticUrls(docs).orderBy("doc_id").collect()
    val u2 = Url.syntheticUrls(docs).orderBy("doc_id").collect()
    assert(u1 === u2)
    val n = Url.urlDedup(Url.syntheticUrls(docs)).count()
    assert(n < 500, s"no canonical collisions in 500 docs ($n keys)")
    assert(n > 50, s"suspiciously few canonical keys ($n)")
    // the round-14 scheme-gate fixture: every 23rd doc is ftp
    val ftp = Url.syntheticUrls(docs)
      .filter(col("url").startsWith("ftp://")).count()
    assert(ftp === 22L, s"expected 22 ftp rows in 500 docs, got $ftp")
  }

  test("urlGate: non-http(s) schemes drop, blocklisted registrable domains " +
    "drop INCLUDING their subdomains, everything else keeps") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://www.good.example.com/p/1"),       // keep
      (2L, "FTP://files.example.com/p/2"),            // scheme drop
      (3L, "https://bad.test/p/3"),                   // domain drop (exact)
      (4L, "http://Deep.Sub.bad.test:8080/p/4"),      // domain drop (subdomain)
      (5L, "mailto://bad.test/p/5"),                  // both gates drop
      (6L, "http://good.test/p/6"))                   // keep
      .toDF("doc_id", "url")
    val got = Url.urlGate(urls, Seq("bad.test"))
      .select("doc_id", "scheme_ok", "domain_ok", "url_keep")
      .collect().map(r => (r.getLong(0),
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got(1L) === ((true, true, true)))
    assert(got(2L) === ((false, true, false)))
    assert(got(3L) === ((true, false, false)))
    assert(got(4L) === ((true, false, false)))
    assert(got(5L) === ((false, false, false)))
    assert(got(6L) === ((true, true, true)))
  }

  test("urlGate plan: the blocklist probe is a broadcast join fused into " +
    "the canonicalize scan — the PROBE side never shuffles (the one " +
    "allowed exchange is the |blocklist|-row dedup on the build side)") {
    import spark.implicits._
    val urls = (0L until 64L).map(i => (i, s"https://h$i.example.com/p"))
      .toDF("doc_id", "url")
    val gated = Url.urlGate(urls, Seq("blocked.example"))
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"blocklist probe is not a broadcast join:\n$plan")
    // exactly the build-side distinct's exchange, nothing corpus-sized:
    // every hashpartitioning exchange must sit under the broadcast build
    // (i.e. above only the blocklist relation), never on the url scan
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1, s"urlGate probe side shuffles:\n$plan")
    val bcastIdx = plan.indexOf("BroadcastExchange")
    val exIdx = plan.indexOf("Exchange hashpartitioning")
    assert(exIdx === -1 || (bcastIdx >= 0 && exIdx > bcastIdx),
      s"the dedup exchange is not on the broadcast build side:\n$plan")
  }

  test("urlGate: duplicate blocklist entries do NOT duplicate matching " +
    "URL rows (round-14 ADVICE — real host blocklists repeat domains)") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://a.bad.test/p/1"),
      (2L, "http://good.test/p/2"))
      .toDF("doc_id", "url")
    val blocked = Seq("bad.test", "bad.test", "bad.test").toDF("domain")
    val out = Url.urlGate(urls, blocked).collect()
    assert(out.length === 2, "duplicated blocklist rows fanned out the join")
    val got = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Boolean]("url_keep")).toMap
    assert(got === Map(1L -> false, 2L -> true))
  }

  test("recrawlQueue: never-fetched and lastmod-postdates-fetch seeds " +
    "queue newest-change-first; fresh and dateless-fetched seeds are " +
    "not re-queued; est_wait is (rank-1)*crawl_delay") {
    import spark.implicits._
    val urlset = ("<?xml version=\"1.0\"?><urlset>\n" +
      "<url><loc>https://q.test/a</loc><lastmod>2026-01-05</lastmod></url>\n" +
      "<url><loc>https://q.test/b</loc><lastmod>2026-01-02</lastmod></url>\n" +
      "<url><loc>https://q.test/c</loc></url>\n" +
      "<url><loc>https://q.test/d</loc><lastmod>2026-01-03</lastmod></url>\n" +
      "<url><loc>https://q.test/e</loc></url>\n" +
      "</urlset>").getBytes("UTF-8")
    val sitemaps = Seq(("q.test", "https://q.test/sm.xml", urlset))
      .toDF("domain", "sitemap_url", "content")
    val fetchLog = Seq(
      ("https://q.test/a", java.sql.Date.valueOf("2026-01-04")), // stale
      ("https://q.test/b", java.sql.Date.valueOf("2026-01-03")), // fresh
      ("https://q.test/c", java.sql.Date.valueOf("2026-01-01"))) // dateless
      .toDF("seed_canon", "last_fetch")
    val robots = Seq(("q.test", "User-agent: *\nCrawl-delay: 2.5\n"))
      .toDF("domain", "robots_txt")
    val got = Url.recrawlQueue(sitemaps, fetchLog, robots)
      .orderBy("queue_rank")
      .select("seed_canon", "queue_rank", "est_wait_s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    // a: changed since fetch; d: dated, never fetched; e: novel dateless
    // queues LAST; b (fresh) and c (dateless but fetched) are absent
    assert(got === Seq(
      ("https://q.test/a", 1L, 0.0),
      ("https://q.test/d", 2L, 2.5),
      ("https://q.test/e", 3L, 5.0)))
  }

  test("paramStats: per-(domain, param) counts over RAW queries — " +
    "tracking params visible (the op discovers what the canonicalizer " +
    "strips); constant vs session-id-shaped flags; fragments excluded; " +
    "scan-fused up to ONE aggregation") {
    import spark.implicits._
    val urls = Seq(
      // session-id shape on ex.com: sid differs per URL
      (1L, "https://a.ex.com/p?sid=abc&utm_source=m"),
      (2L, "https://b.ex.com/q?sid=def&utm_source=m"),
      (3L, "https://a.ex.com/r?sid=ghi"),
      // constant facet on other.org; fragment must not leak into value
      (4L, "https://www.other.org/x?page=1#frag"),
      (5L, "https://other.org/y?page=1"),
      // no query -> contributes nothing
      (6L, "https://other.org/z"))
      .toDF("doc_id", "url")
    val got = Url.paramStats(urls).orderBy("domain", "param")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toSeq
    assert(got === Seq(
      ("ex.com", "sid", 3L, 3L, false, true),         // session-id shape
      ("ex.com", "utm_source", 2L, 1L, true, false),  // tracking constant
      ("other.org", "page", 2L, 1L, true, false)))    // facet constant
    val p = Url.paramStats(urls).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"paramStats should be scan + one agg:\n$p")
  }

  test("paramStats support counts DISTINCT pages (r18 ADVICE): one URL " +
    "repeating a param (?a=1&a=2) is support 1, not 2 — it can neither " +
    "satisfy minSupport=2 alone nor flag high_card from one page") {
    import spark.implicits._
    val urls = Seq((1L, "https://a.ex.com/p?a=1&a=2"))
      .toDF("doc_id", "url")
    val st = Url.paramStats(urls).collect()
    assert(st.length === 1)
    val r = st.head
    assert(r.getAs[Long]("n_urls") === 1L, "support must be distinct pages")
    assert(r.getAs[Long]("n_vals") === 2L)
    // and the policy (minSupport = 2) learns NOTHING from one page
    val out = Url.paramPolicyDedupCorroborated(
      urls.withColumn("fp", lit("f1")), minSupport = 2L).collect()
    assert(out.head.getString(0) === "https://a.ex.com/p?a=1&a=2",
      "a single page's repeated param must not be stripped")
  }

  test("paramPolicyCorroborated: a high-card param strips ONLY when " +
    "variant URLs share a content fingerprint — a unique-per-page " +
    "content id (?id=N, distinct content) SURVIVES where the blind " +
    "policy would fold every page onto one key (r18 verdict #2)") {
    import spark.implicits._
    val urls = Seq(
      // session shape: distinct sid values, SAME page content
      (1L, "https://a.ex.com/p?sid=x1", "fpP"),
      (2L, "https://a.ex.com/p?sid=x2", "fpP"),
      // content id: distinct values, DISTINCT content — must survive
      (3L, "https://a.ex.com/q?id=1", "fp1"),
      (4L, "https://a.ex.com/q?id=2", "fp2"))
      .toDF("doc_id", "url", "fp")
    val got = Url.paramPolicyDedupCorroborated(urls, minSupport = 2L)
      .orderBy("learned_canon")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(
      ("https://a.ex.com/p", 1L, 2L),        // sid corroborated, folded
      ("https://a.ex.com/q?id=1", 3L, 1L),   // content id KEPT apart
      ("https://a.ex.com/q?id=2", 4L, 1L)))
    // the distribution-only policy (every constant_val/high_card param at
    // minSupport) folds BOTH — the precision loss the corroboration rule
    // exists to prevent
    val blindPolicy = Url.paramStats(urls.select("doc_id", "url"))
      .filter((col("constant_val") || col("high_card")) && col("n_urls") >= 2L)
      .groupBy("domain")
      .agg(sort_array(collect_set(col("param"))).as("_drop"))
    val blind = Url.applyParamPolicy(urls.select("doc_id", "url"), blindPolicy)
      .select("learned_canon").distinct().collect()
    assert(blind.length === 2,
      "fixture no longer exercises the blind policy's content-id collapse")
  }

  test("urlFrontierLearnedIncrement: session variants of a CATALOGED " +
    "page are not re-admitted (novelty keys on the learned canonical); " +
    "genuinely novel pages pass with intra-batch first-occurrence") {
    import spark.implicits._
    // the corpus the policy is learned from: sid is high-card on ex.com,
    // and its /p variants share one content fingerprint (session shape)
    val corpus = Seq(
      (1L, "https://a.ex.com/p?sid=x1", "fpP"),
      (2L, "https://a.ex.com/p?sid=x2", "fpP"),
      (3L, "https://a.ex.com/q", "fpQ"),
      (4L, "https://a.ex.com/q?sid=x9", "fpQ"))
      .toDF("doc_id", "url", "fp")
    val policy = Url.paramPolicyCorroborated(corpus, minSupport = 2L)
    // catalog: /p was admitted earlier (learned key, no sid)
    val catalog = Seq("https://a.ex.com/p").toDF("learned_canon")
    val delta = Seq(
      (10L, "https://a.ex.com/p?sid=zz"),  // variant of cataloged -> drop
      (11L, "https://a.ex.com/new?sid=a"), // novel page, two variants:
      (12L, "https://a.ex.com/new?sid=b")) //   first occurrence wins
      .toDF("doc_id", "url")
    val got = Url.urlFrontierLearnedIncrement(delta, catalog, policy)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got === Seq((11L, "https://a.ex.com/new")))
  }

  test("round-19 shuffle fallback: crawlDiscover, recrawlQueue and " +
    "paramPolicyDedupCorroborated per-domain frames stop broadcasting past the " +
    "ceiling (r17/r18 verdict #1) — both plan modes row-identical") {
    import spark.implicits._
    val docs = spark.range(0, 120).select(col("id").as("doc_id"),
      lit("src0").as("source"), lit(40L).as("n_chars"))
    // fixtures MATERIALIZED (localCheckpoint truncates lineage): the
    // driver fixtures are RawGen.derived PARQUET for the same reason —
    // crawlDiscover references the sitemap frame at several sites, and
    // a lazy synthetic expression tree re-inlined per reference blows
    // the plan past the test heap (the crawl_discover_e2e lesson)
    val urls = Url.syntheticUrls(docs).select(col("doc_id"), col("url"))
      .localCheckpoint()
    val robots = Url.syntheticRobots(urls).localCheckpoint()
    val sitemaps = Url.syntheticSitemaps(urls).localCheckpoint()
    val fetchLog = Seq(("https://never.matches.invalid/x",
        java.sql.Date.valueOf("2026-01-01")))
      .toDF("seed_canon", "last_fetch")
    val catalog = Seq("https://x.invalid/x").toDF("url_canon")
    def modes(name: String, b: org.apache.spark.sql.DataFrame,
              s: org.apache.spark.sql.DataFrame, sort: Seq[String]): Unit = {
      assert(countPlanNodes(s, "BroadcastHashJoin") <
        countPlanNodes(b, "BroadcastHashJoin"),
        s"$name: the per-domain frame still broadcasts past the ceiling")
      assert(countPlanNodes(s, "ShuffledHashJoin") > 0,
        s"$name: fallback is not a shuffle-hash join")
      val rb = b.orderBy(sort.map(col): _*).collect().map(_.toString).toSeq
      val rs = s.orderBy(sort.map(col): _*).collect().map(_.toString).toSeq
      assert(rs === rb, s"$name diverged between plan modes")
    }
    modes("crawlDiscover",
      Url.crawlDiscover(robots, sitemaps, Seq("blocked.invalid"), catalog),
      Url.crawlDiscover(robots, sitemaps, Seq("blocked.invalid"), catalog,
        expectedDomains = 1L << 40),
      Seq("domain", "sitemap", "seed_idx"))
    modes("recrawlQueue",
      Url.recrawlQueue(sitemaps, fetchLog, robots),
      Url.recrawlQueue(sitemaps, fetchLog, robots,
        expectedDomains = 1L << 40),
      Seq("domain", "queue_rank"))
    val sessionUrls = Url.syntheticSessionUrls(docs).localCheckpoint()
    modes("paramPolicyDedupCorroborated",
      Url.paramPolicyDedupCorroborated(sessionUrls),
      Url.paramPolicyDedupCorroborated(sessionUrls, expectedDomains = 1L << 40),
      Seq("learned_canon"))
  }
}
