package graft

import graft.ops.{Graph, Links}
import org.apache.spark.sql.functions._

/** The HTML link layer (round 17): href resolution semantics, tag
  * extraction contract, anchor aggregation, host-graph hygiene,
  * pointer-doubling redirect resolution, and the plan shapes that make
  * each scale. */
class LinksSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("resolveHref: absolute passthrough, protocol/root/path-relative, " +
    "dot segments (RFC 3986 §5.2.4), query rides through") {
    import spark.implicits._
    val base = "https://sub.example.com:8080/dir/page"
    val cases = Seq(
      ("https://other.org/x?q=1", "https://other.org/x?q=1"), // absolute
      ("//cdn.net/r/1", "https://cdn.net/r/1"),               // proto-rel
      ("/root/x", "https://sub.example.com:8080/root/x"),     // root-rel
      ("sib.html", "https://sub.example.com:8080/dir/sib.html"), // dir join
      ("../up/3", "https://sub.example.com:8080/up/3"),       // dot-dot
      ("./here", "https://sub.example.com:8080/dir/here"),    // dot
      ("/a/../../b", "https://sub.example.com:8080/b"),       // .. at root: no-op
      ("/a//b/./c", "https://sub.example.com:8080/a/b/c"),    // dup slashes
      ("x?a=1&b=2", "https://sub.example.com:8080/dir/x?a=1&b=2"),
      ("?q=9", "https://sub.example.com:8080/dir/page?q=9")) // §5.3 query-only
    val got = cases.map(_._1).toDF("href")
      .select(Links.resolveHref(lit(base), col("href")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got === cases.map(_._2))
  }

  test("linkExtract: stable 1-based tag indices with no-href/fragment/" +
    "non-fetch-scheme tags dropped AFTER numbering; quote styles, " +
    "entity-escaped hrefs, anchor markup stripped + entities decoded") {
    import spark.implicits._
    val html = """<html><body>
      |<a href="https://a.example.org/x?b=2&amp;a=1">One <b>bold</b> &amp;amp; two</a>
      |<a name="n">skip: no href</a>
      |<A HREF='/p/7'>Upper</A>
      |<a href="#frag">skip: fragment</a>
      |<a href=bare.html rel=nofollow>Bare</a>
      |<a href="javascript:void(0)">skip: js</a>
      |<a href="mailto:x@y.z">skip: mailto</a>
      |</body></html>""".stripMargin
    val out = Links.linkExtract(
        Seq((1L, html, "http://www.Site.example.com/d/p")).toDF(
          "doc_id", "html", "base_url"))
      .orderBy("link_idx")
      .select("link_idx", "href", "href_abs", "target_canon", "anchor",
        "nofollow")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getBoolean(5))).toSeq
    assert(out === Seq(
      (1L, "https://a.example.org/x?b=2&amp;a=1",
        "https://a.example.org/x?b=2&a=1",
        "https://a.example.org/x?a=1&b=2", "One bold &amp; two", false),
      (3L, "/p/7", "http://site.example.com/p/7",
        "http://site.example.com/p/7", "Upper", false),
      (5L, "bare.html", "http://site.example.com/d/bare.html",
        "http://site.example.com/d/bare.html", "Bare", true)))
  }

  test("<base href> overrides the resolution base (HTML5 §4.2.3): " +
    "absolute base, relative base resolved against the page first; " +
    "provenance _base stays the PAGE canon; <img alt> anchors an " +
    "image-only link") {
    import spark.implicits._
    def page(head: String) = s"""<html><head>$head</head><body>
      |<a href="sib.html">S</a>
      |<a href="/root/x"><img src="i.png" alt=" Pic  here "/></a>
      |</body></html>""".stripMargin
    val rows = Links.linkExtract(Seq(
        (1L, page("<base href=\"https://other.example.org/odir/\">"),
          "http://page.example.com/d/p"),
        (2L, page("<base href=\"/bdir/\">"), "http://page.example.com/d/p"),
        (3L, page(""), "http://page.example.com/d/p"))
        .toDF("doc_id", "html", "base_url"))
      .orderBy("doc_id", "link_idx")
      .select("doc_id", "href_abs", "anchor")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(rows === Seq(
      // absolute base: dir join + root-relative both against the base
      (1L, "https://other.example.org/odir/sib.html", "S"),
      (1L, "https://other.example.org/root/x", "Pic here"),
      // relative base: /bdir/ resolved against the page host first
      (2L, "http://page.example.com/bdir/sib.html", "S"),
      (2L, "http://page.example.com/root/x", "Pic here"),
      // no base: the page URL is the base
      (3L, "http://page.example.com/d/sib.html", "S"),
      (3L, "http://page.example.com/root/x", "Pic here")))
    // provenance: _base is the page canon even when <base> points away
    val b = Links.linkExtract(Seq(
        (1L, page("<base href=\"https://other.example.org/odir/\">"),
          "http://page.example.com/d/p")).toDF("doc_id", "html", "base_url"))
      .select("_base").distinct().collect().map(_.getString(0)).toSeq
    assert(b === Seq("http://page.example.com/d/p"))
  }

  test("syntheticLinkedHtml fixture extracts exactly slots {1,3,5,6} per " +
    "doc; nofollow only on slot 6; relative links resolve against the " +
    "doc's own canonical base") {
    import spark.implicits._
    val docs = Seq((0L, "src0", 40L), (7L, "src1", 40L), (12L, "src2", 40L))
      .toDF("doc_id", "source", "n_chars")
    val links = Links.linkExtract(Links.syntheticLinkedHtml(docs))
    val byDoc = links.groupBy("doc_id")
      .agg(sort_array(collect_list("link_idx")).as("idxs"),
        sum(when(col("nofollow"), 1).otherwise(0)).as("nf"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    assert(byDoc.forall(_._2 == Seq(1L, 3L, 5L, 6L)))
    assert(byDoc.forall(_._3 == 1L))
    // doc 0: m6=0 AND m11=0 -> <base href="/bdir/"> overrides the page,
    // so ../up/0 resolves one level up from /bdir/ to /up/0
    val d0 = links.filter(col("doc_id") === 0 && col("link_idx") === 5)
      .select("href", "href_abs").collect().head
    assert(d0.getString(0) === "../up/0")
    assert(d0.getString(1).endsWith("/up/0") &&
      !d0.getString(1).endsWith("/p/up/0"), d0.getString(1))
    // doc 12: m6=0, no <base> -> the page URL /p/12/ is a DIRECTORY
    // (raw trailing slash, RFC 3986 §5.2.3): ../up/5 resolves from
    // INSIDE it to /p/up/5 — not /up/5 off the slash-stripped canon
    val d12 = links.filter(col("doc_id") === 12 && col("link_idx") === 5)
      .select("href_abs").collect().head.getString(0)
    assert(d12.endsWith("/p/up/5"), d12)
    // doc 7: m6=1 -> directory-join sibling under /p/
    val d7 = links.filter(col("doc_id") === 7 && col("link_idx") === 5)
      .select("href_abs").collect().head.getString(0)
    assert(d7.endsWith("/p/sib0.html"), d7)
  }

  test("directory pages (RFC 3986 §5.2.3): a raw trailing slash IS the " +
    "resolution directory even though the canonical key strips it; " +
    "query/fragment don't hide it; emitted keys stay slash-stripped") {
    import spark.implicits._
    val html = "<html><body><a href=\"post.html\">P</a>" +
      "<a href=\"?page=2\">Q</a></body></html>"
    val rows = Links.linkExtract(Seq(
        (1L, html, "https://x.example.com/blog/"),
        (2L, html, "https://x.example.com/blog/?q=1#frag"),
        (3L, html, "https://x.example.com/blog"))
        .toDF("doc_id", "html", "base_url"))
      .orderBy("doc_id", "link_idx")
      .select("doc_id", "link_idx", "href_abs", "target_canon")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSeq
    assert(rows === Seq(
      (1L, 1L, "https://x.example.com/blog/post.html",
        "https://x.example.com/blog/post.html"),
      (1L, 2L, "https://x.example.com/blog/?page=2",
        "https://x.example.com/blog?page=2"),
      // the query rides the canonical key but the slash still restores
      // into the PATH for resolution
      (2L, 1L, "https://x.example.com/blog/post.html",
        "https://x.example.com/blog/post.html"),
      (2L, 2L, "https://x.example.com/blog/?page=2",
        "https://x.example.com/blog?page=2"),
      // no slash on the raw URL: /blog is a FILE, siblings join at root
      (3L, 1L, "https://x.example.com/post.html",
        "https://x.example.com/post.html"),
      (3L, 2L, "https://x.example.com/blog?page=2",
        "https://x.example.com/blog?page=2")))
  }

  test("anchorText: per-target counts + first-occurrence (doc_id, " +
    "link_idx) winner anchor") {
    import spark.implicits._
    val links = Seq(
      (2L, 1L, "t1", "later", false),
      (1L, 6L, "t1", "first", true),
      (1L, 9L, "t1", "same doc later", false),
      (3L, 1L, "t2", "only", false))
      .toDF("doc_id", "link_idx", "target_canon", "anchor", "nofollow")
    val got = Links.anchorText(links).orderBy("target_canon")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    assert(got === Seq(("t1", 3L, 2L, 2L, "first"),
      ("t2", 1L, 1L, 1L, "only")))
  }

  test("hostGraph drops nofollow edges and intra-domain self-loops; " +
    "parallel edges kept as weight") {
    val docs = spark.range(0, 60).select(col("id").as("doc_id"),
      lit("src0").as("source"), lit(40L).as("n_chars"))
    val g = Links.hostGraph(
      Links.linkExtract(Links.syntheticLinkedHtml(docs)))
    val rows = g.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (s, d) => s != d })
    // the nofollow CDN domain never appears as a destination
    assert(rows.forall(!_._2.contains("example.net")))
    // slot-1 links connect the fixture's own domain family: every dst is
    // a src0-site domain on some TLD (or a wildcard-PSL subdomain of one)
    assert(rows.forall(_._2.contains("src0-site")))
  }

  test("resolveChains: a 3-hop chain resolves with exact hop count; a " +
    "2-cycle terminates unresolved at the maxHops landing point") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), // chain
      ("x", "y"), ("y", "x"))                           // cycle
      .toDF("src", "dst")
    val got = Graph.resolveChains(edges, maxHops = 8)
      .orderBy("src")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(got === Seq(
      ("a", "d", 3L, true), ("b", "d", 2L, true), ("c", "d", 1L, true),
      ("x", "x", 8L, false), ("y", "y", 8L, false)))
  }

  test("plan shapes: linkExtract is scan-fused (zero exchanges); " +
    "resolveChains plans equi-joins only (no cartesian, no broadcast " +
    "nested loop)") {
    val docs = spark.range(0, 100).select(col("id").as("doc_id"),
      lit("src0").as("source"), lit(40L).as("n_chars"))
    val p1 = plan(Links.linkExtract(Links.syntheticLinkedHtml(docs)))
    assert(!p1.contains("Exchange"), s"linkExtract shuffles:\n$p1")
    val p2 = plan(Graph.resolveChains(
      Links.hostGraph(Links.linkExtract(Links.syntheticLinkedHtml(docs)))
        .withColumnRenamed("src", "s").withColumnRenamed("dst", "d")
        .select(col("s").as("src"), col("d").as("dst"))))
    assert(!p2.contains("CartesianProduct"), s"cartesian:\n$p2")
    assert(!p2.contains("BroadcastNestedLoopJoin"), s"BNLJ:\n$p2")
  }

  test("tag scan is quote-aware: a literal '>' inside a quoted attribute " +
    "does not truncate the tag; a fragment-only <base> is ignored") {
    import spark.implicits._
    val html = """<html><head><base href="#top"></head><body>
      |<a title="a>b" href="/x">X</a>
      |<a href='/q?cmp=1>2'>Y</a>
      |</body></html>""".stripMargin
    val got = Links.linkExtract(
        Seq((1L, html, "http://h.example.com/d/p")).toDF(
          "doc_id", "html", "base_url"))
      .orderBy("link_idx").select("href", "href_abs", "anchor")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(got === Seq(
      ("/x", "http://h.example.com/x", "X"),
      ("/q?cmp=1>2", "http://h.example.com/q?cmp=1>2", "Y")))
  }

  test("metaRefresh: first refresh meta with a url= directive becomes a " +
    "redirect edge (delay parsed, target resolved incl. <base>); " +
    "url-less refresh and pages without one emit nothing") {
    import spark.implicits._
    def page(head: String) =
      s"<html><head>$head</head><body><p>x</p></body></html>"
    val pages = Seq(
      (1L, page("<meta http-equiv=\"refresh\" content=\"2;url=/new/1\">"),
        "http://a.example.com/d/p"),
      (2L, page("<meta http-equiv='Refresh' content='3.5; URL=moved.html'>" +
        "<base href=\"/bdir/\">"), "http://a.example.com/d/p"),
      (3L, page("<meta http-equiv=\"refresh\" content=\"5\">"),
        "http://a.example.com/d/p"),                 // self-reload
      (4L, page("<meta name=\"viewport\" content=\"width=1\">"),
        "http://a.example.com/d/p"),                 // unrelated meta
      (5L, page("<meta http-equiv=\"refresh\" " +
        "content=\"0;url=https://other.org/abs\">"),
        "http://a.example.com/d/p"))
      .toDF("doc_id", "html", "base_url")
    val got = Links.metaRefresh(pages).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getString(3))).toSeq
    assert(got === Seq(
      (1L, 2.0, "/new/1", "http://a.example.com/new/1"),
      (2L, 3.5, "moved.html", "http://a.example.com/bdir/moved.html"),
      (5L, 0.0, "https://other.org/abs", "https://other.org/abs")))
    val p = Links.metaRefresh(pages).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"metaRefresh shuffles:\n$p")
  }

  test("metaRefresh unquotes a quoted url= directive (browser-accepted " +
    "content=\"0; url='/x'\"); an empty quoted url is not a redirect") {
    import spark.implicits._
    def page(head: String) =
      s"<html><head>$head</head><body><p>x</p></body></html>"
    val pages = Seq(
      (1L, page("<meta http-equiv=\"refresh\" content=\"0; url='/x'\">"),
        "http://a.example.com/d/p"),
      (2L, page("<meta http-equiv='refresh' content='2;URL=\"/y/z\"'>"),
        "http://a.example.com/d/p"),
      (3L, page("<meta http-equiv=\"refresh\" content=\"1; url=''\">"),
        "http://a.example.com/d/p"))
      .toDF("doc_id", "html", "base_url")
    val got = Links.metaRefresh(pages).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getString(3))).toSeq
    assert(got === Seq(
      (1L, 0.0, "/x", "http://a.example.com/x"),
      (2L, 2.0, "/y/z", "http://a.example.com/y/z")))
  }

  test("anchorText winner is the LEXICOGRAPHIC (doc_id, link_idx) " +
    "lowest — a page with >=100 tags cannot outrank an earlier doc") {
    import spark.implicits._
    // doc 1 links at tag 150 (a long page), doc 2 at tag 10: the winner
    // is doc 1 (lower doc_id) despite 1*100+150 > 2*100+10
    val links = Seq(
      (2L, 10L, "t", "late doc", false),
      (1L, 150L, "t", "first doc deep tag", false))
      .toDF("doc_id", "link_idx", "target_canon", "anchor", "nofollow")
    val got = Links.anchorText(links).collect()
      .map(r => (r.getString(0), r.getString(4))).toSeq
    assert(got === Seq(("t", "first doc deep tag")))
  }

  test("canonicalDedup: a declared canonical collapses variants onto " +
    "one key; undeclared pages key on their own canon; a gated-out " +
    "page never claims a slot") {
    import spark.implicits._
    def page(head: String) =
      s"<html><head>$head</head><body><p>x</p></body></html>"
    val canon = "<link rel=\"canonical\" href=\"https://m.example.com/x\">"
    val pages = Seq(
      // doc 1 and 3 declare the same canonical from different URLs
      (1L, page(canon), "https://a.example.com/x?v=1"),
      (3L, page(canon), "https://b.example.com/mirror/x"),
      // doc 2: no declaration, plain URL dedup with doc 4's variant
      (2L, page(""), "https://c.example.com/y/"),
      (4L, page(""), "https://c.example.com/y"),
      // doc 0: blocked domain, declares the same canonical as 1/3 —
      // must NOT claim the slot
      (0L, page(canon), "https://bad.example.org/x"))
      .toDF("doc_id", "html", "base_url")
    val got = Links.canonicalDedup(pages, Seq("example.org"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getString(3), r.getBoolean(4))).toSeq
    assert(got === Seq(
      (0L, false, true, "https://m.example.com/x", false),
      (1L, true, true, "https://m.example.com/x", true),
      (2L, true, false, "https://c.example.com/y", true),
      (3L, true, true, "https://m.example.com/x", false),
      (4L, true, false, "https://c.example.com/y", false)))
  }

  test("linkDiscoverResolved: a redirect-stub target schedules its " +
    "chain end (hops counted), a cycle drops, the RESOLVED fetch is " +
    "re-gated (a redirect onto a robots-disallowed path is dropped — " +
    "r18 ADVICE), novelty probes the FINAL url; off-map targets pass " +
    "through with hops 0") {
    import spark.implicits._
    val docs = spark.range(0, 120).select(col("id").as("doc_id"),
      lit("src0").as("source"), lit(40L).as("n_chars"))
    val robots = graft.ops.Url.syntheticRobots(
      graft.ops.Url.syntheticUrls(docs).select(col("doc_id"), col("url")))
    val redirects = Links.syntheticLinkRedirects(docs)
    val raw = Links.linkDiscover(Links.syntheticLinkedHtml(docs),
      Nil, robots, spark.emptyDataset[String].toDF("url_canon"))
    val res = Links.linkDiscoverResolved(Links.syntheticLinkedHtml(docs),
      Nil, robots, spark.emptyDataset[String].toDF("url_canon"), redirects)
    val rawT = raw.select("target_canon").collect().map(_.getString(0)).toSet
    val rows = res.collect().map(r => (r.getAs[String]("target_canon"),
      r.getAs[String]("final_canon"), r.getAs[Long]("hops")))
    // every /p/8/child stub landed on /final/8 with 2 hops (the m13=0
    // stubs are pre-gated: Disallow /p/0 prefixes /p/0/child on the
    // len%13=0 .com domains)
    val twoHop = rows.filter(_._3 == 2L)
    assert(twoHop.nonEmpty)
    assert(twoHop.forall { case (t, f, _) =>
      t.endsWith("/child") && f.contains("/final/") })
    // /p/4/child stubs landed on /ok/4 with 1 hop
    val oneHop = rows.filter(_._3 == 1L)
    assert(oneHop.nonEmpty)
    assert(oneHop.forall { case (t, f, _) =>
      t.endsWith("/4/child") && f.endsWith("/ok/4") })
    // the m13=12 cycle stubs were admitted raw by linkDiscover but are
    // DROPPED here (fetch trap)
    assert(rawT.exists(_.endsWith("/p/12/child")))
    assert(!rows.exists(_._1.endsWith("/p/12/child")))
    // RE-GATE (round 19): the sib5 stubs pass every pre-gate (raw
    // admits them) but their resolution lands on /admin/redir — a path
    // every fixture domain disallows — so the re-gate drops them; a
    // redirect must not be a robots bypass
    assert(rawT.exists(_.endsWith("/p/sib5.html")))
    assert(!rows.exists(_._1.endsWith("sib5.html")))
    assert(!rows.exists(_._2.endsWith("/admin/redir")))
    // off-map targets pass through unchanged
    assert(rows.filter(_._3 == 0L).forall { case (t, f, _) => t == f })
  }

  test("round-19 shuffle fallback: the discovery family's rules frames " +
    "stop broadcasting past the ceiling — linkDiscover, " +
    "linkDiscoverResolved (both gates) and frontierRank row-identical " +
    "in both plan modes") {
    import spark.implicits._
    val docs = spark.range(0, 100).select(col("id").as("doc_id"),
      lit("src0").as("source"), lit(40L).as("n_chars"))
    // fixtures materialized — lineage truncation keeps the dual-plan
    // builds off the test heap (the crawl_discover_e2e lesson)
    val pages = Links.syntheticLinkedHtml(docs).localCheckpoint()
    val robots = graft.ops.Url.syntheticRobots(
      graft.ops.Url.syntheticUrls(docs).select(col("doc_id"), col("url")))
      .localCheckpoint()
    val redirects = Links.syntheticLinkRedirects(docs).localCheckpoint()
    val cat = Seq("https://x.ex.com/seen").toDF("url_canon")
    def modes(name: String, b: org.apache.spark.sql.DataFrame,
              s: org.apache.spark.sql.DataFrame, sort: String): Unit = {
      assert(countPlanNodes(s, "BroadcastHashJoin") <
        countPlanNodes(b, "BroadcastHashJoin"),
        s"$name: a rules frame still broadcasts past the ceiling")
      assert(countPlanNodes(s, "ShuffledHashJoin") > 0,
        s"$name: fallback is not a shuffle-hash join")
      val rb = b.orderBy(sort).collect().map(_.toString).toSeq
      val rs = s.orderBy(sort).collect().map(_.toString).toSeq
      assert(rs === rb, s"$name diverged between plan modes")
    }
    modes("linkDiscover",
      Links.linkDiscover(pages, Seq("src0-site.net"), robots, cat),
      Links.linkDiscover(pages, Seq("src0-site.net"), robots, cat,
        expectedDomains = 1L << 40),
      "target_canon")
    modes("linkDiscoverResolved",
      Links.linkDiscoverResolved(pages, Seq("src0-site.net"), robots, cat,
        redirects),
      Links.linkDiscoverResolved(pages, Seq("src0-site.net"), robots, cat,
        redirects, expectedDomains = 1L << 40),
      "final_canon")
    modes("frontierRank",
      Links.frontierRank(pages, Seq("src0-site.net"), robots, cat),
      Links.frontierRank(pages, Seq("src0-site.net"), robots, cat,
        expectedDomains = 1L << 40),
      "target_canon")
  }

  test("round-18 composition plans: no cartesian / nested-loop joins " +
    "anywhere; canonicalDedup's gate broadcasts and its winner is ONE " +
    "window over the page-identity key (single corpus pass — no " +
    "join-back recomputing the extraction); the resolved discovery " +
    "keeps the LeftAnti novelty join") {
    import spark.implicits._
    val docs = spark.range(0, 150).select(col("id").as("doc_id"),
      lit("src0").as("source"), lit(40L).as("n_chars"))
    val pages = Links.syntheticLinkedHtml(docs)
    val robots = graft.ops.Url.syntheticRobots(
      graft.ops.Url.syntheticUrls(docs).select(col("doc_id"), col("url")))
    val cat = Seq("https://x.ex.com/seen").toDF("url_canon")
    def check(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name BNLJ:\n$p")
      p
    }
    val pd = check("canonicalDedup",
      Links.canonicalDedup(pages, Seq("src0-site.net")))
    assert(pd.contains("BroadcastHashJoin"), s"gate not broadcast:\n$pd")
    assert("(?s)Window".r.findAllIn(pd).size == 1 &&
      !pd.contains("SortMergeJoin") && !pd.contains("ShuffledHashJoin"),
      s"dedup should be one window pass, no join-back:\n$pd")
    val pr = check("linkDiscoverResolved", Links.linkDiscoverResolved(
      pages, Seq("src0-site.net"), robots, cat,
      Links.syntheticLinkRedirects(docs)))
    assert(pr.contains("LeftAnti"), s"novelty anti-join missing:\n$pr")
    check("frontierRank",
      Links.frontierRank(pages, Seq("src0-site.net"), robots, cat))
  }

  test("frontierRank: novel targets ranked per domain by follow " +
    "endorsement; priority 1 is the domain's most-linked target") {
    import spark.implicits._
    val docs = spark.range(0, 120).select(col("id").as("doc_id"),
      lit("src0").as("source"), lit(40L).as("n_chars"))
    val robots = graft.ops.Url.syntheticRobots(
      graft.ops.Url.syntheticUrls(docs).select(col("doc_id"), col("url")))
    val out = Links.frontierRank(Links.syntheticLinkedHtml(docs),
      Nil, robots, spark.emptyDataset[String].toDF("url_canon"))
    val rows = out.collect().map(r => (r.getAs[String]("domain"),
      r.getAs[Long]("priority"), r.getAs[Long]("n_follow")))
    assert(rows.nonEmpty)
    // priorities are 1..k dense per domain, n_follow non-increasing
    rows.groupBy(_._1).foreach { case (dom, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to rs.length).toSeq, dom)
      assert(sorted.map(_._3).sliding(2).forall(
        s => s.length < 2 || s(0) >= s(1)), dom)
    }
  }

  test("anchorEndorsedCurate: the link signal MOVES the kept set — an " +
    "endorsed junk page is rescued (n_follow >= minFollow), an " +
    "identical unendorsed junk page stays dropped, quality pages keep " +
    "regardless; nofollow links don't endorse") {
    import spark.implicits._
    val junk = "x" // < 10 words -> too_few_words
    val good = "the a of and is the a of and is good words here"
    val docs = Seq(
      (1L, "https://e.ex.com/a", junk),   // junk, 3 follow in-links
      (2L, "https://e.ex.com/b", junk),   // junk, 1 follow in-link
      (3L, "https://e.ex.com/c", good))   // quality, no in-links
      .toDF("doc_id", "url", "text")
    val links = Seq(
      (10L, 1L, "https://e.ex.com/a", "r1", false),
      (11L, 1L, "https://e.ex.com/a", "r2", false),
      (12L, 1L, "https://e.ex.com/a", "r3", false),
      (13L, 2L, "https://e.ex.com/a", "r4", true),  // nofollow: no credit
      (14L, 1L, "https://e.ex.com/b", "r5", false))
      .toDF("doc_id", "link_idx", "target_canon", "anchor", "nofollow")
    val got = Links.anchorEndorsedCurate(docs, links, minFollow = 3L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(2),
        r.getLong(3), r.getBoolean(6))).toSeq
    assert(got === Seq(
      (1L, false, 3L, true),   // rescued by endorsement
      (2L, false, 1L, false),  // same text, unendorsed -> dropped
      (3L, true, 0L, true)))   // quality keeps without links
  }

  test("relCanonical: rel matched as a word of the token list, href " +
    "resolved, is_self compares canonical forms; pages without a " +
    "canonical link emit nothing") {
    import spark.implicits._
    def page(head: String) =
      s"<html><head>$head</head><body><p>x</p></body></html>"
    val pages = Seq(
      (1L, page("<link rel=\"canonical\" href=\"/d/p\">"),
        "http://A.example.com/d/p/"),                 // self after canon
      (2L, page("<link rel='canonical alternate' " +
        "href='https://m.example.com/x'>"), "http://a.example.com/d/p"),
      (3L, page("<link rel=\"canonicalish\" href=\"/x\">"),
        "http://a.example.com/d/p"),                  // not a word match
      (4L, page("<link rel=\"stylesheet\" href=\"/s.css\">" +
        "<link rel=\"canonical\" href=\"?page=2\">"),
        "http://a.example.com/list"),                 // second link wins
      // a declared href with a NON-FETCH scheme counts as no
      // declaration and emits NO row (round 20, r19 ADVICE — without
      // the guard the resolver joins it as a relative path segment):
      // consumers stay on the coalesce-to-own-URL path
      (5L, page("<link rel=\"canonical\" href=\"mailto:x@example.com\">"),
        "http://a.example.com/d/p"))
      .toDF("doc_id", "html", "base_url")
    val got = Links.relCanonical(pages).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getBoolean(3))).toSeq
    assert(got === Seq(
      (1L, "/d/p", "http://a.example.com/d/p", true),
      (2L, "https://m.example.com/x", "https://m.example.com/x", false),
      (4L, "?page=2", "http://a.example.com/list?page=2", false)))
  }

  test("linkExtract is streaming-compatible: the same page through " +
    "readStream produces the identical link set (row-local extract + " +
    "resolve — no state, no watermark needed)") {
    import spark.implicits._
    val html = "<html><body><a href=\"/x\">A</a>" +
      "<a href=\"sib.html\" rel=\"nofollow\">B</a></body></html>"
    val batchDf = Seq((7L, html, "https://s.example.org/d/p"))
      .toDF("doc_id", "html", "base_url")
    val expected = Links.linkExtract(batchDf).orderBy("link_idx").collect()
      .map(r => (r.getAs[Long]("link_idx"), r.getAs[String]("href_abs"),
        r.getAs[Boolean]("nofollow")))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)](spark)
    mem.addData((7L, html, "https://s.example.org/d/p"))
    val q = Links.linkExtract(mem.toDF()
        .toDF("doc_id", "html", "base_url"))
      .writeStream.format("memory").queryName("links_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("links_stream").orderBy("link_idx").collect()
      .map(r => (r.getAs[Long]("link_idx"), r.getAs[String]("href_abs"),
        r.getAs[Boolean]("nofollow")))
    assert(got === expected)
    assert(got.toSeq === Seq(
      (1L, "https://s.example.org/x", false),
      (2L, "https://s.example.org/d/sib.html", true)))
  }

  test("linkDiscover plan: gates broadcast, the catalog anti-join is " +
    "shuffle-hash with the aggregation's partitioning reused on the " +
    "stream side, no cartesian") {
    import spark.implicits._
    val docs = spark.range(0, 200).select(col("id").as("doc_id"),
      lit("src0").as("source"), lit(40L).as("n_chars"))
    val robots = graft.ops.Url.syntheticRobots(
      graft.ops.Url.syntheticUrls(docs).select(col("doc_id"), col("url")))
    val catalog = Seq("https://src0-site.com/p/1/child").toDF("url_canon")
    val q = Links.linkDiscover(Links.syntheticLinkedHtml(docs),
      Seq("src0-site.net"), robots, catalog)
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"gates not broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftAnti"),
      s"catalog anti-join not shuffle-hash:\n$p")
    // blocked domain's targets and the catalog row never surface
    val rows = q.collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getAs[String]("target_canon")
      .contains("src0-site.net")))
    assert(!rows.exists(_.getAs[String]("target_canon") ==
      "https://src0-site.com/p/1/child"))
  }

  test("learned discovery loops: a session variant of a cataloged target " +
    "is NOT re-admitted in linkDiscover, crawlDiscover, and " +
    "linkDiscoverResolved; winner+anti-join share the learned key and " +
    "the plan keeps the single shuffle-hash anti-join") {
    // ≥21 docs per source: a sess group only corroborates once TWO
    // docs share (domain, page) — the within-source wheel repeats a
    // (g%4, g%5) cell every 20 g's, so 25 docs/source gives every
    // domain two sess docs on two pages (the registered corpus' scale)
    val docs = spark.range(0, 500).select(col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"),
      lit(40L).as("n_chars"))
    val policy = graft.ops.Url.paramPolicyCorroborated(
      graft.ops.Url.syntheticCorpusUrls(docs))
    val robots = graft.ops.Url.syntheticSessionRobots(docs)
    // catalog: every domain's page-identity keys 0..4 (what an earlier
    // batch admitted) — the sess/v variants in this batch must fold
    // onto these and drop
    val catalog = docs.select(col("source")).distinct()
      .select(explode(sequence(lit(0), lit(4))).as("_p"), col("source"))
      .select(concat(lit("https://"), col("source"), lit("-app.com/a/"),
        col("_p")).as("learned_canon"))
    val pages = Links.syntheticSessionLinkPages(docs)

    val ld = Links.linkDiscover(pages, Nil, robots, catalog,
      policy = Some(policy))
    val p = plan(ld)
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("ShuffledHashJoin") && p.contains("LeftAnti"),
      s"catalog anti-join not shuffle-hash:\n$p")
    val ldRows = ld.collect()
    assert(ldRows.nonEmpty)
    // every sess/v link folded onto a cataloged page key -> dropped;
    // content (?art=) links each survive as their own learned key
    assert(!ldRows.exists(_.getAs[String]("target_learned")
      .contains("sess=")))
    assert(!ldRows.exists(r => (0 to 4).map(i =>
      s"https://src1-app.com/a/$i").contains(
        r.getAs[String]("target_learned"))))
    assert(ldRows.exists(_.getAs[String]("target_learned").contains("art=")))

    val cd = graft.ops.Url.crawlDiscover(robots,
      graft.ops.Url.syntheticSessionSitemaps(docs), Nil, catalog,
      policy = Some(policy))
    val cdRows = cd.collect()
    assert(cdRows.nonEmpty)
    assert(!cdRows.exists(r => {
      val k = r.getAs[String]("seed_learned")
      k.contains("sess=") || k.contains("v=1") ||
        (0 to 4).exists(i => k == s"https://src1-app.com/a/$i")
    }))
    assert(cdRows.exists(_.getAs[String]("seed_learned").contains("art=")))

    val lr = Links.linkDiscoverResolved(pages, Nil, robots, catalog,
      Links.syntheticSessionRedirects(docs), policy = Some(policy))
    val lrRows = lr.collect()
    assert(lrRows.nonEmpty)
    // a stub redirecting onto a session variant of a cataloged page
    // folds onto the page's learned key -> dropped; stubs redirecting
    // to genuinely novel /a/y pages are admitted with hops=1
    assert(!lrRows.exists(_.getAs[String]("final_learned")
      .contains("sess=")))
    assert(lrRows.exists(r => r.getAs[String]("final_learned")
      .contains("/a/y") && r.getAs[Long]("hops") == 1L))
  }
}
