package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins RFC 9309 parse and decision semantics on hand-derivable
  * fixtures: group grammar (consecutive UA lines share a group,
  * non-group keys ignored), empty-Disallow drop, rule-less groups
  * surviving to selection, exact-agent-over-`*` selection, and
  * longest-match/allow-ties/anchor/wildcard decisions.
  */
class RobotsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val body =
    """# header comment
      |User-Agent: GraftBot
      |User-agent: otherbot
      |Disallow: /a/   # trailing comment
      |Allow: /a/b/
      |Crawl-delay: 3
      |Disallow:
      |
      |User-agent: *
      |Disallow: /
      |User-agent: lonely""".stripMargin

  private def rules = Robots.parseRobots(
    Seq(("h.example", body)).toDF("host", "robots_txt"), "host", "robots_txt")

  test("parseRobots: group grammar, key normalization, empty-Disallow drop") {
    val rows = rules.collect()
      .map(r => (r.getString(1), Option(r.getString(4)), Option(r.getString(5))))
      .toSet
    // group 1 = {graftbot, otherbot} x {disallow /a/, allow /a/b/};
    // Crawl-delay ignored; "Disallow:" dropped; group 2 = * with /;
    // group 3 = lonely with NO rules -> null rule row kept
    assert(rows == Set(
      ("graftbot", Some("disallow"), Some("/a/")),
      ("graftbot", Some("allow"), Some("/a/b/")),
      ("otherbot", Some("disallow"), Some("/a/")),
      ("otherbot", Some("allow"), Some("/a/b/")),
      ("*", Some("disallow"), Some("/")),
      ("lonely", None, None)))
    // the two UA aliases share ONE group; * and lonely are separate
    assert(rules.select("group_id").distinct().count() == 3)
  }

  test("patternRegex: wildcard, trailing anchor, inner $ and metachars literal") {
    val pats = Seq("/a/*/c$", "/p$q", "/d.x(1)$").toDF("p")
      .select(Robots.patternRegex(col("p"))).as[String].collect()
    assert(pats(0) == "^/a/.*/c$")
    assert(pats(1) == "^/p\\$q")         // inner $ is literal
    assert(pats(2) == "^/d\\.x\\(1\\)$") // metachars escaped, trailing $ anchors
  }

  test("robotsAllowed: selection and longest-match decisions") {
    val urls = Seq(
      (1L, "http://h.example/a/file"),    // graftbot group: disallow /a/
      (2L, "http://h.example/a/b/file"),  // allow /a/b/ beats /a/ (longer)
      (3L, "http://h.example/other"),     // no graftbot rule matches -> allowed
      (4L, "http://nowhere.example/x")    // host without robots -> allowed
    ).toDF("id", "url")
    val out = Robots.robotsAllowed(urls, rules, "GraftBot", "id")
      .select("id", "allowed", "matched_directive", "matched_pattern")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getString(2), r.getString(3)))).toMap
    assert(out(1L) == ((false, "disallow", "/a/")))
    assert(out(2L) == ((true, "allow", "/a/b/")))
    assert(out(3L) == ((true, "none", "")))
    assert(out(4L) == ((true, "none", "")))
    // the rule-less 'lonely' group exempts that agent from * entirely
    val lonely = Robots.robotsAllowed(urls.filter(col("id") === 1), rules,
      "lonely", "id").select("allowed").as[Boolean].head()
    assert(lonely)
    // an agent with no group of its own falls back to * (disallow /)
    val anon = Robots.robotsAllowed(urls.filter(col("id") === 3), rules,
      "strangerbot", "id")
      .select("allowed", "matched_pattern").collect().head
    assert(!anon.getBoolean(0) && anon.getString(1) == "/")
  }

  test("q_crawl_frontier: only allowed URLs, hand-computed authority, " +
      "contiguous per-host slots") {
    val out = graft.queries.QueriesLLM.q_crawl_frontier(spark,
      "/root/testdata/sf0.001").collect()
    // every decided-disallowed arm is absent (e.g. a.example.com/private/file)
    assert(!out.exists(r => r.getString(2) == "a.example.com" &&
      r.getString(1).contains("/private/file")))
    // 3-iteration ranks over the 6-edge host graph, hand-derived
    // (exact rational, then the shared 1e-6 floor)
    val ranks = out.map(r => r.getString(2) -> r.getDouble(3)).toMap
    assert(ranks == Map(
      "a.example.com" -> 0.477309, "b.example.org" -> 0.183262,
      "c.example.net" -> 0.30193, "d.example.io" -> 0.0375))
    // slots are the politeness queue: contiguous 1..k within each host
    out.groupBy(_.getString(2)).foreach { case (h, rows) =>
      val slots = rows.map(_.getLong(4)).sorted
      assert(slots.head == 1L && slots.last == slots.length.toLong &&
        slots.distinct.length == slots.length, s"slots broken for $h")
    }
  }

  test("crawlDelays: group-scoped, exact-over-star, max of duplicates, " +
      "non-numeric dropped") {
    val robots = Seq(
      // exact group delay 2 shadows the star group's 9
      ("e1.example", "User-agent: graftbot\nCrawl-delay: 2\n" +
        "User-agent: *\nCrawl-delay: 9"),
      // no exact group -> star's; two values -> max; junk dropped
      ("e2.example", "User-agent: *\nCrawl-delay: 3\nCrawl-delay: 7\n" +
        "Crawl-delay: fast"),
      // delay outside any group: ignored
      ("e3.example", "Crawl-delay: 4\nUser-agent: *\nDisallow: /")
    ).toDF("host", "txt")
    val got = Robots.crawlDelays(robots, "host", "txt", "GraftBot")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("e1.example" -> 2.0, "e2.example" -> 7.0))
  }

  test("sitemapEntries: loc required, optional fields null, whitespace trimmed") {
    val xml = """<?xml version="1.0"?><urlset>
      |<url><loc> http://h/a </loc><lastmod>2026-01-15</lastmod></url>
      |<url><loc>http://h/b</loc><priority>0.8</priority></url>
      |<url><lastmod>2026-02-15</lastmod></url>
      |<url><loc>http://h/c</loc></url>
      |</urlset>""".stripMargin
    val out = Robots.sitemapEntries(Seq(("h", xml)).toDF("host", "xml"),
        "host", "xml")
      .collect().map(r => (r.getString(1), Option(r.getString(2)),
        Option(r.getString(3)))).toSet
    assert(out == Set(
      ("http://h/a", Some("2026-01-15"), None),
      ("http://h/b", None, Some("0.8")),
      ("http://h/c", None, None))) // loc-less entry dropped
  }

  test("sitemapIndexEntries: child locs extracted, lastmod optional, " +
      "loc-less blocks dropped, urlset entries ignored") {
    val xml = """<?xml version="1.0"?><sitemapindex>
      |<sitemap><loc> http://h/sitemap-0.xml </loc><lastmod>2026-01-01</lastmod></sitemap>
      |<sitemap><loc>http://h/sitemap-1.xml</loc></sitemap>
      |<sitemap><lastmod>2026-03-01</lastmod></sitemap>
      |</sitemapindex>""".stripMargin
    val out = Robots.sitemapIndexEntries(Seq(("h", xml)).toDF("host", "xml"),
        "host", "xml")
      .collect().map(r => (r.getString(1), Option(r.getString(2)))).toSet
    assert(out == Set(
      ("http://h/sitemap-0.xml", Some("2026-01-01")),
      ("http://h/sitemap-1.xml", None)))
    // a leaf urlset has no <sitemap> blocks: the index parser sees none
    assert(Robots.sitemapIndexEntries(
      Seq(("h", "<urlset><url><loc>http://h/a</loc></url></urlset>"))
        .toDF("host", "xml"), "host", "xml").count() == 0)
  }

  test("urlPath includes the query (RFC 9309 match target); query rules fire") {
    val paths = Seq("http://h.example/p?x=1#f", "http://h.example?x=1",
      "http://h.example/p", "http://h.example")
      .toDF("u").select(Robots.urlPath(col("u"))).as[String].collect()
    assert(paths.toSeq == Seq("/p?x=1", "/?x=1", "/p", "/"))
    val r = Robots.parseRobots(Seq(("q.example",
      "User-agent: *\nDisallow: /a?sid=")).toDF("host", "txt"),
      "host", "txt")
    val out = Robots.robotsAllowed(Seq(
        (1L, "http://q.example/a?sid=7"),   // query rule fires
        (2L, "http://q.example/a")          // no query: no match
      ).toDF("id", "url"), r, "anybot", "id")
      .select("id", "allowed").collect()
      .map(x => x.getLong(0) -> x.getBoolean(1)).toMap
    assert(out == Map(1L -> false, 2L -> true))
  }

  test("extractHrefs: data-href is not an href (the \\shref requirement)") {
    val html = """<a href="/real" data-href="/track">x</a>""" +
      """<a data-href="/t2" href="/real2">y</a><a data-href="/only">z</a>"""
    val got = Seq(("http://h.example", html)).toDF("u", "h")
      .select(UrlFunctions.extractLinks(col("u"), col("h")))
      .as[Seq[String]].collect().head
    assert(got == Seq("http://h.example/real", "http://h.example/real2"))
  }

  test("robotsAllowed: broadcastRules = false is decision-identical " +
      "(the past-broadcast-scale arm)") {
    val urls = Seq(
      (1L, "http://h.example/a/file"),
      (2L, "http://h.example/a/b/file"),
      (3L, "http://h.example/other"),
      (4L, "http://nowhere.example/x")).toDF("id", "url")
    def decide(bc: Boolean) =
      Robots.robotsAllowed(urls, rules, "GraftBot", "id",
          broadcastRules = bc)
        .select("id", "allowed", "matched_directive", "matched_pattern")
        .collect().map(_.toSeq).toSet
    assert(decide(true) == decide(false))
  }

  test("property: patternRegex == a direct RFC 9309 matcher on random " +
      "patterns and paths") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    // direct interpreter: prefix walk with '*' wildcard and optional
    // trailing '$' anchor; every other char (incl. regex metachars and
    // inner '$') literal — an independent second implementation
    def refMatch(pattern: String, path: String): Boolean = {
      val (body, anchored) =
        if (pattern.endsWith("$")) (pattern.dropRight(1), true)
        else (pattern, false)
      val parts = body.split("\\*", -1)
      def walk(pos: Int, i: Int): Boolean =
        if (i == parts.length) !anchored || pos == path.length
        else if (i == parts.length - 1 && anchored)
          // the first part must also START at 0: no-wildcard anchored
          // patterns require path == pattern body
          (if (i == 0) path == parts(i)
           else path.endsWith(parts(i)) &&
             path.length - parts(i).length >= pos)
        else {
          val from = path.indexOf(parts(i), pos)
          if (from < 0 || (i == 0 && from != 0)) false
          else walk(from + parts(i).length, i + 1)
        }
      walk(0, 0)
    }
    val seg = Gen.oneOf("a", "b", "ab", ".", "(x)", "$", "[c]", "+", "x")
    val patGen = for {
      n <- Gen.choose(1, 4)
      segs <- Gen.listOfN(n, Gen.oneOf(seg, Gen.const("*")))
      anchor <- Gen.oneOf("", "$")
    } yield "/" + segs.mkString + anchor
    val pathGen = for {
      n <- Gen.choose(0, 5)
      segs <- Gen.listOfN(n, seg)
    } yield "/" + segs.mkString
    val prop = Prop.forAll(Gen.listOfN(30, Gen.zip(patGen, pathGen))) { cases =>
      val df = cases.toDF("p", "path")
        .select(col("p"), col("path"),
          regexp_like(col("path"), Robots.patternRegex(col("p"))).as("got"))
      df.collect().forall { r =>
        val want = refMatch(r.getString(0), r.getString(1))
        val ok = r.getBoolean(2) == want
        if (!ok) println(s"MISMATCH pattern=${r.getString(0)} " +
          s"path=${r.getString(1)} regex=${want} got=${r.getBoolean(2)}")
        ok
      }
    }
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("allow wins length ties; first-written rule breaks exact ties") {
    val r = Robots.parseRobots(Seq(("t.example",
      "User-agent: *\nDisallow: /dup\nAllow: /dup")).toDF("host", "txt"),
      "host", "txt")
    val out = Robots.robotsAllowed(
      Seq((1L, "http://t.example/dupx")).toDF("id", "url"), r, "anybot", "id")
      .select("allowed", "matched_directive").collect().head
    assert(out.getBoolean(0) && out.getString(1) == "allow")
  }
}
