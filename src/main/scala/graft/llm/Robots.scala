package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RFC 9309 (Robots Exclusion Protocol) parsing and allow/deny
  * decisions — the crawl-politeness gate every ingest pipeline runs
  * BEFORE fetching, sitting alongside the URL canonicalization /
  * frontier machinery ([[UrlFunctions]], [[graft.streaming.StreamingCrawl]]).
  *
  * Scale shape: one robots.txt per HOST, so the parsed rule table is
  * host-cardinality — orders of magnitude smaller than the URL corpus
  * it gates. [[parseRobots]] is a single `posexplode` plus two
  * host-keyed windows (robots bodies are KiB-scale, the explode is
  * bounded); [[robotsAllowed]] joins URLs to rules on host, so each
  * URL meets only its own host's handful of rules — never a cross-host
  * product — and the per-host exact-agent probe is a broadcast.
  *
  * Conventions (documented so the SQL oracle can replay them exactly):
  * consecutive `User-agent` lines — after dropping comments, blanks,
  * and non-robots keys like `Sitemap`/`Crawl-delay` — share one group
  * (RFC 9309 §2.1 group grammar); an empty-value `Disallow:` imposes
  * nothing and is dropped at parse; group selection is exact
  * agent-token match with `*` fallback (the RFC's longest-UA-prefix
  * refinement collapses to this for exact product tokens); decision is
  * longest-pattern wins with `allow` beating `disallow` on ties
  * (§2.2.2), no match → allowed.
  */
object Robots {

  /** The robots match target: path PLUS query (`/` when both absent,
    * leading `/` restored for query-only URLs), fragment excluded —
    * RFC 9309 §2.2.2 matches rules against the path-with-query (its
    * own example is `/foo/bar?baz=quux`), so a path-only target would
    * let query-targeting rules (`Disallow: /a?sessionid=` and the
    * wildcard-prefixed form) silently pass.
    */
  def urlPath(u: Column): Column = {
    val p = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    when(p === "", lit("/"))
      .when(p.startsWith("/"), p)
      .otherwise(concat(lit("/"), p))
  }

  /** RFC 9309 path pattern → anchored Java/RE2 regex: `*` is a
    * wildcard, a TRAILING `$` anchors the end, every other character
    * is literal (metacharacters escaped; an INNER `$` is literal).
    */
  def patternRegex(pattern: Column): Column = {
    val hasEnd = pattern.endsWith("$")
    val core = when(hasEnd, pattern.substr(lit(1), length(pattern) - 1))
      .otherwise(pattern)
    val escaped = regexp_replace(core,
      "([.^$+?(){}\\[\\]|\\\\])", "\\\\$1")
    val wild = regexp_replace(escaped, "\\*", ".*")
    concat(lit("^"), wild, when(hasEnd, lit("$")).otherwise(lit("")))
  }

  /** Shared line parse + UA-run grouping over the given key set: comment
    * strip → `key: value` split → keep `keys` → group id = cumsum of
    * UA-run starts. Keys OUTSIDE the set are invisible to grouping —
    * which key set a view passes therefore defines its run-merge
    * convention (see [[crawlDelays]]).
    */
  private def groupedDirectives(robots: DataFrame, hostCol: String,
                                txtCol: String,
                                keys: Seq[String]): DataFrame = {
    val lines = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(txtCol), "\n")).as(Seq("line_no", "raw")))
      .select(col("host"), col("line_no"),
        trim(regexp_replace(col("raw"), "#.*", "")).as("line"))
      .filter(col("line").contains(":"))
      .select(col("host"), col("line_no"),
        lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))).as("k"),
        trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)).as("v"))
      .filter(col("k").isin(keys: _*))
    val w = Window.partitionBy("host").orderBy("line_no")
    lines
      .withColumn("is_ua", (col("k") === "user-agent").cast("int"))
      .withColumn("new_group",
        when(col("is_ua") === 1 &&
          coalesce(lag(col("is_ua"), 1).over(w), lit(0)) === 0, 1)
          .otherwise(0))
      .withColumn("group_id", sum(col("new_group")).over(w))
  }

  /** Parse robots.txt bodies into a per-(host, agent) rule table:
    * `(host, agent, group_id, rule_no, directive, pattern)`. Groups
    * with no rules (allow-everything groups — legal and load-bearing:
    * `User-agent: bot` at EOF exempts `bot` from a `*` disallow) keep
    * one row with null rule columns, so [[robotsAllowed]]'s group
    * selection still sees them.
    */
  def parseRobots(robots: DataFrame, hostCol: String, txtCol: String): DataFrame = {
    val grouped = groupedDirectives(robots, hostCol, txtCol,
      Seq("user-agent", "allow", "disallow"))
    val agents = grouped.filter(col("k") === "user-agent")
      .select(col("host"), col("group_id"), lower(col("v")).as("agent"))
    val rules = grouped
      .filter(col("k") =!= "user-agent" && col("v") =!= "")
      .select(col("host"), col("group_id"),
        col("line_no").cast("long").as("rule_no"),
        col("k").as("directive"), col("v").as("pattern"))
    agents.join(rules, Seq("host", "group_id"), "left")
      .select(col("host"), col("agent"), col("group_id").cast("long").as("group_id"),
        col("rule_no"), col("directive"), col("pattern"))
  }

  /** Per-host `Crawl-delay` for `agent` — the de-facto pacing extension
    * most crawlers honor. Delays ride the group grammar with the same
    * exact-over-`*` selection as rules; the per-host value is the MAX
    * across selected groups (conservative under duplicates), non-numeric
    * values dropped. Grouping here includes delay lines as run members
    * (the strict RFC grammar: any non-UA line ends a UA run), while
    * [[parseRobots]]' rule view ignores unknown keys between UA lines —
    * the two agree on every body whose delay lines sit inside the
    * group's block, the universal real-world layout. Returns
    * `(host, crawl_delay)` — host-grain, broadcast-sized, the
    * `fetch_after` input for frontier pacing.
    */
  def crawlDelays(robots: DataFrame, hostCol: String, txtCol: String,
                  agent: String): DataFrame = {
    val ag = agent.toLowerCase(java.util.Locale.ROOT)
    val grouped = groupedDirectives(robots, hostCol, txtCol,
      Seq("user-agent", "allow", "disallow", "crawl-delay"))
    val agents = grouped.filter(col("k") === "user-agent")
      .select(col("host"), col("group_id"), lower(col("v")).as("agent"))
    val delays = grouped.filter(col("k") === "crawl-delay")
      .select(col("host"), col("group_id"),
        expr("try_cast(v AS double)").as("crawl_delay"))
      .filter(col("crawl_delay").isNotNull)
    val hostHasExact = agents.filter(col("agent") === ag)
      .select("host").distinct().withColumn("has_exact", lit(true))
    val selected = agents
      .join(broadcast(hostHasExact), Seq("host"), "left")
      .filter(when(coalesce(col("has_exact"), lit(false)), col("agent") === ag)
        .otherwise(col("agent") === "*"))
      .select("host", "group_id").distinct()
    delays.join(selected, Seq("host", "group_id"))
      .groupBy(col("host"))
      .agg(max(col("crawl_delay")).as("crawl_delay"))
  }

  /** sitemaps.org `<urlset>` parsing: one row per `<url>` entry with
    * `loc` (required; entries without one are dropped), `lastmod`, and
    * `priority` (optional, null when absent). A fixed regex chain —
    * per-file map work, codegen-friendly, no shuffle; a 50k-URL
    * sitemap (the protocol's own cap) is a ~5 MB string, well inside
    * row limits. `<sitemapindex>` files parse with
    * [[sitemapIndexEntries]]; the FETCH of the children it names
    * belongs to the crawl loop, not the parser.
    */
  def sitemapEntries(xml: DataFrame, hostCol: String, xmlCol: String): DataFrame =
    xml
      .select(col(hostCol).as("host"),
        explode(regexp_extract_all(col(xmlCol),
          lit("(?s)<url>(.*?)</url>"), lit(1))).as("entry"))
      .select(col("host"),
        regexp_extract(col("entry"), "(?s)<loc>\\s*(.*?)\\s*</loc>", 1)
          .as("loc"),
        regexp_extract(col("entry"), "(?s)<lastmod>\\s*(.*?)\\s*</lastmod>", 1)
          .as("lastmod"),
        regexp_extract(col("entry"), "(?s)<priority>\\s*(.*?)\\s*</priority>", 1)
          .as("priority"))
      .filter(col("loc") =!= "")
      .withColumn("lastmod",
        when(col("lastmod") === "", lit(null).cast("string"))
          .otherwise(col("lastmod")))
      .withColumn("priority",
        when(col("priority") === "", lit(null).cast("string"))
          .otherwise(col("priority")))

  /** sitemaps.org `<sitemapindex>` parsing: one row per `<sitemap>`
    * block with the CHILD sitemap `loc` (required; blocks without one
    * drop) and optional `lastmod` — the one nesting level the protocol
    * allows (index files may not reference index files), so the fetch
    * loop's recursion is exactly: robots `Sitemap:` refs → this
    * parser when the payload is an index →
    * [[sitemapEntries]] on the children. Same fixed-regex-chain,
    * map-only discipline as the urlset parser.
    */
  def sitemapIndexEntries(xml: DataFrame, hostCol: String,
                          xmlCol: String): DataFrame =
    xml
      .select(col(hostCol).as("host"),
        explode(regexp_extract_all(col(xmlCol),
          lit("(?s)<sitemap>(.*?)</sitemap>"), lit(1))).as("entry"))
      .select(col("host"),
        regexp_extract(col("entry"), "(?s)<loc>\\s*(.*?)\\s*</loc>", 1)
          .as("loc"),
        regexp_extract(col("entry"), "(?s)<lastmod>\\s*(.*?)\\s*</lastmod>", 1)
          .as("lastmod"))
      .filter(col("loc") =!= "")
      .withColumn("lastmod",
        when(col("lastmod") === "", lit(null).cast("string"))
          .otherwise(col("lastmod")))

  /** Allow/deny per URL for `agent` against a [[parseRobots]] table:
    * adds `host`, `path`, `allowed`, `matched_directive`,
    * `matched_pattern`. Group selection: the host's exact-`agent`
    * groups when any exist, else its `*` groups, else no rules (hosts
    * with no robots.txt allow everything). Decision: among matching
    * selected rules, longest pattern wins; `allow` beats `disallow`
    * on equal length; first-written rule breaks exact ties; no match
    * → allowed.
    *
    * ZERO corpus shuffle: the selected rules pack into ONE array row
    * per host, broadcast-join the URLs, and the winner resolves
    * map-side — `filter` by regex match, then `array_max` over a
    * priority-ordered struct (len, is_allow, -rule_no): exactly the
    * longest/allow-ties/first-written rule as a lexicographic max. The
    * earlier join-per-rule + window-by-URL form shuffled the whole URL
    * corpus to pick winners (measured 1.8 MB at 100k URLs — corpus-
    * sized at 100 TB). `broadcastRules = false` drops the hint for
    * host cardinalities past broadcast scale: the join becomes one
    * corpus shuffle by host, still never a per-rule fan-out.
    */
  def robotsAllowed(urls: DataFrame, rules: DataFrame, agent: String,
                    idCol: String, urlCol: String = "url",
                    broadcastRules: Boolean = true): DataFrame = {
    val ag = agent.toLowerCase(java.util.Locale.ROOT)
    val u = urls
      .withColumn("host", UrlFunctions.urlHost(col(urlCol)))
      .withColumn("path", urlPath(col(urlCol)))
    val hostHasExact = rules.filter(col("agent") === ag)
      .select("host").distinct().withColumn("has_exact", lit(true))
    val selected = rules
      .join(broadcast(hostHasExact), Seq("host"), "left")
      .filter(when(coalesce(col("has_exact"), lit(false)), col("agent") === ag)
        .otherwise(col("agent") === "*"))
      .filter(col("pattern").isNotNull)
      .select(col("host").as("r_host"), col("rule_no"),
        col("directive"), col("pattern"),
        patternRegex(col("pattern")).as("rx"))
      .distinct() // same rule reachable via two UA aliases in one group
    val packed0 = selected.groupBy(col("r_host"))
      .agg(collect_list(struct(
        length(col("pattern")).as("len"),
        (col("directive") === "allow").cast("int").as("is_allow"),
        (-col("rule_no")).as("neg_no"),
        col("directive").as("directive"),
        col("pattern").as("pattern"),
        col("rx").as("rx"))).as("__rules"))
    val packed = if (broadcastRules) broadcast(packed0) else packed0
    u.join(packed, col("host") === col("r_host"), "left")
      .withColumn("__w", array_max(filter(col("__rules"),
        r => regexp_like(col("path"), r.getField("rx")))))
      .withColumn("allowed",
        col("__w").isNull || col("__w.directive") === "allow")
      .withColumn("matched_directive",
        coalesce(col("__w.directive"), lit("none")))
      .withColumn("matched_pattern",
        coalesce(col("__w.pattern"), lit("")))
      .drop("r_host", "__rules", "__w")
  }
}
