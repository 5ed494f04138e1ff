package graft.etd

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Physical-plan assertions (SURVEY §2.1 S2, §4): predicate pushdown
  * reaches the parquet scan, projection pruning reaches ReadSchema, and
  * dimension joins broadcast. These lock in the optimizer behaviors the
  * 100 TB design depends on (PERFNOTES.md).
  */
class PlanAssertionsSpec extends AnyFunSuite {
  import SharedSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("S2: filters push into the parquet scan; projection prunes columns") {
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 50)
      .select("doc_id", "lang")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("LessThan(doc_id,50)"),
      s"pushdown missing in:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"column pruning missing in:\n$p")
  }

  test("J1/J5: dimension joins broadcast") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val part = spark.read.parquet(s"$dir/part.parquet")
    val p = plan(li.join(broadcast(part), col("l_partkey") === col("p_partkey")))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("impute windows share one (project, house) exchange") {
    val staged = graft.queries.QueriesEtd.staged(spark, dir)
    val p = plan(staged.select(Model.HouseId, "impute_jump", "house_impute_factor"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // one exchange for the house windows + one for the per-gap windows +
    // the hourly-average join sides; the 13-column fan-out must NOT add
    // per-column exchanges
    assert(exchanges <= 5, s"unexpected exchange count $exchanges in plan")
  }

  test("batched impute is one sorted pass per house: no Window, one Sort") {
    import spark.implicits._
    val in = Seq(
        (1L, 1L, new java.sql.Timestamp(0L), Option(1.0), Option.empty[Double], Option(0.5)),
        (1L, 1L, new java.sql.Timestamp(300000L), Option(2.0), Option(1.0), Option(0.5)))
      .toDF(Model.ProjectId, Model.HouseId, Model.ReadingDate, "M", "MDiff", "MDiff_avg")
    val out = Impute.imputeColumnsBatched(in, Seq("M"), keepGapCols = true)
    val optimized = out.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical
    assert(optimized.collect { case w: logical.Window => w }.isEmpty,
      s"window node in the batched impute:\n$optimized")
    assert(optimized.collect { case s: logical.Sort => s }.size <= 1, optimized.toString)
    val p = plan(out)
    assert(!p.contains("Window"), s"window operator in the batched impute:\n$p")
    assert("Sort \\[".r.findAllIn(p).length <= 1, s"more than one sort:\n$p")
  }

  test("relational MinHash: one aggregation shuffle, no join-back") {
    val sigs = graft.llm.Dedup.minhashSignatures(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val p = plan(sigs)
    // explode_outer keeps empty docs without restoring them via join
    assert(!p.contains("Join"), s"unexpected join in MinHash plan:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges")
    // the shingle pass is the native fused expression, evaluated in Generate
    assert(p.contains("shingle_hashes64"), "native shingle hashing missing")
  }

  test("A8: resample executes its input lineage exactly once (no spine self-join)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as(Model.ProjectId),
        col("l_partkey").as(Model.HouseId),
        to_timestamp(col("l_shipdate")).as(Model.ReadingDate),
        col("l_quantity").cast("double").as("v"))
    val p = plan(Resample.resample(li, Seq("v" -> "sum"), "24h"))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"resample re-scans its input ($scans scans):\n$p")
    assert(!p.contains("Join"), s"unexpected spine self-join in resample plan:\n$p")
  }

  test("I2: bounds table scans its input once (percentile as window, no join-back)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as(Model.ProjectId),
        col("l_partkey").as(Model.HouseId),
        to_timestamp(col("l_shipdate")).as(Model.ReadingDate),
        col("l_quantity").cast("double").as("vDiff"))
    val (_, maxBounds) = Diffs.prepare(li, Seq("v"))
    val p = plan(maxBounds)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"bounds branch re-scans its input ($scans scans):\n$p")
    assert(!p.contains("Join"), s"unexpected bounds join-back:\n$p")
  }

  test("weatherTable: one exchange serves every window, distinct, and rank") {
    import spark.implicits._
    val raw = (1 to 200).map(h => (260L, 20240101 + h / 24, h % 24 + 1,
        (h % 50).toDouble, 30.0, 80.0))
      .toDF("STN", "YYYYMMDD", "HH", "T", "FH", "U")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(Weather.weatherTable(raw))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      // the per-station window shuffle; the weekly distinct/ranks key on
      // a superset of STN and the summary joins back as a broadcast
      assert(exchanges == 1, s"weatherTable must shuffle once, got $exchanges:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("gap windows reuse the (project, house) partitioning: sorts only") {
    // HashPartitioning(P,H) satisfies ClusteredDistribution(P,H,cvg) —
    // the per-gap windows must add local sorts, never a new exchange.
    val rd = graft.queries.QueriesEtd.withAverages(
      graft.queries.QueriesEtd.readings(spark, dir))
      .repartition(col(Model.ProjectId), col(Model.HouseId))
    val staged = Impute.withGapStats(
      Impute.withGapGroups(rd, "MeterDiff", "Meter"), "Meter")
    val p = plan(staged.select(Model.HouseId, "gap_jump"))
    val afterRepartition = p.substring(p.indexOf("REPARTITION_BY_COL") match {
      case -1 => 0
      case i => i
    })
    // count exchanges in the whole plan: the explicit repartition + the
    // shim's own window exchanges; gap windows must not add one per stage
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    val sorts = "Sort \\[".r.findAllIn(p).length
    assert(sorts >= 2, s"expected local sorts for gap windows, got $sorts")
    assert(exchanges <= 3, s"gap windows added exchanges: $exchanges in\n$afterRepartition")
  }

  test("duplicateSpans: both count windows share the gram-hash exchange; " +
       "span merge + agg share the doc exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(graft.llm.Dedup.duplicateSpans(docs, "doc_id", "text", n = 5))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 2,
        s"span detection needs exactly 2 exchanges (gram hash, doc), got $exchanges:\n$p")
      assert(!p.contains("Join"), s"no joins expected in span detection:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("corpus rollups: partial aggregation before the exchange (map-side combine)") {
    for (q <- Seq(graft.queries.QueriesLLM.q_corpus_stats _,
                  graft.queries.QueriesLLM.q_token_histogram _)) {
      val p = plan(q(spark, dir))
      // partial + final HashAggregate pair: the shuffle carries one row
      // per group per mapper, never per document
      assert("HashAggregate".r.findAllIn(p).length >= 2,
        s"expected partial+final aggregation:\n$p")
      assert(!p.contains("Join"), s"rollup must not join:\n$p")
    }
  }

  test("incremental exact dedup: the anti-join key is the digest, not the text") {
    val p = plan(graft.queries.QueriesLLM.q_dedup_incremental(spark, dir))
    assert(p.contains("LeftAnti"), s"expected an anti join:\n$p")
    // both the archive-index side and the join key are md5 digests — the
    // document text must not appear as a join key anywhere
    assert("(?i)leftanti, \\[text".r.findFirstIn(p).isEmpty &&
      !p.contains("[text#"), s"text used as a join key:\n$p")
  }

  test("BM25 indexed search: no corpus re-tokenization, query filter pushed") {
    val tmp = graft.TempDirs.dir("bm25plan").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (post, stats) = graft.llm.Retrieval.buildPostings(docs, "doc_id", "text")
    post.write.mode("overwrite").parquet(s"$tmp/post")
    stats.write.mode("overwrite").parquet(s"$tmp/stats")
    val p = plan(graft.llm.Retrieval.searchPostings(
      spark.read.parquet(s"$tmp/post"), spark.read.parquet(s"$tmp/stats"),
      docs.filter(col("doc_id") < 3), "doc_id", "text", k = 5))
    // three scans: postings index, stats, and the QUERY side of
    // documents — the corpus itself is never re-read or re-tokenized
    assert("Scan parquet".r.findAllIn(p).length == 3,
      s"search must scan index + stats + queries only:\n$p")
    assert(p.contains("LessThan(doc_id,3)"),
      s"query-side filter must reach the documents scan:\n$p")
    // the postings scan reads the index columns, not any text
    assert(p.contains("struct<doc_id:bigint,term:string,tf:bigint,dl:double,df:bigint>"),
      s"postings ReadSchema wrong:\n$p")
  }

  test("shard assignment: map-side hashes over a pruned scan") {
    val p = plan(graft.queries.QueriesLLM.q_shard_assign(spark, dir))
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"shard keys must read doc_id alone:\n$p")
    assert(!p.contains("Join"), s"shard assignment must not join:\n$p")
  }

  test("mixtureExpand: map-only epoch expansion (no join, no exchange)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.llm.Mixing.mixtureExpand(docs, "doc_id", "source",
      Map("src0" -> 2.25, "src1" -> 0.5)))
    assert(p.contains("Generate"), s"expected posexplode:\n$p")
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"epoch expansion must be map-only:\n$p")
  }

  test("PQ ADC scan: one corpus scan serves all queries, no joins") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cb = Array.tabulate(4, 8)((j, i) =>
      Array.tabulate(16)(x => (i * 16 + x + j).toFloat))
    val coded = emb.select(col("vec_id"),
      graft.llm.Similarity.pqEncode(col("embedding"), cb).as("codes"))
    val queries = Seq(1L -> Array.tabulate(64)(_.toFloat),
      2L -> Array.tabulate(64)(x => (64 - x).toFloat))
    val p = plan(graft.llm.Similarity.pqTopK(coded, "vec_id", "codes",
      queries, cb, k = 5))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"PQ scoring must scan the corpus once ($scans):\n$p")
    assert(!p.contains("Join"), s"PQ scoring must not join:\n$p")
    assert(p.contains("Generate"), "query LUTs should ride along as an explode")
  }

  test("exact Jaccard join: no cartesian product; candidate stage is one " +
      "grouped aggregation (positional filter rides the distinct exchange)") {
    val p = plan(graft.queries.QueriesLLM.q_jaccard_join(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"exact join must never go all-pairs:\n$p")
    // the positional filter is a Filter directly over the pair groupBy,
    // not a new exchange: CEIL bound over the min-position aggregate
    assert(p.contains("HashAggregate(keys=[id_a") && p.contains("CEIL"),
      s"positional filter must ride the candidate aggregation:\n$p")
  }

  test("as-of join: one hash exchange on the keys feeds the window; no range join") {
    val l = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_id").as("t"))
    val r = l.select(col("user_id"), col("t"), col("event_id").as("rid"))
    val p = plan(graft.ops.TimeJoins.asofJoin(l, r, Seq("user_id"), "t", Seq("rid")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"as-of must not plan a range join:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected the single key exchange, got $exchanges:\n$p")
  }

  test("KN scoring: no cartesian; vocabulary-sized model tables broadcast") {
    val p = plan(graft.queries.QueriesLLM.q_kn_score(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian in KN scorer:\n$p")
    // uni (p1) and ctx2 (bow2) are vocab-sized: at least two of the five
    // model joins must be broadcast at this scale
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"vocab-sized model tables should broadcast:\n$p")
  }

  test("crawl pipeline: extraction stays map-side — dedup's is the only wide agg over the corpus") {
    val p = plan(graft.queries.QueriesLLM.q_cc_pipeline(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"page->main->dedup needs no join at all:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"extraction must fold into the dedup exchange, got $exchanges:\n$p")
  }

  test("fuzzy join: gram path is an equi-join on the gram hash with the " +
      "positional band in the condition, feeding the count-filter " +
      "aggregate; only the bounded short bucket may nested-loop") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang").as("s"))
    val p = plan(graft.ops.FuzzyJoin.editDistancePairs(docs, "s", 1))
    assert(!p.contains("CartesianProduct"),
      s"fuzzy join must never plan a cartesian:\n$p")
    // the short-string (len <= q*k) all-pairs bucket is alphabet-bounded
    // by construction and is ALLOWED to nested-loop; the corpus-scale
    // gram join must not
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"only the short bucket may nested-loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"),
      s"gram join must be an equi-join:\n$p")
    // the gram hash is THE equi key and the positional band rides the
    // join CONDITION (r16, Gravano Q3) — match the key lists + the band
    // predicate so dropping either from the join surfaces here
    assert(
      ("""(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) """ +
        """\[g#\d+L?\], \[g#\d+L?\]""").r
        .findFirstIn(p).isDefined,
      s"gram equi-join key missing from plan:\n$p")
    assert("""abs\(\(pos#\d+ - pos#\d+\)\) <= 1""".r.findFirstIn(p).isDefined,
      s"positional band missing from the join condition:\n$p")
    assert(p.contains("__shared"), s"count-filter aggregate missing:\n$p")
    assert(p.contains("levenshtein"), s"bounded verify missing:\n$p")
  }

  test("training-data flagship: no cartesian anywhere; packing windows " +
      "partition by shard (never a global sort); split + manifest ride " +
      "the existing cuts (r17)") {
    val p = plan(graft.queries.QueriesLLM.q_training_data_e2e(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"the composed chain must never plan a cartesian:\n$p")
    // the pack's running sum must be a per-shard window — a global
    // (unpartitioned) window would serialize the corpus through one task
    assert(!p.contains("Window [") ||
        !"""Window \[[^\n]*\], \[\]""".r.findFirstIn(p).isDefined,
      s"unpartitioned window in the packed side:\n$p")
    assert(p.contains("Union"), s"ledger ∪ packed ∪ manifest union missing:\n$p")
    // r17: the trainer-handoff additions (leakage-safe split + occupancy
    // manifest) ride the EXISTING cuts — the final plan is projections +
    // one map-side straddle explode over the checkpointed ledger/pack
    // frames, with ZERO exchanges added (the split is computed inside
    // the ledger cut; the manifest decomposes the pack cut in place)
    assert("Generate explode\\(sequence\\(".r.findFirstIn(p).isDefined,
      s"manifest straddle explode missing:\n$p")
    assert(!p.contains("Exchange"),
      s"the split/manifest additions must not introduce a post-cut " +
        s"exchange:\n$p")
  }

  test("PSL registered domains: every rule join broadcasts; no cartesian; " +
      "the candidate explode runs on distinct hosts only") {
    val p = plan(graft.queries.QueriesLLM.q_registered_domain(spark, dir))
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
    // normal + wildcard + exception rule tables all ride broadcasts
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"rule joins must broadcast:\n$p")
    // one distinct (aggregate) on the host grain BEFORE the explode —
    // payload rows never fan out by label count
    assert(p.contains("Generate explode"), s"candidate explode missing:\n$p")
    assert("HashAggregate".r.findAllIn(p).nonEmpty,
      s"distinct-hosts aggregate missing:\n$p")
  }

  test("robots gate: packed rules broadcast, winner resolves map-side " +
      "(no window, no corpus shuffle)") {
    val p = plan(graft.queries.QueriesLLM.q_robots_filter(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"robots decision must stay an equi-join on host:\n$p")
    // the host-grain packed rule table (and the exact-agent probe)
    // broadcast — the corpus-side URLs never shuffle for the join
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1,
      s"rules must broadcast:\n$p")
    // the winner is an array_max over the packed rules, NOT a
    // window-by-URL (which would shuffle the whole corpus — the r17
    // session-2 rework; PERFNOTES "Round 17, second session" has the
    // measured delta under "robotsAllowed rework"). The
    // only windows left are parseRobots' host-keyed line grouping —
    // rule-table-grain, never the corpus.
    assert(!p.contains("windowspecdefinition(doc_id"),
      s"no per-URL window allowed in the decision:\n$p")
    assert(p.contains("array_max"), s"map-side winner pick missing:\n$p")
  }

  test("host-graph construction: pure map + one aggregation — no joins at all") {
    val p = plan(graft.queries.QueriesLLM.q_host_graph(spark, dir))
    assert(!p.contains("Join"),
      s"edge construction must be corpus-pass map work + one agg:\n$p")
    assert(p.contains("Generate explode"), s"link explode missing:\n$p")
    assert("HashAggregate".r.findAllIn(p).nonEmpty,
      s"edge-grain count agg missing:\n$p")
  }

  test("containment join: no cartesian; asymmetric positional filter " +
      "rides the candidate aggregation like the Jaccard form") {
    val p = plan(graft.queries.QueriesLLM.q_containment_join(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"exact containment must never go all-pairs:\n$p")
    assert(p.contains("HashAggregate(keys=[id_a") && p.contains("CEIL"),
      s"positional filter must ride the candidate aggregation:\n$p")
  }

  test("phrase search: equi-joins on (doc, start) only — no range or " +
      "nested-loop plan; every leg filters to its own term") {
    val post = graft.llm.Retrieval.positionalPostings(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    val p = plan(graft.llm.Retrieval.phraseMatches(
      post, Seq("big", "order", "scan")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"phrase intersection must stay equi-join:\n$p")
    Seq("big", "order", "scan").foreach(t =>
      assert(p.contains(s"$t)"), s"missing term-filter leg for '$t':\n$p"))
  }

  test("tf-idf cosine: no cartesian beyond the one-row stats broadcast; " +
      "dot products are an equi-join on term") {
    val p = plan(graft.queries.QueriesLLM.q_tfidf_cosine(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"vector-space scoring must never plan a true cartesian:\n$p")
    // the only nested-loop shapes allowed are the broadcast one-row
    // n_docs/corpus-stats cross joins
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    val aggStats = "HashAggregate".r.findAllIn(p).length
    assert(bnlj <= 4 && aggStats >= 2,
      s"unexpected join structure (bnlj=$bnlj):\n$p")
  }

  test("url trap report: pure map-side column algebra — no join, no exchange") {
    val p = plan(graft.llm.UrlFunctions.trapReport(
      spark.read.parquet(s"$dir/documents.parquet")
        .selectExpr("doc_id", "concat('http://h.example/a/b?x=', doc_id) AS url"),
      "url"))
    assert(!p.contains("Join") && !p.contains("Exchange"),
      s"trap gate must run where the links are:\n$p")
  }

  test("HITS round: score updates are hash joins keyed on id — " +
      "no cartesian beyond the one-row mass broadcasts") {
    import spark.implicits._
    // the returned frame is localCheckpoint-truncated, so pin the loop
    // body itself (Hits.oneRound) on the same inputs run() builds
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst").distinct().localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val scores = nodes.withColumn("hub", lit(0.25))
      .withColumn("auth", lit(0.25))
    val p = plan(graft.ops.Hits.oneRound(nodes, e, scores, saltJoin = 1))
    assert(!p.contains("CartesianProduct"),
      s"HITS must never plan a true cartesian:\n$p")
    // the hub-mass broadcast appears once per consumer of the hubbed
    // subtree (the auth contribution join AND the final assembly), the
    // auth-mass once — operator nodes replicate per use while the
    // underlying BroadcastExchange is reused; all are one-row builds
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 4, s"only the one-row mass broadcasts may " +
      s"nested-loop (got $bnlj):\n$p")
    assert(p.contains("Join"), s"expected id-keyed score joins in:\n$p")
  }

  test("apportionment: the bump set plans TakeOrdered — never a " +
      "range-partitioned global sort") {
    val df = spark.range(1000).selectExpr("CAST(id AS STRING) AS k",
      "id % 97 + 1 AS w")
    val p = plan(graft.ops.Apportion.largestRemainder(df, "k", "w", 500L))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-r selection must be per-partition heaps + driver merge:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"a global sort exchange would funnel the key set:\n$p")
  }

  test("crawl-loop flagship: no cartesian; rule/authority/delay/quota " +
      "tables all broadcast; bump set is TakeOrdered (VERDICT r17 #6)") {
    val p = plan(graft.queries.QueriesLLM.q_crawl_loop_e2e(spark, dir))
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
    // robots packed rules, host authority, crawl delays, and quotas
    // are all host-cardinality — every one must ride a broadcast; the
    // corpus side shuffles only for the sitemap assembly aggregations
    // and the per-host slot window
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"host-grain dimension joins must broadcast:\n$p")
    // the budget's bump set is per-partition heaps + driver merge,
    // never a range-partitioned global sort (the Apportion pin,
    // composed)
    assert(p.contains("TakeOrderedAndProject"),
      s"quota bump set must plan TakeOrdered:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"no global sort exchange anywhere in the loop:\n$p")
    // trap verdict is map-side column algebra upstream of the robots
    // join — no per-URL window in the gate chain (only the slot window
    // partitions by host)
    assert(!p.contains("windowspecdefinition(doc_id"),
      s"no per-URL window allowed:\n$p")
  }

  test("expectations: rule count does not change the plan shape (one scan)") {
    import graft.ops.Expectations.Rule
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def scans(n: Int): Int = {
      val rules = (1 to n).map(i => Rule(s"r$i", col("n_chars") > i))
      "Scan parquet".r.findAllIn(
        plan(graft.ops.Expectations.report(docs, rules))).length
    }
    assert(scans(2) == 1 && scans(12) == 1,
      "every rule must fold into the single aggregation pass")
  }
}
