package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scale evidence: generates a ~10-50x dataset from sf0.1 by
  * unioning key-offset copies (content perturbed per copy so dedup/LSH
  * see distinct documents, embeddings see distinct vectors, and the
  * household axis — the axis that grows at 100 TB — multiplies), then
  * times the scale-critical queries at BOTH sf0.1 and the scaled dir in
  * the same session, reporting wall time plus per-task maxima (shuffle
  * read/write bytes, peak execution memory) from [[Probe]] — the
  * numbers that decide whether a partition strategy survives a 100x
  * scale-up, as opposed to plan-shape argument alone. Every timed line
  * is one [[Probe.timed]] reading.
  *
  * Usage:
  *   runMain graft.ScaleBench [gen] [run] [crossover]
  *   (no args: gen-if-missing + run + crossover; each verb alone runs only itself)
  * Env: SPARK_GRAFT_SCALE_DIR (default /tmp/sfscale), SPARK_GRAFT_CPUS.
  *
  * Copy counts: events x20 (20x households — the ETD flagship's scale
  * axis), lineitem x10 (6M rows), documents x20 (100k docs), embeddings
  * x50 (100k vectors — the scale PERFNOTES predicts the IVF/PQ-vs-brute
  * crossover at).
  */
object ScaleBench {

  /** The queries whose plans carry the 100 TB claims. */
  val scaleQueries: Seq[String] = Seq(
    "q_pipeline_e2e",    // full impute/aggregate pipeline, household axis
    "q_pipeline_full13", // 5-interval full13 flagship — the ETD scale claim
    "q_i7_impute_cascade",
    "q_dedup_spans",     // duplicate n-gram span windows
    "q_lsh_pairs",       // banded MinHash bucketing
    "q_ann_topk",        // brute-force cosine — the baseline IVF/PQ must beat
    "q_ann_ivf",
    "q_ann_pq",
    "q_bm25_topk",       // inverted-index retrieval over the full corpus
    "q_semdedup",        // cell-local semantic dedup
    "q_curation_e2e",    // composed flagship: gate->redact->dedup (lineage cut)
    "q_image_neardup_e2e") // image decode -> features -> semantic dedup

  def main(args: Array[String]): Unit = {
    val srcDir = Harness.sfDir(None)
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/sfscale")
    val spark = Harness.session()
    SchemaCanary.warn(spark, srcDir)

    // every verb that READS outDir (run/crossover/no-args) generates it
    // first if missing — an explicit-verb first run used to bench a
    // missing dataset and report every scaled query failed (ADVICE r8)
    val scaledExists = new java.io.File(s"$outDir/documents.parquet").exists()
    val doGen = args.contains("gen") || !scaledExists
    // verbs are independent: `gen` alone only generates; `run` alone only
    // benches; `crossover` alone only runs the crossover; no args = all
    val doRun = args.contains("run") || args.isEmpty

    // one probe for every measurement block of the session
    val probe = Probe(spark)
    if (doGen) generate(spark, srcDir, outDir, probe)

    if (doRun) {
      Harness.untimed("scalebench warm-up") {
        noop(SparkEntry.table(spark, srcDir, "events").limit(1000))
      }
      val registry = SparkEntry.queries ++ Bench.benchOnly
      for (dir <- Seq(srcDir, outDir); name <- scaleQueries) {
        registry.get(name).foreach { fn =>
          var planSec = -1.0
          probe.timedWith("query" -> name, "dir" -> dir) {
            try { planSec = plannedNoop(fn(spark, dir)); "ok" }
            catch { case e: Throwable => s"failed: ${e.getMessage}" }
          }(status => Seq("plan_sec" -> planSec, "status" -> status))
        }
      }
    }
    if (args.contains("crossover") || args.isEmpty)
      annCrossover(spark, srcDir, outDir, probe)
    if (args.contains("bm25") || args.isEmpty)
      bm25Split(spark, outDir, probe)
    if (args.contains("dense") || args.isEmpty)
      denseSplit(spark, outDir, probe)
    if (args.contains("semdedup") || args.isEmpty)
      semDedupNlist(spark, outDir, probe)
    if (args.contains("bpe") || args.isEmpty)
      bpeScale(spark, outDir, probe)
    if (args.contains("incdedup") || args.isEmpty)
      incDedup(spark, srcDir, outDir, probe)
    if (args.contains("topk") || args.isEmpty)
      topkFinisher(spark, outDir, probe)
    if (args.contains("bloom") || args.isEmpty)
      bloomScreen(spark, outDir, probe)
    if (args.contains("pca") || args.isEmpty)
      pcaScale(spark, srcDir, outDir, probe)
    if (args.contains("zorder") || args.isEmpty)
      zorderSkip(spark, outDir, probe)
    if (args.contains("jacjoin") || args.isEmpty)
      jacJoinScale(spark, outDir, probe)
    if (args.contains("kmv") || args.isEmpty)
      kmvOverlap(spark, outDir, probe)
    if (args.contains("knlm") || args.isEmpty)
      knLm(spark, srcDir, outDir, probe)
    if (args.contains("tokenize") || args.isEmpty)
      tokenizeThroughput(spark, outDir, probe)
    if (args.contains("warc") || args.isEmpty)
      warcThroughput(spark, outDir, probe)
    if (args.contains("eventops") || args.isEmpty)
      eventOps(spark, srcDir, outDir, probe)
    if (args.contains("fuzzy") || args.isEmpty)
      fuzzyScale(spark, probe)
    if (args.contains("prskew") || args.isEmpty)
      pageRankSkew(spark, probe)
    if (args.contains("qsketch") || args.isEmpty)
      quantileSketchScale(spark, outDir, probe)
    if (args.contains("crawlstream") || args.isEmpty)
      crawlStream(spark, outDir, probe)
    if (args.contains("servelog") || args.isEmpty)
      serveLog(spark, outDir, probe)
    if (args.contains("flagships") || args.isEmpty)
      flagshipSoak(spark, srcDir, outDir, probe)
    if (args.contains("gates") || args.isEmpty)
      gateScale(spark, outDir, probe)
    if (args.contains("serving") || args.isEmpty)
      servingScale(spark, outDir, probe)
    if (args.contains("graphscale") || args.isEmpty)
      graphScale(spark, srcDir, probe)
    if (args.contains("graphscale100")) // opt-in: ~50M-edge decade, minutes
      graphScale100(spark, srcDir, probe)
    if (args.contains("dedupscale10")) // opt-in: ~1M-doc dedup/ANN decade
      dedupScale10(spark, outDir, probe)
    if (args.contains("retrievalscale10")) // opt-in: ~1M-doc BM25 decade
      retrievalScale10(spark, outDir, probe)
    if (args.contains("streamscale10")) // opt-in: streaming state-law decade
      streamScale10(spark, probe)
    if (args.contains("ccscale10")) // opt-in: pointer-doubling CC decade
      ccScale10(spark, probe)
    spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Plans `df` (analysis + optimization + physical planning), then runs
    * it into the noop sink; returns the planning seconds.
    */
  private def plannedNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    val d = df
    d.queryExecution.executedPlan
    val planSec = (System.nanoTime() - t0) / 1e9
    noop(d)
    planSec
  }

  /** A row count as a line field. */
  private val rows: Long => Seq[(String, Any)] = n => Seq("rows" -> n)

  /** Parquet files under `dir`, recursively. */
  private def parquetFiles(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).fold(0)(_.map(walk).sum)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dir))
  }

  /** The customer→supplier order graph of `srcDir`, weighted by quantity. */
  private def orderEdges(spark: SparkSession, srcDir: String): DataFrame = {
    val li = SparkEntry.table(spark, srcDir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_quantity")
    val ord = SparkEntry.table(spark, srcDir, "orders")
      .select("o_orderkey", "o_custkey")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_suppkey").cast("long") + 1000000L).as("dst"),
        col("l_quantity").as("weight"))
  }

  /** PageRank, weighted PageRank and HITS, 3 rounds each, per edge tier. */
  private def graphRounds(probe: Probe, tiers: Seq[(String, DataFrame)]): Unit =
    for ((tier, e) <- tiers; (label, run) <- Seq[(String, DataFrame => DataFrame)](
        "pagerank_3r" -> (graft.ops.PageRank.pageRank(_, 3)),
        "pagerank_weighted_3r" -> (graft.ops.PageRank.pageRankWeighted(_, 3)),
        "hits_3r" -> (graft.ops.Hits.hits(_, 3))))
      probe.timedWith("graph" -> label, "tier" -> tier)(run(e).count())(rows)

  /** Graph-signal iteration cost at 1× vs a 10× edge set (r17 s3):
    * PageRank, weighted PageRank, and HITS over the customer→supplier
    * order graph, then over 10 node-offset copies of it (10× nodes AND
    * 10× edges — the scaled lineitem can't feed this join because its
    * offset orderkeys don't hit the unscaled orders dim, so the graph
    * is scaled at the EDGE grain where the iteration cost actually
    * lives). The claim: per-round cost tracks the edge count (the
    * join+agg exchanges), wall grows ~linearly with the 10×, and HITS
    * stays ~2× PageRank (two edge joins per round vs one) at both
    * tiers — no superlinear term from the decimal sums or the
    * per-round lineage cuts.
    */
  private def graphScale(spark: SparkSession, srcDir: String,
                         probe: Probe): Unit = {
    val base = orderEdges(spark, srcDir).localCheckpoint()
    try {
      val tenX = (0 until 10).map(i =>
          base.select((col("src") + lit(i.toLong * 10000000L)).as("src"),
            (col("dst") + lit(i.toLong * 10000000L)).as("dst"),
            col("weight")))
        .reduce(_ unionByName _)
      graphRounds(probe, Seq(("1x", base), ("10x", tenX)))
    } finally graft.Checkpoints.free(base)
  }

  /** The NEXT decade (VERDICT r17 #8): the same three iterations over
    * ~100× the base edge set (~50M distinct edges — one disjoint
    * node-offset copy per k, built as a single crossJoin-with-range
    * branch so the plan stays O(1) regardless of the copy count, not a
    * 100-way union). Run next to the 10× tier in the SAME session so
    * the decade ratio is apples-to-apples. The default auto-salt path
    * stays engaged (saltJoin = 0 resolves from the degree aggregate;
    * the disjoint copies keep each hub's degree at base scale, so auto
    * correctly stays at 1 — the lever is armed, the graph just has no
    * hot hub, exactly what a well-sharded crawl graph looks like).
    * Claims: shuffle bytes stay edge-linear decade over decade and
    * wall amortizes BELOW linear (fixed per-round costs — codegen,
    * broadcast builds, scheduler — stop mattering as the edge grain
    * dominates).
    */
  private def graphScale100(spark: SparkSession, srcDir: String,
                            probe: Probe): Unit = {
    val base = orderEdges(spark, srcDir).localCheckpoint()
    try {
      // the copy stride is DERIVED from the measured max node id, not
      // assumed (ADVICE r18: o_custkey crosses the old hardcoded 10M
      // around sf ~67, and colliding copies would silently merge the
      // disjoint graphs — inflating degrees and disarming the
      // "auto-salt stays 1" claim the decade ratio rests on)
      val stride = math.max(10000000L,
        base.agg(greatest(max(col("src")), max(col("dst"))))
          .collect().head.getLong(0) + 1L)
      def copies(n: Int) = base
        .crossJoin(spark.range(n).select((col("id") * stride).as("__off")))
        .select((col("src") + col("__off")).as("src"),
          (col("dst") + col("__off")).as("dst"), col("weight"))
      // untimed 1x warm round: the three iterations are JIT-heavy
      // (~20 s of codegen on a cold JVM — the Bench warmup lesson);
      // without it the FIRST timed tier absorbs compilation and the
      // decade ratio reads amortization that is really warm-up
      graft.ops.PageRank.pageRank(base, 1).count()
      graft.ops.PageRank.pageRankWeighted(base, 1).count()
      graft.ops.Hits.hits(base, 1).count()
      // NO manual conf at either tier (VERDICT r18 #1): the three
      // levers the r18 run pulled by hand — edge-proportional
      // partitions, the AQE coalescing floor, and the fat-input
      // respread — now auto-size INSIDE the operators from the edge
      // count each run already takes ([[graft.ops.GraphMemory]]),
      // applied-and-restored around each iteration. This verb now
      // MEASURES that path: the 100× tier runs on whatever conf the
      // session launched with, and the default 8 GB heap must survive
      // where r18's unsized run died with UNABLE_TO_ACQUIRE_MEMORY.
      graphRounds(probe, Seq(("10x", copies(10)), ("100x", copies(100))))
    } finally graft.Checkpoints.free(base)
  }

  /** The CONNECTED-COMPONENTS decade (VERDICT r19 #8 — the graphscale
    * treatment for [[graft.llm.Dedup.clusterPairs]]): min-label
    * pointer doubling over a deterministic path-block graph (64-node
    * chains — diameter 64, so the doubling loop converges in the same
    * ~7 rounds at every tier; the decade changes ONLY the edge grain)
    * at 1× (500k pairs) and 10× (5M pairs). The 10× tier's DOUBLED
    * edge list (~9.8M rows) crosses the [[graft.ops.GraphMemory]]
    * trigger, so this verb also measures the new `sizedFrom` levers
    * end-to-end: rounds on edge-proportional partitions, conf restored
    * after. Claims: per-round shuffle is edge-linear (total shuffle
    * ~10×/decade at equal round count), max task peak memory stays
    * flat (the levers hold rows/task ~constant), and results are the
    * exact block structure (rows = one cluster per 64-node chain).
    */
  private def ccScale10(spark: SparkSession,
                        probe: Probe): Unit = {
    // chains of 64 consecutive ids: every id links its successor except
    // the last of each block — n input rows minus the block boundaries
    def pairs(n: Long) = spark.range(n)
      .filter(col("id") % 64 =!= 63)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    // untimed warm round: the loop's codegen classes compile once
    val warm = graft.llm.Dedup.clusterPairs(pairs(10000L))
    warm.count()
    graft.Checkpoints.free(warm)
    for ((tier, n) <- Seq(("1x", 500000L), ("10x", 5000000L))) {
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      probe.timedWith("ccscale" -> "cc_pointer_doubling", "tier" -> tier) {
        val c = graft.llm.Dedup.clusterPairs(pairs(n))
        val k = c.select("cluster_id").distinct().count()
        graft.Checkpoints.free(c)
        k
      }(rows)
      require(spark.conf.get("spark.sql.shuffle.partitions") == before,
        "ccscale10: the sizing levers must not outlive the CC call")
    }
  }

  /** The dedup/ANN decade (VERDICT r18 #6 — the graphscale100
    * treatment for the OTHER two flagships): [[graft.llm.Dedup
    * .nearDedupComplete]] and the persisted coded IVF-PQ search at the
    * scaled corpus (100k docs / 100k vectors) vs 10× of it (~1M — ten
    * substitution-cipher / shifted copies, the generate() construction
    * continued, so copies share almost no shingles and vectors stay
    * distinct). Claims measured per tier:
    *  - dedup shuffle tracks CANDIDATES, not docs² — candidate pairs
    *    (the positional-filtered verify input) are counted per tier
    *    next to the shuffle bytes, so the decade ratio is attributable:
    *    docs² grows 100×, candidates and shuffle must not;
    *  - coded ANN search reads scale with the PROBED CELLS, not the
    *    corpus (input_bytes per tier on the cell-bucketed index);
    *  - peak task memory stays partition-bounded at both tiers (the
    *    graphscale100 memory column).
    */
  private def dedupScale10(spark: SparkSession, outDir: String,
                           probe: Probe): Unit = {
    import graft.llm.{Dedup, Similarity}
    // ---- near-dedup-complete decade (threshold 0.8 — the compliance
    // screen regime; candidates counted per tier for the attribution).
    // The tier cipher uses an alphabet DISJOINT from generate()'s
    // "etaoinsrhl": the scaled corpus is already rotation-ciphered, and
    // rotations over the SAME alphabet compose cyclically — tier copy i
    // of generate copy j would collapse to net rotation (i+j) mod 10,
    // minting ~20-deep EXACT-duplicate classes whose pair counts grow
    // quadratically (measured: 108× candidates for 10× docs — a fixture
    // artifact, not an operator property). Disjoint alphabets compose
    // independently (10×10 distinct combined ciphers), so the 10× tier
    // keeps the 1× tier's duplication depth.
    val docs1 = SparkEntry.table(spark, outDir, "documents")
      .select(col("doc_id"), col("text"))
    val alpha2 = "dcumfpgwyb"
    def docTier(n: Int): DataFrame =
      (0 until n).map { i =>
        val rot = alpha2.drop(i % alpha2.length) + alpha2.take(i % alpha2.length)
        docs1.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000000L))
          .withColumn("text", translate(col("text"), alpha2, rot))
      }.reduce(_ unionByName _)
    for ((tier, d) <- Seq(("1x", docTier(1)), ("10x", docTier(10)))) {
      val dd = d.localCheckpoint()
      try {
        val nDocs = dd.count()
        // candidate pairs entering verify — the quantity shuffle must
        // track (computed untimed, outside the measured block)
        val sets = Dedup.jaccardSets(dd, "doc_id", "text")
          .localCheckpoint(false)
        val pref = Dedup.jaccardPrefixes(sets, 0.8)
        val pa = pref.select(col("__id").as("id_a"), col("__n").as("__na"),
          posexplode(col("__prefix")).as(Seq("__pa", "__h")))
        val pb = pref.select(col("__id").as("id_b"), col("__n").as("__nb"),
          posexplode(col("__prefix")).as(Seq("__pb", "__h")))
        val nCand = Dedup.candidatePairsPositional(pa, pb, 0.8,
          col("id_a") < col("id_b")).count()
        graft.Checkpoints.free(sets)
        probe.timedWith("dedupscale" -> "near_dedup_complete", "tier" -> tier,
            "n_docs" -> nDocs, "cand_pairs" -> nCand) {
          Dedup.nearDedupComplete(dd, "doc_id", "text", threshold = 0.8)
            .count()
        }(rows)
      } finally graft.Checkpoints.free(dd)
    }
    // ---- coded IVF-PQ search decade (the denseSplit serving shape at
    // 10×: build+persist per tier untimed, search measured — reads must
    // track probed cells, not corpus size)
    val emb1 = SparkEntry.table(spark, outDir, "embeddings")
    def embTier(n: Int): DataFrame =
      (0 until n).map { i =>
        emb1.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000000L))
          .withColumn("embedding",
            transform(col("embedding"), x => x + lit(i.toFloat * 0.0001f)))
      }.reduce(_ unionByName _)
    val qVecs = emb1.filter(col("vec_id") >= 208 && col("vec_id") < 408)
      .orderBy("vec_id").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    // three arms: both tiers at the FIXED 8-cell codebook (reads grow
    // with the corpus at a constant nprobe/nlist fraction — the honest
    // reading of "reads track probed cells"), plus the 10× tier at a
    // √N-scaled codebook (the documented auto-nlist rule): same probe
    // count, ~√10-smaller cell fraction, so reads must FALL relative
    // to the fixed-nlist 10× arm even though the corpus is identical.
    for ((tier, n, nlist) <- Seq(("1x", 1, 8), ("10x", 10, 8),
        ("10x_nlist25", 10, 25))) {
      val e = embTier(n).localCheckpoint()
      try {
        val nVecs = e.count()
        val coarse = graft.queries.QueriesLLM.firstKCodebook(emb1, nlist)
        val m = 4; val sub = coarse.head.length / m
        val pqCb = Array.tabulate(m, coarse.length)((j, i) =>
          coarse(i).slice(j * sub, (j + 1) * sub))
        val ranking = Similarity.probeRanking(coarse)
        val table = s"ivfpq_idx10_$tier"
        graft.etd.Sources.writeBucketed(
          Similarity.buildIvfPqIndex(e, "vec_id", "embedding", coarse, pqCb),
          table, s"$outDir/__ivfpq10_$tier", buckets = 32,
          bucketCols = Seq("cell"), sortCols = Seq("cell"))
        val idx = spark.table(table)
        // warm once (codegen), measure the second search
        noop(Similarity.ivfPqTopKCoded(idx, "id", "codes", "cell",
          q => ranking(q).take(2), pqCb, qVecs, k = 5))
        probe.timedWith("dedupscale" -> "ivfpq_coded_search", "tier" -> tier,
            "n_vecs" -> nVecs, "nlist" -> nlist, "n_queries" -> qVecs.size) {
          Similarity.ivfPqTopKCoded(idx, "id", "codes", "cell",
              q => ranking(q).take(2), pqCb, qVecs, k = 5)
            .count()
        }(rows)
        // NARROW batch: 200 queries sharing one vector → the whole
        // batch probes 2 of nlist cells, so the r19 scan-level prune
        // must cut input_bytes to ~2/nlist of the wide batch's (a wide
        // batch legitimately touches every cell — reads tracking
        // probed cells is only OBSERVABLE on a narrow one)
        val qNarrow = qVecs.take(1).flatMap { case (_, v) =>
          (0 until 200).map(i => (900000L + i, v)) }
        probe.timedWith("dedupscale" -> "ivfpq_coded_search_narrow",
            "tier" -> tier, "n_vecs" -> nVecs, "nlist" -> nlist,
            "n_queries" -> qNarrow.size) {
          Similarity.ivfPqTopKCoded(idx, "id", "codes", "cell",
              q => ranking(q).take(2), pqCb, qNarrow, k = 5)
            .count()
        }(rows)
        spark.sql(s"DROP TABLE IF EXISTS $table")
      } finally graft.Checkpoints.free(e)
    }
  }

  /** The RETRIEVAL decade (the graphscale100/dedupscale10 treatment
    * for the lexical serving flagship): BM25 postings build+persist
    * and the pruned term-bucketed search at the scaled corpus (100k
    * docs) vs 10× of it (~1M), with the 10× tier in TWO constructions
    * that separate the two growth laws a serving deployment cares
    * about:
    *  - `10x_dense`: plain id-offset copies (same texts) — the
    *    vocabulary stays fixed and every query term's posting list
    *    grows 10×, so pruned-search reads must grow ~linearly WITH
    *    the matched posting mass;
    *  - `10x_disjoint`: rotation-ciphered copies over the
    *    dedupscale10 alphabet — the corpus grows 10× but the query
    *    terms' posting lists DON'T, so pruned-search reads must stay
    *    ~flat even though the index is 10× larger. Reads tracking
    *    matched postings (not corpus size) is only observable here.
    * The build row claims postings-linear shuffle: total postings grow
    * ~10× per 10× docs in BOTH constructions, and peak task memory
    * stays partition-bounded.
    */
  private def retrievalScale10(spark: SparkSession, outDir: String,
                               probe: Probe): Unit = {
    import graft.llm.Retrieval
    val docs1 = SparkEntry.table(spark, outDir, "documents")
      .select(col("doc_id"), col("text"))
    // FULL-alphabet Caesar rotation: every letter of every term moves,
    // so a tier copy shares no tokens with any other copy. The first
    // cut rotated only dedupScale10's 10-letter alphabet and leaked —
    // terms containing none of those letters (most high-frequency
    // words) stayed tier-invariant and their postings grew 10× inside
    // the "disjoint" arm (r19 review; the leak showed as 16.4 MB of
    // disjoint search shuffle vs 5.97 at 1×).
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def tierDocs(n: Int, cipher: Boolean): DataFrame =
      (0 until n).map { i =>
        val base = docs1.withColumn("doc_id",
          col("doc_id") + lit(i.toLong * 1000000000L))
        if (cipher && i > 0) {
          val rot = alpha.drop(i % alpha.length) + alpha.take(i % alpha.length)
          base.withColumn("text", translate(col("text"), alpha, rot))
        } else base
      }.reduce(_ unionByName _)
    for ((tier, n, cipher) <- Seq(("1x", 1, false), ("10x_dense", 10, false),
        ("10x_disjoint", 10, true))) {
      val d = tierDocs(n, cipher).localCheckpoint()
      val table = s"bm25_idx10_$tier"
      var statsC: DataFrame = null
      var q: DataFrame = null
      try {
        val nDocs = d.count()
        // stats is its own corpus pass (avgdl + N) — materialized
        // untimed so the build row measures the postings pass alone
        val (post, stats) = Retrieval.buildPostings(d, "doc_id", "text")
        statsC = stats.localCheckpoint()
        probe.timedWith("retrievalscale" -> "bm25_build_persist",
            "tier" -> tier, "n_docs" -> nDocs) {
          graft.etd.Sources.writeBucketed(post, table,
            s"$outDir/__bm2510_$tier", buckets = 32,
            bucketCols = Seq("term"), sortCols = Seq("term"))
          spark.table(table).count()
        }(rows)
        val idx = spark.table(table)
        // the 3-doc query frame is materialized TINY before timing —
        // left lazy it re-scans the whole checkpointed corpus per
        // search, and that read (751 MB at 10×) buries the index read
        // the row exists to measure
        q = d.filter(col("doc_id") < 3).localCheckpoint()
        // warm once (codegen + driver term collect), measure the second
        noop(Retrieval.searchPostingsPruned(idx, statsC, q, "doc_id", "text",
          k = 5))
        probe.timedWith("retrievalscale" -> "bm25_pruned_search",
            "tier" -> tier, "n_docs" -> nDocs) {
          Retrieval.searchPostingsPruned(idx, statsC, q, "doc_id", "text",
            k = 5).count()
        }(rows)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        graft.Checkpoints.free(d)
        if (statsC != null) graft.Checkpoints.free(statsC)
        if (q != null) graft.Checkpoints.free(q)
      }
    }
  }

  /** The STREAMING state-law decade: the maintainers' scale posture is
    * argued as "state is bounded by the watermark horizon, not the
    * stream" — this verb MEASURES it on real streaming queries
    * (file-source micro-batches, noop sink, state read from
    * `StreamingQueryProgress.stateOperators`). Two stateful shapes:
    *  - `dedup_horizon`: [[graft.streaming.StreamingDedup.dedupStream]]
    *    over an all-distinct constant-rate stream — max state rows must
    *    PLATEAU at ~horizon × rate: flat on a 10×-LONGER stream
    *    (`10x_long`), ~10× on a 10×-FASTER one (`10x_rate`);
    *  - `sessions_horizon`: [[graft.streaming.StreamingSessions
    *    .sessionStats]] with all-distinct users (each event its own
    *    session) — same law for the session-window store.
    * `final_state_rows` additionally pins that eviction really runs
    * (the end-of-stream store holds the tail horizon, not history).
    */
  private def streamScale10(spark: SparkSession, probe: Probe): Unit = {
    // a 10× arm runs ~100 micro-batches; keep every progress event so
    // max-over-progress sees the whole run — applied once for the verb
    // and RESTORED after (a leaked session conf would follow every
    // later verb's streaming queries)
    val progKey = "spark.sql.streaming.numRecentProgressUpdates"
    val progPrev = spark.conf.getOption(progKey)
    spark.conf.set(progKey, "256")
    try streamScale10Arms(spark, probe)
    finally progPrev.fold(spark.conf.unset(progKey))(spark.conf.set(progKey, _))
  }

  private def streamScale10Arms(spark: SparkSession, probe: Probe): Unit = {
    // `n` rows of `slice(range)` as time-ordered slices, one file each ->
    // one micro-batch each (the watermark advances between batches, so
    // eviction is LIVE during the run, not a post-hoc property), streamed
    // through `mk` into the noop sink. The INGEST CHUNK is constant (10k
    // rows/micro-batch) across arms — sliced by row count alone, a
    // 10×-longer stream rode in 10×-bigger batches and max_state measured
    // the chunk, not the store law (first run: 112k "max state" that was
    // 100k of batch + 12k of horizon)
    def arm(fields: (String, Any)*)(n: Long, slice: DataFrame => DataFrame)
           (mk: DataFrame => DataFrame): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_streamscale_").toString
      try {
        val src = s"$tmp/in"
        val slices = math.max(10L, n / 10000L).toInt
        val per = n / slices
        (0 until slices).foreach { s =>
          slice(spark.range(s * per, (s + 1) * per).toDF())
            .coalesce(1).write.mode("append").parquet(src)
        }
        val stream = spark.readStream
          .schema(spark.read.parquet(src).schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
        probe.timedWith(fields: _*) {
          val q = mk(stream).writeStream.format("noop")
            .option("checkpointLocation", s"$tmp/ck").start()
          try q.processAllAvailable() finally q.stop()
          q.recentProgress.toSeq
        } { progs =>
          val states = progs.flatMap(_.stateOperators.toSeq)
          Seq("max_state_rows" -> states.map(_.numRowsTotal).maxOption.getOrElse(0L),
            "max_state_mem" -> states.map(_.memoryUsedBytes).maxOption.getOrElse(0L),
            "final_state_rows" -> progs.reverse.find(_.stateOperators.nonEmpty)
              .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
        }
      } finally graft.queries.StreamHarness.deleteTempDir(tmp)
    }
    def runArm(label: String, tier: String, nRows: Long, rowsPerSec: Long)
              (mk: DataFrame => DataFrame): Unit =
      arm("streamscale" -> label, "tier" -> tier, "rows" -> nRows,
          "rows_per_sec" -> rowsPerSec)(nRows, _.select(col("id"),
        // exact integer µs: rowsPerSec divides 1e6 by contract
        timestamp_micros(col("id") * lit(1000000L / rowsPerSec)).as("ts")))(mk)
    // exact dedup: every text distinct, 60 s horizon -> plateau at
    // ~horizon x rate however long the stream runs
    def dedupQ(df: DataFrame): DataFrame =
      graft.streaming.StreamingDedup.dedupStream(
        df.select(col("id"),
          concat(lit("doc "), col("id")).as("text"), col("ts")),
        "text", "ts", lateness = "60 seconds")
    runArm("dedup_horizon", "1x", 100000L, 100L)(dedupQ)
    runArm("dedup_horizon", "10x_long", 1000000L, 100L)(dedupQ)
    runArm("dedup_horizon", "10x_rate", 1000000L, 1000L)(dedupQ)
    // session windows: all-distinct users, 60 s gap + 10 s lateness ->
    // open-session store plateaus at ~(gap + lateness) x rate
    def sessQ(df: DataFrame): DataFrame =
      graft.streaming.StreamingSessions.sessionStats(
        df.select(col("id").as("user_id"), col("ts"),
          lit(1.0).as("value")),
        gap = "60 seconds", lateness = "10 seconds")
    runArm("sessions_horizon", "1x", 100000L, 100L)(sessQ)
    runArm("sessions_horizon", "10x_long", 1000000L, 100L)(sessQ)
    // ---- custom-state machines (VERDICT r19 #7): the r19 arms covered
    // the BUILT-IN state stores (dropDuplicatesWithinWatermark,
    // session_window); these cover the flatMapGroupsWithState machines
    // (StreamingImpute's gap cascade, GapDetection's LastSeen). Their
    // per-key state is ONE bounded record, so total state follows the
    // HOUSE-COUNT horizon and stream LENGTH drops out entirely — a
    // stronger law than the dedup/session horizon×rate plateau: 10×
    // more slots per house must leave max_state_rows flat at ~houses,
    // and 10× more houses must grow it exactly 10×.
    def stateArm(label: String, tier: String, houses: Long,
                 slotsPerHouse: Long)(mk: DataFrame => DataFrame): Unit =
      arm("streamscale" -> label, "tier" -> tier,
          "rows" -> houses * slotsPerHouse, "houses" -> houses,
          "slots_per_house" -> slotsPerHouse)(houses * slotsPerHouse,
        // row id → (house = id % houses, slot = id / houses), so every
        // batch advances ALL houses one-ish slot — the fleet shape. Every
        // 7th slot is dark (null cum), keeping open-gap state live across
        // batches, and closing next slot. The slot is cast to long: column
        // `/` divides in double, and a double tsSec cannot up-cast to the
        // readings' Long field
        _.withColumn("slot", (col("id") / houses).cast("long"))
          .select((col("id") % houses).as("huis"),
            (col("slot") * 300L).as("tsSec"),
            when(col("slot") % 7 === 3, lit(null))
              .otherwise(col("slot").cast("double") * 1.5).as("cum"),
            lit(null).cast("double").as("avg"),
            col("id").cast("double").as("value")))(mk)
    import spark.implicits._
    def imputeQ(df: DataFrame): DataFrame =
      graft.streaming.StreamingImpute.imputeStreamScaled(
        df.select("huis", "tsSec", "cum", "avg")
          .as[graft.streaming.StreamingImpute.CumReadingAvg]).toDF()
    stateArm("impute_horizon", "1x", 10000L, 10L)(imputeQ)
    stateArm("impute_horizon", "10x_long", 10000L, 100L)(imputeQ)
    stateArm("impute_horizon", "10x_houses", 100000L, 10L)(imputeQ)
    def gapQ(df: DataFrame): DataFrame =
      graft.streaming.GapDetection.detectGaps(
        df.select("huis", "tsSec", "value")
          // drop every 7th slot so each house emits real gap records
          .filter((col("tsSec") / 300L) % 7 =!= 3)
          .as[graft.streaming.GapDetection.Reading]).toDF()
    stateArm("gap_horizon", "1x", 10000L, 10L)(gapQ)
    stateArm("gap_horizon", "10x_long", 10000L, 100L)(gapQ)
    stateArm("gap_horizon", "10x_houses", 100000L, 10L)(gapQ)
  }

  /** r17 s3 retrieval-serving + asymmetric-dedup shapes at the 20x
    * corpus (100k docs). Claims measured, not argued:
    * (a) phrase search over a term-bucketed PERSISTED positional index
    *     reads only its terms' rows (`input_bytes` vs the full-index
    *     scan of the inline form, which must re-tokenize the corpus);
    * (b) the exact containment join's asymmetric candidate generation
    *     (contained-side prefix × full container index) completes at
    *     100k docs without an all-pairs blowup — pair count, shuffle
    *     bytes, and peak task memory reported;
    * (c) tf-idf cosine serving from the postings build scores only
    *     query-term postings (wall ≈ the BM25 serving shape, not the
    *     corpus).
    */
  private def servingScale(spark: SparkSession, outDir: String,
                           probe: Probe): Unit = {
    import graft.llm.{Dedup, Retrieval}
    val docs = SparkEntry.table(spark, outDir, "documents")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val phrase = Seq("table", "value")
    val idxPath = s"$outDir/__posidx"
    def idx = spark.table("graft_posidx")
    for ((label, count) <- Seq[(String, () => Long)](
        "positional_index_build" -> { () =>
          val post = Retrieval.positionalPostings(docs, "doc_id", "text")
          graft.etd.Sources.writeBucketed(post, "graft_posidx", idxPath, 32,
            Seq("term"), Seq("term"))
          idx.count()
        },
        "phrase_indexed" -> (() => Retrieval.phraseMatches(idx, phrase).count()),
        "phrase_inline" -> (() => Retrieval.phraseMatches(
          Retrieval.positionalPostings(docs, "doc_id", "text"), phrase).count()),
        "proximity_indexed" -> (() =>
          Retrieval.proximityPairs(idx, "table", "value", 3).count()),
        "containment_join_t08" -> (() =>
          Dedup.containmentJoin(docs, "doc_id", "text", 0.8).count()),
        "containment_dedup_t08" -> (() =>
          Dedup.containmentDedup(docs, "doc_id", "text", 0.8).count()),
        "tfidf_cosine_3q" -> (() => Retrieval.tfidfCosineTopK(docs, "doc_id",
          "text", docs.filter(col("doc_id") < 3), "doc_id", "text", 5).count())))
      probe.timedWith("serving" -> label, "docs" -> nDocs)(count())(rows)
  }

  /** Crawl/curation gate shapes at the 20x corpus (r17). Claims:
    * (a) [[graft.llm.Curation.blocklistGate]]'s cost tracks MATCHES,
    * not term-list size — a 50k-term list (overwhelmingly non-matching,
    * the UT1 regime) costs ≈ the 3-term list, which is the whole point
    * of the join shape over a regex alternation; (b) robots parsing at
    * 10k-host cardinality is one narrow explode pass, and
    * [[graft.llm.Robots.robotsAllowed]] over the corpus keeps the URL
    * side shuffle-free (rules broadcast — watch shuffle_write_bytes
    * stay rule-table-sized, not corpus-sized).
    */
  private def gateScale(spark: SparkSession, outDir: String,
                        probe: Probe): Unit = {
    import spark.implicits._
    import graft.llm.{Curation, Robots}
    val docs = SparkEntry.table(spark, outDir, "documents")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val small = Seq("slow", "dup", "big").toDF("term")
    val large = spark.range(50000)
      .select(concat(lit("blk_"), col("id")).as("term"))
      .unionByName(small)
    for ((label, terms, nTerms) <- Seq(("blocklist_3_terms", small, 3),
        ("blocklist_50k_terms", large, 50003)))
      probe.timedWith("gate" -> label, "docs" -> nDocs, "terms" -> nTerms) {
        Curation.blocklistGate(docs, "doc_id", "text", terms, "term").count()
      }(rows)
    // 10k hosts, each with a realistic 4-rule robots body; URLs at
    // corpus grain spread over those hosts
    val bodies = spark.range(10000).select(
      concat(lit("h"), col("id"), lit(".example.com")).as("host"),
      lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n" +
        "Disallow: /tmp$\nDisallow: /star/*/x$").as("txt"))
    val rules = probe.timedWith("gate" -> "robots_parse_10k_hosts",
        "docs" -> nDocs, "hosts" -> 10000) {
      val r = Robots.parseRobots(bodies, "host", "txt").localCheckpoint()
      (r, r.count())
    }(r => rows(r._2))._1
    try {
      val paths = array(lit("/private/file"), lit("/private/ok/file"),
        lit("/tmp"), lit("/tmpextra"), lit("/star/deep/x"), lit("/p/1page"),
        lit("/p/12page"), lit("/other"))
      val urls = docs.select(col("doc_id"), concat(lit("http://h"),
        col("doc_id") % 10000, lit(".example.com"),
        element_at(paths, (col("doc_id") % 8 + 1).cast("int"))).as("url"))
      probe.timedWith("gate" -> "robots_decide_corpus", "docs" -> nDocs,
          "hosts" -> 10000) {
        Robots.robotsAllowed(urls, rules, "graftbot", "doc_id")
          .filter(col("allowed")).count()
      }(rows)
      // the full scheduler batch at corpus grain: dedup + anti join an
      // already-seen half + gate + authority + continuing slots. The
      // slot window keys on host (10k hosts ≈ 10 allowed URLs each);
      // a frontier is politeness-BOUNDED per host by design, so the
      // window partition never degenerates to one giant task.
      val auth = spark.range(10000).select(
        concat(lit("h"), col("id"), lit(".example.com")).as("host"),
        (col("id") % 100 / 100.0).as("host_rank"))
      val half = docs.filter(col("doc_id") % 2 === 0)
        .select(md5(concat(lit("http://h"), col("doc_id") % 10000,
          lit(".example.com"), element_at(paths,
            (col("doc_id") % 8 + 1).cast("int")))).as("url_hash"),
          concat(lit("h"), col("doc_id") % 10000,
            lit(".example.com")).as("host"))
        .localCheckpoint()
      try {
        probe.timedWith("gate" -> "frontier_batch_corpus", "docs" -> nDocs,
            "hosts" -> 10000) {
          graft.streaming.StreamingFrontier.frontierBatch(
            urls, "doc_id", "url", rules, "graftbot", auth, half)
            ._1.count()
        }(rows)
      } finally graft.Checkpoints.free(half)
    } finally graft.Checkpoints.free(rules)
  }

  /** Serving-log compaction at stream scale (r15 serving-forms
    * follow-on): both serving maintainers append one `batch_id=<N>`
    * partition per micro-batch, so a long-running stream's log holds
    * O(batches × write tasks) parquet files — after enough batches the
    * FILE COUNT, not the data, is what the per-search scan pays.
    * [[graft.streaming.StreamingRetrieval.compactIndex]] and
    * [[graft.streaming.StreamingSimilarity.compactIndex]] fold each
    * log into one probe-clustered `batch_id = -1` generation. Claims
    * measured on a 48-batch log over the scaled corpus: (a) file count
    * collapses to O(shuffle partitions with data); (b) search results
    * are IDENTICAL through the fold (require'd, both engines); (c) the
    * post-fold search does not regress — the probe column (term /
    * cell) lands row-group contiguous, so the serving read prunes
    * instead of opening every batch's files; (d) — r16 — the same
    * stream with `autoCompactEvery` set keeps its file count bounded
    * with NO manual compact call, results still identical (the
    * VERDICT r15 #6 acceptance).
    */
  private def serveLog(spark: SparkSession, outDir: String,
                       probe: Probe): Unit = {
    import graft.llm.{Retrieval, Similarity}
    import graft.streaming.{StreamingRetrieval, StreamingSimilarity}
    val tmp = java.nio.file.Files.createTempDirectory("servelog")
    val nBatches = 48
    try {
      // ---- lexical log: 48 micro-batch appends of the 100k-doc corpus
      val docs = SparkEntry.table(spark, outDir, "documents")
        .select(col("doc_id"), col("text"))
      val staged = s"$tmp/staged_docs"
      docs.withColumn("b", pmod(col("doc_id"), lit(nBatches)))
        .write.partitionBy("b").mode("overwrite").parquet(staged)
      val bmDir = s"$tmp/bm25"
      probe.timed("servelog" -> "bm25_append_48", "batches" -> nBatches) {
        for (b <- 0 until nBatches)
          StreamingRetrieval.appendBatch(bmDir, "doc_id", "text")(
            spark.read.parquet(staged).filter(col("b") === b).drop("b"),
            b.toLong)
      }
      val queries = docs.filter(col("doc_id") < 8)
      def bmSearch(): Seq[org.apache.spark.sql.Row] = {
        val (p, t, s) = StreamingRetrieval.loadIndex(spark, bmDir)
        Retrieval.searchPostingsNorm(p, t, s, queries, "doc_id", "text",
          k = 10).orderBy("query_id", "rank").collect().toSeq
      }
      val bmPre = probe.timed("servelog" -> "bm25_search_precompact",
        "log_files" -> parquetFiles(bmDir))(bmSearch())
      probe.timed("servelog" -> "bm25_compact")(
        StreamingRetrieval.compactIndex(spark, bmDir))
      val bmPost = probe.timed("servelog" -> "bm25_search_postcompact",
        "log_files" -> parquetFiles(bmDir))(bmSearch())
      require(bmPre == bmPost, "bm25 fold changed search results")

      // ---- coded ANN log: same arrival pattern over the embeddings
      val emb = SparkEntry.table(spark, outDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val coarse = graft.queries.QueriesLLM.firstKCodebook(emb)
      val dim = coarse.head.length
      val m = 4
      val sub = dim / m
      val pqCb = Array.tabulate(m, coarse.length)((j, i) =>
        coarse(i).slice(j * sub, (j + 1) * sub))
      val stagedE = s"$tmp/staged_emb"
      emb.withColumn("b", pmod(col("vec_id"), lit(nBatches)))
        .write.partitionBy("b").mode("overwrite").parquet(stagedE)
      val annDir = s"$tmp/ann"
      probe.timed("servelog" -> "ann_append_48", "batches" -> nBatches) {
        for (b <- 0 until nBatches)
          StreamingSimilarity.appendBatch(annDir, "vec_id", "embedding",
            coarse, pqCb)(
            spark.read.parquet(stagedE).filter(col("b") === b).drop("b"),
            b.toLong)
      }
      val ranking = Similarity.probeRanking(coarse)
      val qVecs = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
      def annSearch(): Seq[org.apache.spark.sql.Row] =
        Similarity.ivfPqTopKCoded(
          StreamingSimilarity.loadIndex(spark, annDir), "id", "codes",
          "cell", q => ranking(q).take(2), pqCb, qVecs, k = 10)
          .orderBy("query_id", "rank").collect().toSeq
      val annPre = probe.timed("servelog" -> "ann_search_precompact",
        "log_files" -> parquetFiles(s"$annDir/coded"))(annSearch())
      probe.timed("servelog" -> "ann_compact")(
        StreamingSimilarity.compactIndex(spark, annDir))
      val annPost = probe.timed("servelog" -> "ann_search_postcompact",
        "log_files" -> parquetFiles(s"$annDir/coded"))(annSearch())
      require(annPre == annPost, "ann fold changed search results")

      // ---- auto-fold (r16): the same 48-batch lexical stream with the
      // in-band trigger and NO manual compact call — the file count must
      // stay bounded by the trigger window, results identical
      val bmAutoDir = s"$tmp/bm25_auto"
      probe.timed("servelog" -> "bm25_append_48_autofold",
          "batches" -> nBatches) {
        for (b <- 0 until nBatches)
          StreamingRetrieval.appendBatch(bmAutoDir, "doc_id", "text",
            autoCompactEvery = 12)(
            spark.read.parquet(staged).filter(col("b") === b).drop("b"),
            b.toLong)
      }
      val bmAuto = probe.timed("servelog" -> "bm25_search_autofold",
          "log_files" -> parquetFiles(bmAutoDir)) {
        val (p, t, s) = StreamingRetrieval.loadIndex(spark, bmAutoDir)
        Retrieval.searchPostingsNorm(p, t, s, queries, "doc_id", "text",
          k = 10).orderBy("query_id", "rank").collect().toSeq
      }
      require(bmAuto == bmPost, "auto-fold changed search results")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  /** Streaming crawl intake at archive scale (r15 task 1): per-batch
    * wall vs that batch's archive bytes through
    * [[graft.streaming.StreamingCrawl.ingestPaths]] — the path-based
    * form whose per-record walk never holds a segment in memory. The
    * scaled corpus is rendered once into `.warc` segment files, split
    * into three arrivals: batch 1 = ¼ of segments, batch 2 = the SAME
    * content re-crawled under new URIs (the monthly-crawl case — every
    * doc must drop on the digest screen), batch 3 = the remaining ¾.
    * Claims measured: (a) per-batch wall tracks the BATCH's bytes, not
    * the accumulated archive (batch 3 ≈ 3× batch 1's work on a warm
    * query, against a 2×-grown index); (b) the
    * all-duplicate batch costs parse + screen only — its wall stays in
    * batch-1's range while accepting 0 docs, i.e. the index screen is
    * digest-only and never re-reads archive payloads.
    */
  private def crawlStream(spark: SparkSession, outDir: String,
                          probe: Probe): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingCrawl
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("crawlstream")
    val crlf = "\r\n"
    val texts = SparkEntry.table(spark, outDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val nFiles = 16
    // segment f holds docs ≡ f (mod nFiles); `crawl` distinguishes the
    // re-crawl's URIs (same BODY bytes → same digest → screened out)
    def writeSeg(f: Int, crawl: Int): (String, Long) = {
      val path = s"$tmp/crawl$crawl-seg$f.warc"
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(path))
      var bytes = 0L
      texts.filter { case (id, _) => id % nFiles == f }
        .foreach { case (id, t) =>
          val body = s"<html><head><script>var x=1;</script></head>" +
            s"<body><h1>doc $id</h1><p>$t</p></body></html>"
          val http = (s"HTTP/1.1 200 OK${crlf}Content-Type: text/html" +
            s"$crlf$crlf$body").getBytes("UTF-8")
          val head = (Seq("WARC/1.0", "WARC-Type: response",
            s"WARC-Target-URI: http://example.com/c$crawl/$id",
            "WARC-Date: 2024-01-02T03:04:05Z",
            s"Content-Length: ${http.length}", "", "").mkString(crlf))
            .getBytes("UTF-8")
          out.write(head); out.write(http)
          out.write((crlf + crlf).getBytes("UTF-8"))
          bytes += head.length + http.length + 4
        }
      out.close()
      (path, bytes)
    }
    val quarter = (0 until nFiles / 4).map(writeSeg(_, 1))
    val recrawl = (0 until nFiles / 4).map(writeSeg(_, 2))
    val rest = (nFiles / 4 until nFiles).map(writeSeg(_, 3))

    // same three arrivals through BOTH index stores: DirIndex (the
    // while-it-broadcasts form) and BucketedIndex (the past-broadcast
    // form whose anti join reads the index side in place)
    def runStore(tag: String, sink: String, ckpt: String,
                 store: StreamingCrawl.IndexStore): Unit = {
      val input = MemoryStream[String]
      val query = StreamingCrawl.ingestPaths(
        input.toDF().toDF("path"), "path", sink, store, ckpt,
        prepare = df => df.withColumn("id",
            regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long"))
          .select("id", "html"),
        idCol = "id")
      try {
        var accepted0 = 0L
        for ((label, segs) <- Seq(("quarter", quarter),
          ("recrawl_all_dup", recrawl), ("threequarters", rest))) {
          probe.timedWith("crawlstream" -> s"$label$tag",
              "batch_mb" -> segs.map(_._2).sum / 1e6) {
            input.addData(segs.map(_._1))
            query.processAllAvailable()
          } { _ =>
            val total = spark.read.parquet(sink).count()
            val batchAccepted = total - accepted0
            accepted0 = total
            Seq("accepted" -> batchAccepted)
          }
        }
      } finally query.stop()
    }
    try {
      runStore("", s"$tmp/sink", s"$tmp/ckpt",
        StreamingCrawl.DirIndex(s"$tmp/index"))
      val store = StreamingCrawl.BucketedIndex("crawlstream_scale_idx",
        s"$tmp/index_b", buckets = 8)
      runStore("_bucketed", s"$tmp/sink_b", s"$tmp/ckpt_b", store)
      // out-of-band compaction (stream stopped): the per-batch bucket
      // file sets fold to one file per bucket; the screen's row set is
      // unchanged (count asserted) and the read loses only file count
      val rowsBefore = spark.table(store.table).count()
      probe.timedWith("crawlstream" -> "compact", "rows" -> rowsBefore,
        "files_before" -> parquetFiles(store.path))(store.compact(spark))(
        _ => Seq("files_after" -> parquetFiles(store.path)))
      require(spark.table(store.table).count() == rowsBefore,
        "compaction changed the digest row count")
    } finally {
      spark.sql("DROP TABLE IF EXISTS crawlstream_scale_idx")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  /** The mergeable quantile sketch at corpus scale (r11 task 7):
    * token-length quantiles over the 20× documents corpus three ways —
    * Spark's EXACT `percentile` (sort-based, one reducer buffers every
    * value: the RAM wall), the bottom-k value sample
    * (`quantile_kmv`, k = 4096: O(k) state, map-side combine), and the
    * sketch built as 16 per-snapshot summaries FOLDED on the driver
    * ([[graft.llm.Kmv.vunion]] — the archive-free snapshot story).
    * Claims measured: the sketch's wall beats exact and stays flat in
    * k; fold(16 parts) is BIT-IDENTICAL to the one-shot summary
    * (bottom-k of a union == bottom-k of merged bottom-ks); CDF error
    * of the saturated sketch ≤ the ~1/sqrt(k) band.
    */
  private def quantileSketchScale(spark: SparkSession, outDir: String,
                                  probe: Probe): Unit = {
    import graft.llm.{Kmv, TextFunctions}
    import org.apache.spark.sql.graft.KmvExpressions
    val vals = SparkEntry.table(spark, outDir, "documents")
      .select(TextFunctions.hash64(col("doc_id").cast("string")).as("h"),
        size(TextFunctions.tokens(col("text"))).cast("double").as("v"))
    val n = vals.count()
    val k = 4096
    val exact = probe.timed("qsketch" -> "exact_percentile", "n" -> n) {
      vals.agg(expr("percentile(v, array(0.5, 0.9, 0.99))")).head()
        .getSeq[Double](0)
    }
    def toSummary(rows: Array[org.apache.spark.sql.Row]): Kmv.VSummary = {
      val es = rows.map(r => (r.getLong(0), r.getDouble(1)))
      Kmv.VSummary(k, es.map(_._1), es.map(_._2))
    }
    val oneShot = probe.timed("qsketch" -> "kmv_oneshot", "n" -> n) {
      toSummary(vals.agg(KmvExpressions.quantileKmv(col("h"), col("v"), k).as("s"))
        .select(explode(col("s")).as("e")).select(col("e.h"), col("e.v"))
        .collect())
    }
    val folded = probe.timed("qsketch" -> "kmv_fold16", "n" -> n) {
      // one pass building 16 independent snapshot summaries, folded on
      // the driver — the cross-day shape (each day persists O(k))
      val parts = vals.groupBy(pmod(col("h"), lit(16L)).as("snap"))
        .agg(KmvExpressions.quantileKmv(col("h"), col("v"), k).as("s"))
        .select(explode(col("s")).as("e"), col("snap"))
        .select(col("snap"), col("e.h"), col("e.v"))
        .collect().groupBy(_.getLong(0))
        .map { case (_, rows) =>
          toSummary(rows.map(r =>
            org.apache.spark.sql.Row(r.getLong(1), r.getDouble(2))))
        }
      parts.reduce(Kmv.vunion)
    }
    val identical = oneShot.hashes.sameElements(folded.hashes) &&
      oneShot.values.sameElements(folded.values)
    val errs = Seq(0.5, 0.9, 0.99).zip(exact).map { case (p, ex) =>
      val est = Kmv.quantile(oneShot, p)
      // rank-space error against the exact CDF (one untimed pass)
      val cdf = vals.filter(col("v") <= est).count().toDouble / n
      f"""{"p":$p,"exact":$ex%.1f,"est":$est%.1f,"cdf_err":${math.abs(cdf - p)}%.4f}"""
    }
    println(s"""{"qsketch":"fold_identity","identical":$identical,""" +
      s""""errors":[${errs.mkString(",")}]}""")
    require(identical, "fold(16) must equal the one-shot summary")
  }

  /** PageRank under hub skew (r11 task 5): a 4 M-edge budget over 2 M
    * nodes, uniform vs hub-skewed where 80% of the edges concentrate
    * on hubs (1.6 M out of one node, 1.6 M into another). What each
    * leg of the round does
    * with that: the dst-side aggregation absorbs the hot IN-hub in
    * map-side partial sums (one combined row per map partition — never
    * a hot reducer), while the src-side rank⋈edges equi-join hashes
    * ALL of the OUT-hub's edges to one partition — the one place a hot
    * key can serialize a round. That partition is exactly what AQE's
    * skew-join split exists for, so the verb measures the lever
    * directly: uniform vs hub with the split on, vs hub with it off,
    * reporting max task wall/shuffle-read (the serialization
    * signature) alongside total wall. Thresholds are lowered to make
    * the 20 MB bench graph exhibit the 100 TB partition shape;
    * restored after.
    */
  private def pageRankSkew(spark: SparkSession,
                           probe: Probe): Unit = {
    // 4 M edges over 2 M nodes; the hub variants put 1.6 M edges OUT of
    // one node and 1.6 M INTO another (distinct pairs — multi-edges
    // collapse inside the operator, so hub degree must come from
    // distinct endpoints)
    val n = 2000000L
    def spread(rows: Long) =
      spark.range(rows).select(
        pmod(col("id") * 2654435761L, lit(n)).as("src"),
        pmod(col("id") * 40503L + 7, lit(n)).as("dst"))
    val uniform = spread(4000000L)
    val hub = spread(800000L)
      .unionByName(spark.range(1600000L)
        .select(lit(n).as("src"), col("id").as("dst")))
      .unionByName(spark.range(1600000L)
        .select(col("id").as("src"), lit(n + 1).as("dst")))
    def rank(label: String, edges: DataFrame, salt: Int): Unit = {
      probe.timed("prskew" -> label)(
        noop(graft.ops.PageRank.pageRankFast(edges, 3, saltJoin = salt)))
      graft.Checkpoints.sweep(spark)
    }
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      // at bench scale the rank table broadcasts and there IS no join
      // skew (the hub's edges stay evenly spread on the stream side) —
      // that is itself a finding, but the 100 TB regime this verb
      // models is the one where ranks CANNOT broadcast; force the
      // shuffle join to measure that shape
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      rank("uniform", uniform, 1)
      rank("hub", hub, 1)
      rank("hub_salt4", hub, 4)
      rank("hub_salt8", hub, 8)
      // auto (saltJoin = 0, the r15 default): report the salt the
      // regime rule resolves for the hub graph (the claim: >= 4, i.e.
      // the straggler mitigation engages without the manual knob),
      // then run with it
      val hubE = hub.select(col("src"), col("dst")).distinct()
      val st = hubE
        .groupBy("src").agg(count(lit(1)).as("deg"))
        .agg(max(col("deg")).as("mx"), sum(col("deg")).as("tot"))
        .collect().head
      val nNodes = hubE.select(col("src").as("id"))
        .union(hubE.select(col("dst").as("id"))).distinct().count()
      val resolved = graft.ops.PageRank.autoSaltJoin(st.getLong(0),
        st.getLong(1), nNodes,
        conf.get("spark.sql.shuffle.partitions", "200").toInt)
      println(s"""{"prskew":"hub_auto","resolved_salt":$resolved}""")
      rank("hub_auto", hub, 0)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  /** Edit-distance join at vocabulary scale (5k / 20k seeded-random
    * words — the distinct-string table is the operator's real input
    * shape): wall + the ARITHMETIC candidate bill (Σ df·(df−1)/2 over
    * shared padded bigrams — the gram join's row count, computed from
    * one df pass) against the quadratic n·(n−1)/2 a naive cross join
    * would verify. The claim: candidates track gram-frequency mass,
    * orders of magnitude under quadratic, and every candidate is a
    * cheap integer levenshtein.
    */
  private def fuzzyScale(spark: SparkSession,
                         probe: Probe): Unit = {
    import spark.implicits._
    import graft.llm.TextFunctions
    for (n <- Seq(5000, 20000)) {
      val rnd = new scala.util.Random(7)
      val vocab = (1 to n).map(_ => (1 to (3 + rnd.nextInt(8)))
          .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
        .distinct.toDF("s").localCheckpoint()
      val nDistinct = vocab.count()
      val candBill = vocab
        .select(explode(array_distinct(TextFunctions.charShingleHashes(
          concat(lit("\u0001"), col("s"), lit("\u0001")), 2))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
        .agg(sum((col("df") * (col("df") - 1) / 2).cast("long")))
        .collect().head.getLong(0)
      probe.timedWith("fuzzy" -> "ed1_join", "n" -> nDistinct,
          "gram_candidates" -> candBill,
          "quadratic_cells" -> nDistinct * (nDistinct - 1) / 2) {
        graft.ops.FuzzyJoin.editDistancePairs(vocab, "s", 1).count()
      } { found =>
        // the COUNT filter's surviving verify set vs the single-gram
        // bill: the claim is that levenshtein runs on a fraction of
        // candBill. Counted AFTER the timed run (ADVICE r11): a pre-pass
        // over the same vocab would warm JIT/shuffle dirs/page cache and
        // break first-touch comparability with earlier rounds. r16: the
        // positional band's own lever — gram-join OUTPUT rows, vs the
        // unbanded single-gram bill above
        Seq("pairs_found" -> found,
          "count_filter_verified" ->
            graft.ops.FuzzyJoin.countFilterCandidates(vocab, "s", 1),
          "gram_join_rows" -> graft.ops.FuzzyJoin.gramJoinRows(vocab, "s", 1))
      }
      graft.Checkpoints.free(vocab)
    }
  }

  /** The event/graph operators at 1x vs 20x: as-of join (clicks ←
    * latest error), sessionization, and 3 PageRank iterations over the
    * customer→supplier graph. Claims: as-of is ONE key exchange (wall
    * tracks event volume, shuffle carries rows once — never a range
    * join's candidate blow-up), sessions are one window pass, and each
    * PageRank round's shuffle is edges+ranks (the decimal-sum
    * portability costs nothing structural).
    */
  private def eventOps(spark: SparkSession, srcDir: String, outDir: String,
                       probe: Probe): Unit = {
    // noop-sink materialization: a bare count() lets Catalyst prune the
    // whole operator under test away (the r1 bench lesson — a count of
    // the as-of join is just a count of the left side)
    for (dir <- Seq(srcDir, outDir)) {
      val tag = if (dir == srcDir) "1x" else "20x"
      probe.timed("eventops" -> s"asof_$tag")(
        noop(graft.Queries.q_asof_join(spark, dir)))
      probe.timed("eventops" -> s"sessionize_$tag")(
        noop(graft.Queries.q_sessionize(spark, dir)))
    }
    // the scaled dir's lineitem offsets orderkeys away from the 1x
    // orders dim, so a scaled GRAPH is built directly: 20 disjoint
    // offset copies of the 1x customer→supplier edges (a sharded link
    // graph — PageRank cost is edges + ranks per round regardless of
    // connectivity)
    val edges1 = orderEdges(spark, srcDir).drop("weight")
    probe.timed("eventops" -> "pagerank3_1x")(
      noop(graft.ops.PageRank.pageRank(edges1, 3)))
    val edges20 = (0 until 20).map { i =>
      edges1.select((col("src") + lit(i.toLong * 10000000L)).as("src"),
        (col("dst") + lit(i.toLong * 10000000L)).as("dst"))
    }.reduce(_ unionByName _)
    probe.timed("eventops" -> "pagerank3_20x")(
      noop(graft.ops.PageRank.pageRank(edges20, 3)))
    // throughput tier on the same scaled graph: identical iteration,
    // IEEE-double sums — the shuffle_write delta IS the decimal price
    probe.timed("eventops" -> "pagerank3_20x_fast")(
      noop(graft.ops.PageRank.pageRankFast(edges20, 3)))
  }

  /** WARC ingestion throughput: synthesize a multi-file archive from
    * the scaled documents corpus (one HTTP-response record per doc,
    * HTML-wrapped), then time the full read → responses → htmlToText →
    * quality-token count chain. The claims: parse wall scales with
    * archive BYTES at file-level parallelism (16 files here), the walk
    * is single-pass constant-memory, and the chain to extracted text
    * adds no shuffle (map-only until an aggregation).
    */
  private def warcThroughput(spark: SparkSession, outDir: String,
                             probe: Probe): Unit = {
    import graft.llm.{TextFunctions, Warc}
    val dir = java.nio.file.Files.createTempDirectory("warcscale")
    val crlf = "\r\n"
    val texts = SparkEntry.table(spark, outDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val nFiles = 16
    var totalBytes = 0L
    (0 until nFiles).foreach { f =>
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(s"$dir/seg-$f.warc"))
      texts.filter(_._1 % nFiles == f).foreach { case (id, t) =>
        val body = s"<html><head><script>var x=1;</script></head>" +
          s"<body><h1>doc $id</h1><p>$t</p></body></html>"
        val http = (s"HTTP/1.1 200 OK${crlf}Content-Type: text/html" +
          s"$crlf$crlf$body").getBytes("UTF-8")
        val head = (Seq("WARC/1.0", "WARC-Type: response",
          s"WARC-Target-URI: http://example.com/$id",
          "WARC-Date: 2024-01-02T03:04:05Z",
          s"Content-Length: ${http.length}", "", "").mkString(crlf))
          .getBytes("UTF-8")
        out.write(head); out.write(http)
        out.write((crlf + crlf).getBytes("UTF-8"))
        totalBytes += head.length + http.length + 4
      }
      out.close()
    }
    // parse-only vs parse + extraction chain: attributes the wall to
    // the record walk vs the per-doc regex passes
    for ((label, count) <- Seq[(String, () => Long)](
        "parse_only" -> (() => Warc.readWarc(spark, s"$dir/*.warc").count()),
        "read_extract_count" -> (() =>
          Warc.responses(Warc.readWarc(spark, s"$dir/*.warc"))
            .select(TextFunctions.regexTokenCount(
              TextFunctions.htmlToText(col("html"))).as("n"))
            .agg(sum("n")).collect().head.getLong(0))))
      probe.timedWith("warc" -> label, "files" -> nFiles,
          "archive_mb" -> totalBytes / 1e6)(count())(
        n => Seq("rows_or_tokens" -> n))
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Tokenizer-family inference throughput at the 20x corpus (100k
    * docs): rank-greedy BPE, unigram-LM Viterbi, WordPiece greedy —
    * each trained small on the SAME word table, then timed tokenizing
    * the full corpus through the noop sink. All three are map-only
    * (broadcast model + mapPartitions), so the claim to check is that
    * NONE of them shuffles and wall scales with corpus bytes, not
    * model size; reported as wall next to the corpus size and each
    * family's model size.
    */
  private def tokenizeThroughput(spark: SparkSession, outDir: String,
                                 probe: Probe): Unit = {
    import graft.llm.{BpeTrain, UnigramLm, WordPiece}
    val docs = SparkEntry.table(spark, outDir, "documents")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val wc = BpeTrain.wordCounts(docs, "text").localCheckpoint()
    try {
      val merges = BpeTrain.learnMerges(wc, numMerges = 64)
      probe.timed("tokenize" -> "bpe_rank_greedy", "docs" -> nDocs,
          "n_merges" -> merges.size) {
        noop(BpeTrain.bpeTokensPartitions(docs, "doc_id", "text", merges))
      }
      val uni = UnigramLm.train(wc, vocabSize = 512, seedSize = 1024)
      probe.timed("tokenize" -> "unigram_viterbi", "docs" -> nDocs,
          "vocab" -> uni.logp.size) {
        noop(UnigramLm.tokenize(docs, "doc_id", "text", uni))
      }
      val wpMerges = WordPiece.learnMerges(wc, numMerges = 64)
      val vocab = WordPiece.vocabulary(wc, wpMerges)
        .select("piece").collect().map(_.getString(0)).toSet
      probe.timed("tokenize" -> "wordpiece_greedy", "docs" -> nDocs,
          "vocab" -> vocab.size) {
        noop(WordPiece.wordPieceTokens(docs, "doc_id", "text", vocab))
      }
    } finally graft.Checkpoints.free(wc)
  }

  /** Kneser-Ney LM at 20x corpus: the claims are (a) only the trigram
    * COUNT pass is corpus-scale — model derivation + scoring joins run
    * on model-sized tables that grow sublinearly (distinct trigrams vs
    * token instances, the Heaps-law gap); and (b) the counts table is
    * an incrementally-maintained index — folding a 5% snapshot in via
    * [[graft.llm.NgramLm.mergeCounts]] costs snapshot+model work, while
    * a full retrain re-pays the whole corpus pass. Reported per dir:
    * counts/model/score walls + shuffle, token instances vs model rows,
    * and the merge-vs-retrain wall pair.
    */
  private def knLm(spark: SparkSession, srcDir: String, outDir: String,
                   probe: Probe): Unit = {
    import graft.llm.NgramLm
    for (dir <- Seq(srcDir, outDir)) {
      val tag = if (dir == srcDir) "1x" else "20x"
      val docs = SparkEntry.table(spark, dir, "documents")
      val counts = NgramLm
        .trigramCounts(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        .localCheckpoint(false)
      val modelRows = probe.timed("knlm" -> s"counts_pass_$tag")(counts.count())
      val tokenInstances = docs.filter(col("doc_id") % 2 === 0)
        .select(sum(size(split(coalesce(col("text"), lit("")), "\\s+"))))
        .collect().head.getLong(0)
      println(s"""{"knlm":"size_$tag","token_instances":$tokenInstances,""" +
        s""""model_rows":$modelRows}""")
      val model = NgramLm.trainFromCounts(counts)
      probe.timed("knlm" -> s"model_tables_$tag")(noop(NgramLm.modelTable(model)))
      probe.timed("knlm" -> s"score_corpus_$tag")(
        noop(NgramLm.score(docs, "doc_id", "text", model)))
      // incremental refresh: a 5% snapshot folds into the persisted
      // counts (snapshot pass + model-scale merge) vs a full retrain
      // (re-pays the whole corpus pass)
      val snapshot = docs.filter(col("doc_id") % 20 === 1)
      probe.timed("knlm" -> s"merge_snapshot_$tag") {
        NgramLm.mergeCounts(counts,
          NgramLm.trigramCounts(snapshot, "doc_id", "text")).count()
      }
      probe.timed("knlm" -> s"full_retrain_$tag") {
        NgramLm.trigramCounts(
          docs.filter(col("doc_id") % 2 === 0).unionByName(snapshot),
          "doc_id", "text").count()
      }
      graft.Checkpoints.free(counts)
    }
  }

  /** Exact prefix-filtered Jaccard join at 100k docs: the claim is
    * that prefix filtering keeps an EXACT similarity join affordable
    * where the naive complete candidate generator (full inverted
    * index: every pair sharing ANY shingle) goes quadratic through
    * frequent shingles. Per threshold this verb reports, from ONE
    * dfreq pass: the exploded index sizes (prefix vs full) and the
    * candidate join rows each would produce (sum over shingles of
    * C(df,2) — the exchange cost, computed arithmetically so the
    * quadratic baseline never has to actually run), then times the
    * real [[graft.llm.Dedup.jaccardJoin]] end-to-end. Expected shape:
    * candidate rows drop orders of magnitude as t rises (prefixes
    * shrink AND frequent shingles leave them), wall tracks the prefix
    * candidates, never the full-index count.
    */
  private def jacJoinScale(spark: SparkSession, outDir: String,
                           probe: Probe): Unit = {
    import graft.llm.Dedup
    val docs = SparkEntry.table(spark, outDir, "documents")
    val sets = Dedup.jaccardSets(docs, "doc_id", "text").localCheckpoint()
    try {
      val nDocs = sets.count()
      val fullRows = sets.select(explode(col("__set")).as("__h"))
      val fullCand = fullRows.groupBy("__h").agg(count(lit(1)).as("d"))
        .agg(sum(col("d") * (col("d") - 1) / 2).cast("long"),
          count(lit(1)), sum("d").cast("long"))
        .collect().head
      val (fullPairs, nShingles, nFullRows) =
        (fullCand.getLong(0), fullCand.getLong(1), fullCand.getLong(2))
      for (t <- Seq(0.5, 0.8)) {
        val prefixes = Dedup.jaccardPrefixes(sets, t)
        val prefixRows = prefixes.select(explode(col("__prefix")).as("__h"))
        val pc = prefixRows.groupBy("__h").agg(count(lit(1)).as("d"))
          .agg(sum(col("d") * (col("d") - 1) / 2).cast("long"),
            sum("d").cast("long"))
          .collect().head
        // distinct pairs entering verify: size filter alone vs + the
        // PPJoin positional filter (the r11 addition)
        val pa = prefixes.select(col("__id").as("id_a"), col("__n").as("__na"),
          posexplode(col("__prefix")).as(Seq("__pa", "__h")))
        val pb = prefixes.select(col("__id").as("id_b"), col("__n").as("__nb"),
          posexplode(col("__prefix")).as(Seq("__pb", "__h")))
        val sizeOnly = pa.join(pb, Seq("__h"))
          .filter(col("id_a") < col("id_b") &&
            col("__nb") >= lit(t) * col("__na") - lit(1e-9) &&
            col("__na") >= lit(t) * col("__nb") - lit(1e-9))
          .select("id_a", "id_b").distinct().count()
        val positional = Dedup.candidatePairsPositional(pa, pb, t,
          col("id_a") < col("id_b")).count()
        probe.timedWith("jacjoin_t" -> t, "n_docs" -> nDocs,
            "index_rows_full" -> nFullRows, "index_rows_prefix" -> pc.getLong(1),
            "cand_rows_full" -> fullPairs, "cand_rows_prefix" -> pc.getLong(0),
            "verify_pairs_size_only" -> sizeOnly,
            "verify_pairs_positional" -> positional, "n_shingles" -> nShingles)(
          Dedup.jaccardJoin(docs, "doc_id", "text", t).count())(
          nOut => Seq("n_pairs_out" -> nOut))
      }
    } finally graft.Checkpoints.free(sets)
  }

  /** KMV overlap estimation at the SATURATED regime (the scaled corpus
    * vocabulary exceeds k, so the summaries are genuine sketches):
    * exact per-source-pair trigram overlap via the distinct join vs the
    * sketch path (one agg + driver pairwise over 20 k-bounded
    * summaries). Reports both walls, the shuffle deltas, and the worst
    * relative Jaccard error across pairs — the accuracy/cost trade the
    * unsaturated oracle can't show.
    */
  private def kmvOverlap(spark: SparkSession, outDir: String,
                         probe: Probe): Unit = {
    import graft.llm.{Kmv, TextFunctions}
    val docs = SparkEntry.table(spark, outDir, "documents")
    val grams = docs.select(col("source"),
      explode(array_distinct(
        TextFunctions.shingleHashes(col("text"), 3))).as("h"))
    val exact = probe.timed("kmv" -> "exact_join") {
      val hs = grams.distinct()
      hs.as("a").join(hs.as("b").select(col("source").as("source_b"), col("h")), Seq("h"))
        .filter(col("source") < col("source_b"))
        .groupBy("source", "source_b").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    val k = 4096
    val sketches = probe.timed("kmv" -> "sketch_build") {
      grams.groupBy("source")
        .agg(org.apache.spark.sql.graft.KmvExpressions.kmvSketch(col("h"), k).as("s"))
        .collect().map(r => r.getString(0) ->
          Kmv.Summary(k, r.getSeq[Long](1).toArray)).toMap
    }
    val perSource = probe.timed("kmv" -> "exact_distincts") {
      grams.distinct().groupBy("source").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    var worstJacErr = 0.0
    var worstIntErr = 0.0
    exact.foreach { case ((a, b), n) =>
      val est = Kmv.intersection(sketches(a), sketches(b))
      val trueUnion = perSource(a) + perSource(b) - n
      val trueJ = n.toDouble / trueUnion
      val estJ = Kmv.jaccard(sketches(a), sketches(b))
      worstJacErr = math.max(worstJacErr, math.abs(estJ - trueJ))
      if (n > 0) worstIntErr = math.max(worstIntErr, math.abs(est - n) / n.toDouble)
    }
    val sat = sketches.values.count(_.saturated)
    println(f"""{"kmv":"accuracy","k":$k,"n_pairs":${exact.size},""" +
      f""""saturated_sketches":$sat,"worst_jaccard_abs_err":$worstJacErr%.4f,""" +
      f""""worst_intersection_rel_err":$worstIntErr%.3f}""")
  }

  /** Z-order data skipping, measured: the scaled lineitem (6M rows)
    * written in three layouts — natural, sorted by l_partkey, z-ordered
    * on (l_partkey, l_suppkey) — then a two-column box filter
    * (~0.25% x 25% selectivity) scans each. rows_read is the signal:
    * parquet row-group min/max pruning serves a filter only on columns
    * the layout localized. Expect natural ~ full scan, single-sort
    * pruning on l_partkey only, z-order pruning on BOTH.
    */
  private def zorderSkip(spark: SparkSession, outDir: String,
                         probe: Probe): Unit = {
    import graft.ops.ZOrder
    val li = SparkEntry.table(spark, outDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice")
    val n = li.count()
    val base = s"$outDir/zorder_layouts"
    // small row groups force many pruning units per file (the 100 TB
    // analogue: thousands of row groups per executor's file set)
    li.write.mode("overwrite")
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(s"$base/natural")
    li.repartitionByRange(32, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite")
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(s"$base/sorted")
    writeZSmallGroups(li, s"$base/zordered")
    // three workload shapes: the box, and each column alone — the
    // z-order claim is WORKLOAD-level (one layout prunes for all three;
    // a single-column sort serves only queries touching its column)
    val shapes: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "box" -> (col("l_partkey").between(1000L, 1500L) &&
        col("l_suppkey").between(100L, 1100L)),
      "partkey_only" -> col("l_partkey").between(1000L, 1500L),
      "suppkey_only" -> col("l_suppkey").between(100L, 200L))
    for (layout <- Seq("natural", "sorted", "zordered");
         (shape, pred) <- shapes) {
      probe.timedWith("zorder" -> layout, "shape" -> shape, "n_total" -> n) {
        spark.read.parquet(s"$base/$layout")
          .filter(pred)
          .agg(count(lit(1)), sum("l_quantity")).collect().head.getLong(0)
      }(got => Seq("n_match" -> got))
    }
  }

  private def writeZSmallGroups(li: org.apache.spark.sql.DataFrame,
                                path: String): Unit = {
    // writeZOrdered with the same small row groups as the other layouts
    val stats = Seq("l_partkey", "l_suppkey").flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val row = li.agg(stats.head, stats.tail: _*).collect().head
    val z = graft.ops.ZOrder.zvalue(Seq(
      graft.ops.ZOrder.normalized(col("l_partkey"), row.getDouble(0), row.getDouble(1), 18),
      graft.ops.ZOrder.normalized(col("l_suppkey"), row.getDouble(2), row.getDouble(3), 18)), 18)
    li.withColumn("__z", z)
      .repartitionByRange(32, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite")
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(path)
  }

  /** PCA training cost vs corpus size: the claim is that training is
    * ONE input-bound scan (fixed d + d(d+1)/2 doubles per partition,
    * driver receives only partition moments) and projection is a
    * map-only pass — both linear in the corpus with no shuffle at all.
    * Timed at sf0.1 (2k vectors) and the scaled corpus (100k): wall
    * should track input size; shuffle_write_bytes should be ~0 for
    * both phases.
    */
  private def pcaScale(spark: SparkSession, srcDir: String, outDir: String,
                       probe: Probe): Unit = {
    import graft.llm.Embeddings
    for (dir <- Seq(srcDir, outDir)) {
      val emb = SparkEntry.table(spark, dir, "embeddings")
      val n = emb.count()
      val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
        .first().getInt(0)
      val model = probe.timed("pca" -> "train_k16", "dir" -> dir,
        "n_corpus" -> n, "dim" -> dim)(Embeddings.pcaTrain(emb, "embedding", dim, k = 16))
      probe.timed("pca" -> "project", "dir" -> dir, "n_corpus" -> n, "dim" -> dim)(
        noop(emb.select(col("vec_id"),
          Embeddings.pcaProjectF(col("embedding"), model).as("p"))))
    }
  }

  /** Window-vs-aggregate top-k finisher over a genuinely large scored
    * relation (scaled embeddings x 200 queries ~ 20M scored rows).
    * This verb exists to keep an honest measurement behind the choice
    * of finisher: Spark 4's InferWindowGroupLimit rewrites
    * `row_number <= k` into a map-side partial group-limit, so the
    * window form's exchange is ALREADY O(groups x k) per task — the
    * measured result (equal shuffle bytes, window slightly faster via
    * codegen) is why the hot paths keep the window form and
    * [[graft.ops.TopK.topKPerQuery]] remains the A/B alternative.
    */
  private def topkFinisher(spark: SparkSession, outDir: String,
                           probe: Probe): Unit = {
    import org.apache.spark.sql.expressions.Window
    val emb = SparkEntry.table(spark, outDir, "embeddings")
    val queries = emb.filter(col("vec_id") >= 8 && col("vec_id") < 208)
    val nCorpus = emb.count()
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    def scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.llm.Dedup.cosine(col("qv"), col("cv")))
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val nWindow = probe.timedWith("topk" -> "window", "n_corpus" -> nCorpus)(
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
        .count())(n => Seq("n_out" -> n))
    val nAgg = probe.timedWith("topk" -> "agg", "n_corpus" -> nCorpus)(
      graft.ops.TopK.topKPerQuery(scored, "query_id", "neighbor_id", "cos", 10)
        .count())(n => Seq("n_out" -> n))
    require(nWindow == nAgg, s"finisher mismatch: window=$nWindow agg=$nAgg")
  }

  /** Bloom-prescreened decontamination vs the plain inverted-index
    * form on the scaled corpus (100k docs, mostly substitution-ciphered
    * = realistic "corpus shares little with the benchmark" regime).
    * Both runs use `maxDf` — the stop-phrase guard whose per-gram
    * document-frequency window is what forces the FULL corpus-gram
    * exchange in the plain form (without maxDf the exact join already
    * broadcast-screens and neither form shuffles corpus grams). The
    * Bloom form kills non-benchmark grams inside the scan, so the df
    * window runs only over survivors. Expected: equal outputs
    * (asserted on count), the corpus-gram exchange collapsing to
    * ~(true overlap + fpp x grams), wall dropping with it.
    */
  private def bloomScreen(spark: SparkSession, outDir: String,
                          probe: Probe): Unit = {
    import graft.llm.Dedup
    val docs = SparkEntry.table(spark, outDir, "documents")
    val bench = docs.filter(col("doc_id") < 20)
    val nCorpus = docs.count()
    val nPlain = probe.timedWith("decontam" -> "plain", "n_corpus" -> nCorpus)(
      Dedup.contaminationScores(docs, "doc_id", "text", bench, "doc_id",
        "text", threshold = 0.1, maxDf = Some(50000L)).count())(
      n => Seq("n_out" -> n))
    val nBloom = probe.timedWith("decontam" -> "bloom", "n_corpus" -> nCorpus)(
      Dedup.contaminationScoresBloom(docs, "doc_id", "text", bench, "doc_id",
        "text", threshold = 0.1, maxDf = Some(50000L)).count())(
      n => Seq("n_out" -> n))
    require(nPlain == nBloom, s"decontam mismatch: plain=$nPlain bloom=$nBloom")
  }

  /** Incremental snapshot dedup vs archive size (VERDICT r10 task 5):
    * the 100 TB claim is that a monthly snapshot screens against YEARS
    * of archive touching only the persisted digest index (16 B/doc,
    * exact) and band index (near-dup) — never an archived payload. This
    * verb makes that measured: archives at 2x/10x/20x the snapshot are
    * indexed and written to parquet, then the SAME snapshot is screened
    * against each. Expected shape, reported per row: screen wall ~flat
    * in archive multiple (the snapshot side — tokenize/minhash — is the
    * work; the index side is an anti join on digests), input_bytes
    * growing only by the index's own size, and `n_collisions` — the
    * ONLY rows an exact-verify batch over archived text would load —
    * staying a small fraction of the snapshot.
    *
    * Archive content: one copy keeps ~1/3 of the snapshot's texts
    * verbatim (real screen hits); all other copies are per-copy
    * substitution-ciphered (distinct content that still populates the
    * index — the realistic "mostly novel archive" regime).
    */
  private def incDedup(spark: SparkSession, srcDir: String, outDir: String,
                       probe: Probe): Unit = {
    import graft.llm.Dedup
    val snap = SparkEntry.table(spark, srcDir, "documents")
    val nSnap = snap.count()
    val alpha = "etaoinsrhl"
    def archiveOf(mult: Int): DataFrame =
      (0 until mult).map { i =>
        // shift is never 0: an identity rotation would archive the whole
        // snapshot verbatim and saturate the collision count
        val shift = 1 + ((i + 2) % (alpha.length - 1))
        val rot = alpha.drop(shift) + alpha.take(shift)
        val base = snap.withColumn("doc_id",
          col("doc_id") + lit((i + 1).toLong * 10000000L))
        if (i == 0)
          base.withColumn("text",
            when(col("doc_id") % 3 === 0, col("text"))
              .otherwise(translate(col("text"), alpha, rot)))
        else base.withColumn("text", translate(col("text"), alpha, rot))
      }.reduce(_ unionByName _)

    for (mult <- Seq(2, 10, 20)) {
      val dir = s"$outDir/incdedup/m$mult"
      val archive = archiveOf(mult)
      def row(label: String, extra: (String, Any)*): Seq[(String, Any)] =
        Seq("incdedup" -> label, "archive_mult" -> mult, "n_snapshot" -> nSnap) ++
          extra
      // build + persist both indexes — linear in archive size BY DESIGN
      // (one pass over the new snapshot when the archive accretes
      // monthly; rebuilt whole here only to create the fixture)
      probe.timed(row("build_indexes"): _*) {
        Dedup.digestIndex(archive, "text")
          .repartition(32).write.mode("overwrite").parquet(s"$dir/digest")
        Dedup.bandIndex(archive, "doc_id", "text")
          .repartition(32).write.mode("overwrite").parquet(s"$dir/band")
        Dedup.bandIndexWithIds(archive, "doc_id", "text")
          .repartition(32).write.mode("overwrite").parquet(s"$dir/band_ids")
        Dedup.jaccardIndex(archive, "doc_id", "text", threshold = 0.9)
          .repartition(32).write.mode("overwrite").parquet(s"$dir/jaccard")
        val (jacF, jacDfT) = Dedup.jaccardIndexFrozen(archive, "doc_id",
          "text", threshold = 0.9)
        jacF.repartition(32).write.mode("overwrite")
          .parquet(s"$dir/jaccard_frozen")
        jacDfT.repartition(32).write.mode("overwrite")
          .parquet(s"$dir/jaccard_df")
        // the archive PAYLOAD, persisted like a real archive's — the
        // verify row below must read only its collision subset
        archive.write.mode("overwrite").parquet(s"$dir/archive_text")
      }
      val digestIdx = spark.read.parquet(s"$dir/digest")
      val bandIdx = spark.read.parquet(s"$dir/band")
      val bandIdsIdx = spark.read.parquet(s"$dir/band_ids")
      val archiveText = spark.read.parquet(s"$dir/archive_text")
      // the two screens: wall should NOT follow mult — the snapshot side
      // is the work, the archive participates digest-only
      probe.timed(row("screen_exact"): _*)(
        noop(Dedup.exactDedupAgainst(snap, "doc_id", "text", digestIdx)))
      probe.timed(row("screen_near"): _*)(
        noop(Dedup.nearDupScreenAgainst(snap, "doc_id", "text", bandIdx)))
      // the exact-verify batch: only the collision subset touches
      // archived text (semi join on candidate archive ids); wall should
      // track collisions — constant here — not the archive multiple
      probe.timed(row("verify_exact"): _*)(
        noop(Dedup.nearDupVerifyAgainst(snap, "doc_id", "text", bandIdsIdx,
          archiveText, "doc_id", "text", jaccardThreshold = 0.9)))
      // the COMPLETE screen (prefix index, no banding miss-rate):
      // same flat-in-mult contract, index is shingle-prefix-scale
      // rather than signature-scale — report its bytes alongside
      val jacIdx = spark.read.parquet(s"$dir/jaccard")
      val jacBytes = new java.io.File(s"$dir/jaccard").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val bandIdsBytes = new java.io.File(s"$dir/band_ids").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      probe.timed(row("screen_exact_jaccard", "index_bytes" -> jacBytes,
          "band_ids_bytes" -> bandIdsBytes): _*)(
        noop(Dedup.jaccardDedupAgainst(snap, "doc_id", "text", jacIdx,
          archiveText, "doc_id", "text", threshold = 0.9)))
      // frozen-df order: same completeness, archive-statistics pruning
      val jacFIdx = spark.read.parquet(s"$dir/jaccard_frozen")
      val jacDfIdx = spark.read.parquet(s"$dir/jaccard_df")
      probe.timed(row("screen_exact_jaccard_frozen"): _*)(
        noop(Dedup.jaccardDedupAgainstFrozen(snap, "doc_id", "text", jacFIdx,
          jacDfIdx, archiveText, "doc_id", "text", threshold = 0.9)))
      // the exact-verify batch's working set: snapshot docs with >= 1
      // band collision — everything else never touches archived text
      val nCollisions = nSnap -
        Dedup.nearDupScreenAgainst(snap, "doc_id", "text", bandIdx).count()
      probe.timed(row("collision_subset", "n_collisions" -> nCollisions): _*)(())
    }
  }

  /** BPE training at 100k docs: evidences the scale split the module is
    * built on — [[graft.llm.BpeTrain.wordCounts]] is the ONLY
    * corpus-scale pass (one tokenize + word hash-agg), after which 20
    * merge rounds run on the distinct-word table regardless of corpus
    * size. Two rows: the corpus pass alone, then the full learn loop
    * (whose per-round cost is word-table-sized, not corpus-sized).
    */
  private def bpeScale(spark: SparkSession, outDir: String,
                       probe: Probe): Unit = {
    import graft.llm.BpeTrain
    val docs = SparkEntry.table(spark, outDir, "documents")
    val nCorpus = docs.count()
    def row(label: String, nWords: Long): Seq[(String, Any)] =
      Seq("bpe" -> label, "n_corpus" -> nCorpus, "n_words" -> nWords)
    val wc = BpeTrain.wordCounts(docs, "text")
    val nWords = probe.timed(row("word_counts", -1L): _*)(wc.count())
    val sequential = probe.timed(row("learn_60_sequential", nWords): _*) {
      val merges = BpeTrain.learnMerges(wc, numMerges = 60)
      require(merges.size == 60, s"expected 60 merges, got ${merges.size}")
      merges
    }
    // batched argmax: SAME merge list (required — the whole point is
    // equivalence), fewer rounds; at 32k production merges the round
    // count is what multiplies the 0.29 s/round job overhead into hours
    var rounds = 0
    probe.timed(row("learn_60_batched", nWords): _*) {
      val batched = BpeTrain.learnMergesBatched(wc, numMerges = 60,
        batchSize = 16, onRound = r => rounds = r)
      require(batched == sequential,
        s"batched merge list diverged from sequential at " +
          s"${batched.zip(sequential).indexWhere(p => p._1 != p._2)}")
    }
    // honest caveat with the row: this corpus has ~31 distinct words, so
    // nearly every top pair shares a symbol and the exact-equivalence
    // prefix rarely exceeds 1 — the batch factor is a property of the
    // vocabulary, not the algorithm
    println(s"""{"bpe":"batched_rounds","rounds":$rounds,"merges":60}""")

    // the regime production BPE actually trains in: a LARGE vocabulary.
    // The merge loop's input is the distinct-word table (corpus size is
    // gone after wordCounts), so the fixture IS the real input shape:
    // 20k distinct seeded-random words, Zipf counts. Here top pairs are
    // mostly disjoint and the prefix batch pays.
    val rnd = new scala.util.Random(13)
    import spark.implicits._
    val richVocab = (1 to 20000).map { i =>
      val w = (1 to (3 + rnd.nextInt(8)))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      (w, math.max(1L, (200000.0 / i).toLong))
    }.toDF("word", "cnt").groupBy("word").agg(sum("cnt").as("cnt"))
      .localCheckpoint()
    val richSeq = probe.timed(row("rich_200_sequential", 20000): _*)(
      BpeTrain.learnMerges(richVocab, numMerges = 200))
    var richRounds = 0
    probe.timed(row("rich_200_batched", 20000): _*) {
      val batched = BpeTrain.learnMergesBatched(richVocab, numMerges = 200,
        batchSize = 16, onRound = r => richRounds = r)
      require(batched == richSeq,
        s"rich-vocab batched diverged at " +
          s"${batched.zip(richSeq).indexWhere(p => p._1 != p._2)}")
    }
    // the batch factor widens as merges enlarge the symbol inventory
    // (more symbols -> fewer shared-symbol interactions in the top
    // prefix): compare rounds for the FIRST 100 merges vs all 200
    var rounds100 = 0
    BpeTrain.learnMergesBatched(richVocab, numMerges = 100,
      batchSize = 16, onRound = r => rounds100 = r)
    println(s"""{"bpe":"rich_rounds_first100","rounds":$rounds100,""" +
      s""""rounds_second100":${richRounds - rounds100}}""")
    graft.Checkpoints.free(richVocab)
  }

  /** The nlist ∝ N rule, measured. The registry's q_semdedup pins
    * nlist=8 for its oracle; at 100k ALL-DISTINCT vectors that puts
    * ~12.5k rows in every cell and the cell-local pair join goes
    * quadratic (the r10 scale run measured 105 s vs 1.1 s at 5k — 93x
    * for 20x data; semDedupDistinct cannot help when every vector is
    * distinct). The production rule from PERFNOTES — grow nlist with the
    * corpus so rows/cell stays bounded — is what this block evidences:
    * same corpus, same semantics, nlist 8 vs 128 (first-128 codebook),
    * expecting roughly nlist-fold fewer pair comparisons and near-linear
    * wall. Cell-balance caveat: first-k "centroids" are arbitrary
    * vectors, so cells are uneven; a trained codebook tightens this
    * further.
    */
  private def semDedupNlist(spark: SparkSession, outDir: String,
                            probe: Probe): Unit = {
    import graft.llm.Dedup
    val emb = SparkEntry.table(spark, outDir, "embeddings")
    val nCorpus = emb.count()
    for (nlist <- Seq(8, 128))
      probe.timed("semdedup_nlist" -> nlist, "n_corpus" -> nCorpus)(
        noop(Dedup.semDedup(emb, "vec_id", "embedding", 0.35,
          graft.queries.QueriesLLM.firstKCodebookLit(emb, nlist))))
    // TABLE-mode codebook at 16k cells (r13 task 5 / r15 task 4): a
    // LITERAL codebook this size is nlist×dim ≈ 1 M lit nodes — plan
    // blowup; the broadcast-joined centroid table must keep planning
    // time flat (plan_sec is the claim) while the cell-bounded pair
    // join stays cheap (over-sized nlist just thins the cells)
    val bigNlist = math.min(16384L, nCorpus / 2).toInt
    val cents = emb.filter(col("vec_id") < bigNlist)
      .select((col("vec_id") + 1).cast("int").as("cell"),
        col("embedding").as("cvec"))
    probe.timedWith("semdedup_nlist" -> bigNlist, "mode" -> "table",
        "n_corpus" -> nCorpus)(
      plannedNoop(Dedup.semDedupTable(emb, "vec_id", "embedding", 0.35, cents)))(
      planSec => Seq("plan_sec" -> planSec))
    // TWO-LEVEL assignment at the same nlist (r15): the flat argmax above
    // scores row×nlist cosines; coarse→refine scores m + nlist/m per row
    // (m = sqrt(nlist)) — the claim is the assignment fan-out collapses
    // while the cell-local pair join stays equivalent work
    val m = math.max(1, math.ceil(math.sqrt(bigNlist.toDouble)).toInt)
    val (coarseLit, fine) = probe.timedWith("semdedup_nlist" -> bigNlist,
        "mode" -> "twolevel", "m" -> m, "n_corpus" -> nCorpus) {
      // built inside plannedNoop's by-name argument: plan_sec includes it
      lazy val cb = graft.llm.Similarity.twoLevelCodebook(
        emb, "vec_id", "embedding", m, bigNlist)
      val planSec = plannedNoop(Dedup.semDedupTwoLevel(emb, "vec_id",
        "embedding", 0.35, cb._1, cb._2))
      (cb, planSec)
    }(r => Seq("plan_sec" -> r._2))._1

    // ---- probe-lever RECALL (r16): how many TRUE near-dup pairs does
    // the two-level tier surface, single-probe vs coarse×fine probing?
    // Ground truth = exact cosine ≥ t for a ~500-row query slice
    // against the full corpus (bounded: 5e7 cosines via one broadcast
    // cross join — never all-pairs). Recall is the fraction of those
    // pairs each bucketed form finds; the claim is that probing buys
    // recall at a bounded join-volume multiplier, and that the COARSE
    // probe recovers pairs no amount of fine probing can see.
    for (t <- Seq(0.35, 0.8)) {
      import graft.llm.Dedup
      val slice = emb.filter(pmod(col("vec_id"), lit(200L)) === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val gt = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"))
        .crossJoin(broadcast(slice))
        .filter(col("qid") =!= col("nid"))
        .withColumn("__cos", Dedup.dot(col("qv"), col("nv")) /
          (Dedup.l2norm(col("qv")) * Dedup.l2norm(col("nv"))))
        .filter(col("__cos") >= t)
        .select(least(col("qid"), col("nid")).as("id_a"),
          greatest(col("qid"), col("nid")).as("id_b"))
        .distinct().persist()
      val gtN = gt.count()
      for ((label, pairs) <- Seq[(String, () => DataFrame)](
          "twolevel_single" -> (() => Dedup.embeddingNearDupsBucketedTwoLevel(
            emb, "vec_id", "embedding", t, coarseLit, fine)),
          "twolevel_cp1_fp2" -> (() => Dedup.embeddingNearDupsBucketedTwoLevelProbed(
            emb, "vec_id", "embedding", t, coarseLit, fine, 1, 2)),
          "twolevel_cp2_fp2" -> (() => Dedup.embeddingNearDupsBucketedTwoLevelProbed(
            emb, "vec_id", "embedding", t, coarseLit, fine, 2, 2))))
        probe.timedWith("semdedup_recall" -> label, "threshold" -> t,
            "true_pairs" -> gtN) {
          // restrict to pairs touching the slice (ground truth's domain)
          pairs().select("id_a", "id_b")
            .join(gt, Seq("id_a", "id_b"), "left_semi").count()
        }(found => Seq("found" -> found,
          "recall" -> (if (gtN == 0) 0.0 else found.toDouble / gtN)))
      gt.unpersist(blocking = true)
      ()
    }
  }

  /** Dense-retrieval build/search split at 100k vectors — the BM25
    * build/search pattern applied to IVF-PQ. One-call ivfPqTopK re-runs
    * pqEncode + ivfAssign over every corpus vector on EVERY query batch;
    * buildIvfPqIndex persisted cell-bucketed pays the encode once, after
    * which each batch's ivfPqTopKCoded scan reads only the ~10-byte/row
    * (id, codes, cell) table — input_bytes is the tell: the index file is
    * ~50x smaller than the float vectors. Four rows: one-call baseline,
    * one-time build+persist, search-over-persisted cold and warm.
    */
  private def denseSplit(spark: SparkSession, outDir: String,
                         probe: Probe): Unit = {
    import graft.llm.Similarity
    val emb = SparkEntry.table(spark, outDir, "embeddings")
    val queries = emb.filter(col("vec_id") >= 8 && col("vec_id") < 208)
    val nCorpus = emb.count()
    val coarse = graft.queries.QueriesLLM.firstKCodebook(emb)
    val m = 4; val sub = coarse.head.length / m
    val pqCb = Array.tabulate(m, coarse.length)((j, i) =>
      coarse(i).slice(j * sub, (j + 1) * sub))
    val qVecs = queries.orderBy("vec_id").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
    val ranking = Similarity.probeRanking(coarse)
    def row(label: String): Seq[(String, Any)] = Seq("dense" -> label,
      "n_corpus" -> nCorpus, "n_queries" -> qVecs.size)
    probe.timed(row("one_call"): _*)(noop(Similarity.ivfPqTopK(emb, "vec_id",
      "embedding", coarse, pqCb, qVecs, k = 5, nprobe = 2)))
    probe.timed(row("build_persist"): _*)(graft.etd.Sources.writeBucketed(
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", coarse, pqCb),
      "ivfpq_index_scale", s"$outDir/ivfpq_index", buckets = 32,
      bucketCols = Seq("cell"), sortCols = Seq("cell")))
    val idx = spark.table("ivfpq_index_scale")
    for (label <- Seq("search_persisted", "search_persisted_warm"))
      probe.timed(row(label): _*)(noop(Similarity.ivfPqTopKCoded(idx, "id",
        "codes", "cell", q => ranking(q).take(2), pqCb, qVecs, k = 5)))
  }

  /** BM25 build/search split at 100k docs: the lexical analogue of the
    * ANN crossover. One-call bm25TopK pays tokenize + postings + windows
    * on EVERY query batch; buildPostings + a term-bucketed persisted
    * index pays it once, after which each batch is a broadcast-sized
    * join against the index. Three rows: the one-call baseline, the
    * one-time build+persist, and search-over-persisted.
    */
  private def bm25Split(spark: SparkSession, outDir: String,
                        probe: Probe): Unit = {
    import graft.llm.Retrieval
    val docs = SparkEntry.table(spark, outDir, "documents")
    val queries = docs.filter(col("doc_id") < 3)
    val nCorpus = docs.count()
    probe.timed("bm25" -> "one_call", "n_corpus" -> nCorpus)(noop(
      Retrieval.bm25TopK(docs, "doc_id", "text", queries, "doc_id", "text", k = 5)))
    val statsPath = s"$outDir/bm25_stats.parquet"
    probe.timed("bm25" -> "build_persist", "n_corpus" -> nCorpus) {
      val (post, stats) = Retrieval.buildPostings(docs, "doc_id", "text")
      graft.etd.Sources.writeBucketed(post, "bm25_postings_scale",
        s"$outDir/bm25_postings", buckets = 32,
        bucketCols = Seq("term"), sortCols = Seq("term"))
      stats.write.mode("overwrite").parquet(statsPath)
    }
    val idx = spark.table("bm25_postings_scale")
    val stats = spark.read.parquet(statsPath)
    // twice: the second run shows the steady-state per-batch cost once
    // the OS page cache holds the index files
    for (label <- Seq("search_persisted", "search_persisted_warm"))
      probe.timed("bm25" -> label, "n_corpus" -> nCorpus)(noop(
        Retrieval.searchPostings(idx, stats, queries, "doc_id", "text", k = 5)))
  }

  /** IVF/PQ-vs-brute crossover: the registry's ann queries carry 3-10
    * broadcast query vectors, so per-query scan cost is swamped by fixed
    * overhead at any corpus size. Here 200 query vectors amortize that:
    * brute = 200 x N x 64 mults; IVF(probe 2/8) scans ~a quarter; PQ ADC
    * replaces the 64-mult dot product with 4 table adds. Timed at both
    * the 2k corpus (sf0.1) and the 100k corpus (scaled).
    */
  private def annCrossover(spark: SparkSession, srcDir: String,
                           outDir: String, probe: Probe): Unit = {
    import graft.llm.Similarity
    for (dir <- Seq(srcDir, outDir)) {
      val emb = SparkEntry.table(spark, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 200 + 8)
        .filter(col("vec_id") >= 8) // keep codebook ids out of the query set
      val nCorpus = emb.count()
      val cents = graft.queries.QueriesLLM.firstKCodebookLit(emb)
      val cbBase = graft.queries.QueriesLLM.firstKCodebook(emb)
      val m = 4; val sub = 16
      val pqCb = Array.tabulate(m, cbBase.length)((j, i) =>
        cbBase(i).slice(j * sub, (j + 1) * sub))
      val coded = emb.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), pqCb).as("codes"))
        .localCheckpoint() // encode once; time only the ADC scan below
      val qVecs = queries.orderBy("vec_id").select("vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
      for ((label, df) <- Seq[(String, () => DataFrame)](
          "brute" -> (() =>
            Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)),
          "ivf_probe2" -> (() => Similarity.ivfTopKProbed(queries, emb, "vec_id",
            "embedding", cents, k = 5, nprobe = 2)),
          "pq_adc" -> (() =>
            Similarity.pqTopK(coded, "vec_id", "codes", qVecs, pqCb, k = 5)),
          "pq_rerank_of8" -> (() => Similarity.pqRerankTopK(queries, emb,
            "vec_id", "embedding", pqCb, k = 5, overfetch = 8))))
        probe.timed("ann" -> label, "dir" -> dir, "n_corpus" -> nCorpus,
          "n_queries" -> qVecs.size)(noop(df()))
      // recall@5 vs brute (untimed; n_queries x k rows per method — a
      // bounded driver read): the QUALITY half of the speed tradeoff the
      // timed rows measure. Departures from 1.0 are the documented
      // levers (nprobe for IVF boundary misses, codebook coarseness for
      // ADC rank inversions) — at 100 TB you buy recall back with nprobe/
      // overfetch, and this line is what tells you how much to buy. The
      // rerank row IS the lever working: same coarse 8x16-centroid
      // codebook, exact-cosine re-score of the k*8 ADC survivors.
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = pairs(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5))
      val rIvf = pairs(Similarity.ivfTopKProbed(queries, emb, "vec_id",
        "embedding", cents, k = 5, nprobe = 2))
      // nprobe=4 of nlist=8: the IVF lever shown moving, not just named
      val rIvf4 = pairs(Similarity.ivfTopKProbed(queries, emb, "vec_id",
        "embedding", cents, k = 5, nprobe = 4))
      val rPq = pairs(Similarity.pqTopK(coded, "vec_id", "codes", qVecs, pqCb, k = 5))
      val rRe = pairs(Similarity.pqRerankTopK(queries, emb, "vec_id",
        "embedding", pqCb, k = 5, overfetch = 8))
      def recall(got: Set[(Long, Long)]): Double =
        if (truth.isEmpty) 1.0 else (truth & got).size.toDouble / truth.size
      println(f"""{"ann":"recall_at_5","dir":"$dir","n_corpus":$nCorpus,""" +
        f""""ivf_probe2":${recall(rIvf)}%.3f,"ivf_probe4":${recall(rIvf4)}%.3f,""" +
        f""""pq_adc":${recall(rPq)}%.3f,"pq_rerank_of8":${recall(rRe)}%.3f}""")
      // the third recall lever: CODEBOOK QUALITY. Same m/k geometry,
      // 5 Lloyd iterations over the corpus instead of the raw first-8
      // seeds — the delta between this line and the one above is what
      // codebook training buys before any nprobe/overfetch spend.
      val pqTrained = probe.timed("ann" -> "pq_train", "dir" -> dir,
          "n_corpus" -> nCorpus)(
        Similarity.pqTrain(emb, "vec_id", "embedding", m = m, k = 8, iterations = 5))
      val trainSec = probe.last.sec
      val codedT = emb.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), pqTrained).as("codes"))
        .localCheckpoint()
      val rPqT = pairs(Similarity.pqTopK(codedT, "vec_id", "codes", qVecs,
        pqTrained, k = 5))
      val rReT = pairs(Similarity.pqRerankTopK(queries, emb, "vec_id",
        "embedding", pqTrained, k = 5, overfetch = 8))
      println(f"""{"ann":"recall_at_5_trained","dir":"$dir",""" +
        f""""train_sec":$trainSec%.2f,"pq_adc":${recall(rPqT)}%.3f,""" +
        f""""pq_rerank_of8":${recall(rReT)}%.3f}""")
      graft.Checkpoints.free(codedT)
      graft.Checkpoints.free(coded)
    }
  }

  /** Key-offset copies; content perturbed so copies are not duplicates. */
  /** r17 soak (VERDICT r16 #7): the three composed flagships —
    * training-data chain, curation chain, incremental crawl — once at
    * sf0.1 and once at the 20x-documents corpus in one session, with
    * wall + shuffle/input bytes from [[Probe]]. The claim under
    * test is "nothing superlinear": the scaled/base WALL ratio should
    * sit within ~1.3x of the scaled/base INPUT ratio (the linear
    * extrapolation), and shuffle bytes should scale with input, at a
    * tier the per-round bench never touches. One run each — this is a
    * soak (does the composition survive and scale), not a median
    * benchmark; Checkpoints.sweep between runs frees each flagship's
    * lineage-cut blocks so run 2 doesn't measure run 1's memory.
    */
  private def flagshipSoak(spark: SparkSession, srcDir: String,
                           outDir: String, probe: Probe): Unit = {
    val names = Seq("q_training_data_e2e", "q_curation_e2e",
      "q_crawl_incremental")
    val registry = SparkEntry.queries ++ Bench.benchOnly
    for (name <- names) {
      val readings = for (dir <- Seq(srcDir, outDir)) yield {
        probe.timedWith("soak" -> name, "dir" -> dir) {
          try { noop(registry(name)(spark, dir)); "ok" }
          catch { case e: Throwable => s"failed: ${e.getMessage}" }
        }(status => Seq("status" -> status))
        Checkpoints.sweep(spark)
        probe.last
      }
      val (base, scaled) = (readings.head, readings.last)
      val wallRatio = scaled.sec / base.sec
      val inputRatio =
        if (base.totInput > 0) scaled.totInput.toDouble / base.totInput else -1.0
      val shuffleRatio =
        if (base.totShuffleWrite > 0)
          scaled.totShuffleWrite.toDouble / base.totShuffleWrite
        else -1.0
      println(f"""{"soak":"$name","wall_ratio":$wallRatio%.2f,""" +
        f""""input_ratio":$inputRatio%.2f,"shuffle_ratio":$shuffleRatio%.2f,""" +
        f""""linear_headroom":${wallRatio / math.max(inputRatio, 1e-9)}%.2f}""")
    }
  }

  private def generate(spark: SparkSession, srcDir: String, outDir: String,
                       probe: Probe): Unit = probe.timed("generated" -> outDir) {
    def copies(df: DataFrame, n: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => f(df, i)).reduce(_ unionByName _)

    // events x20: user_id (the household key) offsets — household COUNT
    // grows, per-house history length stays constant, exactly how the
    // real data grows; event ids offset to stay unique.
    val events = SparkEntry.table(spark, srcDir, "events")
    copies(events, 20) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 1000000L))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // documents x20: per-copy substitution cipher on common letters so
    // copies share almost no shingles (no artificial 20-way dup classes).
    val docs = SparkEntry.table(spark, srcDir, "documents")
    val alpha = "etaoinsrhl"
    copies(docs, 20) { (df, i) =>
      val rot = alpha.drop(i % alpha.length) + alpha.take(i % alpha.length)
      df.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
        .withColumn("text", translate(col("text"), alpha, rot))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // embeddings x50 -> 100k vectors; small per-copy shift keeps vectors
    // distinct; codebook/query id conventions (vec_id < 8, 10..12) match
    // only the untouched copy 0.
    val emb = SparkEntry.table(spark, srcDir, "embeddings")
    copies(emb, 50) { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L))
        .withColumn("embedding",
          transform(col("embedding"), x => x + lit(i.toFloat * 0.001f)))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // lineitem x10 -> 6M rows
    val li = SparkEntry.table(spark, srcDir, "lineitem")
    copies(li, 10) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 100000000L))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // small dims pass through unchanged for any query that joins them
    Seq("region", "nation", "customer", "supplier", "part", "orders").foreach { t =>
      if (new java.io.File(s"$srcDir/$t.parquet").exists())
        SparkEntry.table(spark, srcDir, t)
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }
}
