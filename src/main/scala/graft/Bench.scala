package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline operator queries at the driver's
  * scale factor and prints ONE JSON line.
  *
  * - Materialization is through the noop sink so every column is computed
  *   and serialized (a bare count() lets Catalyst prune the operators away
  *   — VERDICT r1).
  * - Failures are NOT silent: a failed query reports value -1 and lands in
  *   the "failed" array (ADVICE r1) — a regression that throws can't read
  *   as a speedup.
  * - The headline set covers the expensive operator families (impute
  *   windows, resample densification, project agg, weather windows,
  *   MinHash/LSH, similarity, text analysis) rather than all registered
  *   queries; correctness of the full set is Verify's job.
  */
object Bench {

  /** Bench-only queries: timed per round but NOT part of the oracle
    * correctness gate (their column-level correctness is spec-pinned;
    * see each definition's doc).
    */
  val benchOnly: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "q_pipeline_full13" -> (graft.queries.QueriesEtd.q_pipeline_full13 _),
      "q_pipeline_full13_calculated" ->
        (graft.queries.QueriesEtd.q_pipeline_full13_calculated _),
      "q_image_neardup_e2e" -> (graft.queries.QueriesLLM.q_image_neardup_e2e _),
      "q_bm25_indexed" -> (searchPreparedBm25 _))

  /** Session-prepared BM25 postings index ([[prepareBm25Index]]) — the
    * "build once, query many" half of the Retrieval build/search split.
    * `q_bm25_topk` keeps timing the one-call rebuild form for comparison;
    * this entry times what a serving deployment actually pays per batch:
    * a TERM-bucketed, term-sorted parquet index (the deployment
    * `Retrieval.buildPostings`'s doc prescribes) searched with the query
    * batch's terms pushed into the scan
    * ([[graft.llm.Retrieval.searchPostingsPruned]]). The earlier
    * in-memory `.persist()` stand-in measured a probe of the WHOLE
    * cached index per batch — 2× the CPU of a full rebuild at sf0.1
    * (PERFNOTES r15); the pruned bucketed form reads only the query
    * terms' row groups, which is the shape that survives a 100 TB
    * archive.
    */
  private var bm25Index: Option[org.apache.spark.sql.DataFrame] = None
  private var bm25IndexDir: Option[java.nio.file.Path] = None
  private val bm25Table = "bm25_bench_postings"

  private def prepareBm25Index(spark: SparkSession, dir: String): Unit = {
    val docs = SparkEntry.table(spark, dir, "documents")
    val (post, stats) =
      graft.llm.Retrieval.buildPostings(docs, "doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_bench_idx")
    graft.etd.Sources.writeBucketed(post, bm25Table,
      tmp.resolve("postings").toString, buckets = 8,
      bucketCols = Seq("term"), sortCols = Seq("term"))
    val s = stats.persist()
    s.count() // materialize: timed searches measure search only
    bm25Index = Some(s)
    bm25IndexDir = Some(tmp)
  }

  private def searchPreparedBm25(spark: SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame = {
    val stats = bm25Index.getOrElse(
      sys.error("q_bm25_indexed: prepareBm25Index was not run"))
    val docs = SparkEntry.table(spark, dir, "documents")
    graft.llm.Retrieval.searchPostingsPruned(spark.table(bm25Table), stats,
      docs.filter(org.apache.spark.sql.functions.col("doc_id") < 3),
      "doc_id", "text", k = 5)
  }

  private def dropBm25Index(spark: SparkSession): Unit = {
    if (bm25Index.isDefined)
      spark.sql(s"DROP TABLE IF EXISTS $bm25Table")
    bm25Index = None
    bm25IndexDir.foreach { p =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(p.toFile)
    }
    bm25IndexDir = None
  }

  /** Untimed per-query preparation; its persisted state survives the
    * inter-run sweeps (and is dropped when the query's runs finish).
    */
  val setup: Map[String, (SparkSession, String) => Unit] =
    Map("q_bm25_indexed" -> (prepareBm25Index _))

  // ---- environment telemetry (task: self-diagnosing bench, VERDICT r12 #1)
  // BENCH_r12 read 3.66x on unchanged code because the HOST was contended
  // (sbt wall 640s vs 199s for the identical run); the JSON recorded
  // nothing that could distinguish that from a real regression. These
  // probes make a poisoned run self-identify: external CPU burn is
  // measured directly (whole-box busy jiffies minus this JVM's own CPU),
  // not inferred from timings.

  /** (1m, 5m, 15m) load averages; None off-Linux. */
  private def loadavg: Option[Seq[Double]] =
    scala.util.Try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split("\\s+").take(3).toSeq.map(_.toDouble)
      finally s.close()
    }.toOption

  private lazy val clkTck: Double =
    scala.util.Try(sys.process.Process("getconf CLK_TCK").!!.trim.toDouble)
      .getOrElse(100.0)

  /** `/proc/stat` aggregate-line jiffy fields (user nice system idle
    * iowait irq softirq steal …); None off-Linux.
    */
  private def procStatFields: Option[Array[Long]] =
    scala.util.Try {
      val s = scala.io.Source.fromFile("/proc/stat")
      try s.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally s.close()
    }.toOption

  /** Whole-box busy CPU time in seconds since boot (user+nice+system+
    * irq+softirq+steal from /proc/stat's aggregate line); None off-Linux.
    */
  private def boxBusySec: Option[Double] =
    procStatFields.map { f =>
      (f(0) + f(1) + f(2) + f.lift(5).getOrElse(0L) +
        f.lift(6).getOrElse(0L) + f.lift(7).getOrElse(0L)).toDouble / clkTck
    }

  /** Whole-box iowait seconds since boot (/proc/stat aggregate col 5).
    * The r15 gap: a box can pass the external-CPU test cold while every
    * read stalls on a saturated disk / evicted page cache — BENCH_r15
    * burned 658 s of wall where the judge's identical-binary rerun took
    * 255 s, with cpu/wall ratios collapsed and external CPU at 0.13
    * cores (VERDICT r15 #1). Iowait is the direct signal for that third
    * contention mode.
    */
  private def boxIowaitSec: Option[Double] =
    procStatFields.flatMap(_.lift(4)).map(_.toDouble / clkTck)

  /** This JVM's cumulative major page faults (/proc/self/stat field 12
    * — parsed after the last ')' so an exotic thread name can't shift
    * the split). Major faults mean OUR reads went to disk: a page-cache
    * squeeze by a foreign workload shows up here even when iowait is
    * attributed to the other process.
    */
  private def procMajorFaults: Option[Long] =
    scala.util.Try {
      val s = scala.io.Source.fromFile("/proc/self/stat")
      val text = try s.mkString finally s.close()
      // fields after the comm ')': state(3) ppid(4) ... majflt(12)
      text.substring(text.lastIndexOf(')') + 2).split(" ")(9).toLong
    }.toOption

  /** This JVM's cumulative process CPU seconds. */
  private def procCpuSec: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Locale-pinned decimal (an f-interpolator in a comma-decimal locale
    * would corrupt the JSON). */
  private def num(v: Double, decimals: Int = 2): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(v))

  private def jsonArr(xs: Option[Seq[Double]]): String =
    xs.fold("null")(_.map(num(_)).mkString("[", ",", "]"))

  /** A query's pinned reference readings — what [[alertReasons]] and
    * `load_offset_estimate` compare a measurement against.
    *
    * `medianSec`: the clean-run median from BENCH_REFERENCE.md (the
    * pinned budgets — that table is the source of truth; [[pins]] is its
    * machine-readable copy). The median of measured/reference ratios
    * over these makes a uniform environment offset self-report in the
    * bench JSON: r13→r14 ran bit-identical binaries and still moved −24%
    * in aggregate on a quieter box (VERDICT r14) — without that field
    * only a second run could tell that from a real regression.
    *
    * `cpuWall`: the process-CPU/wall ratio — mean of two clean
    * same-binary sessions (the r16 judge protocol run at offset 1.15
    * and the r17 builder run at offset 1.03). The WITHIN-RUN contention
    * signal VERDICT r16 #1 demanded: a scheduler/I-O-starved query's
    * cpu/wall COLLAPSES relative to its pin (BENCH_r16's poisoned
    * q_simhash read 1.16 against a 1.9-2.6 clean history) while its
    * wall inflates — a combination no real plan regression produces
    * (regressions keep the cores busy). Clean sessions sit within
    * ~0.8-1.2x of these pins; the alert threshold is 0.7x AND 1.5x
    * wall, so both gates must trip together.
    *
    * `cpuSec`: process-CPU SECONDS (VERDICT r18 #4 — the
    * LOAD-INDEPENDENT second gate): the per-query CEILING of two clean
    * same-binary r19 protocol readings (offsets 1.02 / 1.04; see
    * BENCH_REFERENCE.md's CPU column). Ceiling, not median: measured
    * session-to-session CPU spread reaches ~1.9x on sub-second queries
    * (JIT/GC attribution noise dominates tiny readings), so pinning the
    * ceiling keeps every clean session comfortably under the 2.5x alert
    * line while a real 3x plan regression still clears it. Wall on this
    * box drifts ±30% on identical binaries over a day (PERFNOTES r18
    * close: 71.2 s at offset 0.92 in the morning vs 97.3 s at 1.20 in
    * the evening — an environment-level parallel-throughput cap);
    * per-query process-CPU is what the query actually computes and
    * moves only when the PLAN moves, so a real regression trips
    * [[alertReasons]]'s `cpu_vs_pin` even on a day the wall offset
    * would absorb it, and a drifted wall alone never does.
    * r21 (VERDICT r20 #7): ceilings re-derived with a THIRD clean
    * session — per-query max of the r19-derived pins and the r21
    * closing clean protocol run (BENCH_r21_full.json, offset 1.14,
    * contended false, alerts {}). q_pipeline_full13's ceiling reflects
    * the r21 cascade optimization (215 -> 145 CPU-s on the new plan);
    * rows the r21 box read hotter than r19 (q_hits, q_pagerank,
    * q_jaccard_join, …) widen toward the ceiling as designed.
    */
  final case class Pin(medianSec: Double, cpuWall: Double, cpuSec: Double)

  /** The timed queries, in timing order — representative heavy queries,
    * one per operator family — each with its [[Pin]]. A query without
    * a row is not timed; one outside the table still gets dispersion
    * cover from [[alertReasons]].
    */
  val pins: Seq[(String, Pin)] = Seq(
    "q_agg_pricing" -> Pin(0.50, 3.57, 1.26),
    "q_pipeline_e2e" -> Pin(3.49, 3.65, 13.97),
    "q_pipeline_full13" -> Pin(15.18, 10.87, 145.09),
    "q_i7_impute_cascade" -> Pin(1.63, 3.49, 8.23),
    "q_i1_avg_diff" -> Pin(1.64, 2.47, 3.65),
    "q_i10_summary_house" -> Pin(2.28, 3.67, 9.70),
    "q_i11_cumsum_rebuild" -> Pin(0.88, 1.96, 1.96),
    "q_i13_energy_balance" -> Pin(0.61, 1.83, 1.71),
    "q_a8_resample" -> Pin(0.71, 2.38, 1.68),
    "q_a6a7_project_agg" -> Pin(0.57, 1.72, 1.15),
    "q_w1_rolling" -> Pin(0.37, 1.73, 0.84),
    "q_w12_mark_coldest" -> Pin(0.27, 2.30, 0.68),
    "q_weather_table" -> Pin(0.98, 2.79, 3.30),
    "q_j3_weather_join" -> Pin(0.96, 2.56, 3.47),
    "q_dedup_exact" -> Pin(0.23, 2.95, 0.70),
    "q_dedup_spans" -> Pin(0.56, 2.63, 1.13),
    "q_minhash_sig" -> Pin(0.34, 1.89, 0.86),
    "q_minhash_fast" -> Pin(1.36, 4.16, 6.72),
    "q_lsh_pairs" -> Pin(1.07, 1.47, 1.17),
    "q_near_dup_jaccard" -> Pin(1.16, 2.57, 2.78),
    "q_jaccard_join" -> Pin(1.25, 2.55, 3.41),
    "q_simhash" -> Pin(0.35, 1.90, 1.12),
    "q_embed_cosine_dup" -> Pin(0.98, 1.28, 1.43),
    "q_embed_dup_ivf" -> Pin(0.46, 2.65, 1.17),
    "q_ann_topk" -> Pin(0.27, 1.93, 0.56),
    "q_ann_pq" -> Pin(0.44, 1.74, 1.07),
    "q_ann_ivfpq" -> Pin(0.45, 2.09, 1.15),
    "q_bpe_pairs" -> Pin(0.41, 2.27, 0.79),
    "q_text_quality" -> Pin(0.35, 1.62, 0.59),
    "q_text_fingerprint" -> Pin(0.24, 1.45, 0.47),
    "q_text_bigram_lm" -> Pin(1.06, 1.90, 2.94),
    "q_kn_score" -> Pin(1.89, 3.41, 7.75),
    "q_bm25_topk" -> Pin(0.60, 2.03, 2.45),
    "q_bm25_indexed" -> Pin(0.56, 3.24, 2.90),
    "q_bm25_incremental" -> Pin(0.75, 3.03, 3.35),
    "q_contamination_bloom" -> Pin(0.54, 1.89, 1.85),
    "q_curation_e2e" -> Pin(3.24, 2.03, 8.27),
    "q_image_neardup_e2e" -> Pin(1.90, 2.17, 5.40),
    "q_cc_pipeline" -> Pin(1.02, 2.12, 2.94),
    "q_asof_join" -> Pin(0.33, 2.30, 1.05),
    "q_pagerank" -> Pin(3.53, 3.70, 21.49),
    // r12-new operator tier (VERDICT r12 #7): green oracles, now with a
    // round-over-round perf track
    "q_fuzzy_join" -> Pin(0.50, 3.62, 2.39),
    // median re-pinned r21 (VERDICT r19 #5): median of five clean
    // protocol readings r17-r21 (0.454/0.463/0.468/0.507/0.577) — the
    // 0.31 r13-era pin predates stages the fold has since gained; wall
    // is the per-stage scheduling floor (~0.3 s task CPU total), not a
    // plan regression. BENCH_REFERENCE.md carries the audit.
    "q_profile_fold" -> Pin(0.47, 3.05, 1.42),
    "q_warc_roundtrip" -> Pin(0.52, 1.56, 1.13),
    "q_wordpiece_tokens" -> Pin(0.66, 1.67, 2.06),
    // r15-new: incremental crawl intake and the two-level codebook
    // (medians pinned r16 from three clean readings, the r12-tier
    // precedent); the other r15 oracle rows (q_semdedup_table,
    // q_bm25_pruned) time near-identical plans to existing rows and
    // stay Verify-only
    "q_crawl_incremental" -> Pin(3.72, 1.60, 5.86),
    "q_semdedup_twolevel" -> Pin(0.82, 2.38, 2.36),
    // r16-new: the training-data flagship chain (intake → curation
    // ledger → mixture → packing, one hash-checked composition); median
    // pinned from three clean r16 readings
    "q_training_data_e2e" -> Pin(6.52, 1.71, 10.91),
    // r17-new corpus-scale crawl-gate rows (the fixture-grain robots/
    // frontier queries stay Verify-only). Medians from three clean r17
    // full-protocol readings at offsets 1.12-1.28 (0.52/0.41/0.46 and
    // 0.22/0.23/0.28, offset-adjusted medians); cpu/wall the mean of
    // warm isolation runs (SPARK_GRAFT_BENCH_ONLY, runs 2-5, quiet box)
    "q_blocklist_filter" -> Pin(0.40, 2.2, 1.07),
    "q_sitemap_entries" -> Pin(0.20, 2.7, 0.56),
    // r17 session-3: HITS (second graph iteration), the asymmetric
    // containment join (prefix+full-index SSJoin variant), vector-space
    // cosine over the postings build, and phrase search over the
    // positional index (q_proximity_search and q_url_traps are
    // map-side/fixture-grain — Verify-only, the r17 precedent). Medians
    // from three clean full-protocol readings at offsets 0.93-0.95
    // (q_hits from the two post-checkpointEvery-fix protocol readings +
    // warm isolation); cpu/wall the medians of the post-fix per-run
    // readings (q_hits re-pinned after the per-round materialization
    // cut its redundant parallel work: 7.0 -> 3.8 at unchanged wall)
    "q_hits" -> Pin(6.10, 3.8, 19.22),
    "q_containment_join" -> Pin(1.15, 2.1, 3.51),
    "q_tfidf_cosine" -> Pin(1.03, 2.6, 3.93),
    "q_phrase_search" -> Pin(0.42, 1.9, 0.93),
    // r18-new: the pre-fetch crawl-loop flagship (sitemap two-level
    // round-trip → trap gate → robots → slot schedule → budget quotas
    // → anchor votes, one hash-checked composition). Median pinned from
    // the first clean 5-run block (median 7.84) and a 3-run block
    // (median 7.38), quiet box; the wall is ~40 small scheduler jobs
    // (pageRank rounds, apportion collects, broadcasts) over
    // fixture-grain data — orchestration floor, not data work. cpu/wall
    // the median of the first clean block's per-run readings
    // (4.0/3.0/2.6)
    "q_crawl_loop_e2e" -> Pin(7.40, 3.0, 15.31))

  /** The timing order: [[pins]]' keys. */
  val headline: Seq[String] = pins.map(_._1)

  private val pinOf: Map[String, Pin] = pins.toMap

  /** The per-query within-run alert decision (VERDICT r16 #1), pure so
    * the poisoned-artifact histories pin it in BenchDetectorSpec:
    *  - `dispersion`: the query's own runs disagree >2x median/min
    *    (BENCH_r15's poisoned rows were bimodal inside one run);
    *  - `cpu_wall_collapse`: measured cpu/wall < 0.7x the pinned ratio
    *    WHILE median wall > 1.5x the pinned median — stolen cores, not
    *    a plan regression (regressions keep the cores busy);
    *  - `slow_vs_pin`: median > 2.5x the pinned median (r16's poisoned
    *    q_simhash read 20x; the JIT-warm-up families max out ~1.6x);
    *  - `cpu_vs_pin` (r19, VERDICT r18 #4): median process-CPU seconds
    *    > 2.5x the pinned CPU — the LOAD-INDEPENDENT regression gate.
    *    Wall drifts ±30% on identical binaries (the r18 morning/evening
    *    71.2 vs 97.3 s pair); CPU seconds move only with the plan, so
    *    this fires on a real regression even when a drifted-slow day
    *    would let the wall gates absorb it, and never on drift alone.
    * Every ratio gate ALSO requires an absolute excess over its pin
    * (+1 s wall, +2 s CPU — r19 close): the contended-evening runs
    * showed sub-second rows alerting from environment alone (one GC
    * attributes whole CPU-seconds to whichever tiny query it lands
    * on). DELIBERATE blind spot: a query whose pin is small enough
    * that 2.5x never clears the floor (wall pin < ~0.67 s, CPU pin
    * < ~1.33 s) cannot fire its ratio gate at all — a sub-second-row
    * regression is immaterial to the 55-query total, still has
    * dispersion cover, and grows into the gates the moment it matters
    * (the r16 poisons sat 7-18 s over their pins).
    * Any reason ⇒ the caller re-runs the whole block once; a rerun
    * that is alert-free is kept outright (so a GC-poisoned CPU reading
    * can't ride a marginally-smaller wall median into the artifact),
    * otherwise the smaller-median block wins. Only reasons that RECUR
    * in the rerun stay in the headline `alerts` map; the rest report
    * under `alerts_resolved`.
    */
  def alertReasons(name: String, medianSec: Double, dispersion: Double,
                   cpuWall: Double, cpuSec: Double = -1.0): List[String] = {
    val pin = pinOf.get(name)
    // Absolute-excess floors under the ratios (r19 close): on a
    // contended evening box the sub-second rows alert from environment
    // alone — wall 0.46→1.15 s scheduler noise, and a single full GC
    // attributes whole CPU-seconds to whichever tiny query it lands on
    // (three same-day runs of near-identical binaries read total CPU
    // 284.8/345.9/378.9 s). A regression worth a rerun clears these
    // floors by an order of magnitude (the r16 poisoned q_simhash sat
    // +6.8 s wall over its 0.35 pin); a noise spike on a 0.5 s row
    // does not.
    val wallExcess = 1.0
    val cpuExcess = 2.0
    List(
      if (dispersion > 2.0) Some("dispersion") else None,
      if (cpuWall > 0 && pin.exists(p => cpuWall < 0.7 * p.cpuWall &&
          medianSec > 1.5 * p.medianSec &&
          medianSec > p.medianSec + wallExcess)) Some("cpu_wall_collapse")
      else None,
      if (pin.exists(p => medianSec > 2.5 * p.medianSec &&
          medianSec > p.medianSec + wallExcess)) Some("slow_vs_pin")
      else None,
      if (cpuSec > 0 && pin.exists(p => cpuSec > 2.5 * p.cpuSec &&
          cpuSec > p.cpuSec + cpuExcess)) Some("cpu_vs_pin")
      else None).flatten
  }

  /** Why a run is `contended`; empty means it is not. The flag marks
    * "do not read this round-over-round", it does not grade severity, so
    * the thresholds are deliberately coarse:
    *   - `external_cpu`: a foreign workload held more than 1/8 of the box
    *     during the timed section (`externalCores`, own CPU subtracted);
    *   - `loaded_before`: the 1-minute loadavg exceeded 1/4 of the box
    *     before the run started — read before the JVM's own warm-up, so
    *     the warm-up cannot flag its own run;
    *   - `iowait`: the run spent more than one core-equivalent stalled
    *     on I/O (`iowaitSec` > `wallSec`);
    *   - `load_offset`: the run landed above 1.5x the pinned medians
    *     overall (the hard rule VERDICT r15 added after BENCH_r15's
    *     CPU-clean 2.5x poisoning: a uniform landing on a 47-query set is
    *     an environment, not 47 regressions);
    *   - `unresolved`: four or more queries still above 2.5x their pin
    *     after the reruns (one or two is a plausible real regression; four
    *     at once is an environment the reruns could not outrun).
    */
  def contendedReasons(nCpus: Int, loadBefore: Option[Seq[Double]],
                       externalCores: Option[Double],
                       iowaitSec: Option[Double], wallSec: Double,
                       loadOffset: Option[Double],
                       unresolved: Int): List[String] =
    List(
      if (externalCores.exists(_ > nCpus / 8.0)) Some("external_cpu") else None,
      if (loadBefore.exists(_.head > nCpus / 4.0)) Some("loaded_before") else None,
      if (iowaitSec.exists(_ > wallSec)) Some("iowait") else None,
      if (loadOffset.exists(_ > 1.5)) Some("load_offset") else None,
      if (unresolved >= 4) Some("unresolved") else None).flatten

  private val registry = SparkEntry.queries ++ benchOnly

  private def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The untimed warm-up: runs each of `names` once on `dir` through the
    * timed loop's own per-query setup and teardown ([[setup]], then
    * [[dropBm25Index]] and a full [[Checkpoints.sweep]]), so it leaves
    * no state behind — nothing a timed run can reuse as precomputation.
    * Returns the names that threw.
    *
    * Why every query, not just the first: the JIT and codegen cost of a
    * query's first execution lands inside whichever timed block runs it
    * first, so a cold reading depends on what ran before it. The
    * measured cold-JVM decays: q_i7_impute_cascade ~47 CPU-seconds of
    * C2/janino compilation, runs 12.3 → 5.3 → 3.3 → 3.0 s at cpu/wall
    * 4.6 → 3.3 with gc and major faults negligible (VERDICT r15 #2,
    * attributed r16), enough that its 3-run MEDIAN was bimodal across
    * clean sessions; q_i10_summary_house 5.1 → 4.5 → 4.7 → 4.3 → 3.0 s
    * in isolation; q_kn_score 4.97 → 2.39 → 2.03 → 1.94 s at cpu/wall
    * 5.9 → 3.6, a protocol median 1.5-1.6x its pin (VERDICT r16 #5);
    * q_training_data_e2e 13.66 s cold vs 6.18 s once rerun (VERDICT r17
    * #2); q_fuzzy_join's first block ~2× its 0.50 s pin in two of three
    * clean r19 sessions while the rerun read 0.52 s. One pass over every
    * selected query at the smallest scale factor covers those families
    * and any later one alike (codegen classes are data-independent).
    */
  private[graft] def warmUp(spark: SparkSession, dir: String,
                            names: Seq[String]): Seq[String] =
    names.filter { name =>
      try {
        setup.get(name).foreach(_(spark, dir))
        materialize(registry(name)(spark, dir))
        false
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] warm-up $name failed: " +
            s"${e.getClass.getName}: ${e.getMessage}")
          true
      } finally {
        dropBm25Index(spark)
        Checkpoints.sweep(spark)
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir(None)
    // the driver contract is local[32] (32 executor threads), Harness's
    // default; SPARK_GRAFT_CPUS exists only for local iteration on
    // smaller boxes
    val spark = Harness.session()
    // a serving query batch's term set is routinely > the default 10.
    // On THIS Spark (4.1.2) the reader pushes large In predicates
    // natively — the r19 retrievalscale10 A/B measured byte-identical
    // reads with and without this conf — so it is belt-and-braces for
    // older readers, not load-bearing (PERFNOTES r19)
    spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
    SchemaCanary.warn(spark, sfDir)

    // ---- pre-flight gate (VERDICT r16 #1): two consecutive driver
    // rounds started onto an already-loaded box (r16's loadavg was 4.0
    // at run start) and produced non-comparable artifacts. Delay the
    // timed section while the 1-minute loadavg exceeds nCpus/8, bounded
    // so a busy-forever box still benches (flagged) rather than hangs.
    val nCpus = Runtime.getRuntime.availableProcessors()
    val preflightThreshold = nCpus / 8.0
    val preflightMaxWaitSec = sys.env.getOrElse(
      "SPARK_GRAFT_PREFLIGHT_MAX_WAIT", "90").toInt
    var preflightWaited = 0
    while (loadavg.exists(_.head > preflightThreshold) &&
           preflightWaited < preflightMaxWaitSec) {
      System.err.println(f"[bench] preflight: loadavg ${loadavg.fold(0.0)(_.head)}%.2f" +
        f" > ${preflightThreshold}%.1f — waiting (${preflightWaited}s)")
      Thread.sleep(5000)
      preflightWaited += 5
    }

    // iteration aid: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times (and warms)
    // just those headline entries (unset for the full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(headline)(s => headline.filter(s.contains))
    // the load the run starts onto: read after the preflight wait and
    // before the warm-up, whose own full load on every core would
    // otherwise read as an already-loaded box
    val loadBefore = loadavg
    val warm0 = System.nanoTime()
    val warmupFailed = warmUp(spark, SparkEntry.smokeDir, selected)
    System.err.println(f"[bench] warm-up: ${selected.size} queries, " +
      f"${(System.nanoTime() - warm0) / 1e9}%.1fs untimed, " +
      s"failed ${warmupFailed.mkString("[", ",", "]")}")

    // Each query runs `runs` times and reports the MEDIAN: single runs on
    // this box drift +/-30% between rounds on identical binaries (VERDICT
    // r7 measured +9.5% total on zero code change), which drowns real
    // regressions. Medians make round-over-round deltas attributable.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    var failed = List.empty[String]
    import scala.jdk.CollectionConverters._
    def gcMillis: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val boxBusy0 = boxBusySec
    val iowait0 = boxIowaitSec
    val majFaults0 = procMajorFaults
    val procCpu0 = procCpuSec
    val wall0 = System.nanoTime()
    var cpuRatios = List.empty[(String, Double)]
    var cpuSecs = List.empty[(String, Double)]
    var dispersions = List.empty[(String, Double)]
    // (name, reasons, first median, rerun median) per alerted query
    var alerts = List.empty[(String, List[String], Double, Double)]
    var resolved = List.empty[(String, List[String], Double, Double)]
    val results = selected.map { name =>
      registry.get(name) match {
        case Some(fn) =>
          try {
            setup.get(name).foreach { prep =>
              val t0 = System.nanoTime()
              prep(spark, sfDir)
              System.err.println(f"[bench] $name setup: " +
                f"${(System.nanoTime() - t0) / 1e9}%.2fs (untimed)")
            }
            // spare the setup's deliberately-persistent state from the
            // inter-run sweeps; everything else a run leaves behind
            // (lazy-checkpoint cuts, stray caches) is freed so run r+1
            // measures the query, not run r's residue (VERDICT r10 #1)
            val keep = Checkpoints.persistentIds(spark)
            def timedBlock(tag: String): Seq[(Double, Double, Double)] =
              (1 to runs).map { r =>
                val g0 = gcMillis
                val c0 = procCpuSec
                val t0 = System.nanoTime()
                materialize(fn(spark, sfDir))
                val sec = (System.nanoTime() - t0) / 1e9
                // process-CPU per run (and its /wall ratio): on a quiet
                // local[32] box a CPU-bound query's ratio is stable
                // round-over-round; a collapsed ratio on unchanged code
                // means the host stole the cores, not that the plan
                // regressed (VERDICT r12 #1). The raw CPU seconds are
                // the r19 load-independent gate ([[Pin]]'s `cpuSec`).
                val cpu = if (c0 < 0) -1.0 else procCpuSec - c0
                val ratio = if (c0 < 0) -1.0 else cpu / sec
                // per-run detail to stderr: medians hide run-over-run
                // drift (state accumulation, JIT, GC) — this line is how
                // a 2x median discrepancy gets attributed (VERDICT r8 #1)
                System.err.println(
                  f"[bench] $name $tag $r: $sec%.2fs gc=${gcMillis - g0}ms " +
                    f"cpu/wall=$ratio%.1f cpu=$cpu%.2fs")
                Checkpoints.sweep(spark, keep) // after the clock stops
                (sec, ratio, cpu)
              }
            // ---- within-run contention signals (VERDICT r16 #1: the
            // whole-run offset detector was evaded twice; a poisoned
            // QUERY self-identifies inside one run):
            //  dispersion   — the runs of one query disagree >2x
            //                 median/min (a 20x-inflated reading never
            //                 inflates all runs equally);
            //  cpu_wall_collapse — measured cpu/wall < 0.7x its pinned
            //                 ratio WHILE wall > 1.5x its pinned median
            //                 (cores were stolen; a real plan regression
            //                 keeps them busy);
            //  slow_vs_pin  — median > 2.5x the pinned median.
            // Any alert => re-run the whole block ONCE and report the
            // cleaner (smaller-median) block, so one transiently-stolen
            // scheduling window can no longer poison the round artifact.
            // A REAL regression reproduces in the rerun and stays slow.
            def stats(b: Seq[(Double, Double, Double)])
                : (Double, Double, Double, Double) = {
              val walls = b.map(_._1)
              (median(walls),
                median(walls) / math.max(walls.min, 1e-3),
                median(b.map(_._2)),
                median(b.map(_._3)))
            }
            val first = timedBlock("run")
            val (med1, disp1, cpu1, cpuSec1) = stats(first)
            val reasons = alertReasons(name, med1, disp1, cpu1, cpuSec1)
            val chosen =
              if (reasons.isEmpty) first
              else {
                System.err.println(s"[bench] $name ALERT " +
                  s"(${reasons.mkString("+")}): median ${num(med1)}s " +
                  s"disp ${num(disp1)} cpu/wall ${num(cpu1)} " +
                  s"cpu ${num(cpuSec1)}s — auto-rerun")
                val second = timedBlock("rerun")
                val (med2, disp2, cpu2, cpuSec2) = stats(second)
                // a REAL regression reproduces in the rerun (the
                // documented contract); a transient steal does not —
                // an alert is PERSISTENT only when the SAME reason
                // recurs (a rerun-only transient, e.g. one anomalously
                // fast run tripping dispersion, must not relabel a
                // self-resolved alert as persistent under a reason
                // that never reproduced). Self-resolved entries keep
                // full detail under `alerts_resolved`.
                val reasons2 = alertReasons(name, med2, disp2, cpu2, cpuSec2)
                val recurring = reasons.intersect(reasons2)
                if (recurring.nonEmpty) alerts ::= (name, recurring, med1, med2)
                else resolved ::= (name, reasons, med1, med2)
                // keep the alert-free block when one exists — selecting
                // on wall median alone could publish the FIRST block's
                // poisoned CPU reading (GC-inflated cpu_vs_pin at a
                // clean wall) into cpu_sec while reporting "resolved"
                if (reasons2.isEmpty) second
                else if (med2 < med1) second else first
              }
            val (medF, dispF, cpuF, cpuSecF) = stats(chosen)
            cpuRatios ::= (name, cpuF)
            cpuSecs ::= (name, cpuSecF)
            dispersions ::= (name, dispF)
            name -> medF
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              failed ::= name
              name -> -1.0
          } finally {
            dropBm25Index(spark)
            Checkpoints.sweep(spark) // drop setup state too
          }
        case None =>
          // a renamed registry entry must surface as a FAILURE, not a
          // silently-shorter total that reads as a speedup
          System.err.println(s"[bench] $name missing from SparkEntry.queries")
          failed ::= name
          name -> -1.0
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum

    // ---- environment block: was THIS run's box quiet? (VERDICT r12 #1)
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val procCpu = procCpuSec - procCpu0
    // cores of CPU burned by processes OTHER than this JVM while the
    // bench ran — the direct contention measurement (sbt/driver wrappers
    // are idle while the fork runs, so anything beyond ~1 core external
    // is a foreign workload)
    val externalCores = boxBusySec.flatMap(b1 => boxBusy0.map(b0 =>
      ((b1 - b0) - procCpu) / wallSec))
    // I/O-starvation deltas over the run (VERDICT r15 #1): whole-box
    // iowait seconds and this JVM's major page faults. A disk- or
    // page-cache-starved run passes the external-CPU test (the thief
    // burns no cores) but cannot hide from these.
    val iowaitDelta = boxIowaitSec.flatMap(i1 => iowait0.map(i1 - _))
    val majFaultDelta = procMajorFaults.flatMap(m1 => majFaults0.map(m1 - _))
    // uniform-environment offset: median measured/reference over the
    // pinned rows that ran (see BENCH_REFERENCE.md "Reading
    // load_offset_estimate"); robust to a few real regressions
    val offsets = for ((name, sec) <- results if sec >= 0;
                       pin <- pinOf.get(name)) yield sec / pin.medianSec
    val loadOffsetNum = if (offsets.isEmpty) None else Some(median(offsets))
    val loadOffset = loadOffsetNum.fold("null")(num(_, 2))
    // queries whose FINAL (post-rerun) median still exceeds 2.5x pin
    val unresolved = results.count { case (name, sec) =>
      sec >= 0 && pinOf.get(name).exists(sec > 2.5 * _.medianSec)
    }
    val contended = contendedReasons(nCpus, loadBefore, externalCores,
      iowaitDelta, wallSec, loadOffsetNum, unresolved).nonEmpty
    val env = List(
      "\"loadavg_before\":" + jsonArr(loadBefore),
      "\"loadavg_after\":" + jsonArr(loadavg),
      "\"cpus\":" + nCpus,
      "\"wall_sec\":" + num(wallSec, 1),
      "\"proc_cpu_sec\":" + num(procCpu, 1),
      "\"external_cpu_cores\":" + externalCores.fold("null")(num(_)),
      "\"iowait_sec\":" + iowaitDelta.fold("null")(num(_, 1)),
      "\"major_faults\":" + majFaultDelta.fold("null")(_.toString),
      "\"preflight_wait_sec\":" + preflightWaited
    ).mkString("{", ",", "}")
    val ratios = cpuRatios.reverse
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // per-query process-CPU seconds (r19, VERDICT r18 #4): the
    // load-independent readings the `cpuSec` pins gate. Full payload
    // only — the stdout line must stay inside the driver's 2000-char
    // tail window (the BENCH_r16 truncation lesson)
    val cpuSecsJson = cpuSecs.reverse
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val cpuTotal = cpuSecs.map(_._2).filter(_ >= 0).sum
    val dispJson = dispersions.reverse
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val alertsFullJson = alerts.reverse
      .map { case (k, rs, _, _) => "\"" + k + "\":\"" + rs.mkString("+") + "\"" }
      .mkString("{", ",", "}")
    // compact alert map for stdout; full detail in the payload file. A
    // massively-poisoned run (dozens of alerts) would overflow the
    // driver's 2000-char tail window — collapse to a count there (the
    // run is contended anyway; bench_last.json has every entry)
    val alertsCompactJson =
      if (alerts.size <= 6) alertsFullJson
      else s"""{"_alert_count":"${alerts.size}"}"""
    val resolvedFullJson = resolved.reverse
      .map { case (k, rs, _, _) => "\"" + k + "\":\"" + rs.mkString("+") + "\"" }
      .mkString("{", ",", "}")
    val resolvedCompactJson =
      if (resolved.size <= 6) resolvedFullJson
      else s"""{"_resolved_count":"${resolved.size}"}"""
    val alertDetail = (alerts.reverse.map { case (k, rs, m1, m2) =>
      s"""{"query":"$k","reasons":${rs.map("\"" + _ + "\"").mkString("[", ",", "]")},"persisted":true,"first_median":${num(m1, 3)},"rerun_median":${num(m2, 3)}}"""
    } ++ resolved.reverse.map { case (k, rs, m1, m2) =>
      s"""{"query":"$k","reasons":${rs.map("\"" + _ + "\"").mkString("[", ",", "]")},"persisted":false,"first_median":${num(m1, 3)},"rerun_median":${num(m2, 3)}}"""
    }).mkString("[", ",", "]")
    val warmupFailedJson = warmupFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val shared = s""""unit":"sec","failed":$failedJson,"sf":"$sfDir","runs_per_query":$runs,"stat":"median","env":$env,"contended":$contended,"load_offset_estimate":$loadOffset"""
    // STDOUT line is the driver artifact and the driver keeps only a
    // 2000-char stdout tail (BENCH_r16.json: 'parsed: null' with the
    // line's head cut off). Keep it COMPACT — 3-decimal query seconds
    // (ms precision; pins carry 2), no per-query ratio maps — so the
    // whole line + sbt's trailing [success] fit the window. The
    // lossless full-precision payload goes to bench_last.json.
    val qsCompact = results.map { case (k, v) => "\"" + k + "\":" + num(v, 3) }
      .mkString("{", ",", "}")
    val stdoutLine =
      s"""{"metric":"total","value":${num(total, 3)},"queries":$qsCompact,$shared,"cpu_total_sec":${num(cpuTotal, 1)},"alerts":$alertsCompactJson,"alerts_resolved":$resolvedCompactJson}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"queries":$qs,$shared,"cpu_total_sec":${num(cpuTotal, 1)},"alerts":$alertsFullJson,"alerts_resolved":$resolvedFullJson,"cpu_wall_ratio":$ratios,"cpu_sec":$cpuSecsJson,"dispersion":$dispJson,"alert_detail":$alertDetail,"warmup_failed":$warmupFailedJson}"""
    println(stdoutLine)
    if (stdoutLine.length > 1900)
      System.err.println(s"[bench] WARNING stdout line ${stdoutLine.length}" +
        " chars — may overflow the driver's 2000-char tail window")
    // the full payload next to the repo: the lossless copy a later
    // reader can re-parse (ADVICE r14; BENCH_r14/r16 truncation)
    Harness.untimed("bench bench_last.json") {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_last.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
