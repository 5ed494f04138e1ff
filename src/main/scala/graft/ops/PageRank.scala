package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped PageRank over an edge list — the link-graph quality signal
  * crawl curation uses (rank URLs/domains by the hyperlink graph
  * before content signals exist; Page et al. 1999). Implemented as the
  * classic relational power iteration: per round one join onto the
  * edge list and one aggregation per destination — the same
  * partitioning every round (hash on node id), so on a cluster the
  * rank table never changes its distribution.
  *
  * ENGINE-PORTABLE BY CONSTRUCTION, unusually for an iterative float
  * algorithm: per-edge contributions are single IEEE divisions,
  * cross-edge sums go through DECIMAL(38,18) (exact, order-free), the
  * dangling mass rides one broadcast scalar, and the update is a fixed
  * expression tree — so ANY iteration count is bit-reproducible across
  * partitionings AND engines, and `q_pagerank` hash-compares 3 full
  * iterations against DuckDB replaying the same trees (the oracle SQL
  * is GENERATED per iteration count).
  *
  * Semantics: multi-edges collapse (distinct src→dst); dangling nodes
  * (no out-edges) redistribute their mass uniformly; rank mass is
  * conserved to fp noise (spec-pinned ≤ 1e-9).
  */
object PageRank {

  /** The damping factor every form and oracle uses. */
  private val Damping = 0.85

  /** (id, rank) after `iterations` damped power-iteration rounds over
    * `edges` (columns `src`, `dst`). Lineage is cut every
    * `checkpointEvery` rounds (superseded generations freed — the
    * clusterPairs contract).
    */
  def pageRank(edges: DataFrame, iterations: Int,
               checkpointEvery: Int = 4, saltJoin: Int = 0): DataFrame =
    run(edges, None, iterations, checkpointEvery, saltJoin = saltJoin)

  /** The measured hub-skew regime rule (PERFNOTES "Round 12 — hub-skew
    * PageRank" + r15; PageRankSpec "auto salt" pins it) as a pure
    * function — `saltJoin = 0` resolves through it
    * from statistics the iteration already aggregates. A hot OUT-hub
    * serializes its edge rows into one task of the per-round
    * rank⋈edges join (AQE's skew split skips this chained-SMJ shape —
    * measured), so: ENGAGE when the hub's out-degree is at least twice
    * the per-task edge share; SIZE as the smaller of two bounds, both
    * measured:
    *
    *   - parity: ceil(hub / perTask) — past it, spreading buys nothing
    *     (the hub's buckets are already at per-task share);
    *   - replication: 2 × average out-degree — each salt step adds one
    *     rank-row copy per node ≈ |E|/avgDeg join-side rows, so salt
    *     above ~2·avgDeg doubles the join's input for a straggler that
    *     salt already fixed. On the measured avgDeg-2 hub graph parity
    *     says 13 (32 tasks) but 4 wins the wall (salt 8 = +13% — r12;
    *     salt 13 = +10% vs salt 4 — r15 rerun); a degree-20 crawl
    *     graph caps at 40 and takes parity instead.
    *
    * Cap 16 backstops both. Results are bit-identical under
    * ANY salt (decimal sums are order-free; spec-pinned), so
    * auto-sizing is free of correctness risk.
    */
  def autoSaltJoin(maxOutDegree: Long, totalEdges: Long, nodes: Long,
                   tasks: Int): Int = {
    val perTask = math.max(1L, totalEdges / math.max(1, tasks))
    if (maxOutDegree < 2 * perTask) 1
    else {
      val parity = (maxOutDegree + perTask - 1) / perTask
      val repCap = math.max(2L,
        math.ceil(2.0 * totalEdges / math.max(1L, nodes)).toLong)
      math.min(16L, math.min(parity, repCap)).toInt
    }
  }

  /** WARM-START power iteration: resume from a previous rank table
    * (id, rank) after the edge list changed — the incremental-refresh
    * story every other index here has, applied to the graph. Nodes
    * absent from `initRanks` (new pages) start at 1/N; the carried
    * vector is then decimal-renormalized to mass 1 (departed nodes'
    * mass must not leak away, or the iteration converges to a scaled
    * fixpoint). Starting near the old fixpoint strictly beats the
    * uniform start at any equal round budget (by how much depends on
    * the graph's mixing speed) — PageRankSpec pins the ordering after
    * a perturbation, and warm-from-uniform == cold bit-for-bit.
    */
  def pageRankFrom(edges: DataFrame, initRanks: DataFrame,
                   iterations: Int): DataFrame =
    run(edges, Some(initRanks), iterations, checkpointEvery = 4)

  /** CONVERGENCE-STOPPED power iteration (VERDICT r17 #5): iterate
    * until the DECIMAL-EXACT L1 delta of successive rank vectors —
    * Σ|rank_k − rank_{k−1}|, each term one IEEE subtraction, the sum
    * order-free through DECIMAL(38,18) — is ≤ `epsilon`, or
    * `maxIterations` rounds have run. Returns (ranks, roundsRun); the
    * caller reads `roundsRun < maxIterations` as "converged". The stop
    * round is DETERMINISTIC under any partitioning (decimal sums are
    * order-free and every per-node update is a fixed expression tree —
    * spec-pinned); IEEE-double partial sums would make the delta, and
    * with it the ROUND COUNT, partitioning-dependent. Each round is
    * materialized (the delta is an action on the successive pair), so
    * `checkpointEvery` does not apply — production authority runs
    * iterate to tolerance instead of guessing a fixed count.
    */
  def pageRankUntil(edges: DataFrame, epsilon: Double,
                    maxIterations: Int = 100): (DataFrame, Int) = {
    require(epsilon >= 0.0, "pageRankUntil: epsilon must be >= 0")
    runCounted(edges, None, maxIterations, 1, saltJoin = 0,
      epsilon = Some(epsilon))
  }

  /** Every rank-mass sum goes through order-free DECIMAL(38,18). */
  private def massSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(38,18)")).cast("double")

  /** `saltJoin` > 1 spreads each node's EDGE rows over that many salt
    * buckets in the per-round rank⋈edges join (the rank row replicates
    * per bucket — [[Skew.saltedJoin]]): the hot-OUT-hub mitigation for
    * graphs where one node's out-edges would otherwise serialize into
    * a single join task. AQE's skew split does NOT cover this join (it
    * is chained SMJ-after-SMJ on the same key inside one stage, which
    * the splitter skips — measured, PERFNOTES "Round 12 — hub-skew
    * PageRank"). Results are bit-identical under any salt (decimal
    * sums are order-free). `saltJoin = 0` (the default) AUTO-sizes via
    * [[autoSaltJoin]] from the max out-degree — one extra 1-row
    * aggregation over the degree table the iteration builds anyway,
    * amortized across every round.
    */
  private def run(edges: DataFrame, init: Option[DataFrame], iterations: Int,
                  checkpointEvery: Int, saltJoin: Int = 0): DataFrame =
    runCounted(edges, init, iterations, checkpointEvery, saltJoin,
      epsilon = None)._1

  /** The shared loop. `epsilon = None` is the fixed-iteration path,
    * byte-identical to the pre-r18 `run` (the round body is one shared
    * local def, so the two modes cannot diverge); `Some(eps)` is the
    * [[pageRankUntil]] path — every round localCheckpoints and the L1
    * delta between the successive (materialized, node-grain) vectors
    * is one extra join + one-row decimal aggregate per round.
    */
  private def runCounted(edges: DataFrame, init: Option[DataFrame],
                         iterations: Int, checkpointEvery: Int, saltJoin: Int,
                         epsilon: Option[Double]): (DataFrame, Int) = {
    require(iterations >= 0, "pageRank: iterations must be >= 0")
    require(checkpointEvery >= 1, "pageRank: checkpointEvery must be >= 1")
    // memory auto-sizing (VERDICT r18 #1): above the trigger the
    // edge collapse AND the iteration run on edge-proportional
    // partitions with the AQE coalescing floor pinned and a fat input
    // respread — conf restored in the finally. Results are
    // partitioning-invariant (order-free decimal sums), so this cannot
    // move a byte; below the trigger the plan is byte-identical.
    val (e, edgeCount, restoreConf) = GraphMemory.sizedEdgesCounted(
      edges.select(col("src"), col("dst")), _.distinct())
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val n = nodes.count()
      require(n > 0, "pageRank: empty graph")
      val salt =
        if (saltJoin > 0) saltJoin
        else if (iterations == 0) 1
        // salt splits ONE hub's edge rows across tasks; when the whole
        // edge set fits a single task's row budget there is no
        // straggler to fix, so the degree-stats job (one extra
        // aggregation over e per run) is skipped outright — the r21
        // fixture-graph measurement: autoSaltJoin engaged on ~50-edge
        // crawl fixtures (perTask=1 makes any hub "hot") and bought
        // nothing but a salted plan and a collect. Results are salt-
        // invariant (order-free decimal sums, spec-pinned), and the
        // count is the one sizedEdgesCounted already ran.
        else if (edgeCount < GraphMemory.targetRowsPerTask) 1
        else {
          val s = outdeg
            .agg(max(col("deg")).as("mx"), sum(col("deg")).as("tot"))
            .collect().head
          autoSaltJoin(s.getLong(0), s.getLong(1), n,
            edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)
        }
      val nD = lit(n.toDouble)
      val d = lit(Damping)
      val ranks = init match {
        case None =>
          nodes.withColumn("rank", lit(1.0) / nD).localCheckpoint()
        case Some(prev) =>
          // materialized BEFORE the mass aggregate (ADVICE r19): the
          // driver-side collect and the returned plan both consume
          // `carried`, so an un-cut subtree would run the nodes⟕prev
          // join twice per warm start
          val carried = nodes
            .join(prev.select(col("id"), col("rank").as("__pr")), Seq("id"), "left")
            .select(col("id"),
              coalesce(col("__pr"), lit(1.0) / nD).as("rank"))
            .localCheckpoint()
          try {
            // loud-failure guard (ADVICE r18, the Hits.hitsFrom
            // discipline): a degenerate initRanks (all-zero or
            // net-negative over the current node set) has zero/negative
            // L1 mass, and the renormalizing division would mint NaNs
            // that ride silently through every iteration. The mass is a
            // one-row aggregate either way; resolving it on the driver
            // costs nothing extra and the lit() divisor is the
            // identical double the broadcast column carried.
            val mass = carried.agg(
              sum(col("rank").cast("decimal(38,18)")).cast("double"))
              .collect().head.getDouble(0)
            require(mass > 0.0,
              s"pageRankFrom: carried rank mass must be > 0 before " +
                s"renormalization (got $mass) — initRanks is degenerate " +
                "over the current node set")
            carried.select(col("id"), (col("rank") / lit(mass)).as("rank"))
              .localCheckpoint()
          } finally graft.Checkpoints.free(carried)
      }
      // one power-iteration round — the SINGLE definition both the
      // fixed-iteration and the epsilon-stopped loops execute
      def oneRound(prev: DataFrame): (DataFrame, List[DataFrame]) = {
        // fresh attribute ids for the edge side: ranks/nodes descend
        // from e, so joining e directly is an ambiguous self-join
        val eOut = e.select(col("src").as("__es"), col("dst").as("__ed"))
        val withDeg = prev.join(outdeg, prev("id") === outdeg("src"), "left")
        val linked = withDeg.filter(col("deg").isNotNull)
        val joined =
          if (salt > 1)
            // edges salted by dst content (deterministic), rank rows
            // replicated salt ways — the hub's edges fan over
            // salt tasks instead of one
            Skew.saltedJoin(eOut,
              linked.select(col("id").as("__es"), col("rank"), col("deg")),
              Seq("__es"), salt, saltBy = Seq("__ed"))
          else linked.join(eOut, linked("id") === col("__es"))
        val contribs = joined
          .select(col("__ed").as("id"),
            (col("rank") / col("deg").cast("double")).as("c"))
        val sums = contribs
          .groupBy(col("id"))
          .agg(massSum(col("c")).as("s"))
        val dangling = withDeg.filter(col("deg").isNull)
          .agg(coalesce(massSum(col("rank")), lit(0.0)).as("m"))
        (nodes
          .join(sums, Seq("id"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("id"),
            ((lit(1.0) - d) / nD +
              d * (coalesce(col("s"), lit(0.0)) + col("m") / nD))
              .as("rank")), Nil)
      }
      iterate(ranks, iterations, checkpointEvery, epsilon,
        l1Delta("rank"))(oneRound)
    } finally {
      restoreConf()
      graft.Checkpoints.free(e)
    }
  }

  /** The power-iteration driver PageRank and HITS share: run `oneRound`
    * from `init` for `iterations` rounds, cutting lineage every
    * `checkpointEvery` rounds and after the last; or, with `epsilon`,
    * until `delta(previous, next)` is ≤ eps (at most `iterations`
    * rounds). `oneRound` returns the next vector and the temporary
    * tables it materialized; lazy rounds reference those until the
    * next cut, so they are freed only once a later cut exists. Returns
    * (scores, roundsRun); every superseded cut is freed.
    */
  private[ops] def iterate(init: DataFrame, iterations: Int,
                           checkpointEvery: Int, epsilon: Option[Double],
                           delta: (DataFrame, DataFrame) => Double)
                          (oneRound: DataFrame => (DataFrame, List[DataFrame]))
      : (DataFrame, Int) = {
    var scores = init
    var cut = scores
    var pending = List.empty[DataFrame]
    var i = 0
    try {
      epsilon match {
        case None =>
          while (i < iterations) {
            val (next, tmps) = oneRound(scores)
            scores = next
            pending = tmps ::: pending
            if ((i + 1) % checkpointEvery == 0 || i + 1 == iterations) {
              scores = scores.localCheckpoint()
              graft.Checkpoints.free(cut)
              cut = scores
              pending.foreach(graft.Checkpoints.free(_))
              pending = Nil
            }
            i += 1
          }
          (scores, i)
        case Some(eps) =>
          var converged = false
          while (i < iterations && !converged) {
            val (nextRaw, tmps) = oneRound(scores)
            // LAZY cut: the delta aggregate touches every partition
            // of `next`, so it materializes the checkpoint in the
            // same job — one job per round instead of two (r21)
            val next = nextRaw.localCheckpoint(eager = false)
            val d = delta(scores, next)
            graft.Checkpoints.free(cut)
            tmps.foreach(graft.Checkpoints.free(_))
            scores = next
            cut = next
            converged = d <= eps
            i += 1
          }
          (scores, i)
      }
    } finally {
      pending.foreach(graft.Checkpoints.free(_))
      if (cut ne scores) graft.Checkpoints.free(cut)
    }
  }

  /** Decimal-exact L1 delta of two successive (id, `cols`) score
    * vectors: per node Σ|new − old| over `cols` in IEEE double, the
    * cross-node sum order-free through DECIMAL(38,18) — so the stop
    * decision cannot depend on partitioning.
    */
  private[ops] def l1Delta(cols: String*)(prev: DataFrame,
                                          next: DataFrame): Double =
    prev.select(col("id") +: cols.map(c => col(c).as(s"__o_$c")): _*)
      .join(next.select(col("id") +: cols.map(c => col(c).as(s"__n_$c")): _*),
        Seq("id"))
      .agg(coalesce(
        sum(cols.map(c => abs(col(s"__n_$c") - col(s"__o_$c"))).reduce(_ + _)
          .cast("decimal(38,18)")).cast("double"),
        lit(0.0)))
      .collect().head.getDouble(0)

  /** WEIGHTED damped PageRank: edge (u, v, w) contributes
    * rank(u) · (w / W(u)) per round, W(u) = u's total out-weight — the
    * crawl-graph form where the host edge grain already carries link
    * counts ([[graft.queries.QueriesLLM.q_host_graph]]'s `n`), so a
    * host linking another 1000× passes proportionally more authority
    * than a single footer link. Parallel edges SUM their weights
    * (decimal-exact) at the collapse step where the unweighted form
    * dedups; non-positive weights are dropped there too (a zero-weight
    * edge passes no mass but would wrongly mark its target non-dangling).
    * Same portability discipline as [[pageRank]]: weight totals and
    * cross-edge sums are DECIMAL(38,18), the per-edge contribution is
    * the fixed tree rank · (w / W), dangling mass rides one broadcast
    * scalar — [[oracleSqlWeighted]] GENERATES the DuckDB replay and
    * `q_pagerank_weighted` hash-compares 3 full iterations. Uniform
    * weights degenerate to [[pageRank]] within fp ulps (spec-pinned;
    * the weighted contribution rank·fl(w/W) carries one more IEEE
    * rounding than the unweighted fl(rank/deg)).
    * Hot-hub skew: `saltJoin` > 1 spreads a node's edge rows over salt
    * buckets via [[Skew.saltedJoin]], exactly the unweighted lever
    * (decimal sums make any salt bit-identical); auto-sizing is not
    * wired here — weighted crawl graphs pick salt from the SAME degree
    * statistics, so pass the unweighted form's measured value if a hub
    * emerges.
    */
  def pageRankWeighted(edges: DataFrame, iterations: Int,
                       checkpointEvery: Int = 4,
                       saltJoin: Int = 1): DataFrame =
    runWeighted(edges, iterations, checkpointEvery, saltJoin,
      epsilon = None)._1

  /** CONVERGENCE-STOPPED weighted power iteration — the
    * [[pageRankUntil]] contract over the link-count-weighted form,
    * completing the family: iterate until the decimal-exact L1 delta
    * of successive rank vectors is ≤ `epsilon`, or `maxIterations`
    * rounds; returns (ranks, roundsRun). Same determinism argument
    * (order-free decimal sums, fixed IEEE trees), same per-round
    * materialization cost.
    */
  def pageRankWeightedUntil(edges: DataFrame, epsilon: Double,
                            maxIterations: Int = 100,
                            saltJoin: Int = 1): (DataFrame, Int) = {
    require(epsilon >= 0.0, "pageRankWeightedUntil: epsilon must be >= 0")
    runWeighted(edges, maxIterations, 1, saltJoin,
      epsilon = Some(epsilon))
  }

  private def runWeighted(edges: DataFrame, iterations: Int,
                          checkpointEvery: Int, saltJoin: Int,
                          epsilon: Option[Double]): (DataFrame, Int) = {
    require(iterations >= 0, "pageRankWeighted: iterations must be >= 0")
    require(checkpointEvery >= 1,
      "pageRankWeighted: checkpointEvery must be >= 1")
    // the unweighted form's memory auto-sizing, same trigger and
    // restore discipline (weighted sums are decimal too — no byte
    // can move); the collapse here is the weight-sum aggregation
    val (e, restoreConf) = GraphMemory.sizedEdges(
      edges.select(col("src"), col("dst"),
          col("weight").cast("double").as("w"))
        .filter(col("w") > 0.0),
      _.groupBy(col("src"), col("dst")).agg(massSum(col("w")).as("w")))
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      val outW = e.groupBy(col("src")).agg(massSum(col("w")).as("sw"))
      val n = nodes.count()
      require(n > 0, "pageRankWeighted: empty graph")
      val nD = lit(n.toDouble)
      val d = lit(Damping)
      val ranks = nodes.withColumn("rank", lit(1.0) / nD).localCheckpoint()
      // one weighted round — the single definition both loops execute
      def oneRound(prev: DataFrame): (DataFrame, List[DataFrame]) = {
        val eOut = e.select(col("src").as("__es"), col("dst").as("__ed"),
          col("w").as("__w"))
        val withW = prev.join(outW, prev("id") === outW("src"), "left")
        val linked = withW.filter(col("sw").isNotNull)
        val joined =
          if (saltJoin > 1)
            Skew.saltedJoin(eOut,
              linked.select(col("id").as("__es"), col("rank"), col("sw")),
              Seq("__es"), saltJoin, saltBy = Seq("__ed"))
          else linked.join(eOut, linked("id") === col("__es"))
        val contribs = joined
          .select(col("__ed").as("id"),
            (col("rank") * (col("__w") / col("sw"))).as("c"))
        val sums = contribs.groupBy(col("id")).agg(massSum(col("c")).as("s"))
        val dangling = withW.filter(col("sw").isNull)
          .agg(coalesce(massSum(col("rank")), lit(0.0)).as("m"))
        (nodes
          .join(sums, Seq("id"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("id"),
            ((lit(1.0) - d) / nD +
              d * (coalesce(col("s"), lit(0.0)) + col("m") / nD))
              .as("rank")), Nil)
      }
      iterate(ranks, iterations, checkpointEvery, epsilon,
        l1Delta("rank"))(oneRound)
    } finally {
      restoreConf()
      graft.Checkpoints.free(e)
    }
  }

  /** The DuckDB oracle for [[pageRankWeighted]], generated for
    * `iterations` rounds over an `edges` CTE the caller supplies
    * (columns src, dst, weight). MATERIALIZED per-round CTEs — the
    * [[Hits.oracleSql]] lesson: inlined CTEs re-evaluate the whole
    * chain multiplicatively.
    */
  def oracleSqlWeighted(edgesCte: String, iterations: Int): String = {
    val d = Damping.toString
    val head =
      s"""WITH edges0 AS ($edgesCte),
         |e AS MATERIALIZED (
         |  SELECT src, dst, sum((weight::DOUBLE)::DECIMAL(38,18))::DOUBLE AS w
         |  FROM edges0 WHERE weight::DOUBLE > 0 GROUP BY 1, 2
         |),
         |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
         |ow AS MATERIALIZED (SELECT src, sum(w::DECIMAL(38,18))::DOUBLE AS sw FROM e GROUP BY 1),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         |r0 AS (SELECT id, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { k =>
      val p = s"r${k - 1}"
      s"""c$k AS (
         |  SELECT e.dst AS id, r.rank * (e.w / ow.sw) AS c
         |  FROM $p r JOIN ow ON r.id = ow.src JOIN e ON e.src = r.id
         |), s$k AS MATERIALIZED (
         |  SELECT id, sum(c::DECIMAL(38,18))::DOUBLE AS s FROM c$k GROUP BY 1
         |), m$k AS (
         |  SELECT coalesce(sum(r.rank::DECIMAL(38,18))::DOUBLE, 0.0::DOUBLE) AS m
         |  FROM $p r LEFT JOIN ow ON r.id = ow.src WHERE ow.src IS NULL
         |), r$k AS MATERIALIZED (
         |  SELECT n.id,
         |    (1.0::DOUBLE - $d) / (SELECT n FROM nn) +
         |    $d * (coalesce(s.s, 0.0::DOUBLE) + (SELECT m FROM m$k) / (SELECT n FROM nn)) AS rank
         |  FROM nodes n LEFT JOIN s$k s ON n.id = s.id
         |)""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, floor(rank * 1000000 + 0.5) / 1000000 AS rank FROM r$iterations"
  }

  /** The DuckDB oracle for [[pageRankUntil]], generated for a cap of
    * `maxIterations` rounds: unrolls every round (MATERIALIZED — the
    * [[Hits.oracleSql]] lesson), computes each round's decimal-exact
    * L1 delta with the identical expression tree the Scala loop uses
    * (per-node |Δ| in IEEE double, cross-node sum through
    * DECIMAL(38,18)), resolves the stop round as the least k with
    * delta ≤ epsilon (else the cap), and emits that round's ranks
    * with the stop round — so the convergence MACHINERY itself, not
    * just a fixed-round result, is hash-checked cross-engine.
    */
  def oracleSqlConverged(edgesCte: String, epsilon: Double,
                         maxIterations: Int): String = {
    require(maxIterations >= 1,
      "oracleSqlConverged: maxIterations must be >= 1 — the generated " +
        "round/delta unions cannot express the zero-round degenerate " +
        "the Scala until() API allows")
    val head = oracleRoundsHead(edgesCte, materialized = true)
    val iters = (1 to maxIterations).map { k =>
      s"""${oracleRoundSql(k, materialized = true)}, d$k AS MATERIALIZED (
         |  SELECT $k::BIGINT AS k,
         |    sum(abs(a.rank - b.rank)::DECIMAL(38,18))::DOUBLE AS delta
         |  FROM r$k a JOIN r${k - 1} b ON a.id = b.id
         |)""".stripMargin
    }
    val deltasUnion = (1 to maxIterations)
      .map(k => s"SELECT k, delta FROM d$k").mkString(" UNION ALL ")
    val ranksUnion = (1 to maxIterations)
      .map(k => s"SELECT $k::BIGINT AS k, id, rank FROM r$k")
      .mkString(" UNION ALL ")
    val tail =
      s"""stop AS (
         |  SELECT coalesce(min(k), $maxIterations::BIGINT) AS k
         |  FROM ($deltasUnion) WHERE delta <= $epsilon
         |)
         |SELECT id, floor(rank * 1000000 + 0.5) / 1000000 AS rank,
         |  (SELECT k FROM stop) AS stop_round
         |FROM ($ranksUnion) WHERE k = (SELECT k FROM stop)""".stripMargin
    (head +: iters).mkString(",\n") + ",\n" + tail
  }

  /** The shared per-round CTE generators BOTH unweighted oracles
    * compose (review finding r18: the converged oracle previously
    * duplicated these trees, so a tweak to one could silently drift
    * the other — the written-once rule now holds for the generator
    * itself). `materialized` marks the hot CTEs MATERIALIZED for the
    * converged form, whose every round is referenced by a delta too.
    *
    * `ns` prefixes every CTE name (ns = "" is byte-identical to the
    * pre-r19 output) — the lever [[oracleSqlWarmStart]] uses to put TWO
    * independent edge sets in one WITH chain. `lead = false` drops the
    * leading `WITH ` so the block can continue an open chain;
    * `withR0 = false` drops the uniform start so the caller can splice
    * its own (the warm-start carried/renormalized r0).
    */
  private def oracleRoundsHead(edgesCte: String, materialized: Boolean,
                               ns: String = "", lead: Boolean = true,
                               withR0: Boolean = true): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    val w = if (lead) "WITH " else ""
    val base =
      s"""$w${ns}edges0 AS ($edgesCte),
         |${ns}e AS$m (SELECT DISTINCT src, dst FROM ${ns}edges0),
         |${ns}nodes AS$m (SELECT src AS id FROM ${ns}e UNION SELECT dst AS id FROM ${ns}e),
         |${ns}od AS$m (SELECT src, count(*)::BIGINT AS deg FROM ${ns}e GROUP BY 1),
         |${ns}nn AS (SELECT count(*)::DOUBLE AS n FROM ${ns}nodes)""".stripMargin
    if (!withR0) base
    else base +
      s""",
         |${ns}r0 AS$m (SELECT id, 1.0::DOUBLE / (SELECT n FROM ${ns}nn) AS rank FROM ${ns}nodes)""".stripMargin
  }

  private def oracleRoundSql(k: Int, materialized: Boolean,
                             ns: String = ""): String = {
    val d = Damping.toString
    val m = if (materialized) " MATERIALIZED" else ""
    val p = s"${ns}r${k - 1}"
    s"""${ns}c$k AS (
       |  SELECT e.dst AS id, r.rank / od.deg::DOUBLE AS c
       |  FROM $p r JOIN ${ns}od od ON r.id = od.src JOIN ${ns}e e ON e.src = r.id
       |), ${ns}s$k AS$m (
       |  SELECT id, sum(c::DECIMAL(38,18))::DOUBLE AS s FROM ${ns}c$k GROUP BY 1
       |), ${ns}m$k AS (
       |  SELECT coalesce(sum(r.rank::DECIMAL(38,18))::DOUBLE, 0.0::DOUBLE) AS m
       |  FROM $p r LEFT JOIN ${ns}od od ON r.id = od.src WHERE od.src IS NULL
       |), ${ns}r$k AS$m (
       |  SELECT n.id,
       |    (1.0::DOUBLE - $d) / (SELECT n FROM ${ns}nn) +
       |    $d * (coalesce(s.s, 0.0::DOUBLE) + (SELECT m FROM ${ns}m$k) / (SELECT n FROM ${ns}nn)) AS rank
       |  FROM ${ns}nodes n LEFT JOIN ${ns}s$k s ON n.id = s.id
       |)""".stripMargin
  }

  /** The DuckDB oracle for the INCREMENTAL serving path (VERDICT r18
    * #5): cold-start `iters1` rounds over `edgesCte1` (the bootstrap
    * build), then [[pageRankFrom]]-carry that vector into `iters2`
    * rounds over `edgesCte2` (the accumulated graph after more deltas
    * folded in) — new nodes enter at 1/N of the NEW node set, the
    * carried vector decimal-renormalizes to mass 1, exactly the
    * expression trees runCounted's init branch executes. Pins the
    * warm-start MACHINERY cross-engine, not just a fixed-round result.
    */
  def oracleSqlWarmStart(edgesCte1: String, iters1: Int,
                         edgesCte2: String, iters2: Int): String = {
    require(iters1 >= 1 && iters2 >= 1,
      "oracleSqlWarmStart: both phases need >= 1 round")
    val p1 = oracleRoundsHead(edgesCte1, materialized = true, ns = "a_")
    val r1 = (1 to iters1).map(k =>
      oracleRoundSql(k, materialized = true, ns = "a_"))
    val p2 = oracleRoundsHead(edgesCte2, materialized = true, ns = "b_",
      lead = false, withR0 = false)
    val carried =
      s"""b_carried AS MATERIALIZED (
         |  SELECT n.id,
         |    coalesce(p.rank, 1.0::DOUBLE / (SELECT n FROM b_nn)) AS rank
         |  FROM b_nodes n LEFT JOIN a_r$iters1 p ON n.id = p.id
         |), b_mass AS (
         |  SELECT sum(rank::DECIMAL(38,18))::DOUBLE AS m FROM b_carried
         |), b_r0 AS MATERIALIZED (
         |  SELECT id, rank / (SELECT m FROM b_mass) AS rank FROM b_carried
         |)""".stripMargin
    val r2 = (1 to iters2).map(k =>
      oracleRoundSql(k, materialized = true, ns = "b_"))
    (((p1 +: r1) :+ p2 :+ carried) ++ r2).mkString(",\n") +
      s"\nSELECT id, floor(rank * 1000000 + 0.5) / 1000000 AS rank FROM b_r$iters2"
  }

  /** The DuckDB oracle for [[pageRank]], generated for `iterations`
    * rounds over an `edges` CTE the caller supplies (must define
    * columns src, dst). Replays the exact expression trees.
    */
  def oracleSql(edgesCte: String, iterations: Int): String = {
    val head = oracleRoundsHead(edgesCte, materialized = false)
    val iters = (1 to iterations).map(k =>
      oracleRoundSql(k, materialized = false))
    (head +: iters).mkString(",\n") +
      s"\nSELECT id, floor(rank * 1000000 + 0.5) / 1000000 AS rank FROM r$iterations"
  }
}
