package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities over an edge list (Kleinberg, JACM 1999)
  * — the second link-graph quality signal crawl curation uses next to
  * [[PageRank]]: a page is a good AUTHORITY if good hubs link to it,
  * and a good HUB if it links to good authorities. On the crawl host
  * graph the two scores separate link farms (high hub, low authority)
  * from genuinely cited content hosts, and on bipartite interaction
  * graphs (the `q_hits` customer→supplier order graph) they rank the
  * two sides jointly where PageRank's single score conflates them.
  *
  * ENGINE-PORTABLE BY CONSTRUCTION, same discipline as [[PageRank]]:
  * cross-edge sums go through DECIMAL(38,18) (exact, order-free), the
  * per-round normalizer is ONE broadcast scalar, and each update is a
  * fixed expression tree — any iteration count is bit-reproducible
  * across partitionings AND engines, so `q_hits` hash-compares full
  * iterations against DuckDB replaying the same trees (the oracle SQL
  * is GENERATED per iteration count by [[Hits.oracleSql]]).
  *
  * Normalization is L1 (divide by the decimal-exact score mass), not
  * the classical L2: L1 keeps every operation a sum or one IEEE
  * division by a broadcast scalar, and the two normalizations produce
  * IDENTICAL rankings — normalization in HITS only prevents magnitude
  * blow-up; the fixpoint direction is the principal eigenvector either
  * way (HitsSpec pins rank-order equality against an L2 reference on
  * the test graph).
  *
  * Scale shape: per round, two edge joins (edges⋈auth on dst,
  * edges⋈hub on src) and two node-grain aggregations — the SAME
  * hash-partitioning on node id every round, so on a cluster the
  * score tables never change distribution; the normalizer rides one
  * broadcast row. Multi-edges collapse (distinct src→dst). Hot-hub
  * edge skew takes the measured [[PageRank]] mitigation unchanged:
  * `saltJoin` > 1 spreads a node's edge rows over salt buckets via
  * [[Skew.saltedJoin]] (decimal sums make any salt bit-identical).
  */
object Hits {

  /** (id, hub, auth) after `iterations` L1-normalized HITS rounds over
    * `edges` (columns `src`, `dst`). Nodes with no out-edges score
    * hub 0; nodes with no in-edges score auth 0. Lineage is cut every
    * `checkpointEvery` rounds (superseded generations freed — the
    * clusterPairs contract).
    *
    * `checkpointEvery` defaults to 1 — tighter than PageRank's 4 —
    * because a HITS round re-references its own frames ~3× (hubRaw
    * feeds the mass, the auth join, and the final assembly; PageRank's
    * rank feeds ~2), so k un-cut rounds re-execute ~3^k subtrees where
    * PageRank pays ~2^k. Measured on the 500k-edge bench graph at 3
    * rounds: cadence 4 (no intermediate cut) 13.9 s → cadence 1 6.7 s
    * warm. Decimal sums make the result bit-identical under any
    * cadence.
    */
  def hits(edges: DataFrame, iterations: Int, checkpointEvery: Int = 1,
           saltJoin: Int = 1): DataFrame =
    runHits(edges, None, iterations, checkpointEvery, saltJoin)

  /** WARM-START HITS: resume from a previous (id, hub, auth) table
    * after the edge list changed — the incremental-refresh story
    * [[PageRank.pageRankFrom]] gives ranks, applied to both score
    * vectors. Nodes absent from `initScores` (new pages) start at 1/N;
    * each carried vector is then decimal-renormalized to L1 mass 1
    * (departed nodes' mass must not leak, or the iteration converges
    * to a scaled fixpoint). Warm-from-uniform == cold bit-for-bit
    * (HitsSpec pins it).
    */
  def hitsFrom(edges: DataFrame, initScores: DataFrame,
               iterations: Int): DataFrame =
    runHits(edges, Some(initScores), iterations, checkpointEvery = 1,
      saltJoin = 1)

  /** CONVERGENCE-STOPPED HITS (VERDICT r17 #5, the [[PageRank
    * .pageRankUntil]] contract on both score vectors): iterate until
    * the decimal-exact L1 delta of successive (hub, auth) vectors —
    * Σ(|hub_k − hub_{k−1}| + |auth_k − auth_{k−1}|), each term IEEE,
    * the sum order-free through DECIMAL(38,18) — is ≤ `epsilon`, or
    * `maxIterations` rounds have run. Returns (scores, roundsRun);
    * `roundsRun < maxIterations` reads "converged". Stop round is
    * deterministic under any partitioning and any `saltJoin`
    * (spec-pinned). Every round already localCheckpoints (HITS cadence
    * 1 — see [[hits]]), so the delta is one node-grain join + one-row
    * aggregate on frames the loop materializes anyway.
    */
  def hitsUntil(edges: DataFrame, epsilon: Double, maxIterations: Int = 100,
                saltJoin: Int = 1): (DataFrame, Int) = {
    require(epsilon >= 0.0, "hitsUntil: epsilon must be >= 0")
    runHitsCounted(edges, None, maxIterations, 1, saltJoin,
      epsilon = Some(epsilon))
  }

  private def runHits(edges: DataFrame, init: Option[DataFrame],
                      iterations: Int, checkpointEvery: Int,
                      saltJoin: Int): DataFrame =
    runHitsCounted(edges, init, iterations, checkpointEvery, saltJoin,
      epsilon = None)._1

  /** Every score-mass sum goes through order-free DECIMAL(38,18). */
  private def massSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(38,18)")).cast("double")

  /** The shared loop, [[PageRank.iterate]] over [[oneRoundCut]].
    * `epsilon = None` is the fixed-iteration path; `Some(eps)`
    * checkpoints every round (forced cadence 1) and stops on the L1
    * delta of both vectors.
    */
  private def runHitsCounted(edges: DataFrame, init: Option[DataFrame],
                             iterations: Int, checkpointEvery: Int,
                             saltJoin: Int,
                             epsilon: Option[Double]): (DataFrame, Int) = {
    require(iterations >= 0, "hits: iterations must be >= 0")
    require(checkpointEvery >= 1, "hits: checkpointEvery must be >= 1")
    // memory auto-sizing (VERDICT r18 #1, the [[PageRank]] discipline):
    // edge-proportional partitions + AQE coalescing floor + fat-input
    // respread above the trigger, restored in the finally; decimal
    // sums keep every byte identical under any partitioning.
    val (e, restoreConf) = GraphMemory.sizedEdges(
      edges.select(col("src"), col("dst")), _.distinct())
    try {
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      val n = nodes.count()
      require(n > 0, "hits: empty graph")
      // normalized uniform start: both scores begin at 1/N, so round 1
      // is already on the same grid as every later round
      val scores = init match {
        case None => nodes
          .withColumn("hub", lit(1.0) / lit(n.toDouble))
          .withColumn("auth", lit(1.0) / lit(n.toDouble))
          .localCheckpoint()
        case Some(prev) =>
          // materialized BEFORE the mass aggregate (ADVICE r19, the
          // PageRank warm-start fix): the driver-side collect and the
          // returned plan both consume `carried`, so an un-cut subtree
          // would run the nodes⟕prev join twice per warm start
          val carried = nodes
            .join(prev.select(col("id"), col("hub").as("__ph"),
              col("auth").as("__pa")), Seq("id"), "left")
            .select(col("id"),
              coalesce(col("__ph"), lit(1.0) / lit(n.toDouble)).as("hub"),
              coalesce(col("__pa"), lit(1.0) / lit(n.toDouble)).as("auth"))
            .localCheckpoint()
          try {
            // loud-failure guard (ADVICE r17): a degenerate initScores
            // (all-zero or net-negative hub/auth over the current node
            // set) has zero L1 mass, and the renormalizing division
            // would mint NaNs that ride silently through every
            // iteration — the same discipline as Apportion's overflow
            // guards. The mass is a one-row aggregate either way;
            // resolving it on the driver costs nothing extra and the
            // lit() divisor is the identical double the broadcast
            // column carried.
            val massRow = carried.agg(
              massSum(col("hub")), massSum(col("auth"))).collect().head
            val (hm, am) = (massRow.getDouble(0), massRow.getDouble(1))
            require(hm > 0.0 && am > 0.0,
              s"hitsFrom: carried L1 mass must be > 0 after renormalization " +
                s"(hub mass $hm, auth mass $am) — initScores is degenerate " +
                "over the current node set")
            carried.select(col("id"), (col("hub") / lit(hm)).as("hub"),
              (col("auth") / lit(am)).as("auth"))
              .localCheckpoint()
          } finally graft.Checkpoints.free(carried)
      }
      // node-grain per-round aggregates (hubRaw/authRaw) are
      // materialized inside oneRoundCut and handed to the loop, which
      // frees them once a downstream scores checkpoint exists — at most
      // 2·checkpointEvery node-grain tables live between cuts
      PageRank.iterate(scores, iterations, checkpointEvery, epsilon,
        PageRank.l1Delta("hub", "auth"))(oneRoundCut(nodes, e, _, saltJoin))
    } finally {
      restoreConf()
      graft.Checkpoints.free(e)
    }
  }

  /** ONE score-update round over distinct edges `e` and node table
    * `nodes` — the loop body of [[hits]], and (un-checkpointed) the
    * frame PlanAssertionsSpec pins: every join is id-keyed hash-join
    * material plus the one-row mass broadcasts.
    *
    * The auth update joins [[e]] to `hubRaw` DIRECTLY (hub of an edge
    * SOURCE is `s / t` — every source has an out-edge, so its hubRaw
    * row exists and the coalesce(…, 0) arm is provably dead on this
    * side): the first formulation routed it through the node-grain
    * `nodes ⟕ hubRaw` frame, which re-ran the round's expensive
    * edge-join-plus-aggregation subtree once per consumer — measured
    * 15.0 → 13.9 s on the bench graph (500k edges, 3 rounds, cadence
    * 4; the per-round lineage cut then takes it to 6.7 s — see
    * [[hits]]). The
    * full node-grain hub (with the coalesce-0 arm for out-edge-less
    * nodes) is assembled ONCE, in the final select — the identical
    * expression tree the oracle replays.
    */
  private[graft] def oneRound(nodes: DataFrame, e: DataFrame,
                              scores: DataFrame, saltJoin: Int): DataFrame =
    oneRoundImpl(nodes, e, scores, saltJoin, identity)._1

  /** [[oneRound]] with the two per-round aggregates MATERIALIZED
    * (eager localCheckpoint): hubRaw feeds three consumers and authRaw
    * two, and without the cut each consumer re-executes the round's
    * edge-join-plus-aggregation subtree — measured at the 10× soak
    * (5M edges, 3 rounds): shuffle 1.07 GB → 622 MB (the ~2.5×-of-
    * PageRank floor two edge joins imply), and the bench graph's
    * cpu/wall ratio drops 7.0 → 3.8 at unchanged wall (the redundant
    * parallel work was hiding in spare cores — on a BUSY cluster it
    * is real capacity back). Returns the materialized frames for the
    * caller to free once a downstream checkpoint supersedes them.
    */
  private def oneRoundCut(nodes: DataFrame, e: DataFrame,
                          scores: DataFrame, saltJoin: Int)
      : (DataFrame, List[DataFrame]) = {
    var tmps = List.empty[DataFrame]
    val out = oneRoundImpl(nodes, e, scores, saltJoin, { df =>
      val c = df.localCheckpoint()
      tmps ::= c
      c
    })
    (out._1, out._2 ::: tmps)
  }

  private def oneRoundImpl(nodes: DataFrame, e: DataFrame,
                           scores: DataFrame, saltJoin: Int,
                           mat: DataFrame => DataFrame)
      : (DataFrame, List[DataFrame]) = {
    // fresh attribute ids per round: scores descends from e, so
    // joining e directly is an ambiguous self-join (the PageRank
    // rename discipline)
    val eh = e.select(col("src").as("__hs"), col("dst").as("__hd"))
    // hub update: sum the CURRENT auth of each out-neighbor
    val hubContribs =
      (if (saltJoin > 1)
         Skew.saltedJoin(eh,
           scores.select(col("id").as("__hd"), col("auth")),
           Seq("__hd"), saltJoin, saltBy = Seq("__hs"))
       else
         eh.join(scores.select(col("id").as("__hd"), col("auth")),
           Seq("__hd")))
        .select(col("__hs").as("id"), col("auth").as("c"))
    val hubRaw = mat(
      hubContribs.groupBy("id").agg(massSum(col("c")).as("__hr")))
    val hubMass = hubRaw.agg(
      coalesce(massSum(col("__hr")), lit(0.0)).as("__ht"))
    // auth update: sum the JUST-NORMALIZED hub of each in-neighbor;
    // edge sources all carry a hubRaw row, so s / t here equals the
    // oracle's coalesce(s, 0) / t on this side
    val hubOfSrc = hubRaw.crossJoin(broadcast(hubMass))
      .select(col("id").as("__as"), (col("__hr") / col("__ht")).as("hub"))
    val ea = e.select(col("src").as("__as"), col("dst").as("__ad"))
    val authContribs =
      (if (saltJoin > 1)
         Skew.saltedJoin(ea, hubOfSrc, Seq("__as"), saltJoin,
           saltBy = Seq("__ad"))
       else ea.join(hubOfSrc, Seq("__as")))
        .select(col("__ad").as("id"), col("hub").as("c"))
    val authRaw = mat(
      authContribs.groupBy("id").agg(massSum(col("c")).as("__ar")))
    val authMass = authRaw.agg(
      coalesce(massSum(col("__ar")), lit(0.0)).as("__at"))
    (nodes
      .join(hubRaw, Seq("id"), "left")
      .join(authRaw, Seq("id"), "left")
      .crossJoin(broadcast(hubMass))
      .crossJoin(broadcast(authMass))
      .select(col("id"),
        (coalesce(col("__hr"), lit(0.0)) / col("__ht")).as("hub"),
        (coalesce(col("__ar"), lit(0.0)) / col("__at")).as("auth")),
      List.empty[DataFrame])
  }

  /** The shared head + per-round CTE generators both oracles compose
    * (review finding r18: the converged form previously carved its
    * prefix out of [[oracleSql]]'s string with `substring`/
    * `lastIndexOf` — brittle surgery that would throw or emit
    * malformed SQL if the tail format changed; the generators ARE the
    * shared artifact now).
    */
  private def oracleRoundsHead(edgesCte: String): String =
    s"""WITH edges0 AS ($edgesCte),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges0),
       |nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       |s0 AS (SELECT id, 1.0::DOUBLE / (SELECT n FROM nn) AS hub,
       |  1.0::DOUBLE / (SELECT n FROM nn) AS auth FROM nodes)""".stripMargin

  private def oracleRoundSql(k: Int): String = {
    val p = s"s${k - 1}"
    s"""hr$k AS MATERIALIZED (
       |  SELECT e.src AS id, sum(a.auth::DECIMAL(38,18))::DOUBLE AS s
       |  FROM $p a JOIN e ON e.dst = a.id GROUP BY 1
       |), hm$k AS (
       |  SELECT coalesce(sum(s::DECIMAL(38,18))::DOUBLE, 0.0::DOUBLE) AS t FROM hr$k
       |), h$k AS MATERIALIZED (
       |  SELECT n.id, coalesce(hr.s, 0.0::DOUBLE) / (SELECT t FROM hm$k) AS hub
       |  FROM nodes n LEFT JOIN hr$k hr ON n.id = hr.id
       |), ar$k AS MATERIALIZED (
       |  SELECT e.dst AS id, sum(h.hub::DECIMAL(38,18))::DOUBLE AS s
       |  FROM h$k h JOIN e ON e.src = h.id GROUP BY 1
       |), am$k AS (
       |  SELECT coalesce(sum(s::DECIMAL(38,18))::DOUBLE, 0.0::DOUBLE) AS t FROM ar$k
       |), s$k AS MATERIALIZED (
       |  SELECT h.id, h.hub,
       |    coalesce(ar.s, 0.0::DOUBLE) / (SELECT t FROM am$k) AS auth
       |  FROM h$k h LEFT JOIN ar$k ar ON h.id = ar.id
       |)""".stripMargin
  }

  /** The DuckDB oracle for [[hits]], generated for `iterations` rounds
    * over an `edges` CTE the caller supplies (must define columns src,
    * dst). Replays the exact expression trees: decimal sums, one
    * division per node per normalization. Every per-round CTE is
    * MATERIALIZED: each is referenced 2-3 times by the next level, so
    * DuckDB's default inlining would re-evaluate the whole chain
    * ~6^iterations times — materialization keeps the replay linear in
    * rounds, exactly like the Spark side's per-round frames.
    */
  def oracleSql(edgesCte: String, iterations: Int): String =
    (oracleRoundsHead(edgesCte) +:
      (1 to iterations).map(oracleRoundSql)).mkString(",\n") +
      s"""\nSELECT id, floor(hub * 1000000 + 0.5) / 1000000 AS hub,
         |  floor(auth * 1000000 + 0.5) / 1000000 AS auth
         |FROM s$iterations""".stripMargin

  /** The DuckDB oracle for [[hitsUntil]] — the [[PageRank
    * .oracleSqlConverged]] contract on both score vectors: unroll
    * `maxIterations` rounds, compute each round's decimal-exact L1
    * delta Σ(|Δhub| + |Δauth|) with the identical expression tree the
    * Scala loop uses, resolve the stop round as the least k with
    * delta ≤ epsilon (else the cap), and emit that round's scores
    * with the stop round.
    */
  def oracleSqlConverged(edgesCte: String, epsilon: Double,
                         maxIterations: Int): String = {
    require(maxIterations >= 1,
      "oracleSqlConverged: maxIterations must be >= 1 — the generated " +
        "round/delta unions cannot express the zero-round degenerate " +
        "the Scala until() API allows")
    val rounds = (1 to maxIterations).map(oracleRoundSql)
    val deltas = (1 to maxIterations).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT $k::BIGINT AS k,
         |    sum((abs(a.hub - b.hub) + abs(a.auth - b.auth))::DECIMAL(38,18))::DOUBLE AS delta
         |  FROM s$k a JOIN s${k - 1} b ON a.id = b.id
         |)""".stripMargin
    }
    val deltasUnion = (1 to maxIterations)
      .map(k => s"SELECT k, delta FROM d$k").mkString(" UNION ALL ")
    val scoresUnion = (1 to maxIterations)
      .map(k => s"SELECT $k::BIGINT AS k, id, hub, auth FROM s$k")
      .mkString(" UNION ALL ")
    ((oracleRoundsHead(edgesCte) +: rounds) ++ deltas).mkString(",\n") + ",\n" +
      s"""stop AS (
         |  SELECT coalesce(min(k), $maxIterations::BIGINT) AS k
         |  FROM ($deltasUnion) WHERE delta <= $epsilon
         |)
         |SELECT id, floor(hub * 1000000 + 0.5) / 1000000 AS hub,
         |  floor(auth * 1000000 + 0.5) / 1000000 AS auth,
         |  (SELECT k FROM stop) AS stop_round
         |FROM ($scoresUnion) WHERE k = (SELECT k FROM stop)""".stripMargin
  }
}
