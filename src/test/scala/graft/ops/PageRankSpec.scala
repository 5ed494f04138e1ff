package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** PageRank: bit-identical to a BigDecimal-summed brute-force reference
  * on random digraphs with dangling nodes, mass-conserving, invariant
  * under partitioning, and multi-edge-collapsing.
  */
class PageRankSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def dec(x: Double): BigDecimal =
    BigDecimal(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)

  private def brute(edges: Seq[(Long, Long)], iters: Int,
                    d: Double): Map[Long, Double] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = es.groupBy(_._1).view.mapValues(_.size).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val sums = es.map { case (s, t) => t -> dec(rank(s) / out(s)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum.toDouble).toMap
      val m = nodes.filter(v => !out.contains(v))
        .map(v => dec(rank(v))).sum.toDouble
      rank = nodes.map(v => v ->
        ((1.0 - d) / n + d * (sums.getOrElse(v, 0.0) + m / n))).toMap
    }
    rank
  }

  private val rnd = new scala.util.Random(23)
  // ~60 nodes, some of which never appear as src (dangling)
  private val edges = (0 until 300).map(_ =>
    (rnd.nextInt(40).toLong, rnd.nextInt(60).toLong)).distinct

  test("== BigDecimal brute force bit-for-bit; mass conserved") {
    for (iters <- Seq(0, 1, 4)) {
      val got = PageRank.pageRank(edges.toDF("src", "dst"), iters,
          checkpointEvery = 2)
        .as[(Long, Double)].collect().toMap
      val expect = brute(edges, iters, 0.85)
      assert(got.keySet == expect.keySet)
      got.foreach { case (id, r) =>
        assert(r == expect(id), s"iters=$iters node $id")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9, s"mass at iters=$iters")
    }
  }

  test("warm start re-converges after a perturbation far faster than cold") {
    val e1 = edges.toDF("src", "dst")
    val converged = PageRank.pageRank(e1, 20)
    // perturb: drop a tenth of the edges
    val e2 = edges.filterNot(p => (p._1 + p._2) % 10 == 0).toDF("src", "dst")
    val cold2 = PageRank.pageRank(e2, 2)
      .as[(Long, Double)].collect().toMap
    val warm2 = PageRank.pageRankFrom(e2, converged, 2)
      .as[(Long, Double)].collect().toMap
    val coldLong = PageRank.pageRank(e2, 40).as[(Long, Double)].collect().toMap
    def maxDiff(a: Map[Long, Double]) =
      coldLong.map { case (id, r) => math.abs(a(id) - r) }.max
    // same 2-round budget: starting near the old fixpoint beats the
    // uniform start (the incremental-refresh claim; how MUCH it beats
    // it depends on mixing speed, so the pin is the ordering + a bound)
    assert(maxDiff(warm2) < maxDiff(cold2),
      s"warm(2)=${maxDiff(warm2)} vs cold(2)=${maxDiff(cold2)}")
    assert(maxDiff(warm2) < 1e-3)
  }

  test("warm start from uniform == cold start bit-for-bit") {
    val e = edges.toDF("src", "dst")
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val uniform = nodes.map(v => (v, 1.0 / nodes.size)).toDF("id", "rank")
    val warm = PageRank.pageRankFrom(e, uniform, 3)
      .as[(Long, Double)].collect().toMap
    val cold = PageRank.pageRank(e, 3).as[(Long, Double)].collect().toMap
    // the renormalization divides by a decimal-exact mass of exactly the
    // same doubles the cold init uses, so results can differ only by the
    // /m operation — with m from summing n copies of (1.0/n)
    warm.foreach { case (id, r) =>
      assert(math.abs(r - cold(id)) < 1e-15, s"node $id: $r vs ${cold(id)}")
    }
  }

  test("warm start fails loud on a degenerate carried vector " +
      "(zero/negative mass — ADVICE r18, the hitsFrom discipline)") {
    val e = edges.toDF("src", "dst")
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    // all-zero carried ranks: renormalizing would divide by zero mass
    // and mint NaNs that ride silently through every iteration
    val zeros = nodes.map(v => (v, 0.0)).toDF("id", "rank")
    val exZ = intercept[IllegalArgumentException](
      PageRank.pageRankFrom(e, zeros, 2))
    assert(exZ.getMessage.contains("degenerate"))
    // net-negative carried mass fails the same way
    val negs = nodes.map(v => (v, -1.0 / nodes.size)).toDF("id", "rank")
    assertThrows[IllegalArgumentException](
      PageRank.pageRankFrom(e, negs, 2))
  }

  test("invariant under partitioning; multi-edges collapse") {
    val dupEdges = edges ++ edges.take(50) // repeat some edges
    val a = PageRank.pageRank(dupEdges.toDF("src", "dst").repartition(1), 3)
      .as[(Long, Double)].collect().toMap
    val b = PageRank.pageRank(dupEdges.toDF("src", "dst").repartition(7), 3)
      .as[(Long, Double)].collect().toMap
    val plain = PageRank.pageRank(edges.toDF("src", "dst"), 3)
      .as[(Long, Double)].collect().toMap
    assert(a == b)
    assert(a == plain) // duplicates changed nothing
  }

  test("salted hub-skew join: exact tier bit-identical under any salt") {
    // the hot-OUT-hub mitigation (PERFNOTES "Round 12 — hub-skew
    // PageRank" measures the straggler lever) must not move a single
    // bit of the exact tier:
    // decimal sums are order-free, so spreading a node's edges over
    // salt buckets only changes the partitioning
    val hubby = edges ++ (200L to 260L).map(d => (7L, d)) // node 7 fans out
    val plain = PageRank.pageRank(hubby.toDF("src", "dst"), 3)
      .as[(Long, Double)].collect().toMap
    for (salt <- Seq(3, 8)) {
      val salted = PageRank.pageRank(hubby.toDF("src", "dst"), 3,
          saltJoin = salt)
        .as[(Long, Double)].collect().toMap
      assert(salted == plain, s"salt=$salt moved exact-tier bits")
    }
  }

  test("auto salt (saltJoin = 0): the regime rule sizes from the measured " +
      "hub numbers; auto == manual bit-for-bit on the exact tier") {
    // the PERFNOTES r12 hub graph (2 M nodes, 4 M edges, 1.6 M-edge
    // out-hub): the rule must resolve the measured-best salt 4 — the
    // replication bound (2 × avgDeg = 4) binds below parity (7 at 16
    // tasks, 13 at 32 — both measured slower than 4 on this graph)
    assert(PageRank.autoSaltJoin(1600000L, 4000000L, 2000000L, 16) == 4)
    assert(PageRank.autoSaltJoin(1600000L, 4000000L, 2000000L, 32) == 4)
    // a degree-20 crawl-shaped graph is replication-cheap: parity binds
    assert(PageRank.autoSaltJoin(1600000L, 4000000L, 200000L, 16) == 7)
    // uniform graph: max out-degree ~ the mean → stays unsalted
    assert(PageRank.autoSaltJoin(2L, 4000000L, 2000000L, 16) == 1)
    // sub-2x-per-task hubs stay unsalted (hysteresis band)
    assert(PageRank.autoSaltJoin(300000L, 4000000L, 2000000L, 16) == 1)
    // replication is capped
    assert(PageRank.autoSaltJoin(10000000L, 10000000L, 100L, 200) == 16)

    // a hub fixture where the rule ENGAGES at the suite's partition
    // count: the auto default must equal a manual salt bit-for-bit
    // (exact tier is salt-order-free, so equality is exact)
    val hub = edges ++ (1L to 400L).map(d => (7L, 1000L + d))
    val auto = PageRank.pageRank(hub.toDF("src", "dst"), 3)
      .as[(Long, Double)].collect().toMap
    val manual = PageRank.pageRank(hub.toDF("src", "dst"), 3, saltJoin = 4)
      .as[(Long, Double)].collect().toMap
    assert(auto == manual)
    // and the fixture really is in the engaged regime
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val es = hub.distinct
    val maxDeg = es.groupBy(_._1).map(_._2.size).max.toLong
    val nNodes = es.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong
    assert(PageRank.autoSaltJoin(maxDeg, es.size.toLong, nNodes, tasks) > 1,
      "fixture must trip the auto rule")
  }

  /** Brute-force WEIGHTED PageRank replaying pageRankWeighted's trees:
    * parallel-edge weights sum decimal-exactly, contribution is
    * rank · (w / W(u)), cross-edge sums decimal.
    */
  private def bruteWeighted(edges: Seq[(Long, Long, Double)], iters: Int,
                            d: Double): Map[Long, Double] = {
    val es = edges.filter(_._3 > 0.0)
      .groupBy(e => (e._1, e._2)).view
      .mapValues(_.map(e => dec(e._3)).sum.toDouble).toMap.toSeq
      .map { case ((s, t), w) => (s, t, w) }
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outW = es.groupBy(_._1).view
      .mapValues(_.map(e => dec(e._3)).sum.toDouble).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val sums = es.map { case (s, t, w) => t -> dec(rank(s) * (w / outW(s))) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum.toDouble).toMap
      val m = nodes.filter(v => !outW.contains(v))
        .map(v => dec(rank(v))).sum.toDouble
      rank = nodes.map(v => v ->
        ((1.0 - d) / n + d * (sums.getOrElse(v, 0.0) + m / n))).toMap
    }
    rank
  }

  test("weighted: == BigDecimal brute force; uniform weights == unweighted; " +
      "parallel edges sum; non-positive weights drop") {
    val wrnd = new scala.util.Random(67)
    val wedges = edges.map { case (s, t) => (s, t, 1.0 + wrnd.nextInt(9)) } ++
      Seq((1L, 2L, 3.5), (1L, 2L, 1.5),   // parallel pair: sums to 5.0
        (3L, 4L, 0.0), (5L, 6L, -2.0))    // dropped arms
    for (iters <- Seq(0, 1, 3)) {
      val got = PageRank.pageRankWeighted(
          wedges.toDF("src", "dst", "weight"), iters, checkpointEvery = 2)
        .as[(Long, Double)].collect().toMap
      val expect = bruteWeighted(wedges, iters, 0.85)
      assert(got.keySet == expect.keySet)
      got.foreach { case (id, r) =>
        assert(r == expect(id), s"weighted iters=$iters node $id")
      }
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
    // salted join is bit-identical (decimal sums are order-free) —
    // the hot-hub lever must not perturb the exact tier
    val plainW = PageRank.pageRankWeighted(
        wedges.toDF("src", "dst", "weight"), 3)
      .as[(Long, Double)].collect().toSet
    val saltedW = PageRank.pageRankWeighted(
        wedges.toDF("src", "dst", "weight"), 3, saltJoin = 4)
      .as[(Long, Double)].collect().toSet
    assert(plainW == saltedW)
    // all-equal weights degenerate to the unweighted form within fp
    // ulps: w/W(u) rounds to 1/deg(u) exactly, but the contribution is
    // then rank · fl(1/deg) — one more rounding than the unweighted
    // fl(rank/deg) — so per-node drift is a few ulps, never more (both
    // forms' cross-edge sums are decimal-exact over those per-edge
    // values)
    val uni = edges.map { case (s, t) => (s, t, 2.0) }
    val w3 = PageRank.pageRankWeighted(uni.toDF("src", "dst", "weight"), 3)
      .as[(Long, Double)].collect().toMap
    val u3 = PageRank.pageRank(edges.toDF("src", "dst"), 3)
      .as[(Long, Double)].collect().toMap
    w3.foreach { case (id, r) =>
      assert(math.abs(r - u3(id)) < 1e-14, s"uniform node $id: $r vs ${u3(id)}")
    }
  }

  test("pageRankUntil: stop round deterministic under partitioning; " +
      "result == fixed-iteration run at the stop round (VERDICT r17 #5)") {
    val df = edges.toDF("src", "dst")
    val (r1, n1) = PageRank.pageRankUntil(df.repartition(3), 1e-4,
      maxIterations = 60)
    val (r2, n2) = PageRank.pageRankUntil(df.repartition(11), 1e-4,
      maxIterations = 60)
    assert(n1 == n2, "stop round must not depend on partitioning")
    assert(n1 > 1 && n1 < 60, s"fixture must converge mid-range, got $n1")
    val m1 = r1.as[(Long, Double)].collect().toMap
    val m2 = r2.as[(Long, Double)].collect().toMap
    assert(m1 == m2, "converged ranks must be bit-identical across partitionings")
    // the epsilon loop runs the SAME round body: its output at the stop
    // round is byte-equal to the fixed-iteration API at that count
    val fixed = PageRank.pageRank(df, n1).as[(Long, Double)].collect().toMap
    assert(m1 == fixed, "epsilon path must be bit-identical to the fixed path")
    // tighter epsilon can only iterate further; a huge one stops at 1
    val (_, n3) = PageRank.pageRankUntil(df, 1e-9, maxIterations = 100)
    assert(n3 >= n1)
    val (_, n0) = PageRank.pageRankUntil(df, 1e9, maxIterations = 60)
    assert(n0 == 1)
    // the cap wins when epsilon is unreachable
    val (_, nCap) = PageRank.pageRankUntil(df, 0.0, maxIterations = 2)
    assert(nCap == 2)
  }

  test("pageRankWeightedUntil: same contract on the weighted form — " +
      "deterministic stop, bit-equal to the fixed API at the stop round") {
    val wrnd = new scala.util.Random(67)
    val wedges = edges.map { case (s, t) => (s, t, 1.0 + wrnd.nextInt(9)) }
    val df = wedges.toDF("src", "dst", "weight")
    val (r1, n1) = PageRank.pageRankWeightedUntil(df.repartition(3), 1e-4,
      maxIterations = 60)
    val (r2, n2) = PageRank.pageRankWeightedUntil(df.repartition(11), 1e-4,
      maxIterations = 60, saltJoin = 4)
    assert(n1 == n2, "stop round must not depend on partitioning or salt")
    assert(n1 > 1 && n1 < 60)
    val m1 = r1.as[(Long, Double)].collect().toMap
    assert(m1 == r2.as[(Long, Double)].collect().toMap)
    val fixed = PageRank.pageRankWeighted(df, n1)
      .as[(Long, Double)].collect().toMap
    assert(m1 == fixed, "epsilon path must be bit-identical to the fixed path")
  }
}
