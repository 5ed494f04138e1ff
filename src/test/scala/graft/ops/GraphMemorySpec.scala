package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the graph-iteration memory auto-sizing (VERDICT r18 #1):
  * partition arithmetic, the no-op band, the two-phase conf
  * apply/refine/restore (including a pre-existing coalescing floor and
  * the raw-count-is-an-upper-bound refinement), and row preservation
  * through the respread. Result invariance needs no new pin — the
  * exact tiers sum through order-free decimals and PageRankSpec/
  * HitsSpec already pin partitioning invariance.
  */
class GraphMemorySpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
  private def parts: String = spark.conf.get("spark.sql.shuffle.partitions")

  test("autoPartitions holds rows/task ~constant, never shrinks, caps") {
    // below the trigger: session setting wins
    assert(GraphMemory.autoPartitions(1000L, 32) == 32)
    assert(GraphMemory.autoPartitions(8000000L, 32) == 32)
    // the r18 tiers: 5.5M edges stays at 32; 55M edges rises to ~220
    assert(GraphMemory.autoPartitions(5500000L, 32) == 32)
    assert(GraphMemory.autoPartitions(55000000L, 32) == 220)
    // ceil, not floor
    assert(GraphMemory.autoPartitions(250001L * 2, 1) == 3)
    // backstop cap
    assert(GraphMemory.autoPartitions(Long.MaxValue / 4, 32) ==
      GraphMemory.maxPartitions)
  }

  test("sizedEdges is a no-op below the trigger (conf untouched)") {
    val before = parts
    val raw = Seq((1L, 2L), (2L, 3L), (1L, 2L)).toDF("src", "dst")
    val (e, restore) = GraphMemory.sizedEdges(raw, _.distinct())
    assert(parts == before)
    assert(spark.conf.getOption(minKey).isEmpty)
    assert(e.count() == 2L, "the collapse must have applied")
    restore() // no-op
    assert(parts == before)
    graft.Checkpoints.free(e)
  }

  test("phase 2 refines DOWN when the raw count was a loose upper " +
      "bound (heavy multi-edges): conf already back at baseline on return") {
    val before = parts
    // 1.5M raw rows over 60 distinct edges: phase 1 must raise the
    // conf (ceil(1.5M/250k) = 6 > 4) so the distinct survives; phase 2
    // sees 60 distinct rows and returns the session to baseline
    val raw = spark.range(1500000L)
      .select((col("id") % 6).as("src"), (col("id") % 10 + 100).as("dst"))
    val (e, restore) = GraphMemory.sizedEdges(raw, _.distinct())
    assert(parts == before,
      "a tiny distinct set must not leave the session over-tasked")
    assert(spark.conf.getOption(minKey).isEmpty,
      "the floor must be released with the partitions")
    assert(e.count() == 30L)
    restore()
    assert(parts == before)
    graft.Checkpoints.free(e)
  }

  test("above the trigger: conf raised + floor pinned for the rounds, " +
      "restore() puts BOTH back; rows survive the fat-input respread") {
    val before = parts
    assert(spark.conf.getOption(minKey).isEmpty, "test precondition")
    // 1.5M raw rows, all distinct, in ONE fat input split — phase 1
    // respreads before the distinct, phase 2 keeps the raised conf
    val raw = spark.range(1500000L).repartition(1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val (e, restore) = GraphMemory.sizedEdges(raw, _.distinct())
    try {
      val want = GraphMemory.autoPartitions(1500000L, before.toInt)
      assert(parts == want.toString,
        "the rounds must run on edge-proportional partitions")
      assert(spark.conf.get(minKey) == want.toString,
        "AQE coalescing would re-merge the raise without the floor")
      assert(e.count() == 1500000L, "respread + collapse must not lose rows")
    } finally restore()
    assert(parts == before)
    assert(spark.conf.getOption(minKey).isEmpty,
      "an unset coalescing floor must be UNSET again, not set to a value")
    graft.Checkpoints.free(e)
  }

  test("rowBound: exact on Range/local leaves, per-join allowance, " +
      "declines on amplifiers and statistic-less leaves") {
    val r = spark.range(1000L)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    assert(GraphMemory.rowBound(r).contains(BigInt(1000)))
    val l = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(GraphMemory.rowBound(l.filter(col("src") > 0))
      .contains(BigInt(2)))
    // a join multiplies the leaf sum by the documented allowance
    assert(GraphMemory.rowBound(r.join(l, Seq("src")))
      .contains(BigInt(1002) * GraphMemory.screenJoinAllowance))
    // explode can amplify unboundedly — the screen must decline
    assert(GraphMemory.rowBound(
      l.select(explode(array(col("src"), col("dst"))).as("x"))).isEmpty)
    // a localCheckpoint leaf (LogicalRDD) inherits its ORIGIN plan's
    // stats — exact here (LocalRelation origin), so the screen may
    // use it; an origin without a row count propagates None instead
    val c = l.localCheckpoint()
    try assert(GraphMemory.rowBound(c).contains(BigInt(2)))
    finally graft.Checkpoints.free(c)
  }

  test("rowBound reads exact parquet footer counts; the q_pagerank " +
      "join shape screens below trigger and skips phase 1 (conf untouched)") {
    val tmp = graft.TempDirs.dir("graft_gm_").toString
    try {
      spark.range(5000L)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
        .write.mode("overwrite").parquet(s"$tmp/a")
      spark.range(300L).select(col("id").as("k"))
        .write.mode("overwrite").parquet(s"$tmp/b")
      val a = spark.read.parquet(s"$tmp/a")
      val b = spark.read.parquet(s"$tmp/b")
      assert(GraphMemory.rowBound(a).contains(BigInt(5000)),
        "footer row counts must be exact, not byte heuristics")
      val raw = a.join(b, Seq("k"))
        .select(col("k").as("src"), col("v").as("dst"))
      assert(GraphMemory.rowBound(raw)
        .contains(BigInt(5300) * GraphMemory.screenJoinAllowance))
      val before = parts
      val (e, restore) = GraphMemory.sizedEdges(raw, _.distinct())
      assert(parts == before,
        "a screened-small input must leave the session conf untouched")
      assert(spark.conf.getOption(minKey).isEmpty)
      assert(e.count() == 300L, "the collapse must still have applied")
      restore()
      assert(parts == before)
      graft.Checkpoints.free(e)
    } finally graft.queries.StreamHarness.deleteTempDir(tmp)
  }

  test("restore() re-applies a PRE-EXISTING coalescing floor verbatim") {
    spark.conf.set(minKey, "7")
    try {
      val raw = spark.range(1200000L)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val (e, restore) = GraphMemory.sizedEdges(raw, _.distinct())
      restore()
      assert(spark.conf.get(minKey) == "7",
        "a session that launched with its own floor must get it back")
      graft.Checkpoints.free(e)
    } finally spark.conf.unset(minKey)
  }
}
