package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** LSH band planning (MMDS ch. 3): the (bands, rows) choice must sit
  * under the target threshold (recall-safe — the verify stage repairs
  * false positives, never banding misses) and the S-curve arithmetic
  * must behave.
  */
class LshPlanSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("lshPlan: crossover sits under the threshold; known plans") {
    // crossovers at n=16: (16,1)=0.0625 (8,2)=0.354 (5,3)=0.585
    // (4,4)=0.707 (3,5)=0.803 (2,8)=0.917 (1,16)=1.0
    assert(Dedup.lshPlan(0.2, 16) == ((16, 1)))
    assert(Dedup.lshPlan(0.5, 16) == ((8, 2)))
    assert(Dedup.lshPlan(0.8, 16) == ((4, 4)),
      "the module's 16/4 default IS the t=0.8 plan")
    assert(Dedup.lshPlan(0.95, 16) == ((2, 8)))
    // below every feasible crossover: the highest-recall plan
    assert(Dedup.lshPlan(0.01, 16) == ((16, 1)))
    // crossover <= threshold whenever feasible, for many (t, n)
    for (t <- Seq(0.1, 0.3, 0.5, 0.7, 0.9); n <- Seq(8, 16, 64, 128)) {
      val (b, r) = Dedup.lshPlan(t, n)
      assert(b * r <= n)
      val crossover = math.pow(1.0 / b, 1.0 / r)
      if (math.pow(1.0 / n, 1.0) <= t) // (n,1) feasible => safe plan exists
        assert(crossover <= t + 1e-12,
          s"t=$t n=$n plan ($b,$r) crossover $crossover above threshold")
    }
  }

  test("splitAssign: exhaustive, disjoint, growth-stable, salt-independent") {
    import org.apache.spark.sql.functions._
    val splits = Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1)
    val ids = (1L to 2000L).toDF("id")
    val got = ids.select(col("id"),
      TextFunctions.splitAssign(col("id").cast("string"), splits).as("s"))
    val counts = got.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exhaustive and disjoint: every row labeled, labels only from splits
    assert(counts.keySet.subsetOf(splits.map(_._1).toSet))
    assert(counts.values.sum == 2000L)
    // proportions near fractions (hash-uniform; 2000 rows, ±4 sd)
    assert(math.abs(counts("train") - 1600L) < 120)
    // growth stability: adding rows never relabels an existing one
    val before = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val after = (1L to 4000L).toDF("id")
      .select(col("id"), TextFunctions.splitAssign(
        col("id").cast("string"), splits).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(before.forall { case (k, v) => after(k) == v })
    // independent partitions under different salts
    val other = ids.select(TextFunctions.splitAssign(
        col("id").cast("string"), splits, salt = "fold2").as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(other.values.sum == 2000L)
    // fractions must sum to 1 exactly
    assertThrows[IllegalArgumentException](
      TextFunctions.splitAssign(col("id"), Seq("a" -> 0.5, "b" -> 0.4)))
  }

  test("leakage-safe splits: every near-dup cluster lands in ONE split") {
    import org.apache.spark.sql.functions._
    val df = graft.queries.QueriesLLM
      .q_split_leakage_safe(spark, "/root/testdata/sf0.001")
    val perKey = df.groupBy("split_key")
      .agg(countDistinct(col("split")).as("n_splits"),
        count(lit(1)).as("members"))
    assert(perKey.filter(col("n_splits") =!= 1).count() == 0,
      "a cluster must never straddle splits")
    assert(perKey.filter(col("members") > 1).count() > 0,
      "the duplicated fixture must actually produce multi-member clusters")
  }
}
