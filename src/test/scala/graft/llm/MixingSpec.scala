package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Library-level properties of [[Mixing]] the DuckDB oracles
  * (`q_shard_assign`, `q_mixture_plan`, `q_mixture_expand`) don't cover:
  * stability under corpus growth, the written shard layout, and the
  * exact copy semantics of epoch expansion.
  */
class MixingSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("shuffleKeys: stable under corpus growth; salt changes the permutation") {
    val base = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val grown = (1L to 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def keys(df: org.apache.spark.sql.DataFrame, salt: String) =
      Mixing.shuffleKeys(df, "doc_id", nShards = 8, salt = salt)
        .select("doc_id", "shard", "shuffle_order")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val a = keys(base, "shuffle")
    val b = keys(grown, "shuffle")
    // adding 100 documents moves NOBODY: every original doc keeps its
    // (shard, order) — the property orderBy(rand()) loses
    assert(a.forall { case (id, so) => b(id) == so })
    // a different salt is a genuinely different permutation
    val c = keys(base, "run2")
    assert(a.exists { case (id, so) => c(id) != so })
    // shards are reasonably balanced (hash-uniform: no shard empty or
    // dominant at n=200, k=8)
    val sizes = a.values.groupBy(_._1).view.mapValues(_.size)
    assert(sizes.size == 8 && sizes.values.min > 200 / 8 / 3)
  }

  test("mixturePlan: caps at maxEpochs, reports shortfall, zero-weights excluded") {
    val docs = Seq(
      ("a", 100L), ("a", 100L),          // source a: 200 tokens
      ("b", 1000L), ("b", 1000L),        // source b: 2000 tokens
      ("c", 500L)                        // source c: unweighted
    ).toDF("source", "n_tokens")
    val plan = Mixing.mixturePlan(docs, "source", "n_tokens",
        Map("a" -> 0.5, "b" -> 0.5), budget = 2000.0, maxEpochs = 3.0)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getDouble(7))).toMap
    // a: target 1000 over 200 tokens -> wants 5 epochs, capped at 3 ->
    // planned 600, shortfall 400
    assert(plan("a") == (0.5, 1000.0, 3.0, 600.0, 400.0))
    // b: target 1000 over 2000 tokens -> 0.5 epochs, uncapped, no shortfall
    assert(plan("b") == (0.5, 1000.0, 0.5, 1000.0, 0.0))
    // c: weight 0 -> zero everything (still reported)
    assert(plan("c") == (0.0, 0.0, 0.0, 0.0, 0.0))
  }

  test("mixtureExpand: integer epochs copy exactly; fractional tail is the hash predicate") {
    val docs = (1L to 100L).map(i =>
      (i, if (i <= 50) "full" else "frac")).toDF("doc_id", "source")
    val out = Mixing.mixtureExpand(docs, "doc_id", "source",
      Map("full" -> 2.0, "frac" -> 0.4))
    // source "full": every doc exactly twice, epochs 0 and 1
    val full = out.filter(col("source") === "full")
      .groupBy("doc_id").agg(collect_set("epoch").as("es")).collect()
    assert(full.length == 50 &&
      full.forall(_.getSeq[Int](1).toSet == Set(0, 1)))
    // source "frac": subset at epoch 0 only, membership == the same
    // hash64 predicate the stratified sampler uses
    val fracIds = out.filter(col("source") === "frac")
      .select("doc_id", "epoch").collect()
    assert(fracIds.forall(_.getInt(1) == 0))
    val expected = docs.filter(col("source") === "frac")
      .filter(pmod(TextFunctions.hash64(
        concat(col("doc_id").cast("string"), lit("mix"))), lit(1000000L))
        < lit(400000L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fracIds.map(_.getLong(0)).toSet == expected)
    // expansion is deterministic: two runs, identical multiset
    val again = Mixing.mixtureExpand(docs, "doc_id", "source",
      Map("full" -> 2.0, "frac" -> 0.4))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }
  test("weightedSamplePredicate: deterministic, monotone in prob, exact clamp") {
    val docs = (0L until 500L).map(i => (i, s"doc body number $i with words"))
      .toDF("doc_id", "text")
    def kept(p: Double): Set[Long] = docs
      .filter(TextFunctions.weightedSamplePredicate(col("text"), lit(p)))
      .collect().map(_.getLong(0)).toSet
    // determinism across partitionings
    val a = kept(0.3)
    val b = docs.repartition(13)
      .filter(TextFunctions.weightedSamplePredicate(col("text"), lit(0.3)))
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // monotone: raising the probability only ADDS documents
    assert(a.subsetOf(kept(0.6)) && kept(0.6).subsetOf(kept(1.0)))
    // clamp: p >= 1 keeps everything, p <= 0 keeps nothing, null drops
    assert(kept(1.0).size == 500 && kept(5.0).size == 500)
    assert(kept(0.0).isEmpty && kept(-2.0).isEmpty)
    assert(docs.filter(TextFunctions.weightedSamplePredicate(col("text"),
      lit(null).cast("double"))).count() == 0)
    // expected mass tracks sum(prob): p=0.3 keeps ~30% (hash-uniform)
    assert(a.size > 100 && a.size < 200, s"${a.size} kept at p=0.3")
  }

  test("temperatureWeights: T=1 reproduces shares; higher T flattens " +
      "toward uniform; weights normalize; partitioning-invariant (r18)") {
    // skewed corpus: 800 / 150 / 50 tokens across three sources
    val rows = Seq.tabulate(80)(i => (i.toLong, "a", 10L)) ++
      Seq.tabulate(30)(i => (100L + i, "b", 5L)) ++
      Seq.tabulate(10)(i => (200L + i, "c", 5L))
    val df = rows.toDF("doc_id", "source", "n_tok")
    def weights(t: Double, parts: Int = 4): Map[String, (Double, Double)] =
      Mixing.temperatureWeights(df.repartition(parts), "source", "n_tok", t)
        .select("source", "share", "weight")
        .as[(String, Double, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val t1 = weights(1.0)
    // T = 1: weight == share up to the two rounding grids
    t1.foreach { case (s, (share, w)) =>
      assert(math.abs(w - share) < 2e-6, s"$s: $w vs $share")
    }
    val t2 = weights(2.0)
    val t100 = weights(100.0)
    // flattening: the dominant source loses mass, the smallest gains,
    // monotonically in T; at T=100 everything is near uniform
    assert(t2("a")._2 < t1("a")._2 && t100("a")._2 < t2("a")._2)
    assert(t2("c")._2 > t1("c")._2 && t100("c")._2 > t2("c")._2)
    assert(math.abs(t100("a")._2 - 1.0 / 3) < 0.01)
    // normalization on the round6 grid
    Seq(t1, t2, t100).foreach { m =>
      assert(math.abs(m.values.map(_._2).sum - 1.0) < 1e-5)
    }
    // deterministic under partitioning (decimal sums + fixed grids)
    assert(weights(2.0, parts = 1) == weights(2.0, parts = 13))
    // guards: non-positive temperature; negative per-source totals
    // (a negative share would exponentiate to NaN and silently poison
    // every weight — ADVICE r18); empty/zero corpus
    assertThrows[IllegalArgumentException](
      Mixing.temperatureWeights(df, "source", "n_tok", 0.0))
    val negDf = (rows :+ ((300L, "d", -2000L))).toDF("doc_id", "source", "n_tok")
    assertThrows[IllegalArgumentException](
      Mixing.temperatureWeights(negDf, "source", "n_tok", 2.0))
    assertThrows[IllegalArgumentException](
      Mixing.temperatureWeights(df.limit(0), "source", "n_tok", 2.0))
    // the advertised composition: the weight column feeds mixturePlan
    // directly (the planner re-normalizes, so the round6 grid is
    // harmless) — every source planned, targets ∝ temperature weights
    val w2 = Mixing.temperatureWeights(df, "source", "n_tok", 2.0)
      .select("source", "weight").as[(String, Double)].collect().toMap
    val plan = Mixing.mixturePlan(df, "source", "n_tok", w2,
        budget = 1000.0, maxEpochs = 10.0)
      .select("source", "weight", "target_tokens")
      .as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(plan.keySet == w2.keySet)
    val wSum = w2.values.sum
    plan.foreach { case (s, (pw, target)) =>
      assert(math.abs(pw - w2(s) / wSum) < 2e-6, s"$s plan weight")
      assert(math.abs(target - pw * 1000.0) < 1e-3, s"$s target")
    }
  }
}
