package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** PMI-lift collocation mining and the m-estimate group quality prior
  * — hand-checkable fixtures pin the arithmetic the DuckDB oracles
  * replay at corpus scale (`q_collocations`, `q_source_prior`).
  */
class CollocationPriorSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("collocations: lift ranks the glued pair above the independent one") {
    // "new york" always co-occur; "the cat"/"the dog" share a promiscuous
    // left word. 8 docs, every token counted by hand below.
    val docs = Seq(
      (1L, "new york is big"), (2L, "new york is old"),
      (3L, "the cat sat"), (4L, "the dog sat"),
      (5L, "the cat ran"), (6L, "the dog ran"),
      (7L, "new york won"), (8L, "the cat won")).toDF("doc_id", "text")
    val got = TextFunctions.collocations(docs, "text", minCount = 3)
      .orderBy(col("lift").desc, col("gram")).collect()
    // totals: 26 tokens; new=3 york=3 the=5 cat=3 "new york"=3 "the cat"=3
    val newYork = got.find(_.getString(0) == "new york").get
    assert(newYork.getLong(1) == 3 && newYork.getLong(2) == 3 &&
      newYork.getLong(3) == 3)
    // lift(new york) = 3·26/(3·3) = 8.6666…, round6 → 8.666667
    assert(newYork.getDouble(4) == 8.666667)
    val theCat = got.find(_.getString(0) == "the cat").get
    // lift(the cat) = 3·26/(5·3) = 5.2 — diluted by the promiscuous "the"
    assert(theCat.getDouble(4) == 5.2)
    assert(got.head.getString(0) == "new york",
      "the glued pair must outrank the diluted one")
    // minCount drops every singleton pair ("is big", "dog sat", ...)
    assert(got.forall(_.getLong(1) >= 3))
  }

  test("groupQualityPrior: m=0 is the group mean; small groups shrink toward the prior") {
    // group a: 8 docs at quality 1.0; group b: 2 docs at 0.0;
    // corpus prior = 8/10 = 0.8
    val docs = ((1 to 8).map(i => (i.toLong, "a", 1.0)) ++
      Seq((9L, "b", 0.0), (10L, "b", 0.0))).toDF("id", "source", "q")
    def prior(m: Double) =
      Curation.groupQualityPrior(docs, "source", "q", m)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toMap
    val m0 = prior(0.0)
    assert(m0("a") == ((8L, 1.0, 0.8, 1.0)) && m0("b") == ((2L, 0.0, 0.8, 0.0)),
      "m = 0 must reproduce the raw group means")
    val m2 = prior(2.0)
    // b: (0 + 2*0.8)/(2+2) = 0.4 — two bad samples no longer condemn
    // the whole domain; a: (8 + 1.6)/10 = 0.96 — barely moved
    assert(m2("b")._4 == 0.4 && m2("a")._4 == 0.96)
    // join-back decorates every row with its group's columns
    val back = docs.join(
      broadcast(Curation.groupQualityPrior(docs, "source", "q", 2.0)),
      Seq("source"))
    assert(back.count() == 10 &&
      back.filter(col("source") === "b")
        .select("smoothed_quality").distinct().as[Double].collect()
        .toSeq == Seq(0.4))
  }

  test("groupQualityPrior: null-quality rows carry no statistical mass (ADVICE r15)") {
    // group a: two scored 1.0 + one UNSCORED row. The null row must not
    // read as a phantom 0 (deflating the mean) nor add pseudo-count
    // mass; group b is all-null — kept, mean-less, smoothed == prior.
    val docs = Seq(
      (1L, "a", Some(1.0)), (2L, "a", Some(1.0)), (3L, "a", None),
      (4L, "b", None),
      (5L, "c", Some(0.5))).toDF("id", "source", "q")
    val got = Curation.groupQualityPrior(docs, "source", "q", 2.0)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), r.getDouble(3), r.get(4))).toMap
    // corpus: 3 scored rows, prior = 2.5/3 = 0.833333 (round6)
    assert(got("a")._1 == 2L && got("a")._2 == Some(1.0))
    assert(got("a")._3 == 0.833333)
    // a: (2 + 2·0.833333)/(2+2) = 0.916667 — not (2+…)/(3+2)
    assert(got("a")._4 == 0.916667)
    assert(got("b")._1 == 0L && got("b")._2.isEmpty,
      "an all-null group keeps its row with no mean")
    assert(got("b")._4 == 0.833333, "all-null group smooths to the prior")
  }

  test("groupQualityPrior is partitioning-independent (decimal-exact sums)") {
    val docs = (1 to 997).map(i =>
      (i.toLong, s"s${i % 7}", math.round(i / 997.0 * 1e6) / 1e6))
      .toDF("id", "source", "q")
    val one = Curation.groupQualityPrior(docs.coalesce(1), "source", "q", 20.0)
      .orderBy("source").collect().toSeq
    val many = Curation.groupQualityPrior(docs.repartition(32), "source", "q", 20.0)
      .orderBy("source").collect().toSeq
    assert(one == many, "sums must not drift with partial-agg order")
  }
}
