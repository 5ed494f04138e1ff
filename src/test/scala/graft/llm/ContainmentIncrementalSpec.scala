package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Incremental containment screen (VERDICT r18 #3 — the asymmetric
  * twin of JaccardIncrementalSpec): survivors must equal brute force
  * (no snapshot doc contained ≥ t in some archived doc survives,
  * everything else does), the full-list index must be append-only and
  * threshold-independent, and replay must be idempotent (two-arrival
  * == one-shot — the q_jaccard_incremental convention).
  */
class ContainmentIncrementalSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  import JaccardFixture.{corpus, shingles}

  /** Unrounded containment |A∩B|/|A|; empty A scores 0 — the
    * containmentBySets decision boundary.
    */
  private def cont(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty) 0.0 else a.intersect(b).size.toDouble / a.size

  private def bruteSurvivors(snap: Seq[(Long, String)],
                             arch: Seq[(Long, String)], t: Double): Set[Long] = {
    val archSets = arch.map { case (_, s) => shingles(s) }
    snap.filter { case (_, s) =>
      val ss = shingles(s)
      !archSets.exists(as => cont(ss, as) >= t)
    }.map(_._1).toSet
  }

  private def run(snap: Seq[(Long, String)], arch: Seq[(Long, String)],
                  t: Double): Set[Long] = {
    val archDf = arch.toDF("doc_id", "text")
    val idx = Dedup.containmentIndex(archDf, "doc_id", "text")
    Dedup.containmentDedupAgainst(snap.toDF("doc_id", "text"),
        "doc_id", "text", idx, archDf, "doc_id", "text", t)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("screen equals brute force across seeds and thresholds") {
    for (seed <- Seq(5, 6); t <- Seq(0.4, 0.8, 1.0)) {
      val arch = corpus(seed, 50, idBase = 0L)
      // truncation stubs in the snapshot: the re-crawl shape the
      // screen exists for (containment ≈ 1, Jaccard ≈ |stub|/|src|)
      val snap = corpus(seed + 100, 50, idBase = 1000L) ++
        arch.take(10).map { case (id, s) =>
          (2000L + id, s.split(" ").take(6).mkString(" ")) }
      assert(run(snap, arch, t) == bruteSurvivors(snap, arch, t),
        s"screen diverged from brute force at t=$t seed=$seed")
    }
  }

  test("truncations drop; supersets of archive docs survive (asymmetry)") {
    val arch = Seq((1L, "a b c d e f g h i j"))
    val snap = Seq(
      (10L, "a b c d e f"),                       // prefix stub: contained
      (11L, "a b c d e f g h i j k l m n o p"),   // SUPERSET: not contained
      (12L, "x y z q r s t u"))                   // disjoint
    assert(run(snap, arch, 0.8) == Set(11L, 12L))
  }

  test("short docs (empty shingle set) always survive") {
    val arch = Seq((1L, "a b c d e f"))
    val snap = Seq((10L, "a b"), (11L, ""))
    assert(run(snap, arch, 0.5) == Set(10L, 11L))
  }

  test("index is append-only and threshold-independent; replay is " +
      "idempotent (two-arrival == one-shot)") {
    val arch1 = corpus(7, 30, idBase = 0L)
    val arch2 = corpus(8, 30, idBase = 500L)
    val snap = corpus(107, 40, idBase = 1000L) ++
      arch2.take(8).map { case (id, s) =>
        (2000L + id, s.split(" ").take(6).mkString(" ")) }
    val archAll = arch1 ++ arch2
    val snapDf = snap.toDF("doc_id", "text")
    val archAllDf = archAll.toDF("doc_id", "text")
    // append-only: index(arch1) ∪ index(arch2) == index(arch1 ∪ arch2)
    // — rows are per-document facts under the fixed hash order
    val unioned = Dedup.containmentIndex(arch1.toDF("doc_id", "text"),
        "doc_id", "text")
      .unionByName(Dedup.containmentIndex(arch2.toDF("doc_id", "text"),
        "doc_id", "text"))
    val oneShot = Dedup.containmentIndex(archAllDf, "doc_id", "text")
    assert(unioned.collect().toSet == oneShot.collect().toSet,
      "unioned per-arrival indexes must equal the one-shot index")
    // threshold-independent: the SAME index serves any t
    for (t <- Seq(0.4, 0.9)) {
      val got = Dedup.containmentDedupAgainst(snapDf, "doc_id", "text",
          unioned, archAllDf, "doc_id", "text", t)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == bruteSurvivors(snap, archAll, t), s"t=$t")
    }
    // idempotent replay: screening the survivors again drops nothing
    val once = Dedup.containmentDedupAgainst(snapDf, "doc_id", "text",
      oneShot, archAllDf, "doc_id", "text", 0.8)
    val twice = Dedup.containmentDedupAgainst(once, "doc_id", "text",
        oneShot, archAllDf, "doc_id", "text", 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(twice == once.select("doc_id").collect().map(_.getLong(0)).toSet,
      "replaying the screen over its own survivors must be a no-op")
  }
}
