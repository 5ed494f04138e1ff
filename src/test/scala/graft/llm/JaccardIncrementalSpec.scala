package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Incremental exact-Jaccard screen: survivors must equal the
  * brute-force answer (no snapshot doc with an archive partner >= t
  * survives, everything else does) — the completeness claim the banded
  * screen can't make — and a lower-threshold index must serve a
  * higher-threshold screen unchanged.
  */
class JaccardIncrementalSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  import JaccardFixture.{corpus, shingles, jac}

  private def bruteSurvivors(snap: Seq[(Long, String)],
                             arch: Seq[(Long, String)], t: Double): Set[Long] = {
    val archSets = arch.map { case (_, s) => shingles(s) }.filter(_.nonEmpty)
    snap.filter { case (_, s) =>
      val ss = shingles(s)
      ss.isEmpty || !archSets.exists(as => jac(ss, as) >= t)
    }.map(_._1).toSet
  }

  private def run(snap: Seq[(Long, String)], arch: Seq[(Long, String)],
                  tIndex: Double, tScreen: Double): Set[Long] = {
    val archDf = arch.toDF("doc_id", "text")
    val idx = Dedup.jaccardIndex(archDf, "doc_id", "text", tIndex)
    Dedup.jaccardDedupAgainst(snap.toDF("doc_id", "text"), "doc_id", "text",
        idx, archDf, "doc_id", "text", tScreen)
      .select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("screen equals brute force across seeds and thresholds") {
    for (seed <- Seq(5, 6); t <- Seq(0.4, 0.7, 1.0)) {
      // overlapping template families (same construction, different
      // edits) so cross-corpus Jaccard spans (0, 1]
      val arch = corpus(seed, 50, idBase = 0L)
      val snap = corpus(seed + 100, 50, idBase = 1000L)
      assert(run(snap, arch, t, t) == bruteSurvivors(snap, arch, t),
        s"screen diverged from brute force at t=$t seed=$seed")
    }
  }

  test("a lower-threshold index serves a higher-threshold screen unchanged") {
    val arch = corpus(9, 40, idBase = 0L)
    val snap = corpus(109, 40, idBase = 1000L)
    assert(run(snap, arch, tIndex = 0.4, tScreen = 0.8) ==
      bruteSurvivors(snap, arch, 0.8))
  }

  test("a HIGHER-threshold index refuses a lower-threshold screen") {
    val arch = corpus(9, 10, idBase = 0L)
    val snap = corpus(109, 10, idBase = 1000L)
    val e = intercept[IllegalArgumentException](
      run(snap, arch, tIndex = 0.8, tScreen = 0.5))
    assert(e.getMessage.contains("built at"),
      "index prefixes too short for the screen must be a hard error")
  }

  test("verbatim archive copies always drop; disjoint docs always survive") {
    val arch = Seq((1L, "p q r s t u v w"), (2L, "a b c d e f g h"))
    val snap = Seq((10L, "p q r s t u v w"),   // exact archive copy
                   (11L, "m n o x y z k l"))   // disjoint
    assert(run(snap, arch, 0.8, 0.8) == Set(11L))
  }
}
