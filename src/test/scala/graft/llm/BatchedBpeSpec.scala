package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins [[BpeTrain.learnMergesBatched]] == [[SequentialMerges.bpe]] —
  * the EXACT merge list, not an approximation — on corpora built to
  * hit every hazard the prefix-batch argument guards against:
  * twin-heavy words (deep shared merge chains), tiny alphabets
  * (symbol-string collisions: "a"+"ab" vs "aa"+"b" both spell "aab"),
  * repeated-character runs (self-pairs + overlap semantics), and count
  * ties (the strict-guard boundary).
  */
class BatchedBpeSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def corpus(seed: Int, alphabet: String, nDocs: Int) = {
    val rnd = new scala.util.Random(seed)
    def word() = (1 to (1 + rnd.nextInt(6)))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    // twin-heavy: draw from a small word pool so duplicates dominate
    val pool = (1 to 12).map(_ => word())
    (1L to nDocs.toLong).map(i =>
      (i, (1 to (1 + rnd.nextInt(8)))
        .map(_ => pool(rnd.nextInt(pool.length))).mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("property: batched merge list == sequential, across seeds/alphabets/batch sizes") {
    for ((seed, alphabet) <- Seq((1, "ab"), (2, "abc"), (5, "aab"));
         batchSize <- Seq(2, 4, 16)) {
      val wc = BpeTrain.wordCounts(corpus(seed, alphabet, 40), "text")
      val sequential = SequentialMerges.bpe(wc, numMerges = 30)
      val batched = BpeTrain.learnMergesBatched(wc, numMerges = 30,
        batchSize = batchSize)
      assert(batched == sequential,
        s"seed=$seed alphabet=$alphabet batchSize=$batchSize diverged at " +
          s"index ${batched.zip(sequential).indexWhere(p => p._1 != p._2)}:\n" +
          s"  batched    = $batched\n  sequential = $sequential")
    }
  }

  test("batched respects numMerges and minFrequency like sequential") {
    val wc = BpeTrain.wordCounts(corpus(3, "abc", 30), "text")
    for (mf <- Seq(2L, 5L)) {
      val sequential = SequentialMerges.bpe(wc, numMerges = 12, minFrequency = mf)
      val batched = BpeTrain.learnMergesBatched(wc, numMerges = 12,
        minFrequency = mf, batchSize = 8)
      assert(batched == sequential, s"minFrequency=$mf")
    }
    // numMerges cap truncates mid-batch without changing the prefix
    val all = BpeTrain.learnMergesBatched(wc, numMerges = 12, batchSize = 8)
    val capped = BpeTrain.learnMergesBatched(wc, numMerges = 5, batchSize = 8)
    assert(capped == all.take(5))
  }

  test("batched uses fewer rounds than merges (the point of batching)") {
    val wc = BpeTrain.wordCounts(corpus(4, "abcd", 60), "text")
    val sequential = SequentialMerges.bpe(wc, numMerges = 25)
    var rounds = 0
    val batched = BpeTrain.learnMergesBatched(wc, numMerges = 25,
      batchSize = 8, onRound = r => rounds = r)
    assert(batched == sequential)
    assert(rounds < sequential.size,
      s"expected < ${sequential.size} rounds, got $rounds")
  }

  test("selectBatchPrefix: interaction cut, strict guard, capacity, fallback") {
    def sel(top: Seq[(String, String, Long)], max: Int,
            complete: Boolean = true) =
      BpeTrain.selectBatchPrefix(top, max, complete, minFrequency = 2)

    // disjoint prefix passes; interacting pair cuts it
    assert(sel(Seq(("a", "b", 10L), ("c", "d", 8L), ("b", "e", 7L),
      ("f", "g", 6L)), 16) == Seq(("a", "b"), ("c", "d")))
    // strict guard: a batched pair TIED with the cut count is dropped
    assert(sel(Seq(("a", "b", 10L), ("c", "d", 7L), ("b", "e", 7L)), 16)
      == Seq(("a", "b")))
    // argmax survives even when tied with an interacting second
    assert(sel(Seq(("a", "b", 7L), ("b", "c", 7L)), 16) == Seq(("a", "b")))
    // concat of an earlier pair counts as a used symbol ("ab"+"c" after "a"+"b")
    assert(sel(Seq(("a", "b", 10L), ("ab", "c", 8L), ("d", "e", 6L)), 16)
      == Seq(("a", "b")))
    // capacity cut applies the same strict guard
    assert(sel(Seq(("a", "b", 10L), ("c", "d", 9L), ("e", "f", 9L)), 2)
      == Seq(("a", "b")))
    // incomplete list: last collected count is the guard floor
    assert(sel(Seq(("a", "b", 10L), ("c", "d", 6L)), 16, complete = false)
      == Seq(("a", "b")))
  }
}
