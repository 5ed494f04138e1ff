package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Unigram-LM (SentencePiece-style) tokenizer training: the E-step's
  * lattice forward-backward matches brute-force enumeration over ALL
  * segmentations, EM never decreases corpus likelihood, training is
  * bit-identical under any partitioning, Viterbi matches brute-force
  * argmax, and single characters survive pruning (every word stays
  * segmentable).
  */
class UnigramLmSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val words = Seq(
    ("hello", 5L), ("help", 3L), ("yellow", 2L), ("low", 4L),
    ("hell", 1L), ("lol", 2L), ("pool", 1L), ("loop", 1L))

  private def wordsDf(parts: Int = 2) =
    words.toDF("word", "cnt").repartition(parts)

  // ---- brute-force over all 2^(n-1) segmentations ----

  private def allSegs(w: String, pieces: Set[String],
                      maxLen: Int): Seq[Seq[String]] =
    if (w.isEmpty) Seq(Seq.empty)
    else (1 to math.min(maxLen, w.length)).flatMap { l =>
      val head = w.substring(0, l)
      if (pieces(head)) allSegs(w.substring(l), pieces, maxLen).map(head +: _)
      else Nil
    }

  test("E-step expected counts match brute-force enumeration") {
    val logp = Map("h" -> math.log(0.1), "e" -> math.log(0.1),
      "l" -> math.log(0.2), "o" -> math.log(0.1), "he" -> math.log(0.15),
      "ll" -> math.log(0.2), "lo" -> math.log(0.1), "hell" -> math.log(0.05))
    for (w <- Seq("hello", "hell", "he", "lo", "llo")) {
      val (z, ec) = UnigramLm.expectedCounts(w, logp, 4)
      val segs = allSegs(w, logp.keySet, 4)
      val probs = segs.map(s => math.exp(s.map(logp).sum))
      val zBrute = probs.sum
      assert(math.abs(math.exp(z) - zBrute) < 1e-12, s"Z($w)")
      val expect = segs.zip(probs).flatMap { case (s, p) =>
        s.map(_ -> p / zBrute)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val got = ec.toMap
      assert(got.keySet == expect.keySet, s"pieces($w)")
      got.foreach { case (p, e) =>
        assert(math.abs(e - expect(p)) < 1e-10, s"E[$p | $w]: $e vs ${expect(p)}")
      }
    }
  }

  test("EM never decreases corpus log-likelihood") {
    val seed = UnigramLm.seedVocab(wordsDf(), seedSize = 64, maxPieceLen = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val tot = seed.map(_._2).sum.toDouble
    var model = UnigramLm.Model(
      seed.map { case (p, f) => p -> math.log(f / tot) }.toMap, 4)
    var lastLl = Double.NegativeInfinity
    for (i <- 1 to 4) {
      val (ll, ec) = UnigramLm.emStep(wordsDf(), model)
      assert(ll >= lastLl - 1e-9, s"iteration $i: ll $ll < $lastLl")
      lastLl = ll
      val ecTot = ec.map(_._2).sum
      model = UnigramLm.Model(
        ec.filter(_._2 > 0.0)
          .map { case (p, e) => p -> math.log(e / ecTot) }.toMap, 4)
    }
  }

  test("training is bit-identical under different partitionings") {
    val m1 = UnigramLm.train(wordsDf(1), vocabSize = 16, seedSize = 64)
    val m8 = UnigramLm.train(wordsDf(8), vocabSize = 16, seedSize = 64)
    assert(m1.logp.keySet == m8.logp.keySet)
    m1.logp.foreach { case (p, lp) =>
      assert(lp == m8.logp(p), s"logp($p) differs across partitionings")
    }
  }

  test("pruning keeps all single characters; vocab reaches target") {
    val m = UnigramLm.train(wordsDf(), vocabSize = 12, seedSize = 64)
    val chars = words.flatMap(_._1.split("")).toSet
    assert(chars.subsetOf(m.pieces), s"missing chars: ${chars -- m.pieces}")
    assert(m.pieces.count(_.length > 1) <= math.max(0, 12 - chars.size))
  }

  test("Viterbi matches brute-force argmax; OOV chars pass through") {
    val m = UnigramLm.train(wordsDf(), vocabSize = 16, seedSize = 64)
    for (w <- Seq("hello", "lowpool", "help")) {
      val got = UnigramLm.viterbi(w, m.logp, m.maxPieceLen)
      assert(got.mkString == w, s"viterbi($w) does not re-concatenate")
      val best = allSegs(w, m.pieces, m.maxPieceLen)
        .map(s => s -> s.map(m.logp).sum).maxBy(_._2)
      val gotScore = got.map(m.logp).sum
      assert(math.abs(gotScore - best._2) < 1e-12,
        s"viterbi($w)=$got score $gotScore, brute best ${best._1} ${best._2}")
    }
    val oov = UnigramLm.viterbi("lox!", m.logp, m.maxPieceLen)
    assert(oov.mkString == "lox!" && oov.contains("!"))
  }

  test("tokenize is map-only and re-concatenates every document") {
    val m = UnigramLm.train(wordsDf(), vocabSize = 16, seedSize = 64)
    val docs = Seq((0L, "hello low pool"), (1L, "help lol"), (2L, null))
      .toDF("doc_id", "text")
    val out = UnigramLm.tokenize(docs, "doc_id", "text", m)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    val rows = out.as[(Long, Seq[String])].collect().toMap
    assert(rows(0L).mkString == "hellolowpool")
    assert(rows(1L).mkString == "helplol")
    assert(rows(2L).isEmpty)
  }

}
