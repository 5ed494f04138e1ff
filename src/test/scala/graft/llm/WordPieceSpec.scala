package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** WordPiece: the likelihood argmax picks the pair a hand-computed
  * score table says it must (diverging from BPE's count argmax on the
  * same corpus), the ##-convention vocabulary marks position classes
  * correctly, and greedy longest-match-first tokenization follows
  * BERT's semantics including whole-word [UNK].
  */
class WordPieceSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("likelihood argmax differs from count argmax where the score table says") {
    // "xy" occurs 4x but x,y are everywhere (x:9, y:9 incl. other
    // contexts); "qz" occurs 3x and q,z occur ONLY together.
    //   score(x,y) = 4/(9*9) ≈ 0.049 < score(q,z) = 3/(3*3) ≈ 0.333
    // BPE (count argmax) picks (x,y); WordPiece must pick (q,z).
    val wc = Seq(
      ("xy", 4L),   // 4 (x,y) adjacencies
      ("xa", 3L), ("ya", 3L), ("ax", 2L), ("ay", 2L), // x,y inflation
      ("qz", 3L))   // q,z exclusive
      .toDF("word", "cnt")
    val bpePick = SequentialMerges.bpe(wc, numMerges = 1, minFrequency = 2)
    val wpPick = SequentialMerges.wordPiece(wc, numMerges = 1, minFrequency = 2)
    assert(bpePick.head != wpPick.head)
    assert(wpPick.head == (("q", "z")))
  }

  test("minFrequency floors the score ranking; merges stay deterministic") {
    // hapax pair of hapax symbols scores 1.0 — the floor must exclude it
    val wc = Seq(("ab", 5L), ("qz", 1L)).toDF("word", "cnt")
    val merges = SequentialMerges.wordPiece(wc, numMerges = 3, minFrequency = 2)
    assert(merges.forall { case (a, b) => !(a == "q" || b == "z") })
    val again = SequentialMerges.wordPiece(wc.repartition(7), numMerges = 3,
      minFrequency = 2)
    assert(merges == again)
  }

  test("vocabulary marks word-initial vs continuation position classes") {
    // one merge (l,o) over {low, ol}: "low" -> [lo, w</w>],
    // "ol" -> [o, l</w>] — "lo" initial, "w" continuation (EOW
    // stripped), "o" initial, "l" continuation.
    val wc = Seq(("low", 2L), ("ol", 1L)).toDF("word", "cnt")
    val vocab = WordPiece.vocabulary(wc, Seq(("l", "o")))
      .as[(String, Long)].collect().toMap
    assert(vocab.keySet == Set("lo", "##w", "o", "##l"))
    assert(vocab("lo") == 2L && vocab("##w") == 2L)
    assert(vocab("o") == 1L && vocab("##l") == 1L)
  }

  test("greedy longest-match-first with whole-word [UNK]") {
    val vocab = Set("un", "##aff", "##able", "##ab", "aff", "hi",
      "##s", "a", "##f")
    val docs = Seq(
      (0L, "unaffable"),    // un ##aff ##able (longest at each cursor)
      (1L, "affable his"),  // aff ##ab... wait: aff ##able / hi ##s
      (2L, "unz"),          // z unmatched -> whole word UNK
      (3L, ""),             // no tokens
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = WordPiece.wordPieceTokens(docs, "doc_id", "text", vocab)
      .as[(Long, Seq[String])].collect().toMap
    assert(out(0L) == Seq("un", "##aff", "##able"))
    assert(out(1L) == Seq("aff", "##able", "hi", "##s"))
    assert(out(2L) == Seq("[UNK]"))
    assert(out(3L).isEmpty && out(4L).isEmpty)
  }

  test("trained vocab round-trips its own training words") {
    val wc = Seq(("hello", 4L), ("hell", 2L), ("help", 2L), ("low", 3L))
      .toDF("word", "cnt")
    val merges = SequentialMerges.wordPiece(wc, numMerges = 4, minFrequency = 2)
    val vocab = WordPiece.vocabulary(wc, merges)
      .as[(String, Long)].collect().map(_._1).toSet
    val docs = Seq((0L, "hello hell help low")).toDF("doc_id", "text")
    val toks = WordPiece.wordPieceTokens(docs, "doc_id", "text", vocab)
      .as[(Long, Seq[String])].collect().head._2
    // every training word tokenizes without [UNK] and re-concatenates
    assert(!toks.contains("[UNK]"))
    assert(toks.map(_.stripPrefix("##")).mkString == "hellohellhelplow")
  }
}
