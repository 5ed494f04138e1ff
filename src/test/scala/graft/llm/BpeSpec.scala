package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins BPE vocabulary induction on the Sennrich et al. (2016) worked
  * example — every merge hand-derivable — and tokenization as the
  * learned-order replay of those merges.
  */
class BpeSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  // the paper's corpus: {low:5, lower:2, newest:6, widest:3}
  private def corpus = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    .toDF("word", "cnt")

  test("learnMerges: Sennrich worked example, deterministic tie-breaks") {
    // round-by-round argmax with (count DESC, pair ASC):
    //   (e,s)=9 over (s,t)=9/(t,</w>)=9 lexicographically; then
    //   (es,t)=9; (est,</w>)=9; (l,o)=7 over (o,w)=7; (lo,w)=7;
    //   (e,w)=6 over (n,e)=6/(w,est</w>)=6
    val merges = SequentialMerges.bpe(corpus, numMerges = 6)
    assert(merges == Seq(
      "e" -> "s", "es" -> "t", "est" -> "</w>",
      "l" -> "o", "lo" -> "w", "e" -> "w"))
  }

  test("learnMerges: minFrequency stops before hapax pairs; checkpoint rounds agree") {
    // with minFrequency above every pair count, nothing is learned
    assert(SequentialMerges.bpe(corpus, 10, minFrequency = 100).isEmpty)
    // a checkpoint boundary inside the loop must not change the result
    val every2 = SequentialMerges.bpe(corpus, 6, checkpointEvery = 2)
    assert(every2 == SequentialMerges.bpe(corpus, 6))
  }

  test("bpeSplit: replaying learned merges tokenizes unseen words") {
    val merges = SequentialMerges.bpe(corpus, 6)
    def toks(s: String): Seq[String] =
      spark.range(1).select(SequentialMerges.bpeSplit(lit(s), merges))
        .collect().head.getSeq[String](0).toSeq
    // the classic result: "lowest" = low + est</w>
    assert(toks("lowest") == Seq("low", "est</w>"))
    // seen word fully merges along its own path
    assert(toks("low") == Seq("low", "</w>"))
    // multiple words flatten in order; unknown chars stay single symbols
    assert(toks("low low") == Seq("low", "</w>", "low", "</w>"))
    assert(toks("xy") == Seq("x", "y", "</w>"))
  }

  test("mergePair: leftmost non-overlapping semantics") {
    def m(syms: Seq[String], a: String, b: String): Seq[String] =
      spark.range(1).select(BpeTrain.mergePair(
        array(syms.map(lit(_)): _*), a, b))
        .collect().head.getSeq[String](0).toSeq
    assert(m(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(m(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(m(Seq("a", "a", "b"), "a", "b") == Seq("a", "ab"))
    assert(m(Seq("x"), "a", "b") == Seq("x"))
  }

  test("property: rank-greedy mapPartitions tokenizer == learned-order replay") {
    // small alphabet + repeated substrings force deep merge chains and
    // overlapping-pair edge cases; deterministic seed
    val rnd = new scala.util.Random(42)
    val alphabet = "abc"
    def word() = (1 to (1 + rnd.nextInt(6)))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val docs = (1L to 40L).map(i =>
      (i, (1 to (1 + rnd.nextInt(8))).map(_ => word()).mkString(" ")))
      .toDF("doc_id", "text")
    val wc = BpeTrain.wordCounts(docs, "text")
    val merges = SequentialMerges.bpe(wc, numMerges = 25, minFrequency = 2)
    assert(merges.nonEmpty)
    val replay = docs
      .select(col("doc_id"), SequentialMerges.bpeSplit(col("text"), merges).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val greedy = BpeTrain.bpeTokensPartitions(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(greedy == replay,
      s"rank-greedy and replay tokenizations diverge: " +
        s"${greedy.find(kv => replay(kv._1) != kv._2)}")
  }

  test("property: tokenizer equivalence holds on mixed whitespace (tabs, newlines, runs)") {
    // ADVICE r10: the mapPartitions path splits with Scala's
    // split("\\s+") while bpeSplit goes through TextFunctions.tokens
    // (Spark split on \s+). Both treat ANY whitespace run as one
    // separator and drop boundary empties — pin that equivalence on
    // text the single-space property test never exercises.
    val rnd = new scala.util.Random(7)
    val seps = Array(" ", "\t", "\n", "  ", " \t ", "\r\n")
    val alphabet = "abc"
    def word() = (1 to (1 + rnd.nextInt(5)))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val docs = (1L to 30L).map { i =>
      val body = (1 to (1 + rnd.nextInt(8))).map(_ => word())
        .mkString(seps(rnd.nextInt(seps.length)))
      // leading/trailing whitespace on some rows: boundary empties
      (i, if (i % 3 == 0) s"\t$body\n" else body)
    }.toDF("doc_id", "text")
    val wc = BpeTrain.wordCounts(docs, "text")
    val merges = SequentialMerges.bpe(wc, numMerges = 20, minFrequency = 2)
    assert(merges.nonEmpty)
    val replay = docs
      .select(col("doc_id"), SequentialMerges.bpeSplit(col("text"), merges).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val greedy = BpeTrain.bpeTokensPartitions(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(greedy == replay,
      s"mixed-whitespace divergence: ${greedy.find(kv => replay(kv._1) != kv._2)}")
  }

  test("q_bpe_tokens: initial-grain merges — greedy == replay, tokens reconstruct") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val wc = BpeTrain.wordCounts(docs, "text")
    val merges = BpeTrain.pairCounts(
        wc.select(BpeTrain.initSymbols(col("word")).as("syms"), col("cnt")))
      .orderBy(col("n").desc, col("a"), col("b")).limit(12)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // the query's equivalence precondition: initial-grain rules are
    // (char, char|</w>) — a merge OUTPUT (2+ chars, or *</w> with a
    // leading char) can never re-enable another rule
    merges.foreach { case (a, b) =>
      assert(a.length == 1 && (b.length == 1 || b == "</w>"), (a, b))
    }
    val letters = docs.select(col("doc_id"),
      concat_ws(" ", filter(TextFunctions.tokens(col("text")),
        w => w.rlike("^[a-z]+$"))).as("letters"))
    val greedy = BpeTrain.bpeTokensPartitions(letters, "doc_id", "letters", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val replay = letters
      .select(col("doc_id"), SequentialMerges.bpeSplit(col("letters"), merges).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(greedy == replay,
      s"greedy/replay divergence: ${greedy.find(kv => replay(kv._1) != kv._2)}")
    // lossless: stripping </w> markers reconstructs the letter stream
    val src = letters.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    greedy.foreach { case (id, toks) =>
      val rebuilt = toks.mkString("").replace("</w>", " ").trim
      assert(rebuilt == src(id), s"doc $id does not reconstruct")
    }
  }

  test("wordCounts + pairCounts: one corpus pass, portable word filter") {
    val docs = Seq((1L, "low low lower"), (2L, "Newest ab")).toDF("doc_id", "text")
    val wc = BpeTrain.wordCounts(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "Newest" fails the lowercase-ascii filter
    assert(wc == Map("low" -> 2L, "lower" -> 1L, "ab" -> 1L))
    val pc = BpeTrain.pairCounts(
      BpeTrain.wordCounts(docs, "text")
        .select(BpeTrain.initSymbols(col("word")).as("syms"), col("cnt")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pc(("l", "o")) == 3L)   // low x2 + lower
    assert(pc(("w", "</w>")) == 2L) // low x2 word-final
    assert(pc(("a", "b")) == 1L)
    assert(pc(("b", "</w>")) == 1L)
  }
}
