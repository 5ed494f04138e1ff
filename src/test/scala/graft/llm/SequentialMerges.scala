package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one-merge-per-round tokenizer trainers: the reference lists that
  * BatchedBpeSpec pins [[BpeTrain.learnMergesBatched]] against, and the
  * merges BpeSpec and WordPieceSpec replay through the tokenizers; plus
  * the learned-order replay BpeSpec pins the rank-greedy tokenizer to.
  */
object SequentialMerges {

  /** Tokenize with a learned merge list: per word, start from
    * [[BpeTrain.initSymbols]] and replay the merges IN LEARNED ORDER
    * (the definition of BPE application). Pure expression — the merge
    * list unrolls into `merges.size` nested folds inside one transform,
    * so it suits bounded merge lists only.
    */
  def bpeSplit(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(TextFunctions.tokens(text), w =>
      merges.foldLeft(BpeTrain.initSymbols(w)) { case (s, (a, b)) =>
        BpeTrain.mergePair(s, a, b) }))

  /** Learn up to `numMerges` BPE merges from a [[BpeTrain.wordCounts]]
    * frame: each round takes the most frequent adjacent pair (count
    * DESC, then (a, b) ASC). Stops early when the best remaining pair's
    * frequency falls below `minFrequency`.
    */
  def bpe(wordCounts: DataFrame, numMerges: Int, minFrequency: Long = 2,
          checkpointEvery: Int = 8): Seq[(String, String)] =
    learn(wordCounts, numMerges, checkpointEvery)(words =>
      BpeTrain.pairCounts(words)
        .filter(col("n") >= minFrequency)
        .orderBy(col("n").desc, col("a"), col("b")))

  /** Learn up to `numMerges` WordPiece merges by the likelihood score
    * count(ab)/(count(a)·count(b)) ([[WordPiece.scoredPairs]]).
    * `minFrequency` floors the raw pair count — the likelihood score
    * RANKS rare exclusive pairs highly (a hapax pair of hapax symbols
    * scores 1.0), so the floor is what keeps the vocabulary from
    * memorizing typos. Tie-break: (score, count) DESC then (a, b) ASC.
    */
  def wordPiece(wordCounts: DataFrame, numMerges: Int, minFrequency: Long = 2,
                checkpointEvery: Int = 8): Seq[(String, String)] =
    learn(wordCounts, numMerges, checkpointEvery)(words =>
      WordPiece.scoredPairs(words, minFrequency)
        .orderBy(col("score").desc, col("n").desc, col("a"), col("b"))
        .select("a", "b"))

  /** The shared round loop: `ranked` orders the candidate pairs of the
    * current (syms, cnt) frame; its first row is merged. Lineage is cut
    * every `checkpointEvery` rounds, freeing the superseded cut.
    */
  private def learn(wordCounts: DataFrame, numMerges: Int,
                    checkpointEvery: Int)(
      ranked: DataFrame => DataFrame): Seq[(String, String)] = {
    var words = wordCounts
      .select(BpeTrain.initSymbols(col("word")).as("syms"), col("cnt"))
      .localCheckpoint()
    var cut = words
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    try {
      while (merges.size < numMerges && !done) {
        val top = ranked(words).limit(1).collect()
        if (top.isEmpty) done = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          words = words.withColumn("syms", BpeTrain.mergePair(col("syms"), a, b))
          if (merges.size % checkpointEvery == 0) {
            words = words.localCheckpoint()
            graft.Checkpoints.free(cut)
            cut = words
          }
        }
      }
    } finally graft.Checkpoints.free(cut)
    merges.toSeq
  }
}
