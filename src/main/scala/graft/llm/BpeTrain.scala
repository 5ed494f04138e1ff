package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units",
  * arXiv:1508.07909) — the vocabulary-induction pass a training-data
  * pipeline runs before tokenizing a corpus.
  *
  * Scale shape — the key fact about BPE at 100 TB is that only ONE pass
  * is corpus-scale: [[wordCounts]] (tokenize + one hash-agg shuffle on
  * the word). Everything after operates on the DISTINCT-WORD frequency
  * table (bounded by the language's vocabulary, millions of rows at
  * web scale — cluster-trivial), exactly how reference tokenizer
  * trainers stage it. Each merge round is one aggregation on that small
  * cached table; lineage is cut every `checkpointEvery` rounds so the
  * per-word symbol column's plan stays bounded (the clusterPairs
  * pattern).
  *
  * Determinism: the merge pick orders by (count DESC, pair ASC) — no
  * hash-map iteration order anywhere, so a laptop and a 1000-executor
  * cluster learn the SAME vocabulary bit-for-bit.
  */
object BpeTrain {

  /** End-of-word marker (a separate final symbol, Sennrich's convention:
    * "est" mid-word and "est&lt;/w&gt;" word-final learn independently).
    */
  val EndOfWord = "</w>"

  /** The ONE corpus-scale pass: single-space tokens (the repo-wide
    * convention, [[TextFunctions.tokens]]) -> (word, cnt), lowercase-
    * ASCII words only, which keeps the char alphabet (and therefore
    * the oracle) engine-portable — Spark's split("") works on UTF-16
    * code units while most engines split code points, so non-BMP text
    * would diverge.
    */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** word -> initial symbol sequence: characters plus the [[EndOfWord]]
    * marker as a separate trailing symbol.
    */
  def initSymbols(word: Column): Column =
    // split(w, "") runs with Java's limit=-1 semantics, which KEEPS a
    // trailing empty element — filter it or every word grows a "" symbol
    concat(filter(split(word, ""), c => length(c) > 0), array(lit(EndOfWord)))

  /** Adjacent-pair frequencies of a (syms, cnt) frame: one aggregation,
    * keyed by the pair. The zip_with pairs arrays stay inside codegen —
    * only the exploded (a, b, cnt) rows shuffle.
    */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("n"))

  /** One BPE merge applied to a symbol array: every leftmost-first,
    * non-overlapping adjacent (a, b) becomes the fused symbol. A single
    * left fold — after a merge the fused symbol is the accumulator's
    * tail, so an overlapping second occurrence ("aaa" under (a,a) ->
    * [aa, a]) cannot re-match, which IS the standard semantics.
    */
  def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Batched merge learning: EXACTLY the merge list of the one-merge-
    * per-round loop (argmax by count DESC, then (a, b) ASC), in
    * ~batchSize-fold fewer Spark rounds. At 32k production merges the
    * sequential loop's cost is rounds x job overhead (~0.29 s/round
    * measured = ~2.6 h of pure scheduling); this variant applies a whole
    * prefix of the sorted pair table per round, so round count — and
    * with it the scheduling bill — drops ~10x (round 11, PERFNOTES
    * "BPE batched argmax — measured").
    *
    * Why a prefix batch is EXACT (BatchedBpeSpec property-pins it
    * against the sequential list on twin-heavy corpora):
    *
    *  - Merging pair p cannot change the count of any pair sharing no
    *    symbol with p: a merge only consumes (x,a),(a,b),(b,y)
    *    adjacencies and creates (x,ab),(ab,y) ones. So the top-sorted
    *    pairs, as long as they are pairwise symbol-disjoint, keep
    *    exactly the counts the sequential argmax would see.
    *  - The batch must be a PREFIX of the (n desc, a, b) sort, cut at
    *    the first pair that interacts with it: a skipped interacting
    *    pair keeps a count bigger than everything after it, and after
    *    the earlier merges the sequential argmax could pick it (or a
    *    new pair bounded by it) before any later disjoint pair.
    *  - Every batched pair after the first must beat the cut count
    *    STRICTLY: merge-created pairs ((x,ab) etc.) are bounded by the
    *    pre-merge counts of interacting pairs (<= the cut count), and on
    *    a tie the (a, b) lexicographic tie-break could prefer the new
    *    pair. The argmax itself is always safe to keep — merging just it
    *    IS the sequential round.
    *  - String-collision guard: symbols are strings, so a merged symbol
    *    can equal an EXISTING one (merge (ab,</w>) -> "ab</w>" while a
    *    prior (a,b</w>) merge already made "ab</w>"). Occurrence sets
    *    then combine and counts involving that symbol can JUMP, breaking
    *    the invariance — so the batch is truncated before any pair whose
    *    concatenation appears as a symbol anywhere in the CURRENT pair
    *    table (checked unfiltered: a sub-minFrequency pair still gains
    *    occurrences). Symbols living only in single-symbol words have no
    *    pairs, and no merge can reach into a single-symbol word — the
    *    pair table IS the complete interaction surface.
    *
    * Per round: one pairCounts aggregation (persisted, reused by the
    * top-prefix collect and the collision probe — both driver-bounded:
    * 4*batchSize rows and |batch| symbols), one lineage-cutting
    * checkpoint. The merges themselves are chained lazy column folds —
    * they ride the NEXT round's aggregation, not jobs of their own.
    */
  def learnMergesBatched(wordCounts: DataFrame, numMerges: Int,
                         minFrequency: Long = 2,
                         batchSize: Int = 16,
                         onRound: Int => Unit = _ => ()): Seq[(String, String)] = {
    require(batchSize >= 1, "learnMergesBatched: batchSize must be >= 1")
    var rounds = 0
    var words = wordCounts
      .select(initSymbols(col("word")).as("syms"), col("cnt"))
      .localCheckpoint()
    var cut = words
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    try {
      while (merges.size < numMerges && !done) {
        val collectLimit = 4 * batchSize
        val pcAll = pairCounts(words).persist()
        try {
          val top = pcAll.filter(col("n") >= minFrequency)
            .orderBy(col("n").desc, col("a"), col("b")).limit(collectLimit)
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          if (top.isEmpty) done = true
          else {
            var batch = selectBatchPrefix(top.toSeq, batchSize,
              complete = top.length < collectLimit, minFrequency)
            // string-collision probe over the UNFILTERED pair table
            val concats = batch.map { case (a, b) => a + b }
            if (concats.nonEmpty) {
              val present = pcAll
                .where(col("a").isInCollection(concats) ||
                  col("b").isInCollection(concats))
                .select(explode(array(col("a"), col("b"))).as("s"))
                .where(col("s").isInCollection(concats))
                .distinct().collect().map(_.getString(0)).toSet
              val firstCollide =
                batch.indexWhere { case (a, b) => present(a + b) }
              if (firstCollide == 0) batch = batch.take(1) // sequential round
              else if (firstCollide > 0) batch = batch.take(firstCollide)
            }
            val applied = batch.take(numMerges - merges.size)
            applied.foreach { case (a, b) =>
              merges += ((a, b))
              words = words.withColumn("syms", mergePair(col("syms"), a, b))
            }
            words = words.localCheckpoint() // eager — old cut now dead
            graft.Checkpoints.free(cut)
            cut = words
          }
          rounds += 1
          onRound(rounds)
        } finally pcAll.unpersist()
      }
    } finally graft.Checkpoints.free(cut)
    merges.toSeq
  }

  /** The disjoint-strict prefix of the sorted pair list (see
    * [[learnMergesBatched]]). `complete` = the list is the WHOLE
    * >= minFrequency table, so nothing outside it can reach
    * minFrequency after disjoint merges and the strict guard relaxes to
    * the minFrequency floor.
    */
  private[llm] def selectBatchPrefix(top: Seq[(String, String, Long)],
                                     maxBatch: Int, complete: Boolean,
                                     minFrequency: Long): Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var cutN = -1L // count of the first pair NOT admitted, -1 = none
    var i = 0
    while (i < top.length && cutN < 0) {
      val (a, b, n) = top(i)
      if (batch.length >= maxBatch || used(a) || used(b) || used(a + b))
        cutN = n
      else {
        batch += ((a, b, n))
        used += a; used += b; used += (a + b)
      }
      i += 1
    }
    val stopN =
      if (cutN >= 0) cutN
      else if (complete) minFrequency - 1
      else top.last._3
    val guarded = batch.takeWhile(_._3 > stopN).map { case (a, b, _) => (a, b) }
    if (guarded.isEmpty) Seq((top.head._1, top.head._2)) else guarded.toSeq
  }

  /** Production tokenization for UNBOUNDED merge lists (a 32k-vocab
    * tokenizer unrolled as a learned-order replay expression would be
    * 32k nested folds): the
    * rank-greedy algorithm over a broadcast rank table — per word,
    * repeatedly merge every occurrence of the lowest-rank adjacent pair
    * until none has a rank. Equivalent to learned-order replay (lower
    * ranks cannot be re-enabled by higher-rank merges — a merged symbol
    * is a NEW symbol, so its pairs were never ranked lower), which
    * BpeSpec property-pins against the replay. mapPartitions is
    * justified here exactly as for [[Multimodal]]: a per-row iterative
    * loop with data-dependent trip count that no Catalyst expression
    * expresses; the merge table ships once per executor as a broadcast.
    * Returns (id, `tokens` array&lt;string&gt;) — join back by id for other
    * columns, keeping the shuffled payload to the tokens themselves.
    */
  def bpeTokensPartitions(df: DataFrame, idCol: String, textCol: String,
                          merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranks = spark.sparkContext.broadcast(
      merges.zipWithIndex.toMap)
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val rk = ranks.value
        rows.map { case (id, text) =>
          val words =
            if (text == null) Array.empty[String]
            else text.split("\\s+").filter(_.nonEmpty)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          words.foreach { w =>
            var syms = w.map(_.toString).toBuffer += EndOfWord
            var continue = true
            while (continue && syms.length > 1) {
              // lowest-rank adjacent pair present in this word
              var best = Int.MaxValue
              var bi = -1
              var i = 0
              while (i < syms.length - 1) {
                rk.get((syms(i), syms(i + 1))).foreach { r =>
                  if (r < best) { best = r; bi = i }
                }
                i += 1
              }
              if (bi < 0) continue = false
              else {
                // merge EVERY leftmost-first occurrence of that pair
                val (a, b) = (syms(bi), syms(bi + 1))
                val merged = scala.collection.mutable.ArrayBuffer.empty[String]
                var j = 0
                while (j < syms.length) {
                  if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                    merged += (a + b); j += 2
                  } else { merged += syms(j); j += 1 }
                }
                syms = merged
              }
            }
            out ++= syms
          }
          (id, out.toSeq)
        }
      }
      .toDF(idCol, "tokens")
  }
}
