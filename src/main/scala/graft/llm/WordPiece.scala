package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenization (Schuster & Nakajima 2012, "Japanese and
  * Korean voice search"; the BERT tokenizer family) — the third
  * tokenizer family next to [[BpeTrain]] (frequency-merge) and
  * [[UnigramLm]] (likelihood-prune):
  *
  *  - TRAINING ranks merges by the likelihood objective
  *    ([[scoredPairs]]): the adjacent pair maximizing
  *    count(ab) / (count(a)·count(b)) — the pair whose fusion most
  *    increases a unigram LM's corpus likelihood — instead of BPE's raw
  *    count(ab). It runs on the [[BpeTrain]] machinery (distinct-word
  *    table, `pairCounts`, `mergePair`), so only the argmax differs:
  *    one extra symbol-count aggregation per round, joined broadcast
  *    (symbol inventory = chars + learned merges, driver-bounded).
  *  - INFERENCE is greedy longest-match-first against a vocabulary in
  *    the `##`-continuation convention (how published vocab.txt files
  *    ship): per word, take the longest vocabulary piece matching at
  *    the cursor (continuations looked up with the `##` prefix); any
  *    position with no match makes the WHOLE word `[UNK]` — BERT's
  *    semantics, not a char fallback.
  *
  * Scale shape: training is [[BpeTrain]]'s (only `wordCounts` is
  * corpus-scale); inference is map-only over a broadcast piece set
  * (the [[BpeTrain.bpeTokensPartitions]] justification: per-row
  * data-dependent loop, no Catalyst expression).
  */
object WordPiece {

  /** The likelihood-scored pair table one training round ranks:
    * (a, b, n, na, nb, score) with score = n/(na·nb) — `n` the
    * adjacency count, `na`/`nb` the symbol occurrence counts, all
    * frequency-weighted over the (syms, cnt) word frame. Exposed
    * because the arithmetic is oracle-exact (integer counts + one
    * double division) — `q_wordpiece_scores` hash-checks it.
    */
  def scoredPairs(words: DataFrame, minFrequency: Long): DataFrame = {
    val syms = words
      .select(col("cnt"), explode(col("syms")).as("s"))
      .groupBy("s").agg(sum("cnt").as("m"))
    BpeTrain.pairCounts(words)
      .filter(col("n") >= minFrequency)
      .join(broadcast(syms.select(col("s").as("a"), col("m").as("na"))),
        Seq("a"))
      .join(broadcast(syms.select(col("s").as("b"), col("m").as("nb"))),
        Seq("b"))
      .withColumn("score", col("n").cast("double") /
        (col("na").cast("double") * col("nb").cast("double")))
  }

  /** The trained vocabulary in the `##` convention: replay `merges`
    * over the word table, then emit each surviving symbol once per
    * POSITION CLASS — plain if it ever starts a word, `##`-prefixed if
    * it ever continues one (both rows when both happen). The
    * [[BpeTrain.EndOfWord]] marker is stripped (the `##` convention
    * encodes word structure by prefix, not suffix); a bare `&lt;/w&gt;`
    * symbol carries no text and is dropped.
    * Output: (piece, freq) — freq summing the word counts the symbol
    * occurred in, the usual vocab.txt ordering aid.
    */
  def vocabulary(wordCounts: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val replayed = wordCounts.select(col("cnt"),
      merges.foldLeft(BpeTrain.initSymbols(col("word"))) {
        case (s, (a, b)) => BpeTrain.mergePair(s, a, b)
      }.as("syms"))
    replayed
      .select(col("cnt"), posexplode(col("syms")).as(Seq("pos", "s")))
      .withColumn("s", regexp_replace(col("s"),
        java.util.regex.Pattern.quote(BpeTrain.EndOfWord) + "$", ""))
      .filter(length(col("s")) > 0)
      .select(col("cnt"),
        when(col("pos") === 0, col("s"))
          .otherwise(concat(lit("##"), col("s"))).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("freq"))
  }

  /** Greedy longest-match-first tokenization against `vocab` (plain +
    * `##` continuation pieces). A word with any unmatchable position
    * becomes a single `[UNK]` token. Map-only; broadcast piece set.
    * Output: (idCol, `pieces`).
    */
  def wordPieceTokens(df: DataFrame, idCol: String, textCol: String,
                      vocab: Set[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val maxLen = if (vocab.isEmpty) 0 else vocab.iterator.map(_.length).max
    val bc = spark.sparkContext.broadcast((vocab, maxLen))
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val (v, ml) = bc.value
        def tokenizeWord(w: String): Seq[String] = {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var pos = 0
          while (pos < w.length) {
            val prefix = if (pos == 0) "" else "##"
            // longest candidate first; ml bounds the piece TEXT length
            var len = math.min(w.length - pos, math.max(0, ml - prefix.length))
            var found: String = null
            while (len > 0 && found == null) {
              val cand = prefix + w.substring(pos, pos + len)
              if (v(cand)) found = cand else len -= 1
            }
            if (found == null) return Seq("[UNK]")
            out += found
            pos += len
          }
          out.toSeq
        }
        it.map { case (id, text) =>
          val ws =
            if (text == null) Array.empty[String]
            else text.split("\\s+").filter(_.nonEmpty)
          (id, ws.toSeq.flatMap(tokenizeWord))
        }
      }
      .toDF(idCol, "pieces")
  }
}
