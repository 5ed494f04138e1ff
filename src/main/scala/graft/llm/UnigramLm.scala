package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SentencePiece-style unigram language-model tokenizer training (Kudo
  * 2018, "Subword Regularization", arXiv:1804.10959): start from a
  * large seed vocabulary of frequent substrings, run EM over the
  * segmentation lattice of every word to fit piece probabilities, prune
  * the vocabulary toward the target size, and tokenize by Viterbi
  * (most-probable segmentation). The complement to [[BpeTrain]]: BPE
  * grows a vocabulary bottom-up by merges, unigram shrinks one top-down
  * by likelihood — production pipelines ship both.
  *
  * Scale shape — identical staging to BPE: only [[BpeTrain.wordCounts]]
  * is corpus-scale; everything here runs over the DISTINCT-WORD
  * frequency table. Each EM iteration is ONE aggregation job (per-word
  * forward-backward in mapPartitions — a data-dependent DP no Catalyst
  * expression writes — then a hash-agg of per-piece expected counts);
  * the model (vocab-sized, ≤ seedSize rows) is the only driver /
  * broadcast state, the same bounded-collect contract as
  * [[QualityClassifier.train]]'s gradient.
  *
  * Determinism: expected counts and log-likelihoods accumulate in
  * DECIMAL(38,18) (per-word contributions are pure sequential doubles,
  * the cross-partition SUM is exact decimal arithmetic), and every
  * selection orders by (value, piece) — a laptop and a 1000-executor
  * cluster train the SAME vocabulary bit-for-bit
  * (UnigramLmSpec pins 1-partition == 8-partition training).
  *
  * Deliberate divergence from Kudo's trainer, documented rather than
  * hidden: pruning drops the pieces with the LOWEST expected count
  * (never single characters) instead of the lowest likelihood-loss —
  * the loss-based criterion needs a second lattice pass per candidate;
  * expected count is its standard cheap surrogate and keeps each prune
  * round at zero extra jobs.
  */
object UnigramLm {

  /** Seed vocabulary: every substring (length ≤ `maxPieceLen`) of the
    * distinct words, weighted by word frequency — one map-only explode
    * + one hash-agg over the word table. Always retains ALL single
    * characters (any word stays segmentable); above that, the top
    * `seedSize` substrings by (freq DESC, piece ASC).
    * Output: (piece, freq).
    */
  def seedVocab(wordCounts: DataFrame, seedSize: Int,
                maxPieceLen: Int = 4): DataFrame = {
    val pieces = wordCounts.select(col("cnt"),
      explode(pieceCandidates(col("word"), maxPieceLen)).as("piece"))
      .groupBy("piece").agg(sum("cnt").as("freq"))
    val chars = pieces.filter(length(col("piece")) === 1)
    val multi = pieces.filter(length(col("piece")) > 1)
      .orderBy(col("freq").desc, col("piece")).limit(seedSize)
    chars.unionByName(multi)
  }

  /** All substrings of `word` with length 1..maxPieceLen, as one
    * codegen'd nested transform (no UDF).
    */
  def pieceCandidates(word: org.apache.spark.sql.Column,
                      maxPieceLen: Int): org.apache.spark.sql.Column =
    flatten(transform(sequence(lit(1), length(word)), i =>
      filter(
        transform(sequence(lit(1), lit(maxPieceLen)), l =>
          when(i + l - 1 <= length(word), word.substr(i, l))),
        p => p.isNotNull)))

  /** A trained model: piece → natural-log probability. */
  final case class Model(logp: Map[String, Double], maxPieceLen: Int) {
    def pieces: Set[String] = logp.keySet
  }

  private def logSumExp(xs: Iterable[Double]): Double = {
    if (xs.isEmpty) Double.NegativeInfinity
    else {
      val m = xs.max
      if (m == Double.NegativeInfinity) m
      else m + math.log(xs.iterator.map(x => math.exp(x - m)).sum)
    }
  }

  /** Forward-backward over one word's segmentation lattice: returns
    * (log Z, expected count per piece). Pure sequential — deterministic
    * for a given (word, model).
    */
  private[llm] def expectedCounts(word: String, logp: Map[String, Double],
                                  maxPieceLen: Int)
      : (Double, Seq[(String, Double)]) = {
    val n = word.length
    val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
    val beta = Array.fill(n + 1)(Double.NegativeInfinity)
    alpha(0) = 0.0
    var j = 1
    while (j <= n) {
      val opts = (math.max(0, j - maxPieceLen) until j).flatMap { i =>
        logp.get(word.substring(i, j)).map(lp => alpha(i) + lp)
      }
      alpha(j) = logSumExp(opts)
      j += 1
    }
    beta(n) = 0.0
    var i = n - 1
    while (i >= 0) {
      val opts = ((i + 1) to math.min(n, i + maxPieceLen)).flatMap { jj =>
        logp.get(word.substring(i, jj)).map(lp => lp + beta(jj))
      }
      beta(i) = logSumExp(opts)
      i -= 1
    }
    val z = alpha(n)
    if (z == Double.NegativeInfinity) (z, Nil)
    else {
      val acc = scala.collection.mutable.Map.empty[String, Double]
      var a = 0
      while (a < n) {
        var b = a + 1
        while (b <= math.min(n, a + maxPieceLen)) {
          val piece = word.substring(a, b)
          logp.get(piece).foreach { lp =>
            val post = math.exp(alpha(a) + lp + beta(b) - z)
            if (post > 0.0) acc.update(piece, acc.getOrElse(piece, 0.0) + post)
          }
          b += 1
        }
        a += 1
      }
      (z, acc.toSeq)
    }
  }

  /** Viterbi best segmentation under the model; characters outside the
    * vocabulary pass through as single-char pieces at `unkLogp` (the
    * byte-fallback convention — tokenization never fails on new text).
    * Ties break toward the LONGER final piece, deterministically.
    */
  private[llm] def viterbi(word: String, logp: Map[String, Double],
                           maxPieceLen: Int,
                           unkLogp: Double = -100.0): Seq[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        val piece = word.substring(i, j)
        val lp = logp.getOrElse(piece,
          if (j - i == 1) unkLogp else Double.NegativeInfinity)
        val cand = best(i) + lp
        // i ascends and the comparison is strict, so the smallest i —
        // the LONGEST final piece — wins ties
        if (cand > best(j)) { best(j) = cand; back(j) = i }
        i += 1
      }
      j += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) {
      val i = back(pos)
      out.prepend(word.substring(i, pos))
      pos = i
    }
    out.toSeq
  }

  /** One EM pass over the word table under `model`: returns the corpus
    * log-likelihood (Σ cnt·log Z, decimal-summed) and the new
    * decimal-exact expected count per piece. ONE aggregation job; the
    * loglik rides the same shuffle as sentinel piece "" (the
    * QualityClassifier bias-gradient trick).
    */
  def emStep(words: DataFrame, model: Model)
      : (Double, Seq[(String, Double)]) = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    try {
      val rows = words.select(col("word"), col("cnt").cast("long"))
        .as[(String, Long)]
        .mapPartitions { it =>
          val m = bc.value
          it.flatMap { case (w, cnt) =>
            val (z, ec) = expectedCounts(w, m.logp, m.maxPieceLen)
            if (z == Double.NegativeInfinity)
              throw new IllegalStateException(
                s"unsegmentable word '$w' — seed vocabulary lost a character")
            ec.map { case (p, e) => (p, e * cnt) } :+ (("", z * cnt))
          }
        }
        .toDF("piece", "c")
        .select(col("piece"), col("c").cast("decimal(38,18)").as("c"))
        .groupBy("piece").agg(sum(col("c")).as("c"))
        .collect()
        .map(r => r.getString(0) -> r.getDecimal(1).doubleValue())
      val ll = rows.find(_._1 == "").map(_._2).getOrElse(0.0)
      // sorted by piece: every downstream double SUM over these counts
      // (the M-step normalizer) runs in one deterministic order — the
      // collect order above is partitioning-dependent
      (ll, rows.filter(_._1.nonEmpty).sortBy(_._1).toSeq)
    } finally bc.destroy()
  }

  /** Train: seed (pieces up to 4 chars) → [EM ×2 → prune to 0.75·|V|]
    * until the vocabulary reaches `vocabSize`, then a final EM fit.
    * Every round's state is the vocab-sized model on the driver; the
    * word table is read once per EM iteration.
    */
  def train(wordCounts: DataFrame, vocabSize: Int,
            seedSize: Int = 4096): Model = {
    val (maxPieceLen, emIters, shrink) = (4, 2, 0.75)
    val seed = seedVocab(wordCounts, seedSize, maxPieceLen)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    require(seed.nonEmpty, "train: empty seed vocabulary")
    val totalSeed = seed.map(_._2).sum.toDouble
    var model = Model(
      seed.map { case (p, f) => p -> math.log(f / totalSeed) }.toMap,
      maxPieceLen)
    val words = wordCounts.localCheckpoint()
    try {
      // every single character the seed saw stays segmentable forever:
      // if EM ever starves one below posterior underflow it re-enters
      // at the UNK floor instead of silently vanishing (which would
      // make some word unsegmentable and fail the next E-step loudly)
      val allChars = model.logp.keySet.filter(_.length == 1)
      def mStep(ec: Seq[(String, Double)]): Model = {
        val tot = ec.map(_._2).sum
        val fit = ec.filter(_._2 > 0.0)
          .map { case (p, e) => p -> math.log(e / tot) }.toMap
        Model(fit ++ allChars.diff(fit.keySet).map(_ -> -100.0),
          maxPieceLen)
      }
      var done = false
      while (!done) {
        var it = 0
        var counts = Seq.empty[(String, Double)]
        while (it < emIters) {
          val (_, ec) = emStep(words, model)
          model = mStep(ec)
          counts = ec
          it += 1
        }
        val multi = counts.filter(_._1.length > 1)
        val keepBudget = math.max(0, vocabSize - allChars.size)
        if (multi.size <= keepBudget) done = true
        else {
          // shrink toward the budget, always making progress; keep the
          // highest-expected-count pieces, (count DESC, piece ASC) —
          // no hash-order dependence
          val target = math.max(keepBudget,
            math.min(multi.size - 1, (multi.size * shrink).toInt))
          val kept = multi.sortBy { case (p, e) => (-e, p) }.take(target)
          val keptSet = allChars ++ kept.map(_._1)
          model = Model(
            model.logp.view.filterKeys(keptSet).toMap,
            maxPieceLen)
        }
      }
      model
    } finally graft.Checkpoints.free(words)
  }

  /** Tokenize a corpus: per document, Viterbi pieces of each
    * whitespace word, concatenated in order. Map-only (broadcast model,
    * mapPartitions — the same data-dependent-loop justification as
    * [[BpeTrain.bpeTokensPartitions]]).
    */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
               model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, text) =>
          val words =
            if (text == null) Array.empty[String]
            else text.split("\\s+").filter(_.nonEmpty)
          (id, words.toSeq.flatMap(w => viterbi(w, m.logp, m.maxPieceLen)))
        }
      }
      .toDF(idCol, "pieces")
  }
}
