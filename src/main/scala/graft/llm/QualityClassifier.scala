package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering: a hashed bag-of-ngrams linear
  * classifier (the fastText-style filter CCNet / FineWeb-class pipelines
  * train to keep "reference-like" documents), trained distributed with
  * full-batch gradient descent.
  *
  * Feature convention: word unigrams + bigrams through the repo's
  * md5-60-bit shingle hash ([[TextFunctions.shingleHashes]] — the same
  * engine-portable convention every dedup oracle replays), folded into
  * `dim` buckets by floor-mod. A document's score is
  * bias + mean(w[bucket(gram)]) — hashed one-hot features averaged, so
  * document length does not scale the margin.
  *
  * Scale shape: training touches the corpus once per iteration with ONE
  * aggregation (explode gram buckets -> sum error contributions per
  * bucket); only the dim-sized gradient ever reaches the driver. The
  * gradient sums accumulate in DECIMAL, so the learned weights are
  * bit-identical under any partitioning (the Aggregates.exactMean
  * argument) — a laptop and a 1000-executor cluster train the SAME
  * model. Scoring is a pure map-side expression over a literal weight
  * array (no shuffle, no UDF).
  */
object QualityClassifier {

  /** Per-document hashed feature buckets: unigram + bigram md5-60
    * hashes, floor-mod `dim`. Repeats are KEPT — an n-occurrence gram
    * contributes n times to the mean, fastText's convention.
    */
  def featureBuckets(text: Column, dim: Int): Column =
    transform(
      concat(TextFunctions.shingleHashes(text, 1),
        TextFunctions.shingleHashes(text, 2)),
      h => pmod(h, lit(dim.toLong)))

  /** Linear margin bias + mean(w[bucket]) as a codegen'd fold over the
    * literal weight array; empty documents score exactly `bias`.
    */
  def margin(text: Column, weights: Array[Double], bias: Double,
             dim: Int): Column = {
    require(weights.length == dim, s"weights.length ${weights.length} != dim $dim")
    val w = array(weights.toIndexedSeq.map(lit(_)): _*)
    val bs = featureBuckets(text, dim)
    lit(bias) + when(size(bs) === 0, lit(0.0)).otherwise(
      aggregate(bs, lit(0.0), (acc, b) => acc + element_at(w, b.cast("int") + 1))
        / size(bs))
  }

  /** sigmoid(margin) — spec/consumer convenience; oracles pin the MARGIN
    * (pure +,*,/ arithmetic, bit-portable) because exp() may differ in
    * the last ulp across engines' libm.
    */
  def score(text: Column, weights: Array[Double], bias: Double,
            dim: Int): Column =
    lit(1.0) / (lit(1.0) + exp(-margin(text, weights, bias, dim)))

  /** Train by full-batch gradient descent on (text, label∈{0,1}).
    * Returns (weights, bias). Deterministic: zero init, fixed iteration
    * count, decimal-exact gradient sums — no randomness, no
    * summation-order dependence. One aggregation job per iteration over
    * the checkpointed feature frame.
    */
  def train(df: DataFrame, textCol: String, labelCol: String, dim: Int = 1024,
            iterations: Int = 30, lr: Double = 0.5): (Array[Double], Double) = {
    val feats = df
      .select(featureBuckets(col(textCol), dim).as("__b"),
        col(labelCol).cast("double").as("__y"))
      .filter(size(col("__b")) > 0)
      .localCheckpoint()
    try {
    val n = feats.count().toDouble
    require(n > 0, "train: no documents with at least one token")
    val weights = Array.fill(dim)(0.0)
    var bias = 0.0
    var it = 0
    while (it < iterations) {
      val w = array(weights.toIndexedSeq.map(lit(_)): _*)
      val marginC = lit(bias) +
        aggregate(col("__b"), lit(0.0),
          (acc, b) => acc + element_at(w, b.cast("int") + 1)) / size(col("__b"))
      val err = (lit(1.0) / (lit(1.0) + exp(-marginC))) - col("__y")
      // per-bucket gradient: each occurrence contributes err/|doc grams|.
      // The bias gradient (one err per document) rides the SAME shuffle
      // as sentinel bucket -1, so each iteration is exactly one job.
      // Decimal accumulation makes the sums partitioning-independent.
      val contrib = concat(
        transform(col("__b"), b => struct(b.cast("long").as("k"),
          (err / size(col("__b"))).cast("decimal(38,18)").as("g"))),
        array(struct(lit(-1L).as("k"), err.cast("decimal(38,18)").as("g"))))
      val grad = feats
        .select(explode(contrib).as("e"))
        .groupBy(col("e.k").as("__k")).agg(sum(col("e.g")).as("__s"))
        .collect().map(r => r.getLong(0).toInt -> r.getDecimal(1).doubleValue())
        .toMap
      grad.foreach {
        case (-1, g) => bias -= lr * g / n
        case (k, g)  => weights(k) -= lr * (g / n)
      }
      it += 1
    }
    (weights, bias)
    // the checkpointed feature frame is train-internal state; free its
    // blocks on every exit so repeated trainings don't accumulate
    } finally graft.Checkpoints.free(feats)
  }
}
