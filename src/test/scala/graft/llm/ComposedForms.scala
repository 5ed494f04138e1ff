package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed formulations the native kernels replaced, kept as their
  * equivalence oracles.
  */
object ComposedForms {

  /** [[Dedup.jaccardBySets]] as intersect/union: four hash-table builds
    * per pair vs the native kernel's one.
    */
  def jaccardBySets(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** [[Embeddings.pcaProject]] as higher-order functions over literal
    * mean and component arrays.
    */
  def pcaProject(vec: Column, model: Embeddings.PcaModel): Column = {
    val meanLit = array(model.mean.toIndexedSeq.map(lit(_)): _*)
    val centered = zip_with(vec, meanLit, (x, m) => x.cast("double") - m)
    array(model.components.toIndexedSeq.map { comp =>
      val cl = array(comp.toIndexedSeq.map(lit(_)): _*)
      aggregate(zip_with(centered, cl, (x, c) => x * c), lit(0.0), (acc, y) => acc + y)
    }: _*)
  }

  /** [[Retrieval.postings]] as explode + (doc, term) hash-agg + a
    * per-doc dl window.
    */
  def postings(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    corpus
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id"))
        .cast("double"))
      .select("doc_id", "term", "tf", "dl")

  /** Centroid indices (1-based) ordered by descending cosine to `vec`,
    * ties broken by index — the composed form of
    * [[Similarity.ivfProbeCells]]'s native loop. A zero-norm vector
    * (every cosine null) ranks NO cells: the result is null, as
    * [[Similarity.ivfAssign]] assigns null.
    */
  def ivfRanking(vec: Column, centroids: Column): Column = {
    val scored = transform(centroids, c => Dedup.cosine(vec, c))
    val n = size(centroids)
    // sort (negated cosine, index) pairs; null cosines (zero-norm) last
    val pairs = transform(sequence(lit(1), n), i =>
      struct(coalesce(-element_at(scored, i), lit(Double.MaxValue)).as("neg"),
        i.as("idx")))
    // array_max(scored) null <=> all cosines null <=> ivfAssign is null
    when(array_max(scored).isNotNull,
      transform(array_sort(pairs), p => p.getField("idx")))
  }

  /** Character n-grams of a string: [[TextFunctions.charShingleHashes]]
    * equals `transform(charShingles(text, n), hash64)`.
    */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array())

  /** Adds `out` = simhash of the text as an array-column fold — the form
    * the relational [[Dedup.simhashSignatures]] is pinned against.
    */
  def withSimhash(df: DataFrame, textCol: String, out: String,
                  bits: Int = 32): DataFrame =
    df
      .withColumn("__sh_hs", TextFunctions.shingleHashes(col(textCol), 1))
      .withColumn(out, Dedup.simhashFromHashes(col("__sh_hs"), bits))
      .drop("__sh_hs")
}
