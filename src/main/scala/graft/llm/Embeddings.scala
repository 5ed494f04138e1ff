package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PCA projection of the embedding column — the dimensionality
  * reduction / whitening stage an embedding pipeline runs before ANN
  * indexing (shorter codes, decorrelated subspaces for PQ) and before
  * semantic dedup (noise floors out of the cosine). Projection is a
  * map-only column expression with the model folded in as literals;
  * [[covarianceRelational]] is the engine-portable covariance a model
  * is fitted from.
  */
object Embeddings {

  /** mean (d), components (k rows x d — orthonormal, eigenvalue-desc),
    * eigenvalues (k, population covariance), corpus size.
    */
  case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
                      eigenvalues: Array[Double], n: Long)

  /** Map-only projection: `array<double>` of length k — (v - mean) dot
    * each component, model folded into the expression (broadcast into
    * codegen exactly like the IVF codebooks). Backed by the native
    * [[org.apache.spark.sql.graft.PcaProjectExpr]] — one fused loop
    * instead of k x d interpreted higher-order-function lambdas
    * (measured 2.07 -> sub-second at 100k x 64, round 11, PERFNOTES
    * "Z-order clustered sink", native PCA addendum);
    * bit-identical to the composed higher-order-function form (same
    * left-to-right double arithmetic — PcaSpec pins it).
    */
  def pcaProject(vec: Column, model: PcaModel): Column =
    org.apache.spark.sql.graft.PcaExpressions.pcaProject(
      vec, model.mean, model.components)

  /** [[pcaProject]] narrowed to the engine's `array<float>` embedding
    * convention — the column the ANN / SemDeDup / IVF-PQ stack consumes
    * directly. With k = dim the projection is a pure rotation of the
    * centered vector (orthonormal components), so pairwise distances
    * are preserved (PcaSpec pins the isometry): rotate-then-PQ is the
    * OPQ-style decorrelation that makes PQ subspace codebooks honest,
    * and truncated projections feed [[Dedup.semDedupAuto]] /
    * [[Similarity]] as drop-in cheaper vectors.
    */
  def pcaProjectF(vec: Column, model: PcaModel): Column =
    transform(pcaProject(vec, model), x => x.cast("float"))

  /** The ORACLE form of the covariance matrix — relational, with the
    * engine-portable arithmetic contract (products floor-rounded at
    * 1e-6 at definition, then the proven decimal exact-mean; final
    * entries rounded at 1e-9): upper triangle (i <= j) of the
    * population covariance (PcaSpec pins it against driver double
    * arithmetic inside the rounding budget). It explodes d(d+1)/2
    * products per vector, so it suits verification, not corpus-scale
    * training.
    */
  def covarianceRelational(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = df.select(col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col("__id"), col("d").cast("long").as("d"),
        col("x").cast("double").as("x"))
    val m = e.groupBy("d").agg(graft.etd.Aggregates.exactMean(col("x")).as("mx"))
    val prods = e.as("a")
      .join(e.as("b").select(col("__id"), col("d").as("d2"), col("x").as("x2")),
        Seq("__id"))
      .filter(col("d") <= col("d2"))
      .select(col("d").as("i"), col("d2").as("j"),
        graft.llm.TextFunctions.round6(col("x") * col("x2")).as("p"))
    val mxy = prods.groupBy("i", "j")
      .agg(graft.etd.Aggregates.exactMean(col("p"), scale = 9).as("mxy"))
    mxy
      .join(m.select(col("d").as("i"), col("mx").as("mi")), Seq("i"))
      .join(m.select(col("d").as("j"), col("mx").as("mj")), Seq("j"))
      .select(col("i"), col("j"),
        graft.llm.TextFunctions.round9(col("mxy") - col("mi") * col("mj")).as("cov"))
  }
}
