package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed PCA over the embedding column — the dimensionality
  * reduction / whitening stage an embedding pipeline runs before ANN
  * indexing (shorter codes, decorrelated subspaces for PQ) and before
  * semantic dedup (noise floors out of the cosine).
  *
  * Scale design (the RowMatrix pattern, public Spark MLlib lineage):
  * the only corpus-scale pass accumulates per-partition second moments
  * — a fixed-size `d + d(d+1)/2` double accumulator per partition,
  * combined on the driver in partition-index order (deterministic for
  * a fixed partitioning, exactly [[Similarity.trainCodebook]]'s
  * contract). The eigensolve runs on the driver over the d x d
  * covariance (d <= a few hundred for embedding columns — microseconds
  * next to the scan); projection is a map-only column expression with
  * the model folded in as literals. Nothing but the d^2 moments ever
  * reaches the driver.
  *
  * Determinism: cyclic Jacobi with a fixed sweep order, eigenpairs
  * ordered (eigenvalue desc, original index asc), and each
  * eigenvector's sign fixed so its largest-|component| (first on tie)
  * is positive — the same model on every run.
  */
object Embeddings {

  /** mean (d), components (k rows x d — orthonormal, eigenvalue-desc),
    * eigenvalues (k, population covariance), corpus size.
    */
  case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
                      eigenvalues: Array[Double], n: Long)

  /** One corpus pass: (n, sum_x (d), sum_xxT upper triangle packed
    * row-major (d(d+1)/2)). Partition results combine on the driver in
    * partition-index order. Vectors shorter than `dim` are rejected —
    * a silent zero-pad would corrupt the moments.
    */
  def moments(df: DataFrame, vecCol: String, dim: Int): (Long, Array[Double], Array[Double]) = {
    val tri = dim * (dim + 1) / 2
    val parts = df.select(col(vecCol)).rdd.mapPartitionsWithIndex { (pid, it) =>
      val sum = new Array[Double](dim)
      val gram = new Array[Double](tri)
      var n = 0L
      it.foreach { row =>
        val v = row.getSeq[Float](0)
        require(v.length >= dim,
          s"pca: vector of length ${v.length} shorter than dim=$dim")
        var i = 0
        var t = 0
        while (i < dim) {
          val xi = v(i).toDouble
          sum(i) += xi
          var j = i
          while (j < dim) {
            gram(t) += xi * v(j).toDouble
            t += 1
            j += 1
          }
          i += 1
        }
        n += 1L
      }
      Iterator.single((pid, n, sum, gram))
    }.collect().sortBy(_._1)
    val sum = new Array[Double](dim)
    val gram = new Array[Double](tri)
    var n = 0L
    parts.foreach { case (_, pn, ps, pg) =>
      n += pn
      var i = 0
      while (i < dim) { sum(i) += ps(i); i += 1 }
      i = 0
      while (i < tri) { gram(i) += pg(i); i += 1 }
    }
    (n, sum, gram)
  }

  /** Moments are ADDITIVE — the property that makes PCA incrementally
    * maintainable: keep (n, sum, gram) per corpus vintage, fold a
    * snapshot's moments in with one vector add, re-run the (driver,
    * microseconds) eigensolve. No archived vector is ever re-read —
    * the embedding twin of the incremental dedup/BM25 indexes.
    * Numerics: merged sums group additions differently than a single
    * union pass, so models agree to fp-accumulation tolerance (~1e-12
    * relative — PcaSpec pins it), exactly the "deterministic for a
    * fixed batch decomposition" contract trainCodebook documents.
    */
  def mergeMoments(a: (Long, Array[Double], Array[Double]),
                   b: (Long, Array[Double], Array[Double]))
      : (Long, Array[Double], Array[Double]) = {
    require(a._2.length == b._2.length, "moments: dim mismatch")
    (a._1 + b._1,
      a._2.zip(b._2).map { case (x, y) => x + y },
      a._3.zip(b._3).map { case (x, y) => x + y })
  }

  /** Eigensolve + ordering + sign convention over pre-computed
    * moments — [[pcaTrain]] is `pcaFromMoments(moments(df), ...)`.
    */
  def pcaFromMoments(m: (Long, Array[Double], Array[Double]),
                     dim: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= dim, s"pca: k=$k out of range for dim=$dim")
    val (n, sum, gram) = m
    val (mean, cov) = covarianceMatrix(n, sum, gram, dim)
    val (values, vectors) = jacobiEigen(cov)
    val order = (0 until dim).sortBy(i => (-values(i), i)).take(k)
    val comps = order.map { i =>
      val vec = vectors(i)
      var best = 0
      var j = 1
      while (j < dim) { if (math.abs(vec(j)) > math.abs(vec(best))) best = j; j += 1 }
      if (vec(best) < 0) vec.map(x => -x) else vec.clone()
    }.toArray
    PcaModel(mean, comps, order.map(values(_)).toArray, n)
  }

  /** Population covariance from [[moments]]: cov = E[xxT] - mean meanT. */
  def covarianceMatrix(n: Long, sum: Array[Double], gram: Array[Double],
                       dim: Int): (Array[Double], Array[Array[Double]]) = {
    require(n > 0, "pca: empty input")
    val mean = sum.map(_ / n)
    val cov = Array.ofDim[Double](dim, dim)
    var t = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = gram(t) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        t += 1
        j += 1
      }
      i += 1
    }
    (mean, cov)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix: returns
    * (eigenvalues, eigenvectors as rows), UNordered — [[pcaTrain]]
    * orders and sign-fixes. O(d^3) per sweep; converges quadratically
    * (tol on the off-diagonal Frobenius norm).
    */
  def jacobiEigen(matrix: Array[Array[Double]], maxSweeps: Int = 64,
                  tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = matrix.length
    val a = matrix.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += 2 * a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      math.sqrt(s)
    }
    var sweep = 0
    while (sweep < maxSweeps && offNorm() > tol) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > Double.MinPositiveValue) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0)) // theta == 0
              case x => x
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val values = Array.tabulate(d)(i => a(i)(i))
    val vectors = Array.tabulate(d)(j => Array.tabulate(d)(i => v(i)(j)))
    (values, vectors)
  }

  /** Train the top-`k` PCA model: one distributed moment pass, driver
    * eigensolve, deterministic ordering + sign convention.
    */
  def pcaTrain(df: DataFrame, vecCol: String, dim: Int, k: Int): PcaModel =
    pcaFromMoments(moments(df, vecCol, dim), dim, k)

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

  /** Map-only reconstruction from a [[pcaProject]] column: mean +
    * sum_i proj(i) * component_i, as `array<double>` of length d.
    */
  def pcaReconstruct(proj: Column, model: PcaModel): Column = {
    val d = model.mean.length
    array((0 until d).map { j =>
      model.components.toIndexedSeq.zipWithIndex.foldLeft(lit(model.mean(j))) {
        case (acc, (comp, i)) => acc + element_at(proj, i + 1) * lit(comp(j))
      }
    }: _*)
  }

  /** The ORACLE form of the covariance matrix — relational, with the
    * engine-portable arithmetic contract (products floor-rounded at
    * 1e-6 at definition, then the proven decimal exact-mean; final
    * entries rounded at 1e-9): upper triangle (i <= j) of the
    * population covariance. This is the cross-engine-checkable twin of
    * the fast [[moments]] path (PcaSpec pins |fast - oracle| inside
    * the rounding budget); it explodes d(d+1)/2 products per vector,
    * so it is a VERIFICATION query, not the training path.
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
