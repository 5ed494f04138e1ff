package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Distributed PCA: moment pass, Jacobi eigensolve, projection /
  * reconstruction columns, and the oracle-arithmetic covariance twin.
  */
class PcaSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val dim = 8
  // rank-2 signal embedded in R^8 + tiny deterministic perturbation:
  // PCA must find the (u, w) plane
  private val u = Array(1f, 1f, 0f, 0f, 0f, 0f, 0f, 1f).map(_ / math.sqrt(3).toFloat)
  private val w = Array(0f, 0f, 1f, -1f, 0f, 1f, 0f, 0f).map(_ / math.sqrt(3).toFloat)
  private val vecs: Seq[(Long, Array[Float])] = (0 until 300).map { i =>
    val a = math.sin(i * 0.7) * 3.0
    val b = math.cos(i * 1.3) * 1.5
    val eps = 0.01
    val v = Array.tabulate(dim) { j =>
      (a * u(j) + b * w(j) + eps * math.sin(i * 2.1 + j)).toFloat
    }
    (i.toLong, v)
  }
  private lazy val df = vecs.toDF("id", "vec").repartition(5)
  private lazy val model = Embeddings.pcaTrain(df, "vec", dim, k = 4)

  test("components are orthonormal; eigenvalues descend; top-2 carry the signal") {
    for (i <- model.components.indices; j <- model.components.indices) {
      val dot = model.components(i).zip(model.components(j)).map { case (a, b) => a * b }.sum
      if (i == j) assert(math.abs(dot - 1.0) < 1e-9, s"||c$i|| != 1: $dot")
      else assert(math.abs(dot) < 1e-9, s"c$i . c$j = $dot")
    }
    val ev = model.eigenvalues
    assert(ev.sliding(2).forall(p => p(0) >= p(1)))
    // the rank-2 signal dominates: 3rd eigenvalue is noise-scale
    assert(ev(0) > 1.0 && ev(1) > 0.5 && ev(2) < 0.01,
      s"eigenvalues ${ev.toSeq}")
  }

  test("eigen equation holds: cov . v = lambda v") {
    val (n, s, g) = Embeddings.moments(df, "vec", dim)
    val (_, cov) = Embeddings.covarianceMatrix(n, s, g, dim)
    model.components.zip(model.eigenvalues).foreach { case (v, lambda) =>
      val av = cov.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      av.zip(v).foreach { case (avi, vi) =>
        assert(math.abs(avi - lambda * vi) < 1e-8,
          s"cov.v component $avi vs ${lambda * vi}")
      }
    }
  }

  test("sign convention and partition-order combine make training deterministic") {
    val again = Embeddings.pcaTrain(df, "vec", dim, k = 4)
    assert(again.mean.toSeq == model.mean.toSeq)
    assert(again.eigenvalues.toSeq == model.eigenvalues.toSeq)
    assert(again.components.map(_.toSeq).toSeq == model.components.map(_.toSeq).toSeq)
    model.components.foreach { c =>
      val maxAbs = c.maxBy(math.abs)
      assert(maxAbs > 0, "largest-|component| must be positive")
    }
  }

  test("projection column matches driver arithmetic; reconstruction error is noise-scale") {
    val projected = df.select(col("id"),
        Embeddings.pcaProject(col("vec"), model).as("p"),
        col("vec"))
      .withColumn("r", Embeddings.pcaReconstruct(col("p"), model))
      .collect()
    val byId = vecs.toMap
    projected.foreach { row =>
      val id = row.getLong(0)
      val p = row.getSeq[Double](1)
      val v = byId(id)
      val centered = v.indices.map(j => v(j).toDouble - model.mean(j))
      val expected = model.components.map(c =>
        c.indices.foldLeft(0.0)((acc, j) => acc + centered(j) * c(j)))
      p.zip(expected).foreach { case (got, exp) =>
        assert(math.abs(got - exp) < 1e-9, s"projection $got vs $exp") }
      val r = row.getSeq[Double](3)
      val err = math.sqrt(v.indices.map(j => math.pow(v(j) - r(j), 2)).sum)
      assert(err < 0.05, s"reconstruction error $err") // eps-scale residual
    }
  }

  test("native projection == composed HOF form bit-for-bit; short vectors null") {
    val rows = df.select(col("id"),
        Embeddings.pcaProject(col("vec"), model).as("nat"),
        ComposedForms.pcaProject(col("vec"), model).as("comp"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](1) == r.getSeq[Double](2), s"id ${r.getLong(0)}")
    }
    val short = Seq((1L, Array(1f, 2f))).toDF("id", "vec")
      .select(Embeddings.pcaProject(col("vec"), model).as("p")).collect()
    assert(short.head.isNullAt(0))
  }

  test("full-dim projection is an isometry (rotation): pairwise distances preserved") {
    val full = Embeddings.pcaTrain(df, "vec", dim, k = dim)
    val proj = df.select(col("id"), Embeddings.pcaProject(col("vec"), full).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val byId = vecs.toMap
    val ids = vecs.take(20).map(_._1)
    for (a <- ids; b <- ids if a < b) {
      val dOrig = math.sqrt(byId(a).zip(byId(b))
        .map { case (x, y) => math.pow(x.toDouble - y.toDouble, 2) }.sum)
      val dProj = math.sqrt(proj(a).zip(proj(b))
        .map { case (x, y) => math.pow(x - y, 2) }.sum)
      assert(math.abs(dOrig - dProj) < 1e-9, s"($a,$b): $dOrig vs $dProj")
    }
  }

  test("relational (oracle-arithmetic) covariance agrees with the fast moment path") {
    val (n, s, g) = Embeddings.moments(df, "vec", dim)
    val (_, cov) = Embeddings.covarianceMatrix(n, s, g, dim)
    val rel = Embeddings.covarianceRelational(df, "id", "vec").collect()
    assert(rel.length == dim * (dim + 1) / 2)
    rel.foreach { row =>
      val (i, j, c) = (row.getLong(0).toInt, row.getLong(1).toInt, row.getDouble(2))
      // relational path rounds products at 1e-6 before the exact mean
      assert(math.abs(c - cov(i)(j)) < 2e-6, s"cov($i,$j): $c vs ${cov(i)(j)}")
    }
  }

  test("short vectors are rejected, not zero-padded") {
    val bad = Seq((1L, Array(1f, 2f))).toDF("id", "vec")
    val ex = intercept[Exception] { Embeddings.moments(bad, "vec", dim) }
    assert(ex.getMessage.contains("shorter") || ex.getCause != null)
  }
}
