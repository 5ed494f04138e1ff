package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** PCA projection columns over a fixed orthonormal model, and the
  * oracle-arithmetic covariance against a one-pass moment computation.
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
  private val mean = Array.tabulate(dim)(j => vecs.map(_._2(j).toDouble).sum / vecs.size)
  private def unit(j: Int) = Array.tabulate(dim)(i => if (i == j) 1.0 else 0.0)
  // the signal plane (u, w) plus two axes orthogonal to it
  private val model = Embeddings.PcaModel(mean,
    Array(u.map(_.toDouble), w.map(_.toDouble), unit(4), unit(6)),
    new Array[Double](4), vecs.size.toLong)

  test("projection column matches driver arithmetic; reconstruction error is noise-scale") {
    val projected = df.select(col("id"),
        Embeddings.pcaProject(col("vec"), model).as("p"),
        col("vec"))
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
      // reconstruction: mean + sum_i p(i) * component_i
      val r = Array.tabulate(dim)(j => model.mean(j) +
        model.components.indices.map(i => p(i) * model.components(i)(j)).sum)
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
    // the orthonormal Walsh-Hadamard basis of R^8 as a full-rank model
    val hadamard = Array.tabulate(dim, dim)((i, j) =>
      (if (Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0) / math.sqrt(dim))
    val full = Embeddings.PcaModel(mean, hadamard, new Array[Double](dim),
      vecs.size.toLong)
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
    // one corpus pass of moments (n, sum x, sum x xT), then the
    // population covariance E[x xT] - mean meanT
    val d = dim // a local, so the task closure does not capture the spec
    val (n, s, g) = df.select(col("vec")).rdd.map { r =>
        val v = r.getSeq[Float](0).map(_.toDouble).toArray
        (1L, v, Array.tabulate(d, d)((i, j) => v(i) * v(j)))
      }.reduce { case ((na, sa, ga), (nb, sb, gb)) =>
        (na + nb, sa.zip(sb).map(p => p._1 + p._2),
          ga.zip(gb).map { case (ra, rb) => ra.zip(rb).map(p => p._1 + p._2) })
      }
    val cov = Array.tabulate(dim, dim)((i, j) => g(i)(j) / n - s(i) / n * (s(j) / n))
    val rel = Embeddings.covarianceRelational(df, "id", "vec").collect()
    assert(rel.length == dim * (dim + 1) / 2)
    rel.foreach { row =>
      val (i, j, c) = (row.getLong(0).toInt, row.getLong(1).toInt, row.getDouble(2))
      // relational path rounds products at 1e-6 before the exact mean
      assert(math.abs(c - cov(i)(j)) < 2e-6, s"cov($i,$j): $c vs ${cov(i)(j)}")
    }
  }

}
