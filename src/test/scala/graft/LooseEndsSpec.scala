package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etd.{Impute, ImputeSummaries}
import graft.llm.{ComposedForms, Multimodal, Similarity}

/** Coverage for the smaller library surfaces not exercised elsewhere. */
class LooseEndsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).collect().head.get(0)

  test("character shingles") {
    assert(one(ComposedForms.charShingles(lit("abcde"), 3))
      .asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("abc", "bcd", "cde"))
    assert(one(size(ComposedForms.charShingles(lit("ab"), 3))) == 0)
  }

  test("hyperplane LSH bucket: deterministic, equal for equal vectors") {
    def arr(xs: Float*) = array(xs.map(lit(_)): _*)
    val b1 = one(Similarity.hyperplaneBucket(arr(1f, 2f, 3f)))
    val b2 = one(Similarity.hyperplaneBucket(arr(1f, 2f, 3f)))
    val b3 = one(Similarity.hyperplaneBucket(arr(-1f, -2f, -3f)))
    assert(b1 == b2)
    // opposite vectors flip every non-zero dot -> different bucket
    assert(b1 != b3)
    assert(b1.asInstanceOf[Long] >= 0 && b1.asInstanceOf[Long] < 256)
  }

  test("IVF top-k with a literal codebook searches only the query cell") {
    val centroids = array(
      array(lit(1f), lit(0f)), array(lit(0f), lit(1f)))
    val vecs = Seq(
      (1L, Array(0.95f, 0.05f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.1f, 0.9f)), (4L, Array(0.05f, 0.95f)))
      .toDF("id", "v")
    val top = Similarity.ivfTopK(vecs.filter(col("id") === 1), vecs,
        "id", "v", centroids, k = 2)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(top == Set(2L), "cell 1 contains only ids 1,2 -> one neighbor")
  }

  test("violation counts gate negative diffs and averages") {
    val df = Seq((1.0, 0.5), (-2.0, 0.5), (3.0, -0.1), (-4.0, -0.2))
      .toDF("d", "a")
    val r = Impute.violationCounts(df, "d", "a").collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
  }

  test("over-40%-imputed warning gate") {
    val s = Seq((1L, 45.0), (2L, 12.0)).toDF("HuisIdBSV", "percentage_imputed")
    assert(ImputeSummaries.over40PctImputed(s).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("multimodal: frame-sample indexes and byte meta") {
    assert(one(Multimodal.frameSampleIndexes(lit(1000L), 400L))
      .asInstanceOf[scala.collection.Seq[Long]].toSeq == Seq(0L, 400L, 800L))
    assert(one(size(Multimodal.frameSampleIndexes(lit(null).cast("long"), 400L))) == 0)
    val df = Seq(Tuple1("abc")).toDF("t").withColumn("bin", col("t").cast("binary"))
    val row = df.select(Multimodal.mediaMeta(col("bin"), lit("text/plain"))
      .getField("byte_length")).collect().head
    assert(row.getLong(0) == 3L)
  }

  test("dot_product_f is callable from SQL (extension registration path)") {
    import org.apache.spark.sql.graft.DotProductFloat
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product_f", exprs => DotProductFloat(exprs.head, exprs(1)), "built-in")
    val d = spark.sql(
      """SELECT dot_product_f(array(cast(1.0 AS float), cast(2.0 AS float)),
        |                     array(cast(3.0 AS float), cast(4.0 AS float))) AS d
      """.stripMargin).collect().head.getDouble(0)
    assert(d == 11.0)
  }
}
