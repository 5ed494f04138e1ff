package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Native DEFLATE compression-ratio signal: agrees with a direct
  * Deflater computation, orders repetitive text far below prose, and
  * handles the null/empty edges.
  */
class CompressSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  // the native kernel as the SQL function the session extension registers
  spark.sessionState.functionRegistry.createOrReplaceTempFunction(
    "compression_ratio",
    exprs => org.apache.spark.sql.graft.DeflateRatio(exprs.head),
    "built-in")
  private def compressionRatio(c: org.apache.spark.sql.Column) =
    call_function("compression_ratio", c)

  private def ratios(texts: Seq[String], parts: Int = 3): Seq[Option[Double]] =
    texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "t").repartition(parts)
      .select(col("i"), compressionRatio(col("t")))
      .as[(Int, Option[Double])].collect().sortBy(_._1).map(_._2).toSeq

  test("matches a direct Deflater computation; repetitive << prose") {
    val prose = "The five boxing wizards jump quickly over the lazy dog " +
      "while a quick brown fox inspects twelve jugs of acid water."
    val spam = "buy now " * 40
    val Seq(Some(p), Some(s)) = ratios(Seq(prose, spam))
    assert(s < p / 2, s"spam $s not far below prose $p")
    val direct = org.apache.spark.sql.graft.CompressUtil
      .ratio(prose.getBytes("UTF-8"))
    assert(p == direct)
  }

  test("empty is 1.0, null is null, values partitioning-stable") {
    assert(ratios(Seq("")) == Seq(Some(1.0)))
    assert(Seq((1, null.asInstanceOf[String])).toDF("i", "t")
      .select(compressionRatio(col("t")))
      .as[Option[Double]].collect().toSeq == Seq(None))
    val texts = (0 until 50).map(i => s"doc $i " * (i + 1))
    assert(ratios(texts, parts = 1) == ratios(texts, parts = 7))
  }

  test("callable from SQL (extension registration path)") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "compression_ratio",
      exprs => org.apache.spark.sql.graft.DeflateRatio(exprs.head),
      "built-in")
    val r = spark.sql(
      "SELECT compression_ratio('aaaa bbbb aaaa bbbb') AS r").collect().head
    assert(r.getDouble(0) > 0.0 && r.getDouble(0) < 1.5)
  }
}
