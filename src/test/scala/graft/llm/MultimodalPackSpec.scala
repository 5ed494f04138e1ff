package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Interleaved multimodal token budgeting: ViT patch-count arithmetic,
  * the header-decode round-trip inside the composed pack query, and the
  * packing invariants of its output.
  */
class MultimodalPackSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("patchTokens: ceil-division tiling, boundaries exact, null dims stay null") {
    val rows = Seq(
      (14, 14),   // exactly one patch
      (15, 14),   // one pixel over -> 2x1
      (1, 1),     // minimum image is still one patch
      (224, 224), // the canonical ViT-Base input: 16x16 patches
      (1920, 1080)
    ).toDF("w", "h")
      .select(Multimodal.patchTokens(col("w"), col("h"), 14).as("p"))
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 2L, 1L, 16L * 16L, 138L * 78L))
    val n = Seq((Option.empty[Int], Option(10))).toDF("w", "h")
      .select(Multimodal.patchTokens(col("w"), col("h"), 14).as("p"))
      .collect().head
    assert(n.isNullAt(0), "undecodable payload must surface null, not zero")
  }

  test("q_pack_multimodal: every doc packed once, image cost real, prefix sums consistent") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.SparkEntry.table(spark, dir, "documents")
    val out = graft.queries.QueriesLLM.q_pack_multimodal(spark, dir).cache()
    try {
      assert(out.count() == docs.count(), "one output row per document")
      assert(out.select("doc_id").distinct().count() == docs.count())

      // image-bearing docs (doc_id % 3 != 0) must cost MORE than their
      // text tokens alone; text-only docs exactly their text tokens
      val txt = docs.select(col("doc_id"),
        TextFunctions.regexTokenCount(col("text")).cast("long").as("txt"))
      val joined = out.join(txt, "doc_id")
      assert(joined.filter(pmod(col("doc_id"), lit(3L)) === 0 &&
        col("n_tokens") =!= col("txt")).count() == 0)
      assert(joined.filter(pmod(col("doc_id"), lit(3L)) =!= 0 &&
        col("n_tokens") <= col("txt")).count() == 0)

      // spot-check one doc's image cost against hand arithmetic:
      // smallest doc_id with 2 images (doc_id % 3 == 2)
      val d = out.filter(pmod(col("doc_id"), lit(3L)) === 2)
        .orderBy("doc_id").limit(1)
        .join(txt, "doc_id").collect().head
      val id = d.getAs[Long]("doc_id")
      def patches(k: Long): Long = {
        val w = (id * 7 + k * 13) % 1920 + 1
        val h = (id * 11 + k * 17) % 1080 + 1
        ((w + 13) / 14) * ((h + 13) / 14) + 2
      }
      assert(d.getAs[Long]("n_tokens") ==
        d.getAs[Long]("txt") + patches(0) + patches(1))

      // packing invariants: within (shard, seq_id), offsets are the
      // running prefix sum mod budget — re-derive and compare
      val re = Packing.packSequences(
          out.select("doc_id", "n_tokens"), "doc_id", "n_tokens", 4096L, 4)
        .select("doc_id", "shard", "seq_id", "seq_offset")
      assert(out.select("doc_id", "shard", "seq_id", "seq_offset")
        .exceptAll(re).count() == 0)
    } finally out.unpersist()
  }
}
