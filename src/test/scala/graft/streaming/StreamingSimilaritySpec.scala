package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.llm.Similarity

/** Streaming ANN index maintenance (append-only coded IVF-PQ). */
class StreamingSimilaritySpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val dim = 16
  private val rnd = new scala.util.Random(21)
  private def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
  private val batches: Seq[Seq[(Long, Array[Float])]] = {
    var id = -1L
    Seq.fill(3)(Seq.fill(40) { id += 1; (id, vec()) })
  }
  private val all = batches.flatten

  test("micro-batch appends; load + coded search == batch-built index search") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir = java.nio.file.Files.createTempDirectory("annstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("annckpt").toString

    // codebooks frozen from the FIRST batch (the seed corpus): 4 coarse
    // cells, and 4 PQ subspaces of 8 centroids each, cut from its vectors
    val seed = batches.head.map(_._2)
    val coarse = seed.take(4).toArray
    val pq = Array.tabulate(4, 8)((m, c) => seed(c).slice(m * 4, m * 4 + 4))

    val input = MemoryStream[(Long, Array[Float])]
    val vectors = input.toDF().toDF("vec_id", "embedding")
    val query = vectors.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingSimilarity.appendBatch(indexDir, "vec_id", "embedding",
          coarse, pq)(batch, id)
      }.start()
    batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    query.stop()

    val queries = all.take(3)
    val ranking = Similarity.probeRanking(coarse)
    def search(index: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopKCoded(index, "id", "codes", "cell",
          q => ranking(q).take(2), pq, queries, k = 5)
        .orderBy("query_id", "rank").collect().toSeq

    val allDf = all.toDF("vec_id", "embedding")
    val expected = search(
      Similarity.buildIvfPqIndex(allDf, "vec_id", "embedding", coarse, pq))
    val got = search(StreamingSimilarity.loadIndex(spark, indexDir))
    assert(got == expected)
    assert(expected.nonEmpty)

    // batch ids stamped on every appended row (as the partition — the
    // replay unit a retry dynamic-overwrites)
    def batchIds() = spark.read.parquet(s"$indexDir/coded")
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet
    assert(batchIds() == Set(0L, 1L, 2L))

    // compaction folds the log into one cell-clustered batch_id = -1
    // generation: search results identical, ledger holds the folded
    // ids, and a batch replaying after its fold is a no-op
    StreamingSimilarity.compactIndex(spark, indexDir)
    assert(search(StreamingSimilarity.loadIndex(spark, indexDir)) == expected,
      "compaction must not change search results")
    assert(batchIds() == Set(-1L), "all batches fold into -1")
    assert(BatchState.readFolded(spark, indexDir) == Set(0L, 1L, 2L))
    val before = spark.read.parquet(s"$indexDir/coded").count()
    StreamingSimilarity.appendBatch(indexDir, "vec_id", "embedding",
      coarse, pq)(batches(1).toDF("vec_id", "embedding"), 1L)
    assert(spark.read.parquet(s"$indexDir/coded").count() == before,
      "a replay-after-fold append must be a no-op")

    // a NEW batch still appends, and its own retry rewrites, never
    // duplicates
    val nb = Seq(500L -> vec()).toDF("vec_id", "embedding")
    StreamingSimilarity.appendBatch(indexDir, "vec_id", "embedding",
      coarse, pq)(nb, 3L)
    StreamingSimilarity.appendBatch(indexDir, "vec_id", "embedding",
      coarse, pq)(nb, 3L) // at-least-once retry
    assert(spark.read.parquet(s"$indexDir/coded").count() == before + 1)
    assert(batchIds() == Set(-1L, 3L))
  }
}
