package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Crawl intake's micro-batch unit against a PERSISTED digest index,
  * driven as a `foreachBatch` body would drive it: content that
  * re-arrives after a lost checkpoint drops on the index, and a
  * crashed batch's partial writes are rewritten, not appended, on
  * replay.
  */
class StreamingCrawlSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  // a page whose main block survives htmlMainText and the 5-token gate
  private def page(body: String): String =
    "<html><head><title>t</title></head><body>" +
      "<div class=\"nav\"><a href=\"/\">Home page link</a> <a href=\"/a\">About page link</a></div>" +
      s"<p>$body</p></body></html>"

  private val prose =
    "the quick brown fox jumps over the lazy dog again and again today"

  // a digest index as stored — (content_hash, batch_id); empty before
  // the first batch
  private def loadIndex(indexDir: String) =
    if (BatchState.hasData(spark, indexDir)) spark.read.parquet(indexDir)
    else Seq.empty[(String, Long)].toDF("content_hash", "batch_id")

  test("restart replay is content-idempotent: replayed docs drop on the index") {
    val tmp = Files.createTempDirectory("crawl_replay").toString
    val idxDir = s"$tmp/index"
    val b1 = Seq(1L -> page(s"$prose one")).toDF("id", "html")
    val empty = Seq.empty[String].toDF("content_hash")
    val (a1, d1) = StreamingCrawl.acceptBatch(b1, "id", "html", empty)
    assert(a1.count() == 1)
    d1.withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").parquet(idxDir)
    // the checkpoint is LOST and the content re-arrives as a LATER
    // batch: the committed index (all batch ids) screens it out
    val (a2, _) = StreamingCrawl.acceptBatch(b1, "id", "html",
      loadIndex(idxDir).select("content_hash"))
    assert(a2.count() == 0, "replayed content must drop against the index")
  }

  test("a crashed batch's partial writes are rewritten, not appended, on replay") {
    // mimic the ingest body's failure window: batch 1 wrote its sink
    // partition, died before the index write, and is replayed — the
    // dynamic partition overwrite must leave exactly one copy
    val tmp = Files.createTempDirectory("crawl_partial").toString
    val (sinkDir, idxDir) = (s"$tmp/sink", s"$tmp/index")
    val b1 = Seq(10L -> page(s"$prose one"), 11L -> page(s"$prose two"))
      .toDF("id", "html")
    def runBatch(batchId: Long, dropIndexWrite: Boolean): Unit = {
      val committed = loadIndex(idxDir)
        .filter(col("batch_id") =!= lit(batchId)).select("content_hash")
      val (accepted, _) =
        StreamingCrawl.acceptBatch(b1, "id", "html", committed)
      val stamped = accepted.withColumn("batch_id", lit(batchId))
      stamped.write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(sinkDir)
      if (!dropIndexWrite)
        graft.llm.Dedup.digestIndex(stamped.drop("batch_id"), "main")
          .withColumn("batch_id", lit(batchId))
          .write.partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(idxDir)
    }
    runBatch(1L, dropIndexWrite = true)  // crash between the writes
    runBatch(1L, dropIndexWrite = false) // checkpoint replay
    val ids = spark.read.parquet(sinkDir).select("id").as[Long].collect()
    assert(ids.sorted.toSeq == Seq(10L, 11L),
      s"replay must rewrite the batch partition, got ${ids.toSeq}")
    assert(spark.read.parquet(idxDir).count() == 2)
  }
}
