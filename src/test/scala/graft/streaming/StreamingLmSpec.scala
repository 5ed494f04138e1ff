package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.llm.NgramLm

/** Streaming KN-LM count maintenance: micro-batch count appends fold
  * into EXACTLY the model a batch retrain over everything-that-arrived
  * builds, before and after log compaction.
  */
class StreamingLmSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def modelRows(counts: org.apache.spark.sql.DataFrame) =
    NgramLm.modelTable(NgramLm.trainFromCounts(counts))
      .as[(String, String, String, Long, Double)].collect()
      .sortBy(r => (r._1, r._2, r._3)).toSeq

  test("3 micro-batches; fold == batch retrain; compaction preserves it") {
    val countsDir = java.nio.file.Files.createTempDirectory("lmcounts").toString + "/log"

    val batches = Seq(
      Seq((0L, "the cat sat"), (1L, "the cat ate")),
      Seq((2L, "a dog sat"), (3L, "the dog ate the cat")),
      Seq((4L, ""), (5L, "the cat sat")))

    // the foreachBatch hook, driven as a stream's batches 0, 1, 2 would
    batches.zipWithIndex.foreach { case (b, id) =>
      StreamingLm.appendBatch(countsDir, "doc_id", "text")(
        b.toDF("doc_id", "text"), id.toLong)
    }

    val all = batches.flatten.toDF("doc_id", "text")
    val expected = modelRows(NgramLm.trigramCounts(all, "doc_id", "text"))
    assert(modelRows(StreamingLm.loadCounts(spark, countsDir)) == expected)

    // one delta generation per batch before compaction, one after —
    // and the folded model is unchanged
    assert(spark.read.parquet(countsDir)
      .select("batch_id").distinct().count() == 3)
    StreamingLm.compactCounts(spark, countsDir)
    assert(spark.read.parquet(countsDir)
      .select("batch_id").distinct().count() == 1)
    assert(modelRows(StreamingLm.loadCounts(spark, countsDir)) == expected)

    // the ledger rode the swap: every folded id is readable from the
    // LIVE dir after compaction (ADVICE r15: a ledger written into the
    // pre-swap dir is destroyed by swapIn's retire)
    assert(BatchState.readFolded(spark, countsDir) == Set(0L, 1L, 2L))

    // replay-after-fold is a no-op: a checkpoint-loss replay of batch 1
    // must NOT re-write its batch_id=1 partition next to the -1 fold
    // (that would double the batch's trigram counts — every KN
    // probability downstream would silently corrupt)
    StreamingLm.appendBatch(countsDir, "doc_id", "text")(
      batches(1).toDF("doc_id", "text"), 1L)
    assert(spark.read.parquet(countsDir)
      .select("batch_id").distinct().count() == 1)
    assert(modelRows(StreamingLm.loadCounts(spark, countsDir)) == expected)

    // a second compaction after the fold keeps the ledger monotone
    StreamingLm.compactCounts(spark, countsDir)
    assert(BatchState.readFolded(spark, countsDir) == Set(0L, 1L, 2L))
    assert(modelRows(StreamingLm.loadCounts(spark, countsDir)) == expected)
  }

  test("compaction crash between retire and promote recovers on the next " +
      "append/load; the candidate's history is never orphaned (r17)") {
    val countsDir = java.nio.file.Files.createTempDirectory("lmcrash").toString + "/log"
    val b0 = Seq((0L, "the cat sat"), (1L, "the cat ate")).toDF("doc_id", "text")
    val b1 = Seq((2L, "a dog sat the cat")).toDF("doc_id", "text")
    StreamingLm.appendBatch(countsDir, "doc_id", "text")(b0, 0L)
    StreamingLm.appendBatch(countsDir, "doc_id", "text")(b1, 1L)
    val expected = modelRows(StreamingLm.loadCounts(spark, countsDir))

    // simulate compactCounts crashing in swapIn's one non-atomic window:
    // candidate fully written (fold + ledger), live dir RETIRED, promote
    // never ran — the state recoverSwap exists for
    val (f, live) = BatchState.fs(spark, countsDir)
    val tmp = new org.apache.hadoop.fs.Path(s"${countsDir}_compacting")
    StreamingLm.loadCounts(spark, countsDir)
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(-1L))
      .write.partitionBy("batch_id").mode("overwrite").parquet(tmp.toString)
    BatchState.writeFolded(spark, tmp.toString, Set(0L, 1L))
    assert(f.rename(live, new org.apache.hadoop.fs.Path(s"${countsDir}_old")))
    assert(!f.exists(live) && f.exists(tmp), "crash window established")

    // the at-least-once replay of batch 1 hits the window first: it must
    // promote the candidate, read the ledger FROM it, and no-op — an
    // unrecovered append would re-create the live dir with batch 1 alone
    // and the next compaction would delete the candidate (total loss)
    StreamingLm.appendBatch(countsDir, "doc_id", "text")(b1, 1L)
    assert(f.exists(live) && !f.exists(tmp), "candidate promoted")
    assert(BatchState.readFolded(spark, countsDir) == Set(0L, 1L))
    assert(spark.read.parquet(countsDir)
      .select("batch_id").distinct().count() == 1) // only the -1 fold
    assert(modelRows(StreamingLm.loadCounts(spark, countsDir)) == expected)

    // and the interrupted maintenance window can simply re-run
    StreamingLm.compactCounts(spark, countsDir)
    assert(modelRows(StreamingLm.loadCounts(spark, countsDir)) == expected)
    assert(BatchState.readFolded(spark, countsDir) == Set(0L, 1L))
  }
}
