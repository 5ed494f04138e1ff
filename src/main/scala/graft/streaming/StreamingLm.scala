package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.NgramLm

/** Structured Streaming maintenance of the Kneser-Ney trigram count
  * table ([[graft.llm.NgramLm.trigramCounts]]) — the LM analogue of
  * [[StreamingRetrieval]]'s log-structured BM25 index: documents
  * stream in, the model refreshes from counts, archived text is never
  * re-read.
  *
  * Counts are ADDITIVE ([[graft.llm.NgramLm.mergeCounts]]), so the
  * whole maintenance story is the log-structured one, one
  * [[BatchState]] log at `<countsDir>/counts`: every
  * micro-batch APPENDS its own batch-scale trigram counts (one
  * aggregation over the batch — nothing touches the accumulated log),
  * [[loadCounts]] folds the log with one model-scale hash-agg at read
  * time, and [[compactCounts]] collapses it to one generation in a
  * maintenance window. `trainFromCounts` over the fold IS the model
  * retrained on everything that ever arrived (StreamingLmSpec pins
  * table-level equality across 3 micro-batches, before and after
  * compaction).
  */
object StreamingLm {

  /** `foreachBatch` hook: append one micro-batch's trigram counts to
    * the `counts` log under `countsDir`, replay-exactly
    * ([[BatchState.append]]: a plain append would DOUBLE a retried
    * batch's counts, which unlike a duplicated posting row silently
    * corrupts every probability downstream). `autoCompactEvery` > 0
    * folds in-band once that many batches are unfolded — safe for the
    * same reason as [[StreamingRetrieval.appendBatch]]'s.
    */
  def appendBatch(countsDir: String, idCol: String, textCol: String,
                  autoCompactEvery: Int = 0)
                 (batch: DataFrame, batchId: Long): Unit = {
    BatchState.append(countsDir, batchId,
      "counts" -> NgramLm.trigramCounts(batch, idCol, textCol))
    if (autoCompactEvery > 0 &&
        BatchState.unfoldedBatches(batch.sparkSession, s"$countsDir/counts")
          >= autoCompactEvery)
      compactCounts(batch.sparkSession, countsDir)
  }

  /** Fold the count log into the (u, v, w, c) table
    * [[graft.llm.NgramLm.trainFromCounts]] consumes — one model-scale
    * aggregation, O(batches)·model rows in, model rows out.
    */
  def loadCounts(spark: SparkSession, countsDir: String): DataFrame =
    sumCounts(BatchState.read(spark, s"$countsDir/counts"))

  private def sumCounts(counts: DataFrame): DataFrame =
    counts.groupBy(col("u"), col("v"), col("w")).agg(sum(col("c")).as("c"))

  /** Collapse the log to one generation ([[BatchState.fold]];
    * maintenance window — the hot append path never rewrites).
    */
  def compactCounts(spark: SparkSession, countsDir: String): Unit =
    BatchState.fold(spark, countsDir, ("counts", sumCounts))
}
