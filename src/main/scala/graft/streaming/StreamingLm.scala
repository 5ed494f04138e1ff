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
  * whole maintenance story is the log-structured one: every
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
    * the log at `countsDir`, replay-exactly — the write targets the
    * batch's own `batch_id=<N>` partition under dynamic overwrite (an
    * at-least-once retry rewrites its failed attempt; a plain append
    * would DOUBLE the batch's counts, which unlike a duplicated
    * posting row silently corrupts every probability downstream), and
    * a batch the [[BatchState.readFolded]] ledger marks folded (its
    * counts live in the `batch_id = -1` generation) replays as a
    * no-op — the [[StreamingRetrieval.appendBatch]] contract.
    */
  def appendBatch(countsDir: String, idCol: String, textCol: String,
                  autoCompactEvery: Int = 0)
                 (batch: DataFrame, batchId: Long): Unit = {
    // finish a compaction that crashed between retire and promote —
    // BEFORE the ledger read (it rides the candidate) and the write
    // (an append onto the missing-live window would orphan the history)
    BatchState.recoverSwap(batch.sparkSession, countsDir)
    if (BatchState.readFolded(batch.sparkSession, countsDir)
        .contains(batchId)) return
    NgramLm.trigramCounts(batch, idCol, textCol)
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(countsDir)
    // in-band fold trigger (VERDICT r15 #6) — safe for the same reason
    // as StreamingRetrieval.appendBatch's: the fold runs only after
    // this batch's append completed, and a post-fold replay is a
    // ledgered no-op with the counts already in the -1 generation
    if (autoCompactEvery > 0 &&
        BatchState.unfoldedBatches(batch.sparkSession, countsDir)
          >= autoCompactEvery)
      compactCounts(batch.sparkSession, countsDir)
  }

  /** Fold the count log into the (u, v, w, c) table
    * [[graft.llm.NgramLm.trainFromCounts]] consumes — one model-scale
    * aggregation, O(batches)·model rows in, model rows out.
    */
  def loadCounts(spark: SparkSession, countsDir: String): DataFrame = {
    BatchState.recoverSwap(spark, countsDir) // crashed-compaction window
    spark.read.parquet(countsDir).drop("batch_id")
      .groupBy(col("u"), col("v"), col("w"))
      .agg(sum(col("c")).as("c"))
  }

  /** Collapse the log to one generation (maintenance window — the hot
    * append path never rewrites). The swap itself is
    * [[BatchState.swapIn]]'s Hadoop-FS promote-then-retire — never
    * `java.io.File`, which would fail off the driver's own disk.
    *
    * Unlike [[StreamingRetrieval.compactIndex]] — whose swaps replace
    * SUBDIRECTORIES next to which the ledger lives — the swap target
    * here IS `countsDir`, so the `_folded_batches` ledger must be
    * written INTO the candidate dir and ride the promote. A ledger
    * written into the live dir before the swap would be retired and
    * deleted WITH it, after which every previously-folded batch looks
    * unfolded: a replay would re-write its `batch_id=<N>` partition
    * next to the `-1` fold and silently DOUBLE that batch's trigram
    * counts — the probability-corrupting hazard [[appendBatch]] exists
    * to prevent. Crash windows: before the promote the live dir still
    * holds every per-batch partition (replays dynamic-overwrite their
    * own partitions — exact); after the promote the fold and its
    * ledger are visible atomically together.
    */
  def compactCounts(spark: SparkSession, countsDir: String): Unit = {
    import spark.implicits._
    val ids = spark.read.parquet(countsDir)
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet.filter(_ != -1L) ++
      BatchState.readFolded(spark, countsDir)
    BatchState.swapIn(spark, countsDir) { tmp =>
      loadCounts(spark, countsDir).withColumn("batch_id", lit(-1L))
        .write.partitionBy("batch_id").mode("overwrite").parquet(tmp)
      BatchState.writeFolded(spark, tmp, ids)
    }
  }
}
