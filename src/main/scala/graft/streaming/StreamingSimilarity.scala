package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Structured Streaming maintenance of the persisted IVF-PQ coded
  * index ([[graft.llm.Similarity.buildIvfPqIndex]]'s (id, codes, cell)
  * shape) — the ANN serving loop next to [[StreamingRetrieval]]'s
  * lexical one.
  *
  * Even simpler than BM25: the coded index is STATELESS per row (cell
  * assignment and PQ codes are functions of the vector and the frozen
  * codebooks), so maintenance is a pure map-only append per
  * micro-batch — no term table, no stats, nothing to fold at read
  * time. The codebooks are trained once on a seed corpus and frozen
  * (the standard serving practice; retrain + re-encode is an
  * out-of-band operation when drift warrants it).
  *
  * Search parity: loadIndex + [[graft.llm.Similarity.ivfPqTopKCoded]]
  * equals the batch index built on everything that arrived
  * (StreamingSimilaritySpec pins it across micro-batches).
  */
object StreamingSimilarity {

  /** `foreachBatch` hook: encode one micro-batch of NEW vectors
    * (map-only) and append to the index log, replay-exactly — the
    * write targets the batch's own `batch_id=<N>` partition under
    * dynamic overwrite (an at-least-once retry rewrites its failed
    * attempt instead of appending next to it), and a batch the
    * [[BatchState.readFolded]] ledger marks folded (its rows moved to
    * `batch_id = -1` by [[compactIndex]]) replays as a no-op — the
    * [[StreamingRetrieval.appendBatch]] contract.
    */
  def appendBatch(indexDir: String, idCol: String, vecCol: String,
                  coarse: Array[Array[Float]],
                  codebooks: Array[Array[Array[Float]]])
                 (batch: DataFrame, batchId: Long): Unit = {
    // crashed-compaction window: promote before any write re-creates a
    // missing live dir and orphans the folded history (r17)
    BatchState.recoverSwap(batch.sparkSession, s"$indexDir/coded")
    if (BatchState.readFolded(batch.sparkSession, indexDir)
        .contains(batchId)) return
    Similarity.buildIvfPqIndex(batch, idCol, vecCol, coarse, codebooks)
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$indexDir/coded")
  }

  /** The searchable index — the log IS the table. */
  def loadIndex(spark: SparkSession, indexDir: String): DataFrame = {
    BatchState.recoverSwap(spark, s"$indexDir/coded") // crash window
    spark.read.parquet(s"$indexDir/coded").drop("batch_id")
  }

  /** Fold the coded log into one `batch_id = -1` generation, CELL-
    * clustered (repartition + sort by `cell`) — maintenance-window
    * operation with two payoffs: the file count drops from
    * O(batches × tasks) to O(shuffle partitions) however long the
    * stream has run, and every probed cell's rows land contiguously,
    * so the IVF search's `cell` predicate prunes at row-group min/max
    * granularity instead of scanning every batch's files. Row set is
    * unchanged — search results are identical (spec-pinned).
    *
    * Precondition and its enforcement are [[StreamingRetrieval
    * .compactIndex]]'s: folded batch ids go into the ledger BEFORE the
    * directory swap, and [[appendBatch]] makes a folded batch's replay
    * the no-op it must be.
    */
  def compactIndex(spark: SparkSession, indexDir: String): Unit = {
    import spark.implicits._
    val coded = s"$indexDir/coded"
    if (!BatchState.hasData(spark, coded)) return
    val ids = spark.read.parquet(coded)
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet.filter(_ != -1L) ++
      BatchState.readFolded(spark, indexDir)
    BatchState.writeFolded(spark, indexDir, ids)
    BatchState.swapIn(spark, coded) { tmp =>
      spark.read.parquet(coded).drop("batch_id")
        .repartition(col("cell")).sortWithinPartitions("cell")
        .withColumn("batch_id", lit(-1L))
        .write.partitionBy("batch_id").mode("overwrite").parquet(tmp)
    }
  }
}
