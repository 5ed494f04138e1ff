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
  * time; one [[BatchState]] log at `<indexDir>/coded`. The codebooks
  * are trained once on a seed corpus and frozen
  * (the standard serving practice; retrain + re-encode is an
  * out-of-band operation when drift warrants it).
  *
  * Search parity: loadIndex + [[graft.llm.Similarity.ivfPqTopKCoded]]
  * equals the batch index built on everything that arrived
  * (StreamingSimilaritySpec pins it across micro-batches).
  */
object StreamingSimilarity {

  /** `foreachBatch` hook: encode one micro-batch of NEW vectors
    * (map-only) and append them replay-exactly to the `coded` log under
    * `indexDir` ([[BatchState.append]]).
    */
  def appendBatch(indexDir: String, idCol: String, vecCol: String,
                  coarse: Array[Array[Float]],
                  codebooks: Array[Array[Array[Float]]])
                 (batch: DataFrame, batchId: Long): Unit =
    BatchState.append(indexDir, batchId, "coded" ->
      Similarity.buildIvfPqIndex(batch, idCol, vecCol, coarse, codebooks))

  /** The searchable index — the log IS the table. */
  def loadIndex(spark: SparkSession, indexDir: String): DataFrame =
    BatchState.read(spark, s"$indexDir/coded")

  /** Fold the coded log into one `batch_id = -1` generation, CELL-
    * clustered (repartition + sort by `cell`; [[BatchState.fold]]) —
    * maintenance-window operation with two payoffs: the file count
    * drops from O(batches × tasks) to O(shuffle partitions) however long
    * the stream has run, and every probed cell's rows land contiguously,
    * so the IVF search's `cell` predicate prunes at row-group min/max
    * granularity instead of scanning every batch's files. Row set is
    * unchanged — search results are identical (spec-pinned).
    */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    BatchState.fold(spark, indexDir,
      ("coded", _.repartition(col("cell")).sortWithinPartitions("cell")))
}
