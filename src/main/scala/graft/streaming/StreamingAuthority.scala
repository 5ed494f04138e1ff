package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.UrlFunctions

/** Structured Streaming maintenance of the crawl HOST GRAPH and its
  * authority signal — the piece that makes PageRank/HITS LIVE signals
  * instead of batch afterthoughts: pages stream in, the host-edge
  * grain accumulates as log-structured deltas, and rank refreshes
  * WARM-START from the previous vector instead of re-converging from
  * uniform over the whole archive.
  *
  * Log design (the [[StreamingRetrieval]] contract, single-log form):
  * each micro-batch appends its own host-edge COUNTS — link
  * extraction + hosting is map work, the per-batch aggregation is
  * batch-grain — under `batch_id=<N>` dynamic partition overwrite, so
  * an at-least-once retry rewrites rather than duplicates; a batch
  * the `_folded_batches` ledger marks folded replays as a no-op;
  * [[compactEdges]] sum-merges everything into one `batch_id = -1`
  * generation bounded at O(shuffle partitions) files. Edge deltas are
  * ADDITIVE (counts sum), so fold order cannot matter.
  *
  * Authority refresh over [[loadEdges]]: [[refreshRanks]] is
  * warm-start damped PageRank ([[graft.ops.PageRank.pageRankFrom]])
  * over the DISTINCT edge set from the previous rank table — the
  * per-batch serving cadence (a few rounds re-converge after
  * incremental graph change; PageRankSpec pins warm beats cold at
  * equal budget).
  */
object StreamingAuthority {

  /** `foreachBatch` hook: extract links from one micro-batch of
    * (pageUrl, html) rows, reduce to the (src_host, dst_host, n) edge
    * grain, and append it replay-exactly to `graphDir/edges`.
    */
  def appendBatch(graphDir: String, urlCol: String, htmlCol: String)
                 (batch: DataFrame, batchId: Long): Unit = {
    BatchState.recoverSwap(batch.sparkSession, s"$graphDir/edges")
    if (BatchState.readFolded(batch.sparkSession, graphDir)
        .contains(batchId)) return
    batch
      .select(col(urlCol).as("__u"),
        explode(UrlFunctions.extractLinks(col(urlCol), col(htmlCol)))
          .as("__l"))
      .select(UrlFunctions.urlHost(col("__u")).as("src_host"),
        UrlFunctions.urlHost(col("__l")).as("dst_host"))
      .filter(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n"))
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$graphDir/edges")
  }

  /** The accumulated host graph: (src_host, dst_host, n) with deltas
    * summed across batches — identical to the one-shot edge build over
    * the union of everything appended (counts are additive).
    */
  def loadEdges(spark: SparkSession, graphDir: String): DataFrame = {
    BatchState.recoverSwap(spark, s"$graphDir/edges")
    spark.read.parquet(s"$graphDir/edges").drop("batch_id")
      .groupBy("src_host", "dst_host")
      .agg(sum(col("n")).as("n"))
  }

  /** Warm-start authority refresh: damped PageRank over the DISTINCT
    * current edge set, resumed from `prevRanks` (id, rank) — new hosts
    * enter at 1/N, carried mass renormalizes (the
    * [[graft.ops.PageRank.pageRankFrom]] contract).
    */
  def refreshRanks(spark: SparkSession, graphDir: String,
                   prevRanks: DataFrame, iterations: Int): DataFrame =
    graft.ops.PageRank.pageRankFrom(
      loadEdges(spark, graphDir)
        .select(col("src_host").as("src"), col("dst_host").as("dst")),
      prevRanks, iterations)

  /** Collapse the edge log to one sum-merged `batch_id = -1`
    * generation — deltas are additive, so the fold is the same
    * aggregation [[loadEdges]] runs, materialized. Ledger before swap
    * (the [[StreamingRetrieval.compactIndex]] ordering); single log ⇒
    * every present batch id is complete.
    */
  def compactEdges(spark: SparkSession, graphDir: String): Unit = {
    import spark.implicits._
    // finish a compaction that crashed between retire and promote
    // BEFORE reading the log — an out-of-band fold must self-repair
    // like the append/load paths do (review finding r17)
    BatchState.recoverSwap(spark, s"$graphDir/edges")
    val ids = spark.read.parquet(s"$graphDir/edges")
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet.filter(_ != -1L)
    if (ids.isEmpty) return
    BatchState.writeFolded(spark, graphDir,
      ids ++ BatchState.readFolded(spark, graphDir))
    BatchState.swapIn(spark, s"$graphDir/edges") { tmp =>
      spark.read.parquet(s"$graphDir/edges").drop("batch_id")
        .groupBy("src_host", "dst_host")
        .agg(sum(col("n")).as("n"))
        .withColumn("batch_id", lit(-1L))
        .write.partitionBy("batch_id").mode("overwrite").parquet(tmp)
    }
  }
}
