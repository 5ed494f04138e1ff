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
  * Log design: one [[BatchState]] log, `<graphDir>/edges`. Each
  * micro-batch appends its own host-edge COUNTS — link extraction +
  * hosting is map work, the per-batch aggregation is batch-grain — and
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
    * grain, and append it replay-exactly to the `edges` log under
    * `graphDir` ([[BatchState.append]]).
    */
  def appendBatch(graphDir: String, urlCol: String, htmlCol: String)
                 (batch: DataFrame, batchId: Long): Unit =
    BatchState.append(graphDir, batchId, "edges" -> batch
      .select(col(urlCol).as("__u"),
        explode(UrlFunctions.extractLinks(col(urlCol), col(htmlCol)))
          .as("__l"))
      .select(UrlFunctions.urlHost(col("__u")).as("src_host"),
        UrlFunctions.urlHost(col("__l")).as("dst_host"))
      .filter(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n")))

  /** The accumulated host graph: (src_host, dst_host, n) with deltas
    * summed across batches — identical to the one-shot edge build over
    * the union of everything appended (counts are additive).
    */
  def loadEdges(spark: SparkSession, graphDir: String): DataFrame =
    sumEdges(BatchState.read(spark, s"$graphDir/edges"))

  private def sumEdges(edges: DataFrame): DataFrame =
    edges.groupBy("src_host", "dst_host").agg(sum(col("n")).as("n"))

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
    * generation ([[BatchState.fold]]) — deltas are additive, so the fold
    * is the same aggregation [[loadEdges]] runs, materialized.
    */
  def compactEdges(spark: SparkSession, graphDir: String): Unit =
    BatchState.fold(spark, graphDir, ("edges", sumEdges))
}
