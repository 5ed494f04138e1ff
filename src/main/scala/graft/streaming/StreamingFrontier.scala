package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.Robots

/** Streaming FRONTIER maintenance — the scheduler half of the crawl
  * loop ([[StreamingCrawl.acceptBatch]] is the intake half): micro-batches of
  * newly DISCOVERED candidate URLs (link extraction, sitemap parses)
  * arrive; each batch drops re-discoveries (within-batch min-id, then
  * an anti join on the PERSISTED url-digest index), passes the robots
  * gate ([[Robots.robotsAllowed]] — zero corpus shuffle), joins host
  * authority, and gains a per-host politeness slot that CONTINUES
  * across batches: the slot base is the host's previously-emitted
  * count from the same index, so the union of all batches equals the
  * one-shot schedule over the union of discoveries whenever batch
  * order respects id order (the `q_crawl_incremental` convention —
  * `q_frontier_incremental` pins it in DuckDB).
  */
object StreamingFrontier {

  /** One micro-batch through the scheduler. Returns (frontier rows —
    * batch columns + `url_hash`/`host`/`host_rank`/`slot` — and the
    * `(url_hash, host)` digest rows to append to the seen index).
    */
  def frontierBatch(batch: DataFrame, idCol: String, urlCol: String,
                    rules: DataFrame, agent: String,
                    authority: DataFrame,
                    seen: DataFrame): (DataFrame, DataFrame) = {
    val fresh = batch
      .withColumn("url_hash", md5(col(urlCol)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("url_hash").orderBy(idCol)))
      .filter(col("__rn") === 1).drop("__rn")
      .join(seen.select("url_hash").distinct(), Seq("url_hash"), "left_anti")
    val allowed = Robots.robotsAllowed(fresh, rules, agent, idCol, urlCol)
      .filter(col("allowed"))
      .drop("allowed", "matched_directive", "matched_pattern", "path")
    // per-host slot base: how many rows this host already got — index
    // grain, broadcast like the authority table
    val base = seen.groupBy(col("host")).agg(count(lit(1)).as("__base"))
    val slotW = Window.partitionBy("host").orderBy(idCol)
    val frontier = allowed
      .join(broadcast(authority), Seq("host"), "left")
      .join(broadcast(base), Seq("host"), "left")
      .withColumn("slot",
        coalesce(col("__base"), lit(0L)) + row_number().over(slotW))
      .withColumn("slot", col("slot").cast("long"))
      .drop("__base")
    (frontier, frontier.select(col("url_hash"), col("host")))
  }
}
