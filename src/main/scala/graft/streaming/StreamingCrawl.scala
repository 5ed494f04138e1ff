package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextFunctions}

/** Crawl intake, one micro-batch at a time — the chain a
  * continuously-arriving crawl runs per batch (HTML main-content
  * extraction → minimum-content gate → exact dedup against EVERYTHING
  * already accepted). The chain is the BATCH operators verbatim
  * ([[TextFunctions.htmlMainText]], [[Dedup.exactDedupAgainst]] over
  * [[Dedup.digestIndex]]), so stream == batch agreement is by
  * construction; `q_crawl_incremental` pins two chained batches in
  * DuckDB.
  */
object StreamingCrawl {

  /** One micro-batch through the intake chain: extract main content
    * from `htmlCol`, gate on at least 5 whitespace tokens, drop
    * everything whose digest is in `index` (plus within-batch min-id
    * dedup). Returns (accepted rows incl. `main`/`n_tokens`, their
    * digest rows to append to the index). Pure batch operators — also
    * the replay path for backfills and the `q_crawl_incremental`
    * oracle's unit.
    */
  def acceptBatch(batch: DataFrame, idCol: String, htmlCol: String,
                  index: DataFrame): (DataFrame, DataFrame) = {
    val extracted = batch
      .withColumn("main", TextFunctions.htmlMainText(col(htmlCol)))
      .drop(htmlCol)
      .withColumn("n_tokens",
        size(TextFunctions.tokens(col("main"))).cast("long"))
      .filter(col("n_tokens") >= 5)
    val accepted = Dedup.exactDedupAgainst(extracted, idCol, "main", index)
    (accepted, Dedup.digestIndex(accepted, "main"))
  }
}
