package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-level corpus operations. */
object Snapshots {

  /** CORPUS VERSION DIFF: one row per id present in either version —
    * `added` (id only in new), `removed` (only in old), `changed`
    * (both, content digest differs), `unchanged`. The dataset-
    * versioning primitive an acceptance pipeline reports with: what a
    * re-crawl/re-extraction actually did, id by id, without ever
    * joining document payloads (both sides reduce to a 16 B/doc md5 at
    * the scan — the [[Dedup.digestIndex]] discipline — so the
    * full-outer join shuffles ids and digests only). A null text
    * digests to a reserved non-hex sentinel, so null-vs-null compares
    * `unchanged` and null-vs-text compares `changed` instead of
    * null-poisoning the equality.
    */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    def digests(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).as("id"),
        coalesce(md5(col(textCol)), lit("__NULL_TEXT__")).as(out))
    digests(oldCorpus, "__od").join(digests(newCorpus, "__nd"),
        Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__od").isNull, lit("added"))
          .when(col("__nd").isNull, lit("removed"))
          .when(col("__od") === col("__nd"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
