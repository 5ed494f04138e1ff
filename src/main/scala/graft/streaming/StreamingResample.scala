package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etd.{Aggregates, Model}

/** Structured Streaming extension: the resample operator (SURVEY §2.4 A8)
  * as a streaming tumbling-window aggregation.
  *
  * The reference is strictly batch (SURVEY §2.10) — "5-minute interval" is
  * the data's sampling rate, not an ingestion mode — so this is an
  * extension, not parity: the same min_count-gated sum/max/avg semantics
  * applied to a live reading stream (`readStream` -> transform ->
  * `writeStream`), with a watermark bounding state for late readings.
  *
  * Batch/stream parity: the aggregate expressions are the SAME
  * [[graft.etd.Aggregates]] gates the batch path uses, and the bucket is
  * the same exact integer-µs floor — a backfill job and the live stream
  * produce identical buckets. Empty-bucket densification is deliberately
  * NOT done here (a stream cannot know a bucket stayed empty until the
  * watermark passes; densify in the batch compaction that reads the sink).
  *
  * Scale: state is one aggregation buffer per (house, bucket) within the
  * watermark horizon; with a 1h lateness bound at 5-min data that is 12
  * buckets per active house — millions of households fit comfortably in
  * executor state stores, and the shuffle is the same hash partitioning
  * the batch groupBy uses.
  */
object StreamingResample {

  /** Gated streaming resample of `variables` (column -> any
    * [[graft.etd.Aggregates.gated]] method, the batch vocabulary) to
    * `interval` buckets per (project, house), with `lateness` watermark
    * on ReadingDate. Input must be a streaming DataFrame with the ETD
    * grain columns.
    */
  def resampleStream(readings: DataFrame,
                     variables: Seq[(String, String)],
                     interval: String,
                     lateness: String = "1 hour"): DataFrame = {
    val groupCols = Seq(Model.ProjectId, Model.HouseId)
    val minCount = lit(Model.interval(interval).minCount)
    val aggs = variables.map { case (v, method) =>
      Aggregates.gated(method, col(v), minCount).as(v)
    }
    readings
      .withWatermark(Model.ReadingDate, lateness)
      .groupBy(
        (groupCols.map(col) :+
          window(col(Model.ReadingDate), Model.interval(interval).duration)
            .as("bucket")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(Model.ReadingDate, col("bucket.start"))
      .drop("bucket")
  }
}
