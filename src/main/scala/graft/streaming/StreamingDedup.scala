package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming extension: exact corpus dedup on a live document
  * stream (`readStream` -> digest -> stateful drop -> `writeStream`).
  *
  * Batch/stream parity: the digest is the SAME md5 content hash the batch
  * path groups on ([[graft.llm.Dedup.exactGroups]]), so a streaming
  * pre-filter composes with a batch compaction — anything the stream let
  * through twice (beyond the watermark horizon) is caught by the batch
  * exact dedup over the sink.
  *
  * Semantics difference, by necessity: batch keeps the MINIMUM id per
  * digest; a stream cannot know the minimum before the group closes, so
  * the streaming operator keeps the FIRST arrival. Canonical-min selection
  * belongs to the batch compaction.
  *
  * Scale: state is one entry per distinct digest seen within the
  * watermark horizon (dropDuplicatesWithinWatermark evicts expired keys).
  * The state key is the 32-char digest, never the document payload, and
  * the shuffle partitioning is the digest hash — the same key the batch
  * dedup shuffles on.
  */
object StreamingDedup {

  /** Deduplicated stream: one row per distinct text content within the
    * `lateness` watermark horizon. `eventTimeCol` must be a timestamp
    * column; late duplicates beyond the horizon pass through (handled by
    * batch compaction — see the object doc).
    */
  def dedupStream(docs: DataFrame, textCol: String, eventTimeCol: String,
                  lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark("content_hash")
}
