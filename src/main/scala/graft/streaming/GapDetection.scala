package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap detection over per-house reading streams with
  * `flatMapGroupsWithState` — the arbitrary-stateful counterpart of the
  * batch gap grouping (I3): instead of window functions over a complete
  * frame, state carries each house's last-seen timestamp across
  * micro-batches and a gap record is emitted the moment the stream skips
  * expected 5-minute slots.
  *
  * State per key is one long — millions of households fit trivially in the
  * state store; the shuffle is the same house-hash partitioning the batch
  * impute uses, so a downstream streaming imputer sees co-partitioned
  * input.
  */
object GapDetection {

  case class Reading(huis: Long, tsSec: Long, value: Double)
  case class LastSeen(tsSec: Long)
  case class Gap(huis: Long, fromSec: Long, toSec: Long, missedSlots: Long)

  /** Emit a Gap whenever consecutive readings of a house are more than
    * `stepSec` apart (the reference grain: 300s).
    */
  def detectGaps(readings: Dataset[Reading], stepSec: Long = 300L): Dataset[Gap] = {
    implicit val gapEnc = Encoders.product[Gap]
    implicit val stateEnc = Encoders.product[LastSeen]
    implicit val longEnc = Encoders.scalaLong
    readings
      .groupByKey(_.huis)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (huis: Long, rows: Iterator[Reading], state: GroupState[LastSeen]) =>
          val sorted = rows.toSeq.sortBy(_.tsSec)
          var last = state.getOption.map(_.tsSec)
          val gaps = Seq.newBuilder[Gap]
          sorted.foreach { r =>
            last.foreach { l =>
              // the missed-slot count gates the emission: off-grid
              // timestamps (e.g. l+1.5*step) would otherwise emit an
              // inverted zero-slot gap (fromSec > toSec)
              val missed = (r.tsSec - l) / stepSec - 1
              if (missed >= 1)
                gaps += Gap(huis, l + stepSec, r.tsSec - stepSec, missed)
            }
            last = Some(r.tsSec)
          }
          last.foreach(l => state.update(LastSeen(l)))
          gaps.result().iterator
      }
  }
}
