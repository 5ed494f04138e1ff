package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.etd.Impute.round10
import graft.etd.Model.ImputeType

/** Streaming imputation of cumulative-meter gaps — the arbitrary-stateful
  * twin of the batch cascade's known-gap-jump branches (I7,
  * /root/reference/etdtransform/vectorized_impute.py:630-756, re-expressed
  * over per-house state instead of window functions).
  *
  * Semantics: readings arrive on the 5-minute ETD grain with a
  * possibly-null cumulative value (null = the meter didn't report — the
  * NA gap the batch pipeline imputes). A gap CLOSES when the next
  * non-null cumulative arrives; at that moment the gap jump
  * (end - previous cumulative) is known and every row of the gap —
  * including the closing row, whose lag-diff is equally unknowable,
  * exactly as in the batch diff definition — is emitted with the
  * cascade's fill:
  *   - jump < 0      -> 0.0, NEGATIVE_GAP_JUMP
  *   - jump ~ 0      -> 0.0, NEAR_ZERO_GAP_JUMP
  *   - jump >= 1e-8  -> round(jump / gapLength, 10), LINEAR_FILL
  * Rows before a house's first observed cumulative have no defined diff
  * and are emitted unimputed (the batch no-start branch leaves them NA
  * too). The avg-diff-scaled branches (SCALED_FILL etc.) need the
  * corpus-wide average table — a batch artifact; a production topology
  * broadcasts yesterday's averages as a static join upstream and this
  * operator stays unchanged.
  *
  * Open gaps (stream tail) are NOT imputed — a stream cannot know the
  * jump until the gap closes; the batch backfill owns the tail, and
  * because both paths share the same fill arithmetic the hand-off is
  * seamless (StreamingImputeSpec pins streaming == batch on closed gaps).
  *
  * Scale: state per house is one (timestamp, cumulative) pair plus the
  * open gap's timestamps, and the open gap is CAPPED at `maxGapLength`
  * slots: a permanently dark meter (dead/decommissioned) flushes its
  * over-long gap as unimputed rows and resets to the no-prior-observation
  * state — so the PER-HOUSE payload is bounded even in the NoTimeout
  * entry points. The NUMBER of house rows still grows with every house
  * ever seen; [[imputeStreamScaledExpiring]] adds event-time TTL
  * eviction so dead meters age out entirely — the long-running fleet
  * shape. A post-cap (or post-eviction) resume is treated as a meter
  * restart: the batch cascade would give such a gap the avg-based
  * no-end treatment, which is the batch backfill's job.
  *
  * Ordering: rows are processed in timestamp order within a micro-batch;
  * a row at or before the house's last processed timestamp is late beyond
  * the upstream watermark and is dropped (counted nowhere — feed the
  * stream through a watermark that matches the batch backfill horizon).
  */
object StreamingImpute {

  /** One meter reading; `cum` null while the meter is dark. */
  case class CumReading(huis: Long, tsSec: Long, cum: Option[Double])

  /** Emitted diff row; `imputeType` is the batch bit-flag, null when the
    * value is observed (or unknowable: pre-first-observation rows).
    */
  case class ImputedDiff(huis: Long, tsSec: Long, diff: Option[Double],
                         imputeType: Option[Int], isImputed: Boolean)

  def imputeStream(readings: Dataset[CumReading],
                   maxGapLength: Int = 8640): Dataset[ImputedDiff] = {
    // With no averages, the scaled cascade degenerates EXACTLY to the
    // simple one: every iv is 0, so imputeJump < 1e-8 and closed gaps
    // take the negative / near-zero / linear branches with identical
    // fills, caps, and no-start handling. One state machine to maintain
    // instead of two copies that could drift (StreamingImputeSpec pins
    // streaming == batch on both entry points).
    implicit val avgEnc = Encoders.product[CumReadingAvg]
    imputeStreamScaled(
      readings.map(r => CumReadingAvg(r.huis, r.tsSec, r.cum, None)),
      maxGapLength)
  }

  /** One meter reading carrying its per-(project, slot) average diff —
    * the static-join enrichment a production topology applies upstream
    * (broadcast yesterday's avg-diffs table onto the stream; J4 as a
    * stream-static join). `avg` null where the table has no value, like
    * the batch `<diff>_avg` column.
    */
  case class CumReadingAvg(huis: Long, tsSec: Long, cum: Option[Double],
                           avg: Option[Double])

  /** An open-gap slot with its impute value (coalesce(avg, 0) — the batch
    * `impute_values`).
    */
  case class PendingSlot(tsSec: Long, iv: Double)

  /** Per-house state: last processed slot, last OBSERVED cumulative, and
    * the open gap's slots (newest first). `pendingLen` tracks the list
    * length so the per-row dead-meter cap check is O(1) — a List.size
    * walk made each dark slot O(gap), i.e. O(gap^2) per gap.
    *
    * NOTE: the pendingLen addition (and the single-state-machine
    * refactor) changed the state ENCODER SCHEMA — a query restarted from
    * a checkpoint written by an earlier build fails Spark's state-schema
    * compatibility check; start it with a fresh checkpoint directory
    * (state loss = at most the open gaps).
    */
  case class HouseStateScaled(lastTs: Long, lastCum: Option[Double],
                              pending: List[PendingSlot], pendingLen: Int = 0)

  /** Scaled streaming imputation — the full known-jump cascade including
    * SCALED_FILL (I7's avg-proportional branch): with the average-diff
    * table joined onto the stream upstream, a closed gap distributes its
    * jump proportionally to each slot's average
    * (`iv * jump / impute_jump`, vectorized_impute.py:630-686) and falls
    * back to LINEAR_FILL when the gap's averages sum to ~zero. Fill
    * arithmetic mirrors the batch cascade expression-for-expression
    * (impute_jump accumulates in slot order; the jump/impute_jump
    * quotient is computed once per gap), so closed-gap output is
    * bit-identical to the batch path — StreamingImputeSpec pins it.
    * State is capped exactly like [[imputeStream]].
    */
  /** The per-house state transition both entry points share: fold the
    * micro-batch's (time-sorted) rows of one house through the cascade,
    * appending emissions to `out`, returning the new state.
    */
  private def advanceHouse(huis: Long, sorted: Seq[CumReadingAvg],
                           st0: HouseStateScaled, maxGapLength: Int,
                           out: scala.collection.mutable.Builder[
                             ImputedDiff, Seq[ImputedDiff]]): HouseStateScaled = {
    var st = st0
    sorted.foreach { r =>
      if (r.tsSec > st.lastTs) r.cum match {
        case None =>
          st = st.copy(lastTs = r.tsSec,
            pending = PendingSlot(r.tsSec, r.avg.getOrElse(0.0)) :: st.pending,
            pendingLen = st.pendingLen + 1)
          if (st.pendingLen >= maxGapLength) {
            st.pending.reverse.foreach(p =>
              out += ImputedDiff(huis, p.tsSec, None, None, isImputed = false))
            st = HouseStateScaled(r.tsSec, None, Nil, 0)
          }
        case Some(c) =>
          st.lastCum match {
            case None =>
              st.pending.reverse.foreach(p =>
                out += ImputedDiff(huis, p.tsSec, None, None, isImputed = false))
              out += ImputedDiff(huis, r.tsSec, None, None, isImputed = false)
            case Some(prev) =>
              val jump = c - prev
              if (st.pending.isEmpty) {
                out += ImputedDiff(huis, r.tsSec, Some(jump), None,
                  isImputed = false)
              } else {
                // gap slots in time order; the closing row belongs
                // to the gap too (its lag-diff is equally unknown)
                val slots = st.pending.reverse :+
                  PendingSlot(r.tsSec, r.avg.getOrElse(0.0))
                val n = slots.size
                val imputeJump = slots.foldLeft(0.0)(_ + _.iv)
                if (jump < 0)
                  slots.foreach(p => out += ImputedDiff(huis, p.tsSec,
                    Some(0.0), Some(ImputeType.NegativeGapJump), isImputed = true))
                else if (jump < 1e-8)
                  slots.foreach(p => out += ImputedDiff(huis, p.tsSec,
                    Some(0.0), Some(ImputeType.NearZeroGapJump), isImputed = true))
                else if (imputeJump < 1e-8) {
                  val fill = round10(jump / n)
                  slots.foreach(p => out += ImputedDiff(huis, p.tsSec,
                    Some(fill), Some(ImputeType.LinearFill), isImputed = true))
                } else {
                  val q = jump / imputeJump
                  slots.foreach(p => out += ImputedDiff(huis, p.tsSec,
                    Some(round10(p.iv * q)), Some(ImputeType.ScaledFill),
                    isImputed = true))
                }
              }
          }
          st = HouseStateScaled(r.tsSec, Some(c), Nil, 0)
      }
    }
    st
  }

  def imputeStreamScaled(readings: Dataset[CumReadingAvg],
                         maxGapLength: Int = 8640): Dataset[ImputedDiff] = {
    implicit val outEnc = Encoders.product[ImputedDiff]
    implicit val stateEnc = Encoders.product[HouseStateScaled]
    implicit val keyEnc = Encoders.scalaLong
    readings
      .groupByKey(_.huis)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (huis: Long, rows: Iterator[CumReadingAvg],
         state: GroupState[HouseStateScaled]) =>
          val out = Seq.newBuilder[ImputedDiff]
          val st = advanceHouse(huis, rows.toSeq.sortBy(_.tsSec),
            state.getOption.getOrElse(
              HouseStateScaled(Long.MinValue, None, Nil, 0)),
            maxGapLength, out)
          if (st.lastTs > Long.MinValue) state.update(st)
          out.result().iterator
      }
  }

  /** A reading carrying its event time (for TTL state eviction). */
  case class CumReadingAvgTs(huis: Long, tsSec: Long, cum: Option[Double],
                             avg: Option[Double],
                             eventTime: java.sql.Timestamp)

  /** [[imputeStreamScaled]] with EVENT-TIME state eviction — the
    * long-running fleet shape ([[StreamingNearDup.candidatePairsExpiring]]
    * pattern): without it, a churning fleet accrues one state row per
    * house EVER seen, dead meters included. Each house arms a timeout
    * `ttl` past its newest reading; when the watermark passes it, the
    * house's open gap — which can no longer close in-stream, because
    * no reading older than the watermark will be admitted — flushes as
    * unimputed rows (the batch backfill owns them, exactly like the
    * maxGapLength cap flush) and the state row evicts. A meter that
    * resumes after eviction restarts from the no-prior-observation
    * state, same as a post-cap resume. The input MUST carry a watermark
    * on `eventTime`.
    */
  def imputeStreamScaledExpiring(readings: Dataset[CumReadingAvgTs],
                                 ttlMs: Long = 24L * 3600 * 1000)
      : Dataset[ImputedDiff] = {
    val maxGapLength = 8640 // the other streams' default cap
    implicit val outEnc = Encoders.product[ImputedDiff]
    implicit val stateEnc = Encoders.product[HouseStateScaled]
    implicit val keyEnc = Encoders.scalaLong
    readings
      .groupByKey(_.huis)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (huis: Long, rows: Iterator[CumReadingAvgTs],
         state: GroupState[HouseStateScaled]) =>
          if (state.hasTimedOut) {
            val out = Seq.newBuilder[ImputedDiff]
            state.getOption.foreach(_.pending.reverse.foreach(p =>
              out += ImputedDiff(huis, p.tsSec, None, None, isImputed = false)))
            state.remove()
            out.result().iterator
          } else {
            val sorted = rows.toSeq.sortBy(_.tsSec)
            val out = Seq.newBuilder[ImputedDiff]
            val st = advanceHouse(huis,
              sorted.map(r => CumReadingAvg(r.huis, r.tsSec, r.cum, r.avg)),
              state.getOption.getOrElse(
                HouseStateScaled(Long.MinValue, None, Nil, 0)),
              maxGapLength, out)
            if (st.lastTs > Long.MinValue) {
              state.update(st)
              // a batch of all-late rows could compute a target at or
              // below the watermark, which setTimeoutTimestamp rejects
              val maxEventMs = sorted.map(_.eventTime.getTime).max
              state.setTimeoutTimestamp(math.max(maxEventMs + ttlMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }
}
