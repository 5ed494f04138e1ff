package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The expiring maintainers' state law: state rows are bounded by the
  * watermark horizon, not by stream length. Every micro-batch brings a
  * fresh set of keys (new LSH buckets, new houses) at a constant rate, so
  * without eviction the store grows by that set every batch. With it,
  * keys older than TTL + watermark delay evict, and `numRowsTotal` stops
  * growing once the horizon is reached, however long the stream runs.
  */
class StreamingStateBoundSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val keysPerBatch = 40
  private val batches = 6

  /** Feeds `batches` micro-batches into `out`'s source and returns the
    * state operator's `numRowsTotal` after each one. `processAllAvailable`
    * also runs the no-data batch that fires the watermark's timeouts.
    */
  private def stateRows(name: String, out: Dataset[_],
                        addBatch: Int => Unit): Seq[Long] = {
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try (1 to batches).map { b =>
      addBatch(b)
      q.processAllAvailable()
      q.lastProgress.stateOperators(0).numRowsTotal
    } finally q.stop()
  }

  /** Bounded by the horizon and flat from batch `horizon` on. */
  private def assertPlateau(rows: Seq[Long], horizon: Int): Unit = {
    assert(batches >= 2 * horizon)
    val bound = keysPerBatch.toLong * horizon
    assert(rows.forall(_ <= bound), s"state rows exceed $bound: $rows")
    assert(rows.drop(horizon - 1).distinct.size == 1,
      s"state rows still grow after the horizon (batch $horizon): $rows")
  }

  test("expiring near-dup buckets: state rows plateau at the TTL horizon") {
    implicit val sqlCtx = spark.sqlContext
    val hourMs = 3600L * 1000
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val input = MemoryStream[StreamingNearDup.BandedDocTs]
    val pairs = StreamingNearDup.candidatePairsExpiring(
      input.toDS().withWatermark("eventTime", "1 hour")
        .as[StreamingNearDup.BandedDocTs],
      ttlMs = hourMs)
    // batch b: hour b, keysPerBatch new buckets of two docs each
    val rows = stateRows("state_bound_neardup", pairs, b =>
      input.addData((0 until 2 * keysPerBatch).map { i =>
        StreamingNearDup.BandedDocTs(s"$b|k${i / 2}", b * 1000L + i,
          new Timestamp(base + b * hourMs))
      }: _*))
    // a bucket from hour b times out at b + 1h and evicts once the
    // watermark (max event - 1h) passes it: three hours of buckets live
    assertPlateau(rows, horizon = 3)
  }

  test("expiring impute houses: state rows plateau at the TTL horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingImpute.CumReadingAvgTs]
    val diffs = StreamingImpute.imputeStreamScaledExpiring(
      input.toDS().withWatermark("eventTime", "0 seconds")
        .as[StreamingImpute.CumReadingAvgTs],
      ttlMs = 300 * 1000)
    // batch b: slot b (300 s apart); keysPerBatch new houses report, the
    // previous batch's houses report once more (every other one missing a
    // reading, so an open gap sits in state) and then go dark for good
    val rows = stateRows("state_bound_impute", diffs, b => {
      val ts = 1704067200L + b * 300L
      def reading(gen: Int, i: Int, cum: Option[Double]) =
        StreamingImpute.CumReadingAvgTs(gen * 1000L + i, ts, cum, Some(0.5),
          new Timestamp(ts * 1000))
      input.addData((0 until keysPerBatch).flatMap { i =>
        Seq(reading(b, i, Some(1.0))) ++
          (if (b > 1) Seq(reading(b - 1, i, if (i % 2 == 0) None else Some(2.0)))
           else Nil)
      }: _*)
    })
    // a house first seen at slot b is last seen at slot b + 1, times out
    // at slot b + 2 and evicts once the watermark passes it: three
    // batches' houses live
    assertPlateau(rows, horizon = 3)
  }
}
