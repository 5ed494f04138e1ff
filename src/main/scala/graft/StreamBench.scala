package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{StreamingImpute, StreamingNearDup}

/** Streaming state micro-bench: runs the two stateful operators whose
  * bounded-state claims PERFNOTES makes — LSH bucket pairing with TTL
  * ([[StreamingNearDup.candidatePairsExpiring]]) and the per-house impute
  * state machine ([[StreamingImpute.imputeStreamScaled]]) — over
  * MemoryStream micro-batches against the RocksDB state store, printing
  * per-batch `numRowsTotal` / state bytes from StreamingQueryProgress.
  * Bounded state means the rows curve PLATEAUS as the watermark advances
  * (near-dup: only buckets inside the TTL horizon survive; impute: one
  * row per house with a capped pending list) instead of growing with
  * batches — the difference between a pipeline that runs for a year and
  * one that OOMs in week two.
  *
  * Usage: runMain graft.StreamBench   (runs both; ~1 min)
  */
object StreamBench {

  private def progressLine(bench: String, batch: Int, q: StreamingQuery): Unit = {
    val p = q.lastProgress
    if (p != null && p.stateOperators.nonEmpty) {
      val so = p.stateOperators(0)
      val sst = Option(so.customMetrics.get("rocksdbTotalSSTFilesBytes"))
        .map(_.longValue).getOrElse(0L)
      println(s"""{"bench":"$bench","batch":$batch,""" +
        s""""state_rows":${so.numRowsTotal},""" +
        s""""state_mem_bytes":${so.memoryUsedBytes},""" +
        s""""rocksdb_sst_bytes":$sst,""" +
        s""""rows_updated":${so.numRowsUpdated},""" +
        s""""rows_removed":${so.numRowsRemoved}}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val ckptRoot = java.nio.file.Files.createTempDirectory("streambench").toString
    val spark = Harness.session()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // --- near-dup bucket state with TTL ------------------------------
    // 12 hourly batches x 4000 banded rows over 2000 buckets; TTL 2h.
    // Unbounded state would reach 24k bucket rows by batch 12; the TTL
    // horizon holds ~2 hours' worth of buckets.
    {
      val input = MemoryStream[StreamingNearDup.BandedDocTs]
      val banded = input.toDS().withWatermark("eventTime", "1 hour")
        .as[StreamingNearDup.BandedDocTs]
      val pairs = StreamingNearDup.candidatePairsExpiring(banded,
        ttlMs = 2L * 3600 * 1000)
      val q = pairs.writeStream.format("noop")
        .option("checkpointLocation", s"$ckptRoot/neardup")
        .outputMode("append").start()
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      for (b <- 1 to 12) {
        val rows = (0 until 4000).map { i =>
          StreamingNearDup.BandedDocTs(
            bucket = s"${i % 4}|k${b}_${i % 2000}",
            docId = b.toLong * 100000 + i,
            eventTime = new Timestamp(base + b.toLong * 3600 * 1000 + (i % 3600) * 1000))
        }
        input.addData(rows: _*)
        q.processAllAvailable()
        progressLine("neardup_ttl_2h", b, q)
      }
      q.stop()
    }

    // --- per-house impute state machine ------------------------------
    // 12 batches x one 300 s slot for each of 5000 houses; every 5th
    // house alternates 2-slot gaps. State must stay ~5000 rows (one per
    // house, pending list capped), regardless of batch count.
    {
      val input = MemoryStream[StreamingImpute.CumReadingAvg]
      val diffs = StreamingImpute.imputeStreamScaled(input.toDS())
      val q = diffs.writeStream.format("noop")
        .option("checkpointLocation", s"$ckptRoot/impute")
        .outputMode("append").start()
      for (b <- 1 to 12) {
        val ts = 1704067200L + b.toLong * 300
        val rows = (0 until 5000).map { h =>
          val inGap = h % 5 == 0 && (b % 4 == 1 || b % 4 == 2)
          StreamingImpute.CumReadingAvg(h.toLong, ts,
            if (inGap) None else Some(b * 10.0 + h * 0.001),
            Some(0.5))
        }
        input.addData(rows: _*)
        q.processAllAvailable()
        progressLine("impute_5k_houses", b, q)
      }
      q.stop()
    }

    // --- per-house impute with event-time TTL eviction ----------------
    // 5000 houses; after batch 4 half the fleet goes permanently dark
    // (meters die). TTL 600 s: the silent houses' timeouts arm at their
    // last event + 2 slots, the live half drags the watermark forward,
    // and state_rows must FALL from 5000 to ~2500 once the watermark
    // passes the horizon (batch ~7) — the eviction the NoTimeout
    // variant above cannot express (its curve would hold at 5000).
    {
      val input = MemoryStream[StreamingImpute.CumReadingAvgTs]
      val diffs = StreamingImpute.imputeStreamScaledExpiring(
        input.toDS().withWatermark("eventTime", "0 seconds")
          .as[StreamingImpute.CumReadingAvgTs],
        ttlMs = 600 * 1000)
      val q = diffs.writeStream.format("noop")
        .option("checkpointLocation", s"$ckptRoot/impute_expiring")
        .outputMode("append").start()
      for (b <- 1 to 12) {
        val ts = 1704067200L + b.toLong * 300
        val rows = (0 until 5000)
          .filter(h => b <= 4 || h % 2 == 0)
          .map { h =>
            StreamingImpute.CumReadingAvgTs(h.toLong, ts,
              Some(b * 10.0 + h * 0.001), Some(0.5),
              new Timestamp(ts * 1000))
          }
        input.addData(rows: _*)
        q.processAllAvailable()
        progressLine("impute_expiring_half_fleet_dies", b, q)
      }
      q.stop()
    }
    spark.stop()
  }
}
