package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.etd.{Model, Resample}

/** Streaming resample semantics via MemoryStream micro-batches: the gated
  * aggregates match the batch path once the watermark closes a bucket.
  */
class StreamingResampleSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("streaming resample gates buckets and matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp, Double)]
    val readings = input.toDF()
      .toDF(Model.ProjectId, Model.HouseId, Model.ReadingDate, "v")

    val resampled = StreamingResample.resampleStream(
      readings, Seq("v" -> "sum"), "15min", lateness = "0 seconds")

    val query = resampled.writeStream
      .format("memory")
      .queryName("resampled_test")
      .outputMode("append")
      .start()

    def ts(min: Int, sec: Int = 0) =
      Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

    // bucket [00:00, 00:15): 3 readings -> passes min_count 3
    input.addData((1L, 1L, ts(0), 1.0), (1L, 1L, ts(5), 2.0), (1L, 1L, ts(10), 3.0))
    // bucket [00:15, 00:30): 2 readings -> below min_count 3 -> null sum
    input.addData((1L, 1L, ts(16), 4.0), (1L, 1L, ts(20), 5.0))
    // advance the watermark past both buckets so they emit
    input.addData((1L, 1L, ts(45), 0.0))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("resampled_test")
      .select(col(Model.ReadingDate).cast("long").as("b"), col("v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val base = ts(0).getTime / 1000
    assert(out(base).contains(6.0), "full bucket passes the gate with its sum")
    assert(out(base + 900).isEmpty, "2-reading bucket is gated to null")
  }

  test("decimal-stable methods: stream == batch Resample.resample on occupied buckets") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp, Double, Double)]
    val cols = Seq(Model.ProjectId, Model.HouseId, Model.ReadingDate, "v", "w")
    val variables = Seq("v" -> "sum_stable", "w" -> "avg_stable")

    val query = StreamingResample.resampleStream(
        input.toDF().toDF(cols: _*), variables, "15min",
        lateness = "0 seconds")
      .writeStream
      .format("memory")
      .queryName("resampled_stable_test")
      .outputMode("append")
      .start()

    def ts(min: Int) =
      Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    // two houses; house 1 fills [00:00, 00:15) and under-fills
    // [00:15, 00:30) (gated to null); house 2 skips a bucket, which the
    // batch side densifies and the stream does not emit
    val rows = Seq(
      (1L, 1L, ts(0), 0.1, 1.5), (1L, 1L, ts(5), 0.2, 2.25),
      (1L, 1L, ts(10), 0.7, 3.0), (1L, 1L, ts(16), 4.0, 1.0),
      (1L, 1L, ts(20), 5.0, 2.0),
      (1L, 2L, ts(0), 1.1, 0.3), (1L, 2L, ts(5), 2.2, 0.6),
      (1L, 2L, ts(10), 3.3, 0.9), (1L, 2L, ts(30), 0.4, 7.0),
      (1L, 2L, ts(35), 0.5, 8.0), (1L, 2L, ts(40), 0.6, 9.5))
    input.addData(rows: _*)
    // advance the watermark past every bucket so they all emit
    input.addData((1L, 1L, ts(120), 0.0, 0.0))
    query.processAllAvailable()
    query.stop()

    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col(Model.HouseId), col(Model.ReadingDate).cast("long"),
          col("v"), col("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (Option(r.get(2)), Option(r.get(3)))).toMap
    val stream = keyed(spark.table("resampled_stable_test"))
      .filter { case ((_, b), _) => b < ts(120).getTime / 1000 }
    val batch = keyed(Resample.resample(rows.toDF(cols: _*), variables, "15min"))
    assert(stream.size == 4, s"occupied buckets: ${stream.keys}")
    stream.foreach { case (k, v) =>
      assert(batch.get(k).contains(v), s"bucket $k: stream $v vs batch ${batch.get(k)}")
    }
    val base = ts(0).getTime / 1000
    assert(stream((1L, base)) == (Some(1.0), Some(2.25)))
    assert(stream((1L, base + 900)) == (None, None), "under-filled bucket is gated")
  }
}
