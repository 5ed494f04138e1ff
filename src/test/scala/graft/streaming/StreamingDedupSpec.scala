package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Streaming exact dedup across micro-batches: duplicates within the
  * watermark horizon are dropped regardless of which batch they arrive in;
  * the first arrival survives.
  */
class StreamingDedupSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("duplicate texts are dropped across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val docs = input.toDF().toDF("id", "text", "ts")

    val deduped = StreamingDedup.dedupStream(docs, "text", "ts",
      lateness = "10 minutes")

    val query = deduped.writeStream
      .format("memory")
      .queryName("dedup_test")
      .outputMode("append")
      .start()

    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

    input.addData((1L, "alpha", ts(0)), (2L, "beta", ts(1)))
    query.processAllAvailable()
    // same content arriving in a LATER batch, within the horizon
    input.addData((3L, "alpha", ts(2)), (4L, "gamma", ts(3)))
    query.processAllAvailable()
    query.stop()

    val ids = spark.table("dedup_test").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L), "first arrival survives; cross-batch dup dropped")
  }
}
