package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.llm.Robots

/** The scheduler's micro-batch unit, driven as a `foreachBatch` body
  * would drive it: a replayed batch screens against the seen index
  * EXCLUDING its own partition and rewrites, never appends beside, a
  * failed attempt.
  */
class StreamingFrontierSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def rules = Robots.parseRobots(Seq(
    ("s.example", "User-agent: *\nDisallow: /private/")).toDF("host", "txt"),
    "host", "txt")

  private def auth = Seq(("s.example", 0.7), ("t.example", 0.3))
    .toDF("host", "host_rank")

  // the seen index as stored — (url_hash, host, batch_id); empty before
  // the first batch
  private def loadSeen(seenDir: String) =
    if (StateDirs.hasData(spark, seenDir)) spark.read.parquet(seenDir)
    else Seq.empty[(String, String, Long)].toDF("url_hash", "host", "batch_id")

  test("a replayed batch rewrites its partitions — sink and seen index " +
      "stay exact (checkpoint-loss replay)") {
    val tmp = graft.TempDirs.dir("frontier_replay").toString
    val (sink, seenDir) = (s"$tmp/sink", s"$tmp/seen")
    val b1 = Seq(1L -> "http://s.example/a", 2L -> "http://t.example/z")
      .toDF("id", "url")
    // simulate the foreachBatch body directly, then replay batch 1
    def run(batchId: Long, batch: org.apache.spark.sql.DataFrame): Unit = {
      val committed = loadSeen(seenDir)
        .filter(col("batch_id") =!= lit(batchId))
        .select("url_hash", "host")
      val (frontier, _) = StreamingFrontier.frontierBatch(batch, "id", "url",
        rules, "graftbot", auth, committed)
      val cut = frontier.withColumn("batch_id", lit(batchId))
        .localCheckpoint(true)
      cut.write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(sink)
      cut.select("url_hash", "host", "batch_id")
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(seenDir)
      graft.Checkpoints.free(cut)
    }
    run(1L, b1)
    val first = spark.read.parquet(sink)
      .select("id", "url", "slot").collect().map(_.toSeq).toSet
    run(1L, b1) // replay: screens against committed EXCLUDING batch 1
    val replayed = spark.read.parquet(sink)
      .select("id", "url", "slot").collect().map(_.toSeq).toSet
    assert(replayed == first, "replay must rewrite, not append or drop")
    assert(spark.read.parquet(seenDir).count() == 2L,
      "seen index must not accumulate duplicate digests on replay")
  }
}
