package graft.streaming

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.llm.{Dedup, Retrieval}

/** In-band fold triggers (VERDICT r15 #6): a long stream with
  * `autoCompactEvery` set must keep its unfolded-partition count
  * bounded WITHOUT any manual compact call, with results bit-identical
  * to the never-folded log — the ledger machinery already guarantees
  * replay safety, this pins that the trigger actually fires and that
  * firing changes nothing observable.
  */
class AutoCompactSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("StreamingRetrieval auto-folds every N batches; search unchanged") {
    val indexDir = java.nio.file.Files.createTempDirectory("bm25auto").toString
    val every = 3
    val batches = (0L until 8L).map { b =>
      (b, (0 until 4).map(i => (b * 10 + i, s"word${(b + i) % 5} word${i % 3} tail$i")))
    }
    batches.foreach { case (id, rows) =>
      StreamingRetrieval.appendBatch(indexDir, "doc_id", "text",
        autoCompactEvery = every)(rows.toDF("doc_id", "text"), id)
      assert(BatchState.unfoldedBatches(spark, s"$indexDir/stats") < every,
        s"after batch $id the unfolded count must stay below the trigger")
    }
    // every batch that completed a full trigger window is ledgered
    assert(BatchState.readFolded(spark, indexDir) == (0L until 6L).toSet)
    val all = batches.flatMap(_._2).toDF("doc_id", "text")
    val queries = all.filter($"doc_id" < 2)
    val expected = Retrieval.bm25TopK(all, "doc_id", "text",
      queries, "doc_id", "text", k = 5).orderBy("query_id", "rank").collect().toSeq
    val (p, t, s) = StreamingRetrieval.loadIndex(spark, indexDir)
    assert(Retrieval.searchPostingsNorm(p, t, s, queries, "doc_id", "text",
      k = 5).orderBy("query_id", "rank").collect().toSeq == expected)
  }

  test("StreamingLm auto-folds; model unchanged; replay-after-autofold no-op") {
    val countsDir =
      java.nio.file.Files.createTempDirectory("lmauto").toString + "/log"
    val batches = (0L until 6L).map { b =>
      (b, Seq((b, s"the cat ${b % 3} sat on mat $b")))
    }
    batches.foreach { case (id, rows) =>
      StreamingLm.appendBatch(countsDir, "doc_id", "text",
        autoCompactEvery = 2)(rows.toDF("doc_id", "text"), id)
      assert(BatchState.unfoldedBatches(spark, countsDir) < 2)
    }
    val expected = graft.llm.NgramLm
      .trigramCounts(batches.flatMap(_._2).toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("u", "v", "w").collect().toSeq
    def folded() = StreamingLm.loadCounts(spark, countsDir)
      .orderBy("u", "v", "w").collect().toSeq
    assert(folded() == expected)
    // a checkpoint-loss replay of an auto-folded batch must not double
    StreamingLm.appendBatch(countsDir, "doc_id", "text")(
      batches(1)._2.toDF("doc_id", "text"), 1L)
    assert(folded() == expected)
  }
}
