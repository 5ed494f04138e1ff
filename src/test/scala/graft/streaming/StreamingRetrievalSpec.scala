package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.llm.Retrieval

/** Streaming BM25 index maintenance: micro-batch appends to the
  * log-structured normalized index, then load + search equals the
  * one-call batch build over everything that arrived.
  */
class StreamingRetrievalSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("3 micro-batches of appends; load+search == batch build; compaction preserves it") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir = graft.TempDirs.dir("bm25stream").toString
    val ckpt = graft.TempDirs.dir("bm25ckpt").toString

    val rnd = new scala.util.Random(5)
    val words = Vector("apple", "banana", "cherry", "date", "fig", "grape")
    def doc(len: Int) = (0 until len).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val batches = Seq(
      (0L until 20L).map(i => (i, doc(3 + rnd.nextInt(8)))),
      (20L until 40L).map(i => (i, doc(3 + rnd.nextInt(8)))),
      (40L until 60L).map(i => (i, doc(3 + rnd.nextInt(8)))))

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = StreamingRetrieval.maintainIndex(docs, "doc_id", "text",
      indexDir, ckpt).start()
    batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    query.stop()

    val all = batches.flatten.toDF("doc_id", "text")
    val queries = all.filter($"doc_id" < 3)
    val expected = Retrieval.bm25TopK(all, "doc_id", "text",
      queries, "doc_id", "text", k = 5).orderBy("query_id", "rank").collect().toSeq

    val (p, t, s) = StreamingRetrieval.loadIndex(spark, indexDir)
    val got = Retrieval.searchPostingsNorm(p, t, s,
      queries, "doc_id", "text", k = 5).orderBy("query_id", "rank").collect().toSeq
    assert(got == expected)

    // the df/stats logs hold one delta per batch before compaction
    assert(spark.read.parquet(s"$indexDir/stats").count() == 3)
    StreamingRetrieval.compactIndex(spark, indexDir)
    assert(spark.read.parquet(s"$indexDir/stats").count() == 1)
    // the postings log folds too: one term-clustered -1 generation
    assert(spark.read.parquet(s"$indexDir/postings")
        .select(col("batch_id").cast("long")).distinct()
        .as[Long].collect().toSet == Set(-1L))
    val (p2, t2, s2) = StreamingRetrieval.loadIndex(spark, indexDir)
    val gotCompacted = Retrieval.searchPostingsNorm(p2, t2, s2,
      queries, "doc_id", "text", k = 5).orderBy("query_id", "rank").collect().toSeq
    assert(gotCompacted == expected)

    // appends keep working after a compaction, and the union keeps
    // equaling the one-call batch build
    val late = (60L until 70L).map(i => (i, doc(3 + rnd.nextInt(8))))
    StreamingRetrieval.appendBatch(indexDir, "doc_id", "text")(
      late.toDF("doc_id", "text"), 3L)
    val allLate = (batches.flatten ++ late).toDF("doc_id", "text")
    val expectedLate = Retrieval.bm25TopK(allLate, "doc_id", "text",
      queries, "doc_id", "text", k = 5).orderBy("query_id", "rank").collect().toSeq
    val (p3, t3, s3) = StreamingRetrieval.loadIndex(spark, indexDir)
    assert(Retrieval.searchPostingsNorm(p3, t3, s3, queries, "doc_id", "text",
      k = 5).orderBy("query_id", "rank").collect().toSeq == expectedLate)
  }

  test("appendBatch is replay-exact; a folded batch's replay is a no-op") {
    val indexDir = graft.TempDirs.dir("bm25append").toString
    def postIds() = spark.read.parquet(s"$indexDir/postings")
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet
    val b0 = Seq((1L, "apple banana")).toDF("doc_id", "text")
    StreamingRetrieval.appendBatch(indexDir, "doc_id", "text")(b0, 7L)
    StreamingRetrieval.appendBatch(indexDir, "doc_id", "text")(b0, 7L) // retry
    assert(postIds() == Set(7L))
    assert(spark.read.parquet(s"$indexDir/postings").count() == 2,
      "a retried batch rewrites its partition, never appends next to it")
    assert(spark.read.parquet(s"$indexDir/stats").count() == 1)

    StreamingRetrieval.compactIndex(spark, indexDir)
    assert(BatchState.readFolded(spark, indexDir) == Set(7L))
    // replay-after-fold: batch 7's rows live under -1 now; the ledger
    // makes the replay a no-op instead of a double-append
    StreamingRetrieval.appendBatch(indexDir, "doc_id", "text")(b0, 7L)
    assert(postIds() == Set(-1L))
    assert(spark.read.parquet(s"$indexDir/postings").count() == 2)
    assert(spark.read.parquet(s"$indexDir/stats").count() == 1)
  }

  test("compaction never folds a partially-appended batch (ADVICE r15)") {
    import org.apache.spark.sql.functions.lit
    val indexDir = graft.TempDirs.dir("bm25partial").toString
    def ids(sub: String) = spark.read.parquet(s"$indexDir/$sub")
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet

    val b0 = Seq((1L, "apple banana"), (2L, "banana fig")).toDF("doc_id", "text")
    val b1 = Seq((3L, "cherry fig date")).toDF("doc_id", "text")
    StreamingRetrieval.appendBatch(indexDir, "doc_id", "text")(b0, 0L)

    // simulate a crash between the termdf and stats writes of batch 1:
    // its id reaches postings and termdf but never stats
    val (post1, termDf1, _) = Retrieval.buildPostingsNorm(b1, "doc_id", "text")
    Seq(("postings", post1), ("termdf", termDf1)).foreach { case (sub, df) =>
      df.withColumn("batch_id", lit(1L))
        .write.partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$indexDir/$sub")
    }

    StreamingRetrieval.compactIndex(spark, indexDir)
    // batch 0 folded; batch 1 neither ledgered (its repairing replay
    // must still run) nor folded (its prefix rows stay under their own
    // partition, the replay unit)
    assert(BatchState.readFolded(spark, indexDir) == Set(0L))
    assert(ids("postings") == Set(-1L, 1L))
    assert(ids("termdf") == Set(-1L, 1L))
    assert(ids("stats") == Set(-1L))

    // the replay repairs batch 1 in place, the next compaction folds
    // it, and search equals the one-call batch build over everything
    StreamingRetrieval.appendBatch(indexDir, "doc_id", "text")(b1, 1L)
    StreamingRetrieval.compactIndex(spark, indexDir)
    assert(BatchState.readFolded(spark, indexDir) == Set(0L, 1L))
    assert(Seq("postings", "termdf", "stats").forall(ids(_) == Set(-1L)))
    val all = Seq((1L, "apple banana"), (2L, "banana fig"),
      (3L, "cherry fig date")).toDF("doc_id", "text")
    val queries = all.filter($"doc_id" === 1L)
    val expected = Retrieval.bm25TopK(all, "doc_id", "text",
      queries, "doc_id", "text", k = 3).orderBy("query_id", "rank").collect().toSeq
    val (p, t, s) = StreamingRetrieval.loadIndex(spark, indexDir)
    assert(Retrieval.searchPostingsNorm(p, t, s, queries, "doc_id", "text",
      k = 3).orderBy("query_id", "rank").collect().toSeq == expected)
  }

  test("a fold that crashed between retire and promote: the next " +
      "compaction promotes the candidate, folds, and keeps the ledger") {
    val indexDir = graft.TempDirs.dir("bm25crash").toString
    val batches = Seq(
      Seq((1L, "apple banana"), (2L, "banana fig")),
      Seq((3L, "cherry fig date")),
      Seq((4L, "apple date date")))
    def append(id: Int): Unit =
      StreamingRetrieval.appendBatch(indexDir, "doc_id", "text")(
        batches(id).toDF("doc_id", "text"), id.toLong)
    def search(n: Int) = {
      val all = batches.take(n).flatten.toDF("doc_id", "text")
      val queries = all.filter($"doc_id" === 1L)
      val expected = Retrieval.bm25TopK(all, "doc_id", "text",
        queries, "doc_id", "text", k = 3).orderBy("query_id", "rank")
        .collect().toSeq
      val (p, t, s) = StreamingRetrieval.loadIndex(spark, indexDir)
      Retrieval.searchPostingsNorm(p, t, s, queries, "doc_id", "text",
        k = 3).orderBy("query_id", "rank").collect().toSeq == expected
    }
    def logIds(log: String) = StateDirs.logIds(spark, s"$indexDir/$log")
    append(0)
    append(1)
    // the crash hits the first of the three swaps: postings is in the
    // window, termdf and stats still hold batches 0 and 1 unfolded
    StateDirs.crashBetweenRetireAndPromote(spark, indexDir, "postings",
      StreamingRetrieval.loadIndex(spark, indexDir)._1, Set(0L, 1L))

    StreamingRetrieval.compactIndex(spark, indexDir)
    assert(StateDirs.promoted(spark, s"$indexDir/postings"))
    assert(Seq("postings", "termdf", "stats").forall(logIds(_) == Set(-1L)))
    assert(search(2))
    assert(BatchState.readFolded(spark, indexDir) == Set(0L, 1L))

    append(2)
    StreamingRetrieval.compactIndex(spark, indexDir)
    assert(Seq("postings", "termdf", "stats").forall(logIds(_) == Set(-1L)))
    assert(search(3))
    assert(BatchState.readFolded(spark, indexDir) == Set(0L, 1L, 2L))
  }
}
