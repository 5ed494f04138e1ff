package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Streaming host-graph maintenance: delta appends sum to the one-shot
  * edge build, compaction preserves counts, replays are no-ops, and
  * rank refreshes warm-start from the previous vector.
  */
class StreamingAuthoritySpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def page(id: Long): (String, String) = {
    val url = s"http://h${id % 5}.example/p$id"
    val html = s"""<html><body><a href="http://h${(id + 1) % 5}.example/x">a</a>
      |<a href="http://h${(id + 2) % 5}.example/y">b</a></body></html>"""
      .stripMargin
    (url, html)
  }

  private def oneShotEdges(pages: Seq[(String, String)]) = {
    import graft.llm.UrlFunctions
    pages.toDF("url", "html")
      .select(col("url"),
        explode(UrlFunctions.extractLinks(col("url"), col("html"))).as("l"))
      .select(UrlFunctions.urlHost(col("url")).as("src_host"),
        UrlFunctions.urlHost(col("l")).as("dst_host"))
      .filter(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
  }

  test("3 micro-batches sum to the one-shot edges; compaction + replay; warm refresh") {
    val graphDir = graft.TempDirs.dir("authgraph").toString
    val batches = Seq(0L until 20L, 20L until 40L, 40L until 60L)
      .map(_.map(page))

    // the foreachBatch hook, driven as a stream's batches 0, 1, 2 would
    batches.zipWithIndex.foreach { case (b, id) =>
      StreamingAuthority.appendBatch(graphDir, "url", "html")(
        b.toDF("url", "html"), id.toLong)
    }

    val expected = oneShotEdges(batches.flatten)
    def edges() = StreamingAuthority.loadEdges(spark, graphDir)
      .as[(String, String, Long)].collect().toSet
    assert(edges() == expected)

    // a retried batch rewrites its delta partition, not appends
    StreamingAuthority.appendBatch(graphDir, "url", "html")(
      batches(1).toDF("url", "html"), 1L)
    assert(edges() == expected)

    // warm refresh from a previous vector: every host ranked, mass 1
    val prev = graft.ops.PageRank.pageRankWeighted(
      StreamingAuthority.loadEdges(spark, graphDir)
        .select(col("src_host").as("src"), col("dst_host").as("dst"),
          col("n").as("weight")), 2)
    val warm = StreamingAuthority.refreshRanks(spark, graphDir, prev, 2)
      .as[(String, Double)].collect()
    assert(warm.map(_._1).toSet ==
      expected.flatMap(e => Set(e._1, e._2)))
    assert(math.abs(warm.map(_._2).sum - 1.0) < 1e-9)

    // compaction folds to -1, counts identical, ledger carries the ids
    StreamingAuthority.compactEdges(spark, graphDir)
    assert(spark.read.parquet(s"$graphDir/edges")
      .select(col("batch_id").cast("long")).distinct()
      .as[Long].collect().toSet == Set(-1L))
    assert(edges() == expected)
    assert(BatchState.readFolded(spark, graphDir) == Set(0L, 1L, 2L))

    // replay-after-fold is a no-op (re-appending would double counts)
    StreamingAuthority.appendBatch(graphDir, "url", "html")(
      batches(0).toDF("url", "html"), 0L)
    assert(edges() == expected)

    // appends keep working after a fold; sums stay exact
    val late = (60L until 70L).map(page)
    StreamingAuthority.appendBatch(graphDir, "url", "html")(
      late.toDF("url", "html"), 3L)
    assert(edges() == oneShotEdges(batches.flatten ++ late))
  }

  test("a fold that crashed between retire and promote: the next " +
      "compaction promotes the candidate, folds, and keeps the ledger") {
    val graphDir = graft.TempDirs.dir("authcrash").toString
    val batches = Seq(0L until 20L, 20L until 40L, 40L until 60L)
      .map(_.map(page))
    def append(id: Int): Unit =
      StreamingAuthority.appendBatch(graphDir, "url", "html")(
        batches(id).toDF("url", "html"), id.toLong)
    def edges() = StreamingAuthority.loadEdges(spark, graphDir)
      .as[(String, String, Long)].collect().toSet
    append(0)
    append(1)
    StateDirs.crashBetweenRetireAndPromote(spark, graphDir, "edges",
      StreamingAuthority.loadEdges(spark, graphDir), Set(0L, 1L))

    StreamingAuthority.compactEdges(spark, graphDir)
    assert(StateDirs.promoted(spark, s"$graphDir/edges"))
    assert(StateDirs.logIds(spark, s"$graphDir/edges") == Set(-1L))
    assert(edges() == oneShotEdges(batches(0) ++ batches(1)))
    assert(BatchState.readFolded(spark, graphDir) == Set(0L, 1L))

    append(2)
    StreamingAuthority.compactEdges(spark, graphDir)
    assert(StateDirs.logIds(spark, s"$graphDir/edges") == Set(-1L))
    assert(edges() == oneShotEdges(batches.flatten))
    assert(BatchState.readFolded(spark, graphDir) == Set(0L, 1L, 2L))
  }
}
