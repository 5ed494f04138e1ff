package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's untimed warm-up: failures are reported by name, and the pass
  * leaves no state a timed run could reuse (no persisted RDDs, no SQL
  * cache entries, no prepared BM25 index table).
  */
class BenchWarmUpSpec extends AnyFunSuite {
  import SharedSpark.spark

  private def assertNoStateLeft(): Unit = {
    assert(Checkpoints.persistentIds(spark).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(!spark.catalog.tableExists("bm25_bench_postings"))
  }

  test("warm-up on an empty directory reports every name as failed") {
    val empty = graft.TempDirs.dir("bench_warmup_empty")
    try {
      val names = Seq("q_agg_pricing", "q_bm25_indexed")
      assert(Bench.warmUp(spark, empty.toString, names) == names)
      assertNoStateLeft()
    } finally empty.toFile.delete()
  }

  test("warm-up at the smoke scale factor runs clean and leaves no state") {
    assert(Bench.warmUp(spark, SparkEntry.smokeDir,
      Seq("q_bm25_indexed", "q_agg_pricing")).isEmpty)
    assertNoStateLeft()
  }
}
