package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Pins the dense build/search split (VERDICT r9 item 5): a persisted
  * cell-bucketed (id, codes, cell) index searched with ivfPqTopKCoded
  * returns exactly what the inline ivfPqTopK returns, and the per-batch
  * search scan reads ONLY the index columns — never a float vector.
  */
class CodedIndexSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  // dim 8, m=4 subspaces of 2; two coarse cells on the first axis pair
  private val coarse: Array[Array[Float]] = Array(
    Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
    Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f))
  private val cb: Array[Array[Array[Float]]] = Array.tabulate(4, 2) { (j, i) =>
    if (i == 0) Array(1f, 0.1f * j) else Array(0f, 1f - 0.1f * j)
  }
  private def v(seed: Int): Array[Float] =
    Array.tabulate(8)(d => (((seed * 31 + d * 7) % 10) / 10.0f))

  test("persisted coded index: search == inline ivfPqTopK; scan reads only index columns") {
    val corpus = (1L to 6L).map(i => (i, v(i.toInt).toSeq)).toDF("id", "v")
    val queries = Seq(101L -> v(3), 102L -> v(4))

    val inline = Similarity.ivfPqTopK(corpus, "id", "v", coarse, cb,
        queries, k = 3, nprobe = 1)
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(inline.nonEmpty)

    val tmp = graft.TempDirs.dir("ivfpq").toString
    graft.etd.Sources.writeBucketed(
      Similarity.buildIvfPqIndex(corpus, "id", "v", coarse, cb),
      "ivfpq_idx_spec", s"$tmp/idx", buckets = 4,
      bucketCols = Seq("cell"), sortCols = Seq("cell"))
    val idx = spark.table("ivfpq_idx_spec")
    val ranking = Similarity.probeRanking(coarse)
    val coded = Similarity.ivfPqTopKCoded(idx, "id", "codes", "cell",
      q => ranking(q).take(1), cb, queries, k = 3)

    val got = coded.select("query_id", "neighbor_id", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == inline, s"coded-index search diverged:\n$got\nvs\n$inline")

    // the search plan's only file scan is the index table, projecting
    // id/codes/cell — the corpus vectors are never touched per batch
    val plan = coded.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<id:bigint,codes:array<int>,cell:bigint>"),
      s"search must read only the coded index:\n$plan")
    assert(!plan.contains("v:array<float>"),
      s"search must not scan the vector column:\n$plan")
  }

  test("scan-level cell prune reaches the parquet reader (r19): the " +
      "union-of-probes IN filter is pushed; respread preserves results") {
    val corpus = (1L to 400L).map(i => (i, v(i.toInt).toSeq)).toDF("id", "v")
    val tmp = graft.TempDirs.dir("ivfpq_push").toString
    try {
    graft.etd.Sources.writeBucketed(
      Similarity.buildIvfPqIndex(corpus, "id", "v", coarse, cb),
      "ivfpq_idx_push_spec", s"$tmp/idx", buckets = 8,
      bucketCols = Seq("cell"), sortCols = Seq("cell"))
    val idx = spark.table("ivfpq_idx_push_spec")
    val ranking = Similarity.probeRanking(coarse)
    // narrow batch: every query probes cell 1 only (axis-0 vectors)
    val narrow = (0 until 5).map(i =>
      (900L + i, Array(1f, 0.01f * i, 0f, 0f, 0f, 0f, 0f, 0f)))
    val search = Similarity.ivfPqTopKCoded(idx, "id", "codes", "cell",
      q => ranking(q).take(1), cb, narrow, k = 3)
    val plan = search.queryExecution.executedPlan.toString
    // the prune must reach the scan: a pushed In/EqualTo on cell —
    // without it the first dedupscale10 soak measured every search
    // reading the WHOLE index regardless of probes
    assert(plan.contains("PushedFilters: [") &&
      (plan.contains("In(cell") || plan.contains("EqualTo(cell")),
      s"cell prune must be pushed into the index scan:\n$plan")
    // 1 probed cell on an 8-partition scan trips the concentration
    // respread — results must be byte-equal to an unrespread reference
    // (the window orders by (score desc, neighbor_id): partitioning-free)
    val got = search.select("query_id", "neighbor_id", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val inline = Similarity.ivfPqTopK(corpus, "id", "v", coarse, cb,
        narrow, k = 3, nprobe = 1)
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(got == inline, s"pruned+respread search diverged:\n$got\nvs\n$inline")
    } finally {
      // finally, so a failed assertion can't strand the external table
      // in the shared test catalog or the tmp dir on disk
      spark.sql("DROP TABLE IF EXISTS ivfpq_idx_push_spec")
      graft.queries.StreamHarness.deleteTempDir(tmp)
    }
  }

  test("probeRanking: 1-based cells ranked by centroid cosine; zero-norm probes nothing") {
    val ranking = Similarity.probeRanking(coarse)
    // a vector along axis 0 ranks cell 1 first; along axis 1, cell 2
    assert(ranking(Array(1f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f)).head == 1L)
    assert(ranking(Array(0.1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)).head == 2L)
    assert(ranking(Array.fill(8)(0f)).isEmpty)
  }
}
