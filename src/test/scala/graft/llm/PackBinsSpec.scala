package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** No-straddle next-fit bin packing: capacity respected, every
  * document placed exactly once, the fold replays locally, oversized
  * documents are rejected.
  */
class PackBinsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(13)
  // skewed lengths: many small docs + a stratum near the budget, the
  // regime where FFD-style packing visibly beats arrival-order filling
  private val docs = (0L until 2000L).map { i =>
    val len = if (rnd.nextInt(4) == 0) 700 + rnd.nextInt(300) else 20 + rnd.nextInt(200)
    (i, len.toLong)
  }
  private val budget = 1024L

  test("next-fit: valid packing, deterministic, local replay matches") {
    val df = docs.toDF("doc_id", "n_tokens")
    val packed = Packing.packBinsNextFit(df.repartition(7), "doc_id",
      "n_tokens", budget, shards = 4)
    val report = packed.groupBy("shard", "bin_id")
      .agg(sum(col("n_tokens")).as("bin_fill"))
    assert(report.filter(col("bin_fill") > budget).count() == 0)
    assert(packed.select("doc_id").distinct().count() == docs.size)
    // independent sequential replay of the fold (what the DuckDB
    // recursive-CTE oracle does), per shard over (len desc, id)
    val got = packed.select("doc_id", "shard", "bin_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val byShard = got.map { case (id, shard, _) => id -> shard }.toMap
    val lens = docs.toMap
    val expect = got.groupBy(_._2).toSeq.flatMap { case (shard, rows) =>
      val ordered = rows.map(_._1).sortBy(id => (-lens(id), id))
      var bin = -1L; var fill = 0L
      ordered.map { id =>
        val len = lens(id)
        if (bin >= 0 && fill + len <= budget) fill += len
        else { bin += 1; fill = len }
        (id, shard, bin)
      }
    }.sortBy(_._1)
    assert(got == expect)
    assert(got.forall { case (id, shard, _) => byShard(id) == shard })
  }

  test("oversized documents are rejected") {
    val df = Seq((1L, budget + 1)).toDF("doc_id", "n_tokens")
    val ex = intercept[Exception] {
      Packing.packBinsNextFit(df, "doc_id", "n_tokens", budget, shards = 1).count()
    }
    assert(ex.getMessage.contains("exceeds budget") || ex.getCause != null)
  }
}
