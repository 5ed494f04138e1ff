package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Skew

/** Hot-key skew bench: one key owns 50% of an 8M-row fact table, the
  * dimension is forced above the broadcast path (sort-merge join), and
  * the same join runs three ways — unsalted with AQE skew-split OFF
  * (the straggler), unsalted with AQE skew-split ON, and
  * [[Skew.saltedJoin]]. [[Probe]] reports the MAX task duration per
  * run: the straggler signal a wall-clock total hides on an otherwise
  * idle box. The aggregation scenario is measured too, documenting the
  * honest negative result: for algebraic aggs map-side combine already
  * collapses the hot key to one partial per map task, so plain groupBy
  * is the right plan and [[Skew.saltedAggregate]] only pays for itself
  * when partial state per key is too big to combine (holistic shapes).
  *
  * Usage: runMain graft.SkewBench   (~2 min)
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    // force the sort-merge path: a 2k-row dim would otherwise broadcast
    // and no skew would exist to mitigate
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // make the AQE split fire at this bench's volume (the default
    // 256 MB threshold targets cluster-sized partitions)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    val probe = Probe(spark)

    // 8M rows, 2000 keys, key 0 owns 50%; ~100-byte payload so the hot
    // key's sort-merge partition is ~400 MB. uid is the salt
    // discriminator (hot-key rows are otherwise near-identical).
    val nRows = 8000000L
    val big = spark.range(nRows)
      .select(col("id").as("uid"),
        when(pmod(col("id"), lit(2)) === 0, lit(0L))
          .otherwise(pmod(col("id"), lit(2000L))).as("k"),
        pmod(col("id"), lit(97L)).cast("double").as("v"),
        rpad(hex(col("id")), 100, "x").as("payload"))
    val dim = spark.range(2000)
      .select(col("id").as("k"), rpad(hex(col("id")), 64, "d").as("dimv"))
    big.write.mode("overwrite").parquet("/tmp/skewbench/big.parquet")
    dim.write.mode("overwrite").parquet("/tmp/skewbench/dim.parquet")
    val bigP = spark.read.parquet("/tmp/skewbench/big.parquet")
    val dimP = spark.read.parquet("/tmp/skewbench/dim.parquet")

    def run(label: String, skewJoinOn: Boolean)(df: => DataFrame): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoinOn.toString)
      probe.timed("skew" -> label)(df.write.format("noop").mode("overwrite").save())
    }

    // correctness guard: all three joins must produce the same row count
    val expect = bigP.join(dimP, Seq("k"), "inner").count()

    run("join_unsalted_aqeoff", skewJoinOn = false)(
      bigP.join(dimP, Seq("k"), "inner"))
    run("join_unsalted_aqeskew", skewJoinOn = true)(
      bigP.join(dimP, Seq("k"), "inner"))
    run("join_salted32", skewJoinOn = false)(
      Skew.saltedJoin(bigP, dimP, Seq("k"), salt = 32, saltBy = Seq("uid")))
    val saltedCount = Skew.saltedJoin(bigP, dimP, Seq("k"), salt = 32,
      saltBy = Seq("uid")).count()
    require(saltedCount == expect, s"salted join row count $saltedCount != $expect")

    // aggregation: algebraic aggs are skew-immune via map-side combine —
    // measure it rather than assert it
    run("agg_plain_groupby", skewJoinOn = true)(
      bigP.groupBy("k").agg(sum("v").as("v"), count(lit(1)).as("n")))
    run("agg_salted32", skewJoinOn = true)(
      Skew.saltedAggregate(bigP.select(col("k"), col("v"), col("uid")),
        Seq("k"), Seq("v" -> "sum", "uid" -> "count"), salt = 32,
        saltBy = Seq("uid")))

    spark.stop()
  }
}
