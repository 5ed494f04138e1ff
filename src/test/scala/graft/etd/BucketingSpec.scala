package graft.etd

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Bucketed co-location: joining two tables bucketed on the join key
  * must run WITHOUT any shuffle exchange — the physical property the
  * 100 TB design relies on (pay one bucketed write, drop the largest
  * exchange from every downstream run). Compared against the same data
  * unbucketed, which must shuffle.
  */
class BucketingSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
    // count exchanges in the pre-AQE physical plan (AQE may later turn
    // one into a broadcast, but the structural claim is about the
    // bucketed scan's partitioning satisfying the join's requirement)
    val plan = df.queryExecution.executedPlan
    plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.length
  }

  test("join of two bucketed tables is exchange-free; unbucketed shuffles") {
    val dir = graft.TempDirs.dir("buckets").toFile.getAbsolutePath
    val readings = (1L to 400L).map(i => (i % 40, i, 0.5 * i))
      .toDF(Model.HouseId, "seq", "v")
    val meta = (0L until 40L).map(h => (h, s"house_$h"))
      .toDF(Model.HouseId, "label")

    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force the sort-merge path: co-location, not broadcast, is under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Sources.writeBucketed(readings, "b_readings", s"$dir/readings", 8)
      Sources.writeBucketed(meta, "b_meta", s"$dir/meta", 8)

      val bucketed = spark.table("b_readings")
        .join(spark.table("b_meta"), Model.HouseId)
        .groupBy(Model.HouseId).agg(sum("v").as("sv"), max("label").as("l"))
      assert(exchanges(bucketed) == 0,
        s"bucketed join+agg must not shuffle:\n${bucketed.queryExecution.executedPlan}")
      assert(bucketed.count() == 40)

      val plain = readings.join(meta, Model.HouseId)
        .groupBy(Model.HouseId).agg(sum("v").as("sv"), max("label").as("l"))
      assert(exchanges(plain) > 0, "the unbucketed twin shuffles")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.sql("DROP TABLE IF EXISTS b_readings")
      spark.sql("DROP TABLE IF EXISTS b_meta")
    }
  }

  /** Exchanges whose partitioning involves the house key — the pipeline's
    * one full-table shuffle. Aggregate-grain shuffles (project, bucket)
    * are inherent to the computation and excluded.
    */
  private def houseExchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains(Model.HouseId) => e
    }.length

  test("bucketed pipeline input: the full-table impute shuffle disappears") {
    val dir = graft.TempDirs.dir("bpipe").toFile.getAbsolutePath
    // tiny household frame: 4 houses x 50 slots, one cumulative column
    val rows = for (h <- 1L to 4L; s <- 1L to 50L) yield
      (h % 2, h, new java.sql.Timestamp(s * 300000), s * 0.5,
        if (s % 7 == 0) None else Some(0.5))
    val household = rows.toDF(Model.ProjectId, Model.HouseId,
        Model.ReadingDate, "M", "MDiff")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    // AQE off for structural exchange counting; broadcast stays ENABLED —
    // the avg-diffs join-back broadcasts its small side in production, and
    // forcing it to sort-merge would reshuffle the big side on
    // (project, date), destroying the co-location under test.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Sources.writeBucketed(household, "b_household", s"$dir/household", 4,
        bucketCols = Seq(Model.ProjectId, Model.HouseId),
        sortCols = Seq(Model.ProjectId, Model.HouseId))
      val colocated = Pipeline.run(spark.table("b_household"), Seq("M"),
        assumeColocated = true).imputed
      val plain = Pipeline.run(household, Seq("M")).imputed
      assert(houseExchanges(colocated) == 0,
        s"bucketed input must not reshuffle on the house key:\n${colocated.queryExecution.executedPlan}")
      assert(houseExchanges(plain) >= 1, "the unbucketed pipeline shuffles once")
      // and the co-located plan still computes the same thing
      val a = colocated.orderBy(Model.HouseId, Model.ReadingDate)
        .select("M", "MDiff", "MOriginal").collect().toSeq
      val b = plain.orderBy(Model.HouseId, Model.ReadingDate)
        .select("M", "MDiff", "MOriginal").collect().toSeq
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.sql("DROP TABLE IF EXISTS b_household")
    }
  }
}
