package graft.etd

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Resample densification/min_count (A8, SURVEY §7.4.1) and gated project
  * aggregation (A5-A7) semantics.
  */
class ResampleAndAggSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import Model.{HouseId, ProjectId, ReadingDate}

  /** House A: full day-1 of 5-min readings (288) + ONE reading at day-3
    * 00:00 — day 2 is entirely empty and must still appear in the spine.
    */
  private lazy val sparse = {
    val rows =
      (0 until 288).map(i => (1L, 1L, i * 300L, Some(1.0))) :+
        (1L, 1L, 2L * 86400L, Some(1.0))
    rows.toDF(ProjectId, HouseId, "s", "v")
      .withColumn(ReadingDate, timestamp_seconds(col("s")))
  }

  test("A8: empty buckets are densified (pandas resample semantics)") {
    val daily = Resample.resample(sparse, Seq("v" -> "sum"), "24h")
    assert(daily.count() == 3, "3 daily buckets incl. the empty day 2")
    val hourly = Resample.resample(sparse, Seq("v" -> "sum"), "60min")
    assert(hourly.count() == 49, "24 + 24 empty + 1 hourly buckets")
    val q = Resample.resample(sparse, Seq("v" -> "sum"), "15min")
    assert(q.count() == 193, "96 + 96 empty + 1 quarter-hour buckets")
  }

  test("A8: min_count gates buckets below the per-interval threshold") {
    val daily = Resample.resample(sparse, Seq("v" -> "sum"), "24h")
      .orderBy(ReadingDate).collect()
    assert(daily(0).getAs[Double]("v") == 288.0, "day 1 has all 288 rows")
    assert(daily(1).isNullAt(daily(1).fieldIndex("v")), "empty day 2 -> null")
    assert(daily(2).isNullAt(daily(2).fieldIndex("v")),
      "day 3 has 1 < 288 rows -> null")
  }

  test("A5-A7: the 60% gate on project aggregation") {
    // 10 rows, 5 non-null -> below 0.6*10 -> null; 7 non-null -> passes
    def mk(nonNull: Int) = (0 until 10).map(i =>
      (1L, 0L, if (i < nonNull) Some(i.toDouble) else None))
      .toDF(ProjectId, "s", "v")
      .withColumn(ReadingDate, timestamp_seconds(col("s")))
    val below = ProjectAggregate.aggregate(mk(5), Seq("v" -> "sum")).collect().head
    assert(below.isNullAt(below.fieldIndex("v")))
    assert(below.getAs[Long]("n") == 10)
    val above = ProjectAggregate.aggregate(mk(7), Seq("v" -> "sum")).collect().head
    assert(above.getAs[Double]("v") == (0 until 7).sum.toDouble)
  }

  test("I11: cumulative rebuild matches diffs and Check flags divergence") {
    val df = Seq(
      (1L, 1L, 1L, Some(5.0), Some(0.0)), // original 5.0 but diffs rebuild 0
      (1L, 1L, 2L, Some(6.0), Some(1.0)),
      (1L, 1L, 3L, Some(7.0), Some(1.0)))
      .toDF(ProjectId, HouseId, "s", "Meter", "MeterDiff")
      .withColumn(ReadingDate, timestamp_seconds(col("s")))
    val out = ProjectAggregate.rebuildCumulative(df, Seq("Meter"))
      .orderBy("s").collect()
    assert(out.map(_.getAs[Double]("Meter")).toSeq == Seq(0.0, 1.0, 2.0))
    assert(out.map(_.getAs[Double]("MeterOriginal")).toSeq == Seq(5.0, 6.0, 7.0))
    // delta is constant (-5) after the first row -> Check diff = 0
    assert(out(1).getAs[Double]("MeterCheck") == 0.0)
  }

  test("I11: batched rebuild == per-column fold, byte-identical, multi-column") {
    val rows = for {
      h <- 1L to 3L; s <- 0L to 9L
    } yield (1L, h, s,
      Some(h + s * 0.5), Some(0.5),
      if (s % 3 == 0) None else Some(s * 2.0), Some(2.0))
    val df = rows.toDF(ProjectId, HouseId, "s", "A", "ADiff", "B", "BDiff")
      .withColumn(ReadingDate, timestamp_seconds(col("s")))
    val cols = Seq("A", "B")
    val sort = Seq(HouseId, "s").map(col)
    val batched = ProjectAggregate.rebuildCumulative(df, cols)
    val fold = ReferenceForms.rebuildCumulativeFold(df, cols)
    assert(batched.columns.toSeq == fold.columns.toSeq, "column order differs")
    assert(batched.orderBy(sort: _*).collect().toSeq ==
      fold.orderBy(sort: _*).collect().toSeq)
  }

  test("I14: interval multipliers match the reference table") {
    assert(Model.switchMultiplier("5min") == 12.0)
    assert(Model.switchMultiplier("24h") == 1.0 / 24.0)
    assertThrows[IllegalArgumentException](Model.switchMultiplier("7min"))
  }
}
