package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.etd.{Model, SequentialImpute}
import StreamingImpute._

/** Streaming impute must agree with the batch cascade on every CLOSED gap
  * (the streaming contract), across micro-batch boundaries.
  */
class StreamingImputeSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  /** One house, 5-min grain: observed cum 1.0, 2.0; a 3-row gap closed at
    * 8.0 (jump 6 over gap_length 4 -> linear fill 1.5 each incl. the
    * closing row); a 1-row gap closed at 8.0 again (near-zero jump -> 0.0
    * fills); a final observed 7.5 (negative diff but NOT a gap: stays
    * observed).
    */
  private val slots: Seq[(Long, Option[Double])] = Seq(
    300L -> Some(1.0), 600L -> Some(2.0),
    900L -> None, 1200L -> None, 1500L -> None, 1800L -> Some(8.0),
    2100L -> None, 2400L -> Some(8.0),
    2700L -> Some(7.5))

  private def runStream(batches: Seq[Seq[(Long, Option[Double])]],
                        maxGapLength: Int = 8640)
      : Map[Long, (Option[Double], Option[Int], Boolean)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CumReading]
    val name = s"impute_test_${batches.size}_${batches.head.size}_$maxGapLength"
    val query = StreamingImpute.imputeStream(input.toDS(), maxGapLength)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b =>
      input.addData(b.map { case (ts, cum) => CumReading(1L, ts, cum) })
      query.processAllAvailable()
    }
    query.stop()
    spark.table(name).as[ImputedDiff].collect()
      .map(r => r.tsSec -> ((r.diff, r.imputeType, r.isImputed))).toMap
  }

  private val expected = Map(
    300L -> ((None, None, false)),            // first observation: NA diff
    600L -> ((Some(1.0), None, false)),       // plain observed diff
    900L -> ((Some(1.5), Some(Model.ImputeType.LinearFill), true)),
    1200L -> ((Some(1.5), Some(Model.ImputeType.LinearFill), true)),
    1500L -> ((Some(1.5), Some(Model.ImputeType.LinearFill), true)),
    1800L -> ((Some(1.5), Some(Model.ImputeType.LinearFill), true)),
    2100L -> ((Some(0.0), Some(Model.ImputeType.NearZeroGapJump), true)),
    2400L -> ((Some(0.0), Some(Model.ImputeType.NearZeroGapJump), true)),
    2700L -> ((Some(-0.5), None, false)))     // observed negative diff

  test("closed gaps impute with the cascade fills (single batch)") {
    assert(runStream(Seq(slots)) == expected)
  }

  test("gap spanning micro-batches imputes identically on close") {
    // split mid-gap AND mid-stream: state must carry the open gap over
    val got = runStream(Seq(slots.take(4), slots.slice(4, 7), slots.drop(7)))
    assert(got == expected)
  }

  test("late (already-processed) slots are dropped, not re-imputed") {
    val got = runStream(Seq(slots, Seq(600L -> Some(99.0))))
    assert(got == expected)
  }

  test("dead-meter cap: over-long open gap flushes unimputed, state resets") {
    val s: Seq[(Long, Option[Double])] = Seq(
      300L -> Some(1.0), 600L -> None, 900L -> None, 1200L -> None,
      1500L -> None, 1800L -> Some(9.0))
    val got = runStream(Seq(s), maxGapLength = 3)
    assert(got.keySet == s.map(_._1).toSet, "every slot surfaced")
    // 600-1200 flushed at the cap; post-cap resume is a meter restart, so
    // 1500 and the closing 1800 take the no-start branch: all NA unimputed
    assert(got.values.forall(v => v._1.isEmpty && v._2.isEmpty && !v._3))
  }

  test("a gap closed by a NaN reading streams through as a NaN linear fill") {
    val got = runStream(Seq(Seq(
      300L -> Some(1.0), 600L -> None, 900L -> Some(Double.NaN))))
    assert(got(300L) == ((None, None, false)))
    // jump NaN over gap_length 2: batch round(x, 10) passes NaN through
    Seq(600L, 900L).foreach { ts =>
      val (diff, imputeType, isImputed) = got(ts)
      assert(diff.exists(_.isNaN), s"$ts: $diff")
      assert(imputeType.contains(Model.ImputeType.LinearFill) && isImputed)
    }
  }

  private def runScaled(batches: Seq[Seq[(Long, Option[Double], Option[Double])]])
      : Map[Long, (Option[Double], Option[Int], Boolean)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CumReadingAvg]
    val name = s"impute_scaled_${batches.size}_${batches.head.size}"
    val query = StreamingImpute.imputeStreamScaled(input.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b =>
      input.addData(b.map { case (ts, cum, avg) => CumReadingAvg(1L, ts, cum, avg) })
      query.processAllAvailable()
    }
    query.stop()
    spark.table(name).as[ImputedDiff].collect()
      .map(r => r.tsSec -> ((r.diff, r.imputeType, r.isImputed))).toMap
  }

  /** Avg-enriched slots: a 4-slot gap (incl. closing row) with avgs
    * 1,2,3,6 and jump 6 -> SCALED_FILL at q = 0.5; then a near-zero gap
    * with null avgs; then a gap whose avgs sum to 0 -> LINEAR_FILL.
    */
  private val slotsAvg: Seq[(Long, Option[Double], Option[Double])] = Seq(
    (300L, Some(1.0), Some(0.5)), (600L, Some(2.0), Some(0.5)),
    (900L, None, Some(1.0)), (1200L, None, Some(2.0)), (1500L, None, Some(3.0)),
    (1800L, Some(8.0), Some(6.0)),
    (2100L, None, None), (2400L, Some(8.0), None),
    (2700L, None, Some(0.0)), (3000L, Some(11.0), None))

  test("scaled streaming == batch cascade incl. SCALED_FILL (static-join avgs)") {
    val stream = runScaled(Seq(slotsAvg.take(4), slotsAvg.drop(4)))
    // batch twin: same frame through SequentialImpute.imputeColumn with the avg col
    val rows = slotsAvg.map { case (ts, cum, avg) =>
      (1L, 1L, new java.sql.Timestamp(ts * 1000),
        cum.getOrElse(Double.NaN), avg.getOrElse(Double.NaN))
    }
    val base = rows.toDF(Model.ProjectId, Model.HouseId, Model.ReadingDate, "M", "A")
      .withColumn("Meter", when(!isnan(col("M")), col("M")))
      .withColumn("MeterDiff_avg", when(!isnan(col("A")), col("A")))
      .drop("M", "A")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Model.ProjectId, Model.HouseId).orderBy(Model.ReadingDate)
    val withDiff = base
      .withColumn("MeterDiff", col("Meter") - lag("Meter", 1).over(w))
    val batch = SequentialImpute.imputeColumn(withDiff, "Meter")
      .select(col(Model.ReadingDate).cast("long").as("ts"),
        col("MeterDiff"), col("MeterDiff_impute_type"))
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Int]))))
      .toMap
    // sanity: the scaled branch actually fires with the expected fills
    assert(stream(900L) == ((Some(0.5), Some(Model.ImputeType.ScaledFill), true)))
    assert(stream(1500L) == ((Some(1.5), Some(Model.ImputeType.ScaledFill), true)))
    assert(stream(1800L) == ((Some(3.0), Some(Model.ImputeType.ScaledFill), true)))
    // zero-avg gap degrades to linear
    assert(stream(2700L)._2.contains(Model.ImputeType.LinearFill))
    // full parity on every jump-known row (all but the no-start first row)
    slotsAvg.map(_._1).drop(1).foreach { ts =>
      val (sDiff, sType, _) = stream(ts)
      val (bDiff, bType) = batch(ts)
      assert(sDiff == bDiff && sType == bType,
        s"ts=$ts stream=($sDiff,$sType) batch=($bDiff,$bType)")
    }
  }

  test("expiring: TTL flushes a silent house's open gap and resets state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CumReadingAvgTs]
    def r(huis: Long, ts: Long, cum: Option[Double]) =
      CumReadingAvgTs(huis, ts, cum, Some(0.5),
        new java.sql.Timestamp(ts * 1000))
    val query = StreamingImpute.imputeStreamScaledExpiring(
        input.toDS().withWatermark("eventTime", "0 seconds")
          .as[CumReadingAvgTs],
        ttlMs = 600 * 1000) // 10 min TTL
      .writeStream.format("memory").queryName("impute_expiring")
      .outputMode("append").start()
    // house 1 opens a gap then goes dark; house 2 keeps reporting and
    // drags the watermark far past house 1's TTL horizon
    input.addData(r(1L, 300, Some(1.0)), r(1L, 600, None),
      r(2L, 600, Some(5.0)))
    query.processAllAvailable()
    input.addData(r(2L, 7200, Some(6.0)))
    query.processAllAvailable()
    input.addData(r(2L, 7500, Some(6.5))) // timeout fires this batch
    query.processAllAvailable()
    // post-eviction resume: a meter restart, not a gap close — even
    // though cum is observed, there is no prior observation in state
    input.addData(r(1L, 9000, Some(2.0)))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("impute_expiring").as[ImputedDiff].collect()
      .map(d => (d.huis, d.tsSec) -> ((d.diff, d.imputeType, d.isImputed)))
      .toMap
    // the evicted open-gap slot flushed unimputed (batch backfill owns it)
    assert(got((1L, 600L)) == ((None, None, false)))
    // the resume took the no-prior-observation branch, NOT a 6.0-jump fill
    assert(got((1L, 9000L)) == ((None, None, false)))
    // house 2's ordinary diffs were untouched by house 1's eviction
    assert(got((2L, 7200L)) == ((Some(1.0), None, false)))
  }

  test("streaming fills match the batch cascade on the same frame") {
    // Batch twin: the same house run through SequentialImpute.imputeColumn. Parity
    // is scoped to the jump-known branches streaming implements (observed
    // rows + NEGATIVE/NEAR_ZERO/LINEAR fills); the batch end-value
    // branches (no-start gaps, types 16/32/64) consume the avg-diff
    // table, which streaming defers to the batch backfill by contract.
    val rows = slots.map { case (ts, cum) =>
      (1L, 1L, new java.sql.Timestamp(ts * 1000), cum.getOrElse(Double.NaN))
    }
    val base = rows.toDF(Model.ProjectId, Model.HouseId, Model.ReadingDate, "M")
      .withColumn("Meter", when(!isnan(col("M")), col("M")))
      .drop("M")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Model.ProjectId, Model.HouseId).orderBy(Model.ReadingDate)
    val withDiff = base
      .withColumn("MeterDiff", col("Meter") - lag("Meter", 1).over(w))
      .withColumn("MeterDiff_avg", lit(null).cast("double"))
    val batch = SequentialImpute.imputeColumn(withDiff, "Meter")
      .select(col(Model.ReadingDate).cast("long").as("ts"),
        col("MeterDiff"), col("MeterDiff_impute_type"))
      .collect()
      .map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]),
          Option(r.get(2)).map(_.asInstanceOf[Int]))))
      .toMap
    val stream = runStream(Seq(slots))
    val jumpKnown = Set(Model.ImputeType.NegativeGapJump,
      Model.ImputeType.NearZeroGapJump, Model.ImputeType.LinearFill)
    val compared = slots.collect { case (ts, _)
        if batch(ts)._2.forall(jumpKnown) => ts }
    assert(compared.size == slots.size - 1, "only the no-start row is scoped out")
    compared.foreach { ts =>
      val (sDiff, sType, _) = stream(ts)
      val (bDiff, bType) = batch(ts)
      assert(sDiff == bDiff && sType == bType,
        s"ts=$ts stream=($sDiff,$sType) batch=($bDiff,$bType)")
    }
  }
}
