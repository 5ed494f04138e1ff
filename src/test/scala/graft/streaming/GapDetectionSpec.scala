package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import GapDetection.{Gap, Reading}

class GapDetectionSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("stateful gap detection spans micro-batches via GroupState") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Reading]
    val gaps = GapDetection.detectGaps(input.toDS(), stepSec = 300L)

    val query = gaps.writeStream
      .format("memory")
      .queryName("gaps_test")
      .outputMode("append")
      .start()

    // batch 1: continuous then a 3-slot hole within the batch
    input.addData(Reading(1, 0, 1.0), Reading(1, 300, 1.0), Reading(1, 1500, 1.0))
    query.processAllAvailable()
    // batch 2: a 1-slot hole relative to state carried across batches
    input.addData(Reading(1, 2100, 1.0))
    query.processAllAvailable()
    query.stop()

    val got = spark.table("gaps_test").as[Gap].collect()
      .map(g => (g.fromSec, g.toSec, g.missedSlots)).toSet
    assert(got == Set((600L, 1200L, 3L), (1800L, 1800L, 1L)))
  }

  test("off-grid consecutive readings emit no inverted zero-slot gaps") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Reading]
    val gaps = GapDetection.detectGaps(input.toDS(), stepSec = 300L)
    val query = gaps.writeStream
      .format("memory").queryName("gaps_offgrid").outputMode("append")
      .start()
    // 450s apart: more than a step but less than a missed slot — the old
    // emission produced Gap(from=1300, to=1150, missed=0)
    input.addData(Reading(2, 1000, 1.0), Reading(2, 1450, 1.0),
      Reading(2, 2500, 1.0)) // 1050s: genuinely 2 missed slots
    query.processAllAvailable()
    query.stop()
    val got = spark.table("gaps_offgrid").as[Gap].collect()
      .map(g => (g.fromSec, g.toSec, g.missedSlots)).toSet
    assert(got.forall { case (f, t, m) => f <= t && m >= 1 },
      s"inverted/empty gap emitted: $got")
    assert(got == Set((1750L, 2200L, 2L)), s"got $got")
  }
}
