package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** One-pass expectations: exact counts on a hand fixture, null
  * predicates counted as violations, the single-aggregation plan
  * shape, and the metric bounds report.
  */
class ExpectationsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import Expectations.{Rule, report}

  private val df = Seq(
    (Some(1L), Some("aa"), 10),
    (Some(2L), Some(""), 20),
    (Some(2L), None, -5),
    (None, Some("bb"), 30)
  ).toDF("id", "s", "v")

  test("exact violation counts; null predicate is a violation") {
    val rows = report(df, Seq(
        Rule("id_nonnull", col("id").isNotNull),
        Rule("s_nonempty", length(col("s")) > 0), // null s -> null pred
        Rule("v_positive", col("v") > 0)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows == Set(
      ("id_nonnull", 4L, 1L, 0.25),
      ("s_nonempty", 4L, 2L, 0.5),
      ("v_positive", 4L, 1L, 0.25)))
  }

  test("all rules evaluate in ONE aggregate over one scan") {
    val plan = report(df, Seq(
        Rule("a", col("id").isNotNull),
        Rule("b", col("v") > 0),
        Rule("c", length(col("s")) > 0)))
      .queryExecution.executedPlan.toString
    // one partial+final hash-aggregate pair, not one per rule
    assert("HashAggregate".r.findAllIn(plan).size <= 2, plan)
  }

  test("metricReport: exact values, bounds compare, null metric fails") {
    import Expectations.{MetricCheck, metricReport}
    val rows = metricReport(df, Seq(
        MetricCheck("mean_v", avg(col("v")), 0.0, 20.0),        // 13.75
        MetricCheck("n_ids", countDistinct(col("id")).cast("double"), 3.0, 3.0),
        MetricCheck("max_v", max(col("v")).cast("double"), 0.0, 10.0), // 30 -> fail
        MetricCheck("mean_none", avg(when(lit(false), col("v"))), 0.0, 1.0)))
      .collect().map(r => (r.getString(0), r.isNullAt(1), r.getBoolean(4))).toSet
    assert(rows == Set(
      ("mean_v", false, true),
      ("n_ids", false, false),   // 2 distinct non-null... see below
      ("max_v", false, false),
      ("mean_none", true, false)))
    // countDistinct ignores nulls: ids are {1, 2} -> 2, outside [3, 3]
    val v = metricReport(df, Seq(
        MetricCheck("n_ids", countDistinct(col("id")).cast("double"), 2.0, 2.0)))
      .collect().head
    assert(v.getDouble(1) == 2.0 && v.getBoolean(4))
  }
}
