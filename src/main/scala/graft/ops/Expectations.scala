package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass data-quality expectations over a corpus — the ingest gate a
  * 100 TB pipeline runs BEFORE accepting a snapshot (the Deequ idea,
  * Schelter et al., VLDB 2018: declarative checks compiled into ONE
  * aggregation pass, never one job per rule).
  *
  * Each expectation is a named boolean Column over a row; the report
  * aggregates every rule in a single `agg(...)` so the corpus is read
  * once regardless of rule count, and whole-stage codegen fuses the
  * predicates into the scan. Rules that need more than row-local
  * evaluation compose upstream: uniqueness is a pre-aggregation on the
  * key (one extra exchange, unavoidable), and cross-table reference
  * checks are anti joins the caller counts.
  *
  * Scale shape: map-only predicate evaluation + one partial/final
  * aggregate — the same rollup shape as the corpus-stats queries; the
  * report is rule-count-sized (a handful of rows), never corpus-sized.
  */
object Expectations {

  /** A named row-level expectation; `predicate` is TRUE when the row
    * SATISFIES the rule. Nulls count as violations (a null predicate
    * means the rule could not be established for the row).
    */
  final case class Rule(name: String, predicate: Column)

  /** Evaluate all rules in one pass: per rule one output row with the
    * rows checked, violations, and the violation fraction (rounded at
    * 1e-6, the repo's oracle-exactness convention).
    */
  private val NamePattern = "[A-Za-z0-9_-]+"

  def report(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "Expectations.report: no rules given")
    require(rules.map(_.name).distinct.size == rules.size,
      "Expectations.report: rule names must be unique")
    // names become intermediate column names; a dot or backtick would
    // corrupt the column resolution silently
    rules.foreach(r => require(r.name.matches(NamePattern),
      s"Expectations.report: rule name '${r.name}' must match $NamePattern"))
    // one shared row count + one violation sum per rule — N+1 aggregate
    // buffers, not 2N
    val aggs = count(lit(1)).as("__n") +: rules.map { r =>
      val ok = coalesce(r.predicate, lit(false))
      sum(when(ok, 0L).otherwise(1L)).as(s"__v_${r.name}")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // unpivot the one wide row into (rule, n_rows, n_violations, rate)
    val entries = rules.map { r =>
      struct(lit(r.name).as("rule"),
        col("__n").as("n_rows"),
        col(s"__v_${r.name}").as("n_violations"))
    }
    wide.select(explode(array(entries: _*)).as("e"))
      .select(col("e.rule").as("rule"),
        col("e.n_rows").as("n_rows"),
        col("e.n_violations").as("n_violations"),
        when(col("e.n_rows") > 0,
          floor(col("e.n_violations").cast("double") / col("e.n_rows")
            * 1000000 + 0.5) / 1000000)
          .otherwise(lit(0.0)).as("violation_rate"))
  }

  /** An aggregate-level expectation: `metric` is an AGGREGATE Column
    * (mean, count distinct, max, a fraction via avg(when...)) whose
    * value must land in [lo, hi].
    */
  final case class MetricCheck(name: String, metric: Column,
                               lo: Double, hi: Double)

  /** Evaluate all metric checks in one aggregation pass (the Deequ
    * metrics half): per check one row (metric, value, lo, hi, ok);
    * values round at 1e-6 before the bounds compare so the report is
    * engine-replayable. A null metric (e.g. avg over zero rows) fails
    * the check rather than passing vacuously.
    */
  def metricReport(df: DataFrame, checks: Seq[MetricCheck]): DataFrame = {
    require(checks.nonEmpty, "Expectations.metricReport: no checks given")
    require(checks.map(_.name).distinct.size == checks.size,
      "Expectations.metricReport: check names must be unique")
    checks.foreach(c => require(c.name.matches(NamePattern),
      s"Expectations.metricReport: check name '${c.name}' must match $NamePattern"))
    val aggs = checks.map { c =>
      (floor(c.metric.cast("double") * 1000000 + 0.5) / 1000000)
        .as(s"__m_${c.name}")
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = checks.map { c =>
      struct(lit(c.name).as("metric"),
        col(s"__m_${c.name}").as("value"),
        lit(c.lo).as("lo"), lit(c.hi).as("hi"))
    }
    wide.select(explode(array(entries: _*)).as("e"))
      .select(col("e.metric").as("metric"), col("e.value").as("value"),
        col("e.lo").as("lo"), col("e.hi").as("hi"),
        coalesce(col("e.value") >= col("e.lo") &&
          col("e.value") <= col("e.hi"), lit(false)).as("ok"))
  }
}
