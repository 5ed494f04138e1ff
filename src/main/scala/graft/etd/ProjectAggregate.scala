package graft.etd

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Model._

/** Project-level aggregation and the cumulative rebuild
  * (SURVEY §2.9 I11/I12, §2.3 J6/J7, §2.4 A5-A7 over real keys).
  *
  * Reference: aggregate_and_save / aggregate_by_columns / aggregate_variable
  * at /root/reference/etdtransform/aggregate.py:419-761 (per-variable gated
  * aggregates with the 60% min_count, then iterative outer-join assembly
  * and a separate size join), and the per-house cumulative rebuild at
  * aggregate.py:188-211.
  *
  * The reference's per-variable loop + outer-join assembly (J6) and its
  * group-size join (J7) collapse here into ONE groupBy computing every
  * gated aggregate and `n` together — one shuffle instead of |variables|+1.
  */
object ProjectAggregate {

  /** Aggregate household data to (ProjectIdBSV, ReadingDate) with the 60%
    * gate and group size n (aggregate.py:419-479, 659-761). `variables`
    * maps column -> method ("sum" | "max" | "avg").
    */
  def aggregate(df: DataFrame, variables: Seq[(String, String)],
                groupCols: Seq[String] = Seq(ProjectId)): DataFrame = {
    require(variables.nonEmpty,
      "aggregate: no variables to aggregate — the frame has none of the " +
        "configured aggregation columns")
    val gate = Aggregates.sixtyPctOfGroup
    val aggs = variables.map { case (v, method) =>
      Aggregates.gated(method, col(v), gate).as(v)
    } :+ count(lit(1)).as("n")
    df.groupBy((Seq(ReadingDate) ++ groupCols).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Aggregate every standard variable present in the frame
    * (aggregate_by_columns, aggregate.py:511-539).
    */
  def aggregateStandard(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    val vars = aggregationVariables.collect {
      case (v, _, aggMethod) if present(v) => (v, aggMethod)
    }
    aggregate(df, vars, Seq(ProjectId))
  }

  /** I12 — mean of all diff columns per (project, ReadingDate)
    * (aggregate.py:188-194), one pass.
    */
  def aggregatedDiff(df: DataFrame, diffCols: Seq[String]): DataFrame = {
    require(diffCols.nonEmpty, "aggregatedDiff: no diff columns given")
    val aggs = diffCols.map(c => Aggregates.exactMean(col(c)).as(c))
    df.groupBy(col(ProjectId), col(ReadingDate)).agg(aggs.head, aggs.tail: _*)
  }

  /** I11 — per-house cumulative rebuild + check columns
    * (aggregate.py:199-211): XOriginal = X, X = cumsum(XDiff),
    * XCheck = diff(X - XOriginal). The reference loops over the full
    * global cumulative_columns list regardless of the cum_cols param
    * (SURVEY §2.9 I11 note); here the caller passes the list explicitly.
    *
    * pandas cumsum leaves NA at a NaN input row and carries the running
    * total PAST it ([1, NaN, 3] for [1, NaN, 2]) — a bare window sum
    * would return the carried value AT the null row too, so the rebuilt
    * cumulative is masked to null wherever the diff itself is null
    * (check columns then null-propagate exactly like the reference's
    * .diff()).
    */
  def rebuildCumulative(df: DataFrame, cumulativeCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(ProjectId, HouseId).orderBy(ReadingDate)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumSet = cumulativeCols.toSet
    // Two shared projections instead of a per-column withColumn fold: pass 1
    // carries EVERY running sum in one Window spec, pass 2 every lag-delta in
    // another. The fold form produced 3·|cols| chained projections whose
    // analyzer/optimizer cost grew superlinearly with plan depth.
    val rebuilt = df.select(
      df.columns.map { c =>
        if (cumSet(c))
          when(col(diffCol(c)).isNotNull, sum(diffCol(c)).over(running)).as(c)
        else col(c)
      }.toSeq ++ cumulativeCols.map(c => col(c).as(originalCol(c))): _*)
    rebuilt.select(
      df.columns.map(col).toSeq ++
        cumulativeCols.flatMap { c =>
          val delta = col(c) - col(originalCol(c))
          Seq(col(originalCol(c)),
            (delta - lag(delta, 1).over(w)).as(checkCol(c)))
        }: _*)
  }
}
