package graft.etd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Model._

/** Time-bucket resampling with per-interval min_count gates and
  * empty-bucket densification (SURVEY §2.4 A8, §7.4.1 — the hardest
  * semantic trap in the port).
  *
  * Reference: resample_by_columns + resample_{sum,max,avg} at
  * /root/reference/etdtransform/aggregate.py:800-1041. pandas
  * `groupby().resample(interval)` DENSIFIES: it emits every interval bucket
  * between each group's min and max timestamp, including empty ones (the
  * skeleton is built explicitly via `.resample().size()` at
  * aggregate.py:843-852); empty buckets then fall below min_count and get
  * NA. Spark's groupBy(window(...)) emits only non-empty buckets, so the
  * bucket spine is generated per group with sequence()+explode and the
  * aggregates are left-joined onto it.
  *
  * Scale notes: densification happens AFTER the aggregation, over the
  * already-tiny bucketed frame — each row generates the empty buckets
  * between itself and its successor (lead + posexplode), so the raw input
  * is scanned exactly once and there is no spine self-join at all. (The
  * previous shape re-aggregated the raw input on a different key for the
  * spine, which re-executed the entire upstream lineage — in the composed
  * pipeline, the whole impute DAG — a second time.) All variables
  * aggregate in ONE groupBy pass (the reference loops per variable and
  * outer-joins each result — J6 — which at 169 columns would be 169
  * shuffles; here it is one).
  */
object Resample {

  /** Floor a timestamp to its interval bucket start — exact integer µs
    * arithmetic (a double roundtrip could mis-bucket values within one ulp
    * of a boundary).
    */
  def bucket(ts: Column, interval: String): Column = {
    val us = lit(intervalSeconds(interval) * 1000000L)
    timestamp_micros(unix_micros(ts) - pmod(unix_micros(ts), us))
  }

  def intervalSeconds(interval: String): Long = interval match {
    case "5min" => 300L
    case "15min" => 900L
    case "60min" => 3600L
    case "6h" => 21600L
    case "24h" => 86400L
    case other => throw new IllegalArgumentException(s"Unknown interval $other")
  }

  /** Resample one or more variables to `interval` with the reference's
    * min_count gate (aggregate.py:830-841: 3/12/72/288 source rows for
    * 15min/60min/6h/24h). `variables` maps column name -> method
    * ("sum" | "max" | "avg").
    */
  def resample(df: DataFrame, variables: Seq[(String, String)],
               interval: String,
               groupCols: Seq[String] = Seq(ProjectId, HouseId),
               minCountOverride: Option[Int] = None): DataFrame = {
    require(variables.nonEmpty,
      "resample: no variables to aggregate — the frame has none of the " +
        "configured aggregation columns")
    val minCount = lit(minCountOverride.getOrElse(intervalMinCount(interval)))
    val aggs = variables.map { case (v, method) =>
      Aggregates.gated(method, col(v), minCount).as(v)
    }
    val bucketed = df
      .withColumn(ReadingDate, bucket(col(ReadingDate), interval))
      .groupBy((groupCols :+ ReadingDate).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    densify(bucketed, variables.map(_._1), groupCols, interval)
  }

  /** Densify an already-bucketed aggregate: every row emits itself plus the
    * empty buckets strictly between it and its in-group successor
    * (aggregate.py:843-852's `.resample().size()` skeleton, realized
    * without a spine self-join). Filler rows carry NULL in every value
    * column — identical to the left-join-onto-spine formulation, but the
    * input lineage is executed exactly once and the only added exchange is
    * a window over the aggregated (output-cardinality) frame.
    */
  private def densify(bucketed: DataFrame, valueCols: Seq[String],
                      groupCols: Seq[String], interval: String): DataFrame = {
    val secs = intervalSeconds(interval)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(ReadingDate))
    val curB = unix_seconds(col(ReadingDate))
    bucketed
      .withColumn("__end_b", coalesce(lead(curB, 1).over(w) - secs, curB))
      .select(col("*"),
        posexplode(sequence(curB, col("__end_b"), lit(secs)))
          .as(Seq("__pos", "__b")))
      .select(
        groupCols.map(col) ++
          Seq(timestamp_seconds(col("__b")).as(ReadingDate)) ++
          valueCols.map(v => when(col("__pos") === 0, col(v)).as(v)): _*)
  }

  /** Resample every standard aggregation variable present in the frame
    * (resample_by_columns, aggregate.py:800-866).
    */
  def resampleStandard(df: DataFrame, interval: String): DataFrame = {
    val present = df.columns.toSet
    val vars = aggregationVariables.collect {
      case (v, resampleMethod, _) if present(v) => (v, resampleMethod)
    }
    resample(df, vars, interval, Seq(ProjectId, HouseId))
  }
}
