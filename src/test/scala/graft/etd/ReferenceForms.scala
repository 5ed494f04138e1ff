package graft.etd

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Model._

/** Reference forms of two ETD steps, kept as test oracles: the
  * per-column fold ResampleAndAggSpec pins the batched
  * [[ProjectAggregate.rebuildCumulative]] against, and the densified
  * bucket spine PropertiesSpec checks the resample skeleton with.
  */
object ReferenceForms {

  /** The original per-column withColumn fold of
    * [[ProjectAggregate.rebuildCumulative]].
    */
  def rebuildCumulativeFold(df: DataFrame,
                            cumulativeCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(ProjectId, HouseId).orderBy(ReadingDate)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cumulativeCols.foldLeft(df) { (acc, c) =>
      acc
        .withColumn(originalCol(c), col(c))
        .withColumn(c,
          when(col(diffCol(c)).isNotNull, sum(diffCol(c)).over(running)))
        .withColumn(checkCol(c), {
          val delta = col(c) - col(originalCol(c))
          delta - lag(delta, 1).over(w)
        })
    }
  }

  /** The densified bucket spine: for each group, every interval bucket
    * from its min to its max observed bucket (aggregate.py:843-852's
    * `.resample().size()` skeleton). [[Resample.resample]] densifies
    * post-aggregation instead, so the input lineage is never executed
    * twice.
    */
  def bucketSpine(df: DataFrame, groupCols: Seq[String],
                  interval: String): DataFrame = {
    val secs = Resample.intervalSeconds(interval)
    val b = Resample.bucket(col(ReadingDate), interval).cast("long")
    df.groupBy(groupCols.map(col): _*)
      .agg(min(b).as("__min_b"), max(b).as("__max_b"))
      .select(
        groupCols.map(col) :+
          explode(sequence(col("__min_b"), col("__max_b"), lit(secs)))
            .as("__bucket"): _*)
      .withColumn(ReadingDate, timestamp_seconds(col("__bucket")))
      .drop("__bucket")
  }
}
