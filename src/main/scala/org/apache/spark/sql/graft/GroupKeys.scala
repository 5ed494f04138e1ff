package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Key identity through a typed group operator, which Spark's public API
  * cannot state.
  *
  * `KeyValueGroupedDataset.flatMapSortedGroups` hash-partitions its input
  * on the grouping columns and keeps that partitioning, but serializes
  * every output column under a new attribute id. A consumer clustered on
  * the same keys (a per-house window, a per-house aggregation) then no
  * longer recognizes the partitioning and shuffles the whole frame again.
  */
object GroupKeys {

  /** `out` is the result of a typed group operator over `in`, grouped by
    * the `keys` columns of `in`, whose function writes each key column
    * unchanged. Returns `out` with those columns under `in`'s attribute
    * ids, so the partitioning the group operator keeps still satisfies a
    * consumer clustered on the keys.
    */
  def keep(out: DataFrame, in: DataFrame, keys: Seq[String]): DataFrame = {
    val ids = in.queryExecution.analyzed.output
      .filter(a => keys.contains(a.name)).map(a => a.name -> a.exprId).toMap
    require(ids.size == keys.size, s"GroupKeys.keep: $keys not all in ${in.columns.toSeq}")
    out.queryExecution.analyzed match {
      case s: SerializeFromObject =>
        Dataset.ofRows(out.sparkSession.asInstanceOf[SparkSession],
          s.copy(serializer = s.serializer.map {
            case a: Alias if ids.contains(a.name) =>
              Alias(a.child, a.name)(exprId = ids(a.name))
            case e => e
          }))
      case other =>
        throw new IllegalArgumentException(
          s"GroupKeys.keep: not a typed operator's output:\n$other")
    }
  }
}
