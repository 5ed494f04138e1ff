package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series join operators Spark lacks as built-ins — the two the
  * build brief names as the custom-operator exemplars, implemented at
  * preference tier (a): COMPOSED from existing operators, because the
  * semantics fit exactly and composition keeps Catalyst/AQE fully in
  * play (no custom plan node to blind the optimizer).
  *
  * - [[asofJoin]]: one union + ONE window over a single exchange on the
  *   join keys — NOT the naive range join (which Spark would execute as
  *   a broadcast-nested-loop / cartesian with a time filter, quadratic
  *   per key). Both sides shuffle once; no candidate blow-up exists at
  *   any scale; skewed keys fall under the same AQE/salting remedies as
  *   any window.
  * - [[rangeJoin]]: bucketed equi-expansion of interval containment —
  *   turns Spark's non-equi-join cartesian into a hash join on
  *   (keys, bucket) plus a residual filter, the standard trick;
  *   duplicate-free BY CONSTRUCTION (a point lives in exactly one
  *   bucket, so each qualifying pair meets exactly once).
  */
object TimeJoins {

  /** Backward-inclusive as-of join: for each left row, attach the
    * LATEST right row with equal `keys` and `right.timeCol ≤
    * left.timeCol` (and, with `toleranceUs`, within that many time
    * units — older matches null out, pandas `merge_asof` semantics).
    * Right columns arrive as a struct column `matched` (null = no
    * match), keeping the left schema untouched.
    *
    * Mechanics: tag and union the sides (left rows packed into one
    * struct), then `last(right_struct, ignoreNulls)` over a window
    * ordered by (time, tag, right_struct) — at equal times the right
    * row sorts FIRST (inclusive semantics), and duplicate right rows
    * at one (keys, time) resolve deterministically to the greatest
    * struct value (document: keep right unique per (keys, time) if a
    * specific row must win).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               timeCol: String, rightCols: Seq[String],
               toleranceUs: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "asofJoin: at least one join key")
    val keyCols = keys.map(col)
    val rStruct = struct(
      (col(timeCol).as("__rt") +: rightCols.map(col)): _*)
    val lPacked = left.select(
      keyCols :+ col(timeCol).as("__t") :+ lit(1).as("__tag") :+
        struct(left.columns.map(col): _*).as("__l") :+
        lit(null).cast(
          right.select(rStruct).schema.head.dataType).as("__r"): _*)
    val rPacked = right.select(
      keyCols :+ col(timeCol).as("__t") :+ lit(0).as("__tag") :+
        lit(null).cast(
          left.select(struct(left.columns.map(col): _*)).schema.head.dataType
        ).as("__l") :+ rStruct.as("__r"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__tag"), col("__r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = lPacked.unionByName(rPacked)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    val withinTol = toleranceUs match {
      case Some(tol) =>
        when(col("__m").isNotNull &&
          col("__t") - col("__m.__rt") <= tol, col("__m"))
      case None => col("__m")
    }
    joined
      .withColumn("__m", withinTol)
      .select(col("__l.*"),
        when(col("__m").isNotNull,
          struct(rightCols.map(c => col(s"__m.$c")): _*)).as("matched"))
  }

  /** Interval-containment join: every (left point, right interval) pair
    * with equal `keys` and `loCol ≤ pointCol ≤ hiCol`, as an inner
    * join. `bucketWidth` trades expansion factor against residual
    * selectivity — size it near the TYPICAL interval width so most
    * intervals explode into O(1) buckets.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                pointCol: String, loCol: String, hiCol: String,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "rangeJoin: bucketWidth must be positive")
    // non-key column names must be disjoint between the sides (the
    // usual join contract — rename before calling otherwise)
    val lB = left.withColumn("__b", floor(col(pointCol) / bucketWidth))
    val rB = right.withColumn("__b", explode(sequence(
      floor(col(loCol) / bucketWidth), floor(col(hiCol) / bucketWidth))))
    lB.join(rB, (keys :+ "__b").toSeq)
      .filter(col(loCol) <= col(pointCol) && col(pointCol) <= col(hiCol))
      .drop("__b")
  }
}
