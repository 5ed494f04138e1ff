package graft.etd

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Impute._
import Model._

/** The sequential single-column impute: the I3..I9 building blocks of
  * [[Impute]] chained one column at a time. It is the test oracle the
  * batched engine ([[Impute.imputeColumnsBatched]]) is pinned against in
  * ImputeSpec, and the batch twin StreamingImputeSpec compares the
  * streaming impute with.
  */
object SequentialImpute {

  private val tempCols = Seq(
    "cumulative_value_group", "gap_length", "prev_cum_value", "end_cum_value",
    "gap_jump", "gap_jump_is_na", "impute_values", "impute_jump",
    "impute_na_ratio", "house_impute_factor")

  /** Full single-column imputation: I3..I9 composed, flag columns added,
    * temp columns dropped (mirrors process_imputation_vectorized,
    * vectorized_impute.py:428-782). `keepGapCols=true` retains
    * cumulative_value_group/gap_length for the gap-stats pass (I10).
    */
  def imputeColumn(df: DataFrame, cum: String,
                   keepGapCols: Boolean = false): DataFrame = {
    val diffC = diffCol(cum)
    val avgC = avgCol(cum)
    val isImp = isImputedCol(cum)
    val impTy = imputeTypeCol(cum)
    val staged = withHouseFactor(
      withImputeInputs(
        withGapStats(
          withGapGroups(df, diffC, cum), cum), avgC), diffC, avgC)
    val (imputedDiff, imputeType) = imputeCascade(diffC)
    val cascaded = staged
      .withColumn(impTy, imputeType)
      .withColumn(isImp, col(impTy).isNotNull)
      .withColumn(diffC, imputedDiff)
    val (lo, hi) = thresholds.getOrElse(diffC, (Double.NegativeInfinity, Double.PositiveInfinity))
    val clamped = applyThresholds(cascaded, diffC, avgC, isImp, impTy, lo, hi)
    val drop = if (keepGapCols) tempCols.diff(Seq("cumulative_value_group", "gap_length"))
               else tempCols
    clamped.drop(drop: _*)
  }
}
