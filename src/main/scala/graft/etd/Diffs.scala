package graft.etd

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Model._

/** Average-diff preparation feeding imputation (SURVEY §2.9 I1/I2).
  *
  * Reference: calculate_average_diff at
  * /root/reference/etdtransform/impute.py:12-131 and
  * prepare_diffs_for_impute at impute.py:469-537.
  *
  * Pipeline per diff column:
  *   1. per-house max of the diff (A2),
  *   2. per-project 95th exact percentile of those maxima restricted to
  *      values > 1e-8, doubled, as the outlier upper bound (A3) — computed
  *      over house maxima (rows = households), so the exact percentile sort
  *      is tiny at any data scale (VERDICT r1 plan audit),
  *   3. households whose max is strictly below the bound are included via a
  *      left_semi join (P6/J12 — never a collected isin list),
  *   4. per (project, ReadingDate) mean over included households (A1).
  *
  * All 13 columns share the two aggregation passes (single groupBy each)
  * instead of the reference's per-column Python loop.
  */
object Diffs {

  /** Per-house maxima for each diff column, one pass
    * (impute.py:63-69; columns named `<diff>_huis_max`).
    */
  def householdMax(df: DataFrame, diffCols: Seq[String]): DataFrame = {
    val aggs = diffCols.map(c => max(c).as(huisMaxCol(c)))
    df.groupBy(col(ProjectId), col(HouseId)).agg(aggs.head, aggs.tail: _*)
  }

  /** Household max + bound table (`household_diff_max_bounds`,
    * impute.py:532-535): house maxima with their project bounds stamped
    * on. The bounds are the percentile computed as a WINDOW over the
    * (house-level, small) maxima frame rather than a groupBy + join-back:
    * the join form references the house-max subtree twice, and since
    * column pruning specializes each reference, Spark re-executes the
    * ENTIRE upstream (at 100 TB: a full extra pass over the readings)
    * for the bounds branch. The window form keeps one subtree; values
    * are bit-identical (exact percentile is deterministic).
    */
  def householdMaxWithBounds(houseMax: DataFrame,
                             diffCols: Seq[String]): DataFrame = {
    val wP = Window.partitionBy(ProjectId)
    houseMax.select(col("*") +: diffCols.map { c =>
      (Aggregates.exactPercentile(
        when(col(huisMaxCol(c)) > 1e-8, col(huisMaxCol(c))), 0.95).over(wP) * 2)
        .as(upperBoundCol(c))
    }: _*)
  }

  /** The `avg_diffs` table: per (project, ReadingDate) mean of each diff
    * column over *included* households only (impute.py:93-118) — one output
    * column `<diff>_avg` per input. Exclusion is per column, so each column
    * is averaged under its own inclusion mask in a single aggregation pass:
    * avg(when(houseMax < bound, diff)).
    */
  def averageDiffs(df: DataFrame, maxBounds: DataFrame,
                   diffCols: Seq[String]): DataFrame = {
    // maxBounds is one row per HOUSEHOLD — no forced broadcast: AQE
    // broadcasts while it is actually small and falls back to a shuffle
    // join at fleet scale, where the fact side is already hash-partitioned
    // on (project, house) and only the bounds table moves.
    val withBounds = df.join(maxBounds, Seq(ProjectId, HouseId), "left")
    def masked(c: String) =
      when(col(huisMaxCol(c)) < col(upperBoundCol(c)), col(c))
    // decimal-exact mean: order-independent (stable under repartitioning
    // at cluster scale) and engine-portable (see Aggregates.exactMean)
    val aggs = diffCols.map(c => Aggregates.exactMean(masked(c)).as(c + "_avg"))
    withBounds.groupBy(col(ProjectId), col(ReadingDate))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** I2 — the full preparation: returns (avg_diffs, household_diff_max_bounds)
    * (prepare_diffs_for_impute, impute.py:469-537). Negative diffs raise in
    * the reference (impute.py:107-109); here they pass through, and a
    * caller that needs the reference's gate counts them first.
    *
    * Cost shape: two map-side-combining passes over `df` (house maxima;
    * per-(project, ReadingDate) masked means) in addition to the
    * consumer's own — fine when `df` is a stored table, where each pass
    * is a pruned scan. When `df` is an expensive derived lineage (long
    * window chains), cut it first (a written stage, localCheckpoint, or
    * cache); each pass re-executes the lineage otherwise.
    */
  def prepare(df: DataFrame, cumulativeCols: Seq[String]): (DataFrame, DataFrame) = {
    val diffCols = cumulativeCols.map(diffCol)
    val maxBounds = householdMaxWithBounds(householdMax(df, diffCols), diffCols)
    (averageDiffs(df, maxBounds, diffCols), maxBounds)
  }

  /** J4 — join the prepared averages back onto the household frame on
    * (ProjectIdBSV, ReadingDate) (impute.py:642). The averages table is
    * |projects| x |timestamps| rows — anywhere from tiny (coarse reading
    * grid) to fact-table-sized (per-event timestamps), so the DEFAULT is
    * no hint: AQE broadcasts when the built side is actually small and
    * falls back to a shuffle join otherwise. An unconditional broadcast
    * hint here (the old default) overrides Spark's size checks and ships
    * the full averages table to every executor even when it has millions
    * of rows — a straight scale-killer at 100 TB.
    */
  def joinAverages(df: DataFrame, avgDiffs: DataFrame): DataFrame =
    df.join(avgDiffs, Seq(ProjectId, ReadingDate), "left")
}
