package graft.etd

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import Model._

/** Imputation gap statistics and summaries (SURVEY §2.9 I10, §2.4
  * A11-A15).
  *
  * Reference: calculate_imputation_gap_stats at
  * /root/reference/etdtransform/vectorized_impute.py:168-188 (a pandas
  * groupby-apply returning a Series — here a single multi-expression
  * groupBy, A13), methods_to_bitwise at vectorized_impute.py:18-55 (A15),
  * and the house/project summaries at
  * /root/reference/etdtransform/impute.py:662-761 (A11/A12/A14, J8).
  */
object ImputeSummaries {

  /** I10/A13 — per (project, house) stats for one column after imputation
    * (requires the per-column `gap_length`/`cumulative_value_group`
    * columns, which Impute.imputeColumnsBatched(keepGapCols = true)
    * emits as `__gap_length_<col>`/`__cvg_<col>`). One aggregation pass
    * replaces the reference's groupby-apply.
    */
  def gapStats(df: DataFrame, cum: String): DataFrame = {
    val diffC = diffCol(cum)
    val impTy = imputeTypeCol(cum)
    df.groupBy(col(ProjectId), col(HouseId))
      .agg(
        sum(diffC).as("diff_col_total"),
        (max(cum) - min(cum)).as("cum_col_min_max_diff"),
        (sum(diffC) - (max(cum) - min(cum))).as("deviation"),
        count(when(col("gap_length").isNotNull, 1)).as("missing"),
        // A12 input: distinct impute methods used, as a sorted array
        array_sort(collect_set(col(impTy))).as("methods"),
        count(col(impTy)).as("imputed"),
        (count(when(col("cumulative_value_group").isNotNull, 1))
          - count(col(impTy))).as("imputed_na"),
        // A15: methods -> bitmask, as a bit_or over the per-row ImputeType
        // flag values. ACCEPTED DEVIATION from methods_to_bitwise
        // (vectorized_impute.py:18-55): the reference folds 1 << (method-1)
        // over values that are ALREADY power-of-two IntFlags, yielding
        // 1<<3 for LINEAR_FILL(4), 1<<63 (the sign bit) for
        // NO_END_VALUE(64) and undefined shifts for THRESHOLD_ADJUSTED
        // composites like 132; the direct flag union is the sane encoding
        // of "set of methods used" and round-trips against
        // Model.ImputeType without a shift table.
        coalesce(bit_or(col(impTy)), lit(0)).cast("long").as("bitwise_methods"))
      .withColumn("column", lit(diffC))
  }

  /** Run gapStats for every column and union (impute.py:255-260's
    * per-column concat — J11).
    */
  def gapStatsAll(perColumn: Seq[DataFrame]): DataFrame =
    perColumn.reduce(_.unionByName(_))

  /** A14/J8 — house-level summary with total records and imputed
    * percentage (impute.py:672-699). The total-records side is a
    * per-house aggregate joined back (J8).
    */
  def householdSummary(gapStats: DataFrame, df: DataFrame): DataFrame = {
    val totals = df.groupBy(col(HouseId)).agg(count(lit(1)).as("total_records"))
    gapStats
      .join(totals, Seq(HouseId))
      .withColumn("percentage_imputed",
        col("imputed") / col("total_records") * 100)
  }

  /** A11/A12/A14 — project-level summary (impute.py:701-731): bit_or
    * reduce of bitmasks, set-union of method lists
    * (array_distinct(flatten(collect_list))), summed counts, then total
    * records joined and percentage derived.
    */
  def projectSummary(gapStats: DataFrame, df: DataFrame): DataFrame = {
    val totals = df.groupBy(col(ProjectId)).agg(count(lit(1)).as("total_records"))
    gapStats
      .groupBy(col(ProjectId), col("column"))
      .agg(
        bit_or(col("bitwise_methods")).as("bitwise_methods"),
        array_sort(array_distinct(flatten(collect_list(col("methods")))))
          .as("methods"),
        sum("missing").as("missing"),
        sum("imputed").as("imputed"),
        sum("imputed_na").as("imputed_na"))
      .join(totals, Seq(ProjectId))
      .withColumn("percentage_imputed",
        col("imputed") / col("total_records") * 100)
  }

  /** The >40%-imputed warning gate (impute.py:733-759) as data: rows that
    * would be warned about. Callers log/alert on the result.
    */
  def over40PctImputed(summary: DataFrame): DataFrame =
    summary.filter(col("percentage_imputed") > 40)

  /** Per-reading-date imputation statistics
    * (get_reading_date_imputation_stats,
    * /root/reference/etdtransform/impute.py:330-412): for each
    * (project, date, column) — imputed count, remaining-NA count, total
    * records, original count and the three percentages. The reference's
    * per-column groupby loop + concat is ONE grouped pass here: all
    * columns aggregate together (two exprs per column, map-side
    * combined), then the per-column stats unpivot via posexplode of an
    * already-aggregated frame — so the input is scanned once no matter
    * how many columns are audited, and the explode multiplies only
    * |groups| rows, never readings.
    *
    * `dateCol` defaults to ReadingDate; pass a coarser bucket to audit at
    * a different grain.
    */
  def readingDateStats(df: DataFrame, cums: Seq[String],
                       dateCol: String = ReadingDate): DataFrame = {
    val aggs = cums.flatMap { c =>
      Seq(
        coalesce(sum(col(isImputedCol(c)).cast("long")), lit(0L))
          .as(s"__imp_$c"),
        count(lit(1)).minus(count(col(diffCol(c)))).as(s"__na_$c"))
    }
    val g = df.groupBy(col(ProjectId), col(dateCol))
      .agg(count(lit(1)).as("total_records"), aggs: _*)
    g.select(col(ProjectId) +: col(dateCol) +: col("total_records") +:
        Seq(explode(array(cums.map(c => struct(
          lit(c).as("column"),
          col(s"__imp_$c").as("imputed"),
          col(s"__na_$c").as("na"))): _*)).as("__s")): _*)
      .select(col(ProjectId), col(dateCol), col("__s.column").as("column"),
        col("__s.imputed").as("imputed"), col("__s.na").as("na"),
        col("total_records"))
      .withColumn("original",
        col("total_records") - col("imputed") - col("na"))
      .withColumn("percent_imputed",
        col("imputed") / col("total_records") * 100)
      .withColumn("percent_na", col("na") / col("total_records") * 100)
      .withColumn("percent_original",
        col("original") / col("total_records") * 100)
  }

  /** Household cumulative-column validation report
    * (validate_household_column,
    * /root/reference/etdtransform/impute.py:262-327): the reference loops
    * households, logging and returning a per-house boolean; here the
    * whole fleet validates in ONE aggregation pass and the log lines
    * become flag columns. `valid` reproduces the reference's return value
    * exactly: false when the column is all-missing, sums to zero, or
    * never changes.
    *
    * Sums are decimal-exact (order-independent), so "== 0" cannot flip on
    * float summation order between engines; the reference's
    * round(sum, 10) == 0 test on rounded inputs is the same predicate.
    * For an all-missing house the reference returns early, never
    * evaluating the later checks — the zero_sum/no_change flags are
    * reported true there (pandas sum of all-NaN is 0.0; a vacuous skip),
    * which keeps `valid` identical.
    */
  def validateHouseholds(df: DataFrame, cum: String): DataFrame = {
    val dec = col(cum).cast("decimal(28,12)")
    val diffDec = col(diffCol(cum)).cast("decimal(28,12)")
    df.groupBy(col(HouseId))
      .agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col(cum))).as("n_na"),
        sum(dec).as("__sum"),
        (max(col(cum)) - min(col(cum))).as("__range"),
        sum(diffDec).as("__diff_sum"))
      .withColumn("all_missing", col("n_na") === col("n"))
      .withColumn("over_40_pct_na", col("n_na") / col("n") > 0.4)
      .withColumn("zero_sum", coalesce(col("__sum") === 0, lit(true)))
      .withColumn("no_change", coalesce(col("__range") === 0, lit(true)))
      .withColumn("no_nonzero_diff",
        coalesce(col("__diff_sum") === 0, lit(true)))
      .withColumn("valid",
        !(col("all_missing") || col("zero_sum") || col("no_change")))
      .drop("__sum", "__range", "__diff_sum")
  }
}
