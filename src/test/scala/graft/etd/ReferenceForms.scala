package graft.etd

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Model._

/** Reference forms of two ETD steps, kept as test oracles: the
  * per-column fold ResampleAndAggSpec pins the batched
  * [[ProjectAggregate.rebuildCumulative]] against, and the densified
  * bucket spine PropertiesSpec checks the resample skeleton with. Also
  * the reference's check helpers that no pipeline stage calls: its
  * negative-value gates as counts, and the sig-fig equality its tests
  * assert with.
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
    val secs = Model.interval(interval).seconds
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

  /** Data-quality gates the reference enforces with exceptions
    * (impute.py:107-109 negative diffs; vectorized_impute.py:540-541
    * negative impute values; :731-735 negative gap-end). Returns violation
    * counts; callers raise before committing the stage (SURVEY §4 note 4).
    */
  def violationCounts(df: DataFrame, diffC: String, avgC: String): DataFrame = {
    df.agg(
      count(when(col(diffC) < 0, 1)).as("negative_diffs"),
      count(when(col(avgC) < 0, 1)).as("negative_avgs"))
  }

  /** `round_to_sig_figs` (impute.py:243-246, the helper inside
    * `equal_sig_fig`): round to `sigFigs` significant figures with
    * Python `round` semantics — correctly-rounded DECIMAL rounding of
    * the exact binary value, half-to-even — which is exactly
    * `BigDecimal(x).setScale(n, HALF_EVEN)` over the raw double (the
    * string-valueOf constructor would pre-round and break ties).
    * Closes the last unported reference pair (VERDICT r17 missing #2);
    * the ORACLE discipline stays hash-exact — this exists for callers
    * porting reference TESTS that assert with sig-fig tolerance.
    */
  def roundToSigFigs(x: Double, sigFigs: Int): Double = {
    require(sigFigs >= 1, "roundToSigFigs: sigFigs must be >= 1")
    // non-finite input RAISES in the reference too (ADVICE r18): the
    // Python helper computes int(floor(log10(abs(x)))), which throws
    // OverflowError for ±inf and ValueError for NaN — passing them
    // through here would make equalSigFig(inf, inf, n) quietly true
    // where the reference fails loud
    if (x.isInfinite)
      throw new ArithmeticException(
        "roundToSigFigs: infinite input (reference raises OverflowError)")
    if (x.isNaN)
      throw new ArithmeticException(
        "roundToSigFigs: NaN input (reference raises ValueError)")
    if (x == 0.0) x
    else {
      val n = sigFigs - math.floor(math.log10(math.abs(x))).toInt - 1
      val r = new java.math.BigDecimal(x)
        .setScale(n, java.math.RoundingMode.HALF_EVEN).doubleValue()
      // Python's round raises OverflowError when the decimal-rounded
      // value exceeds double range (e.g. MaxValue at 1 sig fig rounds
      // UP to 2e308); silently returning Infinity would make
      // equalSigFig compare infinities instead of failing loud
      // (review finding r18)
      if (r.isInfinite)
        throw new ArithmeticException(
          "roundToSigFigs: rounded value too large to represent")
      r
    }
  }

  /** `equal_sig_fig` (impute.py:214-257): equality up to `sigFigs`
    * significant figures — both sides rounded via [[roundToSigFigs]],
    * then compared with `math.isclose`'s relative-tolerance rule at
    * rel_tol = 10^-sigFigs (`a == b or |a−b| ≤ rel·max(|a|,|b|)`).
    */
  def equalSigFig(a: Double, b: Double, sigFigs: Int): Boolean = {
    val ar = roundToSigFigs(a, sigFigs)
    val br = roundToSigFigs(b, sigFigs)
    val tol = math.pow(10.0, -sigFigs)
    ar == br ||
      math.abs(ar - br) <= tol * math.max(math.abs(ar), math.abs(br))
  }
}
