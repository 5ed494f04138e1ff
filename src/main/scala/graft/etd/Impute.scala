package graft.etd

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GroupKeys
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StructField, StructType}

import Model._

/** The vectorized gap-imputation core (SURVEY §2.9 I3-I9) in two forms:
  * the per-column building blocks I3..I9, Catalyst column expressions over
  * per-house windows (the single-column queries and the test-scope
  * `SequentialImpute` oracle chain them), and the all-columns engine
  * [[imputeColumnsBatched]], one sorted pass per house in plain Scala.
  *
  * Reference semantics: /root/reference/etdtransform/vectorized_impute.py —
  * gap/cumulative grouping at :343-426 (I3), gap statistics at :481-530
  * (I4), impute inputs at :532-552 (I5), house scaling factor at :554-587
  * (I6), the impute cascade with known gap jump at :630-686 (I7) and
  * without at :688-756 (I8), threshold clamping at :58-109 (I9).
  *
  * Spark-first translation notes:
  *   - The reference shifts/cumsums over a *globally sorted* frame and
  *     hand-masks house transitions (vectorized_impute.py:390-395). Here
  *     every window (and the batched engine's group) is one
  *     (ProjectIdBSV, HuisIdBSV), which removes the masking and makes
  *     group ids per-house (SURVEY §7.4.2): all downstream logic grouping
  *     by gap therefore keys on (house keys, cumulative_value_group),
  *     never on the id alone.
  *   - pandas nullable Float64 NA maps to Spark null; the divisions in I6
  *     guard zero denominators explicitly because Spark double division
  *     yields Infinity, not null (SURVEY §7.4.3).
  */
object Impute {

  /** W(house): the single ordering every impute window shares
    * (mirrors sort_for_impute, /root/reference/etdtransform/impute.py:441).
    */
  def houseWindow = Window.partitionBy(ProjectId, HouseId).orderBy(ReadingDate)

  private def houseAll = Window.partitionBy(ProjectId, HouseId)
    .orderBy(ReadingDate)
    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  private def runningHouse = houseWindow
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Whole-gap frame: all rows of one gap group, in reading order. */
  private def gapAll = Window
    .partitionBy(ProjectId, HouseId, "cumulative_value_group")
    .orderBy(ReadingDate)
    .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

  /** I3 — gap & cumulative-value grouping
    * (vectorized_impute.py:343-426, process_gap_and_cumulative_groups).
    *
    * Adds:
    *   - `cumulative_value_group` (long, per house; null on rows where the
    *     diff is present): id of the NA-run sub-split at rows where the
    *     cumulative column IS present inside a gap,
    *   - `gap_length` (long, null outside gaps): rows in the group.
    */
  def withGapGroups(df: DataFrame, diffC: String, cumC: String): DataFrame = {
    val isNa = col(diffC).isNull
    // First row of a house: lag is null -> coalesce(false) -> gap starts iff NA
    // (replaces the reference's explicit house-transition mask).
    val gapStart = isNa && !coalesce(lag(isNa, 1).over(houseWindow), lit(false))
    // Sub-split boundary: the row AFTER a non-NA cumulative value inside a gap.
    val cumSeen = col(cumC).isNotNull && isNa
    val bump = coalesce(lag(cumSeen, 1).over(houseWindow), lit(false)) || gapStart
    val group = sum(bump.cast("long")).over(runningHouse)
    val out = df
      .withColumn("cumulative_value_group", when(isNa, group))
    out.withColumn("gap_length",
      when(col("cumulative_value_group").isNotNull, count(lit(1)).over(gapAll)))
  }

  /** I4 — per-gap statistics (vectorized_impute.py:481-530, 607-617).
    *
    * Adds `prev_cum_value` (cumulative value on the row immediately before
    * the gap; null if negative or at house start), `end_cum_value` (last
    * non-null cumulative value inside the gap; null if negative),
    * `gap_jump` = end - prev, and `gap_jump_is_na`.
    */
  def withGapStats(df: DataFrame, cumC: String): DataFrame = {
    val grp = col("cumulative_value_group")
    val firstInGroup = grp.isNotNull &&
      !(lag(grp, 1).over(houseWindow) <=> grp)
    val prevCandidate = {
      val p = lag(col(cumC), 1).over(houseWindow)
      when(firstInGroup && p >= 0, p) // negative prev invalid (vi.py:498-500)
    }
    df
      // only the group's first row carries the candidate -> max broadcasts it
      .withColumn("prev_cum_value", when(grp.isNotNull, max(prevCandidate).over(gapAll)))
      .withColumn("end_cum_value", {
        val e = last(col(cumC), ignoreNulls = true).over(gapAll)
        when(grp.isNotNull && !(e < 0), e) // end<0 -> NA (vi.py:611-614)
      })
      .withColumn("gap_jump", col("end_cum_value") - col("prev_cum_value"))
      .withColumn("gap_jump_is_na", col("gap_jump").isNull && grp.isNotNull)
  }

  /** I5 — impute inputs (vectorized_impute.py:532-552).
    * `impute_values` = avg with nulls as 0, `impute_jump` = their sum per
    * gap, `impute_na_ratio` = missing-average share of the gap.
    */
  def withImputeInputs(df: DataFrame, avgC: String): DataFrame = {
    val grp = col("cumulative_value_group")
    df
      .withColumn("impute_values", coalesce(col(avgC), lit(0.0)))
      .withColumn("impute_jump", when(grp.isNotNull, sum("impute_values").over(gapAll)))
      .withColumn("impute_na_ratio",
        when(grp.isNotNull,
          sum(col(avgC).isNull.cast("long")).over(gapAll) / col("gap_length")))
  }

  /** I6 — per-house scaling factor for averages
    * (vectorized_impute.py:554-587): Σavg/Σdiff over rows where both are
    * present and diff >= 0; forced to 1.0 when fewer than half the house's
    * rows are comparable, when the ratio is non-finite, or when missing.
    */
  def withHouseFactor(df: DataFrame, diffC: String, avgC: String): DataFrame = {
    val comparable = col(avgC).isNotNull && col(diffC).isNotNull && col(diffC) >= 0
    val avgSum = sum(when(comparable, col(avgC))).over(houseAll)
    val diffSum = sum(when(comparable, col(diffC))).over(houseAll)
    val nComparable = sum(comparable.cast("long")).over(houseAll)
    val nTotal = count(lit(1)).over(houseAll)
    val ratio = when(diffSum =!= 0.0, avgSum / diffSum) // inf guard
    df.withColumn("house_impute_factor",
      when(nComparable <= nTotal / 2.0, lit(1.0))
        .otherwise(coalesce(ratio, lit(1.0))))
  }

  /** I7 + I8 — the seven-branch impute cascade
    * (vectorized_impute.py:630-756). Branch conditions reproduce the
    * reference comparisons exactly, including the strict 1e-8 bounds.
    * Returns (imputedDiff, imputeType) column expressions.
    *
    * ACCEPTED DEVIATION: fill values round with Spark/DuckDB HALF_UP at
    * the 10th decimal where pandas Series.round is HALF_EVEN — they
    * differ only when a quotient's nearest double is an exact half-step
    * at 1e-10 (measure-zero for real meter data). The engine and its
    * oracle share HALF_UP, so cross-engine determinism is unaffected.
    */
  def imputeCascade(diffC: String): (Column, Column) = {
    val grp = col("cumulative_value_group")
    val jump = col("gap_jump")
    val end = col("end_cum_value")
    val prev = col("prev_cum_value")
    val iv = col("impute_values")
    val imputeJump = col("impute_jump")
    val gapLength = col("gap_length")
    val houseFactor = col("house_impute_factor")
    val hasJump = !col("gap_jump_is_na") && grp.isNotNull
    val noJump = col("gap_jump_is_na") && grp.isNotNull

    val imputed =
      when(hasJump && jump < 0, lit(0.0))
        .when(hasJump && jump >= 0 && jump < 1e-8, lit(0.0))
        .when(hasJump && jump >= 1e-8 && imputeJump < 1e-8,
          round(jump / gapLength, 10))
        .when(hasJump && jump >= 1e-8 && imputeJump >= 1e-8,
          round(iv * (jump / imputeJump), 10))
        .when(noJump && end.isNotNull && prev.isNull && end < 1e-8, lit(0.0))
        .when(noJump && end.isNotNull && prev.isNull && end > 1e-8, iv)
        .when(noJump && end.isNull && prev.isNotNull, iv * houseFactor)
        .otherwise(col(diffC)) // incl. no-start-no-end: left NA, logged upstream

    val imputeType =
      when(hasJump && jump < 0, lit(ImputeType.NegativeGapJump))
        .when(hasJump && jump >= 0 && jump < 1e-8, lit(ImputeType.NearZeroGapJump))
        .when(hasJump && jump >= 1e-8 && imputeJump < 1e-8,
          lit(ImputeType.LinearFill))
        .when(hasJump && jump >= 1e-8 && imputeJump >= 1e-8,
          lit(ImputeType.ScaledFill))
        .when(noJump && end.isNotNull && prev.isNull && end < 1e-8,
          lit(ImputeType.ZeroEndValue))
        .when(noJump && end.isNotNull && prev.isNull && end > 1e-8,
          lit(ImputeType.PositiveEndValue))
        .when(noJump && end.isNull && prev.isNotNull, lit(ImputeType.NoEndValue))

    (imputed, imputeType)
  }

  /** I9 — threshold clamping (vectorized_impute.py:58-109): values outside
    * [lo, hi] are replaced by the project average and OR-flagged
    * THRESHOLD_ADJUSTED on top of any earlier impute type.
    */
  def applyThresholds(df: DataFrame, diffC: String, avgC: String,
                      isImputedC: String, imputeTypeC: String,
                      lo: Double, hi: Double): DataFrame = {
    val outside = (col(diffC) < lo || col(diffC) > hi) && col(diffC).isNotNull
    df
      .withColumn(imputeTypeC,
        when(outside,
          coalesce(col(imputeTypeC), lit(ImputeType.None))
            .bitwiseOR(lit(ImputeType.ThresholdAdjusted)))
          .otherwise(col(imputeTypeC)))
      .withColumn(isImputedC, when(outside, lit(true)).otherwise(col(isImputedC)))
      .withColumn(diffC, when(outside, col(avgC)).otherwise(col(diffC)))
  }

  /** All-columns imputation: I3..I9 for every column in `cums` as ONE
    * sorted pass per house — a `flatMapSortedGroups` over
    * (ProjectIdBSV, HuisIdBSV) ordered by ReadingDate (the reference's
    * sort_for_impute order, impute.py:415-441), whose kernel computes the
    * gap groups, gap statistics, impute inputs, house factor, cascade and
    * thresholds of each column in plain Scala over the house's rows. The
    * plan is one exchange (none when the input is already partitioned by
    * the house keys), one sort and one group node, however many columns.
    *
    * Every value equals chaining the per-column building blocks above one
    * column at a time (the test-scope `SequentialImpute.imputeColumn`,
    * which ImputeSpec pins this against bit for bit): double sums start
    * from null and add `coalesce(sum, 0.0) + x` in reading order,
    * comparisons order doubles as Spark SQL does (NaN greatest, -0.0 ==
    * 0.0) and fills round like Spark's `round(x, 10)`.
    *
    * Output: the input columns in order, each `<col>Diff` replaced by its
    * imputed value; with `keepGapCols` then `__cvg_<col>` for every column
    * and `__gap_length_<col>` for every column (the per-column
    * `cumulative_value_group`/`gap_length` the pipeline's gap-stats pass
    * consumes); then `<col>Diff_impute_type` and `<col>Diff_is_imputed`
    * per column. The Diff, cumulative and `_avg` inputs must be double.
    *
    * Memory: a task holds one house at a time — its deserialized rows plus
    * a few primitive arrays per column — so its peak is O(rows of one
    * house), like the per-partition buffer of a window operator.
    */
  def imputeColumnsBatched(df: DataFrame, cums: Seq[String],
                           keepGapCols: Boolean = false): DataFrame = {
    val in = df.schema
    def doubleIx(name: String): Int = {
      val i = in.fieldIndex(name)
      require(in(i).dataType == DoubleType,
        s"imputeColumnsBatched: $name is ${in(i).dataType.sql}, not DOUBLE")
      i
    }
    val (lo, hi) = cums.map(c => thresholds.getOrElse(diffCol(c),
      (Double.NegativeInfinity, Double.PositiveInfinity))).unzip
    val kernel = new HouseKernel(
      cums.map(c => doubleIx(diffCol(c))).toArray,
      cums.map(doubleIx).toArray,
      cums.map(c => doubleIx(avgCol(c))).toArray,
      lo.toArray, hi.toArray, keepGapCols, in.length)

    val diffs = cums.map(diffCol).toSet
    val gapFields =
      if (!keepGapCols) Nil
      else cums.map(c => StructField(s"__cvg_$c", LongType)) ++
        cums.map(c => StructField(s"__gap_length_$c", LongType))
    val outSchema = StructType(
      in.fields.toSeq.map(f =>
        if (diffs(f.name)) StructField(f.name, DoubleType) else f) ++
      gapFields ++
      cums.flatMap(c => Seq(
        StructField(imputeTypeCol(c), IntegerType),
        StructField(isImputedCol(c), BooleanType, nullable = false))))
    val keys = Seq(ProjectId, HouseId)
    val out = df.groupBy(keys.map(col): _*)
      .as[Row, Row](Encoders.row(StructType(keys.map(in(_)))), Encoders.row(in))
      .flatMapSortedGroups(col(ReadingDate))(
        (_: Row, house: Iterator[Row]) => kernel(house))(Encoders.row(outSchema))
    // the kernel copies the keys, so the house partitioning it ran under
    // still serves the per-house windows and aggregations downstream
    GroupKeys.keep(out, df, keys)
  }

  /** Spark's `round(x, 10)` on a double: HALF_UP over the shortest
    * decimal representation; NaN and ±Inf pass through. The streaming
    * impute rounds with it too, so its fills stay bit-identical to the
    * batch cascade's.
    */
  private[graft] def round10(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The per-house kernel of [[imputeColumnsBatched]] over input rows
    * `width` wide: column j reads the Diff, cumulative and average at
    * `diffIx(j)`, `cumIx(j)`, `avgIx(j)` and clamps to [`lo(j)`, `hi(j)`].
    */
  private final class HouseKernel(diffIx: Array[Int], cumIx: Array[Int],
                                  avgIx: Array[Int], lo: Array[Double],
                                  hi: Array[Double], keepGapCols: Boolean,
                                  width: Int)
      extends Serializable {

    /** One column's results over the house. 0 stands for null in `cvg`,
      * `gapLength` and `imputeType`: a gap id counts at least its own
      * start, a gap holds a row, and every type the cascade or the clamp
      * writes has a bit set.
      */
    private final class Imputed(n: Int) {
      val diff = new Array[Double](n)
      val diffNull = new Array[Boolean](n)
      val cvg = new Array[Long](n)
      val gapLength = new Array[Long](n)
      val imputeType = new Array[Int](n)
    }

    def apply(house: Iterator[Row]): Iterator[Row] = {
      val rows = house.toArray
      val cols = diffIx.indices.map(imputeColumn(rows, _))
      val k = cols.size
      val gapWidth = if (keepGapCols) 2 * k else 0
      rows.iterator.zipWithIndex.map { case (r, i) =>
        val v = new Array[Any](width + gapWidth + 2 * k)
        var f = 0
        while (f < width) { v(f) = r.get(f); f += 1 }
        var j = 0
        while (j < k) {
          val c = cols(j)
          v(diffIx(j)) = if (c.diffNull(i)) null else c.diff(i)
          if (keepGapCols && c.cvg(i) != 0) {
            v(width + j) = c.cvg(i)
            v(width + k + j) = c.gapLength(i)
          }
          val ty = c.imputeType(i)
          v(width + gapWidth + 2 * j) = if (ty == 0) null else ty
          v(width + gapWidth + 2 * j + 1) = ty != 0
          j += 1
        }
        new GenericRow(v): Row
      }
    }

    /** I3..I9 for column j over one house's rows in reading order. */
    private def imputeColumn(rows: Array[Row], j: Int): Imputed = {
      val n = rows.length
      def read(ix: Int): (Array[Double], Array[Boolean]) = {
        val xs = new Array[Double](n)
        val na = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          if (rows(i).isNullAt(ix)) na(i) = true else xs(i) = rows(i).getDouble(ix)
          i += 1
        }
        (xs, na)
      }
      val (diff, diffNa) = read(diffIx(j))
      val (cum, cumNa) = read(cumIx(j))
      val (avg, avgNa) = read(avgIx(j))
      def iv(i: Int) = if (avgNa(i)) 0.0 else avg(i)
      val out = new Imputed(n)

      // I6 — house factor over the comparable rows (avg and diff present,
      // diff >= 0); both sums are null exactly when nComparable is 0
      var avgSum, diffSum = 0.0
      var nComparable = 0L
      var i = 0
      while (i < n) {
        if (!avgNa(i) && !diffNa(i) && compareDoubles(diff(i), 0.0) >= 0) {
          avgSum += avg(i)
          diffSum += diff(i)
          nComparable += 1
        }
        i += 1
      }
      val houseFactor =
        if (nComparable <= n / 2.0) 1.0
        else if (diffSum != 0.0) avgSum / diffSum // inf guard
        else 1.0

      // I3 — running group id: bump at a gap start and on the row after
      // a gap row whose cumulative value is present
      var grp = 0L
      i = 0
      while (i < n) {
        val lagNa = i > 0 && diffNa(i - 1)
        if (diffNa(i) && !lagNa || lagNa && !cumNa(i - 1)) grp += 1
        if (diffNa(i)) out.cvg(i) = grp
        i += 1
      }

      // I4/I5 + I7/I8 — per gap: each group is one contiguous run of rows
      var a = 0
      while (a < n) {
        if (out.cvg(a) == 0) a += 1
        else {
          var b = a
          while (b + 1 < n && out.cvg(b + 1) == out.cvg(a)) b += 1
          val gapLength = b - a + 1
          // the row before the gap; a negative one is invalid
          val hasPrev = a > 0 && !cumNa(a - 1) && compareDoubles(cum(a - 1), 0.0) >= 0
          val prev = if (hasPrev) cum(a - 1) else 0.0
          var hasEnd = false
          var end = 0.0
          var imputeJump = 0.0
          i = a
          while (i <= b) {
            if (!cumNa(i)) { hasEnd = true; end = cum(i) }
            imputeJump += iv(i)
            i += 1
          }
          hasEnd &&= compareDoubles(end, 0.0) >= 0 // end < 0 -> NA
          val jump = end - prev
          i = a
          while (i <= b) {
            out.gapLength(i) = gapLength
            var fill = 0.0
            val ty =
              if (hasPrev && hasEnd) {
                if (compareDoubles(jump, 0.0) < 0) ImputeType.NegativeGapJump
                else if (compareDoubles(jump, 1e-8) < 0) ImputeType.NearZeroGapJump
                else if (compareDoubles(imputeJump, 1e-8) < 0) {
                  fill = round10(jump / gapLength)
                  ImputeType.LinearFill
                } else {
                  fill = round10(iv(i) * (jump / imputeJump))
                  ImputeType.ScaledFill
                }
              } else if (hasEnd) {
                if (compareDoubles(end, 1e-8) < 0) ImputeType.ZeroEndValue
                else if (compareDoubles(end, 1e-8) > 0) {
                  fill = iv(i)
                  ImputeType.PositiveEndValue
                } else ImputeType.None
              } else if (hasPrev) {
                fill = iv(i) * houseFactor
                ImputeType.NoEndValue
              } else ImputeType.None // no start, no end: left NA
            out.imputeType(i) = ty
            if (ty == ImputeType.None) out.diffNull(i) = true
            else out.diff(i) = fill
            i += 1
          }
          a = b + 1
        }
      }

      // I9 — thresholds: a value outside [lo, hi] (NaN is above +Inf)
      // becomes the average, flagged THRESHOLD_ADJUSTED on top of its type
      i = 0
      while (i < n) {
        if (out.cvg(i) == 0) out.diff(i) = diff(i)
        val d = out.diff(i)
        if (!out.diffNull(i) &&
            (compareDoubles(d, lo(j)) < 0 || compareDoubles(d, hi(j)) > 0)) {
          out.diffNull(i) = avgNa(i)
          out.diff(i) = avg(i)
          out.imputeType(i) |= ImputeType.ThresholdAdjusted
        }
        i += 1
      }
      out
    }
  }
}
