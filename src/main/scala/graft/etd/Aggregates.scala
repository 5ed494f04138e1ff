package graft.etd

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** min_count-gated aggregate expressions (SURVEY §2.4 A5-A7).
  *
  * The reference gates group aggregates on data presence: a sum/max is NA
  * unless >= min_count non-null values are present
  * (/root/reference/etdtransform/aggregate.py:659-716 with min_count =
  * 60% of group size; /root/reference/etdtransform/aggregate.py:918-1041
  * with fixed per-interval counts), and avg is sum/count under the same gate
  * (/root/reference/etdtransform/aggregate.py:719-761).
  *
  * In Spark these are plain two-expression patterns — `when(count >= k, agg)`
  * — which stay inside partial+final hash aggregation and whole-stage
  * codegen; no UDAF needed. All expressions here are single-pass: one
  * groupBy computes every gated aggregate at once (the reference loops
  * per column and outer-joins results back together — J6 — which we
  * deliberately collapse into one agg pass).
  */
object Aggregates {

  /** Sum of `c`, null unless >= minCount non-null values (pandas
    * `sum(min_count=k)`).
    */
  def sumMinCount(c: Column, minCount: Column): Column =
    when(count(c) >= minCount, sum(c))

  /** Max of `c`, null unless >= minCount non-null values. */
  def maxMinCount(c: Column, minCount: Column): Column =
    when(count(c) >= minCount, max(c))

  /** Average as gated sum/count (aggregate.py:745-761 computes sum and count
    * then np.where(count >= k, sum/count, NA)).
    */
  def avgMinCount(c: Column, minCount: Column): Column =
    when(count(c) >= minCount, sum(c) / count(c))

  /** The project-aggregation gate: 60% of the full group size including
    * null rows (aggregate.py:685: `min_count=size["n"] * 0.6`).
    */
  def sixtyPctOfGroup: Column = count(lit(1)) * 0.6

  /** Exact percentile with linear interpolation — matches pandas
    * `quantile(q)` default used at impute.py:59; deliberately NOT
    * approx_percentile (oracle exactness, SURVEY §2.4 A3).
    */
  def exactPercentile(c: Column, q: Double): Column = percentile(c, lit(q))

  /** Order-independent, engine-stable mean at a fixed decimal scale.
    *
    * Three fragilities in a plain `round(avg(x), 6)`, each observed in the
    * oracle compares:
    *   1. double summation order varies with the plan/engine — fixed by
    *      summing as DECIMAL (exact, so partitioning/parallelism cannot
    *      change the result: the property a 1000-executor run should have);
    *   2. decimal division is not portable (some engines divide decimals
    *      in double) — fixed by casting the exact sum to double FIRST
    *      (identical value everywhere) and dividing doubles;
    *   3. round(double, n) implementations disagree on half-step values
    *      (shortest-repr vs float-multiply) — fixed with floor-based
    *      rounding, floor(x*10^n + 0.5)/10^n, which is a pure function of
    *      the (identical) input double in every engine.
    */
  def exactMean(c: Column, scale: Int = 6): Column = {
    val f = math.pow(10, scale)
    val m = sum(c.cast("decimal(28,12)")).cast("double") / count(c)
    floor(m * f + 0.5) / f
  }

  /** min_count-gated variant of [[exactMean]] (A7 with the stable-mean
    * arithmetic).
    */
  def avgMinCountStable(c: Column, minCount: Column): Column =
    when(count(c) >= minCount, exactMean(c))

  /** Order-independent gated sum: accumulate in DECIMAL (exact — the result
    * cannot change with partitioning, parallelism, or engine), then cast
    * back to double. For inputs that are rounded-at-definition decimal
    * artifacts (every pipeline Diff/calculated column) the decimal sum is
    * the EXACT sum, so a 1000-executor run and a laptop run agree
    * bit-for-bit — which a plain double `sum()` does not (its value shifts
    * with partial-aggregation order between runs, let alone engines).
    */
  def sumMinCountStable(c: Column, minCount: Column): Column =
    when(count(c) >= minCount, sum(c.cast("decimal(28,12)")).cast("double"))

  /** The method-name -> gated-aggregate dispatch shared by
    * [[Resample.resample]] and [[ProjectAggregate.aggregate]] — one
    * vocabulary, so both stages accept exactly the same methods.
    */
  def gated(method: String, v: Column, minCount: Column): Column =
    method match {
      case "sum" => sumMinCount(v, minCount)
      case "sum_stable" => sumMinCountStable(v, minCount)
      case "max" => maxMinCount(v, minCount)
      case "avg" => avgMinCount(v, minCount)
      case "avg_stable" => avgMinCountStable(v, minCount)
      case other => throw new IllegalArgumentException(s"Unknown method $other")
    }
}
