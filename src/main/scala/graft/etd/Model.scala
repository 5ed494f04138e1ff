package graft.etd

import org.apache.spark.sql.types._

/** ETD data-model constants, re-declared from their usage in the reference
  * (they live in the external `etdmap` package there and are imported, not
  * defined: /root/reference/etdtransform/aggregate.py:9-10,
  * /root/reference/etdtransform/vectorized_impute.py:6).
  *
  * Grain: one row per (ProjectIdBSV, HuisIdBSV, ReadingDate) at 5 minutes —
  * sort keys at /root/reference/etdtransform/impute.py:441.
  */
object Model {

  /** Key column names (reference grain, SURVEY §1.4). */
  val ProjectId = "ProjectIdBSV"
  val HouseId = "HuisIdBSV"
  val ReadingDate = "ReadingDate"

  /** The 13 cumulative meter columns (SURVEY §1.4, inferred from the
    * household_aggregated_diff fixture's 13 Diff columns).
    */
  val cumulativeColumns: Seq[String] = Seq(
    "ElektriciteitNetgebruikHoog",
    "ElektriciteitNetgebruikLaag",
    "ElektriciteitTerugleveringHoog",
    "ElektriciteitTerugleveringLaag",
    "Gasgebruik",
    "ElektriciteitsgebruikWTW",
    "ElektriciteitsgebruikWarmtepomp",
    "ElektriciteitsgebruikBooster",
    "ElektriciteitsgebruikBoilervat",
    "ElektriciteitsgebruikRadiator",
    "WarmteproductieWarmtepomp",
    "WatergebruikWarmTapwater",
    "Zon-opwekTotaal",
  )

  /** Column-family naming conventions (reference:
    * /root/reference/etdtransform/impute.py:444-467 and
    * /root/reference/etdtransform/vectorized_impute.py:197-201).
    */
  def diffCol(c: String): String = c + "Diff"
  def avgCol(c: String): String = diffCol(c) + "_avg"
  def isImputedCol(c: String): String = diffCol(c) + "_is_imputed"
  def imputeTypeCol(c: String): String = diffCol(c) + "_impute_type"
  def originalCol(c: String): String = c + "Original"
  def checkCol(c: String): String = c + "Check"
  def huisMaxCol(diff: String): String = diff + "_huis_max"
  def upperBoundCol(diff: String): String = diff + "_upper_bound"

  /** Imputation method flags, 1:1 with the reference IntFlag enum
    * (/root/reference/etdtransform/vectorized_impute.py:785-829). Values are
    * the auto() bit flags: method k has value 1 << (k-1) for the bitmask
    * conversion (vectorized_impute.py:44-53).
    */
  object ImputeType {
    val None = 0
    val NegativeGapJump = 1
    val NearZeroGapJump = 2
    val LinearFill = 4
    val ScaledFill = 8
    val ZeroEndValue = 16
    val PositiveEndValue = 32
    val NoEndValue = 64
    val ThresholdAdjusted = 128
  }

  /** Physical-plausibility thresholds per Diff column
    * (reference: etdmap `thresholds_dict`, applied at
    * /root/reference/etdtransform/vectorized_impute.py:758-767). The exact
    * numbers live in etdmap and are not vendored; these are engineering
    * bounds for a 5-minute interval chosen so the clamp logic (I9) is
    * exercised and testable. Units: kWh / m3 / L per 5 min.
    */
  val thresholds: Map[String, (Double, Double)] = {
    val elec5min = (0.0, 2.0)  // 24 kW sustained max for a household circuit
    Map(
      "ElektriciteitNetgebruikHoogDiff" -> elec5min,
      "ElektriciteitNetgebruikLaagDiff" -> elec5min,
      "ElektriciteitTerugleveringHoogDiff" -> elec5min,
      "ElektriciteitTerugleveringLaagDiff" -> elec5min,
      "GasgebruikDiff" -> (0.0, 1.0),
      "ElektriciteitsgebruikWTWDiff" -> (0.0, 0.5),
      "ElektriciteitsgebruikWarmtepompDiff" -> elec5min,
      "ElektriciteitsgebruikBoosterDiff" -> elec5min,
      "ElektriciteitsgebruikBoilervatDiff" -> elec5min,
      "ElektriciteitsgebruikRadiatorDiff" -> elec5min,
      "WarmteproductieWarmtepompDiff" -> (0.0, 4.0),
      "WatergebruikWarmTapwaterDiff" -> (0.0, 60.0),
      "Zon-opwekTotaalDiff" -> elec5min,
    )
  }

  /** One resample interval: its name, bucket width, the min_count of
    * 5-min source rows a non-null aggregate needs (aggregate.py:830-841),
    * the kWh<->kW unit multiplier (calculated_columns.py:530-556) and the
    * Spark window duration.
    */
  final case class Interval(name: String, seconds: Long, minCount: Int,
                            kwMultiplier: Double, duration: String)

  /** The five production intervals, in pipeline order. */
  val Intervals: Seq[Interval] = Seq(
    Interval("5min", 300L, 1, 12.0, "5 minutes"),
    Interval("15min", 900L, 3, 4.0, "15 minutes"),
    Interval("60min", 3600L, 12, 1.0, "1 hour"),
    Interval("6h", 21600L, 72, 1.0 / 6.0, "6 hours"),
    Interval("24h", 86400L, 288, 1.0 / 24.0, "1 day"))

  def interval(name: String): Interval =
    Intervals.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"Unknown interval $name"))

  /** kWh<->kW unit multiplier per interval (`switch_multiplier`). */
  def switchMultiplier(name: String): Double = interval(name).kwMultiplier

  /** Resample/aggregate method per variable
    * (/root/reference/etdtransform/aggregate.py:1046-1128): every active
    * entry is resample=sum, aggregate=avg; the Diff columns plus the 8
    * calculated energy-balance columns and ZonopwekBruto. The stable
    * variants compute the same sum/mean but accumulate in decimal
    * ([[Aggregates.sumMinCountStable]]/[[Aggregates.avgMinCountStable]]):
    * every pipeline variable is a rounded-at-definition artifact, so the
    * decimal sum is exact and the aggregate is deterministic under
    * repartitioning — a plain double sum changes in the last ulps with
    * partial-aggregation order, i.e. between any two cluster runs.
    */
  val aggregationVariables: Seq[(String, String, String)] = {
    val diffVars = Seq(
      "ElektriciteitNetgebruikHoogDiff", "ElektriciteitNetgebruikLaagDiff",
      "ElektriciteitTerugleveringHoogDiff", "ElektriciteitTerugleveringLaagDiff",
      "ElektriciteitsgebruikWTWDiff", "ElektriciteitsgebruikWarmtepompDiff",
      "ElektriciteitsgebruikBoosterDiff", "ElektriciteitsgebruikBoilervatDiff",
      "ElektriciteitsgebruikRadiatorDiff")
    val calcVars = Seq(
      "ZonopwekBruto", "TerugleveringTotaalNetto",
      "ElektriciteitsgebruikTotaalNetto", "Netuitwisseling",
      "ElektriciteitsgebruikTotaalWarmtepomp",
      "ElektriciteitsgebruikTotaalGebouwgebonden",
      "ElektriciteitsgebruikTotaalHuishoudelijk", "Zelfgebruik",
      "ElektriciteitsgebruikTotaalBruto")
    (diffVars ++ calcVars).map(v => (v, "sum_stable", "avg_stable"))
  }

  /** Household index (metadata) schema — the dimension table with the
    * Meenemen include-flag (/root/reference/etdtransform/aggregate.py:74-78).
    */
  val indexSchema: StructType = StructType(Seq(
    StructField(HouseId, LongType, nullable = false),
    StructField(ProjectId, LongType, nullable = false),
    StructField("Meenemen", BooleanType, nullable = false),
    StructField("Oppervlakte", DoubleType, nullable = true),
    StructField("Dataleverancier", StringType, nullable = true),
    StructField("Weerstation", StringType, nullable = true),
  ))
}
