package graft.etd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Derived energy-balance columns and datetime normalization
  * (SURVEY §2.9 I13-I15).
  *
  * Reference: add_calculated_columns_imputed_data at
  * /root/reference/etdtransform/calculated_columns.py:9-139 (fillna branch —
  * the non-fillna branch is broken in the reference and intentionally not
  * reproduced, SURVEY §7.4.8), switch_multiplier at :530-556,
  * add_normalized_datetime at :561-615.
  */
object Calculated {

  private def z(c: String): Column = coalesce(col(c), lit(0.0))

  /** I13 — the 8 derived measures + the Zon-opwekTotaalDiff ->
    * ZonopwekBruto rename, every input null-treated as 0. Pure
    * projections fused by whole-stage codegen, no shuffle. THREE
    * dependency-leveled selects rather than nine chained withColumns: in
    * the composed pipeline this sits atop an ~80-node plan, and every
    * chained withColumn re-runs the analyzer over the whole accumulated
    * tree — the same superlinear-cost shape the batched impute and
    * cumulative rebuild already avoid.
    */
  def addEnergyBalance(df: DataFrame): DataFrame = {
    val star = col("*")
    // drop any pre-existing output columns before projecting, so a
    // re-application (a stage re-loaded via Tables and re-derived)
    // replaces in place like the old withColumn chain instead of
    // emitting duplicate names that break later references
    def level(d: DataFrame, outs: Seq[(String, Column)]): DataFrame =
      d.drop(outs.map(_._1): _*) // one varargs drop: each single-name
        // drop was a full analyzer pass over the ~150-column tree (r21)
        .select(star +: outs.map { case (n, c) => c.as(n) }: _*)
    val l1 = level(df.withColumnRenamed("Zon-opwekTotaalDiff", "ZonopwekBruto"),
      Seq(
        "TerugleveringTotaalNetto" ->
          (z("ElektriciteitTerugleveringLaagDiff") +
            z("ElektriciteitTerugleveringHoogDiff")),
        "ElektriciteitsgebruikTotaalNetto" ->
          (z("ElektriciteitNetgebruikLaagDiff") +
            z("ElektriciteitNetgebruikHoogDiff")),
        "ElektriciteitsgebruikTotaalWarmtepomp" ->
          (z("ElektriciteitsgebruikWarmtepompDiff") +
            z("ElektriciteitsgebruikBoosterDiff"))))
    val l2 = level(l1, Seq(
      "Netuitwisseling" ->
        (z("ElektriciteitsgebruikTotaalNetto") - z("TerugleveringTotaalNetto")),
      "ElektriciteitsgebruikTotaalGebouwgebonden" ->
        (z("ElektriciteitsgebruikTotaalWarmtepomp") + z("ElektriciteitsgebruikBoilervatDiff")
          + z("ElektriciteitsgebruikWTWDiff") + z("ElektriciteitsgebruikRadiatorDiff")),
      "Zelfgebruik" -> (z("ZonopwekBruto") - z("TerugleveringTotaalNetto"))))
    level(l2, Seq(
      "ElektriciteitsgebruikTotaalHuishoudelijk" ->
        (z("Netuitwisseling") + z("ZonopwekBruto")
          - z("ElektriciteitsgebruikTotaalGebouwgebonden")),
      "ElektriciteitsgebruikTotaalBruto" ->
        (z("ElektriciteitsgebruikTotaalNetto") + z("Zelfgebruik"))))
  }

  /** I14 — kWh-per-interval -> kW conversion column. */
  def toPower(c: Column, interval: String): Column =
    c * lit(Model.switchMultiplier(interval))

  /** I15 — normalized datetime: project every timestamp onto the
    * reference week of Monday 2023-01-02 so analyses depend on (weekday, time-of-day) only
    * (calculated_columns.py:561-615). weekday() is Monday=0 — matching
    * pandas dt.dayofweek and the ibis .index() the reference uses.
    */
  def normalizedDatetime(ts: Column): Column = {
    val dayOffset = weekday(ts).cast("int")
    val timeOfDay = ts.cast("long") - unix_timestamp(to_date(ts))
    to_timestamp(lit("2023-01-02")) +
      make_dt_interval(dayOffset, lit(0), lit(0), timeOfDay)
  }
}
