package graft.etd

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Direct fidelity against the reference's OWN checked-in artifacts
  * (VERDICT r19 #2 — the last unverified class: every other parity
  * claim rests on synthetic fixtures + DuckDB oracles).
  *
  * The reference ships golden samples drawn with
  * `df.sample(n=100, random_state=42)` over same-length frames
  * (/root/reference/tests/test_helpers.py:63-75), and each row carries
  * the original pandas index as `__index_level_0__` — so
  * `sample_household_imputed` and `sample_household_calculated` hold
  * the SAME underlying rows and can be joined exactly on that index
  * (the calculated frame adds row-local columns to the imputed frame:
  * /root/reference/etdtransform/calculated_columns.py:9-139). A full
  * workflow replay is impossible (no raw inputs are checked in), but
  * this row-local stage is testable on real reference-produced data:
  * feed the imputed sample through [[Calculated.addEnergyBalance]] and
  * the 8 derived measures + the ZonopwekBruto rename must match the
  * calculated sample.
  *
  * Tolerance: the Scala expression trees replicate the reference's
  * operand ORDER (left-to-right IEEE adds over fillna(0) inputs), so
  * agreement should be bitwise; the assert allows 1e-9 relative slack
  * purely so a future JIT/strictfp wrinkle fails with a value report
  * rather than a flaky bit mismatch.
  */
class GoldenSampleSpec extends AnyFunSuite {
  import SharedSpark.spark

  private val dataDir = "/root/reference/tests/data"
  private val key = "__index_level_0__"

  private val derived = Seq(
    "ZonopwekBruto",
    "TerugleveringTotaalNetto",
    "ElektriciteitsgebruikTotaalNetto",
    "Netuitwisseling",
    "ElektriciteitsgebruikTotaalWarmtepomp",
    "ElektriciteitsgebruikTotaalGebouwgebonden",
    "ElektriciteitsgebruikTotaalHuishoudelijk",
    "Zelfgebruik",
    "ElektriciteitsgebruikTotaalBruto")

  /** (index -> per-column Option[value]) for the named columns. */
  private def byIndex(df: DataFrame,
                      cols: Seq[String]): Map[Long, Seq[Option[Double]]] =
    df.select((key +: cols).map(df.col): _*).collect().map { r =>
      r.getLong(0) -> cols.indices.map(i =>
        if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1)))
    }.toMap

  test("addEnergyBalance reproduces the reference's golden " +
      "sample_household_calculated from sample_household_imputed") {
    val present =
      new java.io.File(s"$dataDir/sample_household_imputed.parquet").exists()
    // a cancel still reads as "All tests passed": say so on stdout first
    if (!present) println("[golden] SKIPPED: reference absent")
    assume(present, "reference golden samples not present in this environment")
    val imputed =
      spark.read.parquet(s"$dataDir/sample_household_imputed.parquet")
    val golden =
      spark.read.parquet(s"$dataDir/sample_household_calculated.parquet")

    // the same-rows premise itself, checked not assumed: identical key
    // sets and an untouched input column agreeing per row
    val passthrough = "ElektriciteitNetgebruikHoogDiff"
    val inOurs = byIndex(imputed, Seq(passthrough))
    val inGold = byIndex(golden, Seq(passthrough))
    assert(inOurs.keySet == inGold.keySet && inOurs.size == 100,
      "samples must pair row-for-row on the preserved pandas index")
    for ((k, v) <- inOurs)
      assert(v == inGold(k), s"$passthrough must ride through unchanged " +
        s"between the two samples (index $k)")

    val ours = byIndex(Calculated.addEnergyBalance(imputed), derived)
    val gold = byIndex(golden, derived)
    assert(ours.keySet == gold.keySet)
    var compared = 0
    for ((k, ovs) <- ours; (name, i) <- derived.zipWithIndex) {
      (ovs(i), gold(k)(i)) match {
        case (Some(o), Some(g)) =>
          assert(o == g || math.abs(o - g) <= 1e-9 * math.max(1.0, math.abs(g)),
            s"$name diverges from the reference artifact at index $k: " +
              s"ours $o vs golden $g")
        case (o, g) =>
          // only the renamed passthrough can be null (fillna(0) makes
          // every computed measure non-null) — and then on BOTH sides
          assert(o == g, s"$name null-mismatch at index $k: ours $o vs $g")
      }
      compared += 1
    }
    assert(compared == 900, "9 derived columns x 100 golden rows")
  }
}
