package graft.etd

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Staged write + analysis-loading facade round trip (SURVEY §3.1/§3.2):
  * Pipeline.writeStages persists the staged layout, Tables reads it back
  * lazily per interval with the optional index enrichment.
  */
class TablesSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import Model.{HouseId, ProjectId, ReadingDate}

  test("writeStages + Tables round trip with index enrichment") {
    val dir = graft.TempDirs.dir("facade").toFile.getAbsolutePath
    val cums = Seq("ElektriciteitNetgebruikLaag")
    val household = {
      val rows = for {
        (p, h) <- Seq((1L, 1L), (2L, 2L))
        t <- 0 until 48
      } yield (p, h, t.toLong, 0.05 * (t + 1))
      val base = rows.toDF(ProjectId, HouseId, "step", cums.head)
        .withColumn(ReadingDate, timestamp_seconds(col("step") * 300))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(ProjectId, HouseId).orderBy("step")
      // the other energy-balance inputs exist but stay null-safe (I13
      // coalesces every input to 0)
      Seq("ElektriciteitNetgebruikHoogDiff", "ElektriciteitTerugleveringLaagDiff",
        "ElektriciteitTerugleveringHoogDiff", "ElektriciteitsgebruikWarmtepompDiff",
        "ElektriciteitsgebruikBoosterDiff", "ElektriciteitsgebruikBoilervatDiff",
        "ElektriciteitsgebruikWTWDiff", "ElektriciteitsgebruikRadiatorDiff",
        "Zon-opwekTotaalDiff")
        .foldLeft(base.withColumn(Model.diffCol(cums.head),
          col(cums.head) - lag(cums.head, 1).over(w)))(
          (df, c) => df.withColumn(c, lit(null).cast("double")))
    }
    val stages = Pipeline.run(household, cums, intervals = Seq("5min", "60min"))
    Pipeline.writeStages(stages, dir)

    val index = Seq((1L, 1L, true, 100.0), (2L, 2L, true, 120.0))
      .toDF(HouseId, ProjectId, "Meenemen", "Oppervlakte")
    val hh = Tables.household(spark, dir, Some(index), Seq("5min", "60min"))
    assert(hh.keySet == Set("5min", "60min"))
    assert(hh("60min").columns.contains("Oppervlakte"), "index enrichment joined")
    assert(hh("60min").count() == 2 * 4, "2 houses x 4 hourly buckets")
    val proj = Tables.project(spark, dir, Seq("60min"))
    assert(proj("60min").columns.contains("n"))

    // metadata_columns parity: only the requested index columns join
    val hhSel = Tables.household(spark, dir, Some(index), Seq("60min"),
      metadataColumns = Some(Seq("Oppervlakte")))
    assert(hhSel("60min").columns.contains("Oppervlakte"))
    assert(!hhSel("60min").columns.contains("Meenemen"),
      "unrequested metadata column must not join")
  }
}
