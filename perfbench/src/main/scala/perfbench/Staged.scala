package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etd._
import graft.etd.Model._

/** The production write path: per-house files -> `Sources.combineHouseholds`
  * -> `Pipeline.run(localCheckpointEvery = Some(1))` -> `Pipeline.writeStages`
  * (all 15 sinks, parquet).
  */
object Staged {

  def index(spark: SparkSession, in: String): DataFrame =
    spark.read.parquet(s"${Gen.mappedDir(in)}/index.parquet")

  /** One untraced pass, exactly as a user runs it. */
  def pass(spark: SparkSession, in: String, out: String,
           partitionByProject: Boolean = false): Unit = {
    val combined = Sources.combineHouseholds(spark, Gen.mappedDir(in), index(spark, in))
    val stages = Pipeline.run(combined, localCheckpointEvery = Some(1))
    Pipeline.writeStages(stages, out, partitionByProject)
  }

  /** Check one pass's sinks: row counts against the generator's shape,
    * digests against `reference` (the first pass of the run, or the
    * recorded table), the ImputeType flags in household_imputed. Returns
    * (sink digests, failure messages); each failing sink is one failure.
    */
  def check(spark: SparkSession, out: String, seed: Long, shape: Gen.Shape,
            reference: String => Option[String])
      : (Map[String, String], Seq[String]) = {
    val expected = Checks.expectedRows(seed, shape)
    def read(n: String) = spark.read.parquet(s"$out/$n.parquet")
    val digests = Checks.concurrently(Checks.sinks.map(n =>
      () => n -> Checks.digest(read(n)))).toMap
    val missingFlags = Checks.missingFlags(read("household_imputed"))
    val failures = Checks.sinks.flatMap { n =>
      val d = digests(n)
      val rows = Checks.rowsOf(d)
      val flags = if (n == "household_imputed") missingFlags else Nil
      Seq(
        if (rows != expected(n)) Some(s"$n: $rows rows, expected ${expected(n)}") else None,
        reference(n).filter(_ != d).map(r => s"$n: digest $d, expected $r"),
        if (flags.nonEmpty) Some(s"$n: no ${flags.mkString(", ")} flag") else None
      ).flatten.headOption
    }
    (digests, failures)
  }

  /** The traced pass: the same composition as `Pipeline.run` +
    * `writeStages`, called module by module from here, with every module's
    * output materialized (`localCheckpoint`) before the next module is
    * called, so each span's time is that module's own. Returns per-layer
    * metrics; the sinks land in `out` so the caller can check them.
    */
  def tracedPass(spark: SparkSession, tr: Tracer, in: String, out: String,
                 partitionByProject: Boolean): Map[String, Double] = {
    val cums = cumulativeColumns
    def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    def book[T](body: => T): T = tr.span(Tracer.Bookkeeping)(body)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    val ix = book(cut(index(spark, in)))
    val combined = tr.span("Sources.combineHouseholds") {
      Sources.combineHouseholds(spark, Gen.mappedDir(in), ix)
    }
    val combinedCut = tr.span("Sources.combineHouseholds.scan")(cut(combined))
    book {
      m("Sources.combineHouseholds.files") = combined.inputFiles.length
      m("Sources.combineHouseholds.rows") = combinedCut.count()
    }
    // Pipeline.run's own glue: one exchange serves every per-house window
    val sorted = tr.span("Pipeline.repartition")(cut(combinedCut
      .repartition(col(ProjectId), col(HouseId))
      .sortWithinPartitions(ProjectId, HouseId, ReadingDate)))
    val avgDiffs = tr.span("Diffs.prepare")(cut(Diffs.prepare(sorted, cums)._1))
    book { m("Diffs.avg_rows") = avgDiffs.count() }
    val withAvgs = tr.span("Diffs.joinAverages")(cut(Diffs.joinAverages(sorted, avgDiffs)))
    val imputedAll = tr.span("Impute.imputeColumnsBatched") {
      val df = Impute.imputeColumnsBatched(withAvgs, cums, keepGapCols = true)
      m("Impute.imputeColumnsBatched.window_nodes") =
        df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }.size
      cut(df)
    }
    book {
      val na = withAvgs.select(cums.map(c =>
        sum(col(diffCol(c)).isNull.cast("long"))).reduce(_ + _)).head().getLong(0)
      // cells the cascade filled (any of its 7 method bits; the threshold
      // clamp alone is not a fill)
      val filled = imputedAll.select(cums.map(c =>
        sum(((coalesce(col(imputeTypeCol(c)), lit(0)) bitwiseAND 127) =!= 0)
          .cast("long"))).reduce(_ + _)).head().getLong(0)
      m("Impute.na_cells") = na
      m("Impute.imputed_cells") = filled
      m("Impute.imputed_ratio") = if (na == 0) 0.0 else filled.toDouble / na
    }
    val gapStats = tr.span("ImputeSummaries.gapStatsAll")(cut(
      ImputeSummaries.gapStatsAll(cums.map { c =>
        ImputeSummaries.gapStats(imputedAll
          .withColumn("gap_length", col(s"__gap_length_$c"))
          .withColumn("cumulative_value_group", col(s"__cvg_$c")), c)
      })))
    val imputed = tr.span("ProjectAggregate.rebuildCumulative")(cut(
      ProjectAggregate.rebuildCumulative(
        imputedAll.drop(cums.flatMap(c => Seq(s"__gap_length_$c", s"__cvg_$c")): _*),
        cums)))
    val hhSummary = tr.span("ImputeSummaries.householdSummary")(cut(
      ImputeSummaries.householdSummary(gapStats, imputed)))
    val prSummary = tr.span("ImputeSummaries.projectSummary")(cut(
      ImputeSummaries.projectSummary(gapStats, imputed)))
    val calculated = tr.span("Calculated.addEnergyBalance")(cut(
      Calculated.addEnergyBalance(imputed)))
    val legs = Checks.intervals.map { iv =>
      val res = tr.span(s"Resample.resampleStandard.$iv")(cut(
        Resample.resampleStandard(calculated, iv)))
      book {
        val present = calculated
          .select(col(HouseId), Resample.bucket(col(ReadingDate), iv).as("b"))
          .distinct().count()
        val rows = res.count()
        m(s"Resample.filler_ratio.$iv") =
          if (rows == 0) 0.0 else (rows - present).toDouble / rows
      }
      val agg = tr.span(s"ProjectAggregate.aggregateStandard.$iv")(cut(
        ProjectAggregate.aggregateStandard(res)))
      (iv, res, agg)
    }
    tr.span("Sources.writeStage") {
      def w(df: DataFrame, name: String, byProject: Boolean = false): Unit =
        tr.span(s"Sources.writeStage.$name")(
          Sources.writeStage(df, out, name, byProject))
      w(imputed, "household_imputed", partitionByProject)
      w(gapStats, "impute_gap_stats")
      w(hhSummary, "impute_summary_household")
      w(prSummary, "impute_summary_project")
      w(calculated, "household_calculated", partitionByProject)
      legs.foreach { case (iv, res, agg) =>
        w(res, s"household_$iv", partitionByProject)
        w(agg, s"project_$iv")
      }
    }
    val files = Files.dataFiles(new File(out))
    m("Sources.writeStage.mb_written") = files.map(_.length).sum / 1e6
    m("Sources.writeStage.files_written") = files.size
    m.toMap
  }
}
