package graft.etd

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Model._

/** Staged pipeline orchestration (SURVEY §3.1) and the analysis-loading
  * facade (SURVEY §3.2).
  *
  * Reference flow (README.md:157-297, enacted by
  * /root/reference/tests/test_total_imputation_workflow.py:24-152):
  * combine -> prepare diffs -> impute -> calculated -> resample
  * {5min,15min,60min,6h,24h} -> project aggregate. Each stage is a lazy
  * DataFrame -> DataFrame function; parquet writes between stages keep the
  * reference's restartability checkpoints, but *within* a stage Catalyst
  * pipelines everything (SURVEY §3.1 IR note).
  *
  * Plan (executed, AQE on): `run` repartitions the input to
  * (ProjectIdBSV, HuisIdBSV) ahead of the impute stage, but that is not
  * the only pass over it. Column pruning gives each consumer of the
  * repartitioned frame (the two `Diffs.prepare` branches and the
  * join-back) its own scan of the input files, and a sort-merge avg-diffs
  * join-back re-shuffles the readings by (ProjectIdBSV, ReadingDate), so
  * the impute pass shuffles them by house once more (a broadcast
  * join-back keeps the house partitioning). The impute pass keeps its
  * house partitioning for the cumulative rebuild and the gap statistics;
  * the project aggregation reuses the project-hash partitioning; sinks
  * partition by project so downstream reads prune.
  */
object Pipeline {

  /** The pipeline's stage handles. Every stage is built (and therefore
    * ANALYZED by Catalyst) on first access, then memoized: a consumer that
    * executes only `projectAggregated("24h")` pays analysis for that one
    * lineage — not for 13 gap-stats branches and every interval it never
    * touches. (Analysis is eager at Dataset creation in Spark, so a
    * strict Stages container was charging every caller the full
    * all-stages analyzer bill up front.)
    */
  final class Stages private[Pipeline] (
      val intervals: Seq[String],
      imputedThunk: () => DataFrame,
      gapStatsThunk: () => DataFrame,
      calculatedThunk: () => DataFrame) {
    lazy val imputed: DataFrame = imputedThunk()
    lazy val gapStats: DataFrame = gapStatsThunk()
    lazy val calculated: DataFrame = calculatedThunk()
    lazy val householdSummary: DataFrame =
      ImputeSummaries.householdSummary(gapStats, imputed)
    lazy val projectSummary: DataFrame =
      ImputeSummaries.projectSummary(gapStats, imputed)

    private val resampledCache =
      scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    /** A8 — the calculated frame resampled to `iv`. 5min resamples too
      * (the reference's resample_hh_data includes it): on-grid complete
      * input passes through value-identical, but off-grid timestamps
      * floor to their bucket and absent rows densify to NA fillers —
      * skipping it made the 60%-gate denominator of the 5min project
      * aggregation diverge from the reference wherever a row was missing.
      */
    def resampled(iv: String): DataFrame = {
      require(intervals.contains(iv), s"interval $iv not in $intervals")
      resampledCache.getOrElseUpdate(iv,
        Resample.resampleStandard(calculated, iv))
    }

    private val projectAggCache =
      scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    /** A5-A7/J6/J7 — project aggregation of the `iv` resample. */
    def projectAggregated(iv: String): DataFrame =
      projectAggCache.getOrElseUpdate(iv,
        ProjectAggregate.aggregateStandard(resampled(iv)))
  }

  /** Run the full transformation pipeline lazily over a combined household
    * frame (cumulative meters + Diff columns present). Nothing executes —
    * or is even analyzed — until the caller touches a stage. The impute
    * stage is [[Impute.imputeColumnsBatched]]: one sorted pass per house
    * for all columns. Any `localCheckpointEvery` value cuts
    * lineage once after the impute stage, so consumers of several stages
    * share one cascade execution. [[writeStages]] needs the cut for its
    * gap-stats sink only: every other sink builds from the parquet the
    * stage before it wrote, which is also the durable restart point.
    *
    * `assumeColocated = true` declares the input already hash-partitioned
    * on (ProjectIdBSV, HuisIdBSV) — a bucketed table written with
    * [[Sources.writeBucketed]] on those keys. The pipeline then relies on
    * the storage co-location instead of shuffling the full readings: the
    * one full-table exchange the impute pass otherwise requires
    * disappears from the plan (BucketingSpec asserts zero
    * house-partitioned exchanges remain; the only shuffles left touch
    * house- or project-grain aggregates). At 100 TB this turns every
    * pipeline run's largest exchange into a metadata no-op for the price
    * of one bucketed write.
    */
  def run(household: DataFrame,
          cumulativeCols: Seq[String] = cumulativeColumns,
          intervals: Seq[String] = Tables.intervals,
          localCheckpointEvery: Option[Int] = None,
          assumeColocated: Boolean = false)
      : Stages = {

    // The house repartition mirrors sort_for_impute (impute.py:415-441)
    // as a physical hint; a co-located input skips it and only sorts
    // within partitions. Whether it reaches the impute pass depends on
    // the avg-diffs join-back (see the plan note on [[Pipeline]]).
    // AQE's byte-based coalescing is left in charge of the exchange's
    // partition count: two r21 A/Bs on the 16-physical-core bench box,
    // run on the earlier window-node cascade, found that pinning 32 or
    // a rows-derived 13 partitions (vs AQE's coalesced 7) raised the
    // cascade stage's CPU (115 -> 213, 137 -> 198 CPU-s) at a flat wall.
    lazy val sorted =
      if (assumeColocated)
        household.sortWithinPartitions(ProjectId, HouseId, ReadingDate)
      else household
        .repartition(col(ProjectId), col(HouseId))
        .sortWithinPartitions(ProjectId, HouseId, ReadingDate)

    // I3..I9 for all columns in one sorted pass per house.
    // `localCheckpointEvery` (any value) means: cut lineage once after
    // the impute stage.
    lazy val imputedAll = {
      // I1/I2 — averages + bounds, then J4 join-back.
      val (avgDiffs, _) = Diffs.prepare(sorted, cumulativeCols)
      val withAvgs = Diffs.joinAverages(sorted, avgDiffs)
      val imputedAll0 = Impute.imputeColumnsBatched(withAvgs, cumulativeCols,
        keepGapCols = true)
      // eager = false skips only the cut's own count job: under AQE the
      // call still executes the adaptive plan, so every shuffle-map stage
      // below the cut (the input exchanges, the avg-diffs join-back, the
      // impute pass's house exchange) runs here, on the calling thread,
      // when the stage is first touched; only the final stage (the
      // impute pass itself) waits for the first consumer's job.
      // The cut's blocks belong to the caller: free them with
      // Checkpoints.free(<consumed stage frame>) after the last action
      // over the stages, or Checkpoints.sweep between measurements.
      localCheckpointEvery.fold(imputedAll0)(_ =>
        imputedAll0.localCheckpoint(eager = false))
    }

    // I10 — per-column gap stats, unioned.
    lazy val gapStats = ImputeSummaries.gapStatsAll(
      cumulativeCols.map { cum =>
        ImputeSummaries.gapStats(
          imputedAll
            .withColumn("gap_length", col(s"__gap_length_$cum"))
            .withColumn("cumulative_value_group", col(s"__cvg_$cum")),
          cum)
      })

    lazy val imputed = {
      val tempStatCols = cumulativeCols.flatMap(c =>
        Seq(s"__gap_length_$c", s"__cvg_$c"))
      ProjectAggregate.rebuildCumulative(
        imputedAll.drop(tempStatCols: _*), cumulativeCols)
    }

    // I13 — calculated energy-balance columns.
    lazy val calculated = Calculated.addEnergyBalance(imputed)

    new Stages(intervals, () => imputed, () => gapStats, () => calculated)
  }

  /** Write every stage as the reference's staged parquet layout
    * (SURVEY §1.1 eager-pipeline row; names mirror
    * aggregate.py:118-121,224-261,294-297,411-414,481-484).
    *
    * Staged like the reference: every stage after `household_imputed`
    * builds from the sink it depends on, read back from parquet
    * ([[Sources.readStage]]), never from the lazy lineage, so no sink
    * re-plans or re-runs an earlier stage:
    *   1. `household_imputed` from `stages.imputed`;
    *   2. beside each other: `impute_gap_stats` from `stages.gapStats`
    *      (the one sink that needs the gap columns the imputed sink
    *      drops, so it stays on [[run]]'s impute lineage) and
    *      `household_calculated` from the read-back imputed sink;
    *   3. beside each other: both summaries (read-back gap stats and
    *      imputed sink) and, per interval, `household_{iv}` from the
    *      read-back calculated sink, then `project_{iv}` from the
    *      read-back `household_{iv}`.
    * Sinks ready at the same point run concurrently, one thread each
    * ([[concurrently]]); the first sink to fail cancels the others and
    * its exception is the one thrown. Call it outside any SQL execution.
    *
    * Build `stages` with `localCheckpointEvery = Some(1)` to let the gap
    * stats share the impute cascade `household_imputed` executed; without
    * the cut that one sink re-runs the cascade.
    *
    * `partitionByProject` routes every HOUSEHOLD-grain sink through
    * `partitionBy(ProjectIdBSV)` so downstream project-sliced reads prune
    * at the directory level — the production layout. Project-grain sinks
    * (summaries, project_{iv}) stay unpartitioned: they are small by
    * construction and one file per project per table would be pure
    * small-file overhead.
    */
  def writeStages(stages: Stages, dir: String,
                  partitionByProject: Boolean = false): Unit = {
    val spark = stages.imputed.sparkSession
    def write(df: DataFrame, name: String, byProject: Boolean = false): Unit =
      Sources.writeStage(df, dir, name, byProject)
    def staged(df: DataFrame, name: String, byProject: Boolean): DataFrame = {
      write(df, name, byProject)
      Sources.readStage(df, dir, name)
    }

    val imputed = staged(stages.imputed, "household_imputed", partitionByProject)
    val Seq(gapStats, calculated) = concurrently(spark, Seq(
      () => staged(stages.gapStats, "impute_gap_stats", byProject = false),
      () => staged(Calculated.addEnergyBalance(imputed), "household_calculated",
        partitionByProject)))
    concurrently(spark, Seq(
      () => write(ImputeSummaries.householdSummary(gapStats, imputed),
        "impute_summary_household"),
      () => write(ImputeSummaries.projectSummary(gapStats, imputed),
        "impute_summary_project")
    ) ++ stages.intervals.map { iv => () =>
      val resampled = staged(Resample.resampleStandard(calculated, iv),
        s"household_$iv", partitionByProject)
      write(ProjectAggregate.aggregateStandard(resampled), s"project_$iv")
    })
  }

  /** Name prefix of [[concurrently]]'s pool threads. */
  private[etd] val SinkThreadPrefix = "etd-sink-"

  /** Runs `jobs` at once and returns their results in order: a fixed pool
    * of one thread per job, created from the caller's thread, so the
    * threads inherit its Spark local properties (call it outside any SQL
    * execution, whose id would be inherited too). Every Spark job the
    * threads submit carries one job tag. The first job to throw ends the
    * call: the other threads are interrupted and joined, the tagged Spark
    * jobs still running are cancelled, and that first exception is the
    * one thrown. On every path no pool thread is left alive.
    */
  private[etd] def concurrently[T](spark: SparkSession,
                                   jobs: Seq[() => T]): Seq[T] =
    if (jobs.isEmpty) Nil
    else {
      import java.util.concurrent._
      val sc = spark.sparkContext
      val tag = s"etd-sinks-${java.util.UUID.randomUUID()}"
      val threads = new ConcurrentLinkedQueue[Thread]()
      val pool = Executors.newFixedThreadPool(jobs.size, { (r: Runnable) =>
        val t = new Thread(r, SinkThreadPrefix + threads.size)
        t.setDaemon(true)
        threads.add(t)
        t
      })
      val done = new ExecutorCompletionService[T](pool)
      var failed = false
      try {
        val results = jobs.map(job => done.submit { () =>
          sc.addJobTag(tag)
          sc.setInterruptOnCancel(true)
          job()
        })
        jobs.foreach(_ => done.take().get())
        results.map(_.get())
      } catch {
        case e: Throwable =>
          failed = true
          throw (e match {
            case ee: ExecutionException if ee.getCause != null => ee.getCause
            case other => other
          })
      } finally {
        pool.shutdownNow()
        threads.forEach(_.join())
        if (failed) sc.cancelJobsWithTag(tag)
      }
    }
}

/** Analysis-loading facade (SURVEY §3.2): lazy tables per interval, like
  * the reference's get_household_tables/get_project_tables
  * (/root/reference/etdtransform/load_data.py:23-67,320-351) — DataFrame
  * lineage IS the deferred expression tree; Catalyst prunes and pushes
  * down, so the "load quickly despite many columns" property is native.
  */
object Tables {

  val intervals: Seq[String] = Model.Intervals.map(_.name)

  /** `metadataColumns` selects WHICH index columns ride along
    * (read_hh_data's metadata_columns, aggregate.py:57-96) — None joins
    * the whole index; Catalyst prunes unused ones anyway, so this is an
    * API-parity convenience, not a performance lever.
    */
  def household(spark: SparkSession, dir: String,
                index: Option[DataFrame] = None,
                wanted: Seq[String] = intervals,
                metadataColumns: Option[Seq[String]] = None)
      : Map[String, DataFrame] =
    wanted.map { iv =>
      val df = Sources.normalizeLegacyColumns(
        spark.read.parquet(s"$dir/household_$iv.parquet"))
      iv -> index.fold(df) { ix =>
        val keys = Seq(Model.HouseId, Model.ProjectId)
        val ixSel = metadataColumns.fold(ix)(ms =>
          ix.select((keys ++ ms.filterNot(keys.contains)).map(col): _*))
        df.join(broadcast(ixSel), keys, "left")
      }
    }.toMap

  def project(spark: SparkSession, dir: String,
              wanted: Seq[String] = intervals): Map[String, DataFrame] =
    wanted.map { iv =>
      iv -> spark.read.parquet(s"$dir/project_$iv.parquet")
    }.toMap
}
