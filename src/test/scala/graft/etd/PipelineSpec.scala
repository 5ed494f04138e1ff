package graft.etd

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.SharedSpark

/** Golden end-to-end pipeline test on an ETD-shaped synthetic fixture,
  * mirroring the reference workflow test's row-count arithmetic and adding
  * the invariants the reference enforces at runtime
  * (/root/reference/tests/test_total_imputation_workflow.py:24-152;
  * SURVEY §5).
  */
class PipelineSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import Model._

  private val Houses = Seq((1L, 1L), (1L, 2L), (2L, 3L), (2L, 4L))
  private val StepsPerDay = 288
  private val Days = 1

  /** Deterministic fixture: per house, per 5-min step, each of the 13
    * cumulative meters advances by a small per-column rate; a deterministic
    * ~8% of readings are missing (gaps), per-column phase-shifted.
    */
  private lazy val household = {
    val n = StepsPerDay * Days
    val rows = for {
      ((p, h), hi) <- Houses.zipWithIndex
      t <- 0 until n
    } yield {
      val base = cumulativeColumns.zipWithIndex.map { case (c, ci) =>
        val rate = 0.01 * (ci + 1)
        val missing = (t + hi * 7 + ci * 13) % 12 == 0 // ~8% deterministic
        val cum = rate * (t + 1)
        if (missing) None else Some(cum)
      }
      (p, h, t.toLong, base)
    }
    val flat = rows.map { case (p, h, t, cums) =>
      (p, h, t, cums(0), cums(1), cums(2), cums(3), cums(4), cums(5), cums(6),
        cums(7), cums(8), cums(9), cums(10), cums(11), cums(12))
    }
    val named = flat.toDF(
      Seq(ProjectId, HouseId, "step") ++ cumulativeColumns: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(ProjectId, HouseId).orderBy("step")
    cumulativeColumns.foldLeft(
        named.withColumn(ReadingDate, timestamp_seconds(col("step") * 300)))(
      (df, c) => df.withColumn(diffCol(c), col(c) - lag(c, 1).over(w)))
  }

  // one lineage cut after impute: purely a test-suite speed measure (the
  // 8 tests below each re-materialize downstream stages); the UNCUT
  // 13-column path is proven by the dedicated optimizer-time test
  private lazy val stages = Pipeline.run(household,
    intervals = Seq("5min", "60min", "24h"),
    localCheckpointEvery = Some(1))

  test("13-column impute plan optimizes without lineage cuts (batched)") {
    val uncut = Pipeline.run(household, intervals = Seq("24h"))
    val t0 = System.nanoTime()
    // force analysis + optimization + physical planning of the deepest stage
    val qe = uncut.projectAggregated("24h").queryExecution
    qe.executedPlan
    val sec = (System.nanoTime() - t0) / 1e9
    // Structural bound (the real assertion — environment-independent):
    // batching keeps the optimized plan a bounded pipeline of shared
    // selects regardless of column count, where the per-column fold
    // multiplied expression nesting until the optimizer took minutes.
    // Measured at 13 columns: 82 nodes — bounds leave ~2x headroom.
    val optimized = qe.optimizedPlan
    val nodes = optimized.collect { case n => n }.length
    val windows = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.length
    assert(nodes < 170, s"optimized plan has $nodes nodes — batching regressed")
    assert(windows < 40, s"optimized plan has $windows Window nodes")
    // Wall-clock smoke check only (loaded CI can flake a tight bound; the
    // per-column fold took MINUTES here, so 180s still catches a regression)
    assert(sec < 180.0, f"uncut 13-column plan took $sec%.1f s to optimize")
    info(f"optimize+plan: $sec%.1f s, $nodes nodes, $windows windows")
  }

  test("imputation removes almost all gaps and flags every filled value") {
    val imputed = stages.imputed.cache()
    val diffC = diffCol(cumulativeColumns.head)
    val naBefore = household.filter(col(diffC).isNull).count()
    val naAfter = imputed.filter(col(diffC).isNull).count()
    assert(naBefore > 50, "fixture actually has gaps")
    // only the first reading per house can stay NA (no prev, no gap group)
    assert(naAfter <= Houses.size)
    val flags = imputed.filter(
      col(isImputedCol(cumulativeColumns.head)) =!=
        col(imputeTypeCol(cumulativeColumns.head)).isNotNull)
    assert(flags.count() == 0, "is_imputed <=> impute_type non-null")
  }

  test("no negative imputed diffs (reference raises on them)") {
    val preds = cumulativeColumns.map(c => col(diffCol(c)) < 0)
    assert(stages.imputed.filter(preds.reduce(_ || _)).count() == 0)
  }

  test("cumulative rebuild preserves Original and adds Check columns") {
    val c = cumulativeColumns.head
    val cols = stages.imputed.columns.toSet
    assert(cols.contains(originalCol(c)) && cols.contains(checkCol(c)))
  }

  test("resample row counts follow the fixture arithmetic (densified)") {
    // 4 houses x 1 day: 24 hourly buckets, 1 daily bucket per house
    assert(stages.resampled("60min").count() == Houses.size * 24)
    assert(stages.resampled("24h").count() == Houses.size * 1)
  }

  test("project aggregation carries n and both projects") {
    val p24 = stages.projectAggregated("24h")
    assert(p24.select(ProjectId).distinct().count() == 2)
    assert(p24.columns.contains("n"))
    // 2 houses per project per bucket
    assert(p24.filter(col("n") =!= 2).count() == 0)
  }

  test("gap stats cover every (house, column) pair; summaries join totals") {
    assert(stages.gapStats.count() == Houses.size * cumulativeColumns.size)
    val hs = stages.householdSummary
    assert(hs.filter(col("percentage_imputed") < 0
      || col("percentage_imputed") > 100).count() == 0)
    val ps = stages.projectSummary
    assert(ps.select(ProjectId).distinct().count() == 2)
  }

  test("calculated columns: energy balance identity holds row-wise") {
    val c = stages.calculated
      .withColumn("lhs", col("ElektriciteitsgebruikTotaalBruto"))
      .withColumn("rhs",
        coalesce(col("ElektriciteitsgebruikTotaalNetto"), lit(0.0))
          + coalesce(col("Zelfgebruik"), lit(0.0)))
    assert(c.filter(abs(col("lhs") - col("rhs")) > 1e-9).count() == 0)
  }

  test("imputed diffs over each known-jump gap sum to the jump") {
    // reconstruct per-gap sums for the first column and compare to the
    // cumulative jump across the gap (SURVEY §5 invariant)
    val c = cumulativeColumns.head
    val diffC = diffCol(c)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(ProjectId, HouseId).orderBy(ReadingDate)
    val withGaps = Impute.withGapStats(
      Impute.withGapGroups(
        Diffs.joinAverages(household, Diffs.prepare(household,
          Seq(c))._1), diffC, c), c)
    val gaps = withGaps
      .filter(col("cumulative_value_group").isNotNull && col("gap_jump") >= 1e-8)
      .select(col(ProjectId), col(HouseId),
        col("cumulative_value_group").as("g"), col("gap_jump").as("jump"),
        col(ReadingDate))
    val imputedDiffs = stages.imputed.select(col(ProjectId), col(HouseId),
      col(ReadingDate), col(diffC))
    val sums = gaps.join(imputedDiffs, Seq(ProjectId, HouseId, ReadingDate))
      .groupBy(ProjectId, HouseId, "g")
      .agg(max("jump").as("jump"), sum(diffC).as("filled"))
    assert(sums.filter(abs(col("jump") - col("filled")) > 1e-6).count() == 0)
  }

  test("every sink, read back, equals its lazy stage (flat and by-project layouts)") {
    val all = Pipeline.run(household, localCheckpointEvery = Some(1))
    val lazyStages = (Seq(
      "household_imputed" -> all.imputed,
      "impute_gap_stats" -> all.gapStats,
      "impute_summary_household" -> all.householdSummary,
      "impute_summary_project" -> all.projectSummary,
      "household_calculated" -> all.calculated) ++
      all.intervals.flatMap(iv => Seq(
        s"household_$iv" -> all.resampled(iv),
        s"project_$iv" -> all.projectAggregated(iv))))
      .map { case (name, df) => name -> df.cache() }
    assert(lazyStages.size == 15)
    // names and types, in order; nullability aside (a parquet read is
    // nullable throughout)
    def fields(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType.catalogString)
    try Seq(false, true).foreach { byProject =>
      val dir = graft.TempDirs.dir("sinks").toFile.getAbsolutePath
      Pipeline.writeStages(all, dir, byProject)
      lazyStages.foreach { case (name, expected) =>
        val at = s"$name (partitionByProject = $byProject)"
        val back = Sources.readStage(expected, dir, name)
        assert(fields(back) == fields(expected), at)
        // the files themselves carry those types: a plain read lists the
        // partition column last, with an inferred type, so leave it out
        val partitioned = byProject && name.startsWith("household_")
        val onDisk = fields(spark.read.parquet(s"$dir/$name.parquet"))
        assert(onDisk.filterNot(partitioned && _._1 == ProjectId) ==
          fields(expected).filterNot(partitioned && _._1 == ProjectId), at)
        assert(back.exceptAll(expected).isEmpty, s"$at: rows only in the sink")
        assert(expected.exceptAll(back).isEmpty, s"$at: rows missing from the sink")
      }
    } finally lazyStages.foreach(_._2.unpersist())
  }

  test("concurrently: results in order, one named thread per job, none left alive") {
    val n = 5
    val allStarted = new CountDownLatch(n)
    val names = Pipeline.concurrently(spark, (0 until n).map { i => () =>
      allStarted.countDown()
      // every job waits for all the others: passes only if each job has
      // its own thread
      assert(allStarted.await(30, TimeUnit.SECONDS))
      i -> Thread.currentThread.getName
    })
    assert(names.map(_._1) == (0 until n))
    assert(names.map(_._2).distinct.size == n)
    assert(names.forall(_._2.startsWith(Pipeline.SinkThreadPrefix)))
    assert(sinkThreadsAlive.isEmpty)
    assert(Pipeline.concurrently(spark, Seq.empty[() => Int]).isEmpty)
  }

  test("concurrently: the first failure is thrown, the other jobs are stopped") {
    val sc = spark.sparkContext
    val group = "concurrently-spec"
    val sleeperStarted = new CountDownLatch(1)
    val sleeperFinished = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      Pipeline.concurrently(spark, Seq(
        () => {
          // throw once the two others are under way
          assert(sleeperStarted.await(30, TimeUnit.SECONDS))
          eventually(timeout(Span(30, Seconds))) {
            assert(sc.statusTracker.getActiveJobIds().exists(id =>
              sc.statusTracker.getJobIdsForGroup(group).contains(id)))
          }
          throw new IllegalStateException("first failure")
        },
        () => {
          // a Spark job whose tasks would hold every core for a minute
          sc.setJobGroup(group, "long tasks")
          sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(60000))
        },
        () => {
          sleeperStarted.countDown()
          Thread.sleep(60000)
          sleeperFinished.set(true)
        }))
    }
    assert(thrown.getMessage == "first failure")
    assert(sinkThreadsAlive.isEmpty)
    assert(!sleeperFinished.get)
    // the long Spark job is cancelled and its tasks interrupted
    eventually(timeout(Span(30, Seconds))) {
      assert(sc.statusTracker.getActiveJobIds().toSet
        .intersect(sc.statusTracker.getJobIdsForGroup(group).toSet).isEmpty)
      assert(sc.statusTracker.getExecutorInfos.forall(_.numRunningTasks == 0))
    }
    assert((System.nanoTime() - t0) / 1e9 < 50.0, "the minute-long jobs ran on")
  }

  private def sinkThreadsAlive: Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(Pipeline.SinkThreadPrefix))
      .map(_.getName)
  }
}
