package graft.etd

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Unit semantics of the impute core (I3-I9) on handcrafted gaps covering
  * every cascade branch (reference behavior:
  * /root/reference/etdtransform/vectorized_impute.py:343-767).
  */
class ImputeSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import Model.{HouseId, ProjectId, ReadingDate}

  private def frame(rows: Seq[(Long, Long, Int, Option[Double], Option[Double])]) = {
    // (project, house, t, cum, avg); diff derived as cum(t) - cum(t-1)
    val df = rows.toDF(ProjectId, HouseId, "t", "Meter", "MeterDiff_avg")
      .withColumn(ReadingDate, timestamp_seconds(col("t") * 300))
    df.withColumn("MeterDiff",
      col("Meter") - lag("Meter", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(ProjectId, HouseId).orderBy(ReadingDate)))
  }

  private val h1: Seq[(Long, Long, Int, Option[Double], Option[Double])] = Seq(
    // house 1: ZERO_END (t1), SCALED_FILL (t3-5), LINEAR_FILL (t7-10)
    (1L, 1L, 1, Some(0.0), None),
    (1L, 1L, 2, Some(1.0), None),
    (1L, 1L, 3, None, Some(1.0)),
    (1L, 1L, 4, None, Some(0.5)),
    (1L, 1L, 5, Some(4.0), Some(1.5)),
    (1L, 1L, 6, Some(5.0), None),
    (1L, 1L, 7, None, None),
    (1L, 1L, 8, None, None),
    (1L, 1L, 9, None, None),
    (1L, 1L, 10, Some(9.0), None),
    // house 2: POSITIVE_END (t1), NEGATIVE_GAP_JUMP (t2-3)
    (1L, 2L, 1, Some(10.0), Some(0.7)),
    (1L, 2L, 2, None, None),
    (1L, 2L, 3, Some(9.0), None),
    // house 3: NEAR_ZERO_GAP_JUMP (t2-3)
    (1L, 3L, 1, Some(2.0), Some(0.4)),
    (1L, 3L, 2, None, None),
    (1L, 3L, 3, Some(2.0), None),
    // house 4: NO_END (t3-4), house factor forced to 1.0 (1 comparable of 4)
    (1L, 4L, 1, Some(1.0), None),
    (1L, 4L, 2, Some(2.0), Some(2.0)),
    (1L, 4L, 3, None, Some(0.3)),
    (1L, 4L, 4, None, Some(0.4)),
  )

  private lazy val imputed =
    SequentialImpute.imputeColumn(frame(h1), "Meter", keepGapCols = true)
      .select(HouseId, "t", "MeterDiff", "MeterDiff_impute_type",
        "MeterDiff_is_imputed", "cumulative_value_group", "gap_length")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap

  private def diff(h: Long, t: Int): Option[Double] =
    Option(imputed((h, t)).get(2)).map(_.asInstanceOf[Double])
  private def ity(h: Long, t: Int): Option[Int] =
    Option(imputed((h, t)).get(3)).map(_.asInstanceOf[Int])

  test("I3: gap groups split at observed cumulative values, lengths counted") {
    val r35 = (3 to 5).map(t => imputed((1L, t)).getLong(5)).distinct
    assert(r35.size == 1, "t3-t5 share one cumulative_value_group")
    assert(imputed((1L, 3)).getLong(6) == 3, "gap_length of t3-t5 is 3")
    assert(imputed((1L, 7)).getLong(6) == 4, "gap_length of t7-t10 is 4")
    assert(imputed((1L, 2)).isNullAt(5), "non-NA rows carry no gap group")
  }

  test("I7: SCALED_FILL distributes gap_jump proportionally to averages") {
    assert(diff(1L, 3).contains(1.0) && diff(1L, 4).contains(0.5)
      && diff(1L, 5).contains(1.5))
    assert((3 to 5).forall(t => ity(1L, t).contains(Model.ImputeType.ScaledFill)))
  }

  test("I7: LINEAR_FILL spreads gap_jump evenly when no averages exist") {
    assert((7 to 10).forall(t => diff(1L, t).contains(1.0)))
    assert((7 to 10).forall(t => ity(1L, t).contains(Model.ImputeType.LinearFill)))
  }

  test("I8: ZERO_END fills 0; POSITIVE_END fills the average") {
    assert(diff(1L, 1).contains(0.0)
      && ity(1L, 1).contains(Model.ImputeType.ZeroEndValue))
    assert(diff(2L, 1).contains(0.7)
      && ity(2L, 1).contains(Model.ImputeType.PositiveEndValue))
  }

  test("I7: NEGATIVE and NEAR_ZERO gap jumps fill 0") {
    assert((2 to 3).forall(t => diff(2L, t).contains(0.0)))
    assert(ity(2L, 2).contains(Model.ImputeType.NegativeGapJump))
    assert(ity(3L, 2).contains(Model.ImputeType.NearZeroGapJump))
  }

  test("I8 + I6: NO_END fills average x house factor (forced 1.0 here)") {
    assert(diff(4L, 3).contains(0.3) && diff(4L, 4).contains(0.4))
    assert((3 to 4).forall(t => ity(4L, t).contains(Model.ImputeType.NoEndValue)))
  }

  test("invariant: is_imputed <=> impute_type non-null; no negative diffs") {
    val df = SequentialImpute.imputeColumn(frame(h1), "Meter")
    assert(df.filter(col("MeterDiff_is_imputed") =!=
      col("MeterDiff_impute_type").isNotNull).count() == 0)
    assert(df.filter(col("MeterDiff") < 0).count() == 0)
  }

  test("invariant: imputed diffs over a known-jump gap sum to the jump") {
    val total = (3 to 5).flatMap(t => diff(1L, t)).sum
    assert(math.abs(total - 3.0) < 1e-9) // gap_jump = 4.0 - 1.0
  }

  test("I9: thresholds clamp to average and OR the bitmask flag") {
    val base = frame(h1)
    val staged = Impute.withHouseFactor(
      Impute.withImputeInputs(
        Impute.withGapStats(
          Impute.withGapGroups(base, "MeterDiff", "Meter"), "Meter"),
        "MeterDiff_avg"),
      "MeterDiff", "MeterDiff_avg")
    val (d, t) = Impute.imputeCascade("MeterDiff")
    val cascaded = staged
      .withColumn("MeterDiff_impute_type", t)
      .withColumn("MeterDiff_is_imputed", col("MeterDiff_impute_type").isNotNull)
      .withColumn("MeterDiff", d)
    val clamped = Impute.applyThresholds(cascaded, "MeterDiff",
      "MeterDiff_avg", "MeterDiff_is_imputed", "MeterDiff_impute_type",
      lo = 0.0, hi = 1.2)
    val t5 = clamped.filter(col(HouseId) === 1 && col("t") === 5)
      .select("MeterDiff", "MeterDiff_impute_type").collect().head
    // SCALED_FILL had produced 1.5 > 1.2 -> replaced by avg (1.5's avg_col
    // value) and flagged SCALED_FILL | THRESHOLD_ADJUSTED
    assert(t5.getInt(1) == (Model.ImputeType.ScaledFill | Model.ImputeType.ThresholdAdjusted))
  }

  test("batched multi-column impute == sequential per-column fold (real shim)") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val cums = Seq("ElektriciteitNetgebruikLaag", "ElektriciteitTerugleveringLaag")
    val wHouse = Window.partitionBy(ProjectId, HouseId).orderBy(ReadingDate)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCums = cums.foldLeft(
        graft.queries.QueriesEtd.fabricatedDiffs(spark, dir))((df, c) =>
      df.withColumn(c, sum(Model.diffCol(c)).over(wHouse)))
    val sorted = withCums
      .repartition(col(ProjectId), col(HouseId))
      .sortWithinPartitions(ProjectId, HouseId, ReadingDate)
    val (avgDiffs, _) = Diffs.prepare(sorted, cums)
    val withAvgs = Diffs.joinAverages(sorted, avgDiffs)

    val sequential = cums.foldLeft(withAvgs)((acc, c) => SequentialImpute.imputeColumn(acc, c))
    // keepGapCols = true: the form Pipeline.run consumes
    val batched = Impute.imputeColumnsBatched(withAvgs, cums, keepGapCols = true)

    val outCols = (Seq(HouseId, "t_us") ++ cums.flatMap(c => Seq(
      Model.diffCol(c), Model.isImputedCol(c), Model.imputeTypeCol(c)))).map(col)
    val a = sequential.select(outCols: _*).collect().toSet
    val b = batched.select(outCols: _*).collect().toSet
    assert(a == b, s"batched impute diverges: ${(a -- b).take(3)} vs ${(b -- a).take(3)}")
    assert(a.nonEmpty)

    // the per-column gap metadata gapStats reads: __cvg_<c> and
    // __gap_length_<c> == the sequential path's cumulative_value_group
    // and gap_length, row by row
    val gapRows = cums.map { c =>
      val seqGaps = SequentialImpute.imputeColumn(withAvgs, c, keepGapCols = true)
        .select(col(HouseId), col("t_us"), col("cumulative_value_group"),
          col("gap_length"))
        .collect().toSet
      val batGaps = batched
        .select(col(HouseId), col("t_us"), col(s"__cvg_$c"),
          col(s"__gap_length_$c"))
        .collect().toSet
      assert(seqGaps == batGaps, s"$c gap columns diverge: " +
        s"${(seqGaps -- batGaps).take(3)} vs ${(batGaps -- seqGaps).take(3)}")
      seqGaps.count(!_.isNullAt(2))
    }
    assert(gapRows.sum > 0, "no gap rows exercised")
  }

  /** A seeded frame over 3 projects that share house ids: per project a
    * one-row house, an all-NA house, a house with gaps at its start and
    * end and a meter reset, and random houses whose cells draw NaN, -0.0,
    * 0.0, negatives and values past both threshold bounds.
    */
  private def edgeFrame(seed: Int, cums: Seq[String]) = {
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(seed)
    def pick(xs: (Int, () => Any)*): Any = {
      var r = rnd.nextInt(xs.map(_._1).sum)
      xs.find { case (w, _) => r -= w; r < 0 }.get._2()
    }
    def diff(): Any = pick(35 -> (() => null), 35 -> (() => rnd.nextDouble() * 1.5),
      5 -> (() => -0.5), 5 -> (() => 3.0), 5 -> (() => Double.NaN),
      5 -> (() => -0.0), 5 -> (() => 0.0), 5 -> (() => 1e-9))
    def cum(): Any = pick(40 -> (() => null), 45 -> (() => rnd.nextDouble() * 10),
      3 -> (() => -1.0), 4 -> (() => Double.NaN), 4 -> (() => -0.0),
      4 -> (() => 0.0))
    def avg(): Any = pick(30 -> (() => null), 55 -> (() => rnd.nextDouble()),
      5 -> (() => Double.NaN), 5 -> (() => -0.0), 5 -> (() => 2.5))
    // (cum, diff, avg) per slot: a gap at the start (meter new at 0), a
    // reading run, a meter reset to 0 behind a gap, a gap without use, a
    // gap at the end
    val shaped: Seq[(Any, Any, Any)] = Seq(
      (null, null, 0.2), (0.0, null, null), (1.0, 1.0, 0.9), (2.0, 1.0, 1.1),
      (null, null, null), (null, null, null), (0.5, null, 0.4),
      (1.5, 1.0, 1.0), (null, null, 0.1), (1.5, null, null),
      (2.5, 1.0, 1.0), (null, null, 0.3), (null, null, null))
    val rows = for {
      p <- 1L to 3L
      h <- 1L to 6L
      t <- 0 until (h match {
        case 1L => 1; case 2L => 5; case 3L => shaped.size
        case _ => 6 + rnd.nextInt(30) })
    } yield Row.fromSeq(Seq(p, h, new java.sql.Timestamp(t * 300000L)) ++
      cums.flatMap { _ =>
        h match {
          case 1L | 2L => Seq(cum(), null, avg())
          case 3L => shaped(t).productIterator.toSeq
          case _ => Seq(cum(), diff(), avg())
        }
      })
    val schema = StructType(Seq(StructField(ProjectId, LongType),
      StructField(HouseId, LongType), StructField(ReadingDate, TimestampType)) ++
      cums.flatMap(c => Seq(c, Model.diffCol(c), Model.avgCol(c))
        .map(StructField(_, DoubleType))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Rows as cells, doubles by their raw bits (NaN payload and -0.0 kept). */
  private def cells(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
    df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).toSet

  test("batched impute == sequential fold bit for bit on edge-case frames") {
    // MeterDiff is unbounded (its NaNs still clamp); the electricity
    // column clamps to [0, 2]
    val cums = Seq("Meter", "ElektriciteitNetgebruikLaag")
    val keys = Seq(ProjectId, HouseId, ReadingDate)
    for (seed <- 1 to 3) {
      val df = edgeFrame(seed, cums)
      val n = df.count()
      val sequential = cums.foldLeft(df)((acc, c) => SequentialImpute.imputeColumn(acc, c))
      val plain = Impute.imputeColumnsBatched(df, cums)
      val kept = Impute.imputeColumnsBatched(df, cums, keepGapCols = true)
      assert(plain.columns.toSeq == sequential.columns.toSeq)
      val a = cells(sequential, sequential.columns.toSeq)
      assert(a.size == n)
      assert(cells(plain, sequential.columns.toSeq) == a, s"seed $seed, keepGapCols = false")
      assert(cells(kept, sequential.columns.toSeq) == a, s"seed $seed, keepGapCols = true")
      cums.foreach { c =>
        val gaps = SequentialImpute.imputeColumn(df, c, keepGapCols = true)
        assert(cells(kept, keys ++ Seq(s"__cvg_$c", s"__gap_length_$c")) ==
          cells(gaps, keys ++ Seq("cumulative_value_group", "gap_length")),
          s"seed $seed: $c gap columns")
      }
      // every cascade branch and the clamp fire
      val types = cums.flatMap(c => kept.select(Model.imputeTypeCol(c)).collect()
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Int]))).toSet
      assert((0 to 7).forall(b => types.exists(t => (t & (1 << b)) != 0)),
        s"seed $seed: types $types")
    }
    // the column list (names, order, types) of the window implementation
    // this engine replaced, recorded for this input
    val schema = Impute.imputeColumnsBatched(edgeFrame(1, cums), cums,
      keepGapCols = true).schema.map(f => s"${f.name}:${f.dataType.sql}")
    assert(schema == Seq(
      "ProjectIdBSV:BIGINT", "HuisIdBSV:BIGINT", "ReadingDate:TIMESTAMP",
      "Meter:DOUBLE", "MeterDiff:DOUBLE", "MeterDiff_avg:DOUBLE",
      "ElektriciteitNetgebruikLaag:DOUBLE", "ElektriciteitNetgebruikLaagDiff:DOUBLE",
      "ElektriciteitNetgebruikLaagDiff_avg:DOUBLE",
      "__cvg_Meter:BIGINT", "__cvg_ElektriciteitNetgebruikLaag:BIGINT",
      "__gap_length_Meter:BIGINT", "__gap_length_ElektriciteitNetgebruikLaag:BIGINT",
      "MeterDiff_impute_type:INT", "MeterDiff_is_imputed:BOOLEAN",
      "ElektriciteitNetgebruikLaagDiff_impute_type:INT",
      "ElektriciteitNetgebruikLaagDiff_is_imputed:BOOLEAN"))
  }

  test("readingDateStats: counts partition into imputed/na/original (impute.py:330-412)") {
    val stats = ImputeSummaries.readingDateStats(
        SequentialImpute.imputeColumn(frame(h1), "Meter", keepGapCols = true),
        Seq("Meter"), dateCol = "t")
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      val (imp, na, tot, orig) = (r.getAs[Long]("imputed"), r.getAs[Long]("na"),
        r.getAs[Long]("total_records"), r.getAs[Long]("original"))
      assert(imp + na + orig == tot, s"counts don't partition: $r")
      assert(math.abs(r.getAs[Double]("percent_imputed") +
        r.getAs[Double]("percent_na") +
        r.getAs[Double]("percent_original") - 100.0) < 1e-9)
      assert(r.getAs[String]("column") == "Meter")
    }
    // fixture t=7..9 is the LINEAR_FILL gap: houses 1 of 4 at that slot
    val t7 = stats.find(r => r.getAs[Int]("t") == 7).get
    assert(t7.getAs[Long]("imputed") == 1L && t7.getAs[Long]("na") == 0L)
  }

  test("validateHouseholds: all-missing / zero-sum / no-change invalid (impute.py:262-327)") {
    val rows: Seq[(Long, Long, Int, Option[Double], Option[Double])] = Seq(
      // house 10: healthy (valid)
      (1L, 10L, 1, Some(1.0), None), (1L, 10L, 2, Some(2.0), None),
      (1L, 10L, 3, Some(4.0), None),
      // house 11: all missing
      (1L, 11L, 1, None, None), (1L, 11L, 2, None, None),
      // house 12: constant zero (zero sum AND no change)
      (1L, 12L, 1, Some(0.0), None), (1L, 12L, 2, Some(0.0), None),
      // house 13: constant non-zero (no change only)
      (1L, 13L, 1, Some(5.0), None), (1L, 13L, 2, Some(5.0), None),
      // house 14: healthy but gappy >40% NA
      (1L, 14L, 1, Some(1.0), None), (1L, 14L, 2, None, None),
      (1L, 14L, 3, None, None), (1L, 14L, 4, None, None),
      (1L, 14L, 5, Some(3.0), None),
    )
    val rep = ImputeSummaries.validateHouseholds(frame(rows), "Meter")
      .collect().map(r => r.getAs[Long](HouseId) -> r).toMap
    assert(rep(10L).getAs[Boolean]("valid"))
    assert(!rep(11L).getAs[Boolean]("valid") && rep(11L).getAs[Boolean]("all_missing"))
    assert(!rep(12L).getAs[Boolean]("valid") && rep(12L).getAs[Boolean]("zero_sum"))
    assert(!rep(13L).getAs[Boolean]("valid") && rep(13L).getAs[Boolean]("no_change")
      && !rep(13L).getAs[Boolean]("zero_sum"))
    assert(rep(14L).getAs[Boolean]("valid") && rep(14L).getAs[Boolean]("over_40_pct_na"))
    assert(rep(11L).getAs[Long]("n_na") == 2L && rep(10L).getAs[Long]("n_na") == 0L)
  }

  test("roundToSigFigs / equalSigFig match the reference helpers " +
      "byte-for-byte (impute.py:214-257, VERDICT r17 missing #2)") {
    // vectors generated from the Python originals (round half-to-even
    // over the exact binary value — 1.25@2sf -> 1.2, 2.675@3sf -> 2.67
    // because the double below 2.675 is what round() actually sees)
    val vectors = Seq(
      (0.00012345, 3, 0.000123),
      (123456.789, 4, 123500.0),
      (1.25, 2, 1.2),
      (2.675, 3, 2.67),
      (-9876.54321, 5, -9876.5),
      (0.0, 3, 0.0),
      (99.99999, 4, 100.0),
      (1e-7, 2, 1e-7),
      (123456789.0, 3, 123000000.0),
      (-0.5, 1, -0.5))
    vectors.foreach { case (x, s, want) =>
      assert(Impute.roundToSigFigs(x, s) == want, s"round($x, $s)")
    }
    // equal_sig_fig truth table from the Python original
    assert(Impute.equalSigFig(1.23456, 1.23461, 4))
    assert(Impute.equalSigFig(1.23456, 1.23461, 5)) // rounds meet at 1.2346
    assert(Impute.equalSigFig(0.0, 0.0, 3))
    assert(!Impute.equalSigFig(1e-12, 0.0, 3)) // rel-tol, not abs-tol
    assert(Impute.equalSigFig(-5.5, -5.5004, 3))
    assert(!Impute.equalSigFig(1.0, 1.1, 3))
    // Python raises OverflowError when the rounded value leaves double
    // range (MaxValue at 1 sig fig rounds up to 2e308) — fail loud too
    assertThrows[ArithmeticException](
      Impute.roundToSigFigs(Double.MaxValue, 1))
    // non-finite input raises in the reference too (int(floor(log10(x)))
    // is OverflowError for ±inf, ValueError for NaN) — ADVICE r18
    assertThrows[ArithmeticException](
      Impute.roundToSigFigs(Double.PositiveInfinity, 3))
    assertThrows[ArithmeticException](
      Impute.roundToSigFigs(Double.NegativeInfinity, 3))
    assertThrows[ArithmeticException](
      Impute.roundToSigFigs(Double.NaN, 3))
  }
}
