package graft.etd

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SourcesAndWeatherSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import Model.{HouseId, ProjectId, ReadingDate}

  test("S4: KNMI CSV header discovery (last '#' line) + rename + derived measures") {
    val dir = graft.TempDirs.dir("knmi").toFile
    val f = new java.io.File(dir, "uurgeg_260.txt")
    val w = new java.io.PrintWriter(f)
    w.println("# KNMI hourly data")
    w.println("# some disclaimer")
    w.println("# STN,YYYYMMDD,HH,T,FH,U")
    w.println("260,20230101,1,-15,30,90")
    w.println("260,20230101,2,-20,40,85")
    w.close()
    val df = Weather.withDerivedMeasures(
      Sources.readKnmiCsv(spark, f.getAbsolutePath))
    assert(df.columns.take(3).toSeq == Seq("STN", "YYYYMMDD", "HH"))
    val rows = df.orderBy("HH").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("Temperatuur") == -1.5)
    assert(rows(0).getAs[Double]("Windsnelheid") == 3.0)
    assert(rows(1).getAs[Double]("Gevoelstemperatuur") < rows(1).getAs[Double]("Temperatuur"))
  }

  test("S4: header comes from the LEADING comment block; mid-file '#' lines are data-skipped, not headers") {
    val dir = graft.TempDirs.dir("knmi_mid").toFile
    val f = new java.io.File(dir, "uurgeg_261.txt")
    val w = new java.io.PrintWriter(f)
    w.println("# KNMI hourly data")
    w.println("# STN,YYYYMMDD,HH,T")
    w.println("261,20230101,1,-15")
    // a stray comment mid-file: the old whole-file last-'#'-line rule
    // would have made THIS the header; the leading-block contract must not
    w.println("# stray annotation, not a header")
    w.println("261,20230101,2,-20")
    w.close()
    val df = Sources.readKnmiCsv(spark, f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("STN", "YYYYMMDD", "HH", "T"))
    assert(df.count() == 2, "the stray comment line is skipped as data")

    // directory input: header discovery picks a real data file, skipping
    // _SUCCESS-style markers
    new java.io.PrintWriter(new java.io.File(dir, "_SUCCESS")) { close() }
    val viaDir = Sources.readKnmiCsv(spark, dir.getAbsolutePath)
    assert(viaDir.columns.toSeq == Seq("STN", "YYYYMMDD", "HH", "T"))

    // glob input: the distributed scan accepts it, so discovery must too
    val viaGlob = Sources.readKnmiCsv(spark, dir.getAbsolutePath + "/uurgeg_*.txt")
    assert(viaGlob.columns.toSeq == Seq("STN", "YYYYMMDD", "HH", "T"))

    // a Latin-1 byte in a COMMENT line must not break header discovery
    // (strict UTF-8 decoding threw; lenient decode maps it to U+FFFD)
    val dirL = graft.TempDirs.dir("knmi_latin1").toFile
    val lat = new java.io.File(dirL, "uurgeg_262.txt")
    val fos = new java.io.FileOutputStream(lat)
    fos.write("# temperatuur in 0.1 °C\n# STN,YYYYMMDD,HH,T\n262,20230101,1,-15\n"
      .getBytes("ISO-8859-1"))
    fos.close()
    assert(Sources.readKnmiCsv(spark, lat.getAbsolutePath).columns.toSeq ==
      Seq("STN", "YYYYMMDD", "HH", "T"))

    // ...while a valid-UTF-8 header keeps its non-ASCII tokens intact
    val utf = new java.io.File(dirL, "uurgeg_utf8.txt")
    val fos2 = new java.io.FileOutputStream(utf)
    fos2.write("# STN,YYYYMMDD,HH,T°\n262,20230101,1,-15\n".getBytes("UTF-8"))
    fos2.close()
    assert(Sources.readKnmiCsv(spark, utf.getAbsolutePath).columns.toSeq ==
      Seq("STN", "YYYYMMDD", "HH", "T°"))

    // no leading comment block at all -> explicit failure, not a guess
    val bare = new java.io.File(dir, "bare.txt")
    val w2 = new java.io.PrintWriter(bare)
    w2.println("261,20230101,1,-15")
    w2.close()
    intercept[IllegalArgumentException] {
      Sources.readKnmiCsv(spark, bare.getAbsolutePath)
    }
  }

  test("S3/S8: glob combine stamps HuisIdBSV from the path and filters Meenemen") {
    val dir = graft.TempDirs.dir("mapped").toFile.getAbsolutePath
    Seq((100L, 1.0)).toDF("ReadingSeq", "X")
      .write.parquet(s"$dir/household_1_table.parquet")
    Seq((200L, 2.0)).toDF("ReadingSeq", "X")
      .write.parquet(s"$dir/household_2_table.parquet")
    Seq((300L, 3.0)).toDF("ReadingSeq", "X")
      .write.parquet(s"$dir/household_3_table.parquet")
    val index = Seq((1L, 10L, true), (2L, 10L, false), (3L, 20L, true))
      .toDF(HouseId, ProjectId, "Meenemen")
    val combined = Sources.combineHouseholds(spark, dir, index)
    val got = combined.select(HouseId, ProjectId).orderBy(HouseId).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (3L, 20L)), "house 2 excluded by Meenemen")
  }

  test("update_meenemen hook: metadata flip excludes the household from S3") {
    val dir = graft.TempDirs.dir("meenemen").toFile.getAbsolutePath
    Seq((100L, 1.0)).toDF("ReadingSeq", "X")
      .write.parquet(s"$dir/household_1_table.parquet")
    Seq((200L, 2.0)).toDF("ReadingSeq", "X")
      .write.parquet(s"$dir/household_2_table.parquet")
    val index = Seq((1L, 10L, true), (2L, 10L, true))
      .toDF(HouseId, ProjectId, "Meenemen")
    // metadata flips house 1 off and does not mention house 2
    val metadata = Seq((1L, 10L, false)).toDF(HouseId, ProjectId, "Meenemen")
    val updated = Sources.updateMeenemen(index, metadata)
    val houses = Sources.combineHouseholds(spark, dir, updated)
      .select(HouseId).collect().map(_.getLong(0)).toSeq
    assert(houses == Seq(2L), "flipped house 1 excluded, untouched house 2 kept")
  }

  test("writeStage sanitizes stage names (re.sub \\W+ parity)") {
    assert(Sources.safeName("Zon-opwekTotaal") == "zon_opwektotaal")
    assert(Sources.safeName("household_5min") == "household_5min")
    // Unicode parity (VERDICT r17 #3): Python's \W is Unicode-aware, so
    // é and Σ are WORD chars — byte-for-byte vs
    // re.sub(r"\W+", "_", "Zon Éopwek-Σtotaal!".lower())
    assert(Sources.safeName("Zon Éopwek-Σtotaal!") == "zon_éopwek_σtotaal_")
    val dir = graft.TempDirs.dir("safename").toFile.getAbsolutePath
    Sources.writeStage(Seq((1L, 1.0)).toDF("k", "v"), dir, "Zon-opwekTotaal")
    assert(new java.io.File(s"$dir/zon_opwektotaal.parquet").exists())
  }

  test("S7: staged sink writes, project-partitioned variant prunes") {
    val dir = graft.TempDirs.dir("stages").toFile.getAbsolutePath
    val df = Seq((1L, 10L, 1.0), (2L, 20L, 2.0))
      .toDF(ProjectId, HouseId, "v")
    Sources.writeStage(df, dir, "household_test")
    assert(spark.read.parquet(s"$dir/household_test.parquet").count() == 2)
    Sources.writeStage(df, dir, "by_project", partitionByProject = true)
    val pruned = spark.read.parquet(s"$dir/by_project.parquet")
      .filter(col(ProjectId) === 1L)
    assert(pruned.count() == 1)
    assert(new java.io.File(s"$dir/by_project.parquet/$ProjectId=1").exists(),
      "sink is physically partitioned by project")
  }

  test("legacy HuisCode column is renamed") {
    val df = Seq((1L, 2.0)).toDF("HuisCode", "X")
    assert(Sources.normalizeLegacyColumns(df).columns.contains(HouseId))
  }

  test("W1: rolling mean honors min_periods on non-null count") {
    val df = (1 to 6).map(i =>
      (1L, i.toLong, if (i == 2) None else Some(i.toDouble)))
      .toDF("g", "s", "v")
    val out = df.withColumn("ra",
        Weather.rollingMean(col("v"), Seq(col("g")), Seq(col("s")),
          window = 3, minPeriods = 3))
      .orderBy("s").collect()
    assert(out(2).isNullAt(3), "frame rows 1-3 has a null -> only 2 values")
    assert(out(4).getAs[Double]("ra") == 4.0, "rows 3,4,5 all present")
  }

  test("W3/W4: two coldest ISO weeks flagged per station") {
    val weekly = Seq(
      (260L, 2024L, 1L, -5.0), (260L, 2024L, 2L, -7.0),
      (260L, 2024L, 3L, 1.0), (260L, 2024L, 4L, 3.0))
      .toDF("STN", "year", "week_of_year", "t")
    val flagged = Weather.coldestWeekFlags(weekly, "t", "koudste")
      .filter(col("koudste")).select("week_of_year").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L, 2L))
  }

  test("W13: extreme period keeps ties and derives StartTime") {
    val daily = Seq(
      (1L, 0L, Some(5.0)), (1L, 1L, Some(2.0)), (1L, 2L, Some(9.0)),
      (1L, 3L, None))
      .toDF("stn", "d", "t")
      .withColumn(ReadingDate, timestamp_seconds(col("d") * 86400))
    val top = Weather.extremeAvgPeriod(daily, "t", Seq("stn"), days = 2,
      highest = true).collect()
    assert(top.length == 1)
    assert(top.head.getAs[Double]("HighestRollingAverage") == 9.0)
    val span = top.head.getAs[java.sql.Timestamp]("EndTime").getTime -
      top.head.getAs[java.sql.Timestamp]("StartTime").getTime
    assert(span == 2L * 86400 * 1000)
  }

  test("weatherTable: KNMI CSV -> composed table end-to-end (one call)") {
    // Two stations, 3 weeks of hourly data with a cold dip in week 2 so
    // both the rolling-average marks and the ISO-week flags have signal.
    val dir = graft.TempDirs.dir("knmi2").toFile
    val f = new java.io.File(dir, "uurgeg_all.txt")
    val w = new java.io.PrintWriter(f)
    w.println("# preamble")
    w.println("# STN,YYYYMMDD,HH,T,FH,U")
    val start = java.time.LocalDate.of(2024, 1, 1)
    for (stn <- Seq(260, 280); d <- 0 until 21; h <- 1 to 24) {
      val date = start.plusDays(d)
      val ymd = date.getYear * 10000 + date.getMonthValue * 100 + date.getDayOfMonth
      val cold = if (d >= 7 && d < 14) -80 else 50 // week 2 is the cold week
      w.println(s"$stn,$ymd,$h,${cold + h},${20 + h},${60 + (d % 30)}")
    }
    w.close()
    val out = Weather.weatherTable(Sources.readKnmiCsv(spark, f.getAbsolutePath))
    assert(out.count() == 2 * 21 * 24)
    // rolling average: null before 7*24 non-null hours
    val early = out.filter(col("YYYYMMDD") === 20240103 && col("HH") === 1)
    assert(early.select("TemperatuurRA").collect().forall(_.isNullAt(0)))
    // ISO flags: the cold week (week 2 of 2024) must be among the 2 coldest
    val coldWeeks = out.filter(col("Koudste2ISOWkTemperatuur"))
      .select("week_of_year").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(coldWeeks.contains(2L), s"cold dip week not flagged: $coldWeeks")
    // period marks exist, are a strict subset, and (ties all mark) cover
    // at least one 14-day window per station
    val marked = out.filter(col("Koudste2WkTemperatuur")).count()
    assert(marked > 0 && marked < 2 * 21 * 24, s"marked=$marked")
    // days_in_week counts full weeks as 7
    val full = out.filter(col("week_of_year") === 2L)
      .select("days_in_week").distinct().collect().map(_.getInt(0)).toSet
    assert(full == Set(7))
  }

  test("W14: simultaneity ratio guards zero denominators") {
    val d = Seq((1L, 4.0), (2L, 0.0)).toDF("g", "RollingAverage")
    val m = Seq((1L, 8.0), (2L, 0.0)).toDF("g", "RollingAverage")
    val out = Weather.simultaneityRatio(d, m, "RollingAverage", Seq("g"))
      .orderBy("g").collect()
    assert(out(0).getAs[Double]("Ratio") == 0.5)
    assert(out(1).isNullAt(out(1).fieldIndex("Ratio")))
  }

  test("I15: normalized datetime projects onto the reference week") {
    val df = Seq(("2024-08-12 13:45:00", "Mon"), ("2024-08-17 01:30:00", "Sat"))
      .toDF("ts", "label")
      .withColumn("ts", to_timestamp(col("ts")))
      .withColumn("norm", Calculated.normalizedDatetime(col("ts")))
    val got = df.orderBy("label").select("norm").collect()
      .map(_.getTimestamp(0).toString)
    // label order: Mon, Sat — Mon -> 2023-01-02 (reference Monday), Sat -> +5 days
    assert(got.toSeq == Seq("2023-01-02 13:45:00.0", "2023-01-07 01:30:00.0"))
  }
}
