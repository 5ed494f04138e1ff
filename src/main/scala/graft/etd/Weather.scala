package graft.etd

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weather-path operators (SURVEY §2.5 W1-W4, W12-W14; §2.3 J2/J3/J9).
  *
  * Reference: get_weather_data_table at
  * /root/reference/etdtransform/load_data.py:103-246 (rolling 14-day
  * averages, ISO-week means, coldest-week ranking and join-back), the
  * generic rolling/period helpers at
  * /root/reference/etdtransform/calculated_columns.py:148-527, and the
  * KNMI derived measures at /root/reference/etdtransform/knmi.py:77-98.
  *
  * The reference's groupby-apply/iloc-slicing style becomes window specs +
  * joins: period marking is time-based (timestamps between [extreme - days,
  * extreme]) rather than positional row slicing — more robust than the
  * reference's iloc arithmetic (SURVEY W12 note) and shuffle-free beyond
  * the one per-station sort.
  */
object Weather {

  /** Derived KNMI measures (knmi.py:77-98): unit conversions plus the
    * vapor-pressure ("Dampdruk") and feels-like ("Gevoelstemperatuur")
    * formulas. Expects raw KNMI columns T, FH, U.
    */
  def withDerivedMeasures(df: DataFrame): DataFrame = {
    val humidityCoefficient = 0.33
    val windSpeedAdjustment = 4.00
    val vaporPressureConstant = 17.27
    val windSpeedCoefficient = 0.7
    df
      .withColumn("Temperatuur", col("T") / 10)
      .withColumn("Windsnelheid", col("FH") / 10)
      .withColumn("Vochtigheid", col("U"))
      .withColumn("Dampdruk",
        col("Vochtigheid") * 6.105
          * exp(col("Temperatuur") * vaporPressureConstant
              / (col("Temperatuur") + lit(237.7))) / 100)
      .withColumn("Gevoelstemperatuur",
        col("Temperatuur") + col("Dampdruk") * humidityCoefficient
          - col("Windsnelheid") * windSpeedCoefficient
          - windSpeedAdjustment)
  }

  /** W1 — rolling mean over a fixed row-count lookback with min_periods
    * (load_data.py:122-128: window 14d x 24h = 336 rows, min_periods 168;
    * generic form calculated_columns.py:148-205 with min_periods =
    * window/2). pandas min_periods gates on non-null count in the frame.
    */
  def rollingMean(c: Column, partitionBy: Seq[Column], orderBy: Seq[Column],
                  window: Int, minPeriods: Int): Column = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    when(count(c).over(w) >= minPeriods, avg(c).over(w))
  }

  /** W2 — group-broadcast mean (ISO-week mean stamped on hourly rows,
    * load_data.py:177-190).
    */
  def groupMean(c: Column, groupBy: Seq[Column]): Column =
    avg(c).over(Window.partitionBy(groupBy: _*))

  /** W3/W4 — rank weeks within (station, year) by mean temperature and flag
    * the coldest two (load_data.py:204-229: row_number() < 2 on a 0-based
    * row number = the 2 coldest ISO weeks).
    */
  def coldestWeekFlags(weeklySummary: DataFrame, tempCol: String,
                       flagName: String): DataFrame = {
    val tieBreak = "week_of_year"
    // nulls LAST (Spark's asc default is nulls-first; DuckDB's is
    // nulls-last — an all-null week must not become the "coldest") and a
    // deterministic tie-break: row_number over equal means would
    // otherwise pick either week, varying run-to-run and across engines
    val tb = if (weeklySummary.columns.contains(tieBreak)) Seq(col(tieBreak))
             else Seq.empty[Column]
    val w = Window.partitionBy("STN", "year")
      .orderBy(col(tempCol).asc_nulls_last +: tb: _*)
    weeklySummary
      .withColumn("rank_" + tempCol, rank().over(w))
      .withColumn(flagName, row_number().over(w) <= 2)
  }

  /** W12 — mark every row within `days` before the group's rolling-average
    * extreme (mark_coldest_two_weeks / mark_highest_peak,
    * calculated_columns.py:429-527). Two phases: (1) group-broadcast
    * extreme of the rolling average, (2) flag rows whose timestamp lies in
    * (t_extreme - days, t_extreme] for ANY extreme row — ties all mark, as
    * in the reference loop. Time-based, not positional.
    */
  def markPeriodBeforeExtreme(df: DataFrame, avgVar: String, ts: Column,
                              groupCols: Seq[String], days: Int,
                              lowest: Boolean, flagName: String): DataFrame = {
    val grp = Window.partitionBy(groupCols.map(col): _*)
    val extreme = if (lowest) min(col(avgVar)).over(grp) else max(col(avgVar)).over(grp)
    val extremeTs = when(col(avgVar) === extreme, ts)
    // group-broadcast every extreme timestamp (usually one; ties collect)
    val extremes = collect_set(extremeTs).over(grp)
    // exists() over the empty array (all-null group) is already false;
    // coalesce covers a null ts comparison inside the lambda
    df.withColumn(flagName,
      exists(extremes, t =>
        ts > t - expr(s"INTERVAL $days DAYS") && ts <= t))
      .withColumn(flagName, coalesce(col(flagName), lit(false)))
  }

  /** W13 — top-1 period extraction: (StartTime, EndTime, extreme) per group
    * (get_highest_avg_period / get_lowest_avg_period,
    * calculated_columns.py:209-294, 340-425). rank()==1 keeps ties like the
    * reference's equality filter; StartTime = EndTime - days (time-based).
    */
  def extremeAvgPeriod(df: DataFrame, avgVar: String, groupCols: Seq[String],
                       days: Int, highest: Boolean): DataFrame = {
    // nulls explicitly last: Spark's plain asc sorts nulls FIRST, which
    // would hand rank 1 to a null rolling average and then drop the
    // station entirely at the isNotNull filter below.
    val ord = if (highest) col(avgVar).desc_nulls_last else col(avgVar).asc_nulls_last
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(ord)
    val label = if (highest) "HighestRollingAverage" else "LowestRollingAverage"
    df
      .withColumn("__r", rank().over(w))
      .filter(col("__r") === 1 && col(avgVar).isNotNull)
      .select(
        groupCols.map(col) ++ Seq(
          (col(Model.ReadingDate) - expr(s"INTERVAL $days DAYS")).as("StartTime"),
          col(Model.ReadingDate).as("EndTime"),
          col(avgVar).as(label)): _*)
  }

  /** W14 — simultaneity ratio ("gelijktijdigheid",
    * calculated_columns.py:297-337): max rolling average at the daily grain
    * over max at the 5-minute grain, per group.
    */
  def simultaneityRatio(daily: DataFrame, fiveMin: DataFrame, avgVar: String,
                        groupCols: Seq[String]): DataFrame = {
    val d = daily.groupBy(groupCols.map(col): _*)
      .agg(max(avgVar).as("HighestDailyAvg"))
    val m = fiveMin.groupBy(groupCols.map(col): _*)
      .agg(max(avgVar).as("Highest5MinAvg"))
    d.join(m, groupCols)
      .withColumn("Ratio",
        when(col("Highest5MinAvg") =!= 0.0,
          col("HighestDailyAvg") / col("Highest5MinAvg")))
  }

  /** J2 + J3 — stamp the weather station per project and join hourly
    * weather on (STN, YYYYMMDD, HH) with the reference's key derivation
    * HH = hour + 1, YYYYMMDD = yyyyMMdd int (load_data.py:301-315).
    * Both dimension sides are small -> broadcast.
    */
  def joinWeather(df: DataFrame, stationMap: DataFrame,
                  weather: DataFrame): DataFrame =
    df
      .join(broadcast(stationMap.select(Model.ProjectId, "Weerstation", "STN")),
        Seq(Model.ProjectId), "left")
      .withColumn("HH", hour(col(Model.ReadingDate)) + 1)
      .withColumn("YYYYMMDD",
        date_format(col(Model.ReadingDate), "yyyyMMdd").cast("int"))
      .join(broadcast(weather), Seq("STN", "YYYYMMDD", "HH"), "left")

  /** J9 — weekly summary flags joined back onto hourly rows
    * (load_data.py:241-243).
    */
  def joinWeeklyFlags(hourly: DataFrame, weeklyFlags: DataFrame): DataFrame =
    hourly.join(broadcast(weeklyFlags), Seq("STN", "year", "week_of_year"), "left")

  /** The get_dfs missing-weather QA audit (load_data.py:410-473) as a
    * DataFrame-returning action instead of prints: one row per measure
    * with the missing count, total, percentage, and the distinct affected
    * projects / dates (sorted, comma-joined — engine-portable strings
    * rather than array columns). ONE aggregation pass computes every
    * measure's stats; the unpivot to rows is a literal-array explode of
    * the single aggregated row.
    */
  def missingWeatherReport(df: DataFrame,
                           measures: Seq[String] =
                             Seq("Temperatuur", "Gevoelstemperatuur")): DataFrame = {
    val aggs = measures.flatMap { m =>
      Seq(
        count(when(col(m).isNull, 1)).as(s"__miss_$m"),
        concat_ws(",", array_sort(collect_set(
          when(col(m).isNull, col(Model.ProjectId).cast("string")))))
          .as(s"__proj_$m"),
        concat_ws(",", array_sort(collect_set(
          when(col(m).isNull, date_format(col(Model.ReadingDate), "yyyy-MM-dd")))))
          .as(s"__dates_$m"))
    } :+ count(lit(1)).as("__total")
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(measures.map(m => struct(
        lit(m).as("measure"),
        col(s"__miss_$m").as("missing_count"),
        col("__total").as("total_records"),
        (floor(col(s"__miss_$m") / col("__total") * 100 * 1e6 + 0.5) / 1e6)
          .as("pct_missing"),
        col(s"__proj_$m").as("affected_projects"),
        col(s"__dates_$m").as("missing_dates"))): _*)).as("r"))
      .select("r.*")
  }

  /** The composed weather table — one-call parity with
    * get_weather_data_table (load_data.py:103-246): derived KNMI measures
    * -> 14-day rolling averages (min_periods = 7 days of hours) ->
    * coldest-two-week period marks on both rolling series -> calendar
    * columns (year / ISO week / Monday-0 weekday) -> ISO-week group means
    * + days_in_week -> per-(station, year) coldest-2-ISO-week flags joined
    * back. Input is the raw hourly KNMI frame (STN, YYYYMMDD, HH 1..24
    * hour-ending, T, FH, U), i.e. [[Sources.readKnmiCsv]] output.
    *
    * KNMI's HH=24 ("24:00:00") becomes next-day 00:00 via date + HH hours
    * — the same instant the reference's string-cast produces on its SQL
    * backend. days_in_week rounds count/24 to the nearest int (the
    * reference's double->int cast semantics on that backend).
    *
    * The coldest-2-ISO-week flags are dense_rank over the weekly means
    * evaluated PER ROW: (weekly mean, week) is unique per week, so this
    * equals the reference's distinct-summary -> row_number -> join-back
    * (load_data.py:196-243) with a deterministic tie-break — and it
    * removes the summary branch entirely. The distinct+join shape is a
    * hidden duplicate subtree: column pruning strips the shared windows
    * out of the summary branch, so it re-scans and re-shuffles the raw
    * input instead of reusing anything (observed in the physical plan).
    *
    * Scale shape: ONE exchange and ONE scan total — every window
    * (rolling, period marks, ISO-week means, week ranks) keys on a
    * superset of STN, so the per-station shuffle serves the whole table
    * (PlanAssertionsSpec pins exchanges == 1).
    */
  def weatherTable(raw: DataFrame): DataFrame = {
    val byHour = Seq(col("YYYYMMDD"), col("HH"))
    val window = 14 * 24
    val ra = withDerivedMeasures(raw)
      .withColumn("TemperatuurRA",
        rollingMean(col("Temperatuur"), Seq(col("STN")), byHour, window, window / 2))
      .withColumn("GevoelstemperatuurRA",
        rollingMean(col("Gevoelstemperatuur"), Seq(col("STN")), byHour, window, window / 2))
      .withColumn("date_column", to_date(col("YYYYMMDD").cast("string"), "yyyyMMdd"))
      .withColumn("datetime_column",
        col("date_column").cast("timestamp")
          + make_dt_interval(lit(0), col("HH"), lit(0), lit(0)))
    val marked = markPeriodBeforeExtreme(
      markPeriodBeforeExtreme(ra, "TemperatuurRA", col("datetime_column"),
        Seq("STN"), days = 14, lowest = true, "Koudste2WkTemperatuur"),
      "GevoelstemperatuurRA", col("datetime_column"),
      Seq("STN"), days = 14, lowest = true, "Koudste2WkGevoelstemperatuur")
    val weekly = Seq(col("STN"), col("year"), col("week_of_year"))
    val iso = marked
      .withColumn("year", year(col("date_column")).cast("long"))
      .withColumn("week_of_year", weekofyear(col("date_column")).cast("long"))
      .withColumn("day_of_week", weekday(col("date_column")).cast("long"))
      .withColumn("TemperatuurISOWk", groupMean(col("Temperatuur"), weekly))
      .withColumn("GevoelstemperatuurISOWk",
        groupMean(col("Gevoelstemperatuur"), weekly))
      .withColumn("days_in_week",
        round(count(col("date_column")).over(Window.partitionBy(weekly: _*)) / 24.0)
          .cast("int"))
    // RANK on a decimal-stable weekly mean, not the raw double mean: an
    // unordered window avg sums in shuffle-read order, so two weeks with
    // near-tied means could swap ranks between runs/engines. The exact
    // decimal sum -> double -> 1e-6 round is order-independent
    // (Aggregates.exactMean's arithmetic, windowed); genuine 1e-6 ties
    // break deterministically on week_of_year.
    def stableWkMean(c: Column): Column = {
      val w = Window.partitionBy(weekly: _*)
      floor((sum(c.cast("decimal(28,12)")).over(w).cast("double")
        / count(c).over(w)) * 1e6 + 0.5) / 1e6
    }
    val ranked = iso
      .withColumn("__tRank", stableWkMean(col("Temperatuur")))
      .withColumn("__gRank", stableWkMean(col("Gevoelstemperatuur")))
    val wT = Window.partitionBy(col("STN"), col("year"))
      .orderBy(col("__tRank").asc_nulls_last, col("week_of_year"))
    val wG = Window.partitionBy(col("STN"), col("year"))
      .orderBy(col("__gRank").asc_nulls_last, col("week_of_year"))
    ranked
      .withColumn("Koudste2ISOWkTemperatuur", dense_rank().over(wT) <= 2)
      .withColumn("Koudste2ISOWkGevoelstemperatuur", dense_rank().over(wG) <= 2)
      .drop("__tRank", "__gRank")
  }
}
