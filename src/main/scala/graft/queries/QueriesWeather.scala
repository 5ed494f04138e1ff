package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.table
import graft.etd.{Model, Weather}
import graft.etd.Model.{ProjectId, ReadingDate}

/** Weather-path coverage (SURVEY §2.5 W1-W4, W12-W14; §2.3 J2/J3/J9):
  * events reshaped into an hourly-weather-like frame — station =
  * user_id % 10, temperature = value (negative values welcome) — run
  * through graft.etd.Weather, with DuckDB oracles.
  */
object QueriesWeather {

  /** Weather-shaped frame: one observation per (stn, t_us, event_id). */
  def wx(spark: SparkSession, dir: String): DataFrame =
    graft.SparkEntry.eventsWithMicros(spark, dir)
      .withColumn("stn", pmod(col("user_id"), lit(10L)))
      .withColumn("temp", when(col("event_type") =!= "error", col("value")))
      .withColumn("day", expr("t_us div 86400000000"))
      .withColumn("week", expr("t_us div 604800000000"))

  private val wxSql =
    """WITH wx AS (
      |  SELECT *, epoch_ns(ts)//1000 AS t_us, user_id % 10 AS stn,
      |    CASE WHEN event_type <> 'error' THEN value END AS temp,
      |    (epoch_ns(ts)//1000)//86400000000 AS day,
      |    (epoch_ns(ts)//1000)//604800000000 AS week
      |  FROM events
      |)""".stripMargin

  /** Daily per-station averages with a ReadingDate timestamp (the grain
    * the period-marking operators run on).
    */
  def daily(spark: SparkSession, dir: String): DataFrame =
    wx(spark, dir)
      .groupBy(col("stn"), col("day"))
      .agg(graft.etd.Aggregates.exactMean(col("temp")).as("t"))
      .withColumn(ReadingDate, timestamp_seconds(col("day") * 86400))

  private val dailySql = wxSql +
    """, daily AS (
      |  SELECT stn, day,
      |    floor((sum(temp::DECIMAL(28,12))::DOUBLE / count(temp)) * 1000000 + 0.5) / 1000000 AS t
      |  FROM wx GROUP BY 1, 2
      |)""".stripMargin

  /** W1 — rolling mean over 24-row lookback, min_periods 12 (pandas
    * min_periods gates on non-null count in the frame).
    */
  def q_w1_rolling(spark: SparkSession, dir: String): DataFrame =
    wx(spark, dir)
      .withColumn("ra", round(Weather.rollingMean(col("temp"),
        Seq(col("stn")), Seq(col("t_us"), col("event_id")), 24, 12), 6))
      .select("event_id", "stn", "ra")

  /** W2 — group-broadcast weekly mean stamped on every observation. */
  def q_w2_group_mean(spark: SparkSession, dir: String): DataFrame =
    wx(spark, dir)
      .withColumn("wk_mean",
        round(Weather.groupMean(col("temp"), Seq(col("stn"), col("week"))), 6))
      .select("event_id", "stn", "week", "wk_mean")

  /** W3/W4/A9 — weekly summary, rank within station, 2-coldest flag. */
  def weeklyRanked(spark: SparkSession, dir: String): DataFrame = {
    val summary = wx(spark, dir)
      .groupBy(col("stn").as("STN"), col("week").as("week_of_year"))
      .agg(graft.etd.Aggregates.exactMean(col("temp")).as("wk_t"))
      .withColumn("year", lit(2024L))
    Weather.coldestWeekFlags(summary, "wk_t", "koudste2")
  }

  def q_w3w4_coldest_weeks(spark: SparkSession, dir: String): DataFrame =
    weeklyRanked(spark, dir)
      .select(col("STN").as("stn"), col("week_of_year").as("week"),
        col("wk_t"), col("rank_wk_t").cast("long").as("rnk"), col("koudste2"))

  /** J9 — weekly flags joined back onto the hourly observations. */
  def q_j9_weekly_joinback(spark: SparkSession, dir: String): DataFrame = {
    val flags = weeklyRanked(spark, dir)
      .select(col("STN"), col("year"), col("week_of_year"), col("koudste2"))
    val hourly = wx(spark, dir)
      .withColumn("STN", col("stn"))
      .withColumn("year", lit(2024L))
      .withColumn("week_of_year", col("week"))
    Weather.joinWeeklyFlags(hourly, flags)
      .select(col("event_id"), col("stn"), col("koudste2"))
  }

  /** W12 — mark every daily row within 3 days before the station's
    * coldest daily average (time-based, ties all mark).
    */
  def q_w12_mark_coldest(spark: SparkSession, dir: String): DataFrame =
    Weather.markPeriodBeforeExtreme(daily(spark, dir), "t",
        col(ReadingDate), Seq("stn"), days = 3, lowest = true, "coldest")
      .select(col("stn"), col("day"), col("coldest"))

  /** W13 — top-1 period extraction: (StartTime, EndTime, extreme). */
  def q_w13_extreme_period(spark: SparkSession, dir: String): DataFrame =
    Weather.extremeAvgPeriod(daily(spark, dir), "t", Seq("stn"),
        days = 3, highest = false)
      .select(col("stn"), col("StartTime").cast("long").as("start_s"),
        col("EndTime").cast("long").as("end_s"),
        col("LowestRollingAverage").as("extreme"))

  /** W14 — simultaneity ratio: max daily avg over max hourly avg. */
  def q_w14_simultaneity(spark: SparkSession, dir: String): DataFrame = {
    val hourly = wx(spark, dir)
      .groupBy(col("stn"), expr("t_us div 3600000000").as("hr"))
      .agg(graft.etd.Aggregates.exactMean(col("temp")).as("t"))
    Weather.simultaneityRatio(daily(spark, dir), hourly, "t", Seq("stn"))
      .select(col("stn"), col("HighestDailyAvg"), col("Highest5MinAvg"),
        round(col("Ratio"), 6).as("ratio"))
  }

  /** Raw KNMI-shaped hourly frame fabricated from events: STN = user_id
    * mod 10, hour-ending HH 1..24, T/FH as decimal-exact hourly means
    * (0.1-unit convention), U deterministic from the hour. Feeds the
    * composed [[Weather.weatherTable]].
    */
  def knmiRaw(spark: SparkSession, dir: String): DataFrame =
    graft.SparkEntry.eventsWithMicros(spark, dir)
      .withColumn("stn", pmod(col("user_id"), lit(10L)))
      .withColumn("hr", expr("t_us div 3600000000"))
      .groupBy("stn", "hr")
      .agg(
        graft.etd.Aggregates.exactMean(
          when(col("event_type") =!= "error", col("value"))).as("T"),
        graft.etd.Aggregates.exactMean(abs(col("value"))).as("FH"))
      .withColumn("U", pmod(col("hr"), lit(101L)).cast("double"))
      .withColumn("STN", col("stn"))
      .withColumn("YYYYMMDD",
        date_format(timestamp_seconds(col("hr") * 3600), "yyyyMMdd").cast("int"))
      .withColumn("HH", (pmod(col("hr"), lit(24L)) + 1).cast("int"))

  /** Boundary-shifted 6dp floor round: the compared rolling/weekly means
    * are averages of 6dp-granular values over n <= 336 rows, so their
    * exact values sit on a 1e-6/n lattice that CONTAINS round()'s .5
    * half-steps (n even) — where Spark's and DuckDB's round(double, 6)
    * implementations legitimately disagree. Shifting the decision
    * boundary by 1e-3 in the scaled domain puts it at .499, which is not
    * expressible as m/n for any n < 1000, so no exact value can sit on
    * it and both engines agree for any summation-order ulp drift.
    */
  private def stable6(c: org.apache.spark.sql.Column) =
    floor(c * 1e6 + 0.499) / 1e6

  /** W1/W2/W3/W4/W12/J9 composed — the one-call weather table
    * (get_weather_data_table parity, load_data.py:103-246): derived
    * measures, 14d rolling averages, coldest-2-week marks, ISO-week
    * means, coldest-2-ISO-week flags joined back.
    */
  def q_weather_table(spark: SparkSession, dir: String): DataFrame =
    Weather.weatherTable(knmiRaw(spark, dir))
      .select(col("stn"), col("hr"),
        stable6(col("Temperatuur")).as("temp"),
        stable6(col("TemperatuurRA")).as("t_ra"),
        stable6(col("GevoelstemperatuurRA")).as("g_ra"),
        col("Koudste2WkTemperatuur").as("k2wk_t"),
        col("Koudste2WkGevoelstemperatuur").as("k2wk_g"),
        col("year"), col("week_of_year"), col("day_of_week"),
        stable6(col("TemperatuurISOWk")).as("t_isowk"),
        col("days_in_week").cast("long").as("days_in_week"),
        col("Koudste2ISOWkTemperatuur").as("k2iso_t"),
        col("Koudste2ISOWkGevoelstemperatuur").as("k2iso_g"))

  /** J2/J3 — station mapping + 3-key weather join with the reference's
    * HH = hour+1 / YYYYMMDD key derivation (load_data.py:301-315).
    */
  def q_j3_weather_join(spark: SparkSession, dir: String): DataFrame = {
    val rd = QueriesEtd.readings(spark, dir)
    val stationMap = rd.select(col(ProjectId)).distinct()
      .withColumn("STN", pmod(col(ProjectId), lit(3L)))
      .withColumn("Weerstation", concat(lit("S"), col("STN")))
    val weather = rd
      .withColumn("STN", pmod(col(ProjectId), lit(3L)))
      .withColumn("HH", hour(col(ReadingDate)) + 1)
      .withColumn("YYYYMMDD", date_format(col(ReadingDate), "yyyyMMdd").cast("int"))
      .groupBy("STN", "YYYYMMDD", "HH")
      .agg(graft.etd.Aggregates.exactMean(col("value")).as("wtemp"))
    Weather.joinWeather(rd, stationMap, weather)
      .select(col("event_id"), col("STN"), col("wtemp"))
  }

  /** P9-composed — the get_dfs missing-weather QA audit
    * (load_data.py:410-473) over a weather join with fabricated gaps
    * (every 3rd hour's weather row withheld).
    */
  def q_qa_missing_weather(spark: SparkSession, dir: String): DataFrame = {
    val rd = QueriesEtd.readings(spark, dir)
    val stationMap = rd.select(col(ProjectId)).distinct()
      .withColumn("STN", pmod(col(ProjectId), lit(3L)))
      .withColumn("Weerstation", concat(lit("S"), col("STN")))
    val weather = rd
      .withColumn("STN", pmod(col(ProjectId), lit(3L)))
      .withColumn("HH", hour(col(ReadingDate)) + 1)
      .withColumn("YYYYMMDD", date_format(col(ReadingDate), "yyyyMMdd").cast("int"))
      .groupBy("STN", "YYYYMMDD", "HH")
      .agg(graft.etd.Aggregates.exactMean(col("value")).as("Temperatuur"))
      .filter(pmod(col("HH"), lit(3)) =!= 0)
    Weather.missingWeatherReport(
      Weather.joinWeather(rd, stationMap, weather), Seq("Temperatuur"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_w1_rolling" -> (q_w1_rolling _),
    "q_w2_group_mean" -> (q_w2_group_mean _),
    "q_w3w4_coldest_weeks" -> (q_w3w4_coldest_weeks _),
    "q_j9_weekly_joinback" -> (q_j9_weekly_joinback _),
    "q_w12_mark_coldest" -> (q_w12_mark_coldest _),
    "q_w13_extreme_period" -> (q_w13_extreme_period _),
    "q_w14_simultaneity" -> (q_w14_simultaneity _),
    "q_j3_weather_join" -> (q_j3_weather_join _),
    "q_weather_table" -> (q_weather_table _),
    "q_qa_missing_weather" -> (q_qa_missing_weather _),
  )

  private val weeklySql = wxSql +
    """, weekly AS (
      |  SELECT stn, week,
      |    floor((sum(temp::DECIMAL(28,12))::DOUBLE / count(temp)) * 1000000 + 0.5) / 1000000 AS wk_t
      |  FROM wx GROUP BY 1, 2
      |), ranked AS (
      |  SELECT *, rank() OVER w AS rnk, row_number() OVER w <= 2 AS koudste2
      |  FROM weekly WINDOW w AS (PARTITION BY stn
      |    ORDER BY wk_t ASC NULLS LAST, week)
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_w1_rolling" -> (wxSql +
      """ SELECT event_id, stn,
        |  CASE WHEN count(temp) OVER w >= 12 THEN round(avg(temp) OVER w, 6) END AS ra
        |FROM wx WINDOW w AS (PARTITION BY stn ORDER BY t_us, event_id
        |  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin),
    "q_w2_group_mean" -> (wxSql +
      """ SELECT event_id, stn, week,
        |  round(avg(temp) OVER (PARTITION BY stn, week), 6) AS wk_mean
        |FROM wx""".stripMargin),
    "q_w3w4_coldest_weeks" -> (weeklySql +
      " SELECT stn, week, wk_t, rnk::BIGINT AS rnk, koudste2 FROM ranked"),
    "q_j9_weekly_joinback" -> (weeklySql +
      """ SELECT wx.event_id, wx.stn, r.koudste2
        |FROM wx LEFT JOIN ranked r ON wx.stn = r.stn AND wx.week = r.week""".stripMargin),
    "q_w12_mark_coldest" -> (dailySql +
      """, ext AS (
        |  SELECT stn, day AS eday FROM (
        |    SELECT stn, day, t, min(t) OVER (PARTITION BY stn) AS mn FROM daily)
        |  WHERE t = mn
        |)
        |SELECT d.stn, d.day,
        |  coalesce(bool_or(d.day > e.eday - 3 AND d.day <= e.eday), false) AS coldest
        |FROM daily d LEFT JOIN ext e ON d.stn = e.stn
        |GROUP BY d.stn, d.day""".stripMargin),
    "q_w13_extreme_period" -> (dailySql +
      """, rk AS (
        |  SELECT *, rank() OVER (PARTITION BY stn ORDER BY t ASC) AS r FROM daily
        |  WHERE t IS NOT NULL
        |)
        |SELECT stn, day*86400 - 3*86400 AS start_s, day*86400 AS end_s,
        |  t AS extreme
        |FROM rk WHERE r = 1""".stripMargin),
    "q_w14_simultaneity" -> (dailySql +
      """, hourly AS (
        |  SELECT stn, t_us//3600000000 AS hr,
        |    floor((sum(temp::DECIMAL(28,12))::DOUBLE / count(temp)) * 1000000 + 0.5) / 1000000 AS t
        |  FROM wx GROUP BY 1, 2
        |), d AS (SELECT stn, max(t) AS hd FROM daily GROUP BY 1),
        |h AS (SELECT stn, max(t) AS hm FROM hourly GROUP BY 1)
        |SELECT d.stn, d.hd AS HighestDailyAvg, h.hm AS Highest5MinAvg,
        |  round(CASE WHEN h.hm <> 0 THEN d.hd/h.hm END, 6) AS ratio
        |FROM d JOIN h ON d.stn = h.stn""".stripMargin),
    "q_weather_table" ->
      """WITH kh AS (
        |  SELECT user_id % 10 AS stn, (epoch_ns(ts)//1000)//3600000000 AS hr,
        |    floor((sum((CASE WHEN event_type <> 'error' THEN value END)::DECIMAL(28,12))::DOUBLE
        |      / count(CASE WHEN event_type <> 'error' THEN value END)) * 1000000 + 0.5) / 1000000 AS T,
        |    floor((sum(abs(value)::DECIMAL(28,12))::DOUBLE / count(abs(value))) * 1000000 + 0.5) / 1000000 AS FH
        |  FROM events GROUP BY 1, 2
        |), kr AS (
        |  SELECT stn, hr, T, FH, (hr % 101)::DOUBLE AS U,
        |    strftime(make_timestamp(hr*3600000000), '%Y%m%d')::INT AS YYYYMMDD,
        |    (hr % 24 + 1)::INT AS HH
        |  FROM kh
        |), kd AS (
        |  SELECT *, T/10 AS temperatuur, FH/10 AS windsnelheid, U AS vochtigheid,
        |    U * 6.105 * exp((T/10) * 17.27 / ((T/10) + 237.7)) / 100 AS dampdruk
        |  FROM kr
        |), kd2 AS (
        |  SELECT *, temperatuur + dampdruk * 0.33 - windsnelheid * 0.7 - 4.0 AS gevoelstemperatuur
        |  FROM kd
        |), kra AS (
        |  SELECT *,
        |    CASE WHEN count(temperatuur) OVER w >= 168 THEN avg(temperatuur) OVER w END AS t_ra,
        |    CASE WHEN count(gevoelstemperatuur) OVER w >= 168 THEN avg(gevoelstemperatuur) OVER w END AS g_ra
        |  FROM kd2 WINDOW w AS (PARTITION BY stn ORDER BY YYYYMMDD, HH
        |    ROWS BETWEEN 335 PRECEDING AND CURRENT ROW)
        |), kdt AS (
        |  SELECT *, strptime(YYYYMMDD::VARCHAR, '%Y%m%d')::DATE AS date_column,
        |    strptime(YYYYMMDD::VARCHAR, '%Y%m%d') + HH * INTERVAL 1 HOUR AS datetime_column
        |  FROM kra
        |), ex1 AS (
        |  SELECT stn, datetime_column AS et FROM (
        |    SELECT stn, datetime_column, t_ra, min(t_ra) OVER (PARTITION BY stn) AS mn FROM kdt)
        |  WHERE t_ra = mn
        |), ex2 AS (
        |  SELECT stn, datetime_column AS et FROM (
        |    SELECT stn, datetime_column, g_ra, min(g_ra) OVER (PARTITION BY stn) AS mn FROM kdt)
        |  WHERE g_ra = mn
        |), mk1 AS (
        |  SELECT k.stn, k.hr,
        |    coalesce(bool_or(k.datetime_column > e.et - INTERVAL 14 DAY AND k.datetime_column <= e.et), false) AS k2wk_t
        |  FROM kdt k LEFT JOIN ex1 e ON k.stn = e.stn GROUP BY 1, 2
        |), mk2 AS (
        |  SELECT k.stn, k.hr,
        |    coalesce(bool_or(k.datetime_column > e.et - INTERVAL 14 DAY AND k.datetime_column <= e.et), false) AS k2wk_g
        |  FROM kdt k LEFT JOIN ex2 e ON k.stn = e.stn GROUP BY 1, 2
        |), kwk AS (
        |  SELECT k.*, mk1.k2wk_t, mk2.k2wk_g,
        |    year(k.date_column)::BIGINT AS year,
        |    weekofyear(k.date_column)::BIGINT AS week_of_year,
        |    (isodow(k.date_column) - 1)::BIGINT AS day_of_week
        |  FROM kdt k
        |  JOIN mk1 ON k.stn = mk1.stn AND k.hr = mk1.hr
        |  JOIN mk2 ON k.stn = mk2.stn AND k.hr = mk2.hr
        |), kiso AS (
        |  SELECT *,
        |    avg(temperatuur) OVER wk AS t_isowk,
        |    avg(gevoelstemperatuur) OVER wk AS g_isowk,
        |    floor(((sum(temperatuur::DECIMAL(28,12)) OVER wk)::DOUBLE
        |      / count(temperatuur) OVER wk) * 1000000 + 0.5) / 1000000 AS t_rank,
        |    floor(((sum(gevoelstemperatuur::DECIMAL(28,12)) OVER wk)::DOUBLE
        |      / count(gevoelstemperatuur) OVER wk) * 1000000 + 0.5) / 1000000 AS g_rank,
        |    round(count(date_column) OVER wk / 24.0)::INT AS days_in_week
        |  FROM kwk WINDOW wk AS (PARTITION BY stn, year, week_of_year)
        |)
        |SELECT stn, hr,
        |  floor(temperatuur * 1000000 + 0.499) / 1000000 AS temp,
        |  floor(t_ra * 1000000 + 0.499) / 1000000 AS t_ra,
        |  floor(g_ra * 1000000 + 0.499) / 1000000 AS g_ra,
        |  k2wk_t, k2wk_g, year, week_of_year,
        |  day_of_week,
        |  floor(t_isowk * 1000000 + 0.499) / 1000000 AS t_isowk,
        |  days_in_week::BIGINT AS days_in_week,
        |  (dense_rank() OVER (PARTITION BY stn, year
        |    ORDER BY t_rank ASC NULLS LAST, week_of_year) <= 2) AS k2iso_t,
        |  (dense_rank() OVER (PARTITION BY stn, year
        |    ORDER BY g_rank ASC NULLS LAST, week_of_year) <= 2) AS k2iso_g
        |FROM kiso""".stripMargin,
    "q_qa_missing_weather" -> (QueriesEtd.shimSql +
      """, keyed AS (
        |  SELECT project, value, make_timestamp(t_us) AS rdate, project % 3 AS STN,
        |    hour(make_timestamp(t_us)) + 1 AS HH,
        |    strftime(make_timestamp(t_us), '%Y%m%d')::INT AS YYYYMMDD
        |  FROM r
        |), wth AS (
        |  SELECT * FROM (
        |    SELECT STN, YYYYMMDD, HH,
        |      floor((sum(value::DECIMAL(28,12))::DOUBLE / count(value)) * 1000000 + 0.5) / 1000000 AS temperatuur
        |    FROM keyed GROUP BY 1, 2, 3)
        |  WHERE HH % 3 <> 0
        |), jd AS (
        |  SELECT k.project, k.rdate, w.temperatuur
        |  FROM keyed k LEFT JOIN wth w ON k.STN = w.STN
        |    AND k.YYYYMMDD = w.YYYYMMDD AND k.HH = w.HH
        |)
        |SELECT 'Temperatuur' AS measure,
        |  count(CASE WHEN temperatuur IS NULL THEN 1 END) AS missing_count,
        |  count(*) AS total_records,
        |  floor(count(CASE WHEN temperatuur IS NULL THEN 1 END) / count(*) * 100 * 1000000 + 0.5) / 1000000 AS pct_missing,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list(project::VARCHAR) FILTER (WHERE temperatuur IS NULL))), ','), '') AS affected_projects,
        |  coalesce(array_to_string(list_sort(list_distinct(
        |    list(strftime(rdate, '%Y-%m-%d')) FILTER (WHERE temperatuur IS NULL))), ','), '') AS missing_dates
        |FROM jd""".stripMargin),
    "q_j3_weather_join" -> (QueriesEtd.shimSql +
      """, keyed AS (
        |  SELECT event_id, value, project % 3 AS STN,
        |    hour(make_timestamp(t_us)) + 1 AS HH,
        |    strftime(make_timestamp(t_us), '%Y%m%d')::INT AS YYYYMMDD
        |  FROM r
        |), wth AS (
        |  SELECT STN, YYYYMMDD, HH,
        |    floor((sum(value::DECIMAL(28,12))::DOUBLE / count(value)) * 1000000 + 0.5) / 1000000 AS wtemp
        |  FROM keyed GROUP BY 1, 2, 3
        |)
        |SELECT k.event_id, k.STN, wth.wtemp
        |FROM keyed k LEFT JOIN wth ON k.STN = wth.STN
        |  AND k.YYYYMMDD = wth.YYYYMMDD AND k.HH = wth.HH""".stripMargin),
  )
}
