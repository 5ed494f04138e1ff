package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etd._
import graft.etd.Model._

/** The analysis read mix over a `writeStages(partitionByProject = true)`
  * layout: six query kinds, each parameterized by one project.
  */
final class Reads(spark: SparkSession, in: String, layout: String,
                  tracer: Option[Tracer]) {
  private val opts = EtdOptions(
    mappedFolderPath = Gen.mappedDir(in),
    aggregateFolderPath = layout,
    weatherDataFolderPath = Some(Gen.weatherDir(in)))
  private val energy = "ElektriciteitsgebruikTotaalNetto"

  /** A module's output: as built when untraced; materialized inside its
    * own span when traced, so the next call is timed on its own.
    */
  private def layer(name: String)(df: => DataFrame): DataFrame = tracer match {
    case None => df
    case Some(t) => t.span(name)(df.localCheckpoint(eager = true))
  }

  private def hourly: DataFrame = layer("Tables.household") {
    Tables.household(spark, layout, index = Some(opts.indexTable(spark)),
      wanted = Seq("60min"),
      metadataColumns = Some(Seq("Oppervlakte", "Weerstation")))("60min")
  }
  private def projects(iv: String): DataFrame =
    layer("Tables.project")(Tables.project(spark, layout, Seq(iv))(iv))
  private def weather: DataFrame = tracer match {
    case None => opts.weatherDataTable(spark)
    case Some(_) =>
      val raw = layer("Sources.readKnmiCsv")(
        Sources.readKnmiCsv(spark, Gen.weatherDir(in)))
      layer("Weather.weatherTable")(Weather.weatherTable(raw))
  }

  val kinds: Seq[String] = Seq("household_daily", "project_24h", "weather",
    "join_weather", "extreme_period", "over40")

  /** Run one query to completion; returns its rows. */
  def run(kind: String, p: Int): Array[Row] = {
    val isP = col(ProjectId) === p
    kind match {
      case "household_daily" =>
        hourly.filter(isP)
          .groupBy(col(HouseId), to_date(col(ReadingDate)).as("day"))
          .agg(sum(energy).as("energy"), max("Oppervlakte").as("area"))
          .collect()
      case "project_24h" =>
        projects("24h").filter(isP).collect()
      case "weather" =>
        weather.filter(col("STN") === Gen.stationOf(p).stn)
          .groupBy("year", "week_of_year")
          .agg(avg("Temperatuur").as("t"),
            max(col("Koudste2WkTemperatuur").cast("int")).as("cold2wk"),
            max(col("Koudste2ISOWkGevoelstemperatuur").cast("int")).as("cold2iso"))
          .collect()
      case "join_weather" =>
        val stations = Sources.readStationMappingCsv(spark, Gen.stationCsv(in))
        layer("Weather.joinWeather")(
          Weather.joinWeather(hourly.filter(isP), stations, weather))
          .groupBy(col(HouseId))
          .agg(avg("Temperatuur").as("t"), sum(energy).as("energy"),
            count(lit(1)).as("n"))
          .collect()
      case "extreme_period" =>
        val daily = projects("24h").filter(isP)
        Weather.extremeAvgPeriod(daily, energy, Seq(ProjectId), days = 7,
          highest = true).collect() ++
          Weather.simultaneityRatio(daily, projects("5min").filter(isP), energy,
            Seq(ProjectId)).collect()
      case "over40" =>
        ImputeSummaries.over40PctImputed(
          spark.read.parquet(s"$layout/impute_summary_household.parquet")
            .filter(isP)).collect()
    }
  }
}

object Reads {
  /** Order-independent digest of collected rows (doubles to 6 decimals). */
  def digest(rows: Array[Row]): String = {
    def norm(v: Any): String = v match {
      case null => "\u0000"
      case d: Double => f"$d%.6f"
      case f: Float => f"${f.toDouble}%.6f"
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case o => o.toString
    }
    val lines = rows.map(r => r.toSeq.map(norm).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    s"${rows.length}:${md.digest().map("%02x".format(_)).mkString}"
  }

  /** Round `i` of the mix: every kind once, in a fixed order; kind `j`
    * runs on project `(i + j) mod P`, so any P consecutive rounds run every
    * (kind, project) pair once. The rounds a run times hold the same work on
    * every seed (with a seeded order, a run's median round time depended
    * on the seed, not only on the inputs). The seed picks the inputs.
    */
  def round(i: Int, kinds: Seq[String], projects: Seq[Int]): Seq[(String, Int)] =
    kinds.zipWithIndex.map { case (k, j) => (k, projects(Math.floorMod(i + j, projects.size))) }
}
