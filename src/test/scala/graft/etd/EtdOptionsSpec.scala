package graft.etd

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The reference-options facade: path conventions must match the
  * reference's composition rules exactly, and the loaders must read
  * what [[Pipeline.writeStages]]-shaped layouts write.
  */
class EtdOptionsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("path builders encode the reference conventions") {
    val o = EtdOptions("m", "a")
    assert(o.householdPath("5min") == "a/household_5min.parquet")
    assert(o.householdPath("default") == "a/household_default.parquet")
    assert(o.aggregatePath("project", "60min") == "a/project_60min.parquet")
    // aggregate.py:324 safe-name rule: lowercase, \W+ -> _
    assert(o.safeName("My Table-Name!") == "my_table_name_")
    // Unicode parity: Python's \W is Unicode-aware — byte-for-byte vs
    // re.sub(r"\W+", "_", "Zon Éopwek-Σtotaal!".lower())
    assert(o.safeName("Zon Éopwek-Σtotaal!") == "zon_éopwek_σtotaal_")
    assert(o.aggregatePath("Huis Data", "24h") == "a/huis_data_24h.parquet")
    assert(o.indexPath == "m/index.parquet")
    // unset weather option fails loudly, like unset reference options
    assertThrows[RuntimeException](o.weatherDataTable(spark))
  }

  test("loaders read a writeStages-shaped layout under the option roots") {
    val root = graft.TempDirs.dir("etdopts")
    val o = EtdOptions(s"$root/mapped", s"$root/aggregate")

    Seq((1L, 0L, "p1"), (2L, 1L, "p2"))
      .toDF("HuisIdBSV", "ProjectIdBSV", "meta")
      .write.parquet(o.indexPath)
    Seq((1L, 0L, 2.5), (2L, 1L, 3.5))
      .toDF("HuisIdBSV", "ProjectIdBSV", "ElektriciteitsgebruikTotaalDiff")
      .write.parquet(o.householdPath("5min"))
    Seq((0L, 10.0)).toDF("ProjectIdBSV", "total")
      .write.parquet(o.aggregatePath("project", "5min"))

    val ix = o.indexTable(spark)
    assert(ix.count() == 2)

    val hh = o.householdTables(spark, wanted = Seq("5min"))
    assert(hh.keySet == Set("5min"))
    // the index metadata rode the broadcast join on
    assert(hh("5min").columns.contains("meta"))
    assert(hh("5min").filter(col("HuisIdBSV") === 1L)
      .select("meta").as[String].head() == "p1")

    val pr = o.projectTables(spark, wanted = Seq("5min"))
    assert(pr("5min").count() == 1)
    assert(o.aggregateTable(spark, "Project", "5min").count() == 1,
      "safe-name must route display names to the same file")
  }

  test("projectWeatherStationTable + joinWeather resolve both dimensions from options (knmi.py:9-27)") {
    // unset option fails loudly
    assertThrows[RuntimeException](EtdOptions().projectWeatherStationTable(spark))

    // xlsx fixture: ProjectWeatherStation sheet with ProjectIdBSV /
    // Weerstation / Nummer, names lowercase on purpose (the facade must
    // upper-case them like the reference)
    val xf = graft.TempDirs.file("stations", ".xlsx").toFile
    val zip = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(xf))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    entry("xl/sharedStrings.xml",
      """<?xml version="1.0"?>
        |<sst><si><t>ProjectIdBSV</t></si><si><t>Weerstation</t></si>
        |<si><t>Nummer</t></si><si><t>de bilt</t></si></sst>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?>
        |<worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
        |<row r="2"><c r="A2"><v>7</v></c><c r="B2" t="s"><v>3</v></c><c r="C2"><v>260</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.close()

    val wdir = graft.TempDirs.dir("etdopts_knmi2").toFile
    val w = new java.io.PrintWriter(new java.io.File(wdir, "uurgeg_260.txt"))
    w.println("# STN,YYYYMMDD,HH,T,FH,U")
    (1 to 24).foreach(h => w.println(s"260,20230101,$h,${-50 + h},30,90"))
    w.close()

    val o = EtdOptions(
      weatherDataFolderPath = Some(wdir.getAbsolutePath),
      weatherStationsSummaryFile = Some(xf.getAbsolutePath))

    val m = o.projectWeatherStationTable(spark)
    val mr = m.collect()
    assert(mr.length == 1)
    assert(mr.head.getAs[String]("Weerstation") == "DE BILT")
    assert(mr.head.getAs[Long]("STN") == 260L)

    // the options-resolved join path: station stamp + 3-key weather join
    val rd = Seq((1L, 7L, java.sql.Timestamp.valueOf("2023-01-01 09:00:00")))
      .toDF("HuisIdBSV", "ProjectIdBSV", "ReadingDate")
    val joined = o.joinWeather(spark, rd).collect()
    assert(joined.length == 1)
    val row = joined.head
    assert(row.getAs[String]("Weerstation") == "DE BILT")
    assert(row.getAs[Long]("STN") == 260L)
    // HH = hour + 1 key derivation found the 10th hour's row: T = -40 -> -4.0
    assert(math.abs(row.getAs[Double]("Temperatuur") - (-4.0)) < 1e-9)
  }

  test("weatherDataTable runs the full weather chain off the option folder") {
    val dir = graft.TempDirs.dir("etdopts_knmi").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "uurgeg_260.txt"))
    w.println("# KNMI hourly data")
    w.println("# STN,YYYYMMDD,HH,T,FH,U")
    (1 to 24).foreach(h => w.println(s"260,20230101,$h,${-10 - h},30,90"))
    w.close()
    val o = EtdOptions(weatherDataFolderPath = Some(dir.getAbsolutePath))
    val wt = o.weatherDataTable(spark)
    assert(wt.count() == 24)
    // the chain actually ran: derived measures + rolling/weekly columns
    Seq("Temperatuur", "TemperatuurRA", "Koudste2WkTemperatuur",
      "TemperatuurISOWk").foreach(c =>
      assert(wt.columns.contains(c), s"missing weather column $c"))
  }
}
