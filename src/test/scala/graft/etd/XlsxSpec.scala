package graft.etd

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class XlsxSpec extends AnyFunSuite {
  import SharedSpark.spark

  private def writeMinimalXlsx(): String = {
    val f = graft.TempDirs.file("stations", ".xlsx").toFile
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    entry("xl/sharedStrings.xml",
      """<?xml version="1.0"?>
        |<sst><si><t>Weerstation</t></si><si><t>Nummer</t></si>
        |<si><t>de bilt</t></si><si><t>schiphol</t></si></sst>""".stripMargin)
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?>
        |<worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>260</v></c></row>
        |<row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3"><v>240</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.close()
    f.getAbsolutePath
  }

  test("S5: minimal xlsx reader parses shared strings + numeric cells") {
    val df = Xlsx.readStationMapping(spark, writeMinimalXlsx())
    val rows = df.orderBy("STN").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("Weerstation")).toSeq
      == Seq("SCHIPHOL", "DE BILT"))
    assert(rows.map(_.getAs[Long]("STN")).toSeq == Seq(240L, 260L))
  }

  test("S5: cells without the optional r attribute follow sequentially (ECMA-376)") {
    val f = graft.TempDirs.file("noref", ".xlsx").toFile
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    entry("xl/sharedStrings.xml",
      """<?xml version="1.0"?>
        |<sst><si><t>Weerstation</t></si><si><t>Nummer</t></si>
        |<si><t>eelde</t></si></sst>""".stripMargin)
    // no r attributes at all — implied sequential positions
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?>
        |<worksheet><sheetData>
        |<row><c t="s"><v>0</v></c><c t="s"><v>1</v></c></row>
        |<row><c t="s"><v>2</v></c><c><v>280</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.close()
    val df = Xlsx.readStationMapping(spark, f.getAbsolutePath)
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("Weerstation") == "EELDE")
    assert(rows.head.getAs[Long]("STN") == 280L)
  }
}
