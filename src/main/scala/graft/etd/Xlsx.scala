package graft.etd

import java.util.zip.ZipFile

import scala.collection.mutable
import scala.xml.XML

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal xlsx reader for the weather-station mapping workbook
  * (SURVEY §2.1 S5; reference: pd.read_excel at
  * /root/reference/etdtransform/knmi.py:19-27).
  *
  * xlsx is a zip of XML parts; this reads `xl/sharedStrings.xml` and a
  * sheet's `xl/worksheets/sheetN.xml` with the JDK's zip + scala-xml — no
  * POI dependency. Driver-side by design: the workbook is a small
  * dimension table (project -> weather station), read once and broadcast
  * into joins. Supports inline/shared strings and numeric cells; the
  * first row is the header.
  */
object Xlsx {

  /** Read the first sheet into a DataFrame of strings. */
  def readSheet(spark: SparkSession, path: String): DataFrame = {
    val sheet = 1
    val zip = new ZipFile(path)
    try {
      def part(name: String): Option[scala.xml.Elem] =
        Option(zip.getEntry(name)).map(e => XML.load(zip.getInputStream(e)))

      val shared: IndexedSeq[String] =
        part("xl/sharedStrings.xml").toIndexedSeq
          .flatMap(ss => (ss \ "si").map(si => (si \\ "t").map(_.text).mkString))

      val sheetXml = part(s"xl/worksheets/sheet$sheet.xml")
        .getOrElse(throw new IllegalArgumentException(
          s"$path has no sheet$sheet"))

      // cell ref "B3" -> 0-based column index
      def colIndex(ref: String): Int =
        ref.takeWhile(_.isLetter).foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1

      val rows = (sheetXml \\ "row").map { row =>
        val cells = mutable.Map.empty[Int, String]
        // ECMA-376 makes the cell ref `r` OPTIONAL: a cell without it
        // implicitly follows its predecessor, so track the cursor instead
        // of parking r-less cells at index -1 (silently dropped)
        var cursor = -1
        (row \ "c").foreach { c =>
          val ref = c \@ "r"
          val idx = if (ref.nonEmpty) colIndex(ref) else cursor + 1
          cursor = idx
          val t = c \@ "t"
          val v = (c \ "v").headOption.map(_.text)
          val value = t match {
            case "s" => v.map(i => shared(i.toInt))
            case "inlineStr" => Some((c \\ "t").map(_.text).mkString)
            case _ => v
          }
          value.foreach(cells(idx) = _)
        }
        cells
      }.filter(_.nonEmpty)

      require(rows.nonEmpty, s"$path sheet$sheet is empty")
      val width = rows.map(r => if (r.isEmpty) 0 else r.keys.max + 1).max
      val header = (0 until width).map(i => rows.head.getOrElse(i, s"_c$i"))
      val data = rows.tail.map(r =>
        org.apache.spark.sql.Row((0 until width).map(i => r.get(i).orNull): _*))
      val schema = org.apache.spark.sql.types.StructType(header.map(h =>
        org.apache.spark.sql.types.StructField(h,
          org.apache.spark.sql.types.StringType, nullable = true)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(data.toSeq, 1), schema)
    } finally zip.close()
  }

  /** The reference's station-mapping load: sheet with Weerstation/Nummer
    * columns, names upper-cased, STN = Nummer (knmi.py:19-27).
    */
  def readStationMapping(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    readSheet(spark, path)
      .withColumn("Weerstation", upper(col("Weerstation")))
      .withColumn("STN", col("Nummer").cast("long"))
  }
}
