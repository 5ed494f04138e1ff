package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** WARC ingestion: a synthetic spec-built archive (warcinfo + request +
  * two responses, exact CRLF grammar and Content-Length byte counts)
  * parses field-for-field, the HTTP payload splits into status /
  * content-type / entity body, multi-member gzip decompresses across
  * member boundaries, truncation fails loudly, and the
  * response bodies → htmlToText composition recovers the page prose.
  */
class WarcSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val crlf = "\r\n"

  // one WARC file image through the record walk, as a frame
  private def parse(name: String, bytes: Array[Byte]) =
    Warc.parseWarcBytes(name, bytes, gunzip = name.endsWith(".gz")).toSeq.toDF()

  private def record(tpe: String, uri: String, payload: Array[Byte],
                     extra: Seq[String] = Nil): Array[Byte] = {
    val head = (Seq(
      "WARC/1.0",
      s"WARC-Type: $tpe",
      "WARC-Date: 2024-01-02T03:04:05Z") ++
      (if (uri.nonEmpty) Seq(s"WARC-Target-URI: $uri") else Nil) ++
      extra ++
      Seq(s"Content-Length: ${payload.length}", "", "")).mkString(crlf)
    (head.getBytes("UTF-8").toSeq ++ payload.toSeq ++
      (crlf + crlf).getBytes("UTF-8").toSeq).toArray
  }

  private def httpResponse(cType: String, body: String): Array[Byte] =
    (Seq("HTTP/1.1 200 OK", s"Content-Type: $cType",
      s"Content-Length: ${body.getBytes("UTF-8").length}", "", "")
      .mkString(crlf) + body).getBytes("UTF-8")

  private val page1 =
    "<html><head><script>var a = 1;</script></head>" +
      "<body><p>hello &amp; welcome</p></body></html>"
  private val page2 = "<html><body><h1>second page</h1></body></html>"

  private def archiveBytes: Array[Byte] = Array(
    record("warcinfo", "", "software: graft-spec".getBytes("UTF-8"),
      Seq("Content-Type: application/warc-fields")),
    record("request", "http://a.example/",
      s"GET / HTTP/1.1${crlf}Host: a.example$crlf$crlf".getBytes("UTF-8")),
    record("response", "http://a.example/",
      httpResponse("text/html; charset=utf-8", page1)),
    record("response", "http://b.example/x",
      httpResponse("text/html", page2))).flatten

  test("plain archive parses field-for-field; HTTP payloads split") {
    val rows = parse("seg-0.warc", archiveBytes)
      .orderBy("record_idx").collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[String]("warc_type")).toSeq ==
      Seq("warcinfo", "request", "response", "response"))
    val r2 = rows(2)
    assert(r2.getAs[String]("target_uri") == "http://a.example/")
    assert(r2.getAs[String]("warc_date") == "2024-01-02T03:04:05Z")
    assert(r2.getAs[Int]("http_status") == 200)
    assert(r2.getAs[String]("content_type") == "text/html; charset=utf-8")
    assert(new String(r2.getAs[Array[Byte]]("body"), "UTF-8") == page1)
    // non-response records keep the raw payload and WARC content type
    assert(rows(0).getAs[String]("content_type") == "application/warc-fields")
    assert(rows(0).getAs[Int]("http_status") == 0)
  }

  test("multi-member gzip decompresses across member boundaries") {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    // two gzip MEMBERS concatenated — the Common Crawl layout;
    // split on a record boundary: member 1 = records 0-1, member 2 = 2-3
    val recs = Array(
      record("warcinfo", "", "software: graft-spec".getBytes("UTF-8"),
        Seq("Content-Type: application/warc-fields")),
      record("request", "http://a.example/",
        s"GET / HTTP/1.1${crlf}Host: a.example$crlf$crlf".getBytes("UTF-8")),
      record("response", "http://a.example/",
        httpResponse("text/html; charset=utf-8", page1)),
      record("response", "http://b.example/x",
        httpResponse("text/html", page2)))
    val member1 = recs.take(2).flatten
    val member2 = recs.drop(2).flatten
    val rows = parse("seg-0.warc.gz", gz(member1) ++ gz(member2))
      .orderBy("record_idx").collect()
    assert(rows.length == 4)
    assert(new String(rows(3).getAs[Array[Byte]]("body"), "UTF-8") == page2)
  }

  test("truncated payload fails loudly") {
    val e = intercept[Throwable] {
      parse("seg-0.warc", archiveBytes.dropRight(30)).count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("truncated")), chain(e).mkString(" | "))
  }

  test("responses -> htmlToText recovers page prose") {
    val texts = parse("seg-0.warc", archiveBytes)
      .filter(col("warc_type") === "response")
      .withColumn("html", decode(col("body"), "UTF-8"))
      .select(col("target_uri"),
        TextFunctions.htmlToText(col("html")).as("t"))
      .as[(String, String)].collect().toMap
    assert(texts("http://a.example/") == "hello & welcome")
    assert(texts("http://b.example/x") == "second page")
  }
}
