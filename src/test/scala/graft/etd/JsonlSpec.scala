package graft.etd

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** JSONL corpus ingest: explicit-schema parse, malformed-line capture,
  * per-file lineage, quarantine split.
  */
class JsonlSpec extends AnyFunSuite {
  import SharedSpark.spark

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  private def writeFixture(): String = {
    val dir = graft.TempDirs.dir("jsonl").toString
    Files.write(java.nio.file.Paths.get(dir, "shard0.jsonl"),
      ("""{"doc_id": 1, "text": "hello world", "lang": "en"}""" + "\n" +
       """{"doc_id": 2, "text": "tweede document", "lang": "nl", "extra": 9}""" + "\n" +
       """this line is not json at all""" + "\n").getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, "shard1.jsonl"),
      ("""{"doc_id": 3, "text": "third", "lang": "en"}""" + "\n" +
       """{"doc_id": 4, "text": "unterminated""" + "\n").getBytes("UTF-8"))
    dir
  }

  test("parse with explicit schema: extra fields dropped, corrupt captured, lineage kept") {
    val dir = writeFixture()
    val parsed = Sources.readJsonl(spark, s"$dir/*.jsonl", schema).cache()
    try {
      val (clean, bad) = Sources.jsonlQuarantine(parsed)
      val rows = clean.orderBy("doc_id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(rows.head.getString(1) == "hello world")
      // schema projection dropped the extra field entirely
      assert(!clean.columns.contains("extra"))
      // lineage names the shard each document came from
      assert(rows.map(r => r.getString(3).split("/").last).toSeq ==
        Seq("shard0.jsonl", "shard0.jsonl", "shard1.jsonl"))

      val badRows = bad.collect()
      assert(badRows.length == 2)
      val raw = badRows.map(_.getString(0)).toSet
      assert(raw.exists(_.contains("not json at all")))
      assert(raw.exists(_.contains("unterminated")))
      assert(badRows.map(_.getString(1).split("/").last).toSet ==
        Set("shard0.jsonl", "shard1.jsonl"))
    } finally parsed.unpersist()
  }

  test("missing fields are null, not errors") {
    val dir = graft.TempDirs.dir("jsonl2").toString
    Files.write(java.nio.file.Paths.get(dir, "s.jsonl"),
      """{"doc_id": 7, "text": "no lang field"}""".getBytes("UTF-8"))
    val parsed = Sources.readJsonl(spark, s"$dir/s.jsonl", schema, lineage = false)
    val r = parsed.collect().head
    assert(r.getLong(0) == 7L && r.isNullAt(2))
  }
}
