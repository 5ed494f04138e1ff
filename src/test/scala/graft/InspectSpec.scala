package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Inspect`: every mode runs on a cheap registry entry, and the
  * `--hash` row encoding keeps field boundaries and nulls apart. Also
  * `graft.Verify`'s oracle_sql.json encoding, the other harness encoding
  * a checker reads back.
  */
class InspectSpec extends AnyFunSuite {
  import SharedSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private val q = "q_s6_memtable"

  private def output(mode: String): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Inspect.run(spark, q, dir, mode))
    buf.toString("UTF-8")
  }

  test("--hash encoding: field boundaries and null vs \"NULL\" do not collide") {
    assert(Inspect.digest(Seq(Seq("ab", "c"))) != Inspect.digest(Seq(Seq("a", "bc"))))
    assert(Inspect.digest(Seq(Seq(null))) != Inspect.digest(Seq(Seq("NULL"))))
    assert(Inspect.digest(Seq(Seq(null, "a"))) != Inspect.digest(Seq(Seq("a", null))))
    assert(Inspect.field(Seq("ab", "c")) != Inspect.field(Seq("a", "bc")))
    // row order does not matter, field order does
    assert(Inspect.digest(Seq(Seq("x", 1L), Seq("y", null))) ==
      Inspect.digest(Seq(Seq("y", null), Seq("x", 1L))))
  }

  test("Verify's oracle_sql.json round-trips quote, backslash and every control char") {
    val tricky = "q\"uote\\d\nline\ttab\rcr" + (0 until 0x20).map(_.toChar).mkString
    val oracles = Seq(tricky -> s"SELECT '$tricky' AS x", "plain" -> "SELECT 1")
    // Jackson's defaults are strict: a raw control char inside a string fails
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Verify.oracleJson(oracles))
    assert(tree.size == oracles.size)
    oracles.foreach { case (k, v) => assert(tree.get(k).asText == v, k) }
  }

  test("each mode prints its header; --hash is stable across two calls") {
    assert(output("--plan").contains(s"==== $q ===="))
    val hashes = Seq.fill(2)(output("--hash").linesIterator
      .find(_.startsWith(s"[hash] $q rows=")))
    assert(hashes.head.exists(_.contains("md5=")), hashes)
    assert(hashes.head == hashes.last)
    val phases = output("--phases")
    (1 to 3).foreach(r => assert(
      raw"\[phases\] $q round $r: analyze=.* compiles=\d+".r.findFirstIn(phases).nonEmpty,
      phases))
    assert(output("--stages").contains(s"[stages] $q wall="))
    val ops = output("--ops")
    assert(ops.contains(s"[ops] $q exec=") && ops.contains("[op] "), ops)
  }

  test("unknown query or mode fails loudly") {
    assertThrows[IllegalArgumentException](Inspect.run(spark, "q_nope", dir, "--plan"))
    assertThrows[IllegalArgumentException](Inspect.run(spark, q, dir, "--explain"))
  }
}
