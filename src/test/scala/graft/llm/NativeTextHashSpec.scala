package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The native text-hash expressions must be bit-identical to the
  * engine-portable SQL formulas they replace — that equivalence is what
  * keeps every hash-based operator oracle-checkable in DuckDB.
  */
class NativeTextHashSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val samples = Seq(
    "hello", "", " ", "a", "a b c d e f g", "  double  spaced  ",
    "tabs\tand\nnewlines here", "unicode: héllo wörld ß", "punct, marks! ok?",
    "the quick brown fox jumps over the lazy dog")

  private def df = samples.zipWithIndex.map(_.swap).toDF("id", "t")

  /** The legacy hex-string formula hash64 was defined as. */
  private def legacyHash(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private def legacyHashB(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 18, 15), 16, 10).cast("long")

  test("hash64/hash64b native == hex-formula on varied inputs") {
    val rows = df.select(
      TextFunctions.hash64(col("t")) === legacyHash(col("t")),
      TextFunctions.hash64b(col("t")) === legacyHashB(col("t"))).collect()
    assert(rows.forall(r => r.getBoolean(0) && r.getBoolean(1)))
  }

  test("shingleHashes == transform(wordShingles, hash64) for n = 1, 2, 3") {
    for (n <- 1 to 3) {
      val rows = df.select(
        TextFunctions.shingleHashes(col("t"), n) ===
          transform(TextFunctions.wordShingles(col("t"), n),
            s => legacyHash(s))).collect()
      assert(rows.forall(_.getBoolean(0)), s"mismatch at n=$n")
    }
  }

  test("charShingleHashes == transform(charShingles, hash64) for n = 2, 3") {
    for (n <- Seq(2, 3)) {
      val rows = df.select(
        TextFunctions.charShingleHashes(col("t"), n) ===
          transform(ComposedForms.charShingles(col("t"), n),
            s => legacyHash(s))).collect()
      assert(rows.forall(_.getBoolean(0)), s"mismatch at n=$n")
    }
  }

  test("fast (xx64) shingle hashes == transform(shingles, xxhash64)") {
    for (n <- 1 to 3) {
      val rows = df.select(
        TextFunctions.shingleHashesFast(col("t"), n) ===
          transform(TextFunctions.wordShingles(col("t"), n),
            s => xxhash64(s))).collect()
      assert(rows.forall(_.getBoolean(0)), s"word mismatch at n=$n")
    }
    // the char kernel's fast mode as the SQL function the session
    // extension registers
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "xx_char_shingle_hashes64",
      exprs => org.apache.spark.sql.graft.CharShingleHashes64(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(), fast = true),
      "built-in")
    for (n <- Seq(2, 3)) {
      val rows = df.select(
        call_function("xx_char_shingle_hashes64", col("t"), lit(n)) ===
          transform(ComposedForms.charShingles(col("t"), n),
            s => xxhash64(s))).collect()
      assert(rows.forall(_.getBoolean(0)), s"char mismatch at n=$n")
    }
  }

  test("fast-mode LSH recovers the duplicate pairs the portable mode finds") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different text about solar panel energy readings"))
      .toDF("doc_id", "text")
    def pairs(fast: Boolean) =
      Dedup.lshCandidatePairs(docs, "doc_id", "text", fast = fast)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val portable = pairs(fast = false)
    val quick = pairs(fast = true)
    assert(portable.contains((1L, 2L)) && quick.contains((1L, 2L)),
      "exact dups always collide in every band under either hash")
    assert(!portable.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!quick.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated text must not pair in fast mode either")
  }

  test("tokenStats fields == the interpreted HOF formulas") {
    val ts = TextFunctions.tokenStats(col("t"))
    val toks = TextFunctions.tokens(col("t"))
    val lowToks = TextFunctions.tokens(lower(col("t")))
    def hits(words: Seq[String]) =
      size(filter(lowToks, w => w.isin(words.map(lit(_)): _*))).cast("long")
    val rows = df.select(
      ts.getField("n_words") === size(toks).cast("long"),
      ts.getField("sum_word_len") ===
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)),
      ts.getField("en_hits") === hits(TextFunctions.enStopwords),
      ts.getField("nl_hits") === hits(TextFunctions.nlStopwords)).collect()
    rows.zip(samples).foreach { case (r, s) =>
      assert((0 until 4).forall(r.getBoolean), s"tokenStats mismatch on '$s'")
    }
  }

  test("relational simhashSignatures == array-column withSimhash") {
    val rel = Dedup.simhashSignatures(df, "id", "t")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val arr = ComposedForms.withSimhash(df, "t", "sh")
      .select(col("id"), coalesce(col("sh"), lit(0L)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rel == arr)
  }

  test("new natives are callable from SQL (extension registration path)") {
    import org.apache.spark.sql.graft.{Md5Prefix64, Md5Suffix60, ShingleHashes64, TokenStats64}
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "md5_prefix64", exprs => Md5Prefix64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "md5_suffix60", exprs => Md5Suffix60(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "shingle_hashes64",
      exprs => ShingleHashes64(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()),
      "built-in")
    reg.createOrReplaceTempFunction(
      "token_stats64", exprs => TokenStats64(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "xx_shingle_hashes64",
      exprs => ShingleHashes64(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(), fast = true),
      "built-in")
    val r = spark.sql(
      """SELECT md5_prefix64('hello') AS h,
        |       md5_suffix60('hello') AS hb,
        |       size(shingle_hashes64('a b c d', 3)) AS ns,
        |       token_stats64('the cat').n_words AS nw,
        |       xx_shingle_hashes64('a b c d', 3) = array(xxhash64('a b c'), xxhash64('b c d')) AS xeq
      """.stripMargin).collect().head
    assert(r.getLong(0) == 419982666956583591L)
    assert(r.getLong(1) > 0L)
    assert(r.getBoolean(4), "fast SQL function matches xxhash64 elementwise")
    assert(r.getInt(2) == 2)
    assert(r.getLong(3) == 2L)
  }
}
