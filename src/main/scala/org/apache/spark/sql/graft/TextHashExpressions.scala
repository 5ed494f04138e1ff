package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5 plumbing for the native text-hash expressions. The hash
  * contract is the engine-portable one from graft.llm.TextFunctions:
  *
  *   hash64(s)  == conv(substring(md5(s), 1, 15), 16, 10)::long  (60 bits)
  *   hash64b(s) == conv(substring(md5(s), 18, 15), 16, 10)::long (60 bits)
  *
  * computed directly on the digest bytes — the first 15 hex digits are the
  * big-endian first 8 bytes shifted right 4; the last 15 are the low 60
  * bits of the second 8 bytes. Skipping the hex-string round trip
  * (32-char string + substring + string-to-long parse per value) is what
  * makes the per-shingle hot loop cheap.
  */
object Md5Util {

  /** Cached whitespace pattern: String.split("\\s+") recompiles the
    * regex per call — per ROW in these kernels.
    */
  private[graft] val WS: java.util.regex.Pattern =
    java.util.regex.Pattern.compile("\\s+")

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private def toLongBE(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** First 60 bits of md5(bytes) — identical to the hex-prefix definition. */
  def prefix64(bytes: Array[Byte]): Long = {
    val d = digests.get()
    d.reset()
    toLongBE(d.digest(bytes), 0) >>> 4
  }

  /** Last 60 bits of md5(bytes) — identical to the hex-suffix definition. */
  def suffix60(bytes: Array[Byte]): Long = {
    val d = digests.get()
    d.reset()
    toLongBE(d.digest(bytes), 8) & 0x0fffffffffffffffL
  }

  /** XXH64 of the bytes with Spark's seed (42) — matches
    * `functions.xxhash64(stringCol)` bit-for-bit on the same text. The
    * FAST hashing mode: ~10x cheaper than md5 per shingle, NOT
    * engine-portable (no DuckDB twin), so it's for pure-Spark corpus
    * work where no cross-engine oracle is needed.
    */
  def xx64(bytes: Array[Byte]): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, 42L)

  /** Fused tokenize → word-n-gram shingle → hash64: whitespace-run split
    * with empties dropped (the TextFunctions.tokens contract), each window
    * of n consecutive tokens joined by a single space and hashed. One pass,
    * no intermediate shingle array — replaces an interpreted
    * split/filter/transform/slice/concat_ws chain per document.
    * `fast = true` swaps the md5-based portable hash for [[xx64]].
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData =
    shingleHashes(text, n, fast = false)

  def shingleHashes(text: UTF8String, n: Int, fast: Boolean): ArrayData = {
    val toks0 = Md5Util.WS.split(text.toString)
    var m = 0
    var i = 0
    while (i < toks0.length) { if (!toks0(i).isEmpty) m += 1; i += 1 }
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val toks = if (m == toks0.length) toks0 else {
      val t = new Array[String](m)
      var j = 0; i = 0
      while (i < toks0.length) { if (!toks0(i).isEmpty) { t(j) = toks0(i); j += 1 }; i += 1 }
      t
    }
    val out = new Array[Long](m - n + 1)
    val sb = new java.lang.StringBuilder
    i = 0
    while (i <= m - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
      out(i) = if (fast) xx64(bytes) else prefix64(bytes)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Fused character-n-gram → hash64: one native pass over the string,
    * code-point aware (matching `substr`'s character semantics), hashing
    * each window of n characters. Replaces transform(charShingles, hash64)
    * — an interpreted substr + md5-hex chain per gram.
    * `fast = true` swaps the md5-based portable hash for [[xx64]].
    */
  def charShingleHashes(text: UTF8String, n: Int): ArrayData =
    charShingleHashes(text, n, fast = false)

  def charShingleHashes(text: UTF8String, n: Int, fast: Boolean): ArrayData = {
    val s = text.toString
    val cp = s.codePointCount(0, s.length)
    if (cp < n) return new GenericArrayData(Array.emptyLongArray)
    // char offset of each code-point boundary
    val idx = new Array[Int](cp + 1)
    var ci = 0
    var o = 0
    while (o < s.length) {
      idx(ci) = o
      ci += 1
      o += Character.charCount(s.codePointAt(o))
    }
    idx(cp) = s.length
    val out = new Array[Long](cp - n + 1)
    var i = 0
    while (i <= cp - n) {
      val bytes = s.substring(idx(i), idx(i + n)).getBytes(StandardCharsets.UTF_8)
      out(i) = if (fast) xx64(bytes) else prefix64(bytes)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** hash64 as a native expression: 60-bit md5 prefix of the input bytes.
  * Input casts like Spark's own `md5` (string → UTF-8 binary), so values
  * match `conv(substring(md5(c),1,15),16,10)::long` bit-for-bit — the
  * engine-portable contract the DuckDB oracles compute on their side.
  */
case class Md5Prefix64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    Md5Util.prefix64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.Md5Util.prefix64($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)

  override def prettyName: String = "md5_prefix64"
}

/** hash64b: the independent second stream — last 60 bits of the md5. */
case class Md5Suffix60(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    Md5Util.suffix60(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.Md5Util.suffix60($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Suffix60 =
    copy(child = newChild)

  override def prettyName: String = "md5_suffix60"
}

/** Word-n-gram shingle hashes in one native pass. Equivalent to
  * `transform(wordShingles(text, n), s -> hash64(s))` but without the
  * interpreted higher-order-function chain (split + filter + transform +
  * slice + concat_ws are all CodegenFallback and re-allocate per shingle).
  * n = 1 degenerates to per-token hashes (the SimHash / fingerprint input).
  */
case class ShingleHashes64(child: Expression, n: Int, fast: Boolean = false)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    Md5Util.shingleHashes(input.asInstanceOf[UTF8String], n, fast)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.Md5Util.shingleHashes($c, $n, $fast)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes64 =
    copy(child = newChild)

  override def prettyName: String =
    if (fast) "xx_shingle_hashes64" else "shingle_hashes64"
}

/** Character-n-gram hashes in one native pass (the char analogue of
  * [[ShingleHashes64]]); equals `transform(charShingles(text,n), hash64)`.
  */
case class CharShingleHashes64(child: Expression, n: Int, fast: Boolean = false)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1, s"char shingle size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    Md5Util.charShingleHashes(input.asInstanceOf[UTF8String], n, fast)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.Md5Util.charShingleHashes($c, $n, $fast)")

  override protected def withNewChildInternal(newChild: Expression): CharShingleHashes64 =
    copy(child = newChild)

  override def prettyName: String =
    if (fast) "xx_char_shingle_hashes64" else "char_shingle_hashes64"
}

/** Static token-statistics helper: one pass over the whitespace tokens
  * computing what the text-quality / language-ID operators need. The
  * stopword families are the canonical graft.llm lists (duplicated as
  * plain data here so the sql package does not depend back on graft.llm).
  */
object TokenStatsUtil {

  private val en = java.util.Set.of(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "be", "this", "that")
  private val nl = java.util.Set.of(
    "de", "het", "een", "en", "of", "van", "naar", "in", "is", "zijn",
    "was", "voor", "op", "met", "als", "bij", "dit", "dat", "te", "niet")

  /** (n_words, sum_word_len, en_hits, nl_hits) over whitespace-run tokens.
    * Word length counts Unicode code points (Spark `length` semantics);
    * stopword matching is on the lowercased token (Locale.ROOT, matching
    * `lower()` on ASCII corpora).
    */
  def tokenStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = Md5Util.WS.split(text.toString)
    var nWords = 0L
    var sumLen = 0L
    var enHits = 0L
    var nlHits = 0L
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (!t.isEmpty) {
        nWords += 1
        sumLen += t.codePointCount(0, t.length)
        val lo = t.toLowerCase(java.util.Locale.ROOT)
        if (en.contains(lo)) enHits += 1
        if (nl.contains(lo)) nlHits += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nWords, sumLen, enHits, nlHits)
  }
}

/** Token statistics in one native pass:
  * struct<n_words, sum_word_len, en_hits, nl_hits>. Replaces four separate
  * interpreted HOF chains (size(filter(split)), aggregate over lengths, two
  * stopword filter counts) that each re-split the text per output column.
  * Codegen-friendly, so downstream GetStructField references share ONE
  * evaluation via whole-stage-codegen subexpression elimination.
  */
case class TokenStats64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("en_hits", LongType, nullable = false),
    StructField("nl_hits", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    TokenStatsUtil.tokenStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.TokenStatsUtil.tokenStats($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenStats64 =
    copy(child = newChild)

  override def prettyName: String = "token_stats64"
}

/** Open-addressing long-set membership for the pair-verify hot path. */
object LongSetUtil {

  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Jaccard of two DISTINCT long arrays (sets): |inter| via ONE
    * open-addressed table built from the smaller side, |union| =
    * |a| + |b| - |inter|. The composed `array_intersect`/`array_union`
    * formulation builds four hash tables per pair; this builds one.
    * Precondition (callers pass array_distinct output): inputs carry no
    * duplicates — with duplicates the union identity does not hold.
    * Both-empty pairs score 0.0, matching the composed form's
    * `when(union > 0, ...).otherwise(0.0)`.
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na + nb == 0) return 0.0
    val inter = intersectCard(a, b)
    inter.toDouble / (na + nb - inter)
  }

  /** |a ∩ b| of two DISTINCT long arrays — the same one-table probe
    * [[jaccard]] uses, exposed for the asymmetric (containment) verify
    * kernel where the denominator is ONE side's cardinality.
    */
  def intersectCard(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    val (small, big, ns, nbg) =
      if (na <= nb) (a, b, na, nb) else (b, a, nb, na)
    var cap = 8
    while (cap < ns * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val mask = cap - 1
    var i = 0
    while (i < ns) {
      val v = small.getLong(i)
      var slot = (java.lang.Long.hashCode(v) * 0x9e3779b9L.toInt) & mask
      while (used(slot) && table(slot) != v) slot = (slot + 1) & mask
      table(slot) = v
      used(slot) = true
      i += 1
    }
    var inter = 0
    i = 0
    while (i < nbg) {
      val v = big.getLong(i)
      var slot = (java.lang.Long.hashCode(v) * 0x9e3779b9L.toInt) & mask
      while (used(slot) && table(slot) != v) slot = (slot + 1) & mask
      if (used(slot)) inter += 1
      i += 1
    }
    inter.toLong
  }
}

/** Native exact Jaccard over two pre-distinct long-hash sets — the
  * candidate-pair verification kernel ([[graft.llm.Dedup.jaccardBySets]]).
  * Bit-identical to the composed intersect/union form on set inputs
  * (integer counts, one double division) at a quarter of the hash-table
  * builds.
  */
case class LongSetJaccard(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    LongSetUtil.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.LongSetUtil.jaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongSetJaccard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "long_set_jaccard"
}

/** Native |a ∩ b| over two pre-distinct long-hash sets — the asymmetric
  * (containment) verify kernel ([[graft.llm.Dedup.containmentBySets]]):
  * the denominator is one side's own cardinality, so the division lives
  * in the caller and this expression stays an integer count.
  */
case class LongSetIntersectCard(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    LongSetUtil.intersectCard(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.LongSetUtil.intersectCard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongSetIntersectCard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "long_set_intersect_card"
}

/** Row-local term-frequency computation for the postings build. */
object TermFreqUtil {

  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  // ASCII whitespace classes of Java regex \s — the token convention
  // TextFunctions.tokens (split on "\\s+", drop empties) defines
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** struct(dl, array<struct<term, tf>>) for one document, one pass:
    * dl = total token occurrences, terms in first-occurrence order.
    * Byte-level scanning is UTF-8-safe (multi-byte sequences contain
    * no ASCII bytes).
    */
  def termFreqs(text: UTF8String): GenericInternalRow = {
    val bytes = text.getBytes
    val counts = new java.util.LinkedHashMap[UTF8String, Long]()
    var dl = 0L
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        counts.put(tok, counts.getOrDefault(tok, 0L) + 1L)
        dl += 1L
      }
    }
    val terms = new Array[Any](counts.size)
    var j = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val row = new GenericInternalRow(2)
      row.update(0, e.getKey)
      row.setLong(1, e.getValue)
      terms(j) = row
      j += 1
    }
    val out = new GenericInternalRow(2)
    out.setLong(0, dl)
    out.update(1, new GenericArrayData(terms))
    out
  }
}

/** Per-document postings in ONE map-side pass:
  * `struct<dl: bigint, terms: array<struct<term: string, tf: bigint>>>`
  * under the single-space token convention ([[TermFreqUtil]]).
  *
  * Why native: the composed postings build — explode tokens, hash-agg
  * (doc, term), window dl over doc — EXCHANGES every (doc, term) pair
  * twice (once for the agg keyed (doc, term), once for the per-doc
  * window). Term frequency and document length are per-row facts; this
  * computes them where the document already is, so the postings table
  * needs NO exchange at all and the build's only shuffles are the
  * term-df agg and the one-row stats. It is also the shape a STREAMING
  * index maintainer needs: map-only postings append per micro-batch.
  */
case class TermFreqs(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("dl", LongType, nullable = false),
    StructField("terms", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  override def nullSafeEval(input: Any): Any =
    TermFreqUtil.termFreqs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.TermFreqUtil.termFreqs($c)")

  override protected def withNewChildInternal(newChild: Expression): TermFreqs =
    copy(child = newChild)

  override def prettyName: String = "term_freqs"
}

/** Column-API entry points for the native text-hash expressions. */
object TextHashExpressions {

  def termFreqs(text: Column): Column =
    ExpressionUtils.column(TermFreqs(ExpressionUtils.expression(text)))

  def md5Prefix64(c: Column): Column =
    ExpressionUtils.column(Md5Prefix64(ExpressionUtils.expression(c)))

  def md5Suffix60(c: Column): Column =
    ExpressionUtils.column(Md5Suffix60(ExpressionUtils.expression(c)))

  def shingleHashes64(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashes64(ExpressionUtils.expression(text), n))

  /** xx64 fast mode — see [[Md5Util.xx64]] for the portability trade. */
  def xxShingleHashes64(text: Column, n: Int): Column =
    ExpressionUtils.column(
      ShingleHashes64(ExpressionUtils.expression(text), n, fast = true))

  def tokenStats64(text: Column): Column =
    ExpressionUtils.column(TokenStats64(ExpressionUtils.expression(text)))

  def charShingleHashes64(text: Column, n: Int): Column =
    ExpressionUtils.column(CharShingleHashes64(ExpressionUtils.expression(text), n))

  /** Native exact Jaccard over two pre-distinct long-hash sets. */
  def longSetJaccard(a: Column, b: Column): Column =
    ExpressionUtils.column(LongSetJaccard(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Native |a ∩ b| over two pre-distinct long-hash sets. */
  def longSetIntersectCard(a: Column, b: Column): Column =
    ExpressionUtils.column(LongSetIntersectCard(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
