package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Compression-ratio quality signal (the RefinedWeb/Dolma-family
  * heuristic: text that DEFLATE shrinks dramatically is repetitive —
  * boilerplate, keyword stuffing, generated spam — while natural prose
  * compresses to a characteristic ~0.3-0.6 of its size). Native
  * codegen'd expression per the scalar-function tier rule (a pure
  * per-row kernel belongs in codegen, not a UDF or mapPartitions).
  *
  * NOT oracle-portable BY DESIGN: DEFLATE output bytes depend on the
  * zlib build behind the JDK, so the ratio is pinned by spec
  * (monotonicity + determinism), not by the DuckDB hash compare —
  * the same standing as the EM-trained tokenizers.
  */
object CompressUtil {

  private val buffers: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](1 << 16))

  /** DEFLATE (level 6, raw/nowrap) output length for `input`. */
  def deflateLen(input: Array[Byte]): Int = {
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(input)
      d.finish()
      var buf = buffers.get()
      if (buf.length < input.length + 64) {
        buf = new Array[Byte](input.length + 64)
        buffers.set(buf)
      }
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** deflate_len / raw_len, floor-rounded at 1e-6 (the repo's output
    * discipline); empty input reports 1.0 (no evidence of repetition).
    */
  def ratio(input: Array[Byte]): Double =
    if (input.length == 0) 1.0
    else math.floor(deflateLen(input).toDouble / input.length * 1e6 + 0.5) / 1e6
}

/** compression_ratio(text): DEFLATE(level 6) size over raw UTF-8 size. */
case class DeflateRatio(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    CompressUtil.ratio(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.CompressUtil.ratio($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateRatio =
    copy(child = newChild)

  override def prettyName: String = "compression_ratio"
}
