package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types._

/** Native Catalyst expression for the float-vector dot product, with
  * `doGenCode` emitting a primitive JIT-friendly loop.
  *
  * Why not `aggregate(zip_with(a, b, _*_), 0.0, _+_)`: higher-order
  * functions evaluate a lambda per element (no fused loop, boxing at the
  * lambda boundary) — on the O(n^2) similarity paths that is the dominant
  * cost (measured 42s for 2M pairs x 64 dims at sf0.1). The generated code
  * here is a bare `for` over the two ArrayData buffers.
  *
  * Accumulation is a left-to-right double fold — the SAME summation order
  * as the lambda formulation it replaces, so results are bit-identical and
  * oracle-compatible.
  *
  * Lives in the org.apache.spark.sql namespace because the expression
  * interfaces (AbstractDataType, ExpressionUtils) are private[sql] — the
  * standard placement for third-party native expressions. The public API
  * is graft.llm.Dedup.dot/l2norm/cosine.
  *
  * Preconditions: element nulls are not expected (embedding vectors are
  * dense); unequal lengths dot over the common prefix.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double)$x.getFloat($i) * (double)$y.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product_f"
}

/** Shared eval for the argmax-cosine cell assignment. */
object VectorUtil {

    /** 1-based index of the centroid with the highest cosine to `vec`,
    * first-max tie-break; -1 encodes SQL null (zero-norm query, or no
    * centroid with positive norm). Arithmetic is EXACTLY the composed
    * formulation it replaces — per cell `dot/(sqrt(self_a)*sqrt(self_b))`
    * with left-to-right double accumulation — so assignments are
    * bit-identical to `array_position(transform(cents, c -> cosine(v,c)),
    * array_max(...))` and oracle-compatible, with ONE deliberate
    * divergence: a zero-norm CENTROID is skipped here (it has no cosine),
    * while the composed form's NaN (dot/0) sorts greatest and would win
    * array_max — oracles must model the skip (cosine guarded by nb > 0),
    * as the shipped ones do.
    */
  def cosineArgmax(vec: ArrayData, cents: ArrayData): Long = {
    val d = vec.numElements()
    var selfA = 0.0
    var i = 0
    while (i < d) {
      val x = vec.getFloat(i).toDouble; selfA += x * x; i += 1
    }
    val na = java.lang.Math.sqrt(selfA)
    if (!(na > 0)) return -1L
    var best = Double.NegativeInfinity
    var bestIdx = -1L
    val k = cents.numElements()
    var c = 0
    while (c < k) {
      if (!cents.isNullAt(c)) {
        val cell = cents.getArray(c)
        val m = cell.numElements()
        var selfB = 0.0
        var j = 0
        while (j < m) {
          val y = cell.getFloat(j).toDouble; selfB += y * y; j += 1
        }
        val nb = java.lang.Math.sqrt(selfB)
        if (nb > 0) {
          val n = math.min(d, m)
          var dot = 0.0
          j = 0
          while (j < n) {
            dot += vec.getFloat(j).toDouble * cell.getFloat(j).toDouble; j += 1
          }
          val cos = dot / (na * nb)
          if (cos > best) { best = cos; bestIdx = c + 1 }
        }
      }
      c += 1
    }
    bestIdx
  }

  /** 1-based index of the centroid nearest to `vec` by squared L2,
    * first-min tie-break; -1 encodes SQL null (empty codebook). Per
    * component: (double(a) - double(b))^2, accumulated left-to-right in
    * double; unequal lengths compare over the common prefix.
    */
  def l2Argmin(vec: ArrayData, cents: ArrayData): Long = {
    val d = vec.numElements()
    var best = Double.PositiveInfinity
    var bestIdx = -1L
    val k = cents.numElements()
    var c = 0
    while (c < k) {
      if (!cents.isNullAt(c)) {
        val cell = cents.getArray(c)
        val n = math.min(d, cell.numElements())
        var acc = 0.0
        var j = 0
        while (j < n) {
          val diff = vec.getFloat(j).toDouble - cell.getFloat(j).toDouble
          acc += diff * diff
          j += 1
        }
        if (acc < best) { best = acc; bestIdx = c + 1 }
      }
      c += 1
    }
    bestIdx
  }

  /** Top-`n` centroid indices (1-based) by descending cosine to `vec`,
    * ties broken by lower index; zero-norm/null centroids rank last (in
    * index order among themselves) — elementwise equal to
    * `slice(ivfRanking(vec, cents), 1, n)` on finite inputs (the
    * NaN-free-embedding contract every vector kernel here shares).
    * Returns null (the reference) when the ranking is null: zero-norm
    * `vec`, or no centroid with a cosine at all.
    *
    * Selection is O(k·n) — n is nprobe (single digits), so this stays
    * linear in the codebook instead of the full score-struct-sort the
    * interpreted ranking pays per row.
    */
  def cosineTopCells(vec: ArrayData, cents: ArrayData, n: Int): ArrayData = {
    val d = vec.numElements()
    var selfA = 0.0
    var i = 0
    while (i < d) {
      val x = vec.getFloat(i).toDouble; selfA += x * x; i += 1
    }
    val na = java.lang.Math.sqrt(selfA)
    if (!(na > 0)) return null
    val k = cents.numElements()
    val cos = new Array[Double](k)
    val valid = new Array[Boolean](k)
    var anyValid = false
    var c = 0
    while (c < k) {
      if (!cents.isNullAt(c)) {
        val cell = cents.getArray(c)
        val m = cell.numElements()
        var selfB = 0.0
        var j = 0
        while (j < m) {
          val y = cell.getFloat(j).toDouble; selfB += y * y; j += 1
        }
        val nb = java.lang.Math.sqrt(selfB)
        if (nb > 0) {
          val nn = math.min(d, m)
          var dot = 0.0
          j = 0
          while (j < nn) {
            dot += vec.getFloat(j).toDouble * cell.getFloat(j).toDouble; j += 1
          }
          cos(c) = dot / (na * nb); valid(c) = true; anyValid = true
        }
      }
      c += 1
    }
    if (!anyValid) return null
    val take = math.min(n, k)
    val out = new Array[Long](take)
    val used = new Array[Boolean](k)
    var filled = 0
    while (filled < take) {
      var bestIdx = -1
      var bestCos = 0.0
      var bestValid = false
      var c2 = 0
      while (c2 < k) {
        if (!used(c2)) {
          if (valid(c2)) {
            if (!bestValid || cos(c2) > bestCos) {
              bestValid = true; bestCos = cos(c2); bestIdx = c2
            }
          } else if (!bestValid && bestIdx < 0) bestIdx = c2
        }
        c2 += 1
      }
      used(bestIdx) = true
      out(filled) = bestIdx + 1
      filled += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC score: sum_j lut[j*k + codes[j]] with k = |lut|/|codes|, j
    * ascending, double accumulation. Out-of-range or null codes are
    * skipped.
    */
  def pqAdcScore(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    if (m == 0) return 0.0
    val k = lut.numElements() / m
    var acc = 0.0
    var j = 0
    while (j < m) {
      if (!codes.isNullAt(j)) {
        val code = codes.getInt(j)
        if (code >= 0 && code < k) acc += lut.getDouble(j * k + code)
      }
      j += 1
    }
    acc
  }
}

/** IVF cell assignment as ONE native loop: argmax cosine over the
  * (literal) codebook. Replaces an interpreted `transform` lambda that
  * re-evaluated three dot-product expressions per centroid per row —
  * the assignment pass of every IVF query and each k-means iteration.
  */
case class CosineArgmax(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(ArrayType(FloatType)))

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = VectorUtil.cosineArgmax(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r < 0) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val r = ctx.freshName("r")
      s"""
         |long $r = org.apache.spark.sql.graft.VectorUtil.cosineArgmax($x, $y);
         |if ($r < 0) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineArgmax =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_argmax"
}

/** Top-nprobe IVF cells as ONE native loop — the multi-probe analogue of
  * [[CosineArgmax]]. Replaces `slice(ivfRanking(...), 1, nprobe)`, whose
  * interpreted per-row score-struct-sort over ALL nlist centroids made
  * assignment cost grow with codebook size (PERFNOTES: 31 s -> 220 s
  * when nlist went 64 -> 256 on the same corpus).
  */
case class CosineTopCells(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(ArrayType(FloatType)))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorUtil.cosineTopCells(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val r = ctx.freshName("r")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  org.apache.spark.sql.graft.VectorUtil.cosineTopCells($x, $y, $n);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineTopCells =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_top_cells"
}

/** Shared plumbing for int8 scalar quantization. */
object QuantUtil {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Max-abs scalar quantization: scale = max|x|/127, codes =
    * round(x/scale) in [-127,127]. Zero vectors get scale 0 and zero
    * codes. One pass, single allocation — a lambda formulation would
    * re-evaluate the max-abs reduction per element (no CSE in lambda
    * bodies) and CollapseProject re-inlines it through projections.
    */
  def quantize8(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var maxAbs = 0f
    var i = 0
    while (i < n) {
      val a = java.lang.Math.abs(v.getFloat(i))
      if (a > maxAbs) maxAbs = a
      i += 1
    }
    val scale = maxAbs / 127f
    val codes = new Array[Byte](n)
    if (scale > 0) {
      i = 0
      while (i < n) {
        codes(i) = java.lang.Math.round(v.getFloat(i) / scale).toByte
        i += 1
      }
    }
    InternalRow(scale, new GenericArrayData(codes))
  }

  /** Integer dot product of two code arrays (exact in long). */
  def dotI8(a: ArrayData, b: ArrayData): Long = {
    val n = java.lang.Math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    acc
  }
}

/** Int8 scalar quantization of a float vector:
  * struct<scale:float, codes:array<tinyint>> — 4x smaller than float32,
  * the standard memory/IO lever for corpus-scale embedding storage.
  * Approximate dot recovers as dotI8(a,b) * scaleA * scaleB.
  */
case class Quantize8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType = StructType(Seq(
    StructField("scale", FloatType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = false)))

  override def nullSafeEval(input: Any): Any =
    QuantUtil.quantize8(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.QuantUtil.quantize8($c)")

  override protected def withNewChildInternal(newChild: Expression): Quantize8 =
    copy(child = newChild)

  override def prettyName: String = "quantize8"
}

/** Exact integer dot product of two int8 code arrays. */
case class DotProductInt8(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ByteType), ArrayType(ByteType))

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    QuantUtil.dotI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.QuantUtil.dotI8($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductInt8 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product_i8"
}

/** Nearest-centroid assignment by squared L2 — the product-quantization
  * encoder's inner loop. Same rationale as [[CosineArgmax]]: a native
  * fused loop instead of an interpreted per-centroid lambda. Arithmetic:
  * per component (double(a) - double(b))^2, left-to-right double
  * accumulation, first-min tie-break on centroid index — bit-compatible
  * with a DuckDB `list_sum(list_transform(list_zip(...)))` oracle.
  */
case class L2Argmin(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(ArrayType(FloatType)))

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = VectorUtil.l2Argmin(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r < 0) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val r = ctx.freshName("r")
      s"""
         |long $r = org.apache.spark.sql.graft.VectorUtil.l2Argmin($x, $y);
         |if ($r < 0) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Argmin =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "l2_argmin"
}

/** Asymmetric-distance (ADC) score for product-quantized vectors: codes
  * index a per-query lookup table of subspace inner products; score =
  * sum_j lut[j*k + codes[j]] with k = |lut| / |codes|, summed j-ascending
  * in double (the same order an oracle's explicit t0+t1+...+tm-1 uses).
  * The per-candidate cost is m array reads + m adds — THE reason PQ beats
  * full-vector scoring at corpus scale. Out-of-range codes contribute
  * nothing (deterministic, cannot happen for codes produced by
  * [[L2Argmin]] against the same codebooks).
  */
case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorUtil.pqAdcScore(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.VectorUtil.pqAdcScore($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "pq_adc_score"
}

/** Column-API entry points for the native vector expressions. */
object VectorExpressions {

  /** Codegen'd dot product of two float vectors, in double precision. */
  def dotF(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductFloat(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** L2 norm via the native dot (sqrt of self-dot). */
  def l2normF(v: Column): Column = sqrt(dotF(v, v))

  /** Int8 scalar quantization: struct<scale, codes>. */
  def quantize8(v: Column): Column =
    ExpressionUtils.column(Quantize8(ExpressionUtils.expression(v)))

  /** Native argmax-cosine cell assignment (1-based; null on zero norm). */
  def cosineArgmax(vec: Column, cents: Column): Column =
    ExpressionUtils.column(CosineArgmax(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(cents)))

  /** Native top-nprobe cell ranking (1-based; null on zero norm) —
    * elementwise `slice(ivfRanking, 1, n)`.
    */
  def cosineTopCells(vec: Column, cents: Column, n: Int): Column =
    ExpressionUtils.column(CosineTopCells(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(cents), n))

  /** Native nearest-centroid-by-L2 assignment (1-based; null when the
    * codebook is empty).
    */
  def l2Argmin(vec: Column, cents: Column): Column =
    ExpressionUtils.column(L2Argmin(
      ExpressionUtils.expression(vec), ExpressionUtils.expression(cents)))

  /** Native PQ asymmetric-distance score: codes x flat LUT -> double. */
  def pqAdcScore(codes: Column, lut: Column): Column =
    ExpressionUtils.column(PqAdcScore(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(lut)))
}
