package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native PCA projection: (vec - mean) dot each component row, one
  * fused primitive loop per input row.
  *
  * Why not the composed `zip_with`/`aggregate` form: higher-order
  * functions evaluate an interpreted lambda per element — k x d lambda
  * invocations with boxing per row (round 11, PERFNOTES "PCA at scale +
  * new bench rows": ~2 s for 100k x 64 -> 16 — the projection
  * dominating a pass whose scan is
  * sub-second). This loop reads the float array once, centers into a
  * stack array, and accumulates the k dot products in order — the
  * SAME left-to-right double arithmetic as the composed form, so
  * results are bit-identical (PcaSpec pins it).
  *
  * The model (mean + components) rides inside the expression exactly
  * like the IVF codebook literals; generated code calls back into
  * [[project]] via a codegen reference.
  */
case class PcaProjectExpr(child: Expression, mean: Array[Double],
                          components: Array[Array[Double]])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)

  // short vectors project to null even when the child is non-nullable
  override def nullable: Boolean = true

  /** null for vectors shorter than the model dim (the composed
    * zip_with form nulls the whole sum there too — a short vector is
    * a data defect, not a projectable input).
    */
  def project(vec: ArrayData): ArrayData = {
    val d = mean.length
    if (vec.numElements() < d) return null
    val centered = new Array[Double](d)
    var j = 0
    while (j < d) { centered(j) = vec.getFloat(j).toDouble - mean(j); j += 1 }
    val out = new Array[Double](components.length)
    var i = 0
    while (i < components.length) {
      val comp = components(i)
      var acc = 0.0
      var k = 0
      while (k < d) { acc += centered(k) * comp(k); k += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    project(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pcaExpr", this, classOf[PcaProjectExpr].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = $ref.project($v);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PcaProjectExpr =
    copy(child = newChild)

  override def prettyName: String = "pca_project"
}

object PcaExpressions {

  def pcaProject(vec: Column, mean: Array[Double],
                 components: Array[Array[Double]]): Column =
    ExpressionUtils.column(
      PcaProjectExpr(ExpressionUtils.expression(vec), mean, components))
}
