package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: Σ decimal₍₃₀,₁₅₎(aᵢ·bᵢ) over two float/double
  * vectors, returned as double — the decimal-pinned dot product of
  * ext/Similarity.embeddingOutliers.
  *
  * Numerics contract (must stay bit-identical to the expression-tree form
  * it replaces AND to the DuckDB oracle's SUM(CAST(x*c AS DECIMAL(30,15)))):
  * each product is a double multiply, rounded to scale 15 exactly the way
  * Spark's double→decimal cast does (BigDecimal.valueOf — shortest decimal
  * string — then setScale(15, HALF_UP)), and the rounded terms are summed
  * in exact decimal arithmetic (order-independent, no precision cap, so
  * it equals both Spark's decimal SUM and DuckDB's). The final double is
  * BigDecimal.doubleValue — the same conversion as Decimal.toDouble.
  *
  * WHY custom (SURVEY preference order (b)): the equivalent
  * `aggregate(zip_with(...cast decimal...))` fold is a higher-order
  * function — interpreted per element, an intermediate array allocation
  * per evaluated pair, and a Decimal wrapper per term. This expression
  * calls one static kernel per row (DecimalFast.decimalDot15) whose hot
  * lane is an unscaled Long per the HALF_UP decimal parse of each term —
  * zero BigDecimal allocation until a magnitude a real embedding never
  * reaches (r17: the per-element BigDecimal loop this replaces was the
  * scoring stage's dominant cost; bit-equality pinned in DecimalFastSpec).
  * Null semantics match the fold exactly: a null element, a length
  * mismatch (zip_with null-pads the shorter side), or a non-finite product
  * (NaN/Inf embeddings; the decimal cast would null it) each null the
  * whole sum.
  *
  * Inputs may be array<float> or array<double> independently (floats are
  * widened per element, identical to casting the array first — without
  * materializing the cast copy per row).
  */
case class DecimalVectorDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "decimal_vector_dot"
  // nullable even over non-null inputs: a non-finite product nulls the sum
  // (also keeps ev.isNull a real variable in the generated code)
  override def nullable: Boolean = true

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  private def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    DecimalFast.decimalDot15(x, y, isFloat(left.dataType), isFloat(right.dataType))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val r = ctx.freshName("r")
      s"""
         |java.lang.Double $r = graft.plans.DecimalFast.decimalDot15(
         |  $x, $y, ${isFloat(left.dataType)}, ${isFloat(right.dataType)});
         |${ev.isNull} = $r == null;
         |${ev.value} = $r == null ? -1.0 : $r.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
