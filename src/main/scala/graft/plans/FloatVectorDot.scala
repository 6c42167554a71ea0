package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: Σ aᵢ·bᵢ over two float32 vectors, accumulated
  * in double, sequential order (identical numerics to the
  * `aggregate(zip_with(...))` fold it replaces and to the DuckDB oracle).
  *
  * WHY custom (SURVEY preference order (b)): the fold version materializes
  * an intermediate `array<double>` per evaluated pair and walks it through
  * two higher-order functions — at ANN scale (corpus × probes evaluations)
  * that is an allocation per pair plus lambda dispatch per element. This
  * expression code-gens to a primitive loop over the packed ArrayData
  * buffers: zero allocation, stays inside whole-stage codegen.
  *
  * Registered via SparkSessionExtensions (GraftExtensions) — the public
  * extension point — and invoked with functions.call_function.
  */
case class FloatVectorDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
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
         |  $acc += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
