package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<float>` columns in
  * double precision.
  *
  * Semantically identical to the `zip_with` + `aggregate` composition in
  * [[VectorOps.dot]] (same left-to-right double accumulation, so oracle
  * results are bit-identical), but the generated code is a single primitive
  * loop over the two `ArrayData` buffers — no intermediate zipped array
  * allocation, no per-element lambda dispatch — which matters when the
  * similarity pipeline evaluates millions of candidate pairs per task.
  *
  * Null elements inside the arrays are not expected (embedding columns);
  * mismatched lengths dot the common prefix.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      // null slots contribute nothing (getFloat on a null slot would
      // silently read 0.0 — harmless for a dot product's value but kept
      // explicit so all three vector expressions share one null policy)
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

object FloatVectorDot {

  val FunctionName = "float_vector_dot"

  /** Column API over the registered function. */
  def dot(a: Column, b: Column): Column = call_function(FunctionName, a, b)
}
