package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: dot product of two `array<long>`
  * fixed-point vectors — [[LongVectorL2]]'s sibling for the
  * scaled-integer similarity family (q322/q323's pairwise audits).
  *
  * Integer sums are associative, so the value is bit-identical to the
  * exploded `join ON a.i = b.i` + `sum(a.xv * b.xv)` formulation it
  * replaces, under any evaluation order — which is what lets those
  * queries swap a corpus-of-components shuffle for one primitive loop
  * per candidate pair. Mismatched lengths measure the common prefix.
  */
case class LongVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _                      => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<long> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "long_vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      // null slots contribute nothing (getLong on a null slot would
      // silently read 0 — a phantom coordinate)
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getLong(i) * y.getLong(i)
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
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongVectorDot =
    copy(left = newLeft, right = newRight)
}

object LongVectorDot {

  val FunctionName = "long_vector_dot"

  def dot(a: Column, b: Column): Column = call_function(FunctionName, a, b)
}
