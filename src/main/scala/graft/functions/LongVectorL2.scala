package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: squared L2 distance between two
  * `array<long>` fixed-point vectors.
  *
  * Exists for the trained-k-means pipeline (q66), whose centroid math runs
  * in scaled-integer space so that Spark and DuckDB agree BIT-EXACTLY
  * regardless of aggregation order (integer sums are associative; float
  * sums are not). One primitive loop per candidate pair — no zipped-array
  * allocation, no per-element lambda dispatch. Mismatched lengths measure
  * the common prefix; 1e6-scaled unit-norm-ish vectors keep every term and
  * the 64-dim total far inside long range.
  */
case class LongVectorL2(left: Expression, right: Expression)
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
  override def prettyName: String = "long_vector_l2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      // null slots contribute nothing (getLong on a null slot would
      // silently read 0 — a phantom coordinate)
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val d = x.getLong(i) - y.getLong(i)
        acc += d * d
      }
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    long $d = $a.getLong($i) - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongVectorL2 =
    copy(left = newLeft, right = newRight)
}

object LongVectorL2 {

  val FunctionName = "long_vector_l2"

  def l2(a: Column, b: Column): Column = call_function(FunctionName, a, b)
}
