package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: dot product of two `array<double>` columns.
  *
  * Sibling of [[FloatVectorDot]] for the residual-vector pipelines
  * (IVF-PQ, q170): residuals are double-precision differences of float
  * embeddings, and the PQ encode step dots corpus_rows × codebook_size
  * residual subvectors per subspace — a per-element lambda
  * (`zip_with` + `aggregate`) in that loop allocates an intermediate
  * array per pair, where this is a single primitive loop. Accumulation
  * is the same left-to-right double fold, so DuckDB's `list_dot_product`
  * over `DOUBLE[]` replays it bit-identically.
  */
case class DoubleVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "double_vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      // same null policy as FloatVectorDot: null slots contribute nothing
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getDouble(i) * y.getDouble(i)
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
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleVectorDot =
    copy(left = newLeft, right = newRight)
}

object DoubleVectorDot {

  val FunctionName = "double_vector_dot"

  /** Column API over the registered function. */
  def dot(a: Column, b: Column): Column = call_function(FunctionName, a, b)
}
