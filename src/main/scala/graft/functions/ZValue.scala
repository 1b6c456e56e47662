package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Runtime helper for [[ZValue]]. */
object ZValueUtil {
  /** Interleave the low 16 bits of x (even positions) and y (odd
    * positions) into a 32-bit Morton/Z value.
    */
  def z16(x: Long, y: Long): Long = {
    var out = 0L
    var i = 0
    while (i < 16) {
      out |= ((x >> i) & 1L) << (2 * i)
      out |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }
}

/** Native expression: Morton/Z-order value of two dimension keys — the
  * multi-dimensional data-layout tool.
  *
  * Sorting (and therefore writing) a table by `z16(dimA, dimB)` clusters
  * rows that are close in BOTH dimensions into the same files/row groups,
  * so parquet min/max statistics prune scans filtered on EITHER dimension
  * — the trick a 100 TB table needs when queries slice by more than one
  * column and a single sort key can serve only one of them. Used through
  * [[graft.operators.ZOrder]]; codegen'd so the layout pass stays a narrow
  * map-side projection.
  */
case class ZValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two bigint arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = ZValue.FunctionName

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValueUtil.z16(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ZValueUtil.z16($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZValue =
    copy(left = newLeft, right = newRight)
}

object ZValue {

  val FunctionName = "z_value16"

  def of(x: Column, y: Column): Column = call_function(FunctionName, x, y)
}
