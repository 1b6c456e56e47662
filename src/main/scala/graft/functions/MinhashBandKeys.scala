package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native companion to [[ShingleHashes]]: hashed shingles → the 4 LSH band
  * keys ("m_{2b},m_{2b+1}") in one pass, using the affine minhash family
  * from [[TextOps]] (h_i = (a_i*h + b_i) mod P). Arithmetic and formatting
  * are identical to the SQL formulation, so DuckDB oracles replay exactly;
  * replacing 8 interpreted `transform`+`array_min` chains with one loop
  * removes the last per-row interpreter cost from the MinHash pipeline.
  */
object MinhashUtil {

  val Bands = 4
  val RowsPerBand = 2

  def bandKeys(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    val sig = new Array[Long](Bands * RowsPerBand)
    var i = 0
    while (i < sig.length) {
      val a = TextOps.minhashA(i)
      val b = TextOps.minhashB(i)
      var min = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = (a * hs.getLong(j) + b) % TextOps.MinhashP
        if (v < min) min = v
        j += 1
      }
      sig(i) = min
      i += 1
    }
    val keys = new Array[UTF8String](Bands)
    var b = 0
    while (b < Bands) {
      keys(b) = UTF8String.fromString(
        s"${sig(2 * b)},${sig(2 * b + 1)}")
      b += 1
    }
    new GenericArrayData(keys.asInstanceOf[Array[AnyRef]])
  }
}

case class MinhashBandKeys(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_band_keys"

  override def nullSafeEval(hs: Any): Any =
    MinhashUtil.bandKeys(hs.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinhashUtil.bandKeys($c)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBandKeys =
    copy(child = newChild)
}

object MinhashBandKeys {

  val FunctionName = "minhash_band_keys"

  def of(hashes: Column): Column = call_function(FunctionName, hashes)
}
