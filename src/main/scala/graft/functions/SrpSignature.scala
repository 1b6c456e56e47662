package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Signed-random-projection signature for embedding LSH (q47).
  *
  * Hyperplanes are md5-derived pseudo-randoms — `((md5Head8("p_d") % 2001)
  * - 1000) / 1000.0` — exactly the formula the DuckDB oracle evaluates, so
  * signatures agree bit-for-bit. The expression emits the 4 banded 4-bit
  * keys directly (one dot-product loop per plane, float promoted to double
  * left-to-right), replacing 16 interpreted zip_with/aggregate chains.
  */
object SrpUtil {

  val Planes = 16
  val Dims = 64
  val Bands = 4
  val BitsPerBand = 4

  /** planes(p)(d), lazily built once per JVM from the shared hash. */
  lazy val planes: Array[Array[Double]] = Array.tabulate(Planes, Dims)(
    (p, d) => ((HashUtil.md5Head8(s"${p}_$d") % 2001) - 1000) / 1000.0)

  /** v (float array) → 4 band keys, each the 4-bit int of sign bits. */
  def bandKeys(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), Dims)
    val bits = new Array[Int](Planes)
    var p = 0
    while (p < Planes) {
      val w = planes(p)
      var acc = 0.0
      var d = 0
      while (d < n) {
        acc += v.getFloat(d).toDouble * w(d)
        d += 1
      }
      bits(p) = if (acc >= 0) 1 else 0
      p += 1
    }
    val keys = new Array[Int](Bands)
    var b = 0
    while (b < Bands) {
      var k = 0
      var r = 0
      while (r < BitsPerBand) {
        k |= bits(BitsPerBand * b + r) << r
        r += 1
      }
      keys(b) = k
      b += 1
    }
    new GenericArrayData(keys)
  }
}

case class SrpBandKeys(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "srp_band_keys"

  override def nullSafeEval(v: Any): Any =
    SrpUtil.bandKeys(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SrpUtil.bandKeys($c)")

  override protected def withNewChildInternal(newChild: Expression): SrpBandKeys =
    copy(child = newChild)
}

object SrpBandKeys {

  val FunctionName = "srp_band_keys"

  def of(v: Column): Column = call_function(FunctionName, v)
}
