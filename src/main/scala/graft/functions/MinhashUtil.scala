package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel of [[Kernels.MinhashBandKeys]]: hashed shingles → the 4 LSH band
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
