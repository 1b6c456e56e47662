package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from Spark's
  * codegen'd higher-order functions (`zip_with`/`aggregate`) — no UDFs, so
  * the whole similarity pipeline stays inside whole-stage codegen and
  * scales out as a narrow projection.
  *
  * All arithmetic is promoted to double *before* summation and folds run
  * sequentially left-to-right, which keeps results bit-identical to a
  * sequential reference implementation (this is what makes the DuckDB
  * oracle comparisons exact rather than merely "close").
  */
object VectorOps {

  /** Sequential-fold dot product in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe only insofar as inputs are non-null. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}

/** Kernels of the vector functions in [[Kernels]]: one primitive loop per
  * pair over the two `ArrayData` buffers — no zipped-array allocation, no
  * per-element lambda dispatch, which matters when the similarity
  * pipelines evaluate millions of candidate pairs per task.
  *
  * Shared policy: mismatched lengths measure the common prefix, and a null
  * slot contributes nothing (`getFloat`/`getLong` on a null slot would
  * silently read 0 — a phantom coordinate).
  */
object VectorUtil {

  /** Dot product of two `array<float>` in double precision: the same
    * left-to-right double fold as [[VectorOps.dot]], so oracle results
    * are bit-identical.
    */
  def floatDot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Dot product of two `array<double>`, for the residual-vector
    * pipelines (IVF-PQ, q170). The same left-to-right double fold, so
    * DuckDB's `list_dot_product` over `DOUBLE[]` replays it bit-identically.
    */
  def doubleDot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  /** Dot product of two `array<long>` fixed-point vectors (q322/q323's
    * pairwise audits). Integer sums are associative, so the value equals
    * the exploded `join ON a.i = b.i` + `sum(a.xv * b.xv)` under any
    * evaluation order.
    */
  def longDot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  /** Squared L2 distance between two `array<long>` fixed-point vectors,
    * for the trained-k-means pipeline (q66), whose centroid math runs in
    * scaled-integer space so Spark and DuckDB agree bit-exactly; 1e6-scaled
    * unit-norm-ish vectors keep every term and the 64-dim total far inside
    * long range.
    */
  def longL2(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val d = x.getLong(i) - y.getLong(i)
        acc += d * d
      }
      i += 1
    }
    acc
  }
}
