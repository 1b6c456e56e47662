package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Kernels.ZValue

/** Z-order (Morton-curve) data layout: range-partition and sort a table by
  * the interleaved bits of two dimension keys before writing, so files AND
  * row groups carry tight min/max ranges on BOTH dimensions — multi-column
  * data skipping from one layout pass.
  *
  * `repartitionByRange` + `sortWithinPartitions` is the write-side shape:
  * one range shuffle (sampled boundaries), then an in-partition sort that
  * parquet turns into per-row-group statistics. The curve value is the
  * native codegen'd [[graft.functions.Kernels.ZValue]]; dimensions are
  * reduced mod 2^16, which preserves locality for keys up to 65536 and
  * hashes beyond (callers with wider domains should pre-bucket, e.g.
  * `col / width`).
  */
object ZOrder {

  /** Curve-value column. `z_value16` resolves in any session with
    * [[graft.plans.GraftExtensions]] installed (every
    * [[graft.GraftSession]]).
    */
  def zkey(dimA: Column, dimB: Column): Column =
    ZValue(pmod(dimA.cast("long"), lit(65536L)),
      pmod(dimB.cast("long"), lit(65536L)))

  /** Lay `df` out along the Z-curve of (dimA, dimB) into `numFiles`
    * range-partitioned, internally-sorted splits, ready to write.
    */
  def layout(df: DataFrame, dimA: Column, dimB: Column,
             numFiles: Int): DataFrame = {
    df.withColumn("__z", zkey(dimA, dimB))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
