package graft.functions

/** Kernel of [[Kernels.ZValue]], the multi-dimensional data-layout tool:
  * sorting (and therefore writing) a table by `z16(dimA, dimB)` clusters
  * rows that are close in BOTH dimensions into the same files/row groups,
  * so parquet min/max statistics prune scans filtered on EITHER dimension.
  * Used through [[graft.operators.ZOrder]].
  */
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
