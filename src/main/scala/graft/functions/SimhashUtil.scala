package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Kernel of [[Kernels.SimhashSig]]: the signature is a narrow
  * per-document projection, where the explode + 32-column conditional-sum
  * aggregation it replaces shuffled every (doc, shingle) row.
  */
object SimhashUtil {

  /** 32-bit simhash of an array of 32-bit feature hashes: bit i of the
    * signature is set iff Σ over features of (bit i set ? +1 : -1) ≥ 0.
    * Identical to the relational formulation
    * `sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) >= 0` per bit —
    * which is what the DuckDB oracle replays.
    */
  def sig(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val counts = new Array[Int](32)
    var j = 0
    while (j < n) {
      // null slots are skipped, matching the relational twin (SUM over a
      // CASE on h ignores NULL h) — ArrayData.getLong on a null slot
      // would silently read 0 and corrupt every bit counter
      if (!hashes.isNullAt(j)) {
        val h = hashes.getLong(j)
        var i = 0
        while (i < 32) {
          if (((h >> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 32) {
      if (counts(i) >= 0) out |= (1L << i)
      i += 1
    }
    out
  }
}
