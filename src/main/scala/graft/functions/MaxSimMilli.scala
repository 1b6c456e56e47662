package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Kernel of [[Kernels.MaxSimMilli]]: the ColBERT MaxSim operator over two
  * `array<long>` fixed-point multi-vectors laid out as consecutive
  * 8-dim slices — score(q, d) = Σ_{query slice} max_{doc slice}
  * ⟨q_slice, d_slice⟩, all in exact integer arithmetic.
  *
  * Replaces q305's exploded per-component equi-join on `k = i % 8`
  * (every corpus component row × every query component with the same
  * dim-in-slice, 40× row fan-out through a three-level shuffled
  * aggregation) with one primitive triple loop per (query, document)
  * pair: integer slice dots are order-free sums and max/Σ are
  * deterministic, so the value is bit-identical to the join+groupBy
  * cascade it replaces. Lengths must match and be a positive multiple
  * of 8 — anything else fails loudly rather than silently diverging
  * from the exploded formulation (which pairs components by `i % 8`
  * across ragged arrays in a shape no real multi-vector layout has).
  */
object MaxSimMilli {

  def score(q: ArrayData, d: ArrayData): Long = {
    val n = q.numElements()
    require(n == d.numElements() && n > 0 && n % 8 == 0,
      s"maxsim_milli requires equal-length array<long> multi-vectors in " +
        s"8-dim slices; got ${q.numElements()} / ${d.numElements()}")
    val nSl = n / 8
    var total = 0L
    var qs = 0
    while (qs < nSl) {
      var best = Long.MinValue
      var ds = 0
      while (ds < nSl) {
        var dot = 0L
        var k = 0
        while (k < 8) {
          val qi = qs * 8 + k
          val di = ds * 8 + k
          // null slots contribute nothing, matching the exploded
          // join's sum-over-present-components semantics
          if (!q.isNullAt(qi) && !d.isNullAt(di))
            dot += q.getLong(qi) * d.getLong(di)
          k += 1
        }
        if (dot > best) best = dot
        ds += 1
      }
      total += best
      qs += 1
    }
    total
  }
}
