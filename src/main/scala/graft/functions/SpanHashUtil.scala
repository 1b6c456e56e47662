package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Kernels of [[Kernels.WindowHashes]] and [[Kernels.WinnowFingerprints]]
  * — one md5 pass per document, thread-local digest via [[HashUtil]].
  * Each function is bit-identical to the interpreted SQL chain it replaces
  * (Spark evaluates higher-order-function lambdas interpreted, per
  * element), so the DuckDB oracles replay unchanged.
  */
object SpanHashUtil {

  /** Hashes of the word n-grams at positions 0, stride, 2·stride, …
    * (token indices, 0-based; a window must fit entirely). Equal to
    * `transform(sequence(0, cnt-1), p -> CAST(conv(substring(md5(
    * concat_ws(' ', toks[p·stride .. p·stride+n-1])), 1, 8), 16, 10) AS
    * BIGINT))` — NOT deduplicated (unlike [[HashUtil.shingleHashes]]),
    * because the span-dedup family keys on positions.
    */
  def windowHashes(toks: ArrayData, n: Int, stride: Int): ArrayData = {
    val sz = toks.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Long])
    val count = (sz - n) / stride + 1
    val out = new Array[Long](count)
    val sb = new java.lang.StringBuilder(64)
    var c = 0
    var i = 0
    while (c < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i + j).toString)
        j += 1
      }
      out(c) = HashUtil.md5Head8(sb.toString)
      i += stride
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken) over the
    * char k-gram hashes of `lt`: for every window of w consecutive
    * hashes, select the minimum (ties → RIGHTMOST position), encode as
    * `pos₁ · 2³² + hash` (pos₁ = 1-based position in the hash sequence),
    * and deduplicate keeping first occurrence. Equal to the interpreted
    * chain
    * `array_distinct(transform(sequence(1, size(hs)-w+1), i ->
    *    element_at(filter(sequence(i, i+w-1),
    *      j -> element_at(hs, j) = array_min(slice(hs, i, w))), -1)
    *    · 2³² + array_min(slice(hs, i, w))))`
    * with `hs = transform(sequence(1, length(lt)-k+1), i ->
    *    CAST(conv(substring(md5(substring(lt, i, k)), 1, 8), 16, 10) AS
    *    BIGINT))`.
    * Substrings are taken by CODE POINT to match Spark's `substring`.
    */
  def winnowFingerprints(lt: UTF8String, k: Int, w: Int): ArrayData = {
    val s = lt.toString
    // code-point offset table: offs(t) = char index of code point t
    val nChars = s.length
    val offs = new Array[Int](nChars + 1)
    var nCp = 0
    var ci = 0
    while (ci < nChars) {
      offs(nCp) = ci
      ci += Character.charCount(s.codePointAt(ci))
      nCp += 1
    }
    offs(nCp) = nChars
    if (nCp < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val nHs = nCp - k + 1
    val hs = new Array[Long](nHs)
    var t = 0
    while (t < nHs) {
      hs(t) = HashUtil.md5Head8(s.substring(offs(t), offs(t + k)))
      t += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i0 = 0
    while (i0 <= nHs - w) {
      var m = hs(i0)
      var j0 = i0
      var j = i0 + 1
      while (j < i0 + w) {
        // ties -> rightmost, so >= replaces on equality
        if (hs(j) <= m) { m = hs(j); j0 = j }
        j += 1
      }
      seen.add((j0 + 1).toLong * 4294967296L + m)
      i0 += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var z = 0
    while (it.hasNext) { out(z) = it.next(); z += 1 }
    new GenericArrayData(out)
  }
}
