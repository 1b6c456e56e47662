package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helpers for the span/window hash expressions — one md5 pass per
  * document, thread-local digest via [[HashUtil]]. Each function is
  * bit-identical to the interpreted SQL chain it replaces (documented per
  * call site), so the DuckDB oracles replay unchanged.
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

/** Native expression: `window_hashes(tokens, n, stride)` →
  * `array<long>` of md5-derived 32-bit hashes of the word n-grams at
  * stride-spaced positions. Replaces the interpreted
  * `transform(sequence(...), md5(concat_ws(...)))` chains of the
  * span-dedup family (Spark evaluates higher-order-function lambdas
  * interpreted, per element) with one codegen'd native pass per row.
  */
case class WindowHashes(first: Expression, second: Expression,
                        third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType)
        if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int, foldable int), got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = WindowHashes.FunctionName

  override def nullSafeEval(toks: Any, n: Any, stride: Any): Any =
    SpanHashUtil.windowHashes(toks.asInstanceOf[ArrayData],
      n.asInstanceOf[Int], stride.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n, st) =>
      s"graft.functions.SpanHashUtil.windowHashes($t, $n, $st)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): WindowHashes =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WindowHashes {

  val FunctionName = "window_hashes"

  def of(tokens: Column, n: Column, stride: Column): Column =
    call_function(FunctionName, tokens, n, stride)
}

/** Native expression: `winnow_fps(lt, k, w)` → `array<long>` of distinct
  * winnowing fingerprints (rightmost-tie window minima of char k-gram
  * hashes, encoded pos·2³² + hash). Replaces q243's O(len · w)
  * interpreted `transform`/`slice`/`array_min`/`filter` chain — the most
  * expensive per-row expression in the text family — with one native
  * pass per document.
  */
case class WinnowFingerprints(first: Expression, second: Expression,
                              third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType)
        if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, foldable int, foldable int), got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = WinnowFingerprints.FunctionName

  override def nullSafeEval(lt: Any, k: Any, w: Any): Any =
    SpanHashUtil.winnowFingerprints(lt.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, k, w) =>
      s"graft.functions.SpanHashUtil.winnowFingerprints($s, $k, $w)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): WinnowFingerprints =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowFingerprints {

  val FunctionName = "winnow_fps"

  def of(lt: Column, k: Column, w: Column): Column =
    call_function(FunctionName, lt, k, w)
}
