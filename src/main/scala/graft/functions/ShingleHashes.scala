package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Runtime helper for [[ShingleHashes]] — one md5 instance per thread, one
  * pass per document.
  */
object HashUtil {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 4 bytes of md5 as an unsigned 32-bit value in a long — equal to
    * `CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)` in DuckDB and to
    * `conv(substring(md5(s), 1, 8), 16, 10)` in Spark SQL.
    */
  def md5Head8(s: String): Long = {
    val d = digests.get()
    d.reset()
    val bytes = d.digest(s.getBytes(StandardCharsets.UTF_8))
    ((bytes(0) & 0xffL) << 24) | ((bytes(1) & 0xffL) << 16) |
      ((bytes(2) & 0xffL) << 8) | (bytes(3) & 0xffL)
  }

  /** tokens -> distinct hashed word-3-gram shingles, single pass. */
  def shingleHashes(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= n - 3) {
      sb.setLength(0)
      sb.append(toks.getUTF8String(i).toString).append(' ')
        .append(toks.getUTF8String(i + 1).toString).append(' ')
        .append(toks.getUTF8String(i + 2).toString)
      seen.add(md5Head8(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}

/** Native expression: `array<string>` tokens → `array<long>` of DISTINCT
  * md5-derived 32-bit hashes of the word 3-gram shingles.
  *
  * Replaces the interpreted chain
  * `array_distinct(transform(sequence(...), concat_ws(element_at×3)))`
  * + `conv(substring(md5(...)))` which costs ~300µs per shingle (Spark's
  * higher-order functions evaluate their lambdas interpreted, per element) —
  * this one-pass native loop is ~100x cheaper and keeps the whole dedup
  * family viable at corpus scale. Hash values are bit-identical to the SQL
  * formulation, so DuckDB oracles still replay exactly.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(toks: Any): Any =
    HashUtil.shingleHashes(toks.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashUtil.shingleHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  val FunctionName = "shingle_hashes"

  def of(tokens: Column): Column = call_function(FunctionName, tokens)
}
