package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helper for [[NfcNormalize]]. */
object NfcUtil {

  /** Unicode NFC (canonical composition) of a UTF8String. The JDK's
    * `java.text.Normalizer` implements the same Unicode normalization
    * algorithm utf8proc does on the DuckDB side (`nfc_normalize`), so a
    * decomposed "e" + COMBINING ACUTE composes to the identical "é" byte
    * sequence in both engines. Fast path: `isNormalized` is O(n) with no
    * allocation, and real corpora are overwhelmingly already NFC.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Native expression: Unicode NFC normalization of a string column — the
  * first stage of any text-cleaning pipeline (byte-identical content must
  * hash identically, and NFC is what makes visually-equal strings
  * byte-equal). Spark ships no normalization built-in; a native expression
  * keeps the hot path inside whole-stage codegen instead of a boxed UDF.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(s: Any): Any =
    NfcUtil.nfc(s.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcUtil.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  val FunctionName = "nfc_normalize"

  def of(c: Column): Column = call_function(FunctionName, c)
}
