package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Runtime helper for [[SimhashSig]]. */
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

/** Native expression: `array<long>` feature hashes → 32-bit simhash
  * signature, one pass per document.
  *
  * Replaces the explode + 32-column conditional-sum aggregation — i.e. a
  * corpus-wide shuffle of every (doc, shingle) row — with a narrow
  * per-document projection: the signature never leaves the map side. At
  * 100 TB that removes the single largest exchange from the simhash dedup
  * pipeline; only the (doc_id, signature, chunk) rows ever shuffle.
  */
case class SimhashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override def nullSafeEval(hashes: Any): Any =
    SimhashUtil.sig(hashes.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashUtil.sig($c)")

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

object SimhashSig {

  val FunctionName = "simhash_sig"

  def of(hashes: Column): Column = call_function(FunctionName, hashes)
}
