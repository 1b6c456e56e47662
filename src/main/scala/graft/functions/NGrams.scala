package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native table-generating function (UDTF): `ngrams(tokens, n)` emits one
  * (pos, ngram) row per word n-gram — the generator-side of the text
  * family, completing the scalar (ShingleHashes et al.) / aggregate
  * (GeoMean) / table-function triple.
  *
  * A `Generator` plans as a `Generate` node exactly like `explode`, so the
  * fan-out happens inside the scan's stage with no shuffle and no
  * intermediate array materialization per row beyond the generated rows
  * themselves. `outer = false` semantics: short token arrays produce no
  * rows. (CodegenFallback, like Hive UDTFs — generators sit at a stage
  * boundary of WholeStageCodegen by design.)
  */
case class NGrams(child: Expression, n: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, n)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n.foldable && n.dataType == IntegerType =>
      n.eval() match {
        case w: Int if w >= 1 => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires n >= 1, got $other")
      }
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, foldable int)")
  }

  override def elementSchema: StructType = new StructType()
    .add("pos", IntegerType, nullable = false)
    .add("ngram", StringType, nullable = false)

  override def prettyName: String = NGrams.FunctionName

  private lazy val width: Int = n.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val toks = child.eval(input).asInstanceOf[ArrayData]
    if (toks == null || toks.numElements() < width) return Iterator.empty
    val count = toks.numElements() - width + 1
    val sb = new java.lang.StringBuilder(32)
    Iterator.tabulate(count) { i =>
      // windows containing a null token emit no row (SQL-surface input
      // isn't guaranteed null-free the way TextOps.tokens output is)
      var j = 0
      var hasNull = false
      while (j < width && !hasNull) {
        hasNull = toks.isNullAt(i + j); j += 1
      }
      if (hasNull) null
      else {
        sb.setLength(0)
        j = 0
        while (j < width) {
          if (j > 0) sb.append(' ')
          sb.append(toks.getUTF8String(i + j).toString)
          j += 1
        }
        new GenericInternalRow(
          Array[Any](i, UTF8String.fromString(sb.toString)))
      }
    }.filter(_ != null)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NGrams =
    copy(child = newChildren(0), n = newChildren(1))
}

object NGrams {

  val FunctionName = "ngrams"

  def of(tokens: Column, n: Column): Column =
    call_function(FunctionName, tokens, n)
}
