package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** One native scalar function: its SQL name, the object method that
  * computes it (the kernel), and its signature.
  *
  * `inputs` match by element type (an array's `containsNull` is ignored);
  * the arguments at `foldableArgs` must be constants. `returnNullable` is
  * set only for a kernel that returns a boxed value, null meaning SQL NULL.
  * Apart from that, a null argument gives a null result and the kernel is
  * never called with one.
  */
final case class Kernel(name: String, obj: Class[_], method: String,
                        inputs: Seq[DataType], result: DataType,
                        foldableArgs: Set[Int] = Set.empty,
                        returnNullable: Boolean = false) {

  /** Column API over the registered function. */
  def apply(args: Column*): Column = call_function(name, args: _*)

  private[functions] def accepts(args: Seq[Expression]): Boolean =
    args.size == inputs.size && args.zip(inputs).zipWithIndex.forall {
      case ((arg, want), i) =>
        val typed = (arg.dataType, want) match {
          case (ArrayType(got, _), ArrayType(el, _)) => got == el
          case (got, _) => got == want
        }
        typed && (arg.foldable || !foldableArgs(i))
    }

  private[functions] def signature: String = inputs.zipWithIndex.map {
    case (t, i) => (if (foldableArgs(i)) "foldable " else "") + t.catalogString
  }.mkString("(", ", ", ")")
}

/** The one expression behind every [[Kernel]]: it type-checks a call
  * against the row, and before execution the optimizer replaces it with
  * Spark's own `StaticInvoke` of the kernel method — the spelling of
  * Spark's built-ins such as `luhn_check`. Interpreted eval and generated
  * code therefore call the same Scala method. An unaliased call is named
  * `name(args)`, like any function.
  */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
    extends RuntimeReplaceable {

  override lazy val replacement: Expression = StaticInvoke(kernel.obj,
    kernel.result, kernel.method, children,
    returnNullable = kernel.returnNullable)

  override def dataType: DataType = kernel.result
  override def prettyName: String = kernel.name
  // the tree string shows the name (prettyName), not the whole row
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def checkInputDataTypes(): TypeCheckResult =
    if (kernel.accepts(children)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${kernel.signature}, got " +
        children.map(_.dataType.catalogString).mkString("(", ", ", ")"))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

/** The kernel table: every native scalar function, each computed by one
  * Scala method. [[graft.plans.GraftExtensions]] injects every row of
  * [[All]].
  */
object Kernels {

  private val Strings = ArrayType(StringType)
  private val Floats = ArrayType(FloatType)
  private val Doubles = ArrayType(DoubleType)
  private val Longs = ArrayType(LongType)

  private def nonNull(t: DataType) = ArrayType(t, containsNull = false)

  /** The A8 DATE conversion of [[graft.ingest.FixedWidth.convert]]. */
  val OracleDateParse = Kernel("oracle_date_parse", DateUtil.getClass,
    "parseOracleDate", Seq(StringType), DateType, returnNullable = true)

  val NfcNormalize = Kernel("nfc_normalize", NfcUtil.getClass, "nfc",
    Seq(StringType), StringType)

  /** Tokens → distinct hashed word 3-gram shingles. */
  val ShingleHashes = Kernel("shingle_hashes", HashUtil.getClass,
    "shingleHashes", Seq(Strings), nonNull(LongType))

  val MinhashBandKeys = Kernel("minhash_band_keys", MinhashUtil.getClass,
    "bandKeys", Seq(Longs), nonNull(StringType))

  val SimhashSig = Kernel("simhash_sig", SimhashUtil.getClass, "sig",
    Seq(Longs), LongType)

  val SrpBandKeys = Kernel("srp_band_keys", SrpUtil.getClass, "bandKeys",
    Seq(Floats), nonNull(IntegerType))

  /** `window_hashes(tokens, n, stride)`. */
  val WindowHashes = Kernel("window_hashes", SpanHashUtil.getClass,
    "windowHashes", Seq(Strings, IntegerType, IntegerType),
    nonNull(LongType), foldableArgs = Set(1, 2))

  /** `winnow_fps(lt, k, w)`. */
  val WinnowFingerprints = Kernel("winnow_fps", SpanHashUtil.getClass,
    "winnowFingerprints", Seq(StringType, IntegerType, IntegerType),
    nonNull(LongType), foldableArgs = Set(1, 2))

  val FloatVectorDot = Kernel("float_vector_dot", VectorUtil.getClass,
    "floatDot", Seq(Floats, Floats), DoubleType)

  val DoubleVectorDot = Kernel("double_vector_dot", VectorUtil.getClass,
    "doubleDot", Seq(Doubles, Doubles), DoubleType)

  val LongVectorDot = Kernel("long_vector_dot", VectorUtil.getClass,
    "longDot", Seq(Longs, Longs), LongType)

  val LongVectorL2 = Kernel("long_vector_l2", VectorUtil.getClass,
    "longL2", Seq(Longs, Longs), LongType)

  val MaxSimMilli = Kernel("maxsim_milli", graft.functions.MaxSimMilli.getClass,
    "score", Seq(Longs, Longs), LongType)

  /** Morton/Z value of two dimension keys. */
  val ZValue = Kernel("z_value16", ZValueUtil.getClass, "z16",
    Seq(LongType, LongType), LongType)

  val All: Seq[Kernel] = Seq(ShingleHashes, MinhashBandKeys, SimhashSig,
    SrpBandKeys, NfcNormalize, OracleDateParse, WindowHashes,
    WinnowFingerprints, FloatVectorDot, DoubleVectorDot, LongVectorDot,
    LongVectorL2, MaxSimMilli, ZValue)
}
