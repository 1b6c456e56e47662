package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every kernel-table row gives the same rows interpreted (no codegen
  * factory, no whole-stage codegen) as compiled, over a fixed grid of
  * edge cases: null arguments, empty and mismatched arrays, null
  * elements, bad dates.
  */
class KernelParitySpec extends AnyFunSuite {
  // its own SQL conf, so the codegen switches never reach another spec
  private lazy val spark = TestSpark.spark.newSession()

  /** One kernel over a grid: typed columns, their rows, constant args. */
  private case class Grid(kernel: Kernel, columns: Seq[(String, DataType)],
                          rows: Seq[Seq[Any]], constants: Seq[Int] = Nil)

  private val Dates = Seq(null, "", "01-OCT-2017", "1-oct-2017",
    "29-FEB-2020", "31-FEB-2017", "05-OCT-0000", "01-OCT-99", "bad")
  private val Texts = Seq(null, "", "ab", "Cafe\u0301 du monde",
    "the quick brown fox jumps over the lazy dog")
  // string-array kernels read every token, so the grid has no null token
  private val Tokens = Seq(null, Seq(), Seq("a"), Seq("a", "b", "c"),
    Seq("a", "b", "c", "d", "a", "b", "c"),
    "the quick brown fox jumps over the lazy dog".split(" ").toSeq)
  private val LongArrays = Seq(null, Seq(), Seq(1L), Seq(1L, null, 3L),
    Seq(-5L, 7L, 1L << 40), (1L to 16L).map(v => v * v))
  private val FloatArrays = Seq(null, Seq(), Seq(1.5f), Seq(1f, null, -2f),
    (0 until 64).map(i => (i % 7 - 3) / 4f))
  private val DoubleArrays = Seq(null, Seq(), Seq(0.1), Seq(1.0, null, -2.5),
    Seq(0.1, 0.2, 0.3))
  // maxsim_milli takes equal-length multi-vectors of 8-dim slices
  private val MultiVectors = Seq(null, (1L to 8L).toSeq,
    Seq[Any](1L, null, 3L, 4L, 5L, 6L, 7L, -8L), (1L to 16L).map(-_))

  private def one(xs: Seq[Any]): Seq[Seq[Any]] = xs.map(Seq(_))
  private def pairs(xs: Seq[Any], ys: Seq[Any]): Seq[Seq[Any]] =
    for (x <- xs; y <- ys) yield Seq(x, y)

  private val Grids = Seq(
    Grid(Kernels.OracleDateParse, Seq("s" -> StringType), one(Dates)),
    Grid(Kernels.NfcNormalize, Seq("s" -> StringType), one(Texts)),
    Grid(Kernels.ShingleHashes, Seq("toks" -> ArrayType(StringType)), one(Tokens)),
    Grid(Kernels.MinhashBandKeys, Seq("hs" -> ArrayType(LongType)), one(LongArrays)),
    Grid(Kernels.SimhashSig, Seq("hs" -> ArrayType(LongType)), one(LongArrays)),
    Grid(Kernels.SrpBandKeys, Seq("v" -> ArrayType(FloatType)), one(FloatArrays)),
    Grid(Kernels.WindowHashes, Seq("toks" -> ArrayType(StringType)), one(Tokens),
      constants = Seq(2, 1)),
    Grid(Kernels.WindowHashes, Seq("toks" -> ArrayType(StringType)), one(Tokens),
      constants = Seq(3, 2)),
    Grid(Kernels.WinnowFingerprints, Seq("lt" -> StringType), one(Texts),
      constants = Seq(3, 2)),
    Grid(Kernels.FloatVectorDot,
      Seq("a" -> ArrayType(FloatType), "b" -> ArrayType(FloatType)),
      pairs(FloatArrays, FloatArrays)),
    Grid(Kernels.DoubleVectorDot,
      Seq("a" -> ArrayType(DoubleType), "b" -> ArrayType(DoubleType)),
      pairs(DoubleArrays, DoubleArrays)),
    Grid(Kernels.LongVectorDot,
      Seq("a" -> ArrayType(LongType), "b" -> ArrayType(LongType)),
      pairs(LongArrays, LongArrays)),
    Grid(Kernels.LongVectorL2,
      Seq("a" -> ArrayType(LongType), "b" -> ArrayType(LongType)),
      pairs(LongArrays, LongArrays)),
    Grid(Kernels.MaxSimMilli,
      Seq("q" -> ArrayType(LongType), "d" -> ArrayType(LongType)),
      pairs(MultiVectors, MultiVectors).filter {
        case Seq(q: Seq[_], d: Seq[_]) => q.size == d.size
        case _ => true
      }),
    Grid(Kernels.ZValue, Seq("x" -> LongType, "y" -> LongType),
      pairs(Seq(null, 0L, 1L, -1L, 65535L, 1L << 40), Seq(null, 3L, -7L))))

  /** The grid's frame, numbered by `id`; the shuffle keeps the
    * projection from being folded into the local relation.
    */
  private def frame(g: Grid): DataFrame = {
    val schema = StructType(StructField("id", IntegerType) +:
      g.columns.map { case (n, t) => StructField(n, t) })
    val rows = g.rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r) }
    spark.createDataFrame(rows.asJava, schema).repartition(2)
  }

  private def call(g: Grid): Column =
    g.kernel(g.columns.map(c => col(c._1)) ++ g.constants.map(lit): _*)

  /** Runs `body` without the codegen factory or whole-stage codegen. */
  private def interpreted[T](body: => T): T = {
    val off = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val saved = off.map { case (k, _) => k -> spark.conf.getOption(k) }
    off.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Rows by id, with the executed plan's text. */
  private def run(g: Grid): (Seq[Row], String) = {
    val df = frame(g).select(col("id"), call(g).as("out"))
    val rows = df.collect().sortBy(_.getInt(0)).toSeq
    (rows, df.queryExecution.executedPlan.toString)
  }

  test("every kernel gives the same rows interpreted as compiled") {
    assert(Grids.map(_.kernel).toSet === Kernels.All.toSet)
    Grids.foreach { g =>
      val (slow, slowPlan) = interpreted(run(g))
      val (fast, fastPlan) = run(g)
      assert(slow.size === g.rows.size)
      assert(slow === fast, s"${g.kernel.name}: interpreted and compiled differ")
      assert(fastPlan.contains("static_invoke"), fastPlan)
      assert("\\*\\(\\d+\\) Project".r.findFirstIn(fastPlan).isDefined,
        s"${g.kernel.name} left whole-stage codegen: $fastPlan")
      assert(!slowPlan.contains("*("), slowPlan)
    }
  }

  test("nulls, bad dates and mismatched arrays give the documented values") {
    def outs(kernel: Kernel): Seq[Any] = {
      val (rows, _) = run(Grids.find(_.kernel == kernel).get)
      rows.map(r => if (r.isNullAt(1)) null else r.get(1))
    }
    assert(outs(Kernels.OracleDateParse).map(Option(_).map(_.toString)) ===
      Seq(None, None, Some("2017-10-01"), Some("2017-10-01"),
        Some("2020-02-29"), None, None, None, None))
    // null array -> null; empty or mismatched -> the common prefix
    val dots = outs(Kernels.LongVectorDot)
    assert(dots.take(LongArrays.size).forall(_ == null))
    assert(dots(LongArrays.size + 1) === 0L)                    // [] . []
    assert(dots(3 * LongArrays.size + 2) === 1L)                // [1,null,3] . [1]
    assert(dots(3 * LongArrays.size + 3) === 10L)               // null slot skipped
  }

  test("maxsim_milli fails on ragged multi-vectors in both modes") {
    val g = Grid(Kernels.MaxSimMilli,
      Seq("q" -> ArrayType(LongType), "d" -> ArrayType(LongType)),
      Seq(Seq((1L to 8L).toSeq, (1L to 16L).toSeq)))
    Seq(interpreted(intercept[Exception](run(g))), intercept[Exception](run(g)))
      .foreach { e =>
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => String.valueOf(t.getMessage).contains("maxsim_milli requires")))
      }
  }

  test("an unaliased call is named name(args)") {
    Grids.foreach { g =>
      val args = g.columns.map(_._1) ++ g.constants.map(_.toString)
      assert(frame(g).select(call(g)).columns.toSeq ===
        Seq(s"${g.kernel.name}(${args.mkString(", ")})"))
    }
  }

  test("argument types and constant arguments are checked at analysis") {
    val g = Grids.find(_.kernel == Kernels.WindowHashes).get
    val df = frame(g).withColumn("n", lit(2) + col("id") * 0)
    val nonConstant = intercept[AnalysisException](
      df.select(Kernels.WindowHashes(col("toks"), col("n"), lit(1))))
    assert(nonConstant.getMessage.contains(
      "window_hashes requires (array<string>, foldable int, foldable int), " +
        "got (array<string>, int, int)"))
    val wrongType = intercept[AnalysisException](
      df.select(Kernels.FloatVectorDot(col("toks"), col("toks"))))
    assert(wrongType.getMessage.contains("float_vector_dot requires"))
    val arity = intercept[AnalysisException](
      df.select(Kernels.ZValue(col("id"))))
    assert(arity.getMessage.contains("z_value16 requires"))
  }
}
