package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The declarative TextOps builders and the native expressions must agree —
  * they are two formulations of the same hash family.
  */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b",                       // too short for shingles
    "x y z",                     // exactly one shingle
    "dup dup dup dup dup")       // repeated shingles collapse

  test("ShingleHashes equals hash32 over shingles3 (as sets)") {
    import spark.implicits._
    val df = texts.toDF("text")
    val rows = df.select(
      ShingleHashes.of(TextOps.tokens(col("text"))).as("native"),
      transform(TextOps.shingles3(TextOps.tokens(col("text"))),
        s => TextOps.hash32(s)).as("declarative")).collect()
    rows.foreach { r =>
      val native = r.getSeq[Long](0).toSet
      val decl = r.getSeq[Long](1).toSet
      assert(native === decl)
    }
    // short text -> empty, single shingle -> one hash
    assert(rows(1).getSeq[Long](0).isEmpty)
    assert(rows(2).getSeq[Long](0).size === 1)
    assert(rows(3).getSeq[Long](0).size === 1)
  }

  test("MinhashBandKeys equals affine minhash over the hash array") {
    import spark.implicits._
    val df = texts.filter(_.split(" ").length >= 3).toDF("text")
      .select(ShingleHashes.of(TextOps.tokens(col("text"))).as("hs"))
    val rows = df.select(
      MinhashBandKeys.of(col("hs")).as("native"),
      array((0 until 4).map { b =>
        concat(TextOps.minhash(col("hs"), 2 * b).cast("string"), lit(","),
               TextOps.minhash(col("hs"), 2 * b + 1).cast("string"))
      }: _*).as("declarative")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("SimhashSig equals the 32-column conditional-sum formulation") {
    import spark.implicits._
    val hs = texts.filter(_.split(" ").length >= 3).toDF("text")
      .select(ShingleHashes.of(TextOps.tokens(col("text"))).as("hs"))
    val rows = hs.select(
      SimhashSig.of(col("hs")).as("native"),
      // per-doc replay of the relational per-bit conditional sum
      expr("""aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) ->
             |  acc + IF(aggregate(hs, CAST(0 AS BIGINT),
             |    (a, h) -> a + IF((shiftright(h, i) & 1) = 1,
             |      CAST(1 AS BIGINT), CAST(-1 AS BIGINT))) >= 0,
             |    shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"""
        .stripMargin).as("declarative")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("NGrams generator equals the declarative transform formulation") {
    import spark.implicits._
    val df = texts.toDF("text")
    val native = df.select(
        NGrams.of(TextOps.tokens(col("text")), lit(3)))
      .select("ngram").collect().map(_.getString(0)).sorted
    val declarative = df.select(explode(TextOps.shingles3(
        TextOps.tokens(col("text")))).as("s"))
      .collect().map(_.getString(0))
    // shingles3 dedups per doc; the generator does not — compare as the
    // generator's distinct-per-doc view
    val nativeDistinct = df.select(col("text"),
        NGrams.of(TextOps.tokens(col("text")), lit(3)))
      .select("text", "ngram").distinct()
      .collect().map(_.getString(1)).sorted
    assert(nativeDistinct.toSeq.sorted === declarative.toSeq.sorted)
    // positions are 0-based and contiguous
    val pos = df.select(NGrams.of(TextOps.tokens(col("text")), lit(3)))
      .select("pos").collect().map(_.getInt(0))
    assert(pos.forall(_ >= 0))
    assert(native.nonEmpty)
  }

  test("hash32 matches HashUtil.md5Head8") {
    import spark.implicits._
    val words = Seq("abc", "the quick", "ünïcode", "")
    val fromCol = words.toDF("w")
      .select(TextOps.hash32(col("w"))).collect().map(_.getLong(0))
    val fromUtil = words.map(HashUtil.md5Head8)
    assert(fromCol.toSeq === fromUtil)
  }
}
