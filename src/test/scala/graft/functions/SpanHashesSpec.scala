package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Equality gates for the round-12 native span/window hash expressions:
  * each must be BIT-IDENTICAL to the interpreted SQL chain it replaced
  * (the DuckDB oracles replay those chains, so any divergence is a
  * correctness break, not just a perf bug). Random corpora via
  * ScalaCheck, plus the degenerate shapes (short docs, stride > 1,
  * tie-heavy hash windows).
  */
class SpanHashesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(name: String, prop: Prop): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, s"$name: $result")
  }

  // small vocab so windows repeat and ties happen
  private val genDoc: Gen[String] = for {
    n <- Gen.choose(0, 30)
    toks <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "e"))
  } yield toks.mkString(" ")

  test("window_hashes(n, 1) equals the interpreted transform chain") {
    import spark.implicits._
    check("wh-stride1", Prop.forAll(Gen.listOfN(8, genDoc)) { texts =>
      val df = texts.zipWithIndex.toDF("text", "id")
        .select(col("id"), TextOps.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 5)
        .withColumn("native", WindowHashes.of(col("ws"), lit(5), lit(1)))
        .withColumn("interp", expr(
          """transform(sequence(0, size(ws) - 5), i ->
            | CAST(conv(substring(md5(concat_ws(' ', ws[i], ws[i+1],
            |   ws[i+2], ws[i+3], ws[i+4])), 1, 8), 16, 10)
            |   AS BIGINT))""".stripMargin))
      df.collect().forall { r =>
        r.getSeq[Long](r.fieldIndex("native")) ==
          r.getSeq[Long](r.fieldIndex("interp"))
      }
    })
  }

  test("window_hashes(10, 10) equals the interpreted strided chain") {
    import spark.implicits._
    check("wh-stride10", Prop.forAll(Gen.listOfN(6, genDoc)) { texts =>
      val df = texts.zipWithIndex.toDF("text", "id")
        .select(col("id"), TextOps.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 10)
        .withColumn("native", WindowHashes.of(col("ws"), lit(10), lit(10)))
        .withColumn("interp", expr(
          """transform(sequence(0, size(ws) DIV 10 - 1),
            | j -> CAST(conv(substring(md5(
            |   array_join(slice(ws, j * 10 + 1, 10), ' ')),
            |   1, 8), 16, 10) AS BIGINT))""".stripMargin))
      df.collect().forall { r =>
        r.getSeq[Long](r.fieldIndex("native")) ==
          r.getSeq[Long](r.fieldIndex("interp"))
      }
    })
  }

  test("winnow_fps equals the interpreted winnowing chain") {
    import spark.implicits._
    val k = 5; val w = 4
    // char-level docs: tiny alphabet so k-gram hashes collide and the
    // rightmost-tie rule is actually exercised
    val genChars: Gen[String] = for {
      n <- Gen.choose(0, 60)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', ' '))
    } yield cs.mkString
    check("winnow", Prop.forAll(Gen.listOfN(8, genChars)) { texts =>
      val df = texts.zipWithIndex.toDF("text", "id")
        .select(col("id"), lower(trim(col("text"))).as("lt"))
        .filter(length(col("lt")) >= k + w - 1)
        .withColumn("native",
          WinnowFingerprints.of(col("lt"), lit(k), lit(w)))
        .withColumn("hs", expr(
          s"""transform(sequence(1, length(lt) - ${k - 1}),
             | i -> CAST(conv(substring(md5(substring(lt, i, $k)),
             |   1, 8), 16, 10) AS BIGINT))""".stripMargin))
        .withColumn("interp", expr(
          s"""array_distinct(transform(sequence(1, size(hs) - ${w - 1}),
             | i -> element_at(filter(sequence(i, i + ${w - 1}),
             |     j -> element_at(hs, j) = array_min(slice(hs, i, $w))),
             |   -1) * 4294967296 + array_min(slice(hs, i, $w))))"""
            .stripMargin))
      df.collect().forall { r =>
        r.getSeq[Long](r.fieldIndex("native")) ==
          r.getSeq[Long](r.fieldIndex("interp"))
      }
    })
  }

  test("degenerate inputs: short docs yield empty arrays, not errors") {
    import spark.implicits._
    val df = Seq("", "a", "aa bb", "abcdefg").toDF("text")
      .select(
        WindowHashes.of(TextOps.tokens(col("text")), lit(5), lit(1))
          .as("wh"),
        WinnowFingerprints.of(col("text"), lit(5), lit(4)).as("fp"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](0).isEmpty)
      assert(r.getSeq[Long](1).isEmpty)
    }
  }
}
