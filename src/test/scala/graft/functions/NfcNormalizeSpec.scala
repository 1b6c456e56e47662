package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class NfcNormalizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("composes decomposed sequences to canonical form") {
    import spark.implicits._
    val decomposedE = "e\u0301"   // e + COMBINING ACUTE ACCENT
    val composedE = "\u00e9"
    val decomposedA = "A\u030A"   // A + COMBINING RING ABOVE
    val composedA = "\u00c5"
    val got = Seq(decomposedE, composedE, decomposedA, "plain ascii", "")
      .toDF("s")
      .select(Kernels.NfcNormalize(col("s")).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq(composedE, composedE, composedA, "plain ascii", ""))
  }

  test("null passes through; non-string input is rejected at analysis") {
    import spark.implicits._
    val nulls = Seq[Option[String]](None, Some("x"))
      .toDF("s").select(Kernels.NfcNormalize(col("s")).as("n"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(nulls === Seq(None, Some("x")))
    assertThrows[AnalysisException] {
      Seq(1L).toDF("i").select(Kernels.NfcNormalize(col("i"))).collect()
    }
  }

  test("matches the q108 cleanup chain on a unicode fixture end-to-end") {
    import spark.implicits._
    // the full q108 projection over text that exercises every stage:
    // case, NFC, control chars, whitespace runs, outer padding
    val messy = "  Cafe\u0301 du\tmonde   " // decomposed e-acute
    val got = Seq(messy).toDF("text")
      .select(trim(regexp_replace(
        regexp_replace(Kernels.NfcNormalize(lower(col("text"))),
          "[\\x00-\\x1f]", " "),
        "\\s+", " ")).as("ct"))
      .collect().head.getString(0)
    assert(got === "caf\u00e9 du monde")
  }
}
