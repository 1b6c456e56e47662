package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Equality gate for the round-13 native MaxSim expression: q305's
  * array form must be BIT-IDENTICAL to the exploded per-component
  * equi-join + max/sum cascade it replaced (the DuckDB oracle replays
  * that cascade). Random quantized multi-vectors, including negative
  * components and tie-heavy small-value draws.
  */
class MaxSimSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(name: String, prop: Prop): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(result.passed, s"$name: $result")
  }

  // small magnitudes so slice dots tie often (the max's tie behavior is
  // value-level, not positional — ties collapse to the same max)
  private val genVec: Gen[Seq[Long]] =
    Gen.listOfN(64, Gen.choose(-5L, 5L)).map(_.toSeq)

  test("maxsim_milli equals the exploded k-join + max/sum cascade") {
    import spark.implicits._
    check("maxsim", Prop.forAll(
      Gen.listOfN(6, genVec), Gen.listOfN(2, genVec)) { (docs, qs) =>
      val d = docs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "xv")
      val q = qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("qid", "qv")
      val native = d.crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"),
          MaxSimMilli.of(col("qv"), col("xv")).as("m"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      // the exploded q305 formulation this replaced
      val dc = d.select(col("vec_id"), posexplode(col("xv")).as(Seq("i", "xm")))
        .select(col("vec_id"), expr("i DIV 8").as("sl"),
          expr("i % 8").as("k"), col("xm"))
      val qc = q.select(col("qid"), posexplode(col("qv")).as(Seq("i", "qm")))
        .select(col("qid"), expr("i DIV 8").as("qsl"),
          expr("i % 8").as("k"), col("qm"))
      val exploded = dc.join(qc, "k")
        .groupBy("qid", "qsl", "vec_id", "sl")
        .agg(sum(expr("xm * qm")).as("dot"))
        .groupBy("qid", "qsl", "vec_id").agg(max("dot").as("mx"))
        .groupBy("qid", "vec_id").agg(sum("mx").as("m"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      native == exploded
    })
  }

  test("ragged or empty multi-vectors fail loudly instead of diverging") {
    import spark.implicits._
    val df = Seq((Seq.fill(64)(1L), Seq.fill(56)(1L)))
      .toDF("a", "b")
      .select(MaxSimMilli.of(col("a"), col("b")))
    val e = intercept[Exception](df.collect())
    assert(e.getMessage != null)
  }
}
