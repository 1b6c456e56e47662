package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SpecFiles.tempPath
import graft.TestSpark

/** The injected guard must appear in the optimized plan, change no
  * results, not stack up under the optimizer's fixed-point loop — and
  * must NOT touch the forms where it would change semantics (the
  * three-arg -1-returning levenshtein, non-deterministic operands).
  */
class LevenshteinPrefilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // parquet-backed: a literal LocalRelation would be constant-folded by
  // ConvertToLocalRelation before the plan-shape assertions could look
  private lazy val fixture = {
    import spark.implicits._
    val dir = tempPath("lev_fix_").toString
    Seq(("kitten", "sitting"), ("abc", "abd"), ("a", "abcdefgh"),
      ("same", "same"), (null, "x"))
      .toDF("a", "b").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("guard appears once in the optimized plan; strict form guarded too") {
    val plan = fixture.filter(levenshtein(col("a"), col("b")) <= 2)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("abs"), s"guard missing:\n$plan")
    // idempotence: one guard, not one per optimizer iteration
    assert("abs\\(".r.findAllIn(plan.toLowerCase).size === 1,
      s"guard duplicated:\n$plan")
    val strict = fixture.filter(expr("levenshtein(a, b) < 3"))
      .queryExecution.optimizedPlan.toString
    assert(strict.toLowerCase.contains("abs"), s"strict unguarded:\n$strict")
  }

  test("results are unchanged by the guard") {
    val got = fixture.filter(levenshtein(col("a"), col("b")) <= 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // edit distance <= 2 keeps (abc,abd)=1 and (same,same)=0;
    // kitten/sitting is 3, the length-7 gap is out, null drops
    assert(got === Set(("abc", "abd"), ("same", "same")))
  }

  test("three-arg form is NOT rewritten (its -1 sentinel passes <= k)") {
    val df = fixture.filter(expr("levenshtein(a, b, 2) <= 2"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("abs"),
      s"guard must not touch the -1-returning form:\n$plan")
    // and the -1 rows (over-threshold AND the length-7 gap) are KEPT —
    // the semantics a guard would have broken
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("kitten", "sitting"), ("abc", "abd"),
      ("a", "abcdefgh"), ("same", "same")))
  }

  test("non-deterministic operands are not rewritten") {
    val plan = fixture
      .filter(expr(
        "levenshtein(concat(a, CASE WHEN rand() < 0.5 THEN 'x' ELSE 'y' END), b) <= 2"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("abs"),
      s"guard must not duplicate a non-deterministic operand:\n$plan")
  }
}
