package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DoubleVectorDotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression matches the zip_with/aggregate fold bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(0.5, -1.0, 2.0)),
      (Array(0.1, 0.2), Array(0.3, 0.4)),
      (Array.empty[Double], Array.empty[Double]))
      .toDF("a", "b")
    val out = df.select(
      VectorOps.dot(col("a"), col("b")).as("hof"),
      Kernels.DoubleVectorDot(col("a"), col("b")).as("native")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(out(0).getDouble(1) === (0.5 - 2.0 + 6.0))
  }

  test("null inputs yield null; mismatched lengths dot the common prefix") {
    import spark.implicits._
    val nulls = Seq((Some(Array(1.0)), Option.empty[Array[Double]]))
      .toDF("a", "b")
    assert(nulls.select(Kernels.DoubleVectorDot(col("a"), col("b")))
      .collect().head.isNullAt(0))
    val ragged = Seq((Array(2.0, 3.0, 9.0), Array(4.0, 5.0)))
      .toDF("a", "b")
    assert(ragged.select(Kernels.DoubleVectorDot(col("a"), col("b")))
      .collect().head.getDouble(0) === 23.0)
  }

  test("whole-stage codegen compiles the residual pipeline (no fallback)") {
    // drive it from a real parquet scan through the q170 residual shape:
    // float arrays widened by zip_with into array<double>, then dotted
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        zip_with(col("embedding"), col("embedding"),
          (x, y) => x.cast("double") - y.cast("double") * 0.5).as("res"))
      .select(col("vec_id"),
        Kernels.DoubleVectorDot(col("res"), col("res")).as("d2"))
    val codegenStages = emb.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"expected a WholeStageCodegen stage in:\n${emb.queryExecution.executedPlan}")
    val row = emb.orderBy("vec_id").limit(1).collect().head
    assert(row.getDouble(1) > 0.0)
  }
}
