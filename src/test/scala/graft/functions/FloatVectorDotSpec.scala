package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class FloatVectorDotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression matches the zip_with/aggregate fold bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.0f)),
      (Array(0.1f, 0.2f), Array(0.3f, 0.4f)),
      (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b")
    val out = df.select(
      VectorOps.dot(col("a"), col("b")).as("hof"),
      Kernels.FloatVectorDot(col("a"), col("b")).as("native")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(out(0).getDouble(1) === (1.0 * 0.5 - 2.0 + 6.0))
  }

  test("null inputs yield null") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    val r = df.select(Kernels.FloatVectorDot(col("a"), col("b"))).collect().head
    assert(r.isNullAt(0))
  }

  test("whole-stage codegen compiles the loop (no fallback)") {
    // literals constant-fold to LocalTableScan, so drive it from a real
    // parquet scan where the projection must run through codegen
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        Kernels.FloatVectorDot(col("embedding"), col("embedding")).as("d2"))
    val codegenStages = emb.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty,
      s"expected a WholeStageCodegen stage in:\n${emb.queryExecution.executedPlan}")
    val row = emb.orderBy("vec_id").limit(1).collect().head
    assert(row.getDouble(1) > 0.0)
  }
}
