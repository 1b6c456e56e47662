package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-inspection main: print `explain("formatted")` for named catalog
  * queries (all of them with no args). The manual companion to the
  * automated plan tripwires (PlanInvariantsSpec/PlanSizeSpec) — use it
  * to check PushedFilters/ReadSchema on scans, WholeStageCodegen spans,
  * and join strategies when iterating on a query's plan.
  *
  *   scripts/run_plan_audit.sh q332_isotropy_audit q339_chunk_windows
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { q =>
      println(s"===== $q =====")
      try {
        val df = SparkEntry.queries(q)(spark, sfDir)
        println(df.queryExecution
          .explainString(ExplainMode.fromString("formatted")))
      } catch {
        case e: Throwable => println(s"[plan-audit] $q failed: $e")
      } finally spark.sqlContext.clearCache()
    }
    spark.stop()
  }
}
