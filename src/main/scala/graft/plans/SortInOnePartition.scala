package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: sort inside the one result partition.
  *
  * `coalesce(1)` over a global `ORDER BY` (`QueryClient.executeQuery`'s
  * one-CSV write, `Verify`'s result write) plans as a range exchange — a
  * sampling job for the range bounds, then a range shuffle — under a
  * narrow coalesce whose single task computes, and so sorts, every range
  * partition itself. The rewrite gathers the rows into the one partition
  * first (`Repartition(1, shuffle = true)`) and sorts them there with a
  * local sort: the same rows in the same order, without the sampling job
  * or the range partitioning. A `Project` between the coalesce and the
  * sort (an ORDER BY on a column the SELECT drops) stays above the sort.
  *
  * Idempotent under the optimizer's fixed-point batches: the result, a
  * local sort over a shuffle, is not matched again.
  */
object SortInOnePartition extends Rule[LogicalPlan] {

  private def sortInOne(s: Sort): Sort =
    s.copy(global = false, child = Repartition(1, shuffle = true, s.child))

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case Repartition(1, false, s: Sort) if s.global => sortInOne(s)
    case Repartition(1, false, p @ Project(_, s: Sort)) if s.global =>
      p.copy(child = sortInOne(s))
  }
}
