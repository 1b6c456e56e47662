package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Session extension installer: the one registry of the native
  * functions, plus the whole-plan operators. Every native function is
  * an entry of [[GraftExtensions.Functions]] and reaches a session only
  * through it, so `spark.sql`, `QueryClient` and the Column helpers
  * (each [[graft.functions.Kernel]] row's `apply`, which calls the
  * function by name) see the same set in every session; without the
  * extension a call fails with `UNRESOLVED_ROUTINE` naming the function.
  * The scalar functions are the rows of [[graft.functions.Kernels]], each
  * planned as a [[graft.functions.KernelCall]]; `ngrams` and `asof_le`
  * are the two hand-written expressions. `GraftSessionSpec` fails on a
  * per-session temp-function registration in the library and on any other
  * hand-written expression under `graft/functions`.
  *
  * Install with `withExtensions(new GraftExtensions)` on a session builder
  * or `--conf spark.sql.extensions=graft.plans.GraftExtensions` (the config
  * route needs no code change in the launching application). Every session
  * this repo builds — its mains, tools and the test session — installs it
  * via [[graft.GraftSession]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.Functions.foreach { case (name, clazz, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder))
    }

    // the as-of join stack: the asof_le marker above + rewrite + planning
    ext.injectOptimizerRule(RewriteAsofJoin)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)

    // free length-difference guard in front of thresholded levenshtein
    // filters (the fuzzy-match prefilter, applied automatically)
    ext.injectOptimizerRule(_ => LevenshteinPrefilter)

    // coalesce(1) over a global ORDER BY: sort in the one partition
    // instead of range-partitioning first (QueryClient's one-CSV write)
    ext.injectOptimizerRule(_ => SortInOnePartition)
  }
}

object GraftExtensions {

  import graft.functions._

  /** Every native function: SQL name, expression class, builder. */
  val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (AsofLE.FunctionName, classOf[AsofLE],
      (e: Seq[Expression]) => AsofLE(e.head, e(1), e.drop(2).headOption)),
    (NGrams.FunctionName, classOf[NGrams],
      (e: Seq[Expression]) => NGrams(e.head, e(1)))) ++
    Kernels.All.map(k => (k.name, classOf[KernelCall],
      (e: Seq[Expression]) => KernelCall(k, e)))
}

/** Public DataFrame-level API for the native as-of join. */
object Asof {

  /** Inner as-of join: each `left` row matched to the single `right` row
    * with equal keys and the greatest `rightTs <= leftTs`; unmatched left
    * rows drop. Requires [[GraftExtensions]] on the session — without it
    * the marker function fails at planning with an "unevaluable" error
    * (never a silently different result).
    *
    * `tolerance` bounds the match gap: a candidate only matches when
    * `leftTs - rightTs <= tolerance`, measured in the timestamp type's
    * internal unit (µs for timestamps, days for dates, raw for integrals).
    * Must be a literal.
    */
  def join(left: DataFrame, right: DataFrame, keys: Seq[(Column, Column)],
           leftTs: Column, rightTs: Column,
           tolerance: Option[Column] = None): DataFrame =
    joinWith(left, right, keys, leftTs, rightTs, "inner", tolerance)

  /** Left-outer as-of join: like [[join]], but unmatched left rows (no
    * key-equal right at-or-before, out-of-tolerance, or null key/ts) emit
    * with a null right side — DuckDB's `ASOF LEFT JOIN`.
    */
  def leftJoin(left: DataFrame, right: DataFrame, keys: Seq[(Column, Column)],
               leftTs: Column, rightTs: Column,
               tolerance: Option[Column] = None): DataFrame =
    joinWith(left, right, keys, leftTs, rightTs, "left", tolerance)

  private def joinWith(left: DataFrame, right: DataFrame,
                       keys: Seq[(Column, Column)],
                       leftTs: Column, rightTs: Column, joinType: String,
                       tolerance: Option[Column]): DataFrame = {
    val marker = tolerance match {
      case Some(t) => call_function(AsofLE.FunctionName, leftTs, rightTs, t)
      case None => call_function(AsofLE.FunctionName, leftTs, rightTs)
    }
    val cond = (keys.map { case (l, r) => l === r } :+ marker).reduce(_ && _)
    left.join(right, cond, joinType)
  }
}
