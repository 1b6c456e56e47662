package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Session extension installer for the custom whole-plan operators.
  *
  * Install with `withExtensions(new GraftExtensions)` on a session builder
  * or `--conf spark.sql.extensions=graft.plans.GraftExtensions` (the config
  * route needs no code change in the launching application). Every session
  * this repo builds — its mains, tools and the test session — installs it
  * via [[graft.GraftSession]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import graft.functions._

  private def fn(name: String, clazz: Class[_],
                 builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // the as-of join stack: marker function + rewrite + planning
    ext.injectFunction(fn(AsofLE.FunctionName, classOf[AsofLE],
      exprs => AsofLE(exprs.head, exprs(1), exprs.drop(2).headOption)))
    ext.injectOptimizerRule(RewriteAsofJoin)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)

    // free length-difference guard in front of thresholded levenshtein
    // filters (the fuzzy-match prefilter, applied automatically)
    ext.injectOptimizerRule(_ => LevenshteinPrefilter)

    // every native expression, so the pure-SQL surface (spark.sql /
    // QueryClient) can call the whole hash/vector family without any
    // Scala-side register() call
    ext.injectFunction(fn(ShingleHashes.FunctionName, classOf[ShingleHashes],
      exprs => ShingleHashes(exprs.head)))
    ext.injectFunction(fn(MinhashBandKeys.FunctionName, classOf[MinhashBandKeys],
      exprs => MinhashBandKeys(exprs.head)))
    ext.injectFunction(fn(SimhashSig.FunctionName, classOf[SimhashSig],
      exprs => SimhashSig(exprs.head)))
    ext.injectFunction(fn(SrpBandKeys.FunctionName, classOf[SrpBandKeys],
      exprs => SrpBandKeys(exprs.head)))
    ext.injectFunction(fn(FloatVectorDot.FunctionName, classOf[FloatVectorDot],
      exprs => FloatVectorDot(exprs.head, exprs(1))))
    ext.injectFunction(fn(OracleDateParse.FunctionName, classOf[OracleDateParse],
      exprs => OracleDateParse(exprs.head)))
    ext.injectFunction(fn(NGrams.FunctionName, classOf[NGrams],
      exprs => NGrams(exprs.head, exprs(1))))
    ext.injectFunction(fn(LongVectorL2.FunctionName, classOf[LongVectorL2],
      exprs => LongVectorL2(exprs.head, exprs(1))))
    ext.injectFunction(fn(ZValue.FunctionName, classOf[ZValue],
      exprs => ZValue(exprs.head, exprs(1))))
  }
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
