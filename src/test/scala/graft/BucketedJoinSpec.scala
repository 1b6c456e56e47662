package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables.table

/** Bucketing is THE shuffle-elimination lever for repeated fact-fact
  * joins at 100 TB: writing both sides bucketed on the join key means
  * every subsequent join co-locates by construction — zero exchanges,
  * every run, forever. This spec proves the property end-to-end on the
  * real engine: the bucketed lineitem ⋈ orders plan contains NO shuffle
  * exchange, the plain-parquet twin of the same join shuffles BOTH
  * sides, and the two joins return identical results.
  *
  * It runs the real TPC-H tables through a join-PLUS-aggregation
  * pipeline (the groupBy reuses the bucket partitioning too) and counts
  * exchanges by recursive AQE-stage traversal instead of a plan-string
  * match.
  */
class BucketedJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // recursive: AQE hides materialized stages inside LEAF QueryStageExec
  // nodes (ResultQueryStage / ShuffleQueryStage), which a plain
  // plan.collect never descends into
  private def countShuffles(
      p: org.apache.spark.sql.execution.SparkPlan): Int = {
    val self = p match {
      case _: ShuffleExchangeExec => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec
        => Seq(r.child)
      case other => other.children
    }
    self + kids.map(countShuffles).sum
  }

  private def shuffles(df: DataFrame): Int = {
    df.collect()
    countShuffles(df.queryExecution.executedPlan)
  }

  test("bucketed fact-fact join runs with zero shuffle exchanges; the " +
      "plain-parquet twin shuffles both sides; results identical") {
    val li = table(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = table(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bkt")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bkt")

    // merge hint on both twins: at this sf the plain side would
    // otherwise broadcast (fine, but then it proves nothing about
    // shuffle elimination — at fact-fact scale broadcast is off the
    // table and SMJ is what actually runs)
    def joined(l: DataFrame, o: DataFrame): DataFrame =
      l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"))

    // the aggregation reuses the join's bucket partitioning too — the
    // WHOLE pipeline (join + groupBy on the same key) is shuffle-free
    val bkt = joined(spark.table("li_bkt"), spark.table("ord_bkt"))
    val plain = joined(li, ord)

    assert(shuffles(bkt) === 0,
      "bucketed join+agg must not exchange:\n" +
        bkt.queryExecution.executedPlan)
    assert(shuffles(plain) >= 2,
      "plain join should shuffle both sides (sanity check that the " +
        "workload genuinely requires co-location)")

    val a = bkt.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).sortBy(_._1)
    val b = plain.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b), "bucketed and plain results must match")

    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
  }
}
