package graft.query

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.TestSpark
import graft.plans.SortInOnePartition

class QueryClientSpec extends AnyFunSuite with Eventually
    with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def csvLines(location: String): Vector[String] = {
    val csv = new java.io.File(location).listFiles()
      .filter(_.getName.endsWith(".csv")).head
    val src = Source.fromFile(csv)
    try src.getLines().toVector finally src.close()
  }

  /** Run `executeQuery(sqlText)` and return its CSV lines and the
    * partitionings of every shuffle exchange in the write's executed plan.
    */
  private def executeTraced(client: QueryClient, sqlText: String)
      : (Vector[String], Seq[Partitioning]) = {
    val exchanges = new ConcurrentLinkedQueue[Seq[Partitioning]]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
                    durationNs: Long): Unit =
        if (qe.analyzed.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand]))
          exchanges.add(collect(qe.executedPlan) {
            case e: ShuffleExchangeExec => e.outputPartitioning
          })
      def onFailure(funcName: String, qe: QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val location = client.executeQuery(sqlText)
      eventually(timeout(Span(30, Seconds))) { assert(exchanges.size === 1) }
      (csvLines(location), exchanges.asScala.head)
    } finally spark.listenerManager.unregister(listener)
  }

  test("executeQuery materializes CSV results at a location") {
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "a")).toDF("k", "v")
      .createOrReplaceTempView("qc_demo")
    val client = new QueryClient(spark,
      Files.createTempDirectory("qc_results_").toString)
    val location = client.executeQuery(
      "SELECT v, count(*) AS n FROM qc_demo GROUP BY v ORDER BY v")
    val csv = new java.io.File(location).listFiles()
      .filter(_.getName.endsWith(".csv")).head
    val lines = Source.fromFile(csv).getLines().toVector
    assert(lines === Vector("v,n", "a,2", "b,1"))
  }

  test("readResults round-trips rows through the CSV location (incl. boolean)") {
    import spark.implicits._
    // the reference parses the downloaded CSV back to rows, restoring
    // redacted_* flags as booleans (ncd/athena.py:119-138,
    // ncd/global_file.py:69-72) — this is that half of the contract
    Seq((1L, "a", true), (2L, "b", false), (3L, "c", true))
      .toDF("caseid", "v", "redacted_v")
      .createOrReplaceTempView("qc_bool_demo")
    val client = new QueryClient(spark,
      Files.createTempDirectory("qc_results_").toString)
    val location = client.executeQuery(
      "SELECT caseid, v, redacted_v FROM qc_bool_demo ORDER BY caseid")
    val back = client.readResults(location)
      .as[(Long, String, Boolean)].collect().toSeq.sortBy(_._1)
    assert(back === Seq((1L, "a", true), (2L, "b", false), (3L, "c", true)))
    // explicit-schema variant: exact typing, no inference
    val typed = client.readResults(location,
      org.apache.spark.sql.types.StructType.fromDDL(
        "caseid BIGINT, v STRING, redacted_v BOOLEAN"))
    assert(typed.schema.map(_.dataType.sql) ===
      Seq("BIGINT", "STRING", "BOOLEAN"))
    assert(typed.count() === 3)
  }

  test("bad SQL raises (after cancelling the job group) instead of hanging") {
    val client = new QueryClient(spark,
      Files.createTempDirectory("qc_results_").toString)
    intercept[Exception](client.executeQuery("SELECT * FROM no_such_table"))
  }

  test("ORDER BY sorts inside the one result partition: the CSV is the " +
      "range-sorted one row for row, and no range exchange is planned") {
    import spark.implicits._
    (0 until 3000).map(i => (i, s"v${i % 41}", (i * 7919) % 1000))
      .toDF("id", "v", "x").repartition(8)
      .createOrReplaceTempView("qc_sorted")
    val client = new QueryClient(spark,
      Files.createTempDirectory("qc_results_").toString)
    val excluded = "spark.sql.optimizer.excludedRules"
    Seq(
      // aggregate under the sort
      "SELECT v, count(*) AS n, sum(x) AS s FROM qc_sorted GROUP BY v " +
        "ORDER BY s DESC, v",
      // a project over the sort: the sort key is not selected
      "SELECT id, v FROM qc_sorted ORDER BY x, id DESC").foreach { q =>
      val (lines, exchanges) = executeTraced(client, q)
      spark.conf.set(excluded, SortInOnePartition.ruleName)
      val (rangeLines, rangeExchanges) =
        try executeTraced(client, q) finally spark.conf.unset(excluded)
      // the witness: without the rule the write range-partitions
      assert(rangeExchanges.exists(_.isInstanceOf[RangePartitioning]))
      assert(lines.size > 40)
      assert(lines === rangeLines)
      assert(exchanges.nonEmpty)
      assert(!exchanges.exists(_.isInstanceOf[RangePartitioning]))
    }
  }
}
