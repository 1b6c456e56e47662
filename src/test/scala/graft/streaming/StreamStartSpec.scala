package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fs.NioLocalFs

/** [[StreamStart]] binds the started query's checkpoint to
  * [[graft.fs.NioLocalFs]] and leaves the caller's session conf as it
  * found it; every stream in `src/main/scala` is started through it.
  */
class StreamStartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Key = NioLocalFs.ImplKey
  private val priors = Seq(None, Some(classOf[LocalFs].getName))

  /** Run `body` with the caller's binding set to `prior`, then check it
    * is still `prior`. */
  private def withPrior(prior: Option[String])(body: => Unit): Unit = {
    val saved = spark.conf.getOption(Key)
    prior.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    try {
      body
      assert(spark.conf.getOption(Key) === prior)
    } finally saved.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  /** The session the query cloned at creation and runs its batches in. */
  private def querySession(q: StreamingQuery): SparkSession = {
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    exec.getClass.getMethod("sparkSessionForStream").invoke(exec)
      .asInstanceOf[SparkSession]
  }

  /** A table directory holding the `orders` columns the CDC twin reads. */
  private lazy val tables = {
    val dir = Files.createTempDirectory("sstart_tables_").toString
    spark.range(1, 1501).selectExpr("id AS o_orderkey",
      "element_at(array('F', 'O', 'P'), CAST(id % 3 + 1 AS INT)) AS o_orderstatus",
      "id * 1.5 AS o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  private lazy val upsertSource = {
    val dir = Files.createTempDirectory("sstart_src_").toString
    spark.range(200).selectExpr("id % 20 AS k", "id AS v")
      .repartition(2).write.mode("overwrite").parquet(dir)
    dir
  }

  private def upsert(): StreamingQuery = {
    val stream = spark.readStream
      .schema(spark.read.parquet(upsertSource).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(upsertSource)
    val out = Files.createTempDirectory("sstart_tbl_").toString + "/t"
    val ckpt = Files.createTempDirectory("sstart_ckpt_").toString
    StreamSink.upsertParquet(stream, "k", Seq("v"), out, ckpt)
  }

  test("StreamBench.runCdcUpsert leaves the caller's binding as it was") {
    for (prior <- priors) withPrior(prior)(StreamBench.runCdcUpsert(spark, tables))
  }

  test("StreamSink.upsertParquet leaves the caller's binding as it was, " +
      "and its query keeps NioLocalFs and has created its sources") {
    for (prior <- priors) withPrior(prior) {
      val q = upsert()
      try {
        assert(querySession(q).conf.get(Key) === classOf[NioLocalFs].getName)
        // the file source, and its metadata log, were created under the
        // binding: before StreamStart restored the caller's value
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        assert(exec.getClass.getMethod("sources").invoke(exec)
          .asInstanceOf[Seq[_]].nonEmpty)
        q.awaitTermination()
      } finally q.stop()
    }
  }

  test("concurrent starts on one session restore the caller's binding") {
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try withPrior(None) {
      upsertSource
      // staggered by less than a start takes, so each later thread reads
      // the binding an earlier one set and, unserialized, restores it last
      val runs = Future.sequence((0 until 4).map(i => Future {
        Thread.sleep(25L * i)
        val q = upsert()
        try q.awaitTermination() finally q.stop()
      }))
      Await.result(runs, 5.minutes)
    } finally pool.shutdown()
  }

  test("no stream is started in src/main/scala outside StreamStart") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val offenders =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val found = offenders.filter { (p: Path) =>
      p.getFileName.toString != "StreamStart.scala" &&
        Files.readString(p).contains("writeStream")
    }
    assert(found.isEmpty,
      s"start streams through graft.streaming.StreamStart: ${found.mkString(", ")}")
  }
}
