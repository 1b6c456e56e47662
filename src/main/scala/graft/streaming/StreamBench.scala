package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.fs.NioLocalFs

/** Streaming bench family (round-9 verdict #8 / round-10 #9): the two
  * heaviest stateful twins — CDC upsert and sessionize — timed at the
  * bench SF so a STATE-STORE regression (encoder change, state blow-up,
  * per-batch recompute) is a recorded number in bench_full_*, not just
  * a pass/fail parity gate at test scale.
  *
  * What is timed: the streaming EXECUTION only — file-replay source
  * (8 micro-batches via maxFilesPerTrigger=1), mapGroupsWithState /
  * flatMapGroupsWithState fold, noop sink, Trigger.AvailableNow to
  * termination, fresh checkpoint per run (a reused checkpoint would
  * no-op the second pass). The replay parquet is prepared ONCE per
  * (sfDir, jvm) outside the timed region — feed construction is batch
  * work the batch families already measure.
  *
  * Both twins start through [[StreamStart]]. Their fixed cost per
  * micro-batch is checkpoint I/O, not state work: with Hadoop's local
  * file system and no libhadoop, each checkpoint file cost a `chmod` and
  * each rename a few `readlink` child processes, about 115 per batch,
  * and that wait dominated `state_commit_ms`. [[graft.fs.NioLocalFs]]
  * does both through java.nio.
  */
object StreamBench {

  /** Bench entries: (name, job). Names use the qs-prefix so they sort
    * after the batch catalog and can't collide with QueryDef names.
    */
  def jobs: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "qs01_stream_cdc_upsert" -> (runCdcUpsert(_, _)),
    "qs02_stream_sessionize" -> (runSessionize(_, _)))

  private val prepared = new ConcurrentHashMap[String, String]()

  /** The q79-shape change feed: three snapshot generations of orders
    * diffed into two tagged delta generations, shuffled round-robin into
    * 8 replay files so superseding events arrive out of order within and
    * across micro-batches — the compaction has real last-wins work.
    */
  private def cdcFeedDir(spark: SparkSession, sfDir: String): String =
    prepared.computeIfAbsent(s"cdc|$sfDir", _ => {
      import graft.operators.SnapshotDiff
      val out = graft.operators.StagedArtifacts.tempDir("graft-sbench-cdc-")
      val base = Tables.table(spark, sfDir, "orders")
        .select(col("o_orderkey").as("key"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
      val old = base.filter(col("key") % 3 =!= 0)
        .withColumn("price",
          when(col("key") % 5 === 0, col("price") + 1.0)
            .otherwise(col("price")))
      val mid = base.filter(col("key") % 7 =!= 0)
      val cur = base.filter(col("key") % 11 =!= 0)
      def sparse(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame) =
        SnapshotDiff.diff(a, b, Seq("key"))
          .filter(col("change_type") =!= "unchanged")
      NioLocalFs.writer(sparse(old, mid).withColumn("seq", lit(1L))
        .unionByName(sparse(mid, cur).withColumn("seq", lit(2L)))
        .select("key", "status", "price", "change_type", "seq")
        .repartition(8)).mode("overwrite").parquet(out)
      out
    })

  private def sessionFeedDir(spark: SparkSession, sfDir: String): String =
    prepared.computeIfAbsent(s"sess|$sfDir", _ => {
      val out = graft.operators.StagedArtifacts.tempDir("graft-sbench-sess-")
      NioLocalFs.writer(Tables.table(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("value"))
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .repartition(8)).mode("overwrite").parquet(out)
      out
    })

  private def runToEnd(name: String,
                       q: org.apache.spark.sql.streaming.StreamingQuery)
      : Unit =
    try {
      q.awaitTermination()
      StreamMetrics.record(name, q)
    } finally q.stop()

  def runCdcUpsert(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import StreamSessionize.CdcEvent
    val dir = cdcFeedDir(spark, sfDir)
    val ckpt =
      graft.operators.StagedArtifacts.tempDir("graft-sbench-cdc-ck-")
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .as[CdcEvent]
    runToEnd("qs01_stream_cdc_upsert",
      StreamStart(StreamSessionize.cdcUpsertStream(stream))(
        _.format("noop").outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())))
  }

  def runSessionize(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import StreamSessionize.Event
    val dir = sessionFeedDir(spark, sfDir)
    val ckpt =
      graft.operators.StagedArtifacts.tempDir("graft-sbench-sess-ck-")
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .as[Event]
    runToEnd("qs02_stream_sessionize",
      StreamStart(StreamSessionize.statefulSessionize(stream))(
        _.format("noop").outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())))
  }
}
