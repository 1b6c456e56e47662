package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{GraftSession, Tables}
import graft.fs.NioLocalFs
import graft.operators.StagedArtifacts
import graft.streaming.{StreamSessionize, StreamStart}

/** End-to-end Structured Streaming drive: replay the events table through
  * a file-source stream (micro-batched) into the session_window
  * aggregation, and check the streamed result matches the batch run.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = Tables.table(spark, sfDir, "events")
      .select("user_id", "ts", "value")

    // stage as a folder of parquet files the stream will pick up in batches
    val stageDir = StagedArtifacts.tempDir("stream_events_")
    NioLocalFs.writer(events.repartition(8)).mode("overwrite")
      .parquet(stageDir)

    val stream = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(stageDir)

    // the staged files replay in arbitrary time order, so use a watermark
    // wider than the full data span — otherwise whole files arrive "late"
    // behind the advancing watermark and are (correctly) dropped. A real
    // deployment reads roughly-ordered input and keeps a tight watermark.
    val query = StreamStart(StreamSessionize.sessionWindows(stream,
        gap = "30 minutes", watermark = "3650 days"))(
      _.format("memory").queryName("stream_sessions")
        .outputMode(OutputMode.Complete()))
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("stream_sessions")
      .agg(count(lit(1)), sum("n_events"), round(sum("total_value"), 2))
      .collect()(0)
    val batch = StreamSessionize.sessionWindows(events, gap = "30 minutes")
      .agg(count(lit(1)), sum("n_events"), round(sum("total_value"), 2))
      .collect()(0)
    println(s"streamed: $streamed")
    println(s"batch   : $batch")
    println(if (streamed == batch) "MATCH" else "MISMATCH")
    spark.stop()
    if (streamed != batch) sys.exit(1)
  }
}
