package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.SpecFiles.tempPath
import graft.{Tables, TestSpark}

/** The exactly-once-EFFECT contract of the foreachBatch upsert sink:
  * (1) a multi-batch file replay lands on the batch q128 compaction,
  * (2) re-applying an already-applied batch changes nothing (the
  *     at-least-once redelivery case), and
  * (3) a later batch supersedes earlier rows per key.
  */
class StreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def eventsDf = Tables.table(spark, sf, "events")
    .select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), col("event_type"), col("value"))

  test("file-replay upsert == q128 batch compaction; replays are no-ops") {
    failAfter(Span(300, Seconds)) {
      val src = tempPath("sink_src_").toString
      val ckpt = tempPath("sink_ckpt_").toString
      val table = tempPath("sink_tbl_").toString + "/t"
      eventsDf.repartition(3).write.mode("overwrite").parquet(src)
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1) // state crosses micro-batches
        .parquet(src)
      val q = StreamSink.upsertParquet(stream, "user_id",
        Seq("us", "event_id"), table, ckpt)
      try q.awaitTermination() finally q.stop()

      def snapshot() = spark.read.parquet(table)
        .select("user_id", "event_id", "us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val streamed = snapshot()
      val batch = graft.SparkEntry.queries("q128_latest_per_key")(spark, sf)
        .select(col("user_id"), col("latest_event_id"), col("latest_ts_us"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)

      // at-least-once redelivery: re-apply the WHOLE input as one batch —
      // the table must not change
      StreamSink.applyBatch(spark, eventsDf, "user_id",
        Seq("us", "event_id"), table)
      assert(snapshot() === batch)

      // a genuinely newer row per key must supersede
      import spark.implicits._
      val uid = streamed.head._1
      val newer = Seq((uid, 999999L, Long.MaxValue / 2, "upsert", 1.0))
        .toDF("user_id", "event_id", "us", "event_type", "value")
      StreamSink.applyBatch(spark, newer, "user_id",
        Seq("us", "event_id"), table)
      val after = snapshot()
      assert(after.contains((uid, 999999L, Long.MaxValue / 2)))
      assert(after.size === batch.size) // upsert, not append
    }
  }

  test("recovers the table from a crash between the two swap renames") {
    failAfter(Span(300, Seconds)) {
      import spark.implicits._
      val table = tempPath("sink_crash_").toString + "/t"
      def row(uid: Long, eid: Long, us: Long) =
        (uid, eid, us, "t", 1.0)
      def apply(rows: (Long, Long, Long, String, Double)*): Unit =
        StreamSink.applyBatch(spark,
          rows.toDF("user_id", "event_id", "us", "event_type", "value"),
          "user_id", Seq("us", "event_id"), table)
      apply(row(1L, 10L, 100L), row(2L, 20L, 200L))
      // simulate the crash window: the old generation was renamed away
      // but the new one never arrived — the table path does not exist
      val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(new org.apache.hadoop.fs.Path(table),
        new org.apache.hadoop.fs.Path(table + ".__old")))
      // next batch must restore the retired generation, not restart from
      // empty — user 1's row survives, user 2's is upserted
      apply(row(2L, 21L, 300L))
      val got = spark.read.parquet(table)
        .select("user_id", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 10L), (2L, 21L)))
    }
  }
}
