package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.fs.NioLocalFs

/** Streaming SINK side of the compaction story: an idempotent keyed
  * parquet upsert driven by `foreachBatch`.
  *
  * Structured Streaming gives foreachBatch an AT-LEAST-ONCE contract: after
  * a crash between the sink write and the checkpoint commit, the same
  * micro-batch is delivered again. Exactly-once EFFECT therefore has to
  * come from the sink, and upsert-by-key provides it: applying the same
  * batch twice converges to the same table (latest-wins by the order
  * columns is idempotent), which `StreamSinkSpec` asserts by literally
  * re-applying a batch.
  *
  * Mechanics per micro-batch: read the current table, union the batch,
  * keep each key's max (orderCols, payload) struct — the same
  * lexicographic struct-max as batch q128, no per-key window sort — write
  * to a scratch directory, then ATOMICALLY swap it in (HDFS/local rename;
  * the swap, not the write, is the commit point). At warehouse scale the
  * same foreachBatch body targets a table format with a real MERGE
  * (the read-union-rewrite here is the format-free equivalent, rewritten
  * per batch), while the idempotence argument is unchanged.
  */
object StreamSink {

  /** Apply one micro-batch as a keyed upsert into `path` (parquet).
    *
    * Swap protocol and its crash windows: the previous generation is
    * renamed to `.__old` BEFORE the new one is renamed in, so there is an
    * instant where the table path does not exist — a crash there leaves
    * `.__old` as the authoritative generation, and the read side below
    * RECOVERS from it (rename back, then proceed). Every rename is
    * checked: Hadoop's `rename` reports failure as `false`, not an
    * exception, and silently continuing after a failed rename is how a
    * sink corrupts a table.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, keyCol: String,
                 orderCols: Seq[String], path: String): Unit = {
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val cur = new Path(path)
    val old = new Path(path + ".__old")
    def renameOrThrow(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"sink swap rename failed: $from -> $to")
    // crash recovery: a previous applyBatch died between its two renames,
    // leaving only the retired generation — restore it as current
    if (!fs.exists(cur) && fs.exists(old)) renameOrThrow(old, cur)
    val existing =
      if (fs.exists(cur)) spark.read.parquet(path)
      else batch.limit(0)
    val all = existing.unionByName(batch)
    val ordered = struct(
      (orderCols.map(col) ++
        all.columns.filterNot(c => c == keyCol || orderCols.contains(c))
          .map(col)): _*)
    val compacted = all
      .groupBy(col(keyCol))
      .agg(max(ordered).as("__m"))
      .select(col(keyCol) +: (orderCols ++
        all.columns.filterNot(c => c == keyCol || orderCols.contains(c)))
        .map(c => col(s"__m.$c").as(c)): _*)
    val tmp = new Path(path + ".__tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    NioLocalFs.writer(compacted).mode("overwrite").parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true) // stale backup from a crash
    if (fs.exists(cur)) renameOrThrow(cur, old)
    renameOrThrow(tmp, cur) // commit; .__old is recoverable until here
    fs.delete(old, true)
  }

  /** Start the upsert stream; AvailableNow by default so file-replay tests
    * and backfills drain the source then stop.
    */
  def upsertParquet(stream: DataFrame, keyCol: String,
                    orderCols: Seq[String], path: String,
                    checkpoint: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamStart(stream)(_
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch.sparkSession, batch, keyCol, orderCols, path)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger))
}
