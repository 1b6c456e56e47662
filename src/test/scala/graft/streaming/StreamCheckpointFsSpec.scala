package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.SpecFiles.tempPath
import graft.TestSpark
import graft.fs.NioLocalFs
import graft.operators.SnapshotDiff
import graft.streaming.StreamSessionize._

/** A streaming checkpoint is the same on disk whether its FileContext is
  * Hadoop's `LocalFs` or [[graft.fs.NioLocalFs]], and a query resumes from
  * a checkpoint the other binding wrote.
  */
class StreamCheckpointFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Hadoop = classOf[LocalFs].getName
  private val Nio = classOf[NioLocalFs].getName
  private val keys = Seq("key")

  /** Start a query with the checkpoint's FileContext bound to `impl`. */
  private def startUnder(impl: String)(start: => StreamingQuery)
      : StreamingQuery = {
    val key = NioLocalFs.ImplKey
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, impl)
    try start finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // the q79-shape change feed of the stream twin, over 1500 generated
  // orders: three snapshot generations diffed into two tagged delta
  // generations
  private lazy val (old, cur, d1, d2) = {
    val base = spark.range(1, 1501).select(col("id").as("key"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (col("id") % 3 + 1).cast("int")).as("status"),
      (col("id") * 1.5).as("price"))
    val old = base.filter(col("key") % 3 =!= 0)
      .withColumn("price",
        when(col("key") % 5 === 0, col("price") + 1.0)
          .otherwise(col("price")))
    val mid = base.filter(col("key") % 7 =!= 0)
    val cur = base.filter(col("key") % 11 =!= 0)
    def sparse(a: DataFrame, b: DataFrame) =
      SnapshotDiff.diff(a, b, keys).filter(col("change_type") =!= "unchanged")
    (old, cur, sparse(old, mid), sparse(mid, cur))
  }

  private def feed(d: DataFrame, seq: Long) =
    d.withColumn("seq", lit(seq))
      .select("key", "status", "price", "change_type", "seq")

  private def replay(dir: String) = {
    import spark.implicits._
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .as[CdcEvent]
  }

  private val uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every entry under `root`: its relative name with UUIDs masked, and
    * its full `unix:mode` (type, special and permission bits). */
  private def layout(root: String): Seq[(String, Int)] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_ != base).map { p =>
      uuid.replaceAllIn(base.relativize(p).toString, "<uuid>") ->
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    }.toSeq.sorted
    finally walk.close()
  }

  test("a cdcUpsertStream checkpoint has the same entries, modes and " +
      ".crc files under LocalFs and NioLocalFs") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("ckfs_layout_replay_").toString
      feed(d1, 1L).unionByName(feed(d2, 2L))
        .repartition(3).write.mode("overwrite").parquet(dir)
      def run(impl: String): Seq[(String, Int)] = {
        val ckpt = tempPath("ckfs_layout_ckpt_").toString
        val q = startUnder(impl)(cdcUpsertStream(replay(dir))
          .writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start())
        try q.awaitTermination() finally q.stop()
        layout(ckpt)
      }
      val hadoop = run(Hadoop)
      assert(run(Nio) === hadoop)
      assert(hadoop.exists(_._1.startsWith("state/")))
      assert(hadoop.count(_._1.endsWith(".crc")) >= 10)
    }
  }

  for (impls <- Seq(Seq(Hadoop, Nio, Hadoop), Seq(Nio, Hadoop, Nio)))
    test("a cdcUpsertStream checkpoint resumes across bindings " +
        impls.map(_.split('.').last).mkString("(", " -> ", ")") +
        " and ends on the batch applyDelta fingerprint") {
      failAfter(Span(300, Seconds)) {
        import spark.implicits._
        // wave 0 ships every gen-2 event first, so the answer for every
        // superseded key depends on state written under one binding and
        // read under the other
        val waves = Seq(
          feed(d2, 2L),
          feed(d1.filter(col("key") % 2 === 1), 1L),
          feed(d1.filter(col("key") % 2 === 0), 1L))
        val dir = tempPath("ckfs_resume_replay_").toString
        val ckpt = tempPath("ckfs_resume_ckpt_").toString
        // a batch replayed after a restart overwrites its own slot
        val collected =
          scala.collection.mutable.Map.empty[Long, Seq[CdcView]]
        val sink: (org.apache.spark.sql.Dataset[CdcView], Long) => Unit =
          (df, batchId) => {
            val rows = df.collect().toSeq
            collected.synchronized { collected(batchId) = rows }
          }
        for ((wave, impl) <- waves.zip(impls)) {
          wave.coalesce(1).write.mode("append").parquet(dir)
          val q = startUnder(impl)(cdcUpsertStream(replay(dir))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .foreachBatch(sink)
            .start())
          try q.awaitTermination() finally q.stop()
        }
        val views = collected.synchronized(collected.values.flatten.toSeq)
        val finalView = spark.createDataset(
          views.groupBy(_.key).map { case (_, vs) => vs.maxBy(_.n_events) }
            .toSeq).toDF()
        val rebuilt = old
          .join(finalView.select("key"), keys, "left_anti")
          .unionByName(finalView.filter(!col("removed"))
            .select("key", "status", "price"))
        def fp(df: DataFrame) =
          SnapshotDiff.fingerprint(df.select("key", "status", "price"))
            .collect().head
        val s = fp(rebuilt)
        assert(s === fp(SnapshotDiff.applyDelta(
          SnapshotDiff.applyDelta(old, d1, keys), d2, keys)))
        assert(s === fp(cur))
        assert(s.getLong(0) > 0)
      }
    }
}
