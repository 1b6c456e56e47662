package ncdbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.{Bench, SparkEntry}
import graft.operators.StagedArtifacts
import graft.streaming.StreamBench
import org.apache.spark.BenchBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** `catalog_stream`: each op is one pass over a fixed list of catalog
  * entries, each forced through the no-op sink as `graft.Bench` does, in
  * an order the seed permutes, followed by the two streaming twins (CDC
  * upsert, then sessionize), each an 8-micro-batch `AvailableNow` replay
  * with a fresh checkpoint.
  *
  * Set-up generates the tables ([[TableGen]]), collects every entry once
  * and compares its result hash, and the twins' row counts, with those
  * recorded in `catalog_hashes.tsv`, then runs the entries once more
  * through the no-op sink so the timed passes start warm. The twins' row
  * counts come from the benchmark's own [[TwinCounter]] and are compared
  * again after every pass.
  */
final class CatalogStream(ctx: Ctx) extends Workload {
  import CatalogStream._

  private lazy val tables = ctx.dir("tables").toString
  private val queries = SparkEntry.queries
  private val family: Map[String, String] =
    Bench.families.flatMap { case (f, names) => names.map(_ -> f) }.toMap
  private val twins: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] =
    StreamBench.jobs
  /** Entries whose warm-up result did not match the recorded hash. */
  private var hashErrors = Vector.empty[String]
  /** op index -> (entry -> ms), in run order. */
  private val times = mutable.Map.empty[Int, Seq[(String, Double)]]
  /** op index -> (twin -> its row counts in that pass). */
  private val counts = mutable.Map.empty[Int, Seq[(String, String)]]
  private val counter = new TwinCounter

  def setup(): Unit = {
    ctx.spark.streams.addListener(counter)
    TableGen.write(ctx.spark, tables)
    Main.log("tables written")
    val hashes = Entries.map { name =>
      val rows = queries(name)(ctx.spark, tables).collect()
      ctx.spark.sqlContext.clearCache()
      Main.log(s"warm-up $name")
      name -> s"${hash(rows)}\t${rows.length}"
    }
    val streamed = twins.map { case (name, job) =>
      counter.reset()
      job(ctx.spark, tables)
      Main.log(s"warm-up $name")
      name -> twinCounts()
    }
    // collect() leaves the no-op write path of the timed passes cold; without
    // this the first timed pass ran 5-20% slower than the second
    Entries.foreach(noop)
    Main.log("warm-up through the no-op sink")
    hashErrors = mismatches(hashes ++ streamed).toVector
  }

  /** Observed (name, value) pairs that differ from `catalog_hashes.tsv`.
    * When a change of results is intended, the file is edited by hand:
    * each message's `got` value is what follows the name and a tab.
    */
  private def mismatches(observed: Seq[(String, String)]): Seq[String] =
    observed.collect {
      case (name, got) if !recorded.get(name).contains(got) =>
        s"$name: recorded ${recorded.getOrElse(name, "nothing")}, got $got"
    }

  /** Force one entry through the no-op sink, then drop its persists. */
  private def noop(name: String): Unit =
    try queries(name)(ctx.spark, tables).write.format("noop").mode("overwrite").save()
    finally ctx.spark.sqlContext.clearCache()

  /** `input_rows` and `state_rows_final` of the micro-batches since the
    * counter's last reset, once the listener bus has delivered them.
    */
  private def twinCounts(): String = {
    BenchBridge.drainListenerBus(ctx.spark.sparkContext)
    counter.summary
  }

  def op(i: Int): Unit = {
    val order = new scala.util.Random(ctx.seed * 7919 + i).shuffle(Entries)
    val timed = order.map { name =>
      name -> timeMs(ctx.span(s"entry:$name")(noop(name)))
    }
    val streamed = twins.map { case (name, job) =>
      counter.reset()
      val ms = timeMs(ctx.span(s"stream:$name")(job(ctx.spark, tables)))
      (name -> ms, name -> twinCounts())
    }
    times(i) = timed ++ streamed.map(_._1)
    counts(i) = streamed.map(_._2)
  }

  /** The recorded hashes are compared once per run, in set-up; a mismatch
    * fails every pass. The twins' row counts are compared after each pass.
    */
  override def afterOp(i: Int): Option[String] =
    hashErrors.headOption.orElse(mismatches(counts(i)).headOption)

  /** `catalog_hashes.tsv`: entry -> hash and row count, twin -> counts. */
  private lazy val recorded: Map[String, String] =
    Files.readAllLines(ctx.benchDir.resolve(HashFile)).asScala
      .map(_.split("\t", 2)).map(a => a(0) -> a(1)).toMap

  def results(ops: Seq[OpRecord]): Seq[Metric] = {
    val ok = ops.filter(o => !o.traced && o.error.isEmpty).map(o => times(o.index))
    val batch = ok.map(_.filter(t => family.contains(t._1)).map(_._2).sum / 1000)
    val stream = ok.map(_.filterNot(t => family.contains(t._1)).map(_._2).sum / 1000)
    val streamRows = twins.map { case (name, _) =>
      "input_rows=(\\d+)".r.findFirstMatchIn(recorded(name))
        .map(_.group(1).toDouble).getOrElse(0.0)
    }.sum
    Seq(
      Metric("catalog_pass_s", Stats.median(batch), "s"),
      Metric("stream_twins_s", Stats.median(stream), "s"),
      Metric("stream_rows_per_s", streamRows / Stats.median(stream), "1/s"),
      Metric("catalog.mirror_build_s", StagedArtifacts.buildSeconds.values.sum, "s")
    ) ++ (Entries ++ twins.map(_._1)).map { name =>
      Metric(s"entry_ms[$name]", Stats.median(ok.flatMap(_.filter(_._1 == name).map(_._2))), "ms")
    }
  }

  def layers(tracer: Tracer, ops: Seq[OpRecord]): Seq[Metric] = {
    val passes = tracer.named("op")
    val n = passes.size.max(1)
    val entries = passes.flatMap(p => tracer.children(p.id))
    val batch = new Counters
    entries.filter(_.name.startsWith("entry:")).foreach(s => batch += tracer.subtree(s.id))
    val stream = new Counters
    entries.filter(_.name.startsWith("stream:")).foreach(s => stream += tracer.subtree(s.id))
    def familyS(f: String): Double = entries.filter(s =>
      s.name.startsWith("entry:") && family.get(s.name.stripPrefix("entry:")).contains(f))
      .map(s => (s.end - s.start) / 1e6).sum / n
    val progress = stream.batches.map(_.progress)
    def dur(k: String): Double = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / n
    val trigger = progress.map(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)).toSeq
    def stateRows(twin: String): Double = {
      val own = entries.filter(_.name == s"stream:$twin")
        .flatMap(s => tracer.subtree(s.id).batches.map(_.progress))
      own.lastOption.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal.toDouble).getOrElse(0.0)
    }
    val all = new Counters
    all += batch
    all += stream
    Seq(
      Metric("catalog.relational_s", familyS("relational"), "s"),
      Metric("catalog.text_s", familyS("text"), "s"),
      Metric("catalog.similarity_s", familyS("similarity"), "s"),
      Metric("catalog.training_s", familyS("training"), "s"),
      Metric("catalog.ingest_s", familyS("ingest"), "s"),
      Metric("catalog.plan_ms", batch.planMs / n, "ms"),
      Metric("catalog.jobs", batch.jobs.toDouble / n, "count"),
      Metric("catalog.tasks", batch.tasks.toDouble / n, "count"),
      Metric("catalog.task_cpu_s", batch.taskCpuNs / 1e9 / n, "s"),
      Metric("catalog.shuffle_write_bytes", batch.shuffleWriteBytes.toDouble / n, "bytes"),
      Metric("catalog.shuffle_fetch_wait_ms", batch.fetchWaitMs.toDouble / n, "ms"),
      Metric("catalog.spill_bytes", batch.spillBytes.toDouble / n, "bytes"),
      Metric("catalog.max_task_ms", batch.maxTaskMs.toDouble, "ms"),
      Metric("catalog.exchanges", batch.exchanges.toDouble / n, "count"),
      Metric("stream.state_commit_ms", progress.flatMap(_.stateOperators)
        .map(_.commitTimeMs.toDouble).sum / n, "ms"),
      Metric("stream.add_batch_ms", dur("addBatch"), "ms"),
      Metric("stream.wal_commit_ms", dur("walCommit"), "ms"),
      Metric("stream.plan_ms", dur("queryPlanning"), "ms"),
      Metric("stream.offset_ms", dur("latestOffset") + dur("commitOffsets"), "ms"),
      Metric("stream.batch_p50_ms", if (trigger.isEmpty) 0.0 else Stats.median(trigger), "ms"),
      Metric("stream.batches", trigger.size.toDouble / n, "count"),
      Metric("stream.cdc_state_rows_final", stateRows(twins.head._1), "count"),
      Metric("stream.session_state_rows_final", stateRows(twins(1)._1), "count"),
      Metric("spark.scheduler_delay_ms", all.schedulerDelayMs.toDouble / n, "ms"))
  }
}

/** Input rows and the last state-store row count of the micro-batches
  * run since [[reset]], one progress event per micro-batch. Registered for
  * the whole run, so every pass's twins are checked on their own counts.
  */
final class TwinCounter extends StreamingQueryListener {
  private var inputRows = 0L
  private var stateRows = -1L

  def reset(): Unit = synchronized { inputRows = 0L; stateRows = -1L }

  def summary: String = synchronized {
    s"input_rows=$inputRows\tstate_rows_final=${if (stateRows < 0) "none" else stateRows.toString}"
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      inputRows += e.progress.numInputRows
      e.progress.stateOperators.headOption.foreach(op => stateRows = op.numRowsTotal)
    }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object CatalogStream {
  /** Recorded result hashes and stream counts, in the benchmark directory. */
  val HashFile = "catalog_hashes.tsv"

  /** Entries of the relational, text, similarity and ingest families,
    * chosen among the roadmap's targets: the three global windows (q27,
    * q195, q344). A pass must fit in one run together with its cold
    * warm-up, which keeps the list short.
    */
  val Entries: Seq[String] = Seq(
    "q02_agg_pricing_summary", "q27_window_frames", "q184_ingest_fixture_roundtrip",
    "q195_curriculum_stages", "q305_maxsim_late_interaction", "q344_quality_auc")

  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  /** Order-insensitive hash of a result: each row rendered with floating
    * values at 6 significant digits (so summation order cannot flip it),
    * rows sorted, SHA-256 of the lines.
    */
  def hash(rows: Seq[Row]): String = {
    def render(v: Any): String = v match {
      case null => "∅"
      case d: Double => f"$d%.5e"
      case f: Float => f"${f.toDouble}%.5e"
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
          .mkString("{", ",", "}")
      case a: Array[_] => a.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { line =>
      md.update(line.getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
