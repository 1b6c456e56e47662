package ncdbench

import java.io.PrintWriter
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds; `parent` 0 = root. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      start: Long, end: Long)

/** Work the listeners saw on behalf of one benchmark span (its own jobs
  * only; a parent's totals are the sum over its subtree).
  */
final class Counters {
  var jobs = 0L
  var jobMs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var maxTaskMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var planMs = 0.0
  var exchanges = 0L
  var filesRead = 0L
  var rowsWritten = 0L
  /** Query-execution wall time by kind (json_write, mirror_write, ddl, ...). */
  val qeMs: scala.collection.mutable.Map[String, Double] =
    scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Job wall time by the job's call site. */
  val callSiteMs: scala.collection.mutable.Map[String, Long] =
    scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Streaming progress of micro-batches run under this span. */
  val batches: scala.collection.mutable.Buffer[StreamingQueryListener.QueryProgressEvent] =
    scala.collection.mutable.Buffer.empty

  def +=(o: Counters): Unit = {
    jobs += o.jobs; jobMs += o.jobMs; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    schedulerDelayMs += o.schedulerDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; bytesRead += o.bytesRead
    planMs += o.planMs; exchanges += o.exchanges
    filesRead += o.filesRead; rowsWritten += o.rowsWritten
    o.qeMs.foreach { case (k, v) => qeMs(k) += v }
    o.callSiteMs.foreach { case (k, v) => callSiteMs(k) += v }
    batches ++= o.batches
  }
}

/** Spans and per-span counters for a traced run.
  *
  * The benchmark opens a span around each call into a layer. The span id
  * is set as the Spark local property [[SpanProperty]], which every job
  * (and, through inherited local properties, every streaming micro-batch)
  * carries, so job and stage spans know their parent. Query-execution and
  * streaming-progress events carry no properties; they are credited to the
  * innermost open span, which is exact because [[span]] drains the
  * listener bus before it closes.
  *
  * Spans stay in memory and are written to one file by [[writeSpans]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val parentOf = new ConcurrentHashMap[Long, Long]()
  @volatile private var current = 0L
  @volatile private var traceId = 0L

  private final case class JobInfo(span: Long, parent: Long, start: Long,
                                   callSite: String)
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private def countersOf(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  /** Run `body` inside a new span named `name`, a child of the innermost
    * open span. A span with no open parent starts a new trace.
    */
  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    if (parent == 0) traceId = id
    parentOf.put(id, parent)
    val start = nowMicros()
    current = id
    sc.setLocalProperty(SpanProperty, id.toString)
    try body
    finally {
      BenchBridge.drainListenerBus(sc)
      spans.add(Span(id, parent, traceId, name, start, nowMicros()))
      current = parent
      sc.setLocalProperty(SpanProperty, if (parent == 0) null else parent.toString)
    }
  }

  /** Counters of `span` and all its descendants. */
  def subtree(span: Long): Counters = {
    val total = new Counters
    val kids = parentOf.asScala.groupBy(_._2).map { case (p, m) => p -> m.keys }
    def walk(s: Long): Unit = {
      Option(counters.get(s)).foreach(total += _)
      kids.getOrElse(s, Nil).foreach(walk)
    }
    walk(span)
    total
  }

  /** Spans named `name`, in the order they closed. */
  def named(name: String): Seq[Span] =
    spans.asScala.filter(_.name == name).toSeq

  def children(span: Long): Seq[Span] =
    spans.asScala.filter(_.parent == span).toSeq

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toLong).getOrElse(0L)
      if (parent != 0) {
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
        jobs.put(e.jobId,
          JobInfo(ids.incrementAndGet(), parent, e.time * 1000, site))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        val end = e.time * 1000
        spans.add(Span(j.span, j.parent, traceOf(j.parent),
          s"job:${j.callSite}", j.start, end))
        val c = countersOf(j.parent)
        c.synchronized {
          c.jobs += 1
          c.jobMs += (end - j.start) / 1000
          c.callSiteMs(j.callSite) += (end - j.start) / 1000
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      for {
        jobId <- Option(stageJob.get(info.stageId))
        j <- Option(jobs.get(jobId))
        start <- info.submissionTime
        end <- info.completionTime
      } spans.add(Span(ids.incrementAndGet(), j.span, traceOf(j.parent),
        s"stage:${info.name}", start * 1000, end * 1000))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        jobId <- Option(stageJob.get(e.stageId))
        j <- Option(jobs.get(jobId))
        m <- Option(e.taskMetrics)
      } {
        val info = e.taskInfo
        val c = countersOf(j.parent)
        c.synchronized {
          c.tasks += 1
          c.taskCpuNs += m.executorCpuTime
          c.maxTaskMs = math.max(c.maxTaskMs, info.duration)
          c.schedulerDelayMs += math.max(0L, info.duration -
            m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesRead += m.inputMetrics.bytesRead
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val s = current
      if (s == 0) return
      val kind = kindOf(qe)
      val end = nowMicros()
      spans.add(Span(ids.incrementAndGet(), s, traceOf(s), s"qe:$kind",
        end - durationNs / 1000, end))
      val plan = qe.executedPlan
      val phases = qe.tracker.phases.values.map(_.durationMs).sum
      val c = countersOf(s)
      c.synchronized {
        c.planMs += phases
        c.exchanges += exchangesIn(plan)
        c.filesRead += metricSum(plan, "numFiles")
        c.rowsWritten += metricSum(plan, "numOutputRows", writesOnly = true)
        c.qeMs(kind) += durationNs / 1e6
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val s = current
      if (s != 0) {
        val c = countersOf(s)
        c.synchronized(c.batches += e)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def traceOf(span: Long): Long = {
    var s = span
    var p = parentOf.getOrDefault(s, 0L)
    while (p != 0) { s = p; p = parentOf.getOrDefault(s, 0L) }
    s
  }

  /** Register all three listeners. */
  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Unregister them (the tracing-overhead comparison runs ops without). */
  def stop(): Unit = {
    BenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Write every span as one JSON object per line. */
  def writeSpans(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val out = new PrintWriter(Files.newBufferedWriter(path))
    try spans.asScala.toSeq.sortBy(s => (s.start, s.id)).foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":${Json.str(s.name)},"start_us":${s.start},"end_us":${s.end}}""")
    } finally out.close()
  }
}

object Tracer {
  val SpanProperty = "ncdbench.span"

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Shuffle and broadcast exchanges actually run (reused ones excluded),
    * looking through adaptive query stages and subqueries.
    */
  def exchangesIn(plan: SparkPlan): Int =
    Plans.collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size

  private def metricSum(plan: SparkPlan, metric: String,
                        writesOnly: Boolean = false): Long =
    Plans.collectWithSubqueries(plan) {
      case p if (!writesOnly || p.nodeName.contains("Writ") ||
          p.nodeName.contains("Command")) && p.metrics.contains(metric) =>
        p.metrics(metric).value
    }.sum

  /** What a query execution did, from its plan: the ingest's JSON and
    * parquet writes, its DDL, or a plain query.
    */
  def kindOf(qe: QueryExecution): String = {
    val plan = qe.executedPlan.toString
    if (plan.contains("InsertIntoHadoopFsRelationCommand")) {
      if (plan.contains("JSON")) "json_write"
      else if (plan.contains("Parquet")) "parquet_write"
      else if (plan.contains("CSV")) "csv_write"
      else "write"
    } else if (plan.contains("RepairTable") || plan.contains("CreateDataSourceTable") ||
      plan.contains("CreateNamespace") || plan.contains("CreateDatabase")) "ddl"
    else "query"
  }
}
