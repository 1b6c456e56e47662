package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/** Per-query layer probe: where a catalog query's wall time goes.
  *
  *   java -cp ... graft.tools.Probe [--explain] [query ...]
  *     (default: the whole catalog)
  *   Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (default 2),
  *        SPARK_GRAFT_CPUS (default 32)
  *
  * `--explain` prints each query's `explain("formatted")` plan instead of
  * timing it: PushedFilters/ReadSchema on scans, WholeStageCodegen spans
  * and join strategies, the manual companion to PlanInvariantsSpec and
  * PlanSizeSpec.
  *
  * Per query it prints the best-of-reps `build_ms` (the query function
  * building its DataFrame, including any eager mirror builds or
  * Materialize counts), `plan_ms` (forcing `executedPlan`: analysis,
  * optimization, physical planning) and `exec_ms` (the no-op sink write).
  * The task columns — count, CPU seconds, longest task, shuffle-write
  * bytes — are summed over every job of the rep with the best `exec_ms`.
  * The driver-build columns of that rep are `compiles` (generated
  * classes Janino compiled, a cache miss each) and `jit_ms` (the JVM's
  * JIT compiler time, all compiler threads). Rep 1 pays codegen and
  * first-read costs, so use at least 2 reps.
  */
object Probe {

  final case class Layers(buildMs: Double, planMs: Double, execMs: Double,
                          tasks: Long, taskCpuS: Double, maxTaskMs: Long,
                          shuffleWriteBytes: Long, compiles: Long, jitMs: Long)

  val Header: String =
    f"${"query"}%-40s ${"build_ms"}%9s ${"plan_ms"}%9s ${"exec_ms"}%9s " +
      f"${"tasks"}%7s ${"cpu_s"}%8s ${"max_task_ms"}%11s ${"shuffle_w_bytes"}%15s " +
      f"${"compiles"}%8s ${"jit_ms"}%7s"

  /** One printed line per query, in [[Header]]'s column order. */
  def row(name: String, l: Layers): String =
    f"$name%-40s ${l.buildMs}%9.1f ${l.planMs}%9.1f ${l.execMs}%9.1f " +
      f"${l.tasks}%7d ${l.taskCpuS}%8.2f ${l.maxTaskMs}%11d ${l.shuffleWriteBytes}%15d " +
      f"${l.compiles}%8d ${l.jitMs}%7d"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val explain = args.headOption.contains("--explain")
    val named = args.toSeq.drop(if (explain) 1 else 0)
    val names = if (named.nonEmpty) named else SparkEntry.catalog.map(_._1)
    if (!explain) println(Header)
    names.foreach { n =>
      try println(if (explain) plan(spark, n, sfDir)
                  else row(n, measure(spark, n, sfDir, reps)))
      catch { case e: Throwable =>
        System.err.println(s"[probe] $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Catalog query `name`'s formatted physical plan on `sfDir`, under a
    * `===== name =====` banner. */
  def plan(spark: SparkSession, name: String, sfDir: String): String =
    try s"===== $name =====\n" + SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    finally spark.sqlContext.clearCache()

  /** Run catalog query `name` on `sfDir` `reps` times; best-of-reps
    * timings plus the task totals of the fastest-executing rep. */
  def measure(spark: SparkSession, name: String, sfDir: String,
              reps: Int): Layers = {
    val fn = SparkEntry.queries(name)
    val jit = ManagementFactory.getCompilationMXBean
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val totals = new TaskTotals(spark.sparkContext)
    spark.sparkContext.addSparkListener(totals)
    try {
      val runs = (1 to reps).map { _ =>
        totals.settle()
        try {
          val (c0, j0) = (compiles, jit.getTotalCompilationTime)
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          val t = totals.settle()
          Layers((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
            t.tasks, t.cpuNs / 1e9, t.maxTaskMs, t.shuffleWriteBytes,
            compiles - c0, jit.getTotalCompilationTime - j0)
        } finally spark.sqlContext.clearCache()
      }
      runs.minBy(_.execMs).copy(
        buildMs = runs.map(_.buildMs).min, planMs = runs.map(_.planMs).min)
    } finally spark.sparkContext.removeSparkListener(totals)
  }

  private final case class Totals(tasks: Long, cpuNs: Long, maxTaskMs: Long,
                                  shuffleWriteBytes: Long)

  /** Sums task metrics as the listener bus delivers them. Delivery is
    * asynchronous, so [[settle]] runs a one-task fence job and waits for
    * its job-start event: the bus is FIFO, so by then every task end
    * posted before the fence has been summed. Fence tasks are not counted.
    */
  private final class TaskTotals(sc: SparkContext) extends SparkListener {
    private val FenceKey = "graft.probe.fence"
    // written only on the listener-bus thread
    private var sum = Totals(0, 0, 0, 0)
    private val fenceStages = mutable.Set.empty[Int]
    private val fenced = new LinkedBlockingQueue[Totals]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(FenceKey) != null)) {
        fenceStages ++= e.stageIds
        fenced.put(sum)
        sum = Totals(0, 0, 0, 0)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && !fenceStages(e.stageId)) {
        val m = e.taskMetrics
        sum = Totals(sum.tasks + 1, sum.cpuNs + m.executorCpuTime,
          math.max(sum.maxTaskMs, e.taskInfo.duration),
          sum.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten)
      }

    /** Totals since the previous settle (or since registration). */
    def settle(): Totals = {
      sc.setLocalProperty(FenceKey, "1")
      try sc.parallelize(Seq(0), 1).foreach(_ => ())
      finally sc.setLocalProperty(FenceKey, null)
      Option(fenced.poll(1, TimeUnit.MINUTES)).getOrElse(
        throw new IllegalStateException("listener bus never delivered the fence job"))
    }
  }
}
