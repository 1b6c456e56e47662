package ncdbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one closed-loop client.
  *
  * {{{
  * Main --workload <ncd_ingest_sql|catalog_stream> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <dir> --bench <dir>
  * }}}
  *
  * Builds one `local[4]` session (shuffle partitions 4), runs the
  * workload's set-up, then runs ops back to back until `--seconds` have
  * passed (at least one op). With `--trace 1` ops alternate between
  * untraced and traced, so the run also measures the tracing overhead.
  * Set-up and op wall times are also reported net of hypervisor steal
  * ([[Stats.netOfSteal]]), which is what `setup_s` and `op_ms` gate.
  * Prints every metric as `metric <name> <value> <unit>` and writes
  * `metrics.json` (and, traced, `spans.jsonl`) to `--out`.
  */
object Main {

  /** Fixed, so results and timings compare across machines. */
  val Cores = 4

  private val born = System.nanoTime()

  /** Progress on standard error, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[ncdbench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("--work")))
    val out = Files.createDirectories(Paths.get(opt("--out")))
    val bench = Paths.get(opt("--bench"))

    val t0 = System.nanoTime()
    val ticks0 = cpuTicks()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    log(f"session up in $sessionS%.2f s")
    val ctx = new Ctx(spark, work, bench, seed)
    val code =
      try {
        val w: Workload = workload match {
          case "ncd_ingest_sql" => new NcdIngestSql(ctx)
          case "catalog_stream" => new CatalogStream(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        run(ctx, w, workload, seconds, trace, t0, ticks0, sessionS, out)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally {
        log("stopping session")
        spark.stop()
      }
    log("exit")
    System.exit(code)
  }

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("ncdbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** The machine's (busy, steal) CPU ticks so far, from the first line of
    * `/proc/stat`: user nice system idle iowait irq softirq steal ...
    */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  /** Wall seconds since `t0` less what was stolen since `ticks0`, and the
    * stolen share.
    */
  private def netSince(t0: Long, ticks0: (Long, Long)): (Double, Double) = {
    val wall = (System.nanoTime() - t0) / 1e9
    val (busy, steal) = cpuTicks()
    val (db, ds) = (busy - ticks0._1, steal - ticks0._2)
    (Stats.netOfSteal(wall, db, ds), if (db + ds > 0) ds.toDouble / (db + ds) else 0.0)
  }

  /** Peak resident set of this process, from `/proc/self/status`. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)

  private def run(ctx: Ctx, w: Workload, name: String, seconds: Double,
                  trace: Boolean, setupStart: Long, setupTicks: (Long, Long),
                  sessionS: Double, out: Path): Unit = {
    w.setup()
    val setupWallS = (System.nanoTime() - setupStart) / 1e9
    val (setupS, setupSteal) = netSince(setupStart, setupTicks)
    log(f"set-up done: $setupS%.2f s net of ${setupSteal * 100}%.1f%% steal")

    val tracer = if (trace) Some(new Tracer(ctx.spark)) else None
    val ops = mutable.Buffer.empty[OpRecord]
    val gc0 = gcMs()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def more =
      if (trace) elapsed < seconds || !ops.exists(_.traced) || !ops.exists(!_.traced)
      else elapsed < seconds || ops.isEmpty
    var i = 0
    while (more) {
      val traced = trace && i % 2 == 1
      if (traced) tracer.foreach { t => t.start(); ctx.tracer = Some(t) }
      val t = System.nanoTime()
      val ticks = cpuTicks()
      val cpu = os.getProcessCpuTime
      val error =
        try {
          ctx.span("op")(w.op(i))
          None
        } catch { case e: Throwable => Some(s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t) / 1e6
      val netMs = netSince(t, ticks)._1 * 1000
      val cpuS = (os.getProcessCpuTime - cpu) / 1e9
      if (traced) tracer.foreach { t => ctx.tracer = None; t.stop() }
      val checked = error.orElse(
        try w.afterOp(i) catch { case e: Throwable => Some(s"check $i: $e") })
      ops += OpRecord(i, ms, netMs, cpuS, traced, checked)
      log(f"op $i${if (traced) " (traced)" else ""} $ms%.0f ms${checked.fold("")(e => s": $e")}")
      i += 1
    }
    val gcS = (gcMs() - gc0) / 1000.0
    val runSteal = netSince(setupStart, setupTicks)._2
    val records = ops.toSeq
    val errors = records.flatMap(_.error)

    val untraced = records.filter(o => !o.traced && o.error.isEmpty)
    val opMs = untraced.map(_.ms)
    val metrics = mutable.Buffer.empty[Metric]
    metrics += Metric("setup_s", setupS, "s")
    metrics += Metric("setup_wall_s", setupWallS, "s")
    if (opMs.nonEmpty) {
      metrics += Metric("op_ms", Stats.median(untraced.map(_.netMs)), "ms")
      metrics += Metric("op_wall_ms", Stats.median(opMs), "ms")
      metrics += Metric("op_cpu_s", Stats.median(untraced.map(_.cpuS)), "s")
    }
    metrics += Metric("steal_share", runSteal, "ratio")
    metrics += Metric("peak_rss_mb", peakRssMb(), "MB")
    metrics += Metric("ops_failed_ratio", errors.size.toDouble / records.size, "ratio")
    metrics += Metric("session_s", sessionS, "s")
    if (opMs.nonEmpty) metrics ++= w.results(records)
    metrics += Metric("jvm.gc_s", gcS / records.size, "s")
    tracer.foreach { t =>
      val tracedMs = records.filter(o => o.traced && o.error.isEmpty).map(_.netMs)
      if (tracedMs.nonEmpty && opMs.nonEmpty)
        metrics += Metric("trace.overhead_ratio",
          Stats.median(tracedMs) / Stats.median(untraced.map(_.netMs)) - 1, "ratio")
      metrics ++= w.layers(t, records)
      t.writeSpans(out.resolve("spans.jsonl"))
    }

    metrics.foreach(m => println(s"metric ${m.name} ${Json.num(m.value)} ${m.unit}"))
    errors.foreach(e => println(s"error $e"))
    val report = Json.obj(Seq(
      "workload" -> Json.str(name),
      "seed" -> ctx.seed.toString,
      "trace" -> (if (trace) "1" else "0"),
      "correct" -> errors.isEmpty.toString,
      "attempted" -> records.size.toString,
      "failed" -> records.count(_.error.nonEmpty).toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "ops_ms" -> records.map(o => Json.obj(Seq("i" -> o.index.toString,
        "ms" -> Json.num(o.ms), "traced" -> o.traced.toString)))
        .mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.toSeq.map(m => m.name -> Json.obj(Seq(
        "value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    Files.write(out.resolve("metrics.json"), report.getBytes(StandardCharsets.UTF_8))
  }
}
