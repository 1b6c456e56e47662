package ncdbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** One timed op of the closed loop: wall time, wall time net of
  * hypervisor steal, and process CPU time.
  */
final case class OpRecord(index: Int, ms: Double, netMs: Double, cpuS: Double,
                          traced: Boolean, error: Option[String])

/** Shared state of one benchmark process. `tracer` is set only while a
  * traced op runs, so [[span]] costs nothing in untraced ops.
  */
final class Ctx(val spark: SparkSession, val work: Path, val benchDir: Path,
                val seed: Long) {
  @volatile var tracer: Option[Tracer] = None

  def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** One workload: its set-up, its op and the checks on the op's outputs. */
trait Workload {
  /** Build inputs and warm up; timed as part of `setup_s`. */
  def setup(): Unit
  /** The timed operation. Throws on failure. */
  def op(i: Int): Unit
  /** Untimed check of op `i`'s outputs, right after it: an error or None. */
  def afterOp(i: Int): Option[String] = None
  /** Workload-specific results of the untraced ops, for the report. */
  def results(ops: Seq[OpRecord]): Seq[Metric]
  /** Per-layer metrics from the traced ops' spans. */
  def layers(tracer: Tracer, ops: Seq[OpRecord]): Seq[Metric]
}

object Workload {
  /** Bytes of the data files under `dir` (no checksums or markers). */
  def dataBytes(dir: Path, suffix: String): Long =
    if (!Files.exists(dir)) 0L
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(suffix))
        .map(Files.size).sum
      finally walk.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      val paths = try walk.iterator().asScala.toVector finally walk.close()
      paths.reverseIterator.foreach(Files.deleteIfExists(_))
    }

  /** Wall time of the op spans' subtrees spent with no Spark job running,
    * as a share of the op spans' total time.
    */
  def driverShare(tracer: Tracer, opSpans: Seq[Span]): Double = {
    val jobsOf: Span => Seq[(Long, Long)] = op => {
      val ids = subtreeIds(tracer, op.id)
      tracer.spans.asScala.filter(s => s.name.startsWith("job:") && ids(s.parent))
        .map(s => (s.start, s.end)).toSeq
    }
    val self = opSpans.map(op => Stats.selfTime(op.start, op.end, jobsOf(op))).sum
    val total = opSpans.map(op => op.end - op.start).sum
    if (total == 0) 0.0 else self.toDouble / total
  }

  private def subtreeIds(tracer: Tracer, root: Long): Set[Long] = {
    val all = tracer.spans.asScala.toSeq
    var ids = Set(root)
    var grown = true
    while (grown) {
      val next = ids ++ all.filter(s => ids(s.parent) && !s.name.startsWith("stage:"))
        .map(_.id)
      grown = next.size > ids.size
      ids = next
    }
    ids
  }
}
