package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SpecFiles.tempPath
import graft.TestSpark
import graft.operators.ZOrder

/** The Z-ordered parquet mirror must actually SKIP data under a 2-D range
  * predicate — not just sort rows. Small files here mean one row group per
  * file, so row-group pruning (what the parquet reader does with min/max
  * stats) is file pruning; the scan's output-row metric measures how many
  * rows survived coarse skipping before Spark's own FilterExec.
  */
class ZOrderMirrorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // rows actually materialized by the parquet scan (after row-group/page
  // skipping, before the post-scan filter)
  private def scanOutputRows(df: DataFrame): Long = {
    df.collect() // force execution so metrics populate
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a parquet scan in the plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  // the mirror laid out along the Morton curve of (a, b)
  private def zLayout(df: DataFrame, numFiles: Int): DataFrame =
    ZOrder.layout(df, df.col("a"), df.col("b"), numFiles)

  test("z-ordered mirror prunes a 2-D range predicate; plain layout cannot") {
    val n = 40000
    val numFiles = 16
    import spark.implicits._
    // two independent uniform dims (seeded — deterministic across runs);
    // a 25x25 of 200x200 query box = ~1.5% of the space
    val rnd = new scala.util.Random(42)
    val df = (0 until n).map { i =>
      (i.toLong, rnd.nextInt(200), rnd.nextInt(200), s"payload$i")
    }.toDF("id", "a", "b", "v")

    val zDir = tempPath("zmirror_").toString
    val plainDir = tempPath("plainmirror_").toString
    Sink.writeParquetMirror(zLayout(df, numFiles), zDir, partitioned = false)
    Sink.writeParquetMirror(
      df.repartition(numFiles), plainDir, partitioned = false)

    val pred = (t: DataFrame) =>
      t.filter(col("a") < 25 && col("b") < 25)
    val zScan = spark.read.parquet(zDir)
    val plainScan = spark.read.parquet(plainDir)

    // identical query results — layout must never change answers
    val zRows = pred(zScan).select("id").collect().map(_.getLong(0)).toSet
    val plainRows = pred(plainScan).select("id").collect().map(_.getLong(0)).toSet
    assert(zRows === plainRows)
    assert(zRows.nonEmpty)

    // pruning: the z-ordered scan materializes far fewer rows than the
    // random layout, whose every row group overlaps the query box
    val zRead = scanOutputRows(pred(zScan))
    val plainRead = scanOutputRows(pred(plainScan))
    assert(plainRead === n.toLong,
      s"control: random layout should read everything, read $plainRead")
    assert(zRead <= n / 4,
      s"z-order should skip most row groups: read $zRead of $n")

    // file-level evidence: most z-files' (a, b) min/max boxes are disjoint
    // from the query box, i.e. a stats-aware reader can skip the file
    val fileBoxes = zScan
      .groupBy(input_file_name().as("f"))
      .agg(min("a").as("min_a"), max("a").as("max_a"),
        min("b").as("min_b"), max("b").as("max_b"))
      .collect()
    assert(fileBoxes.length === numFiles)
    val overlapping = fileBoxes.count { r =>
      r.getAs[Int]("min_a") < 25 && r.getAs[Int]("min_b") < 25
    }
    assert(overlapping < numFiles / 2,
      s"$overlapping of $numFiles z-files overlap a 1.5% query box")
  }

  test("z-ordered mirror round-trips rows identically (full table)") {
    import spark.implicits._
    val df = (0 until 5000).map(i => (i.toLong, i % 97, i % 89)).toDF("id", "a", "b")
    val dir = tempPath("zmirror_rt_").toString
    Sink.writeParquetMirror(zLayout(df, 8), dir, partitioned = false)
    val back = spark.read.parquet(dir)
    assert(back.count() === 5000)
    assert(back.select("id").collect().map(_.getLong(0)).toSet ===
      (0 until 5000).map(_.toLong).toSet)
  }
}
