package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

class OrcMirrorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("orc mirror round-trips rows identically, timestamps included") {
    val dir = Files.createTempDirectory("orc_mirror_").toString
    val src = Tables.table(spark, sf, "events")
    Sink.writeOrcMirror(src, dir)
    val back = spark.read.orc(dir)
    assert(back.schema === src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("a partitioned orc mirror keeps the districts an earlier load wrote") {
    val dir = Files.createTempDirectory("orc_districts_").toString
    def district(d: String) =
      spark.range(3).selectExpr("id", s"'$d' AS filename_district")
    Sink.writeOrcMirror(district("A"), dir, partitioned = true)
    Sink.writeOrcMirror(district("B"), dir, partitioned = true)
    val counts = spark.read.orc(dir).groupBy("filename_district").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("A" -> 3L, "B" -> 3L))
  }

  test("filters and projection push down to the ORC scan") {
    val dir = Files.createTempDirectory("orc_push_").toString
    Sink.writeOrcMirror(Tables.table(spark, sf, "events"), dir)
    val q = spark.read.orc(dir)
      .filter(col("user_id") === 7L)
      .select("event_id", "user_id")
    val scan = q.queryExecution.executedPlan.toString()
    assert(scan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]"),
      scan.linesIterator.filter(_.contains("Pushed")).mkString("\n"))
    assert(scan.contains("ReadSchema: struct<event_id:bigint,user_id:bigint>"),
      scan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }
}
