package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** DataSource V2 connector: short-name registration, per-file partitions,
  * character-offset slicing, short-line nulls, and — the part that makes
  * it a real connector — required-column pushdown reaching the scan.
  */
class FixedWidthSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("fw_src_")
    Files.write(dir.resolve("d1.txt"),
      "AAA  1234 north\nBBB  5678 south\n".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("d2.txt"),
      "CCC  9    east \nDDD\n".getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  test("short name reads a directory of fixed-width files") {
    val df = spark.read.format("fixedwidth")
      .option("names", "code,qty,region")
      .option("widths", "5,5,5")
      .load(writeFixture())
    val rows = df.orderBy("code").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows === Array(
      ("AAA", "1234", "north"),
      ("BBB", "5678", "south"),
      ("CCC", "9", "east"),
      ("DDD", null, null))) // short line: missing fields are null
  }

  test("required-column pruning reaches the scan") {
    val df = spark.read.format("fixedwidth")
      .option("names", "code,qty,region")
      .option("widths", "5,5,5")
      .load(writeFixture())
    val pruned = df.select("qty")
    val scanDesc = pruned.queryExecution.executedPlan.toString
    assert(scanDesc.contains("fields=qty"),
      s"scan should slice only qty:\n$scanDesc")
    assert(pruned.collect().map(r => Option(r.getString(0))).toSet ===
      Set(None, Some("1234"), Some("5678"), Some("9")))
  }

  test("slicing is by CHARACTER offsets, not bytes (multi-byte UTF-8)") {
    val dir = Files.createTempDirectory("fw_utf8_")
    // 'é' is 2 bytes in UTF-8, 'あ' is 3 — byte-offset slicing would
    // shear both rows; the fixed-width contract counts characters
    Files.write(dir.resolve("d.txt"),
      "ééé  1234 north\nあaあ  5678 south\n"
        .getBytes(StandardCharsets.UTF_8))
    val rows = spark.read.format("fixedwidth")
      .option("names", "code,qty,region")
      .option("widths", "5,5,5")
      .option("encoding", "UTF-8")
      .load(dir.toString)
      .orderBy("qty").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows === Array(
      ("ééé", "1234", "north"),
      ("あaあ", "5678", "south")))
  }

  test("default encoding is ISO-8859-1, matching the ingest contract") {
    val dir = Files.createTempDirectory("fw_latin1_")
    // latin-1 bytes >= 0x80 ('é' = 0xE9, 'ñ' = 0xF1) are NOT valid UTF-8
    // — a UTF-8 default would decode them to U+FFFD and corrupt the field
    Files.write(dir.resolve("d.txt"),
      "café 1234 peña \n".getBytes(StandardCharsets.ISO_8859_1))
    val rows = spark.read.format("fixedwidth")
      .option("names", "code,qty,region")
      .option("widths", "5,5,5")
      .load(dir.toString)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows === Array(("café", "1234", "peña")))
  }

  test("missing or mismatched names/widths fail with descriptive errors") {
    val dir = writeFixture()
    val noNames = intercept[IllegalArgumentException] {
      spark.read.format("fixedwidth").option("widths", "5,5,5").load(dir)
    }
    assert(noNames.getMessage.contains("names"))
    val noWidths = intercept[IllegalArgumentException] {
      spark.read.format("fixedwidth")
        .option("names", "code,qty,region").load(dir)
    }
    assert(noWidths.getMessage.contains("widths"))
    val mismatch = intercept[IllegalArgumentException] {
      spark.read.format("fixedwidth")
        .option("names", "code,qty,region").option("widths", "5,5").load(dir)
    }
    assert(mismatch.getMessage.contains("same length"))
    val nonInt = intercept[IllegalArgumentException] {
      spark.read.format("fixedwidth")
        .option("names", "a,b").option("widths", "5,x").load(dir)
    }
    assert(nonInt.getMessage.contains("integers"))
  }

  test("connector reads through a registered bucket-authority FileSystem") {
    // the DSv2 scan resolves files via the SESSION Hadoop conf (see
    // FixedWidthScan's SerializableConfiguration note) — proven here by
    // reading fixed-width objects out of the in-JVM mocks3:// store, the
    // same seam s3a:// plugs into
    spark.sparkContext.hadoopConfiguration
      .set("fs.mocks3.impl", classOf[MockObjectStore].getName)
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path("mocks3://fw-bucket/dumps")
    val fs = dir.getFileSystem(conf)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "d1.txt"), true)
    out.write("AAA  1234 north\nBBB  5678 south\n"
      .getBytes(StandardCharsets.ISO_8859_1))
    out.close()
    val rows = spark.read.format("fixedwidth")
      .option("names", "code,qty,region")
      .option("widths", "5,5,5")
      .load("mocks3://fw-bucket/dumps")
      .orderBy("code").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows === Array(("AAA", "1234", "north"), ("BBB", "5678", "south")))
  }

  test("an embedded CR is a space, as in FixedWidth.read, not a line end") {
    import graft.ingest.{FieldSpec, FixedWidth, OracleType, TableSpec}
    val dir = Files.createTempDirectory("fw_cr_")
    Files.write(dir.resolve("d.txt"),
      "AA\rA 1234 north\nBBB  56\r78south\r\nCCC\n"
        .getBytes(StandardCharsets.ISO_8859_1))
    val names = Seq("code", "qty", "region")
    val connector = spark.read.format("fixedwidth")
      .option("names", names.mkString(","))
      .option("widths", "5,5,5")
      .load(dir.toString)
      .collect().map(r => names.indices.map(i => Option(r.getString(i))))
    val spec = TableSpec("T", names.zipWithIndex.map { case (n, i) =>
      FieldSpec(n, 1 + 5 * i, 5, OracleType.Varchar)
    })
    // the connector's null is the ingest's empty cell
    val ingest = FixedWidth.read(spark, dir.toString, spec)
      .select(names.map(col): _*).collect()
      .map(r => names.indices.map(i => Option(r.getString(i)).filter(_.nonEmpty)))
    assert(connector.length === 3)
    assert(connector.sortBy(_.head) === ingest.sortBy(_.head))
    assert(connector.sortBy(_.head).head ===
      Seq(Some("AA A"), Some("1234"), Some("north")))
  }

  test("typed conversion composes downstream via FixedWidth.convert") {
    import graft.ingest.{FixedWidth, OracleType}
    val df = spark.read.format("fixedwidth")
      .option("names", "code,qty,region")
      .option("widths", "5,5,5")
      .load(writeFixture())
      .select(FixedWidth.convert(col("qty"), OracleType.Number).as("qty"))
    assert(df.filter(col("qty").isNotNull)
      .agg(sum("qty")).collect().head.getLong(0) === 1234L + 5678 + 9)
  }
}
