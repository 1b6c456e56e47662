package graft.ingest

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files
import java.sql.Date

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class FixedWidthSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val spec = SchemaParser.parse(Fixtures.readme)("GS_CASE")

  private def projected(lines: String*) =
    FixedWidth.project(lines.toDF("value"), spec)

  test("typed conversion with redaction flags") {
    val rows = projected(Fixtures.gsCaseFlm.split("\n").toIndexedSeq: _*)
      .collect().sortBy(r => Option(r.getAs[Long]("CASEID")))

    // quirk row sorts first (null CASEID)
    val quirk = rows(0)
    assert(quirk.isNullAt(quirk.fieldIndex("CASEID")))        // "12.3" -> null
    assert(quirk.isNullAt(quirk.fieldIndex("FILE_DATE")))     // 31-FEB invalid
    assert(quirk.isNullAt(quirk.fieldIndex("TOTAL_LOSS")))    // "abc" -> null
    assert(quirk.getAs[Boolean]("redacted_CASEID") === false) // error, not '*'

    val r1 = rows(1)
    assert(r1.getAs[Long]("CASEID") === 1L)
    assert(r1.getAs[String]("DISTRICT") === "FLM")
    assert(r1.getAs[Date]("FILE_DATE") === Date.valueOf("2017-10-01"))
    assert(r1.getAs[String]("LEAD_CHARGE") === "18:USC:1341")
    assert(r1.getAs[Double]("TOTAL_LOSS") === 1234.50)

    val r2 = rows(2) // redacted date + loss
    assert(r2.isNullAt(r2.fieldIndex("FILE_DATE")))
    assert(r2.getAs[Boolean]("redacted_FILE_DATE") === true)
    assert(r2.isNullAt(r2.fieldIndex("TOTAL_LOSS")))
    assert(r2.getAs[Boolean]("redacted_TOTAL_LOSS") === true)
    assert(r2.getAs[Boolean]("redacted_CASEID") === false)
  }

  test("lowercase month parses (strptime case-insensitivity) and scientific floats") {
    val row = projected(Fixtures.gsCaseCt.split("\n").toIndexedSeq: _*)
      .collect().head
    assert(row.getAs[Date]("FILE_DATE") === Date.valueOf("2017-01-01"))
    assert(row.getAs[Double]("TOTAL_LOSS") === -150.0)
  }

  test("CR inside a record becomes a space before slicing") {
    import org.apache.spark.sql.functions._
    val raw = Seq(Fixtures.gsCaseCt.stripLineEnd).toDF("value")
      .select(regexp_replace(col("value"), "\r", " ").as("value"))
    val row = FixedWidth.project(raw, spec).collect().head
    assert(row.getAs[String]("LEAD_CHARGE") === "AB CD")
  }

  test("NUMBER never truncates decimals (int('12.3') raises -> null)") {
    val row = projected(Fixtures.f("7", 10) + Fixtures.f("X", 4) +
      Fixtures.f("", 11) + Fixtures.f("", 20) + Fixtures.f("12.9", 12))
      .collect().head
    assert(row.getAs[Long]("CASEID") === 7L)
    assert(row.getAs[Double]("TOTAL_LOSS") === 12.9)
  }

  test("two-digit year is rejected like strptime %Y (exactly 4 digits)") {
    // CPython %Y compiles to \d\d\d\d: '5-OCT-99' raises ValueError in the
    // reference's converter and lands as null (the rjust quirk zero-pads
    // strftime OUTPUT of year 99; it does not make short years parse).
    val row = projected(Fixtures.f("1", 10) + Fixtures.f("X", 4) +
      Fixtures.f("5-OCT-99", 11) + Fixtures.f("", 20) + Fixtures.f("", 12))
      .collect().head
    assert(row.getAs[Date]("FILE_DATE") === null)
    val ok = projected(Fixtures.f("1", 10) + Fixtures.f("X", 4) +
      Fixtures.f("5-OCT-0099", 11) + Fixtures.f("", 20) + Fixtures.f("", 12))
      .collect().head
    assert(ok.getAs[Date]("FILE_DATE") === Date.valueOf("0099-10-05"))
  }

  // FixedWidth.read on member files: decode, line split and CR scrub are
  // read's own, so these write the bytes and read them back
  private val fileSpec = TableSpec("T", Seq(
    FieldSpec("code", 1, 5, OracleType.Varchar),
    FieldSpec("qty", 6, 5, OracleType.Number),
    FieldSpec("region", 11, 5, OracleType.Varchar)))

  /** (code, qty, region) per line of a member file holding `bytes`. */
  private def readBack(bytes: Array[Byte],
                       encoding: String = "ISO-8859-1") = {
    val dir = Files.createTempDirectory("fw_read_")
    Files.write(dir.resolve("t.txt"), bytes)
    FixedWidth.read(spark, dir.toString, fileSpec, encoding)
      .select("code", "qty", "region").as[(String, Option[Long], String)]
      .collect().toSeq
  }

  test("read: latin-1 bytes >= 0x80 decode under the default encoding") {
    // 0xE9 ('é') and 0xF1 ('ñ') are not valid UTF-8: a UTF-8 default
    // would decode them to U+FFFD
    assert(readBack("café 1234 peña \n".getBytes(ISO_8859_1)) ===
      Seq(("café", Some(1234L), "peña")))
  }

  test("read: an embedded CR and a CRLF ending each become a space " +
      "inside one record") {
    // Spark's trim strips spaces only: an unscrubbed CR would stay in
    // the cell, and "\r" as a line end would split the first record
    assert(readBack("AA\rA 12   north\nBBB  56   ab\r\n".getBytes(ISO_8859_1))
      .sortBy(_._1) === Seq(("AA A", Some(12L), "north"),
        ("BBB", Some(56L), "ab")))
  }

  test("read: a short line gives short cells and no error") {
    assert(readBack("DDD\n".getBytes(ISO_8859_1)) ===
      Seq(("DDD", None, "")))
  }

  test("read: a blank line gives one row") {
    // the phantom element after the trailing newline is not a row
    assert(readBack("AAA\n\nBBB\n".getBytes(ISO_8859_1)).sortBy(_._1) ===
      Seq(("", None, ""), ("AAA", None, ""), ("BBB", None, "")))
  }

  test("read: cells are sliced by character, not byte, offsets") {
    // 'é' is 2 bytes in UTF-8 and 'あ' is 3: byte slicing would shear both
    assert(readBack("ééé  1234 north\nあaあ  5678 south\n".getBytes(UTF_8),
      "UTF-8").sortBy(_._2) === Seq(("ééé", Some(1234L), "north"),
        ("あaあ", Some(5678L), "south")))
  }
}
