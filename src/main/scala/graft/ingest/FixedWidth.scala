package graft.ingest

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A6-A9: fixed-width text → typed + redaction-flagged DataFrame.
  *
  * This is the distributed heart of the ingest path. The whole transformation
  * is a single narrow projection over `spark.read.text` — pure Catalyst
  * expressions (substring/trim/when/regexp/cast), so it whole-stage-codegens
  * and scales linearly with input splits: no shuffle, no UDFs, no
  * driver-side row handling. The reference streams the same work through
  * csvkit + Python dict rows one process at a time
  * (ncd/normal_table.py:200-268); here every file split converts in
  * parallel.
  *
  * Semantics preserved exactly (SURVEY.md §1.2):
  *   - CR scrub first: every `\r` becomes a space, so a stray CR can never
  *     shear a record (A7, ncd/normal_table.py:270-291). `lineSep` is pinned
  *     to "\n" so Spark's line splitting matches the reference's.
  *   - cells are trimmed (csvkit fixed2csv strips values);
  *   - a cell of exactly `*` → null value + `redacted_<col> = true` (A9);
  *   - NUMBER: integer-regex guard then cast — "12.3" → null, matching
  *     Python `int()` raising (NOT truncating);
  *   - DATE: `%d-%b-%Y` case-insensitive, 1-2 digit day, exactly 4 year
  *     digits and year ≥ 1 (CPython strptime semantics);
  *   - FLOAT: Python `float()`-shaped literals only;
  *   - unparseable → null, never an error (works under ANSI mode because
  *     every cast is regex-guarded).
  */
object FixedWidth {

  private val IntRe = "^[+-]?[0-9]+$"
  private val FloatRe = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"

  /** Null-on-error typed conversion of a trimmed raw cell. */
  def convert(raw: Column, tpe: OracleType): Column = tpe match {
    case OracleType.Varchar => raw
    case OracleType.Number =>
      when(raw.rlike(IntRe), raw.cast(LongType))
    case OracleType.OracleFloat =>
      when(raw.rlike(FloatRe), raw.cast(DoubleType))
    case OracleType.OracleDate =>
      // native single-scan parser (graft.functions.Kernels.OracleDateParse):
      // the equivalent regex + try_to_timestamp formulation costs ~80x
      // more per cell and dominated the ingest profile. Resolved through
      // graft.plans.GraftExtensions, which every GraftSession installs.
      graft.functions.Kernels.OracleDateParse(raw)
  }

  /** Project one raw-line DataFrame (single `value` string column) into the
    * 2N-column typed shape, carrying through any `keep` columns (e.g. a
    * source-zip tag). `value` must already be CR-scrubbed.
    */
  def project(lines: DataFrame, spec: TableSpec,
              keep: Seq[String] = Nil): DataFrame = {
    val value = col("value")
    val rawCells = spec.fields.map { f =>
      f.name -> trim(substring(value, f.start, f.length))
    }
    val dataCols = rawCells.map { case (name, raw) =>
      val f = spec.fields.find(_.name == name).get
      when(raw === "*", lit(null).cast(f.oracleType.sparkType))
        .otherwise(convert(raw, f.oracleType))
        .as(name)
    }
    val flagCols = rawCells.map { case (name, raw) =>
      (raw === "*").as(s"redacted_$name")
    }
    lines.select(dataCols ++ flagCols ++ keep.map(col): _*)
  }

  /** Read fixed-width text end-to-end: latin-1 decode, CR scrub, slice,
    * type, flag. `path` is one member file or a directory of them, read
    * with ONE text scan, so the projection is one whole-stage-codegen
    * stage (one generated class) however many files it covers. Each of
    * `partitionColumns` is a Hive partition directory level under `path`
    * (`<path>/filename_district=FLM/...`): its value comes from the scan's
    * partition values, pinned to STRING, and is carried through after the
    * 2N typed columns. Pure narrow pipeline — parallel per file split.
    */
  def read(spark: SparkSession, path: String, spec: TableSpec,
           encoding: String = "ISO-8859-1",
           partitionColumns: Seq[String] = Nil): DataFrame = {
    val schema = StructType(
      ("value" +: partitionColumns).map(StructField(_, StringType)))
    // the text source ignores `encoding` on read: it hands each line's
    // bytes over as UTF-8, so a latin-1 byte >= 0x80 would come out as
    // U+FFFD. Any other charset is decoded from those bytes here.
    val raw = col("value")
    val decoded =
      if (Charset.forName(encoding) == UTF_8) raw
      else decode(raw.cast(BinaryType), encoding)
    val lines = spark.read
      .schema(schema)
      .option("lineSep", "\n")
      .text(path)
      // translate, not regexp_replace: same single-char mapping without
      // regex-engine cost on every line of a 100 TB scan
      .select(translate(decoded, "\r", " ").as("value") +:
        partitionColumns.map(col): _*)
    project(lines, spec, keep = partitionColumns)
  }
}
