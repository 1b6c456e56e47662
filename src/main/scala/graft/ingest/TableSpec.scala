package graft.ingest

import org.apache.spark.sql.types._

/** Oracle-ish source type tokens as found in an NCD `README.TXT`
  * (reference: ncd/normal_table.py:117-130 and :151-164).
  *
  * Each token maps to (a) a Spark output type and (b) a null-on-error
  * conversion of the raw trimmed cell text. The reference's semantics are
  * replicated exactly, including the quirks called out in SURVEY.md §1.2:
  *
  *   - `NUMBER` is always BIGINT; a decimal-valued cell ("12.3") raises in
  *     Python `int(...)` and becomes null — NOT truncated to 12. We guard
  *     with an integer regex rather than a bare cast for that reason.
  *   - `DATE` parses `%d-%b-%Y` case-insensitively (Python strptime), with
  *     1-2 digit days and EXACTLY 4 year digits (strptime's `%Y` is
  *     `\d\d\d\d`; year 0 is below `datetime.MINYEAR` and also rejected).
  *   - unknown tokens fail fast (reference raises NotImplementedError).
  */
sealed abstract class OracleType(val sparkType: DataType)

object OracleType {
  case object Varchar extends OracleType(StringType)
  case object Number extends OracleType(LongType)
  case object OracleDate extends OracleType(DateType)
  case object OracleFloat extends OracleType(DoubleType)

  /** Parse a raw type token like `VARCHAR2(4)` / `NUMBER(10,2)` / `DATE`.
    * Mirrors the reference's `re.match(r'(?P<type>[^(]+)...')` dispatch.
    */
  def parse(token: String): OracleType = {
    val base = token.takeWhile(_ != '(')
    base match {
      case "VARCHAR" | "VARCHAR2" => Varchar
      case "NUMBER"               => Number
      case "DATE"                 => OracleDate
      case "FLOAT"                => OracleFloat
      case other =>
        throw new NotImplementedError(s"Unsure how to handle a $token ($other)")
    }
  }
}

/** One fixed-width field: 1-based start column and length, per the README
  * spec `(start:end)` (length = end - start + 1).
  */
final case class FieldSpec(name: String, start: Int, length: Int,
                           oracleType: OracleType)

/** A normal table's parsed schema. */
final case class TableSpec(name: String, fields: Seq[FieldSpec]) {

  /** Output schema: N typed data columns then N `redacted_*` BOOLEAN flags,
    * matching the reference's DDL column order (ncd/normal_table.py:166-175).
    */
  def structType: StructType = StructType(
    fields.map(f => StructField(f.name, f.oracleType.sparkType)) ++
      fields.map(f => StructField(s"redacted_${f.name}", BooleanType)))
}
