package graft.ingest

import scala.util.matching.Regex

/** A14+A16: ruler-based column-width inference for the "schemaless" table
  * shapes (global_LIONS.txt fragments and `table_gs_*` codebooks).
  *
  * A fragment is `header \n -----+ruler \n data rows...`; every `-+` run in
  * the ruler line is a column span (ncd/global_file.py:76-123). All data
  * columns are strings; each gets a parallel `redacted_*` boolean. Redacted
  * cells (`*`) become empty string + flag true — note this differs from
  * normal tables, where redacted values are null (quirk kept, SURVEY §1.2).
  *
  * Header names are normalized camelCase → SNAKE_UPPER with the
  * `REDACTED__X` → `redacted_X` fixup (ncd/global_file.py:104-111).
  */
object RulerParser {

  private val DashRun: Regex = "-+".r
  private val InnerCap: Regex = "(?<!^)([A-Z])".r

  /** camelCase → SNAKE_UPPER; `redacted_Foo` → `redacted_FOO`. */
  def normalizeFieldName(name: String): String = {
    val underscored = InnerCap.replaceAllIn(name, m => "_" + m.group(1)).toUpperCase
    if (underscored.startsWith("REDACTED__"))
      underscored.replaceFirst("REDACTED__", "redacted_")
    else underscored
  }

  /** One parsed string-typed table: normalized data column names and rows
    * of (dataCells, redactedFlags).
    */
  final case class StringTable(
      dataColumns: Seq[String],
      rows: Seq[(Seq[String], Seq[Boolean])])

  private def slice(row: String, start: Int, end: Int): String = {
    val s = math.min(start, row.length)
    val e = math.min(end, row.length)
    row.substring(s, e).trim
  }

  /** Parse one `header\nruler\nrows...` fragment. */
  def parse(fragment: String): StringTable = {
    val lines = fragment.split("\n", -1).toVector
    require(lines.size >= 2, s"fragment needs header + ruler: $fragment")
    val header = lines(0)
    val ruler = lines(1)
    val spans = DashRun.findAllMatchIn(ruler).map(m => (m.start, m.end)).toVector

    val names = spans
      .map { case (s, e) => slice(header, s, e) }
      .map(normalizeFieldName)

    val rows = lines.drop(2).map { row =>
      val cells = spans.map { case (s, e) => slice(row, s, e) }
      val data = cells.map(c => if (c == "*") "" else c)
      val flags = cells.map(_ == "*")
      (data, flags)
    }
    StringTable(names, rows)
  }
}
