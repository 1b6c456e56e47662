package graft.ingest

import scala.collection.mutable
import scala.util.matching.Regex

/** A13: split `global_LIONS.txt` into its stacked per-table fragments
  * (ncd/global_file.py:125-167), in one pass over the file's lines.
  *
  * A bare `^[A-Z]\S+$` name line followed by a blank line starts a table,
  * unless a table of that name has already started (the reference's
  * first-match `re.search`). Any bare name line ends the current table,
  * whether or not it starts the next one. Each fragment is the table's
  * lines joined with `\n` and trimmed. Lines carry no terminator, so the
  * rule is the same for `\n`, `\r\n` and `\r` line ends.
  */
object GlobalSplitter {

  private val BareName: Regex = "[A-Z]\\S+".r

  /** Returns (tableName -> `header\nruler\nrows` fragment). Holds only the
    * fragments, never the whole file.
    */
  def split(lines: Iterator[String]): Map[String, String] = {
    val it = lines.buffered
    val tables = mutable.Map.empty[String, String]
    var open: String = null
    val body = new StringBuilder
    def close(): Unit = if (open != null) {
      tables(open) = body.toString.trim
      open = null
    }
    while (it.hasNext) {
      val line = it.next()
      if (BareName.matches(line)) {
        close()
        if (it.hasNext && it.head.isEmpty && !tables.contains(line)) {
          it.next()
          open = line
          body.clear()
        }
      } else if (open != null) body ++= line += '\n'
    }
    close()
    tables.toMap
  }
}
