package graft.functions

import java.time.LocalDate

import org.apache.spark.unsafe.types.UTF8String

/** Runtime parser for the reference's Oracle `%d-%b-%Y` date format, the
  * kernel of [[Kernels.OracleDateParse]]: one character scan per cell
  * instead of 4 regex evaluations + a DateTimeFormatter — the date columns
  * dominated the fixed-width conversion profile (~83µs/row → ~1µs/row).
  */
object DateUtil {

  private val Months = Array("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
    "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")

  private def monthOf(s: String): Int = {
    val u = s.toUpperCase
    var i = 0
    while (i < 12) { if (Months(i) == u) return i + 1; i += 1 }
    -1
  }

  /** "1-OCT-2017" → epoch days (java.lang.Integer), or null. Matches
    * CPython `strptime('%d-%b-%Y')` accepts/rejects exactly: 1-2 digit
    * day, 3-letter month any case, EXACTLY 4 year digits (`%Y` compiles to
    * `\d\d\d\d`, so "01-oct-99" raises ValueError → null here), year ≥ 1
    * (Python datetime range is 1..9999 — "05-OCT-0000" → null), real
    * calendar dates only (31-FEB → null).
    */
  def parseOracleDate(u: UTF8String): Integer = {
    val s = u.toString
    val p1 = s.indexOf('-')
    if (p1 < 1 || p1 > 2) return null
    val p2 = s.indexOf('-', p1 + 1)
    if (p2 - p1 != 4 || s.length - p2 - 1 != 4)
      return null
    var day = 0
    var i = 0
    while (i < p1) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return null
      day = day * 10 + (c - '0'); i += 1
    }
    val mon = monthOf(s.substring(p1 + 1, p2))
    if (mon < 0) return null
    var year = 0
    i = p2 + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return null
      year = year * 10 + (c - '0'); i += 1
    }
    if (year == 0) return null
    try Integer.valueOf(LocalDate.of(year, mon, day).toEpochDay.toInt)
    catch { case _: java.time.DateTimeException => null }
  }
}
