package ncdbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.ingest.{Fixtures, OracleType, SchemaParser, TableSpec}

/** Tests of the benchmark's pure parts: the tail-percentile rule, the
  * steal correction, self time under overlapping children, and the
  * generator's expected-count bookkeeping, recounted from the generated
  * text with reference rules that are themselves pinned to the quirk rows
  * of `Fixtures`.
  *
  * Run with `python3 ncdbench/run.py --selftest`; exits non-zero on failure.
  */
object SelfTest {
  import NcdGen._

  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    if (try cond catch { case e: Throwable => println(s"  $e"); false }) passed += 1
    else { failures += 1; println(s"FAIL $name") }

  def main(args: Array[String]): Unit = {
    percentiles()
    steal()
    selfTime()
    referenceRulesMatchFixtures()
    generatorBookkeeping(seed = 7, caseRows = 400, histRows = 500)
    generatorBookkeeping(seed = 8, caseRows = 1, histRows = 3)
    println(s"selftest: $passed passed, $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }

  def percentiles(): Unit = {
    check("19 samples: no percentile has 10 beyond")(Stats.tailPercentile(19).isEmpty)
    check("20 samples: p50")(Stats.tailPercentile(20).contains(50.0))
    check("39 samples: p50")(Stats.tailPercentile(39).contains(50.0))
    check("40 samples: p75")(Stats.tailPercentile(40).contains(75.0))
    check("99 samples: p75, p90 has 9 beyond")(Stats.tailPercentile(99).contains(75.0))
    check("100 samples: p90")(Stats.tailPercentile(100).contains(90.0))
    check("200 samples: p95")(Stats.tailPercentile(200).contains(95.0))
    check("1000 samples: p99")(Stats.tailPercentile(1000).contains(99.0))
    check("10000 samples: p99.9")(Stats.tailPercentile(10000).contains(99.9))
    check("beyond counts whole samples")(Stats.samplesBeyond(100, 90) == 10)
    check("quantile interpolates")(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    check("quantile ends")(Stats.quantile(Seq(5.0, 1.0, 9.0), 1.0) == 9.0 &&
      Stats.quantile(Seq(5.0, 1.0, 9.0), 0.0) == 1.0)
  }

  def steal(): Unit = {
    check("no steal keeps the wall time")(Stats.netOfSteal(10.0, 400, 0) == 10.0)
    check("a quarter stolen")(Stats.netOfSteal(8.0, 300, 100) == 6.0)
    check("no ticks keeps the wall time")(Stats.netOfSteal(3.0, 0, 0) == 3.0)
  }

  def selfTime(): Unit = {
    check("no children")(Stats.selfTime(0, 100, Nil) == 100)
    check("disjoint children")(Stats.selfTime(0, 100, Seq((10, 20), (50, 70))) == 70)
    check("overlapping children count once")(
      Stats.selfTime(0, 100, Seq((10, 30), (20, 50), (60, 70))) == 50)
    check("nested child inside another")(
      Stats.selfTime(0, 100, Seq((10, 60), (20, 30))) == 50)
    check("children clipped to the parent")(
      Stats.selfTime(0, 100, Seq((-10, 5), (90, 120))) == 85)
    check("child covering the parent")(Stats.selfTime(0, 100, Seq((0, 100))) == 0)
    check("unordered input")(
      Stats.selfTime(0, 100, Seq((60, 70), (20, 50), (10, 30), (-10, 5), (90, 120))) == 35)
  }

  // ---- reference rules, written from the semantics Fixtures documents ----

  private val Mon = Seq("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG",
    "SEP", "OCT", "NOV", "DEC")

  private def validDate(s: String): Option[Int] = {
    val m = "^([0-9]{1,2})-([A-Za-z]{3})-([0-9]{4})$".r.findFirstMatchIn(s)
    m.flatMap { g =>
      val month = Mon.indexOf(g.group(2).toUpperCase)
      val (d, y) = (g.group(1).toInt, g.group(3).toInt)
      if (month < 0 || y < 1) None
      else {
        val days = java.time.YearMonth.of(y, month + 1).lengthOfMonth
        if (d >= 1 && d <= days) Some(y) else None
      }
    }
  }

  /** Kind of a trimmed, CR-scrubbed cell under the column's type. */
  private def kind(cell: String, tpe: OracleType): Kind =
    if (cell == "*") Redacted
    else tpe match {
      case OracleType.Number => if (cell.matches("^[+-]?[0-9]+$")) Valid else Nulled
      case OracleType.OracleFloat =>
        if (cell.matches("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$")) Valid
        else Nulled
      case OracleType.OracleDate => if (validDate(cell).isDefined) Valid else Nulled
      case _ => Valid
    }

  private def cells(line: String, spec: TableSpec): Seq[(String, String)] =
    spec.fields.map { f =>
      val from = math.min(f.start - 1, line.length)
      val to = math.min(f.start - 1 + f.length, line.length)
      f.name -> line.substring(from, to).replace('\r', ' ').trim
    }

  private def kinds(line: String, spec: TableSpec): Map[String, Kind] = {
    val types = spec.fields.map(f => f.name -> f.oracleType).toMap
    cells(line, spec).map { case (c, v) => c -> kind(v, types(c)) }.toMap
  }

  private lazy val specs: Map[String, TableSpec] = SchemaParser.parse(Fixtures.readme)

  private def lines(s: String): Seq[String] = s.split("\n").toSeq.filter(_.nonEmpty)

  def referenceRulesMatchFixtures(): Unit = {
    val flm = lines(Fixtures.gsCaseFlm).map(kinds(_, specs(CaseTable)))
    check("fixture: valid first row")(flm.head.values.forall(_ == Valid))
    check("fixture: * cells are redacted")(
      flm(1)("FILE_DATE") == Redacted && flm(1)("TOTAL_LOSS") == Redacted &&
        flm(2)("LEAD_CHARGE") == Redacted)
    check("fixture: quirk row nulls the decimal NUMBER, Feb 31 and bad float")(
      flm(3)("CASEID") == Nulled && flm(3)("FILE_DATE") == Nulled &&
        flm(3)("TOTAL_LOSS") == Nulled && flm(3)("LEAD_CHARGE") == Valid)
    val ct = kinds(lines(Fixtures.gsCaseCt).head, specs(CaseTable))
    check("fixture: lowercase month, CR in a field and exponent float are valid")(
      ct.values.forall(_ == Valid))
    val hist = lines(Fixtures.gsCourtHist).map(kinds(_, specs(HistTable)))
    check("fixture: court history redactions")(
      hist(2)("EVENT_DATE") == Redacted && hist(2)("EVENT_TYPE") == Redacted &&
        hist.take(2).forall(_.values.forall(_ == Valid)))
  }

  /** Recount every cell of a generated zip with the reference rules and
    * compare with what the generator says it wrote.
    */
  def generatorBookkeeping(seed: Long, caseRows: Int, histRows: Int): Unit = {
    val zip = NcdGen.generate(seed, caseRows, histRows)
    val member = zip.members.toMap.map { case (k, v) =>
      k -> new String(v, StandardCharsets.ISO_8859_1)
    }
    val tag = s"seed $seed"
    check(s"$tag: README.TXT is the Fixtures schema")(member("README.TXT") == Fixtures.readme)
    check(s"$tag: same seed, same bytes")(
      NcdGen.generate(seed, caseRows, histRows).members.map(_._2.toSeq) ==
        zip.members.map(_._2.toSeq))

    val parts = mutable.Map.empty[(String, String), PartCounts]
    def count(table: String, district: String, rows: Seq[Map[String, Kind]],
              columns: Seq[String]): Unit =
      parts((table, district)) = PartCounts(rows.size.toLong, columns.map { c =>
        c -> CellCounts(rows.count(_(c) == Redacted).toLong, rows.count(_(c) == Nulled).toLong)
      }.toMap)

    val byYear = mutable.Map.empty[(String, Int), (Long, Long, Long)]
      .withDefaultValue((0L, 0L, 0L))
    val districtOf = mutable.Map.empty[Long, String]
    Districts.foreach { d =>
      val text = lines(member(s"gs_case_$d.txt"))
      count(CaseTable, d, text.map(kinds(_, specs(CaseTable))), CaseColumns)
      text.foreach { line =>
        val c = cells(line, specs(CaseTable)).toMap
        if (c("CASEID").matches("^[0-9]+$")) districtOf(c("CASEID").toLong) = d
        validDate(c("FILE_DATE")).foreach { y =>
          val (n, cents, withLoss) = byYear((d, y))
          byYear((d, y)) =
            if (kind(c("TOTAL_LOSS"), OracleType.OracleFloat) == Valid)
              (n + 1, cents + math.round(c("TOTAL_LOSS").toDouble * 100), withLoss + 1)
            else (n + 1, cents, withLoss)
        }
      }
    }
    val histText = lines(member("gs_court_hist.txt"))
    count(HistTable, "", histText.map(kinds(_, specs(HistTable))), HistColumns)
    val join = histText.map(cells(_, specs(HistTable)).toMap)
      .filter(c => c("CASEID").matches("^[0-9]+$") && c("EVENT_TYPE") != "*")
      .flatMap(c => districtOf.get(c("CASEID").toLong).map(d => (c("EVENT_TYPE"), d, c("CASEID"))))
      .groupBy(t => (t._1, t._2))
      .map { case (k, v) => k -> (v.size.toLong, v.map(_._3).distinct.size.toLong) }

    val e = zip.expected
    check(s"$tag: per-partition row, redacted and nulled counts")(parts.toMap == e.parts)
    check(s"$tag: district/year aggregates")(byYear.toMap == e.byYear)
    check(s"$tag: join aggregates")(join == e.joinByType)
    check(s"$tag: district row totals")(
      e.districtRows == Districts.map(d => d -> e.parts((CaseTable, d)).rows).toMap)
    check(s"$tag: input rows")(zip.inputRows == caseRows + histRows)
    check(s"$tag: every quirk kind occurs")(caseRows < 100 || Seq(
      e.parts.values.map(_.cells.values.map(_.redacted).sum).sum,
      e.parts.values.map(_.cells.values.map(_.nulled).sum).sum).forall(_ > 0))
  }
}
