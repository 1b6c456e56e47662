package ncdbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import graft.ingest.Fixtures

/** Seeded synthetic NCD zip for the ingest and SQL workloads.
  *
  * The members follow `Fixtures`: the same README.TXT schemas, one
  * `gs_case_<DISTRICT>.txt` per district (so GS_CASE is partitioned), one
  * unpartitioned `gs_court_hist.txt`, the `table_gs_position.txt` codebook
  * and a `global_LIONS.txt` with GS_DISTRICT and GS_OFFENSE. Cells carry
  * the quirks `Fixtures` pins down: `*` redactions, decimal NUMBERs,
  * impossible or malformed dates, non-numeric FLOATs, lowercase months and
  * embedded CRs.
  *
  * Every cell is drawn together with its kind (valid, redacted, or nulled
  * by a failed parse), so the generator knows the exact counts the ingest
  * must reproduce and the answers the SQL templates must return.
  */
object NcdGen {

  val Districts: Vector[String] =
    Vector("AK", "CT", "FLM", "FLS", "ILN", "NYE", "NYS", "TXS")
  val DistrictNames: Map[String, String] = Map(
    "AK" -> "District of Alaska", "CT" -> "District of Connecticut",
    "FLM" -> "Middle District of Florida",
    "FLS" -> "Southern District of Florida",
    "ILN" -> "Northern District of Illinois",
    "NYE" -> "Eastern District of New York",
    "NYS" -> "Southern District of New York",
    "TXS" -> "Southern District of Texas")
  val EventTypes: Vector[String] =
    Vector("ARREST", "CHARGE", "PLEA", "TRIAL", "VERDICT", "SENTENCE", "APPEAL")
  val Years: Range = 2010 to 2019
  private val Charges = Vector("18:USC:1341", "18:USC:371", "21:USC:841",
    "18:USC:1962", "18:USC:922", "8:USC:1326", "18:USC:1343", "26:USC:7201")
  private val Months = Vector("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL",
    "AUG", "SEP", "OCT", "NOV", "DEC")
  private val MonthDays = Vector(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

  val CaseTable = "GS_CASE"
  val HistTable = "GS_COURT_HIST"
  val CaseColumns: Vector[String] =
    Vector("CASEID", "DISTRICT", "FILE_DATE", "LEAD_CHARGE", "TOTAL_LOSS")
  val HistColumns: Vector[String] = Vector("CASEID", "EVENT_DATE", "EVENT_TYPE")

  /** What one cell turned into: a value, a `*` redaction, or a null left
    * by a failed parse.
    */
  sealed trait Kind
  case object Valid extends Kind
  case object Redacted extends Kind
  case object Nulled extends Kind

  /** Per-column redacted and parse-nulled cell counts of one partition. */
  final case class CellCounts(redacted: Long, nulled: Long)

  /** One table partition's expected shape. District "" = unpartitioned. */
  final case class PartCounts(rows: Long, cells: Map[String, CellCounts])

  /** Everything the checks compare against, derived while generating.
    *
    * @param parts      (table, district) -> rows and per-column counts
    * @param byYear     (district, year) -> (rows, sum of valid TOTAL_LOSS in
    *                   cents, rows with a valid TOTAL_LOSS), over rows with
    *                   a valid FILE_DATE
    * @param joinByType (event type, district) -> (hist rows, distinct cases)
    *                   for hist rows that join a case on CASEID
    */
  final case class Expected(
      parts: Map[(String, String), PartCounts],
      byYear: Map[(String, Int), (Long, Long, Long)],
      joinByType: Map[(String, String), (Long, Long)],
      districtRows: Map[String, Long])

  /** A generated archive: its members, expected counts and input size. */
  final case class NcdZip(
      members: Vector[(String, Array[Byte])],
      expected: Expected) {
    private def fixedWidth = members.filter(_._1.startsWith("gs_"))
    /** Fixed-width bytes (the district and court-history files). */
    def inputBytes: Long = fixedWidth.map(_._2.length.toLong).sum
    /** Fixed-width rows. */
    def inputRows: Long = expected.parts.valuesIterator.map(_.rows).sum

    def write(path: Path): Path = {
      val out = new ZipOutputStream(
        new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16))
      try members.foreach { case (name, bytes) =>
        out.putNextEntry(new ZipEntry(name))
        out.write(bytes)
        out.closeEntry()
      } finally out.close()
      path
    }
  }

  private final class Counter(columns: Seq[String]) {
    var rows = 0L
    val redacted: mutable.Map[String, Long] =
      mutable.LinkedHashMap(columns.map(_ -> 0L): _*)
    val nulled: mutable.Map[String, Long] =
      mutable.LinkedHashMap(columns.map(_ -> 0L): _*)
    def add(column: String, kind: Kind): Unit = kind match {
      case Redacted => redacted(column) += 1
      case Nulled => nulled(column) += 1
      case Valid => ()
    }
    def result: PartCounts = PartCounts(rows,
      redacted.keys.map(c => c -> CellCounts(redacted(c), nulled(c))).toMap)
  }

  /** A drawn date cell: its text, kind and (when valid) its year. */
  private def date(r: SplittableRandom): (String, Kind, Int) = {
    val p = r.nextInt(1000)
    if (p < 20) ("*", Redacted, 0)
    else if (p < 27) {
      val bad = Vector("31-FEB-2016", "30-FEB-2012", "15-XYZ-2014",
        "1-JAN-17", "00-MAR-2015", "12-MAR-0000")
      (bad(r.nextInt(bad.size)), Nulled, 0)
    } else {
      val y = Years.start + r.nextInt(Years.size)
      val m = r.nextInt(12)
      val d = 1 + r.nextInt(MonthDays(m))
      val mon = if (r.nextInt(20) == 0) Months(m).toLowerCase else Months(m)
      val day = if (d < 10 && r.nextBoolean()) d.toString else f"$d%02d"
      (s"$day-$mon-$y", Valid, y)
    }
  }

  /** A drawn TOTAL_LOSS cell: text, kind and value in cents. */
  private def loss(r: SplittableRandom): (String, Kind, Long) = {
    val p = r.nextInt(1000)
    if (p < 20) ("*", Redacted, 0L)
    else if (p < 30) {
      val bad = Vector("abc", "1.2.3", "--5", "12,50", "e10")
      (bad(r.nextInt(bad.size)), Nulled, 0L)
    } else if (p < 80) {
      // exponent form, a whole number of hundreds
      val k = r.nextInt(2001) - 1000
      (s"${k}e2", Valid, k * 10000L)
    } else {
      val cents = r.nextLong(1000000000L)
      (f"${cents / 100}%d.${cents % 100}%02d", Valid, cents)
    }
  }

  /** Generate the archive for `seed` with `caseRows` GS_CASE rows spread
    * over the eight districts and `histRows` GS_COURT_HIST rows.
    */
  def generate(seed: Long, caseRows: Int, histRows: Int): NcdZip = {
    val r = new SplittableRandom(seed)
    val f = Fixtures.f _
    val caseDistrict = new Array[Int](caseRows) // -1: CASEID is not valid
    val byYear = mutable.Map.empty[(String, Int), (Long, Long, Long)]
      .withDefaultValue((0L, 0L, 0L))
    val caseCounts = Districts.map(d => d -> new Counter(CaseColumns)).toMap
    val caseText = Districts.map(d => d -> new java.lang.StringBuilder).toMap

    for (i <- 0 until caseRows) {
      val di = r.nextInt(Districts.size)
      val dist = Districts(di)
      val c = caseCounts(dist)
      c.rows += 1
      val idP = r.nextInt(1000)
      val (id, idKind) =
        if (idP < 10) ("*", Redacted)
        else if (idP < 15) (s"${i % 97}.${1 + r.nextInt(9)}", Nulled)
        else (f"${i + 1}%010d", Valid)
      caseDistrict(i) = if (idKind == Valid) di else -1
      val (distCell, distKind) =
        if (r.nextInt(200) == 0) ("*", Redacted) else (dist, Valid)
      val (fileDate, dateKind, year) = date(r)
      val chP = r.nextInt(1000)
      val (charge, chargeKind) =
        if (chP < 15) ("*", Redacted)
        else if (chP < 20) ("AB\rCD", Valid) // CR scrubbed to a space
        else (Charges(r.nextInt(Charges.size)), Valid)
      val (lossCell, lossKind, cents) = loss(r)
      Seq("CASEID" -> idKind, "DISTRICT" -> distKind, "FILE_DATE" -> dateKind,
        "LEAD_CHARGE" -> chargeKind, "TOTAL_LOSS" -> lossKind)
        .foreach { case (col, k) => c.add(col, k) }
      if (dateKind == Valid) {
        val (n, sum, withLoss) = byYear((dist, year))
        byYear((dist, year)) =
          if (lossKind == Valid) (n + 1, sum + cents, withLoss + 1)
          else (n + 1, sum, withLoss)
      }
      caseText(dist).append(f(id, 10)).append(f(distCell, 4))
        .append(f(fileDate, 11)).append(f(charge, 20)).append(f(lossCell, 12))
        .append('\n')
    }

    val histCounts = new Counter(HistColumns)
    val hist = new java.lang.StringBuilder
    val joinRows = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val joinCases = mutable.Map.empty[(String, String), java.util.BitSet]
    for (_ <- 0 until histRows) {
      histCounts.rows += 1
      val target = r.nextInt(caseRows)
      val idP = r.nextInt(1000)
      val (id, idKind) =
        if (idP < 10) ("*", Redacted)
        else if (idP < 15) (s"${target % 89}.5", Nulled)
        else (f"${target + 1}%010d", Valid)
      val (eventDate, dateKind, _) = date(r)
      val (tpe, tpeKind) =
        if (r.nextInt(100) == 0) ("*", Redacted)
        else (EventTypes(r.nextInt(EventTypes.size)), Valid)
      Seq("CASEID" -> idKind, "EVENT_DATE" -> dateKind, "EVENT_TYPE" -> tpeKind)
        .foreach { case (col, k) => histCounts.add(col, k) }
      if (idKind == Valid && tpeKind == Valid && caseDistrict(target) >= 0) {
        val key = (tpe, Districts(caseDistrict(target)))
        joinRows(key) += 1
        joinCases.getOrElseUpdate(key, new java.util.BitSet).set(target)
      }
      hist.append(f(id, 10)).append(f(eventDate, 11)).append(f(tpe, 8))
        .append('\n')
    }

    val latin1 = StandardCharsets.ISO_8859_1
    val members = Vector("README.TXT" -> Fixtures.readme.getBytes(latin1)) ++
      Districts.map(d => s"gs_case_$d.txt" -> caseText(d).toString.getBytes(latin1)) ++
      Vector(
        "gs_court_hist.txt" -> hist.toString.getBytes(latin1),
        "table_gs_position.txt" -> Fixtures.lookupGsPosition.getBytes(latin1),
        "global_LIONS.txt" -> globalLions.getBytes(StandardCharsets.UTF_8))

    val parts =
      Districts.map(d => (CaseTable, d) -> caseCounts(d).result).toMap +
        ((HistTable, "") -> histCounts.result)
    NcdZip(members, Expected(
      parts = parts,
      byYear = byYear.toMap,
      joinByType = joinRows.keys.map(k =>
        k -> (joinRows(k), joinCases(k).cardinality().toLong)).toMap,
      districtRows = Districts.map(d => d -> caseCounts(d).rows).toMap))
  }

  /** GS_DISTRICT and GS_OFFENSE in the stacked `global_LIONS.txt` layout
    * of `Fixtures.globalLions`.
    */
  val globalLions: String = {
    val districts = Districts.map(d => Fixtures.f(d, 4) + " " + DistrictNames(d))
    s"""GS_DISTRICT
       |
       |Code Name
       |---- ------------------------------
       |${districts.mkString("\n")}
       |
       |GS_OFFENSE
       |
       |Code Title
       |---- -------------------
       |0100 Official Corruption
       |0200 Narcotics
       |0300 Fraud
       |""".stripMargin
  }
}
