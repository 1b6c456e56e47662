package graft.ingest

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.operators.StagedArtifacts

/** Synthetic NCD-shaped fixture zip per FIXTURES.md §1. Built
  * programmatically so fixed-width column positions are exact.
  */
object Fixtures {

  /** Pad/truncate to an exact field width. */
  def f(value: String, width: Int): String =
    if (value.length >= width) value.substring(0, width)
    else value + (" " * (width - value.length))

  val readme: String =
    """GS_CASE - Case master records
      |
      |CASEID          NOT NULL   NUMBER        (1:10)
      |DISTRICT        NOT NULL   VARCHAR2(4)   (11:14)
      |FILE_DATE                  DATE          (15:25)
      |LEAD_CHARGE                VARCHAR2(20)  (26:45)
      |TOTAL_LOSS                 FLOAT         (46:57)
      |
      |GS_COURT_HIST - Court event history
      |
      |CASEID          NOT NULL   NUMBER        (1:10)
      |EVENT_DATE                 DATE          (11:21)
      |EVENT_TYPE                 VARCHAR2(8)   (22:29)
      |""".stripMargin

  private def caseLine(id: String, dist: String, date: String,
                       charge: String, loss: String): String =
    f(id, 10) + f(dist, 4) + f(date, 11) + f(charge, 20) + f(loss, 12)

  val gsCaseFlm: String = Seq(
    caseLine("0000000001", "FLM", "01-OCT-2017", "18:USC:1341", "1234.50"),
    caseLine("0000000002", "FLM", "*", "18:USC:371", "*"),
    caseLine("0000000003", "FLM", "15-NOV-2017", "*", "0.00"),
    // quirk row: decimal NUMBER -> null, invalid date -> null, bad float -> null
    caseLine("12.3", "FLM", "31-FEB-2017", "x", "abc"),
  ).mkString("", "\n", "\n")

  // lowercase month (strptime is case-insensitive) + embedded CR in a field
  val gsCaseCt: String = Seq(
    caseLine("0000000005", "CT", "01-jan-2017", "AB\rCD", "-1.5e2"),
  ).mkString("", "\n", "\n")

  private def histLine(id: String, date: String, tpe: String): String =
    f(id, 10) + f(date, 11) + f(tpe, 8)

  val gsCourtHist: String = Seq(
    histLine("0000000001", "01-OCT-2017", "ARREST"),
    histLine("0000000001", "02-OCT-2017", "CHARGE"),
    histLine("0000000002", "*", "*"),
  ).mkString("", "\n", "\n")

  val lookupGsPosition: String =
    """Codebook for GS_POSITION as of 30-SEP-2017
      |
      |PositionCode Description               ActiveFlag
      |------------ ------------------------- ----------
      |AUSA         Assistant U.S. Attorney   Y
      |SAUSA        Special Assistant         Y
      |*            Redacted position         N
      |
      |End of file.
      |""".stripMargin

  val globalLions: String =
    """GS_DISTRICT
      |
      |Code Name
      |---- --------------------------
      |FLM  Middle District of Florida
      |CT   District of Connecticut
      |
      |GS_OFFENSE
      |
      |Code Title
      |---- -------------------
      |0100 Official Corruption
      |0200 Narcotics
      |""".stripMargin

  /** Write the fixture zip and return its path. Data files are latin-1,
    * global_LIONS.txt utf-8, matching the reference's encoding split.
    */
  def writeZip(dir: Path): Path = {
    val zipPath = dir.resolve("ncd_fixture.zip")
    val out = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
    def add(name: String, content: String, utf8: Boolean = false): Unit = {
      out.putNextEntry(new ZipEntry(name))
      val cs = if (utf8) StandardCharsets.UTF_8 else StandardCharsets.ISO_8859_1
      out.write(content.getBytes(cs))
      out.closeEntry()
    }
    add("README.TXT", readme)
    add("gs_case_FLM.txt", gsCaseFlm)
    add("gs_case_CT.txt", gsCaseCt)
    add("gs_court_hist.txt", gsCourtHist)
    add("table_gs_position.txt", lookupGsPosition)
    add("global_LIONS.txt", globalLions, utf8 = true)
    out.close()
    zipPath
  }

  def tempZip(): Path = writeZip(Paths.get(StagedArtifacts.tempDir("ncd_fixture_")))

  // -------------------------------------------------------------------
  // Second-release zip: the multi-zip accumulation fixture. Carries a
  // REVISED gs_case_FLM.txt (one row, caseid 6) and a brand-new
  // gs_case_NY.txt, and NO court-hist/global/lookup members. Loading it
  // after [[writeZip]] must (reference semantics, athena.py:92-111):
  // replace ONLY the FLM partition, leave CT untouched, add NY, and not
  // touch any table the zip has no files for.
  // -------------------------------------------------------------------
  val gsCaseFlmRev: String = Seq(
    caseLine("0000000006", "FLM", "02-DEC-2017", "21:USC:841", "99.25"),
  ).mkString("", "\n", "\n")

  val gsCaseNy: String = Seq(
    caseLine("0000000007", "NY", "03-MAR-2018", "18:USC:1962", "42.00"),
  ).mkString("", "\n", "\n")

  /** Write the second-release zip and return its path. */
  def writeZipB(dir: Path): Path = {
    val zipPath = dir.resolve("ncd_fixture_b.zip")
    val out = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
    def add(name: String, content: String): Unit = {
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes(StandardCharsets.ISO_8859_1))
      out.closeEntry()
    }
    add("README.TXT", readme)
    add("gs_case_FLM.txt", gsCaseFlmRev)
    add("gs_case_NY.txt", gsCaseNy)
    out.close()
    zipPath
  }

  def tempZipB(): Path = writeZipB(Paths.get(StagedArtifacts.tempDir("ncd_fixture_b_")))
}
