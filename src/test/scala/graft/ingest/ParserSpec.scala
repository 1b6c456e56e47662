package graft.ingest

import java.io.{BufferedReader, StringReader}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

import graft.SpecFiles.tempPath

class SchemaParserSpec extends AnyFunSuite {

  test("parses README fragments into per-table field specs") {
    val specs = SchemaParser.parse(Fixtures.readme)
    assert(specs.keySet === Set("GS_CASE", "GS_COURT_HIST"))

    val gsCase = specs("GS_CASE")
    assert(gsCase.fields.map(_.name) ===
      Seq("CASEID", "DISTRICT", "FILE_DATE", "LEAD_CHARGE", "TOTAL_LOSS"))
    assert(gsCase.fields.map(f => (f.start, f.length)) ===
      Seq((1, 10), (11, 4), (15, 11), (26, 20), (46, 12)))
    assert(gsCase.fields.map(_.oracleType) === Seq(
      OracleType.Number, OracleType.Varchar, OracleType.OracleDate,
      OracleType.Varchar, OracleType.OracleFloat))
  }

  test("schema yields 2N columns: typed data then boolean flags") {
    val st = SchemaParser.parse(Fixtures.readme)("GS_COURT_HIST").structType
    assert(st.fieldNames === Array(
      "CASEID", "EVENT_DATE", "EVENT_TYPE",
      "redacted_CASEID", "redacted_EVENT_DATE", "redacted_EVENT_TYPE"))
  }

  test("unknown oracle type fails fast like the reference") {
    intercept[NotImplementedError](OracleType.parse("BLOB"))
  }

  test("empty README yields no specs") {
    assert(SchemaParser.parse("no tables here") === Map.empty)
  }
}

class RulerParserSpec extends AnyFunSuite {

  test("camelCase header normalization") {
    assert(RulerParser.normalizeFieldName("PositionCode") === "POSITION_CODE")
    assert(RulerParser.normalizeFieldName("Code") === "CODE")
    assert(RulerParser.normalizeFieldName("redacted_PositionCode") ===
      "redacted_POSITION_CODE")
  }

  test("ruler spans slice header and rows; '*' redacts to empty string") {
    val fragment =
      """Code Name
        |---- --------------------------
        |FLM  Middle District of Florida
        |*    Redacted""".stripMargin
    val t = RulerParser.parse(fragment)
    assert(t.dataColumns === Seq("CODE", "NAME"))
    assert(t.rows(0) === (Seq("FLM", "Middle District of Florida"),
      Seq(false, false)))
    assert(t.rows(1) === (Seq("", "Redacted"), Seq(true, false)))
  }

  test("short rows clamp instead of erroring") {
    val t = RulerParser.parse("A    B\n---- ----\nxy")
    assert(t.rows(0) === (Seq("xy", ""), Seq(false, false)))
  }
}

class GlobalSplitterSpec extends AnyFunSuite {

  /** Lines as `ZipSource.withMemberLines` yields them: ended by `\n`,
    * `\r\n` or `\r`, without the terminator.
    */
  private def linesOf(text: String): Iterator[String] =
    new BufferedReader(new StringReader(text)).lines().iterator().asScala

  // duplicate name (first occurrence wins), a bare name line NOT followed
  // by a blank (ends the previous fragment but starts nothing), trailing
  // blank lines (trimmed)
  private val nasty = Seq(
    "preamble junk", "",
    "GS_ALPHA", "",
    "Code Name", "---- ----", "A1 First", "",
    "EMBEDDED",
    "GS_BETA", "",
    "Code Desc", "---- ----", "B1 Second", "", "",
    "GS_ALPHA", "",
    "Code Name", "---- ----", "A2 Duplicate", "").mkString("\n")

  private val NameLine: Regex = "(?m)^([A-Z]\\S+)$".r
  private val NextName: Regex = "(?m)\\n*^[A-Z]\\S+$\\s*".r

  /** The earlier whole-string regex split, kept verbatim as the oracle for
    * LF text.
    */
  private def regexSplit(content: String): Map[String, String] = {
    val names = NameLine.findAllMatchIn(content).map(_.group(1)).toVector
    if (names.isEmpty) return Map.empty

    val starts = names.distinct.map { name =>
      val headerRe = ("(?m)^" + Regex.quote(name) + "\\n\\n").r
      headerRe.findFirstMatchIn(content) match {
        case Some(m) => Some(name -> m.end)
        case None    => None // name line not followed by blank line: skip
      }
    }.flatten

    val sortedByPos = starts.sortBy(_._2)
    sortedByPos.zipWithIndex.map { case ((name, start), i) =>
      val hardEnd =
        if (i + 1 < sortedByPos.size) {
          // end at the *name line* of the next table, not its content start
          val nextName = sortedByPos(i + 1)._1
          val nameRe = ("(?m)^" + Regex.quote(nextName) + "$").r
          nameRe.findAllMatchIn(content)
            .find(m => m.start > start).map(_.start).getOrElse(content.length)
        } else content.length
      var fragment = content.substring(start, hardEnd)
      // defensively truncate at any embedded bare name line (reference does
      // the same second-pass trim, ncd/global_file.py:159-162)
      NextName.findFirstMatchIn(fragment).foreach { m =>
        fragment = fragment.substring(0, m.start)
      }
      name -> fragment.trim
    }.toMap
  }

  test("splits stacked tables on bare name lines") {
    val tables = GlobalSplitter.split(linesOf(Fixtures.globalLions))
    assert(tables.keySet === Set("GS_DISTRICT", "GS_OFFENSE"))
    assert(tables("GS_DISTRICT").startsWith("Code Name"))
    assert(tables("GS_DISTRICT").endsWith("District of Connecticut"))
    assert(tables("GS_OFFENSE").endsWith("Narcotics"))
  }

  test("no name lines -> empty") {
    assert(GlobalSplitter.split(linesOf("nothing\nto see\n")) === Map.empty)
  }

  test("pinned fragments for the fixture and the nasty input") {
    val fixture = Map(
      "GS_DISTRICT" -> Seq("Code Name", "---- --------------------------",
        "FLM  Middle District of Florida",
        "CT   District of Connecticut").mkString("\n"),
      "GS_OFFENSE" -> Seq("Code Title", "---- -------------------",
        "0100 Official Corruption", "0200 Narcotics").mkString("\n"))
    val nastyTables = Map(
      "GS_ALPHA" -> "Code Name\n---- ----\nA1 First",
      "GS_BETA" -> "Code Desc\n---- ----\nB1 Second")
    for ((text, expected) <- Seq(Fixtures.globalLions -> fixture,
                                 nasty -> nastyTables)) {
      assert(regexSplit(text) === expected)
      for (eol <- Seq("\n", "\r\n", "\r"))
        assert(GlobalSplitter.split(linesOf(text.replace("\n", eol))) ===
          expected, s"line end ${eol.map(_.toInt)}")
    }
  }

  test("generated inputs split as the regex split does on LF text") {
    val names = Seq("GS_A", "GS_B", "GS_C", "XY")
    val others = Seq("Code Name", "---- ----", "a1 x", "  indented", "x",
      "   ", "GS_A junk", "\tTab")
    val rng = new scala.util.Random(8)
    var nonEmpty = 0
    for (_ <- 1 to 500) {
      val lines = Seq.fill(rng.nextInt(24)) {
        rng.nextInt(10) match {
          case 0 | 1 | 2 => names(rng.nextInt(names.size))
          case 3 | 4 | 5 => ""
          case _         => others(rng.nextInt(others.size))
        }
      }
      val eol = Seq("\n", "\r\n", "\r")(rng.nextInt(3))
      val text = lines.mkString(eol) + (if (rng.nextBoolean()) eol else "")
      val lf = text.replace("\r\n", "\n").replace("\r", "\n")
      val expected = regexSplit(lf)
      if (expected.nonEmpty) nonEmpty += 1
      assert(GlobalSplitter.split(linesOf(text)) === expected,
        s"input ${text.map(_.toInt)}")
    }
    // the generator must actually start tables, not just produce noise
    assert(nonEmpty > 100, s"only $nonEmpty of 500 inputs had a table")
  }
}

class LookupParserSpec extends AnyFunSuite {

  test("extracts name and table body between blank regions") {
    val (name, table) = LookupParser.parseTable(Fixtures.lookupGsPosition)
    assert(name === "GS_POSITION")
    assert(table.dataColumns === Seq("POSITION_CODE", "DESCRIPTION", "ACTIVE_FLAG"))
    assert(table.rows.size === 3)
    assert(table.rows(0)._1 === Seq("AUSA", "Assistant U.S. Attorney", "Y"))
    // redacted cell: empty-string value + true flag (global-table quirk)
    assert(table.rows(2) === (Seq("", "Redacted position", "N"),
      Seq(true, false, false)))
  }
}

class ListingSpec extends AnyFunSuite {

  test("extracts .zip hrefs, resolves relative urls, forces https") {
    val html =
      """<html><body>
        |<a href="/foia/file1.zip">one</a>
        |<a href='http://example.gov/abs/file2.zip'>two</a>
        |<a href="not_a_zip.txt">nope</a>
        |<a href="file3.zip">three</a>
        |</body></html>""".stripMargin
    val urls = Listing.zipUrls(html, "http://doj.example.gov/listing/page.html")
    assert(urls === Seq(
      "https://doj.example.gov/foia/file1.zip",
      "https://example.gov/abs/file2.zip",
      "https://doj.example.gov/listing/file3.zip"))
  }

  test("survives exotic markup: attribute order, quoting, case, entities, comments") {
    val html =
      """<HTML><BODY>
        |<A CLASS="dl" HREF="/foia/file1.zip" id=x>one</A>
        |<a id="y" href=bare/file2.zip>two</a>
        |<a href='q.zip?a=1&amp;b=2'>query-suffixed: not href$=".zip"</a>
        |<!-- <a href="commented_out.zip">hidden</a> -->
        |<img src="pic.zip.png"><a name="no-href">anchor sans href</a>
        |</BODY></HTML>""".stripMargin
    val urls = Listing.zipUrls(html, "https://doj.example.gov/listing/page.html")
    // reference selector a[href$=".zip"]: suffix match on the whole href,
    // so the ?query URL is excluded there and here
    assert(urls === Seq(
      "https://doj.example.gov/foia/file1.zip",
      "https://doj.example.gov/listing/bare/file2.zip"))
  }

  test("decodes the standard minimal entity set in hrefs, not just &amp;") {
    val html =
      """<html><body>
        |<a href="a&amp;b.zip">amp</a>
        |<a href="n&#38;m.zip">numeric dec</a>
        |<a href="h&#x26;x.zip">numeric hex</a>
        |<a href="gt&gt;lt&lt;q&quot;ap&apos;.zip">others</a>
        |<a href="unknown&nope;.zip">unknown entity passes through</a>
        |<a href="big&#99999999;.zip">bad codepoint passes through</a>
        |</body></html>""".stripMargin
    val urls = Listing.zipUrls(html, "https://doj.example.gov/")
    assert(urls.contains("https://doj.example.gov/a&b.zip"))
    assert(urls.contains("https://doj.example.gov/n&m.zip"))
    assert(urls.contains("https://doj.example.gov/h&x.zip"))
    assert(urls.exists(_.endsWith("gt%3Elt%3Cq%22ap'.zip")) ||
      urls.exists(_.contains("gt>lt<q")), urls.toString)
    assert(Listing.decodeEntities("unknown&nope;.zip") === "unknown&nope;.zip")
    assert(Listing.decodeEntities("big&#99999999;.zip") === "big&#99999999;.zip")
    assert(Listing.decodeEntities("&lt;&gt;&quot;&apos;&amp;") === "<>\"'&")
    assert(Listing.decodeEntities("&#x41;&#66;") === "AB")
  }

  test("percent-encodes entity-decoded '%' and non-ASCII so resolve survives") {
    val html =
      """<html><body>
        |<a href="pct&#37;file.zip">stray percent from &#37;</a>
        |<a href="caf&#233;.zip">latin-1 from &#233;</a>
        |<a href="emoji&#128512;.zip">astral codepoint</a>
        |<a href="pre%2Fencoded.zip">existing escape untouched</a>
        |</body></html>""".stripMargin
    val urls = Listing.zipUrls(html, "https://doj.example.gov/")
    // none of these may throw in URI.resolve — that is the whole point
    assert(urls.contains("https://doj.example.gov/pct%25file.zip"))
    assert(urls.contains("https://doj.example.gov/caf%C3%A9.zip"))
    assert(urls.contains("https://doj.example.gov/emoji%F0%9F%98%80.zip"))
    assert(urls.contains("https://doj.example.gov/pre%2Fencoded.zip"))
  }

  test("escapes path brackets, keeps IPv6 authorities, drops only bad hrefs") {
    val html =
      """<html><body>
        |<a href="data[2020].zip">brackets in a filename</a>
        |<a href="http://[::1]/v6.zip">IPv6 literal authority</a>
        |<a href="good.zip">fine</a>
        |</body></html>""".stripMargin
    val urls = Listing.zipUrls(html, "https://doj.example.gov/")
    // bracket filename resolves percent-encoded instead of throwing
    assert(urls.contains("https://doj.example.gov/data%5B2020%5D.zip"),
      urls.toString)
    // a real IPv6 authority passes through verbatim (brackets are legal
    // there), scheme forced to https like every other URL
    assert(urls.contains("https://[::1]/v6.zip"), urls.toString)
    assert(urls.exists(_.endsWith("/good.zip")))
  }

  test("IPv6 zone-ID authority (RFC 6874 %25) passes through unescaped") {
    val html =
      """<a href="http://[fe80::1%25eth0]/link.zip">link-local + zone</a>"""
    val urls = Listing.zipUrls(html, "https://doj.example.gov/")
    // the encoded zone-ID's brackets and %25 must survive verbatim —
    // escaping the brackets would corrupt the authority
    assert(urls.contains("https://[fe80::1%25eth0]/link.zip"), urls.toString)
  }

  test("pipelined loadAll overlaps fetches but keeps deterministic order") {
    import java.nio.file.Files
    import scala.concurrent.ExecutionContext.Implicits.global
    val html = """<a href="a.zip">a</a> <a href="b.zip">b</a>"""
    val fetched = scala.collection.mutable.Buffer.empty[String]
    val ingest = new NcdIngest(graft.TestSpark.spark,
      tempPath("pipe_wh_").toString, db = "pipe")
    val loaded = Listing.loadAllPipelined(ingest, "https://x.example/ls",
      fetchPage = _ => html,
      fetchZip = { url =>
        fetched.synchronized { fetched += url }
        val dir = tempPath("pipe_zip_")
        Fixtures.writeZip(dir)
      })
    // both zips load all 5 fixture tables, in order, twice
    assert(loaded.size === 10)
    assert(loaded.take(5) === loaded.drop(5))
    assert(fetched.toSet === Set(
      "https://x.example/a.zip", "https://x.example/b.zip"))
  }
}
