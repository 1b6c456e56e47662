package graft.ingest

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.charset.Charset
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.zip.{ZipEntry, ZipFile}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** A3-A4: zip member enumeration, member extraction, and per-table data-file
  * discovery (district suffix → partition value).
  *
  * Driver-side, like the reference (zip is a random-access format; the
  * archive must land whole before members can be read —
  * ncd/data_zip.py:42-50). Members are extracted to a scratch dir so the
  * *executors* can then read them in parallel via `spark.read.text`; for
  * dumps too big for driver disk the alternative is
  * `spark.read.format("binaryFile")` + a `ZipInputStream` flatMap, which
  * trades faithful ordering for executor-side decompression. Text members
  * the driver parses itself (README.TXT, the codebooks) are read whole;
  * `global_LIONS.txt` is streamed line by line through [[withMemberLines]],
  * so only its split fragments are held.
  */
final class ZipSource(zipPath: String) extends AutoCloseable {

  private val zip = new ZipFile(new File(zipPath))

  def memberNames: Seq[String] =
    zip.entries().asScala.map(_.getName).toVector

  private def entry(name: String): ZipEntry = {
    val e = zip.getEntry(name)
    require(e != null, s"no member $name in $zipPath")
    e
  }

  /** Read a member fully as a string in the given charset. */
  def readMember(name: String, charset: String): String = {
    val in = zip.getInputStream(entry(name))
    try new String(in.readAllBytes(), Charset.forName(charset))
    finally in.close()
  }

  /** Run `f` over a member's lines, decoded in the given charset and
    * streamed from the archive: a line ends at `\n`, `\r\n` or `\r`, as
    * in Hadoop's `LineRecordReader`, and carries no terminator. The
    * iterator is valid only inside `f`.
    */
  def withMemberLines[T](name: String, charset: String)
                        (f: Iterator[String] => T): T = {
    val reader = new BufferedReader(new InputStreamReader(
      zip.getInputStream(entry(name)), Charset.forName(charset)))
    try f(Iterator.continually(reader.readLine()).takeWhile(_ != null))
    finally reader.close()
  }

  def hasMember(name: String): Boolean = zip.getEntry(name) != null

  /** Extract a member to `destDir/name` and return the path.
    *
    * Entry names come from an untrusted archive (downloaded off a scraped
    * listing page), so the resolved destination is confined to `destDir`:
    * a zip-slip name like `../../etc/x` or an absolute entry name is
    * rejected instead of writing outside the scratch dir.
    */
  def extractMember(name: String, destDir: Path): Path = {
    val e = entry(name)
    val base = destDir.toAbsolutePath.normalize()
    val dest = base.resolve(name).normalize()
    require(dest.startsWith(base) && dest != base,
      s"zip entry '$name' escapes the extraction directory")
    Files.createDirectories(dest.getParent)
    val in = zip.getInputStream(e)
    try Files.copy(in, dest, StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    dest
  }

  /** A4: `{table}(_DISTRICT)?.txt` member discovery for one normal table
    * (ncd/normal_table.py:224-245). Key None = single file covering all
    * districts; the table is partitioned iff every file has a district.
    */
  def dataFilesFor(tableName: String): Map[Option[String], String] = {
    val pattern: Regex =
      ("^" + Regex.quote(tableName.toLowerCase) + "(?:_([A-Z]+))?\\.txt$").r
    memberNames.flatMap { member =>
      pattern.findFirstMatchIn(member).map(m => Option(m.group(1)) -> member)
    }.toMap
  }

  override def close(): Unit = zip.close()
}
