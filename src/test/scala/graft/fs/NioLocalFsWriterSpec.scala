package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{AnalysisException, DataFrame, DataFrameWriter,
  Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[NioLocalFs.writer]] against a plain `df.write`, whose `chmod` child
  * processes it removes: every mode must leave the same tree — paths,
  * `.crc` sidecars, `_SUCCESS`, POSIX modes and bytes — and the same
  * rows. Every DataFrame file write in `src/main/scala` goes through the
  * helper.
  */
class NioLocalFsWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Conf = DataFrameWriter[Row] => DataFrameWriter[Row]

  /** A file format and the options it is written and read with. */
  private case class Format(name: String, options: Map[String, String])
  private val formats = Seq(
    Format("json", Map("compression" -> "gzip")),
    Format("parquet", Map.empty),
    Format("csv", Map("header" -> "true")))

  /** A first write to a new location, then a second write over it. */
  private case class Scenario(name: String, first: Conf, second: Conf)
  private def partitioned(mode: String): Conf =
    _.mode("overwrite").option("partitionOverwriteMode", mode)
      .partitionBy("d")
  private val scenarios =
    Seq("overwrite", "append", "errorifexists", "ignore").map(m =>
      Scenario(m, identity, _.mode(m))) ++
    Seq("static", "dynamic").map(m =>
      Scenario(s"$m partition overwrite", _.partitionBy("d"), partitioned(m)))

  private def rows(from: Long, districts: String*): DataFrame =
    spark.range(from, from + 40).selectExpr("id", "concat('v', id) AS v",
      s"element_at(array(${districts.map(d => s"'$d'").mkString(", ")}), " +
        s"CAST(id % ${districts.size} + 1 AS INT)) AS d")
      .coalesce(2)

  private val Uuid =
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every entry under `root`: its relative path with part-file UUIDs
    * masked, its `st_mode` (type and permission bits) in octal, and a
    * file's bytes as a hex digest. */
  private def tree(root: JPath): Seq[(String, String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      (Uuid.replaceAllIn(root.relativize(p).toString, "<uuid>"),
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int].toOctalString,
        if (Files.isDirectory(p)) ""
        else MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString)
    }.toList.sorted
    finally walk.close()
  }

  /** The tree, the second write's error condition (if it failed) and the
    * rows read back, for one format and scenario written through `bind`. */
  private def outcome(bind: DataFrame => DataFrameWriter[Row], f: Format,
                      s: Scenario) = {
    val dir = Files.createTempDirectory("niowrite_").resolve("t")
    def write(df: DataFrame, conf: Conf): Unit =
      conf(bind(df).format(f.name).options(f.options)).save(dir.toString)
    write(rows(0, "A", "B"), s.first)
    val error =
      try { write(rows(100, "B", "C"), s.second); None }
      catch { case e: AnalysisException => Some(e.getCondition) }
    val back = spark.read.format(f.name).options(f.options)
      .load(dir.toString).collect()
      .map(_.toString).sorted.toSeq
    (tree(dir), error, back)
  }

  /** Bytes that went through [[NioRawLocalFileSystem]] in this JVM. */
  @annotation.nowarn("cat=deprecation")
  private def nioBytesWritten: Long =
    FileSystem.getStatistics("file", classOf[NioRawLocalFileSystem])
      .getBytesWritten

  for (f <- formats) test(s"${f.name}: the helper writes the tree and rows " +
      "of a plain write under every mode and partition overwrite") {
    val plains = for (s <- scenarios) yield {
      val before = nioBytesWritten
      val plain = outcome(_.write, f, s)
      assert(nioBytesWritten === before, "a plain write stays on Hadoop's file system")
      val nio = outcome(NioLocalFs.writer(_), f, s)
      assert(nioBytesWritten > before, "the helper writes through NioRawLocalFileSystem")
      assert(nio === plain, s"${f.name}, ${s.name}")
      plain
    }
    // the scenarios differ from each other, so each mode took effect
    assert(plains.distinct.size === scenarios.size)
  }

  test("the helper binds no file system beyond its own write") {
    val dir = Files.createTempDirectory("niowrite_scope_").resolve("t")
    NioLocalFs.writer(rows(0, "A")).parquet(dir.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.file.impl") === null)
    assert(!FileSystem.get(URI.create("file:///"), conf)
      .isInstanceOf[NioLocalFileSystem])
    assert(spark.conf.getOption("fs.file.impl").isEmpty)
  }

  test("saveAsTable stores writer options in the catalog table, so " +
      "src/main/scala has no saveAsTable write") {
    val table = "niowrite_bucketed"
    NioLocalFs.writer(spark.range(10).toDF("k")).mode("overwrite")
      .bucketBy(2, "k").format("parquet").saveAsTable(table)
    try {
      val storage = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
        .collectFirst { case r if r.getString(0) == "Storage Properties" =>
          r.getString(1) }
      assert(storage.exists(_.contains(classOf[NioLocalFileSystem].getName)),
        storage)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  /** Writes that need no helper, by file and sink, and why. */
  private val Exempt = Map(
    ("Bench.scala", "noop") -> "the noop sink writes no file",
    ("Probe.scala", "noop") -> "the noop sink writes no file",
    ("Relational.scala", "noop") -> "the noop sink writes no file")

  test("every DataFrame file write in src/main/scala goes through " +
      "NioLocalFs.writer") {
    // `ds.write`, not `out.write(bytes)` or `writeStream`
    val access = "\\.write\\b(?!\\s*\\()".r
    val sink = "\\.(json|parquet|csv|orc|text|save|saveAsTable|insertInto)\\s*\\(".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val sites = for {
      p <- files if p.getFileName.toString != "NioLocalFs.scala"
      src = Files.readString(p)
      m <- access.findAllMatchIn(src)
    } yield {
      val rest = src.substring(m.end)
      val kind = sink.findFirstMatchIn(rest).fold("no file sink") { t =>
        if (rest.substring(0, t.start).contains(".format(\"noop\")")) "noop"
        else t.group(1)
      }
      val line = src.substring(0, m.start).count(_ == '\n') + 1
      (p.getFileName.toString, kind, s"$p:$line")
    }
    val offenders = sites.collect {
      case (file, kind, at) if !Exempt.contains(file -> kind) => s"$at ($kind)"
    }
    assert(offenders.isEmpty,
      s"write files through graft.fs.NioLocalFs.writer: ${offenders.mkString(", ")}")
    // every exemption still names a site
    assert(Exempt.keySet === sites.map(s => s._1 -> s._2).toSet)
  }
}
