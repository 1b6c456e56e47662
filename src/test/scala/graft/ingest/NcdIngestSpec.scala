package graft.ingest

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.TestSpark

/** End-to-end: fixture zip → distributed convert → partitioned gzip JSON →
  * catalog registration → SQL over the loaded tables. The Spark analog of
  * driving the reference's DataZip.load() against AthenaMock.
  */
class NcdIngestSpec extends AnyFunSuite with Eventually {
  private lazy val spark = TestSpark.spark

  private lazy val warehouse =
    Files.createTempDirectory("ncd_out_").toString
  private lazy val ingest = {
    val ing = new NcdIngest(spark, warehouse, db = "ncd")
    ing.loadZip(Fixtures.tempZip().toString)
    ing
  }

  test("loads all tables in deterministic order") {
    assert(ingest.loaded.toSeq === Seq(
      "GS_CASE", "GS_COURT_HIST",          // normal, sorted
      "GS_DISTRICT", "GS_OFFENSE",          // global, sorted
      "GS_POSITION"))                       // lookups, sorted
  }

  test("partitioned table gets Hive district layout + MSCK") {
    val dirs = new java.io.File(s"$warehouse/ncd/GS_CASE").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs === Array("filename_district=CT", "filename_district=FLM"))
    assert(ingest.ddlLog.exists(_.startsWith("MSCK REPAIR TABLE ncd.GS_CASE")))
    // gzip JSON files inside
    val files = new java.io.File(s"$warehouse/ncd/GS_CASE/filename_district=FLM")
      .listFiles().map(_.getName)
    assert(files.exists(f => f.startsWith("part-") && f.endsWith(".json.gz")))
  }

  test("unpartitioned table (no district suffix) has no partition dirs") {
    val dirs = new java.io.File(s"$warehouse/ncd/GS_COURT_HIST").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(!dirs.exists(_.startsWith("filename_district=")))
    assert(!ingest.ddlLog.exists(
      _.startsWith("MSCK REPAIR TABLE ncd.GS_COURT_HIST")))
  }

  test("normal table queryable with typed values and redaction flags") {
    val df = spark.table("ncd.GS_CASE")
    assert(df.count() === 5)
    import spark.implicits._
    val flm = df.filter($"filename_district" === "FLM")
    assert(flm.count() === 4)
    val redactedDates = df.filter($"redacted_FILE_DATE").count()
    assert(redactedDates === 1)
    val loss = df.filter($"CASEID" === 1L)
      .select($"TOTAL_LOSS").as[Double].head()
    assert(loss === 1234.50)
  }

  test("district filter prunes to one partition directory") {
    import spark.implicits._
    val plan = spark.table("ncd.GS_CASE")
      .filter($"filename_district" === "FLM")
      .queryExecution.executedPlan.toString
    // partition pruning: only the FLM directory is scanned
    assert(!plan.contains("filename_district=CT"))
  }

  test("district filter scans EXACTLY the one matching partition's files") {
    // The layout's entire query-side payoff (the reference partitions for
    // this: ncd/athena.py:101-109) asserted at plan level, not directory
    // naming: the pushed partition predicate must reach the file-source
    // scan and cut the selected partitions to exactly one, whose files
    // all live under the matching Hive directory.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val df = spark.table("ncd.GS_CASE").filter($"filename_district" === "CT")
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in the executed plan"))
    // the predicate was classified as a partition filter (the
    // PruneFileSourcePartitions path), not a post-scan data filter
    assert(scan.partitionFilters.exists(_.toString.contains("filename_district")))
    val selected = scan.selectedPartitions
    assert(selected.partitionCount === 1)
    val scannedFiles = selected.toPartitionArray.map(_.urlEncodedPath)
    assert(scannedFiles.nonEmpty)
    assert(scannedFiles.forall(_.contains("filename_district=CT")))
    // and it genuinely pruned: the table has more data files than the scan
    val allFiles = Seq("CT", "FLM").flatMap { d =>
      Option(new java.io.File(s"$warehouse/ncd/GS_CASE/filename_district=$d")
        .listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))
    }
    assert(scannedFiles.length < allFiles.length)
    // unpruned twin reads every partition — the counter-witness
    val full = spark.table("ncd.GS_CASE")
    val fullScan = full.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: FileSourceScanExec => s }.get
    assert(fullScan.selectedPartitions.partitionCount === 2)
  }

  test("global tables load all-string with boolean flags") {
    val df = spark.table("ncd.GS_DISTRICT")
    assert(df.columns.toSeq === Seq("CODE", "NAME", "redacted_CODE",
      "redacted_NAME"))
    import spark.implicits._
    val name = df.filter($"CODE" === "FLM").select($"NAME").as[String].head()
    assert(name === "Middle District of Florida")
  }

  test("lookup table loads with camelCase-normalized headers") {
    val df = spark.table("ncd.GS_POSITION")
    assert(df.columns.take(3).toSeq ===
      Seq("POSITION_CODE", "DESCRIPTION", "ACTIVE_FLAG"))
    import spark.implicits._
    // redacted cell: empty-string value + flag true (global-table quirk)
    val red = df.filter($"redacted_POSITION_CODE")
    assert(red.count() === 1)
    assert(red.select($"POSITION_CODE").as[String].head() === "")
  }

  test("join loaded case table to loaded codebook (the Athena use case)") {
    val out = spark.sql(
      """SELECT d.NAME, count(*) AS n
        |FROM ncd.GS_CASE c JOIN ncd.GS_DISTRICT d
        |  ON c.filename_district = d.CODE
        |GROUP BY d.NAME ORDER BY d.NAME""".stripMargin).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(
      ("District of Connecticut", 1L),
      ("Middle District of Florida", 4L)))
  }

  test("parquet mirror registers a splittable columnar twin") {
    val wh = Files.createTempDirectory("ncd_mirror_").toString
    val ing = new NcdIngest(spark, wh, db = "ncdm", parquetMirror = true)
    ing.loadZip(Fixtures.tempZip().toString)
    import spark.implicits._
    val mirror = spark.table("ncdm.GS_CASE_parquet")
    assert(mirror.count() === 5)
    // partition column survives the mirror and prunes
    assert(mirror.filter($"filename_district" === "FLM").count() === 4)
    // values identical to the JSON-backed table
    val a = spark.table("ncdm.GS_CASE").select("CASEID", "TOTAL_LOSS")
      .collect().map(_.toString).sorted
    val b = mirror.select("CASEID", "TOTAL_LOSS")
      .collect().map(_.toString).sorted
    assert(a === b)
  }

  test("warehouse accepts an explicit Hadoop FS URI (the s3a:// code path)") {
    // same code path a real bucket takes: the warehouse is an arbitrary
    // Hadoop FS URI string (here file://, on a cluster s3a://) — writes,
    // DDL LOCATION, and MSCK all go through the Hadoop FileSystem API
    val dir = Files.createTempDirectory("ncd_uri_")
    val wh = s"file://$dir"
    val ing = new NcdIngest(spark, wh, db = "ncduri")
    ing.loadZip(Fixtures.tempZip().toString)
    assert(spark.table("ncduri.GS_CASE").count() === 5)
    import spark.implicits._
    assert(spark.table("ncduri.GS_CASE")
      .filter($"filename_district" === "FLM").count() === 4)
    // the registered location carries the scheme
    val loc = spark.sql("DESCRIBE TABLE EXTENDED ncduri.GS_CASE")
      .filter($"col_name" === "Location").select("data_type").as[String].head()
    assert(loc.startsWith("file:/"))
  }

  test("second zip accumulates districts per-partition (reference " +
      "athena.py:92-111 key layout)") {
    // zip B revises FLM (one row, caseid 6) and adds NY; it carries no
    // CT file and no court-hist member. After loading it on top of zip
    // A: CT must SURVIVE (static whole-table overwrite would wipe it),
    // FLM must be exactly zip B's revision, NY must appear, and
    // GS_COURT_HIST must be untouched.
    import spark.implicits._
    val wh = Files.createTempDirectory("ncd_multi_").toString
    val ing = new NcdIngest(spark, wh, db = "ncdmulti")
    ing.loadZip(Fixtures.tempZip().toString)
    ing.loadZip(Fixtures.tempZipB().toString)
    val byDistrict = spark.table("ncdmulti.GS_CASE")
      .groupBy("filename_district")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.max("CASEID").as("mx"))
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(byDistrict.map(t => (t._1, t._2)).toSeq ===
      Seq(("CT", 1L), ("FLM", 1L), ("NY", 1L)))
    assert(byDistrict.collect { case ("FLM", _, mx) => mx }.head === 6L)
    assert(spark.table("ncdmulti.GS_COURT_HIST").count() === 3)
  }

  test("DDL log captures CREATE DATABASE / CREATE TABLE golden shapes") {
    assert(ingest.ddlLog.head === "CREATE DATABASE IF NOT EXISTS ncd")
    val caseDdl = ingest.ddlLog.find(_.contains("ncd.GS_CASE (")).get
    assert(caseDdl.contains("CASEID BIGINT"))
    assert(caseDdl.contains("FILE_DATE DATE"))
    assert(caseDdl.contains("TOTAL_LOSS DOUBLE"))
    assert(caseDdl.contains("redacted_TOTAL_LOSS BOOLEAN"))
    assert(caseDdl.contains("PARTITIONED BY (filename_district)"))
    val lookupDdl = ingest.ddlLog.find(_.contains("ncd.GS_POSITION (")).get
    assert(lookupDdl.contains("POSITION_CODE STRING"))
    assert(lookupDdl.contains("redacted_POSITION_CODE BOOLEAN"))
  }

  /** The fixture zip loaded with the mirror on, and every file write the
    * load made: (output table directory, whether the write scanned
    * fixed-width text).
    */
  private lazy val (mirrored, mirroredWh, mirroredWrites) = {
    val wh = Files.createTempDirectory("ncd_on_").toString
    val writes = new ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
                    durationNs: Long): Unit = qe.analyzed.foreach {
        case w: InsertIntoHadoopFsRelationCommand =>
          val scansText = w.query.exists {
            case l: LogicalRelation => l.relation match {
              case h: HadoopFsRelation => h.fileFormat.isInstanceOf[TextFileFormat]
              case _ => false
            }
            case _ => false
          }
          writes.add(w.outputPath.getName -> scansText)
        case _ =>
      }
      def onFailure(funcName: String, qe: QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val ing = new NcdIngest(spark, wh, db = "ncdon", parquetMirror = true)
    try {
      ing.loadZip(Fixtures.tempZip().toString)
      // two writes per normal table, one per global/lookup table
      eventually(timeout(Span(30, Seconds))) { assert(writes.size === 7) }
    } finally spark.listenerManager.unregister(listener)
    (ing, wh, writes.asScala.toSeq)
  }

  /** The whole DDL log of one fixture-zip load, as a load that writes and
    * registers one table after another emits it.
    */
  private def fixtureDdl(db: String, wh: String,
                         mirror: Boolean): Seq[String] = {
    def loc(table: String) = s"$wh/$db/$table"
    val caseMirror = Seq(
      s"""CREATE TABLE IF NOT EXISTS $db.GS_CASE_parquet (
         |    CASEID BIGINT,
         |    DISTRICT STRING,
         |    FILE_DATE DATE,
         |    LEAD_CHARGE STRING,
         |    TOTAL_LOSS DOUBLE,
         |    redacted_CASEID BOOLEAN,
         |    redacted_DISTRICT BOOLEAN,
         |    redacted_FILE_DATE BOOLEAN,
         |    redacted_LEAD_CHARGE BOOLEAN,
         |    redacted_TOTAL_LOSS BOOLEAN,
         |    filename_district STRING
         |)
         |USING parquet
         |PARTITIONED BY (filename_district)
         |LOCATION '${loc("GS_CASE")}__parquet'""".stripMargin,
      s"MSCK REPAIR TABLE $db.GS_CASE_parquet")
    val histMirror = Seq(
      s"""CREATE TABLE IF NOT EXISTS $db.GS_COURT_HIST_parquet (
         |    CASEID BIGINT,
         |    EVENT_DATE DATE,
         |    EVENT_TYPE STRING,
         |    redacted_CASEID BOOLEAN,
         |    redacted_EVENT_DATE BOOLEAN,
         |    redacted_EVENT_TYPE BOOLEAN
         |)
         |USING parquet
         |LOCATION '${loc("GS_COURT_HIST")}__parquet'""".stripMargin)
    val caseJson =
      s"""CREATE TABLE IF NOT EXISTS $db.GS_CASE (
         |    CASEID BIGINT,
         |    DISTRICT STRING,
         |    FILE_DATE DATE,
         |    LEAD_CHARGE STRING,
         |    TOTAL_LOSS DOUBLE,
         |    redacted_CASEID BOOLEAN,
         |    redacted_DISTRICT BOOLEAN,
         |    redacted_FILE_DATE BOOLEAN,
         |    redacted_LEAD_CHARGE BOOLEAN,
         |    redacted_TOTAL_LOSS BOOLEAN,
         |    filename_district STRING
         |)
         |USING json
         |OPTIONS (compression 'gzip')
         |PARTITIONED BY (filename_district)
         |LOCATION '${loc("GS_CASE")}'""".stripMargin
    val histJson =
      s"""CREATE TABLE IF NOT EXISTS $db.GS_COURT_HIST (
         |    CASEID BIGINT,
         |    EVENT_DATE DATE,
         |    EVENT_TYPE STRING,
         |    redacted_CASEID BOOLEAN,
         |    redacted_EVENT_DATE BOOLEAN,
         |    redacted_EVENT_TYPE BOOLEAN
         |)
         |USING json
         |OPTIONS (compression 'gzip')
         |LOCATION '${loc("GS_COURT_HIST")}'""".stripMargin
    val strings = Seq(
      s"""CREATE TABLE IF NOT EXISTS $db.GS_DISTRICT (
         |    CODE STRING,
         |    NAME STRING,
         |    redacted_CODE BOOLEAN,
         |    redacted_NAME BOOLEAN
         |)
         |USING json
         |OPTIONS (compression 'gzip')
         |LOCATION '${loc("GS_DISTRICT")}'""".stripMargin,
      s"""CREATE TABLE IF NOT EXISTS $db.GS_OFFENSE (
         |    CODE STRING,
         |    TITLE STRING,
         |    redacted_CODE BOOLEAN,
         |    redacted_TITLE BOOLEAN
         |)
         |USING json
         |OPTIONS (compression 'gzip')
         |LOCATION '${loc("GS_OFFENSE")}'""".stripMargin,
      s"""CREATE TABLE IF NOT EXISTS $db.GS_POSITION (
         |    POSITION_CODE STRING,
         |    DESCRIPTION STRING,
         |    ACTIVE_FLAG STRING,
         |    redacted_POSITION_CODE BOOLEAN,
         |    redacted_DESCRIPTION BOOLEAN,
         |    redacted_ACTIVE_FLAG BOOLEAN
         |)
         |USING json
         |OPTIONS (compression 'gzip')
         |LOCATION '${loc("GS_POSITION")}'""".stripMargin)
    Seq(s"CREATE DATABASE IF NOT EXISTS $db", caseJson,
      s"MSCK REPAIR TABLE $db.GS_CASE") ++
      (if (mirror) caseMirror else Nil) ++ Seq(histJson) ++
      (if (mirror) histMirror else Nil) ++ strings
  }

  private val fixtureTables =
    Seq("GS_CASE", "GS_COURT_HIST", "GS_DISTRICT", "GS_OFFENSE", "GS_POSITION")

  test("concurrent load: full DDL log and load order are the sequential " +
      "ones, mirror off and on") {
    assert(ingest.ddlLog.toSeq === fixtureDdl("ncd", warehouse, mirror = false))
    assert(ingest.loaded.toSeq === fixtureTables)
    assert(mirrored.ddlLog.toSeq === fixtureDdl("ncdon", mirroredWh, mirror = true))
    assert(mirrored.loaded.toSeq === fixtureTables)
  }

  /** Rows of a table as strings, grouped by district ("" unpartitioned). */
  private def rowsByDistrict(table: String,
                             columns: Seq[String]): Map[String, Seq[String]] = {
    val df = spark.table(table)
    val district =
      if (df.columns.contains("filename_district")) df("filename_district")
      else org.apache.spark.sql.functions.lit("")
    df.select(district +: columns.map(df(_)): _*).collect().toSeq
      .groupBy(_.getString(0))
      .map { case (d, rows) => d -> rows.map(_.toString).sorted }
  }

  test("JSON rows are the same per district with the mirror off and on") {
    mirrored
    for (table <- Seq("GS_CASE", "GS_COURT_HIST")) {
      val columns = spark.table(s"ncd.$table").columns.toSeq
        .filterNot(_ == "filename_district")
      val off = rowsByDistrict(s"ncd.$table", columns)
      assert(off.values.map(_.size).sum > 0)
      assert(rowsByDistrict(s"ncdon.$table", columns) === off)
      assert(rowsByDistrict(s"ncdon.${table}_parquet", columns) === off)
    }
  }

  test("mirror on: exactly one write per normal table scans the text") {
    // the parse feeds the mirror; the JSON table is written from the mirror
    val textScans = mirroredWrites.filter(_._2).map(_._1).sorted
    assert(textScans === Seq("GS_CASE__parquet", "GS_COURT_HIST__parquet"))
    assert(mirroredWrites.map(_._1).sorted === Seq("GS_CASE",
      "GS_CASE__parquet", "GS_COURT_HIST", "GS_COURT_HIST__parquet",
      "GS_DISTRICT", "GS_OFFENSE", "GS_POSITION"))
  }

  test("second zip with the mirror on: JSON and mirror agree per district, " +
      "and only the zip's own districts are rewritten") {
    import spark.implicits._
    val wh = Files.createTempDirectory("ncd_multi_mirror_").toString
    val ing = new NcdIngest(spark, wh, db = "ncdmm", parquetMirror = true)
    ing.loadZip(Fixtures.tempZip().toString)
    def partFiles(dir: String): Seq[String] =
      Option(new File(s"$wh/ncdmm/$dir").listFiles()).toSeq.flatten
        .map(_.getName).filter(_.startsWith("part-")).sorted
    val untouched = Seq("GS_CASE/filename_district=CT",
      "GS_CASE__parquet/filename_district=CT", "GS_COURT_HIST",
      "GS_COURT_HIST__parquet")
    val before = untouched.map(partFiles)
    assert(before.forall(_.nonEmpty))

    ing.loadZip(Fixtures.tempZipB().toString)
    // part-file names carry the writing job's id: a rewrite renames them
    assert(untouched.map(partFiles) === before)
    val columns = spark.table("ncdmm.GS_CASE").columns.toSeq
      .filterNot(_ == "filename_district")
    val json = rowsByDistrict("ncdmm.GS_CASE", columns)
    assert(rowsByDistrict("ncdmm.GS_CASE_parquet", columns) === json)
    assert(json.map { case (d, rows) => d -> rows.size } ===
      Map("CT" -> 1, "FLM" -> 1, "NY" -> 1))
    val flm = spark.table("ncdmm.GS_CASE")
      .filter($"filename_district" === "FLM").select($"CASEID").as[Long]
    assert(flm.collect().toSeq === Seq(6L))
    assert(spark.table("ncdmm.GS_COURT_HIST").count() === 3)
    assert(spark.table("ncdmm.GS_COURT_HIST_parquet").count() === 3)
  }

  test("a partitioned table's parsing write is one text scan and no union, " +
      "whatever its district count") {
    // three district members of GS_CASE and the unpartitioned court history
    val zipPath = Files.createTempDirectory("ncd_three_").resolve("three.zip")
    val out = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
    try Seq("README.TXT" -> Fixtures.readme,
      "gs_case_CT.txt" -> Fixtures.gsCaseCt,
      "gs_case_FLM.txt" -> Fixtures.gsCaseFlm,
      "gs_case_NY.txt" -> Fixtures.gsCaseNy,
      "gs_court_hist.txt" -> Fixtures.gsCourtHist).foreach { case (n, text) =>
      out.putNextEntry(new ZipEntry(n))
      out.write(text.getBytes(StandardCharsets.ISO_8859_1))
      out.closeEntry()
    } finally out.close()

    // output table directory -> (text scans, unions) of its write's plan
    object Plans extends AdaptiveSparkPlanHelper
    val writes = new ConcurrentLinkedQueue[(String, (Int, Int))]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
                    durationNs: Long): Unit = qe.analyzed.foreach {
        case w: InsertIntoHadoopFsRelationCommand =>
          val nodes = Plans.collectWithSubqueries(qe.executedPlan) { case p => p }
          val textScans = nodes.count {
            case s: FileSourceScanExec =>
              s.relation.fileFormat.isInstanceOf[TextFileFormat]
            case _ => false
          }
          writes.add(w.outputPath.getName ->
            (textScans, nodes.count(_.isInstanceOf[UnionExec])))
        case _ =>
      }
      def onFailure(funcName: String, qe: QueryExecution,
                    exception: Exception): Unit = ()
    }
    val wh = Files.createTempDirectory("ncd_three_wh_").toString
    spark.listenerManager.register(listener)
    try {
      new NcdIngest(spark, wh, db = "ncdthree").loadZip(zipPath.toString)
      eventually(timeout(Span(30, Seconds))) { assert(writes.size === 2) }
    } finally spark.listenerManager.unregister(listener)

    val plans = writes.asScala.toMap
    assert(plans("GS_CASE") === (1, 0))
    assert(plans("GS_COURT_HIST") === (1, 0))
    val table = spark.table("ncdthree.GS_CASE")
    assert(table.schema("filename_district").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(rowsByDistrict("ncdthree.GS_CASE", Seq("CASEID"))
      .map { case (d, rows) => d -> rows.size } ===
      Map("CT" -> 1, "FLM" -> 4, "NY" -> 1))
  }

  /** The fixture zip with `member` added, or replaced if present. */
  private def fixtureZipWith(member: String,
                             content: Array[Byte]): java.nio.file.Path = {
    val zipPath = Files.createTempDirectory("ncd_variant_").resolve("v.zip")
    val fixture = new ZipFile(Fixtures.tempZip().toFile)
    val out = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
    try {
      fixture.entries().asScala.filter(_.getName != member).foreach { e =>
        out.putNextEntry(new ZipEntry(e.getName))
        out.write(fixture.getInputStream(e).readAllBytes())
        out.closeEntry()
      }
      out.putNextEntry(new ZipEntry(member))
      out.write(content)
      out.closeEntry()
    } finally {
      out.close()
      fixture.close()
    }
    zipPath
  }

  test("a failing unit is rethrown after every unit has finished") {
    // the fixture zip plus a codebook member with no GS_* name
    val zipPath = fixtureZipWith("table_gs_bad.txt",
      "not a codebook\n".getBytes(StandardCharsets.ISO_8859_1))
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def scratchDirs(): Set[String] =
      tmp.listFiles().map(_.getName).filter(_.startsWith("ncd_zip_")).toSet
    val scratchBefore = scratchDirs()

    val wh = Files.createTempDirectory("ncd_bad_wh_").toString
    val ing = new NcdIngest(spark, wh, db = "ncdbad")
    val e = intercept[IllegalArgumentException](ing.loadZip(zipPath.toString))
    assert(e.getMessage === "no GS_* table name found")
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(scratchDirs() === scratchBefore)
    // the tables before the failed unit are registered, none after it
    assert(ing.loaded.toSeq === fixtureTables.take(4))
  }

  test("a global_LIONS.txt with CRLF or CR line ends loads the LF tables") {
    for ((eol, db) <- Seq("\r\n" -> "ncd_crlf", "\r" -> "ncd_cr")) {
      val zip = fixtureZipWith("global_LIONS.txt",
        Fixtures.globalLions.replace("\n", eol).getBytes(StandardCharsets.UTF_8))
      val ing = new NcdIngest(spark,
        Files.createTempDirectory(s"${db}_wh_").toString, db = db)
      ing.loadZip(zip.toString)
      assert(ing.loaded.toSeq === ingest.loaded.toSeq)
      for (table <- Seq("GS_DISTRICT", "GS_OFFENSE"))
        assert(spark.table(s"$db.$table").orderBy("CODE").collect().toSeq ===
          spark.table(s"ncd.$table").orderBy("CODE").collect().toSeq, table)
    }
  }
}
