package graft.ingest

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import scala.collection.mutable
import scala.util.{Failure, Try}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A22: per-zip orchestration — the Spark-native analog of
  * `DataZip.load()` (ncd/data_zip.py:40-52).
  *
  * Driver parses schemas/fragments (they're tiny and must exist before a
  * plan can be declared); executors do all row work. `global_LIONS.txt`
  * is split by one pass over its lines streamed from the archive, with no
  * Spark job and no extracted copy. The tables of a zip are independent,
  * so each normal table, each `global_LIONS.txt` table and each
  * `table_gs_*` codebook is one unit of work, and a zip's units
  * run concurrently on a pool bounded by the session's default
  * parallelism: a table too small to fill the cores (an unpartitioned
  * table, a codebook) no longer holds the session alone. Each normal
  * table's conversion is one narrow, shuffle-free Spark job over one text
  * scan of all its district files (one generated parse class per table),
  * written with `partitionBy` so the Hive layout matches the reference
  * byte-for-byte in structure.
  *
  * With the parquet mirror on, each table's text is parsed once: the parse
  * feeds the mirror, and the gzip JSON table is written from the mirror
  * just written.
  *
  * Registration is not concurrent. Every DDL statement runs on the calling
  * thread after all of the zip's writes have landed, in the reference's
  * deterministic sorted table order, and is recorded in `ddlLog` — the
  * test seam the reference provides via AthenaMock's query log
  * (ncd/athena_mock.py:42-51). When a unit fails, the load waits for the
  * others, registers the tables before the failed one and rethrows its
  * error: the catalog ends as a one-table-at-a-time load would leave it.
  */
final class NcdIngest(spark: SparkSession, warehouseDir: String,
                      db: String = "ncd",
                      parquetMirror: Boolean = false) {
  import NcdIngest.Written

  val ddlLog: mutable.Buffer[String] = mutable.Buffer.empty
  /** Tables loaded, in load order. */
  val loaded: mutable.Buffer[String] = mutable.Buffer.empty

  private def runDdl(sql: String): Unit = {
    ddlLog += sql
    spark.sql(sql)
  }

  private def tableLocation(table: String): String =
    s"$warehouseDir/$db/$table"

  def createDatabase(): Unit = runDdl(Sink.createDatabaseSql(db))

  /** Load every table in the zip: normal (fixed-width) tables first, then
    * global_LIONS.txt stacked tables, then table_gs_* lookups. The tables
    * are written concurrently and registered in that order.
    */
  def loadZip(zipPath: String): Seq[String] = {
    createDatabase()
    val alreadyLoaded = loaded.size
    val zip = new ZipSource(zipPath)
    val scratch = Files.createTempDirectory("ncd_zip_")
    try {
      val schemas =
        if (zip.hasMember("README.TXT"))
          SchemaParser.parse(zip.readMember("README.TXT", "ISO-8859-1"))
        else Map.empty[String, TableSpec]

      val units = schemas.keys.toSeq.sorted.map { name =>
        () => writeNormalTable(zip, schemas(name), scratch)
      } ++ globalTableUnits(zip) ++ lookupTableUnits(zip)
      // register in unit order; the first failed unit stops registration
      // there and is rethrown, as if the tables had loaded one by one
      NcdIngest.runAll(units, spark.sparkContext.defaultParallelism)
        .foreach(_.get.foreach { w =>
          w.ddl.foreach(runDdl)
          loaded += w.table
        })
      loaded.drop(alreadyLoaded).toSeq
    } finally {
      zip.close()
      // writes are eager (every table has landed when runAll returns), so
      // the extracted members are dead weight the moment loadZip returns —
      // without this, a 24-zip ImportAll accumulates GBs of scratch on the
      // driver for the process lifetime.
      deleteRecursively(scratch)
    }
  }

  private def deleteRecursively(dir: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      // the walk stream holds open directory handles — close it before
      // deleting, or a 24-zip ImportAll leaks one fd per archive
      val paths = try walk.iterator().asScala.toSeq finally walk.close()
      paths.reverseIterator.foreach(Files.deleteIfExists(_))
    }
  }

  /** The DDL that registers a written table, built from the schema of the
    * frame that was written, then `MSCK REPAIR` when it is partitioned.
    */
  private def registerDdl(table: String, schema: StructType,
                          format: String, isPartitioned: Boolean,
                          location: String): Seq[String] =
    Sink.tableDdl(db, table, schema, format, isPartitioned, location) +:
      (if (isPartitioned) Seq(s"MSCK REPAIR TABLE $db.$table") else Nil)

  /** One normal table: discover district files, extract them under one
    * directory per table, convert them with one text scan, write
    * partitioned gzip JSON (and the parquet mirror), and return the DDL
    * that registers them.
    *
    * A partitioned table's members land in Hive partition directories
    * (`<scratch>/<table>/filename_district=<D>/`), so the scan's partition
    * values supply `filename_district` and the fixed-width projection is
    * one whole-stage-codegen stage for the table, whatever its district
    * count. An unpartitioned or mixed table's files sit flat in
    * `<scratch>/<table>/`.
    *
    * With the mirror on, the parse feeds only the mirror write, and the
    * JSON table is read back from the mirror with the parse's schema. The
    * read-back is restricted to this zip's districts, so districts an
    * earlier zip left in the mirror are not rewritten.
    */
  private def writeNormalTable(zip: ZipSource, spec: TableSpec,
                               scratch: Path): Option[Written] = {
    val files = zip.dataFilesFor(spec.name)
    if (files.isEmpty) return None
    val isPartitioned = !files.keySet.contains(None)

    val tableDir = Files.createDirectory(scratch.resolve(spec.name))
    files.foreach { case (district, member) =>
      val dir =
        if (isPartitioned) tableDir.resolve(s"filename_district=${district.get}")
        else tableDir
      zip.extractMember(member, dir)
    }
    val parsed = FixedWidth.read(spark, tableDir.toString, spec,
      partitionColumns = if (isPartitioned) Seq("filename_district") else Nil)

    val location = tableLocation(spec.name)
    val mirrorLocation = s"${location}__parquet"
    val json =
      if (!parquetMirror) parsed
      else {
        Sink.writeParquetMirror(parsed, mirrorLocation, isPartitioned)
        val mirrored = spark.read.schema(parsed.schema).parquet(mirrorLocation)
        if (!isPartitioned) mirrored
        else mirrored.where(
          col("filename_district").isin(files.keys.flatten.toSeq: _*))
      }
    Sink.writeJson(json, location, isPartitioned)

    // the mirror is registered as `<table>_parquet`, the splittable
    // columnar twin analytical queries should scan at scale
    val mirrorDdl =
      if (parquetMirror) registerDdl(s"${spec.name}_parquet", parsed.schema,
        "parquet", isPartitioned, mirrorLocation)
      else Nil
    Some(Written(spec.name,
      registerDdl(spec.name, json.schema, "json", isPartitioned, location) ++
        mirrorDdl))
  }

  /** A13/A14: one unit per table of the stacked global file, if present.
    * The member's UTF-8 lines are streamed from the archive and split on
    * the calling thread in one pass, before any unit runs; only the
    * fragments are held.
    */
  private def globalTableUnits(zip: ZipSource): Seq[() => Option[Written]] = {
    if (!zip.hasMember("global_LIONS.txt")) return Nil
    val tables =
      zip.withMemberLines("global_LIONS.txt", "UTF-8")(GlobalSplitter.split)
    tables.keys.toSeq.sorted.map { name =>
      () => Some(writeStringTable(name, RulerParser.parse(tables(name))))
    }
  }

  /** A15: one unit per table_gs_* codebook file. */
  private def lookupTableUnits(zip: ZipSource): Seq[() => Option[Written]] =
    zip.memberNames.filter(_.startsWith("table_gs_")).sorted.map { m =>
      () =>
        val (name, table) =
          LookupParser.parseTable(zip.readMember(m, "ISO-8859-1"))
        Some(writeStringTable(name, table))
    }

  /** Codebooks are tiny (hundreds of rows): build driver-side, then write
    * through the same distributed sink so layout/DDL stay uniform.
    */
  private def writeStringTable(name: String,
                               table: RulerParser.StringTable): Written = {
    val schema = StructType(
      table.dataColumns.map(c => StructField(c, StringType)) ++
        table.dataColumns.map(c => StructField(s"redacted_$c", BooleanType)))
    val rows = table.rows.map { case (data, flags) =>
      Row.fromSeq(data ++ flags)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)

    val location = tableLocation(name)
    Sink.writeJson(df, location, partitioned = false)
    Written(name, registerDdl(name, df.schema, "json", isPartitioned = false,
      location))
  }
}

object NcdIngest {
  /** A table whose data has landed, with the DDL that registers it. */
  private final case class Written(table: String, ddl: Seq[String])

  /** Run `units` on at most `threads` threads and return their outcomes in
    * order, once every unit has finished. The pool is created by this
    * call, so its threads inherit the caller's Spark local properties (job
    * group, scheduler pool, tags).
    */
  private def runAll[T](units: Seq[() => T],
                        threads: Int): Seq[Try[T]] = {
    val pool = Executors.newFixedThreadPool(threads.min(units.size).max(1))
    val futures =
      try units.map(u => pool.submit(new Callable[T] { def call(): T = u() }))
      finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    futures.map(f => Try(f.get()).recoverWith {
      case e: ExecutionException => Failure(e.getCause)
    })
  }
}
