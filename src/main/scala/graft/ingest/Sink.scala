package graft.ingest

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.types.StructType

import graft.fs.NioLocalFs

/** A10-A12 + A17-A20: gzipped JSON-lines sink with Hive-style district
  * partitions, plus catalog DDL.
  *
  * The reference uploads one `.json.gz` object per table/district to S3 and
  * points an Athena external table at it (ncd/athena.py:92-113,
  * ncd/normal_table.py:137-198). Here `DataFrameWriter` produces the same
  * layout (`<base>/<db>/<table>[/filename_district=XX]/part-*.json.gz`) —
  * on a cluster the same call writes through the S3A committer — and the
  * catalog entry is a Spark `CREATE TABLE ... USING json` (the drop-in for
  * `CREATE EXTERNAL TABLE ... JsonSerDe`), with `MSCK REPAIR TABLE` mapped
  * to `recoverPartitions`.
  *
  * Note gzip JSON is non-splittable: one task per file on read, exactly
  * mirroring the reference's one-object-per-district parallelism. The
  * idiomatic scale path is the parquet mirror (`writeParquetMirror`) — same
  * schema, splittable, columnar, an order of magnitude faster to scan.
  *
  * [[NcdIngest]] calls the writers from concurrent units, one per table;
  * each call writes only its own table's location, so they need no
  * coordination. With the mirror on, a normal table is written mirror
  * first and its JSON table from the mirror, so its text is parsed once.
  * [[tableDdl]] only builds a statement: NcdIngest runs the statements on
  * its calling thread, in table order, once every write has landed.
  *
  * The JSON table and the mirror are written through
  * [[graft.fs.NioLocalFs.writer]]: a local write makes its directories,
  * part files and `.crc` sidecars without a `chmod` child process.
  */
object Sink {

  /** A17. */
  def createDatabaseSql(db: String): String =
    s"CREATE DATABASE IF NOT EXISTS $db"

  /** A18/A19: the DDL that registers a written table, one column per field
    * of `schema` (the schema of the frame that was written) in order, each
    * typed with its Spark SQL name. A normal table's `filename_district` is
    * the last field of its schema; `partitioned` adds the PARTITIONED BY
    * clause naming it. A `json` table is gzip-compressed
    * (ncd/normal_table.py:184-196, ncd/global_file.py:192-203).
    */
  def tableDdl(db: String, name: String, schema: StructType, format: String,
               partitioned: Boolean, location: String): String = {
    val cols = schema.map(f => s"    ${f.name} ${f.dataType.sql}")
    val options =
      if (format == "json") "\nOPTIONS (compression 'gzip')" else ""
    val partitionClause =
      if (partitioned) "\nPARTITIONED BY (filename_district)" else ""
    s"""CREATE TABLE IF NOT EXISTS $db.$name (
       |${cols.mkString(",\n")}
       |)
       |USING $format$options$partitionClause
       |LOCATION '$location'""".stripMargin
  }

  /** The one spelling of a district table write, through the fork-free
    * [[graft.fs.NioLocalFs.writer]]: overwrite, and when partitioned, by
    * `filename_district` with dynamic partition overwrite — the
    * reference's per-district object key (athena.py:92-111). A later zip
    * carrying district D replaces ONLY `filename_district=D` and leaves
    * every other district's data in place, so multi-zip loads ACCUMULATE
    * districts; static overwrite would wipe the whole table location on
    * each zip. Unpartitioned tables upload a single `<table>.json.gz`
    * object in the reference, so whole-location overwrite is exactly
    * right there.
    */
  private def districtWriter(df: DataFrame,
                             partitioned: Boolean): DataFrameWriter[Row] = {
    val writer = NioLocalFs.writer(df).mode("overwrite")
    if (partitioned) writer
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("filename_district")
    else writer
  }

  /** A12: write the converted rows as gzipped JSON-lines in the reference's
    * partition layout. One file per district partition (`coalesce` per the
    * reference's one-object-per-district upload would bottleneck at scale,
    * so we let Spark keep its natural per-split parallelism).
    */
  def writeJson(df: DataFrame, location: String,
                partitioned: Boolean): Unit =
    districtWriter(df, partitioned).option("compression", "gzip").json(location)

  /** The 100-TB-scale mirror: identical rows, columnar + splittable. */
  def writeParquetMirror(df: DataFrame, location: String,
                         partitioned: Boolean): Unit =
    districtWriter(df, partitioned).parquet(location)
}
