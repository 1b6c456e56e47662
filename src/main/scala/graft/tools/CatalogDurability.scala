package graft.tools

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.ingest.NcdIngest

/** Catalog durability harness: proves ingested tables survive a full
  * process restart, the way the reference's tables survive in Athena's
  * catalog (ncd/normal_table.py:184-196).
  *
  * Spark's default in-memory catalog dies with the session; durability
  * requires a warehouse-backed metastore. This tool builds a Hive-support
  * session with a Derby metastore pinned to a caller-chosen directory and
  * runs one of two phases:
  *
  *   - `ingest <warehouse> <metastore> <zip>`: load the zip via
  *     [[NcdIngest]] (normal CREATE TABLE ... LOCATION DDL, no special
  *     casing), then exit — the JVM dies, the metastore files remain;
  *   - `read <warehouse> <metastore>`: a FRESH JVM re-attaches to the same
  *     metastore and reads `spark.table("ncd.gs_case")` WITHOUT re-running
  *     any DDL, printing `ROWS=<n>`.
  *
  * CatalogDurabilitySpec drives both phases as separate JVMs. On a real
  * cluster the same configuration points at a shared metastore (or Glue)
  * instead of local Derby — the code path is identical.
  */
object CatalogDurability {

  def session(warehouse: String, metastore: String): SparkSession =
    GraftSession.builder(2)
      .appName("graft-catalog-durability")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastore;create=true")
      .enableHiveSupport()
      .getOrCreate()

  def main(args: Array[String]): Unit = args.toList match {
    case "ingest" :: warehouse :: metastore :: zip :: Nil =>
      val spark = session(warehouse, metastore)
      val ingest = new NcdIngest(spark, warehouse)
      val tables = ingest.loadZip(zip)
      println(s"LOADED=${tables.mkString(",")}")
      spark.stop()
    case "read" :: warehouse :: metastore :: Nil =>
      val spark = session(warehouse, metastore)
      // no DDL here — the table must come out of the durable catalog
      val n = spark.table("ncd.gs_case").count()
      println(s"ROWS=$n")
      spark.stop()
    case other =>
      System.err.println(s"usage: ingest <wh> <ms> <zip> | read <wh> <ms>; got $other")
      sys.exit(2)
  }
}
