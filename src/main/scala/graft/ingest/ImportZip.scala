package graft.ingest

import graft.GraftSession

/** CLI analog of the reference's `import_zip.py`: load one NCD zip into the
  * session catalog + warehouse dir.
  *
  * Usage: ImportZip <zipPath> <warehouseDir> [dbName]
  */
object ImportZip {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ImportZip <zipPath> <warehouseDir> [db]")
    val zipPath = args(0)
    val warehouse = args(1)
    val db = if (args.length > 2) args(2) else "ncd"

    val spark = GraftSession.builder(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("ncd-import-zip")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ingest = new NcdIngest(spark, warehouse, db)
    val tables = ingest.loadZip(zipPath)
    tables.foreach { t =>
      val n = spark.table(s"$db.$t").count()
      println(s"loaded $db.$t rows=$n")
    }
    spark.stop()
  }
}
