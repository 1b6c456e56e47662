package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.GraftSession

/** CLI analog of the reference's `import_all.py`: scrape a DOJ listing
  * page, then download + load every linked zip (pipelined 2-deep).
  *
  * Usage: ImportAll <listingUrl> <warehouseDir> [dbName]
  */
object ImportAll {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ImportAll <listingUrl> <warehouseDir> [db]")
    val listingUrl = args(0)
    val warehouse = args(1)
    val db = if (args.length > 2) args(2) else "ncd"

    val spark = GraftSession.builder(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("ncd-import-all")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val http = HttpClient.newHttpClient()
    def fetchPage(url: String): String =
      http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()

    val ingest = new NcdIngest(spark, warehouse, db)
    import scala.concurrent.ExecutionContext.Implicits.global
    val tables = Listing.loadAllPipelined(ingest, listingUrl,
      fetchPage, url => Listing.download(url, http))
    tables.foreach(t => println(s"loaded $db.$t"))
    spark.stop()
  }
}
