package graft.ingest

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

import graft.SpecFiles.tempPath

/** A2 under a REAL HTTP exchange: a loopback HttpServer serves a fixture
  * zip; `Listing.download` streams it to a temp file; `NcdIngest` loads
  * the downloaded archive end-to-end. Closes the "network path untested"
  * gap without leaving the sandbox (loopback only).
  */
class DownloadSpec extends AnyFunSuite {

  test("download streams a zip over HTTP and the archive ingests end-to-end") {
    val zipPath = Fixtures.tempZip()
    val zipBytes = Files.readAllBytes(zipPath)

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/dumps/ncd.zip", exchange => {
      exchange.getResponseHeaders.add("Content-Type", "application/zip")
      exchange.sendResponseHeaders(200, zipBytes.length.toLong)
      exchange.getResponseBody.write(zipBytes)
      exchange.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val dest = Listing.download(s"http://127.0.0.1:$port/dumps/ncd.zip")
      try {
        assert(Files.readAllBytes(dest) === zipBytes)

        val spark = graft.TestSpark.spark
        val wh = tempPath("dl_wh_").toString
        val ingest = new NcdIngest(spark, wh, db = "dl")
        val loaded = ingest.loadZip(dest.toString)
        assert(loaded.contains("GS_CASE"))
        assert(spark.table("dl.GS_CASE").count() === 5)
      } finally Files.deleteIfExists(dest)
    } finally server.stop(0)
  }

  test("listing page fetched over HTTP feeds zipUrls (scheme forced https)") {
    val html =
      """<a href="/dumps/a.zip">a</a><a href="/dumps/b.zip">b</a>"""
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/listing", exchange => {
      val bytes = html.getBytes("UTF-8")
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val pageUrl = s"http://127.0.0.1:$port/listing"
      val client = java.net.http.HttpClient.newHttpClient()
      val page = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(pageUrl))
          .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      val urls = Listing.zipUrls(page, pageUrl)
      // the reference forces https on everything it scrapes
      // (import_all.py change_url_scheme) — preserved here
      assert(urls === Seq(
        s"https://127.0.0.1:$port/dumps/a.zip",
        s"https://127.0.0.1:$port/dumps/b.zip"))
    } finally server.stop(0)
  }
}
