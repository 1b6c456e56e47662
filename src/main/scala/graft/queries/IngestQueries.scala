package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType}

import graft.ingest.{Fixtures, NcdIngest}
import graft.operators.StagedArtifacts

/** §2-A ingest chain under the DuckDB oracle (round-8 verdict #1).
  *
  * Every other §2-A guarantee rests on ScalaTest specs; these two queries
  * put the full reference-semantics chain — README schema parse (A5) →
  * fixed-width slice (A6) → CR scrub (A7) → typed conversion with the
  * NUMBER-decimal and CPython-date quirks (A8) → redaction split (A9) →
  * gzip JSON-lines write (A10/A11) → Hive district partitioning + MSCK
  * (A12/A20) → catalog read-back — under the same hard rows+schema+hash
  * gate as the query catalog (reference:
  * /root/reference/ncd/normal_table.py:96-135,210-222).
  *
  * The fixture zip is deterministic ([[graft.ingest.Fixtures]], schemas in
  * FIXTURES.md), so the oracle is the EXACT expected relation as a DuckDB
  * VALUES table — any drift anywhere in the chain (a slice boundary, a
  * date quirk, a redaction flag, a partition value) flips the hash.
  *
  * Scale note: the chain itself is the production path — one narrow
  * whole-stage-codegen projection per file split, no shuffle (see
  * [[graft.ingest.FixedWidth]]); the fixture merely has to be small enough
  * that the oracle can enumerate the expected rows exactly.
  */
object IngestQueries {

  /** Ingest the fixture zip into a fresh temp warehouse under `db` —
    * once per (SparkContext, db): the chain is deterministic and the
    * warehouse immutable afterwards, so repeated invocations of the
    * catalog fn (Bench warm-up + timed passes, plan-walking specs that
    * only want `.queryExecution`) reuse the first ingest instead of
    * re-running the drop/ingest/MSCK chain per call. The warehouse and
    * zip dirs come from [[StagedArtifacts.tempDir]], so they are deleted
    * at JVM exit. The DROP on first touch keeps a stale same-name catalog
    * entry from a previous JVM from shadowing the fresh warehouse.
    */
  private val ingested = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private def ingestFixture(spark: SparkSession, db: String): Unit =
    ingested.computeIfAbsent(
      s"${System.identityHashCode(spark.sparkContext)}_$db", _ => {
        spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
        val wh = StagedArtifacts.tempDir(s"${db}_wh_")
        new NcdIngest(spark, wh, db = db)
          .loadZip(fixtureZip(db, Fixtures.writeZip).toString)
        true
      })

  /** `write` a fixture zip into a temp dir deleted at JVM exit. */
  private def fixtureZip(db: String, write: Path => Path): Path =
    write(Paths.get(StagedArtifacts.tempDir(s"${db}_zip_")))

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---------------------------------------------------------------
    // q184: normal-table chain (partitioned, all four type quirks)
    // ---------------------------------------------------------------
    "q184_ingest_fixture_roundtrip" -> QueryDef(
      fn = (spark, _) => {
        ingestFixture(spark, "ncd_q184")
        spark.table("ncd_q184.GS_CASE")
          .select(
            col("CASEID").as("caseid"),
            col("DISTRICT").as("district"),
            // the catalog column is DATE (DDL + read-back exercise the
            // type); the projection compares it as its ISO string because
            // a NULL date round-trips as pandas NaT driver-side, and
            // NaT != NaT would fail the compare on a correct answer
            col("FILE_DATE").cast(StringType).as("file_date"),
            col("LEAD_CHARGE").as("lead_charge"),
            col("TOTAL_LOSS").as("total_loss"),
            col("redacted_CASEID").as("redacted_caseid"),
            col("redacted_DISTRICT").as("redacted_district"),
            col("redacted_FILE_DATE").as("redacted_file_date"),
            col("redacted_LEAD_CHARGE").as("redacted_lead_charge"),
            col("redacted_TOTAL_LOSS").as("redacted_total_loss"),
            col("filename_district"))
          .orderBy(col("filename_district"), col("caseid").asc_nulls_last)
      },
      // The exact expected relation: row 5 exercises CR scrub + lowercase
      // month + scientific float; row "12.3" the NUMBER-integer guard;
      // 31-FEB the CPython calendar check; '*' cells the redaction split.
      oracle = Some(
        """SELECT * FROM (VALUES
          |  (CAST(5 AS BIGINT), 'CT', '2017-01-01', 'AB CD',
          |   CAST(-150.0 AS DOUBLE), false, false, false, false, false, 'CT'),
          |  (1, 'FLM', '2017-10-01', '18:USC:1341',
          |   1234.5, false, false, false, false, false, 'FLM'),
          |  (2, 'FLM', NULL, '18:USC:371',
          |   NULL, false, false, true, false, true, 'FLM'),
          |  (3, 'FLM', '2017-11-15', NULL,
          |   0.0, false, false, false, true, false, 'FLM'),
          |  (NULL, 'FLM', NULL, 'x',
          |   NULL, false, false, false, false, false, 'FLM')
          |) AS t(caseid, district, file_date, lead_charge, total_loss,
          |       redacted_caseid, redacted_district, redacted_file_date,
          |       redacted_lead_charge, redacted_total_loss, filename_district)
          |ORDER BY filename_district, caseid NULLS LAST""".stripMargin)),

    // ---------------------------------------------------------------
    // q185: unpartitioned normal + global + lookup chains, one relation
    // ---------------------------------------------------------------
    "q185_ingest_string_tables" -> QueryDef(
      fn = (spark, _) => {
        ingestFixture(spark, "ncd_q185")
        def tbl(name: String) = spark.table(s"ncd_q185.$name")
        val nullStr = lit(null).cast(StringType)
        val nullBool = lit(null).cast(BooleanType)
        // A6-A9 unpartitioned twin (GS_COURT_HIST), A13/A14 global split
        // (GS_DISTRICT / GS_OFFENSE), A15/A16 lookup codebook with header
        // normalization + empty-string redaction quirk (GS_POSITION) —
        // widened to one (src, c1..c3, r1..r3) relation.
        val hist = tbl("GS_COURT_HIST").select(
          lit("GS_COURT_HIST").as("src"),
          col("CASEID").cast(StringType).as("c1"),
          col("EVENT_DATE").cast(StringType).as("c2"),
          col("EVENT_TYPE").as("c3"),
          col("redacted_CASEID").as("r1"),
          col("redacted_EVENT_DATE").as("r2"),
          col("redacted_EVENT_TYPE").as("r3"))
        def twoCol(name: String, a: String, b: String) = tbl(name).select(
          lit(name).as("src"),
          col(a).as("c1"), col(b).as("c2"), nullStr.as("c3"),
          col(s"redacted_$a").as("r1"), col(s"redacted_$b").as("r2"),
          nullBool.as("r3"))
        val position = tbl("GS_POSITION").select(
          lit("GS_POSITION").as("src"),
          col("POSITION_CODE").as("c1"),
          col("DESCRIPTION").as("c2"),
          col("ACTIVE_FLAG").as("c3"),
          col("redacted_POSITION_CODE").as("r1"),
          col("redacted_DESCRIPTION").as("r2"),
          col("redacted_ACTIVE_FLAG").as("r3"))
        hist
          .unionByName(twoCol("GS_DISTRICT", "CODE", "NAME"))
          .unionByName(twoCol("GS_OFFENSE", "CODE", "TITLE"))
          .unionByName(position)
          .orderBy(col("src"), col("c1").asc_nulls_last,
            col("c2").asc_nulls_last)
      },
      oracle = Some(
        """SELECT * FROM (VALUES
          |  ('GS_COURT_HIST', '1', '2017-10-01', 'ARREST', false, false, false),
          |  ('GS_COURT_HIST', '1', '2017-10-02', 'CHARGE', false, false, false),
          |  ('GS_COURT_HIST', '2', NULL, NULL, false, true, true),
          |  ('GS_DISTRICT', 'CT', 'District of Connecticut', NULL,
          |   false, false, NULL),
          |  ('GS_DISTRICT', 'FLM', 'Middle District of Florida', NULL,
          |   false, false, NULL),
          |  ('GS_OFFENSE', '0100', 'Official Corruption', NULL,
          |   false, false, NULL),
          |  ('GS_OFFENSE', '0200', 'Narcotics', NULL, false, false, NULL),
          |  ('GS_POSITION', '', 'Redacted position', 'N', true, false, false),
          |  ('GS_POSITION', 'AUSA', 'Assistant U.S. Attorney', 'Y',
          |   false, false, false),
          |  ('GS_POSITION', 'SAUSA', 'Special Assistant', 'Y',
          |   false, false, false)
          |) AS t(src, c1, c2, c3, r1, r2, r3)
          |ORDER BY src, c1 NULLS LAST, c2 NULLS LAST""".stripMargin)),

    // ---------------------------------------------------------------
    // q242: listing scrape → HTTP download → pipelined multi-zip load
    // ---------------------------------------------------------------
    // The A1/A2/A23 chain end-to-end under the oracle (round-8 verdict
    // #6): a REAL loopback HttpServer serves an HTML listing with two
    // zip links (plus a decoy non-zip link the scraper must skip);
    // Listing.loadAllPipelined scrapes it, streams both archives over
    // HTTP (Listing.download — the same A2 code path as production,
    // scheme mapped back from the forced https to the loopback's http),
    // and ingests them in listing order with the 2-deep overlap. The
    // second zip revises district FLM and introduces NY while carrying
    // no CT file — so the read-back relation witnesses the reference's
    // per-district overwrite-accumulate semantics (athena.py:92-111):
    // CT survives from zip 1, FLM is zip 2's single revised row, NY is
    // new. Any drift in the scraper (following the decoy), the
    // pipelining (order flip), or the partition overwrite mode (static
    // overwrite wiping CT) flips the hash.
    "q242_ingest_multizip_listing" -> QueryDef(
      fn = (spark, _) => {
        multiZipIngest(spark, "ncd_q242")
        spark.table("ncd_q242.GS_CASE")
          .select(
            col("filename_district"),
            col("CASEID").as("caseid"),
            col("DISTRICT").as("district"),
            col("FILE_DATE").cast(StringType).as("file_date"),
            col("LEAD_CHARGE").as("lead_charge"),
            col("TOTAL_LOSS").as("total_loss"))
          .orderBy(col("filename_district"), col("caseid").asc_nulls_last)
      },
      oracle = Some(
        """SELECT * FROM (VALUES
          |  ('CT', CAST(5 AS BIGINT), 'CT', '2017-01-01', 'AB CD',
          |   CAST(-150.0 AS DOUBLE)),
          |  ('FLM', 6, 'FLM', '2017-12-02', '21:USC:841', 99.25),
          |  ('NY', 7, 'NY', '2018-03-03', '18:USC:1962', 42.0)
          |) AS t(filename_district, caseid, district, file_date,
          |       lead_charge, total_loss)
          |ORDER BY filename_district, caseid NULLS LAST""".stripMargin)))

  /** Once per (SparkContext, db): serve listing + both fixture zips over
    * loopback HTTP, scrape, download, and pipeline-load them (A1→A2→A23).
    */
  private def multiZipIngest(spark: SparkSession, db: String): Unit =
    ingested.computeIfAbsent(
      s"${System.identityHashCode(spark.sparkContext)}_$db", _ => {
        spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
        val zipA = Files.readAllBytes(fixtureZip(db, Fixtures.writeZip))
        val zipB = Files.readAllBytes(fixtureZip(db, Fixtures.writeZipB))
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        def serve(path: String, bytes: Array[Byte]): Unit =
          server.createContext(path, exchange => {
            exchange.sendResponseHeaders(200, bytes.length.toLong)
            exchange.getResponseBody.write(bytes)
            exchange.close()
          })
        server.start()
        try {
          val port = server.getAddress.getPort
          val listing =
            """<html><body>
              |<a href="release_a.zip">first release</a>
              |<a href="notes.html">release notes (not a zip)</a>
              |<a href="release_b.zip">second release</a>
              |</body></html>""".stripMargin
          serve("/dumps/listing.html", listing.getBytes("UTF-8"))
          serve("/dumps/release_a.zip", zipA)
          serve("/dumps/release_b.zip", zipB)
          val wh = StagedArtifacts.tempDir(s"${db}_wh_")
          val ingest = new NcdIngest(spark, wh, db = db)
          val client = java.net.http.HttpClient.newHttpClient()
          // zipUrls forces https (production contract); the loopback
          // fixture maps it back to the server's real http port
          def toLocal(url: String) = url.replaceFirst("^https:", "http:")
          import scala.concurrent.ExecutionContext.Implicits.global
          graft.ingest.Listing.loadAllPipelined(
            ingest,
            s"http://127.0.0.1:$port/dumps/listing.html",
            fetchPage = u => client.send(
              java.net.http.HttpRequest.newBuilder(
                java.net.URI.create(toLocal(u))).GET().build(),
              java.net.http.HttpResponse.BodyHandlers.ofString()).body(),
            fetchZip = u => graft.ingest.Listing.download(toLocal(u)))
          true
        } finally server.stop(0)
      })
}
