package ncdbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ingest.{FixedWidth, NcdIngest, SchemaParser, ZipSource}
import graft.query.QueryClient

/** Size of the seeded zip. */
object NcdScale {
  val CaseRows = 60000
  val HistRows = 60000
}

/** Generates the seeded zip and checks an ingested database against the
  * generator's counts.
  */
final class NcdInput(ctx: Ctx) {
  import NcdGen._

  var zip: NcdZip = _
  var zipPath: Path = _

  def generate(): Unit = {
    zip = NcdGen.generate(ctx.seed, NcdScale.CaseRows, NcdScale.HistRows)
    zipPath = zip.write(ctx.dir("zip").resolve(s"ncd_${ctx.seed}.zip"))
  }

  def ingest(db: String, warehouse: Path): Seq[String] =
    new NcdIngest(ctx.spark, warehouse.toString, db, parquetMirror = true)
      .loadZip(zipPath.toString)

  def drop(db: String, warehouse: Path): Unit = {
    ctx.spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    Workload.deleteTree(warehouse)
  }

  /** Per table and district: rows, redacted cells and cells nulled by a
    * failed parse, read back through `spark.table`, for the JSON table and
    * its parquet mirror. Returns the mismatches.
    */
  def check(db: String): Seq[String] = {
    val spark = ctx.spark
    def counts(table: String, columns: Seq[String],
               partitioned: Boolean): Map[String, PartCounts] = {
      val district = if (partitioned) col("filename_district") else lit("")
      val aggs = columns.flatMap { c =>
        Seq(sum(when(col(s"redacted_$c"), 1).otherwise(0)).as(s"r_$c"),
          sum(when(col(c).isNull && !col(s"redacted_$c"), 1).otherwise(0))
            .as(s"x_$c"))
      }
      spark.table(s"$db.$table").groupBy(district.as("d"))
        .agg(count(lit(1)).as("n"), aggs: _*).collect().map { r =>
          r.getString(0) -> PartCounts(r.getLong(1), columns.zipWithIndex.map {
            case (c, k) => c -> CellCounts(r.getLong(2 + 2 * k), r.getLong(3 + 2 * k))
          }.toMap)
        }.toMap
    }
    val expected = zip.expected.parts
    for {
      (table, columns, partitioned) <- Seq(
        (CaseTable, CaseColumns, true), (HistTable, HistColumns, false))
      suffix <- Seq("", "_parquet")
      want = expected.collect { case ((t, d), c) if t == table => d -> c }
      got = counts(table + suffix, columns, partitioned)
      if got != want
    } yield s"$db.$table$suffix: expected $want, read back $got"
  }
}

/** `ncd_ingest_sql`: the paper's two paths over one seeded zip. Each op
  * loads the zip into a fresh database with `NcdIngest(parquetMirror =
  * true).loadZip` (extract, convert, gzip JSON, parquet mirror, DDL), then
  * runs one round of an Athena-style query mix over it, one
  * `QueryClient.executeQuery` per template in a seeded order with seeded
  * parameters: district/year aggregates and `GS_CASE ⋈ GS_COURT_HIST`
  * joins over the gzip JSON tables and over their parquet mirrors, and a
  * codebook lookup. A layout change made for the write path therefore
  * shows its read-side cost in the same op; the load and the round are
  * also reported apart.
  */
final class NcdIngestSql(ctx: Ctx) extends Workload {
  import NcdGen._
  import NcdIngestSql._

  private val input = new NcdInput(ctx)
  private val rng = new java.util.Random(ctx.seed)
  private def warehouse(db: String) = ctx.work.resolve("wh").resolve(db)
  private def resultsDir(db: String) = ctx.work.resolve("results").resolve(db)
  /** op index -> load ms; -> (template, parameter, location, ms) per query. */
  private val loadMs = mutable.Map.empty[Int, Double]
  private val issued = mutable.Map.empty[Int, Seq[(String, String, String, Double)]]
  private val stored = mutable.Map.empty[Int, (Long, Long)]

  def setup(): Unit = {
    input.generate()
    loadAndQuery(-1, "warm")
    input.drop("warm", warehouse("warm"))
  }

  def op(i: Int): Unit = loadAndQuery(i, s"ncd_$i")

  private def loadAndQuery(i: Int, db: String): Unit = {
    val t0 = System.nanoTime()
    ctx.span("load")(input.ingest(db, warehouse(db)))
    loadMs(i) = (System.nanoTime() - t0) / 1e6
    val client = new QueryClient(ctx.spark, resultsDir(db).toString)
    val order = new scala.util.Random(rng.nextLong()).shuffle(Templates)
    issued(i) = order.map { template =>
      val (param, text) = sql(db, template)
      val t = System.nanoTime()
      val location = ctx.span(s"query:$template")(client.executeQuery(text))
      (template, param, location, (System.nanoTime() - t) / 1e6)
    }
  }

  /** (parameter, SQL) of one template, parameters drawn from the seed. */
  private def sql(db: String, template: String): (String, String) = {
    val mirror = if (template.endsWith("_parquet")) "_parquet" else ""
    template.stripSuffix("_parquet") match {
      case "year_agg" =>
        val y = Years.start + rng.nextInt(Years.size)
        (y.toString,
          s"""SELECT filename_district AS district, count(*) AS n,
             |       round(sum(TOTAL_LOSS), 2) AS loss
             |FROM $db.GS_CASE$mirror WHERE year(FILE_DATE) = $y
             |GROUP BY filename_district ORDER BY district""".stripMargin)
      case "event_join" =>
        val t = EventTypes(rng.nextInt(EventTypes.size))
        (t,
          s"""SELECT c.filename_district AS district, count(*) AS events,
             |       count(DISTINCT c.CASEID) AS cases
             |FROM $db.GS_CASE$mirror c
             |JOIN $db.GS_COURT_HIST$mirror h ON c.CASEID = h.CASEID
             |WHERE h.EVENT_TYPE = '$t'
             |GROUP BY c.filename_district ORDER BY district""".stripMargin)
      case "district_lookup" =>
        ("",
          s"""SELECT d.NAME AS name, count(*) AS n
             |FROM $db.GS_CASE_parquet c
             |JOIN $db.GS_DISTRICT d ON c.filename_district = d.CODE
             |GROUP BY d.NAME ORDER BY name""".stripMargin)
    }
  }

  /** The rows a template must return, from the generator's bookkeeping. */
  private def expected(template: String, param: String): Seq[Row] = {
    val e = input.zip.expected
    template.stripSuffix("_parquet") match {
      case "year_agg" => Districts.flatMap { d =>
        e.byYear.get((d, param.toInt)).map { case (n, cents, withLoss) =>
          Row(d, n, if (withLoss == 0) null else cents / 100.0)
        }
      }
      case "event_join" => Districts.flatMap { d =>
        e.joinByType.get((param, d)).map { case (n, cases) => Row(d, n, cases) }
      }
      case "district_lookup" =>
        Districts.map(d => Row(DistrictNames(d), e.districtRows(d)))
          .sortBy(_.getString(0))
    }
  }

  private def same(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { k =>
      (a.get(k), b.get(k)) match {
        case (x: Double, y: Double) => math.abs(x - y) < 0.005
        case (x: Number, y: Number) => x.longValue == y.longValue
        case (x, y) => x == y
      }
    }

  /** Per table and district counts read back from the JSON tables and
    * their mirrors, and every query result of the op read back with
    * `QueryClient.readResults`, against the generator; then the op's
    * database is dropped.
    */
  override def afterOp(i: Int): Option[String] = {
    val db = s"ncd_$i"
    val wh = warehouse(db)
    try {
      stored(i) = (Workload.dataBytes(wh, ".json.gz"), Workload.dataBytes(wh, ".parquet"))
      val client = new QueryClient(ctx.spark, resultsDir(db).toString)
      input.check(db).headOption.orElse(issued(i).iterator.map {
        case (template, param, location, _) =>
          val got = client.readResults(location).collect().toSeq
          val want = expected(template, param)
          if (got.size == want.size && got.zip(want).forall { case (g, w) => same(g, w) }) None
          else Some(s"$template($param) read back $got, expected $want")
      }.collectFirst { case Some(error) => error })
    } finally {
      input.drop(db, wh)
      Workload.deleteTree(resultsDir(db))
    }
  }

  def results(ops: Seq[OpRecord]): Seq[Metric] = {
    val ok = ops.filter(o => !o.traced && o.error.isEmpty).map(_.index)
    val load = ok.map(loadMs)
    val queries = ok.flatMap(issued)
    val ms = queries.map(_._4)
    val rounds = ok.map(i => issued(i).map(_._4).sum)
    val inBytes = input.zip.inputBytes.toDouble
    val tail = Stats.tailPercentile(ms.size).filter(_ > 50).map(p =>
      Metric(f"query_p$p%.0f_ms", Stats.quantile(ms, p / 100), "ms"))
    Seq(
      Metric("ingest_s", Stats.median(load) / 1000, "s"),
      Metric("ingest_rows_per_s", input.zip.inputRows / (Stats.median(load) / 1000), "1/s"),
      Metric("input_rows", input.zip.inputRows.toDouble, "count"),
      Metric("input_mb", inBytes / 1e6, "MB"),
      Metric("stored_bytes_per_input_byte",
        stored.get(ok.head).fold(0.0) { case (j, p) => (j + p) / inBytes }, "ratio"),
      Metric("query_round_s", Stats.median(rounds) / 1000, "s"),
      Metric("query_p50_ms", Stats.median(ms), "ms")
    ) ++ tail ++ Seq(
      Metric("queries_per_s", ms.size / (ms.sum / 1000), "1/s"),
      Metric("queries", ms.size.toDouble, "count")
    ) ++ Templates.map { t =>
      Metric(s"query_p50_ms[$t]", Stats.median(queries.filter(_._1 == t).map(_._4)), "ms")
    }
  }

  def layers(tracer: Tracer, ops: Seq[OpRecord]): Seq[Metric] = {
    val parts = tracer.named("op").flatMap(s => tracer.children(s.id))
    def sum(spans: Seq[Span]): Counters = {
      val c = new Counters
      spans.foreach(s => c += tracer.subtree(s.id))
      c
    }
    val loads = parts.filter(_.name == "load")
    val queries = parts.filter(_.name.startsWith("query:"))
    val (l, q) = (sum(loads), sum(queries))
    val nl = loads.size.max(1)
    val nq = queries.size.max(1)
    val traced = ops.filter(_.traced).map(_.index)
    val inBytes = input.zip.inputBytes.toDouble
    val (extract, convert) = stages()
    val all = sum(parts)
    Seq(
      Metric("ingest.extract_s", extract, "s"),
      Metric("ingest.convert_s", convert, "s"),
      Metric("ingest.json_write_s", l.qeMs("json_write") / 1000 / nl, "s"),
      Metric("ingest.mirror_write_s", l.qeMs("parquet_write") / 1000 / nl, "s"),
      Metric("ingest.ddl_s", l.qeMs("ddl") / 1000 / nl, "s"),
      Metric("ingest.driver_share", Workload.driverShare(tracer, loads), "ratio"),
      Metric("ingest.text_bytes_read_per_input_byte", l.bytesRead / inBytes / nl, "ratio"),
      Metric("ingest.jobs", l.jobs.toDouble / nl, "count"),
      Metric("ingest.tasks", l.tasks.toDouble / nl, "count"),
      Metric("ingest.task_cpu_s", l.taskCpuNs / 1e9 / nl, "s"),
      Metric("ingest.json_bytes", traced.headOption.fold(0.0)(stored(_)._1.toDouble), "bytes"),
      Metric("ingest.parquet_bytes", traced.headOption.fold(0.0)(stored(_)._2.toDouble), "bytes"),
      Metric("query.plan_ms", q.planMs / nq, "ms"),
      Metric("query.exec_ms", q.jobMs.toDouble / nq, "ms"),
      Metric("query.tasks_per_query", q.tasks.toDouble / nq, "count"),
      Metric("query.max_task_ms", q.maxTaskMs.toDouble, "ms"),
      Metric("query.bytes_scanned_per_row_returned",
        q.bytesRead.toDouble / q.rowsWritten.max(1), "ratio"),
      Metric("query.files_read_per_query", q.filesRead.toDouble / nq, "count"),
      Metric("query.task_cpu_s", q.taskCpuNs / 1e9 / nq, "s"),
      Metric("spark.scheduler_delay_ms", all.schedulerDelayMs.toDouble / tracer.named("op").size.max(1), "ms")
    ) ++ l.callSiteMs.toSeq.sortBy(_._1).map { case (site, ms) =>
      Metric(s"ingest.jobs_at[$site]_s", ms / 1000.0 / nl, "s")
    }
  }

  /** Extraction and fixed-width conversion of the zip's members, timed
    * apart from the load: the same `ZipSource.extractMember` and
    * `FixedWidth.read` calls `loadZip` makes, the conversion forced
    * through the no-op sink.
    */
  private def stages(): (Double, Double) = {
    val scratch = ctx.dir("stages")
    val zip = new ZipSource(input.zipPath.toString)
    try {
      val schemas = SchemaParser.parse(zip.readMember("README.TXT", "ISO-8859-1"))
      val t0 = System.nanoTime()
      val members = schemas.keys.toSeq.sorted.flatMap { name =>
        zip.dataFilesFor(name).values.toSeq.sorted
          .map(m => schemas(name) -> zip.extractMember(m, scratch))
      }
      val t1 = System.nanoTime()
      members.foreach { case (spec, path) =>
        FixedWidth.read(ctx.spark, path.toString, spec)
          .write.format("noop").mode("overwrite").save()
      }
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    } finally {
      zip.close()
      Workload.deleteTree(scratch)
    }
  }
}

object NcdIngestSql {
  val Templates: Seq[String] = Seq("year_agg", "year_agg_parquet", "event_join",
    "event_join_parquet", "district_lookup")
}
