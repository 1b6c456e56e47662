package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.ingest.{FieldSpec, FixedWidth, OracleType, TableSpec}

/** Ingest throughput: generate an N-row fixed-width file and time the full
  * typed+redacted conversion (the A6-A9 pipeline).
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toInt else 1000000
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val spec = TableSpec("BENCH", Seq(
      FieldSpec("ID", 1, 10, OracleType.Number),
      FieldSpec("DISTRICT", 11, 4, OracleType.Varchar),
      FieldSpec("DT", 15, 11, OracleType.OracleDate),
      FieldSpec("CHARGE", 26, 20, OracleType.Varchar),
      FieldSpec("LOSS", 46, 12, OracleType.OracleFloat)))

    val path = Files.createTempDirectory("ingest_bench_").resolve("data.txt")
    val w = Files.newBufferedWriter(path)
    val months = Array("JAN", "FEB", "MAR", "APR", "MAY", "JUN",
      "JUL", "AUG", "SEP", "OCT", "NOV", "DEC")
    def pad(s: String, n: Int) =
      if (s.length >= n) s.substring(0, n) else s + " " * (n - s.length)
    var i = 0
    while (i < rows) {
      val dt = s"${i % 28 + 1}-${months(i % 12)}-${1990 + i % 30}"
      val loss = if (i % 13 == 0) "*" else f"${i * 0.37}%.2f"
      w.write(pad(i.toString, 10) + pad(s"D${i % 90}", 4) + pad(dt, 11) +
        pad(s"18:USC:${i % 9999}", 20) + pad(loss, 12) + "\n")
      i += 1
    }
    w.close()
    println(s"wrote $rows rows, ${Files.size(path) / 1e6}%.1f".replace("%.1f", "") + " MB")

    (1 to 3).foreach { rep =>
      val t0 = System.nanoTime()
      val df = FixedWidth.read(spark, path.toString, spec)
      val n = df.count()
      val dtSec = (System.nanoTime() - t0) / 1e9
      println(f"rep$rep: count=$n ${dtSec}%.2fs -> ${n / dtSec / 1e6}%.2fM rows/s")
    }
    // and with full typed materialization (all columns touched)
    (1 to 3).foreach { rep =>
      val t0 = System.nanoTime()
      val df = FixedWidth.read(spark, path.toString, spec)
      val agg = df.selectExpr("sum(ID)", "count(DT)", "sum(LOSS)",
        "sum(CASE WHEN redacted_LOSS THEN 1 ELSE 0 END)").collect()(0)
      val dtSec = (System.nanoTime() - t0) / 1e9
      println(f"full-materialize rep$rep: $dtSec%.2fs " +
        f"(${rows / dtSec / 1e6}%.2fM rows/s) $agg")
    }
    spark.stop()
  }
}
