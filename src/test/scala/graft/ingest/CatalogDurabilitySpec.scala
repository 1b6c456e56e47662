package graft.ingest

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

import graft.SpecFiles.tempPath

/** True catalog durability: ingest in one JVM, read `spark.table` from a
  * SECOND JVM attached to the same warehouse + Derby metastore, with no
  * DDL re-run — the Spark analog of tables surviving in Athena's catalog
  * (ncd/normal_table.py:184-196). Drives graft.tools.CatalogDurability as
  * two separate processes because in-memory-catalog "restarts" inside one
  * session prove nothing.
  */
class CatalogDurabilitySpec extends AnyFunSuite {

  private val addOpens = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  private def runPhase(args: Seq[String]): String = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.CatalogDurability") ++ args
    val out = new StringBuilder
    val code = Process(cmd).!(
      ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(code === 0, s"phase '${args.head}' exited $code:\n$out")
    out.toString
  }

  test("ingested tables survive a full JVM restart via the Hive metastore") {
    val base = tempPath("ncd_durable_")
    val warehouse = base.resolve("warehouse").toString
    val metastore = base.resolve("metastore").toString
    val zip = Fixtures.writeZip(base).toString

    val ingestOut = runPhase(Seq("ingest", warehouse, metastore, zip))
    assert(ingestOut.contains("LOADED=") && ingestOut.contains("GS_CASE"),
      s"ingest phase did not report tables:\n$ingestOut")

    val readOut = runPhase(Seq("read", warehouse, metastore))
    assert(readOut.contains("ROWS=5"),
      s"restarted JVM could not read ncd.gs_case from the catalog:\n$readOut")
  }
}
