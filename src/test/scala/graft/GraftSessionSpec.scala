package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.AbstractFileSystem
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.NioLocalFs
import graft.functions.ShingleHashes
import graft.plans.GraftExtensions

class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every `.scala` file under `root`, with its text. */
  private def sources(root: String): Seq[(Path, String)] = {
    val files = Files.walk(Paths.get(root))
    try files.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally files.close()
  }

  test("the test session carries the factory's settings") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.master === "local[4]")
  }

  test("local FileContext paths resolve to NioLocalFs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get(NioLocalFs.ImplKey) === classOf[NioLocalFs].getName)
    assert(AbstractFileSystem.get(java.net.URI.create("file:///"), conf)
      .isInstanceOf[NioLocalFs])
  }

  test("injected native functions resolve in spark.sql without register()") {
    // a new session shares no temp functions another spec may have
    // registered, so only the installed extension can resolve the name
    val fresh = spark.newSession()
    val names = GraftExtensions.Functions.map(_._1)
    assert(names.distinct === names)
    val wrong = GraftExtensions.Functions.collect {
      case (name, clazz, _) if !fresh.catalog.functionExists(name) ||
          fresh.catalog.getFunction(name).className != clazz.getName => name
    }
    assert(wrong.isEmpty,
      s"not resolved to their expression in a fresh session: ${wrong.mkString(", ")}")
    val n = fresh.sql(
      s"SELECT size(${ShingleHashes.FunctionName}(array('a', 'b', 'c', 'd')))")
      .head().getInt(0)
    assert(n === 2)
  }

  test("native functions reach a session only through GraftExtensions") {
    val main = sources("src/main/scala")
    val tempFns = main.collect {
      case (p, src) if src.contains("createOrReplaceTempFunction") => p
    }
    assert(tempFns.isEmpty,
      s"inject native functions through GraftExtensions, not per session: ${tempFns.mkString(", ")}")
    val declared = main.flatMap { case (_, src) =>
      "val FunctionName\\s*=\\s*\"([^\"]+)\"".r.findAllMatchIn(src).map(_.group(1))
    }
    val injected = GraftExtensions.Functions.map(_._1).toSet
    // the pattern must still match the declarations it guards
    assert(declared.contains(ShingleHashes.FunctionName))
    val missing = declared.filterNot(injected)
    assert(missing.isEmpty,
      s"declared but missing from GraftExtensions.Functions: ${missing.mkString(", ")}")
  }

  test("lineage cuts go through Materialize") {
    val offenders = sources("src/main/scala").collect {
      case (p, src) if p.getFileName.toString != "Materialize.scala" &&
          src.contains("localCheckpoint(") => p
    }
    assert(offenders.isEmpty,
      s"cut lineage with Materialize.checkpointed/lazyCheckpointed: ${offenders.mkString(", ")}")
  }

  test("no JVM-property knob in src/main/scala") {
    val knob = "sys\\.props|System\\.(?:get|set)Property".r
    val offenders = sources("src/main/scala").collect {
      case (p, src) if knob.findFirstIn(src).isDefined => p
    }
    assert(offenders.isEmpty,
      s"configure through options or the session, not JVM properties: ${offenders.mkString(", ")}")
  }

  test("the mains in src/main/scala are exactly the listed entry points") {
    // each `def main` is attributed to the last object declared above it
    val objectDecl = "(?m)^\\s*(?:private\\s+|final\\s+)*object\\s+(\\w+)".r
    val mains = sources("src/main/scala").flatMap { case (_, src) =>
      "def\\s+main\\s*\\(".r.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start)).map(_.group(1)).toSeq.last
      }
    }
    // a one-off profiler belongs in Probe, not in a new main
    assert(mains.sorted === Seq("Bench", "CatalogDurability", "ImportAll", "ImportZip",
      "PipelineDemo", "Probe", "ScaleUp", "StreamDemo", "Verify"))
  }

  test("no session is built anywhere but GraftSession") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap(sources)
      .collect {
        case (p, src) if p.getFileName.toString != "GraftSession.scala" &&
            builder.findFirstIn(src).isDefined => p
      }
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession, not by hand: ${offenders.mkString(", ")}")
  }
}
