package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.AbstractFileSystem
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.NioLocalFs
import graft.functions.ShingleHashes

class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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
    val n = fresh.sql(
      s"SELECT size(${ShingleHashes.FunctionName}(array('a', 'b', 'c', 'd')))")
      .head().getInt(0)
    assert(n === 2)
  }

  test("no session is built anywhere but GraftSession") {
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator.asScala
        .filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter { (p: Path) =>
      p.getFileName.toString != "GraftSession.scala" &&
        builder.findFirstIn(Files.readString(p)).isDefined
    }
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession, not by hand: ${offenders.mkString(", ")}")
  }
}
