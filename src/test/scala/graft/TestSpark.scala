package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Shared local session for specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft_warehouse_").toString
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
