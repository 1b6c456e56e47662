package graft

import org.apache.spark.sql.SparkSession

import graft.SpecFiles.tempPath

/** Shared local session for specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val warehouse = tempPath("graft_warehouse_").toString
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
