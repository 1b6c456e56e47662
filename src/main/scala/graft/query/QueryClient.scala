package graft.query

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fs.NioLocalFs

/** A21: the generic SQL execution client — the drop-in for the reference's
  * `Athena.execute_query` (ncd/athena.py:57-79, :119-174).
  *
  * The reference submits SQL to Athena, polls every 5 s, downloads a CSV of
  * results from S3, and cancels the query on any exception. In-process
  * Spark collapses the submit/poll/download dance into one call; what
  * remains of the contract is preserved:
  *
  *   - arbitrary SQL in → tabular results out, also materialized as a CSV
  *     at a result location (`resultsDir/<queryId>/`);
  *   - cancellation on failure: each query runs in its own job group, and
  *     any exception cancels the group (the `stop_query_execution` analog).
  *
  * The result CSV is written through [[graft.fs.NioLocalFs.writer]], so a
  * local result location gets its directories, CSV and `.crc` sidecar
  * without a `chmod` child process.
  */
final class QueryClient(spark: SparkSession, resultsDir: String) {

  /** Execute SQL and write results as a single CSV with header under
    * `resultsDir/<queryId>/`, returning the result location. Mirrors the
    * reference's "CSV of query output at an OutputLocation" contract.
    */
  def executeQuery(sqlText: String): String = {
    val queryId = UUID.randomUUID().toString
    val group = s"graft-query-$queryId"
    spark.sparkContext.setJobGroup(group, sqlText, interruptOnCancel = true)
    try {
      val location = s"$resultsDir/$queryId"
      NioLocalFs.writer(spark.sql(sqlText).coalesce(1))
        .option("header", "true").csv(location)
      location
    } catch {
      case e: Throwable =>
        // stop_query_execution analog (ncd/athena.py:171-174)
        spark.sparkContext.cancelJobGroup(group)
        throw e
    } finally {
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Read back the rows a previous [[executeQuery]] materialized — the
    * "results as rows from a location" half of the reference contract
    * (`Athena._results_for_query` downloads the CSV and DictReader-parses
    * it, ncd/athena.py:119-138; redacted_* flags come back as booleans,
    * ncd/global_file.py:69-72). Header-aware; schema inference restores
    * true/false booleans and numerics.
    */
  def readResults(location: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(location)
}
