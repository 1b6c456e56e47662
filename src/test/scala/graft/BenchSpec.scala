package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("compactLine stays one short JSON object when every query is flagged") {
    val names = Bench.families.flatMap(_._2) ++ streaming.StreamBench.jobs.map(_._1)
    assert(names.size === 341)
    val line = Bench.compactLine(sumOfBest = 1234.5678, runTotals = Seq(1300.0, 1250.0),
      minTotal = 1250.0, nQueries = names.size, sf = "testdata/sf0.1", ambient = 1.5,
      failed = names, partial = names, regressions = names.map(n => (n, 1.0, 9.0)))
    assert(line.length < 1500, line)
    val json = new ObjectMapper()
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).readTree(line)
    assert(json.isObject)
    assert(json.fieldNames.asScala.toSet === Set("metric", "value", "unit", "runs",
      "min_total", "sum_of_best", "n_queries", "sf", "ambient_ratio", "errors",
      "partial_failures", "regressions"))
    assert(json.get("value").asDouble === 1234.5678)
    assert(json.get("n_queries").asInt === 341)
    Seq("errors", "partial_failures", "regressions").foreach { k =>
      assert(json.get(k).asInt === 341, k)
    }
  }
}
