package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ProbeSpec extends AnyFunSuite {

  test("measure reports timings and task totals for a catalog query") {
    val l = Probe.measure(TestSpark.spark, "q02_agg_pricing_summary",
      "/root/testdata/sf0.001", reps = 2)
    assert(l.tasks > 0)
    assert(l.execMs > 0)
    assert(l.planMs >= 0)
    assert(l.buildMs >= 0)
    assert(l.taskCpuS > 0)
    assert(l.shuffleWriteBytes > 0)
    // the driver-build layer: Janino compiles and JIT time of the rep
    assert(l.compiles >= 0)
    assert(l.jitMs >= 0)
    val header = Probe.Header.trim.split("\\s+").toSeq
    assert(header.takeRight(2) === Seq("compiles", "jit_ms"))
    val fields = Probe.row("q02_agg_pricing_summary", l).trim.split("\\s+").toSeq
    assert(fields.size === header.size)
    assert(fields.takeRight(2) === Seq(l.compiles.toString, l.jitMs.toString))
  }

  test("--explain prints a scan's pushed filters") {
    val plan = Probe.plan(TestSpark.spark, "q01_scan_filter_project", "/root/testdata/sf0.001")
    assert(plan.startsWith("===== q01_scan_filter_project ====="))
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"), plan)
  }
}
