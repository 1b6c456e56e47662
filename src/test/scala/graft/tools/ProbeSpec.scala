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
  }
}
