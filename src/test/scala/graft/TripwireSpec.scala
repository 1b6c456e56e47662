package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class TripwireSpec extends AnyFunSuite {

  private val pinned = Tripwire.pinnedNames.toSeq.sorted
  private def others(n: Int) = (1 to n).map(i => f"q9$i%02d_other")

  test("a uniform 1.6x slowdown is normalized, capped at 1.5") {
    val names = others(10)
    val t = Tripwire(names.map(_ -> 3.2), names.map(_ -> 2.0).toMap)
    assert(t.ambient === 1.5)
    assert(t.regressions.isEmpty)
    assert(t.notes.exists(_.contains("EXCEEDS the 1.5x cap")))
  }

  test("one 3x query is flagged against an unchanged fleet") {
    val names = others(10)
    val best = names.map(n => n -> (if (n == names(3)) 6.0 else 2.0))
    val t = Tripwire(best, names.map(_ -> 2.0).toMap)
    assert(t.ambient === 1.0)
    assert(t.regressions === Seq((names(3), 2.0, 6.0)))
    assert(t.notes === Seq(
      f"[bench] REGRESSION ${names(3)}: 2.00 s -> 6.00 s (3.00x, 3.00x ambient-normalized)"))
  }

  test("queries whose baseline is under 0.3 s are ignored") {
    val names = others(10)
    val prior = names.map(_ -> 2.0).toMap + ("q999_tiny" -> 0.2)
    val t = Tripwire(names.map(_ -> 2.0) :+ ("q999_tiny" -> 2.0), prior)
    assert(t.ambient === 1.0)
    assert(t.regressions.isEmpty)
    assert(t.notes.isEmpty)
  }

  test("failed queries and queries missing from the baseline are ignored") {
    val names = others(10)
    val t = Tripwire(names.map(_ -> 2.0) ++ Seq("q998_new" -> 9.0, "q997_failed" -> -1.0),
      names.map(_ -> 2.0).toMap + ("q997_failed" -> 2.0))
    assert(t.ambient === 1.0)
    assert(t.regressions.isEmpty)
  }

  test("the pinned subset overrides an uncorroborated run-wide median") {
    val names = others(12)
    val best = pinned.map(_ -> 2.0) ++ names.map(_ -> 16.0)
    val prior = (pinned.map(_ -> 2.0) ++ names.map(_ -> 10.0)).toMap
    val t = Tripwire(best, prior)
    // run-wide median is 1.6x, pinned 1.0x: the excess is a regression
    assert(t.ambient === 1.0)
    assert(t.regressions.map(_._1) === names)
    assert(t.notes.head.contains("NOT corroborated"))
    // without the pinned subset the same slowdown is absorbed as ambient
    val unpinned = Tripwire(names.map(_ -> 16.0), names.map(_ -> 10.0).toMap)
    assert(unpinned.ambient === 1.5)
    assert(unpinned.regressions.isEmpty)
  }

  /** The `queries` map of a bench archive, in file order. */
  private def queries(file: String): Seq[(String, Double)] = {
    val txt = Files.readString(Paths.get(file))
    val start = txt.indexOf("\"queries\":{") + "\"queries\":".length
    val obj = txt.substring(start, txt.indexOf('}', start) + 1)
    "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(obj)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
  }

  // expectations are what Bench's inline tripwire computed on the same
  // archive pairs before it was extracted into Tripwire
  Seq(
    ("bench_full_r12_sf0.1.json", "bench_full_r13_sf0.1.json", 1.0, Seq.empty),
    ("bench_full_r12_sf0.1_c8.json", "bench_full_r14_sf0.1_c8.json", 1.0, Seq.empty),
    ("bench_full_r13_sf0.1.json", "bench_full_r12_sf0.1.json", 1.0663485042486323,
      Seq(("q305_maxsim_late_interaction", 0.4193, 2.4225))),
    ("bench_full_r14_sf0.1_c8.json", "bench_full_r12_sf0.1_c8.json", 1.0365094327309676,
      Seq(("q305_maxsim_late_interaction", 0.3116, 2.0149)))
  ).foreach { case (prior, now, ambient, regressions) =>
    test(s"replay $prior -> $now") {
      val t = Tripwire(queries(now), queries(prior).toMap)
      assert(math.abs(t.ambient - ambient) < 1e-12)
      assert(t.regressions === regressions)
    }
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The baseline Bench writes after a complete run of archive `now`
    * against archive `prior`. */
  private def nextBaseline(prior: String, now: String) = {
    val best = queries(now)
    val p = queries(prior).toMap
    Tripwire.nextBaseline(p, best, Nil, Nil, Tripwire(best, p).regressions)
  }

  test("nextBaseline: a clean run's minima become the baseline") {
    Seq("bench_full_r12_sf0.1.json" -> "bench_full_r13_sf0.1.json",
        "bench_full_r12_sf0.1_c8.json" -> "bench_full_r14_sf0.1_c8.json")
      .foreach { case (prior, now) =>
        assert(nextBaseline(prior, now) === Some(queries(now).toMap))
      }
  }

  // each digest is of the baseline file the inline rule in Bench wrote
  // for the same archive pair before the rule was extracted (keys
  // sorted, 4 decimals); 242 and 203 of the 341 minima keep their prior
  Seq(
    ("bench_full_r13_sf0.1.json", "bench_full_r12_sf0.1.json", 0.4193,
      "316fd3027c63f3f3c2aab6fe89f614a647ceb4c87515d20831bbc664dc2a6c60"),
    ("bench_full_r14_sf0.1_c8.json", "bench_full_r12_sf0.1_c8.json", 0.3116,
      "dc2d42c7c0f5b3a8ab6182f6e1744c5544293e195a7ea1920e458b9faeb8069c")
  ).foreach { case (prior, now, q305Prior, digest) =>
    test(s"nextBaseline: a flagged complete run $prior -> $now merges minima") {
      val next = nextBaseline(prior, now).get
      // the regressed query keeps its prior minimum
      assert(next("q305_maxsim_late_interaction") === q305Prior)
      assert(sha256(Bench.jsonMap(next.toSeq.sortBy(_._1))) === digest)
    }
  }

  test("nextBaseline: a failed or partially failed query leaves the baseline") {
    val prior = queries("bench_full_r12_sf0.1.json").toMap
    val now = queries("bench_full_r13_sf0.1.json")
    val q = now.head._1
    val failedRun = now.map { case (n, v) => n -> (if (n == q) -1.0 else v) }
    assert(Tripwire.nextBaseline(prior, failedRun, Seq(q), Nil, Nil) === None)
    // a query that failed in one pass keeps the best of the others
    assert(Tripwire.nextBaseline(prior, now, Nil, Seq(q), Nil) === None)
  }
}
