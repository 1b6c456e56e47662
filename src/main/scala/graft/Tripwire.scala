package graft

/** [[Bench]]'s per-query regression tripwire, as a pure function of this
  * run's per-query best times and the baseline's (seconds; a negative time
  * marks a failed query). Returns the ambient factor it normalized by, the
  * flagged regressions as `(query, prior, now)` in `best` order, and the
  * notes Bench prints to stderr, in order.
  *
  * Both a ratio AND an absolute floor: sub-second queries can move 1.5x on
  * JVM/page-cache noise alone while staying irrelevant to the total; a
  * real plan regression moves both the ratio and the floor. Queries whose
  * baseline is under 0.3 s are skipped — there, fixed overhead dominates
  * and 1.5x is noise, not plan shape.
  *
  * AMBIENT normalization (round-9 lesson): the whole MACHINE can get
  * slower between rounds (container CPU quota, co-tenants) — observed as a
  * uniform ~1.6x across 13 unrelated unchanged queries, which a per-query
  * tripwire misreads as 13 regressions. The run-wide MEDIAN ratio over
  * comparable queries estimates that ambient factor (a median is blind to
  * the handful of genuinely-regressed queries); ratios are normalized by
  * it before flagging, so the tripwire detects queries that regressed
  * RELATIVE to the fleet. The factor never shrinks below 1 (a FASTER
  * machine must not mask absolute regressions).
  *
  * Round-10 hardening (advice): a run-wide median absorbs a GENUINE
  * shared-operator regression that hits >= 50% of the catalog. Two guards:
  * (1) the run-wide estimate is CORROBORATED against a fixed pinned subset
  * of simple queries over disjoint heavy operators — those only slow
  * together when the machine does; if the run-wide median materially
  * exceeds the pinned one, the pinned estimate wins and the residual flags
  * as regressions. (2) normalization is hard-CAPPED at 1.5x — past that,
  * slowdown is never silently absorbed; the excess surfaces as per-query
  * regressions for manual confirmation.
  */
object Tripwire {

  final case class Result(ambient: Double,
                          regressions: Seq[(String, Double, Double)],
                          notes: Seq[String])

  // disjoint heavy operators: parquet scan+hash-agg / shuffle join /
  // window / string funcs / array dot / sessionize / validation / sink
  val pinnedNames: Set[String] = Set(
    "q02_agg_pricing_summary", "q04_join_fact_fact",
    "q13_window_topn", "q30_text_quality",
    "q45_ann_topk_bruteforce", "q50_sessionize",
    "q82_data_quality", "q103_range_partition_export")

  private val AmbientCap = 1.5

  // the proper lower/averaged median (the old ratios(n/2) picked the
  // upper-middle element on even counts, biasing ambient up)
  private def median(xs: Seq[Double]): Option[Double] = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) None
    else if (n % 2 == 1) Some(s(n / 2))
    else Some((s(n / 2 - 1) + s(n / 2)) / 2.0)
  }

  def apply(best: Seq[(String, Double)], prior: Map[String, Double]): Result = {
    val notes = Seq.newBuilder[String]
    val ratioByName = best.collect {
      case (name, now) if now >= 0 && prior.get(name).exists(_ >= 0.3) =>
        name -> now / prior(name)
    }
    val runWide = median(ratioByName.map(_._2)).getOrElse(1.0)
    val pinnedRatios = ratioByName.collect {
      case (n, r) if pinnedNames(n) => r
    }
    // fewer than 3 comparable pinned queries is no corroboration signal
    val pinnedMed = if (pinnedRatios.size >= 3) median(pinnedRatios) else None
    val corroborated = pinnedMed match {
      case Some(p) if runWide > 1.25 * math.max(1.0, p) =>
        notes +=
          f"[bench] run-wide median ratio $runWide%.2fx NOT corroborated " +
            f"by the pinned subset ($p%.2fx over ${pinnedRatios.size} " +
            "queries) — treating the excess as a shared-operator " +
            "regression, not ambient; normalizing by the pinned estimate"
        p
      case _ => runWide
    }
    val ambient = math.max(1.0, math.min(AmbientCap, corroborated))
    if (corroborated > AmbientCap)
      notes +=
        f"[bench] ambient estimate $corroborated%.2fx EXCEEDS the " +
          f"$AmbientCap%.1fx cap — normalization capped; slowdown past " +
          "the cap is reported as regressions and needs manual " +
          "confirmation (is the machine really that much slower?)"
    if (ambient > 1.2)
      notes +=
        f"[bench] ambient slowdown ${ambient}%.2fx vs baseline " +
          "(pinned-corroborated median) — per-query tripwire " +
          "normalized by it"
    // Absolute floor raised 0.5 -> 1.5 s (round-10 verdict #4): the
    // observed cross-run spread on 1-2 s queries is ~±10% but single
    // outlier passes blip past 1.5x with deltas well under a second
    // (q292: +0.66 s tripped rc=1 on a run that was 10% faster overall).
    // A genuine plan regression on a query that MATTERS to the 386 s
    // total moves it by >1.5 s; anything smaller is latent until the
    // ratio persists, at which point the baseline-vs-now diff shows it.
    val regressions = best.collect {
      case (name, now) if now >= 0 &&
          prior.get(name).exists(p =>
            p >= 0.3 && now > 1.5 * ambient * p &&
              now - ambient * p > 1.5) =>
        (name, prior(name), now)
    }
    regressions.foreach { case (name, p, now) =>
      notes +=
        f"[bench] REGRESSION $name: $p%.2f s -> $now%.2f s (${now / p}%.2fx" +
          f", ${now / (ambient * p)}%.2fx ambient-normalized)"
    }
    Result(ambient, regressions, notes.result())
  }

  /** The baseline the next run diffs against, given this run's per-query
    * `best` (seconds, negative for a failed query) and its `failed`,
    * `partial` and flagged `regressions`; `None` leaves the baseline as
    * it is. A clean run's minima replace it. A complete run flagged only
    * by regressions refreshes just the minima it improved (round-10
    * lesson: a 10%-faster run was barred from the baseline by one
    * sub-second blip); regressed and absent entries keep their prior
    * values, so a flagged run can only tighten the tripwire. A run with
    * a failed or partially failed query never touches it.
    */
  def nextBaseline(prior: Map[String, Double], best: Seq[(String, Double)],
                   failed: Seq[String], partial: Seq[String],
                   regressions: Seq[(String, Double, Double)]): Option[Map[String, Double]] =
    if (failed.nonEmpty || partial.nonEmpty) None
    else if (regressions.isEmpty) Some(best.toMap)
    else Some(prior ++ best.map { case (n, now) =>
      n -> prior.get(n).fold(now)(math.min(_, now))
    })
}
