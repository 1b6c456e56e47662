package graft

import graft.queries.{IngestQueries, MultimodalQueries, Relational, SimilarityQueries, TextQueries, TrainingQueries}

/** Benchmark main: the FULL catalog on SPARK_GRAFT_SF_DIR, one JSON line.
  *
  * Queries are forced with the no-op sink (full plan executes, nothing is
  * collected to the driver, no count() shortcut that would let Catalyst
  * prune the aggregation away). A warm-up pass at the smallest SF
  * first-loads parquet footers + codegen so timed runs reflect plan cost,
  * not janino compilation.
  *
  * The catalog is timed `SPARK_GRAFT_BENCH_RUNS` times (default 2) and the
  * reported per-query number is the MIN across runs — ambient contention
  * (another JVM running Verify, a CPU burner) inflates individual runs but
  * rarely all of them, so min-of-n is the stable estimate of plan cost.
  * The JSON headline (`value`) is `sum_of_best`; `runs`/`min_total` count
  * only queries that succeeded in every pass, so a run in which a query
  * crashed early can never understate a total. Queries that failed in some
  * but not all passes land in `partial_failures` and fail the bench.
  */
object Bench {

  /** Catalog grouped by query family, in catalog order. */
  def families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Relational.defs.map(_._1),
    "text" -> TextQueries.defs.map(_._1),
    "similarity" -> SimilarityQueries.defs.map(_._1),
    "multimodal" -> MultimodalQueries.defs.map(_._1),
    "training" -> TrainingQueries.defs.map(_._1),
    "ingest" -> IngestQueries.defs.map(_._1))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // parse the round override UP FRONT: a malformed value must fail
    // before the hours of timed passes, not at archive-write time
    val explicitRound = sys.env.get("SPARK_GRAFT_BENCH_ROUND").map { v =>
      v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_BENCH_ROUND must be an integer, got '$v'"))
    }
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional comma-separated subset for targeted local iteration
    // (SPARK_GRAFT_BENCH_ONLY=q104_corpus_pipeline_funnel,q66_ivf_kmeans);
    // a subset run keeps the tripwire (its names still resolve in the
    // baseline map) but NEVER writes artifacts — a partial map must not
    // become the next round's baseline or the archived full dump
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // streaming family (round-10 #9): stateful twins timed like queries —
    // they dispatch through streamJobs instead of the QueryDef catalog
    val streamJobs = graft.streaming.StreamBench.jobs.toMap
    val names = {
      val all = families.flatMap(_._2) ++
        graft.streaming.StreamBench.jobs.map(_._1)
      only.fold(all)(o => all.filter(o))
    }
    val queries = SparkEntry.queries

    // one execution path for both kinds: batch QueryDefs force through
    // the no-op sink; streaming jobs run their AvailableNow replay
    def execOne(name: String, dir: String): Unit =
      streamJobs.get(name) match {
        case Some(job) => job(spark, dir)
        case None => queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }

    // warm-up: touch every table's footer, then run the whole catalog once
    // at the smallest SF — generated code is structurally identical across
    // SFs, so the codegen cache is hot and timed runs measure execution.
    Tables.names.foreach(t => Tables.table(spark, sfDir, t).count())
    names.foreach { name =>
      try execOne(name, "/root/testdata/sf0.001")
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
      }
    }
    // warm-up-scale persists must not occupy the storage pool when the
    // timed runs start
    spark.sqlContext.clearCache()

    // discarded FULL-SF warm-up pass (round-7 verdict #7): runs at the
    // target SF showed a 1.8x first-run penalty (page-cache + JIT + the
    // session's other JVMs winding down), which made the committed minima
    // hostage to machine quiescence. One untimed pass at sfDir loads the
    // page cache and finishes tiered compilation so the timed runs start
    // warm; SPARK_GRAFT_BENCH_WARMUP=0 skips it for quick local iteration.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0") {
      val t0 = System.nanoTime()
      names.foreach { name =>
        try execOne(name, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[bench] full-SF warm-up $name failed: ${e.getMessage}")
        }
      }
      spark.sqlContext.clearCache()
      System.err.println(
        f"[bench] discarded full-SF warm-up pass ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    // A failed query is recorded as -1, never as its (near-zero) elapsed
    // time — a broken query must make the bench look broken, not fast.
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try {
        execOne(name, sfDir)
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        -1.0
      } finally {
        // release each query's Materialize persists so later queries are
        // timed against a clean storage pool, not a shrinking one
        spark.sqlContext.clearCache()
      }
    }

    // runs(r)(i) = seconds for names(i) in pass r
    val runs: Seq[Seq[Double]] = (1 to nRuns).map { r =>
      val pass = names.map(timeOne)
      System.err.println(f"[bench] run $r/$nRuns total ${pass.filter(_ >= 0).sum}%.1f s")
      pass
    }
    // per-query best: min over the runs where the query succeeded
    val best: Seq[(String, Double)] = names.zipWithIndex.map { case (name, i) =>
      val ok = runs.map(_(i)).filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val bestMap = best.toMap
    val failed = best.collect { case (k, v) if v < 0 => k }
    // a query that crashed in SOME runs but not all is neither clean nor
    // dead — run totals over it would make the crashing run look fast, so
    // run totals only count queries that succeeded in EVERY run, and the
    // flaky set is surfaced separately (and still fails the bench)
    val partial = names.zipWithIndex.collect {
      case (name, i) if runs.exists(_(i) < 0) && runs.exists(_(i) >= 0) => name
    }
    val stableIdx = names.indices.filter(i => runs.forall(_(i) >= 0))

    def fmt(d: Double): String = f"$d%.4f"
    val qs = best.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")

    // Per-query regression tripwire: ambient spread on identical plans is
    // ±10% (PERF.md), so a >1.5x per-query slowdown versus the last CLEAN
    // run is a real plan regression — and must fail the bench even when
    // hidden inside a faster total. The baseline is this bench's own
    // per-query-minima map from the previous clean run (the driver's
    // BENCH_r*.json artifacts truncate the query map, so they cannot be
    // diffed); it is rewritten only on a clean pass, so a regressing run
    // never becomes its own excuse. The rule itself is [[Tripwire]].
    // baseline is per-SF: minima at sf0.01 must never be the yardstick
    // for an sf0.1 run (everything would read as a regression).
    // Repo-relative artifacts (tripwire baseline, full per-query dump)
    // anchor at the repo root derived from the loaded classes' location,
    // NOT the process cwd — a bench launched from another directory would
    // otherwise silently find no baseline and report a vacuously clean
    // tripwire.
    val repoRoot: java.io.File = {
      val loc = new java.io.File(Bench.getClass.getProtectionDomain
        .getCodeSource.getLocation.toURI)
      Iterator.iterate(loc)(_.getParentFile).takeWhile(_ != null)
        .find(d => new java.io.File(d, "build.sbt").isFile)
        .getOrElse(new java.io.File("."))
    }
    // baseline files are keyed by CPU COUNT (round-12 lesson: the
    // driver's 8-core scaling probe is a clean run too, and at sf0.1 its
    // minima are FASTER than 32-core times — an un-keyed baseline left
    // the 32-core tripwire diffing against 8-core minima, guaranteeing
    // false regressions). Each core count now trips only against itself.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      new java.io.File(repoRoot,
        s"bench_baseline_${new java.io.File(sfDir).getName}_c$cpus.json")
        .getPath)
    val priorTimes: Map[String, Double] = {
      val f = new java.io.File(baselinePath)
      if (!f.isFile) Map.empty
      else {
        val txt = new String(
          java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
        "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    if (priorTimes.isEmpty)
      System.err.println(s"[bench] WARNING: no tripwire baseline at " +
        s"$baselinePath — the regression check is VACUOUS this run")
    val Tripwire.Result(ambient, regressions, notes) = Tripwire(best, priorTimes)
    notes.foreach(System.err.println)
    val fams = (families :+
        ("streaming" -> graft.streaming.StreamBench.jobs.map(_._1)))
      .map { case (fam, qn) =>
      "\"" + fam + "\":" +
        fmt(qn.filter(bestMap.contains).map(bestMap).filter(_ >= 0).sum)
    }.mkString("{", ",", "}")
    val runTotals = runs.map(p => fmt(stableIdx.map(p).sum)).mkString("[", ",", "]")
    // headline = sum of per-query minima: comparable across rounds even
    // when one pass of one query was hit by ambient contention, and never
    // understated by a run in which a query crashed early
    val sumOfBest = best.map(_._2).filter(_ >= 0).sum
    val minTotal = if (stableIdx.isEmpty) -1.0 else runs.map(p => stableIdx.map(p).sum).min
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val partials = partial.map("\"" + _ + "\"").mkString("[", ",", "]")
    val regs = regressions.map { case (name, p, now) =>
      s"""{"query":"$name","prior":${fmt(p)},"now":${fmt(now)}}"""
    }.mkString("[", ",", "]")
    // queries_normalized: ambient-divided per-query times persisted next
    // to the raw map (round-9 verdict #5) — cross-round diffs on the
    // archives read true without re-deriving each run's ambient factor.
    val qsNorm = best.map { case (k, v) =>
      "\"" + k + "\":" + fmt(if (v >= 0) v / ambient else v)
    }.mkString("{", ",", "}")
    // staged-artifact (mirror) build cost, made visible (round-12 verdict
    // #2): the builds run during the discarded warm-up passes, so no
    // timed pass ever pays them — sum_of_best keeps its meaning, and the
    // real one-time derivation cost is now REPORTED per family instead
    // of hidden. Keys carry the SF they were built at (the sf0.001
    // warm-up builds its own tiny mirrors before the full-SF ones).
    val mirrorSec = graft.operators.StagedArtifacts.buildSeconds.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val jsonLine =
      s"""{"metric":"total","value":${fmt(sumOfBest)},"unit":"sec","queries":$qs,"queries_normalized":$qsNorm,"families":$fams,"mirror_build_sec":$mirrorSec,"stream_batch_metrics":${graft.streaming.StreamMetrics.json},"runs":$runTotals,"min_total":${fmt(minTotal)},"sum_of_best":${fmt(sumOfBest)},"n_queries":${names.size},"sf":"$sfDir","ambient_ratio":${fmt(ambient)},"errors":$errs,"partial_failures":$partials,"regressions":$regs}"""
    if (only.isDefined) {
      // subset run: report only — no artifact may record a partial map
      spark.stop()
      println(jsonLine)
      if (failed.nonEmpty || partial.nonEmpty || regressions.nonEmpty)
        sys.exit(1)
      return
    }
    // complete per-query artifact: the driver's BENCH_r*.json capture
    // truncates the query map (~55 of 166 visible), so cross-round
    // per-query diffs need the full line persisted on every run
    java.nio.file.Files.write(
      new java.io.File(repoRoot,
        s"bench_full_${new java.io.File(sfDir).getName}.json").toPath,
      jsonLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // ALSO a round-stamped archive: bench_full_* is overwritten each run
    // and the tripwire baseline self-refreshes on every clean pass, so
    // per-query history beyond round N−1 was unrecoverable (round-6
    // verdict #4). The round is inferred from the driver's committed
    // BENCH_r<N>.json artifacts (this run belongs to max(N)+1 — the
    // driver writes its own artifact only after the bench returns);
    // overwrites WITHIN a round are fine, the archive exists to survive
    // ACROSS rounds.
    // SPARK_GRAFT_BENCH_ROUND overrides the inference: a full bench rerun
    // AFTER the driver already wrote this round's BENCH_rN.json would
    // infer N+1 and squat the next round's archive name; without an
    // explicit round the archive is also write-once (first full run of a
    // round claims it; later reruns of the same round keep improving the
    // tripwire baseline and bench_full_* but cannot silently rewrite
    // history the archive exists to preserve).
    val inferredRound = Option(repoRoot.list()).getOrElse(Array.empty[String])
      .flatMap("""BENCH_r(\d+)\.json""".r.findFirstMatchIn(_))
      .map(_.group(1).toInt).foldLeft(0)(math.max) + 1
    val round = explicitRound.getOrElse(inferredRound)
    // non-32-core probes (the driver's scaling run) archive under their
    // own cpu-suffixed name: the r12 8-core probe squatted the canonical
    // r13 slot with 8-core data, which this keying makes impossible
    val cpuSuffix = if (cpus == "32") "" else s"_c$cpus"
    val archive = new java.io.File(repoRoot, f"bench_full_r$round%02d_" +
      s"${new java.io.File(sfDir).getName}$cpuSuffix.json")
    val clean = failed.isEmpty && partial.isEmpty && regressions.isEmpty
    // write-once per round, with one escape hatch: a CLEAN full run may
    // supersede an archive left by an earlier errored or smaller-catalog
    // run of the same round. Round-8 lesson: a mid-round run claimed the
    // archive at 190 queries, then the end-of-round 236-query run was
    // refused and the round's true per-query map was lost. A clean run
    // can only add information; a dirty run still never rewrites history.
    val supersedesStale = clean && archive.isFile && {
      val txt = new String(
        java.nio.file.Files.readAllBytes(archive.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val priorN = """"n_queries":(\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt).getOrElse(0)
      txt.contains("\"errors\":[\"") || priorN < names.size
    }
    if (explicitRound.isDefined || !archive.isFile || supersedesStale)
      java.nio.file.Files.write(archive.toPath,
        jsonLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else
      System.err.println(s"[bench] round-stamped archive ${archive.getName} " +
        "already exists — NOT overwriting (set SPARK_GRAFT_BENCH_ROUND to " +
        "force a specific round's archive)")
    if (clean) {
      // next round diffs against THIS run's minima
      java.nio.file.Files.write(java.nio.file.Paths.get(baselinePath),
        qs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } else if (failed.isEmpty && partial.isEmpty) {
      // COMPLETE run flagged only by regressions: it may still refresh
      // the per-query minima it IMPROVED (round-10 lesson: a 10%-faster
      // run was barred from the baseline by one sub-second blip, so its
      // improvements were lost). Regressed/absent entries keep their
      // prior values — a flagged run can only tighten the tripwire.
      val merged = (priorTimes.keySet ++ bestMap.keySet).toSeq.sorted
        .map { n =>
          val now = bestMap.getOrElse(n, -1.0)
          val v = (priorTimes.get(n), now) match {
            case (Some(p), x) if x >= 0 => math.min(p, x)
            case (Some(p), _)           => p
            case (None, x)              => x
          }
          "\"" + n + "\":" + fmt(v)
        }.mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(baselinePath),
        merged.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println("[bench] flagged-but-complete run: baseline " +
        "minima refreshed for improved queries only")
    }
    // the one-line JSON is printed LAST, after every artifact write, all
    // stderr chatter, and spark.stop() (round-12 verdict #1: the driver
    // parses the tail of captured output, and an archive-refusal line
    // landing after the JSON broke its parse three rounds running)
    spark.stop()
    println(jsonLine)
    if (!clean) sys.exit(1)
  }
}
