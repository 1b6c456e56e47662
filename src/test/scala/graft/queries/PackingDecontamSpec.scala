package graft.queries

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Semantic + plan invariants for the round-7 training-prep additions:
  * q182 benchmark decontamination and q183 sequence-packing audit (q181's
  * CDC chain is pinned by its chain-replaying oracle and the streaming
  * parity gate; here only its fixture coverage is asserted).
  */
class PackingDecontamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def collectAll[T](plan: SparkPlan)(
      pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val here = plan.collectWithSubqueries(pf)
    val nested = plan.collectWithSubqueries {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
    }
    here ++ nested.flatMap(p => collectAll(p)(pf))
  }

  test("q182: eval side is a pushed-slice broadcast; containment ratios " +
      "are bounded and the fixture plants real positives") {
    val df = graft.SparkEntry
      .queries("q182_benchmark_decontamination")(spark, sf)
    // the shingle equi-join must be a BROADCAST join — the corpus-side
    // shingle explode never shuffles; only hit pairs do
    val plan = df.queryExecution.sparkPlan
    assert(collectAll(plan) { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"q182's shingle join is not a broadcast join:\n$plan")
    // the eval slice bound must reach the parquet scan (fixed-size read
    // at any corpus scale); the scan lives inside the Materialize cache
    val evalScans = collectAll(plan) {
      case s: FileSourceScanExec if s.metadata.get("PushedFilters")
        .exists(_.contains("LessThan(doc_id,50)")) => s
    }
    assert(evalScans.nonEmpty,
      "q182's eval slice bound did not push to the scan")

    val rows = df.collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val (nSh, nHit, nFlag, maxBp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nSh > 0)
      assert(nFlag <= nHit, s"flagged > hit docs in $r")
      assert(maxBp >= 0 && maxBp <= 10000,
        s"containment bp outside [0, 10000] in $r")
      if (nHit == 0) assert(maxBp == 0 && nFlag == 0)
    }
    // the synthetic corpus plants near-dup families, so the screen must
    // FIND contamination — a validator that only reports zeros proves
    // nothing
    assert(rows.exists(_.getLong(3) > 0), "no eval doc flagged")
    assert(rows.exists(_.getLong(4) == 10000L),
      "no fully-contained eval doc found (fixture should plant one)")
    spark.sqlContext.clearCache()
  }

  test("q183: window counts are exact ceilings, fragmentation is bounded " +
      "by window boundaries, and shards partition the corpus") {
    val B = 2048L
    val rows = graft.SparkEntry
      .queries("q183_sequence_packing_audit")(spark, sf).collect()
    assert(rows.length == 16, s"expected 16 shards, got ${rows.length}")
    rows.foreach { r =>
      val (nDocs, total, nWin, nFrag, bp) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nWin == (total + B - 1) / B, s"window ceiling wrong in $r")
      // each of the nWin−1 interior boundaries can fragment at most one
      // document (documents are contiguous in the packed stream)
      assert(nFrag <= math.max(0L, nWin - 1), s"frag > boundaries in $r")
      assert(bp == (if (nDocs == 0) 0L else nFrag * 10000 / nDocs),
        s"frag_bp arithmetic wrong in $r")
    }
    val corpus = Tables.table(spark, sf, "documents").count()
    assert(rows.map(_.getLong(1)).sum == corpus,
      "shards do not partition the corpus")
    spark.sqlContext.clearCache()
  }

  test("decontamination rule agrees across plans at a SECOND flag " +
      "threshold — the machinery is not tuned to one constant") {
    import graft.functions.Kernels.ShingleHashes
    import graft.functions.TextOps.tokens
    import org.apache.spark.sql.functions._
    val docs = Tables.table(spark, sf, "documents")
    def shingled(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), ShingleHashes(tokens(col("text"))).as("hs"))
    val evalIdx = shingled(docs.filter(col("doc_id") < 50))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id").as("eval_id"), col("hs").as("eval_hs"),
        size(col("hs")).cast("long").as("n_eval"))
    // the stream op is STATELESS, so it applies to a batch frame
    // unchanged — same code path the stream runs
    def viaIntersect(bp: Long) = graft.streaming.StreamSessionize
      .decontamScreenStream(shingled(docs.filter(col("doc_id") >= 50)),
        evalIdx, bp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def viaJoin(bp: Long) = {
      val ev = shingled(docs.filter(col("doc_id") < 50))
        .select(col("doc_id").as("eval_id"), explode(col("hs")).as("sh"))
      val evN = ev.groupBy("eval_id").agg(count(lit(1)).as("n_eval"))
      shingled(docs.filter(col("doc_id") >= 50))
        .select(col("doc_id"), explode(col("hs")).as("sh"))
        .join(ev, "sh")
        .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("overlap"))
        .join(evN, "eval_id")
        .filter(expr("overlap * 10000 DIV n_eval") >= bp)
        .select("doc_id", "eval_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // the fixture's containment is bimodal — planted near-dups sit at
    // ≥ 8888 bp and partial-overlap noise at ≤ 1250 bp — so the second
    // point must land INSIDE the noise tail (1000 bp) for the two
    // thresholds to select different sets
    val loose = viaIntersect(1000)
    assert(loose === viaJoin(1000))
    val strict = viaIntersect(5000)
    assert(strict === viaJoin(5000))
    // monotonicity: loosening the threshold can only ADD pairs, and on
    // this fixture it really does
    assert(strict.subsetOf(loose))
    assert(loose.size > strict.size,
      "second threshold indistinguishable from the first on this fixture")
    spark.sqlContext.clearCache()
  }

  test("q181: the delta-feed fixture exercises adds, updates, AND " +
      "tombstones through the compaction") {
    val rows = graft.SparkEntry
      .queries("q181_cdc_feed_compaction")(spark, sf).collect()
    val comp = rows.filter(_.getString(0) == "compaction")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    Seq("added", "changed", "removed").foreach { ct =>
      assert(comp.getOrElse(ct, 0L) > 0,
        s"fixture produced no '$ct' compacted outcomes — the last-wins " +
          "rule is untested for that type")
    }
    // multi-generation compaction really happened: some key folded >1
    // feed event (n_feed_events strictly exceeds compacted key count)
    val keys = comp.values.sum
    val events = rows.filter(_.getString(0) == "compaction")
      .map(_.getDouble(3)).sum
    assert(events > keys,
      "no key carried more than one feed event — last-wins never fired")
    spark.sqlContext.clearCache()
  }
}
