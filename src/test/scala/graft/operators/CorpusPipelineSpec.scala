package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

class CorpusPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("stage funnel is monotone and deterministic across runs") {
    val docs = Tables.table(spark, sf, "documents")
    val cfg = PipelineConfig(minTokens = 5, maxPunctRatio = 0.5,
      jaccard = 0.8, sampleBp = 8000)
    val (corpus, funnel) = CorpusPipeline.prepare(docs, cfg)
    val counts = funnel.map(_._2)
    assert(funnel.map(_._1) ===
      Seq("input", "quality", "exact_dedup", "near_dedup", "sampled"))
    // each stage only removes docs
    assert(counts === counts.sorted.reverse, funnel.toString)
    assert(counts.head === 500)
    assert(counts.last > 0)
    assert(corpus.count() === counts.last)

    // hash-seeded decisions: a rerun keeps EXACTLY the same documents
    val (corpus2, funnel2) = CorpusPipeline.prepare(docs, cfg)
    assert(funnel2 === funnel)
    val a = corpus.select("doc_id").collect().map(_.getLong(0)).sorted
    val b = corpus2.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a === b)
  }

  test("near-dup stage removes transitive duplicate chains") {
    val docs = Tables.table(spark, sf, "documents")
    val (_, funnel) = CorpusPipeline.prepare(docs,
      PipelineConfig(minTokens = 0, maxPunctRatio = 1.0, sampleBp = 10000))
    val m = funnel.toMap
    // the synthetic corpus contains injected near-dup groups: exact dedup
    // alone must not reach the near-dup floor
    assert(m("near_dedup") < m("exact_dedup"))
    assert(m("sampled") === m("near_dedup")) // sampleBp=10000 keeps all
  }

  test("IQR outlier stage drops length extremes; output validates clean") {
    import spark.implicits._
    val docs = (1 to 40).map(i =>
        (i.toLong, s"doc number $i with some ordinary words here now"))
      .toDF("doc_id", "text")
      .union(Seq((99L, "tiny doc x y z"),
        (100L, ("gigantic " * 400) + "end of the enormous outlier"))
        .toDF("doc_id", "text"))
    val (out, funnel) = CorpusPipeline.prepare(docs,
      PipelineConfig(minTokens = 3, maxPunctRatio = 1.0,
        iqrOutlierK = Some(1.5)))
    val m = funnel.toMap
    assert(funnel.map(_._1).contains("length_outliers"))
    assert(m("length_outliers") < m("quality"))   // the giant doc dropped
    assert(!out.select("doc_id").collect().map(_.getLong(0)).contains(100L))
    // exit gate: unique non-null ids, non-null text -> zero violations
    val v = CorpusPipeline.validate(out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v.size === 3 && v.values.forall(_ == 0L))
  }

  test("default config engages the stop-shingle cut: a hot boilerplate " +
      "shingle emits zero candidate pairs instead of df²") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.Kernels.ShingleHashes
    import graft.functions.TextOps.tokens

    // the pipeline must be safe-by-default: an explicit opt-IN to the
    // unbounded self-join, never a silent one
    assert(PipelineConfig().stopShingleDf
      .contains(CorpusPipeline.DefaultStopShingleDf))

    // k docs sharing an 8-token boilerplate tail (6 hot 3-gram shingles,
    // each with df = k > DefaultStopShingleDf) plus 2 unique-prefix
    // shingles per doc — the license-header shape that makes the unbanded
    // join emit ~6·k² candidate rows
    val k = (CorpusPipeline.DefaultStopShingleDf + 100).toInt
    val docs = (1 to k).map(i =>
        (i.toLong, s"u${i}x u${i}y boiler plate text common to all docs here"))
      .toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(ShingleHashes(tokens(col("text")))).as("sh"))

    // the fixture really is hot: max df exceeds the default threshold
    val maxDf = sh.groupBy("sh").agg(count(lit(1)).as("d"))
      .agg(max("d")).head().getLong(0)
    assert(maxDf > CorpusPipeline.DefaultStopShingleDf)

    // with the default cut (exactly what prepare() now applies), the
    // candidate self-join collapses to the unique-prefix shingles — zero
    // pairs — instead of ~6·k² boilerplate candidates
    val cut = StopShingles.filter(sh, "sh",
      CorpusPipeline.DefaultStopShingleDf)
    val cand = cut.as("a").join(cut.as("b"),
      col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id")).count()
    assert(cand === 0L)

    // end-to-end with defaults: completes linearly and keeps every doc
    // (boilerplate-only overlap is not a near-dup signal)
    val (out, funnel) = CorpusPipeline.prepare(docs,
      PipelineConfig(minTokens = 3))
    assert(out.count() === k.toLong)
    assert(funnel.toMap.apply("near_dedup") === k.toLong)
  }

  test("pipeline survives a corpus with no near-dup pairs") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red green blue cyan magenta yellow"))
      .toDF("doc_id", "text")
    val (out, funnel) = CorpusPipeline.prepare(tiny, PipelineConfig())
    assert(out.count() === 3)
    assert(funnel.toMap.apply("near_dedup") === 3)
  }
}
