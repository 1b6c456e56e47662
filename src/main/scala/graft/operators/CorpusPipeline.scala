package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.functions.Kernels.ShingleHashes
import graft.functions.TextOps.{hash32, tokens}

/** End-to-end training-corpus preparation: the operator families composed
  * the way a real pipeline runs them, as one library call.
  *
  *   quality filter → exact dedup → near-dup dedup (MinHash candidates →
  *   Jaccard verify → connected components → keep one doc per cluster) →
  *   reproducible stratified sample
  *
  * Every stage is the same scale shape the individual catalog operators
  * use: narrow projections, equi-joins on hash keys, one bounded Pregel
  * loop — no stage introduces a cross join or driver-side row handling.
  * Counts are returned per stage so the funnel is observable (the
  * monotone-decreasing invariant is what CorpusPipelineSpec asserts).
  *
  * @param minTokens    quality floor: docs with fewer tokens drop
  * @param maxPunctRatio quality ceiling on punctuation density
  * @param jaccard      near-dup verification threshold
  * @param sampleBp     per-doc keep probability in basis points (of 10000),
  *                     hash-seeded → reproducible and repartition-stable
  * @param stopShingleDf document-frequency cut applied to the shingle table
  *                     before the near-dup self-join ([[StopShingles]]).
  *                     ON BY DEFAULT: the self-join's cost is Σ df² over
  *                     shingle frequencies, so one boilerplate shingle
  *                     shared by k docs emits k² candidate rows — at corpus
  *                     scale a single license header is a fatal hot key.
  *                     The default bounds every key's fan-out to
  *                     ≤ [[CorpusPipeline.DefaultStopShingleDf]]² pairs;
  *                     `None` opts out (exact q43 semantics, only safe on
  *                     boilerplate-free corpora)
  * @param iqrOutlierK  when set, drop documents whose text length falls
  *                     outside `[q1 - k·IQR, q3 + k·IQR]` (Tukey's rule,
  *                     the q86 operator as a pipeline stage); None = off
  */
final case class PipelineConfig(minTokens: Int = 5,
                                maxPunctRatio: Double = 0.3,
                                jaccard: Double = 0.8,
                                sampleBp: Int = 10000,
                                stopShingleDf: Option[Long] =
                                  Some(CorpusPipeline.DefaultStopShingleDf),
                                iqrOutlierK: Option[Double] = None)

object CorpusPipeline {

  /** Default df cut for the near-dup stage: a shingle in more than this
    * many documents is treated as boilerplate and dropped before the
    * candidate self-join, bounding any key's fan-out to ≤ df² = 10⁶
    * candidate rows (vs unbounded k² growth with corpus size). Shingles
    * this common carry no near-dup signal — they match everything — so
    * the cut changes candidate QUALITY negligibly while making the
    * composed pipeline's cost linear-ish in the corpus by default.
    */
  val DefaultStopShingleDf = 1000L

  /** Run the pipeline; returns (prepared corpus, stage → surviving docs).
    *
    * @param shingleSource optional pre-staged exploded shingle table
    *   (doc_id, sh) covering at least the input corpus — e.g. the text
    *   family's shared hashed-shingle mirror. Shingles are a pure
    *   per-document function of the text, so semi-joining the staged
    *   table to the surviving doc_ids yields exactly the rows the
    *   inline tokenize+shingle+explode would produce — one corpus text
    *   scan is shared with the rest of the dedup family instead of
    *   re-run inside the pipeline. None = derive inline (stand-alone
    *   library use).
    */
  def prepare(docs: DataFrame,
              cfg: PipelineConfig = PipelineConfig(),
              shingleSource: Option[DataFrame] = None)
      : (DataFrame, Seq[(String, Long)]) = {
    val funnel = Seq.newBuilder[(String, Long)]
    funnel += "input" -> docs.count()

    // 1. quality: cheap codegen'd per-row predicates, no shuffle.
    // Stage counts ride on the Materialize's own eager count
    // (Materialize.counted) — the old spelling paid each stage's count
    // job twice, once to materialize and once for the funnel.
    val (quality, nQuality) = Materialize.counted(docs
      .withColumn("__tok", size(tokens(col("text"))))
      .withColumn("__punct",
        length(regexp_replace(col("text"), "[^.,;:!?]", "")) * 1.0 /
          greatest(length(col("text")), lit(1)))
      .filter(col("__tok") >= cfg.minTokens &&
        col("__punct") <= cfg.maxPunctRatio)
      .drop("__tok", "__punct"))
    funnel += "quality" -> nQuality

    // 1b. optional length-outlier cut (Tukey bounds over the surviving
    // corpus): one percentile aggregate broadcast back — two linear passes
    val trimmed = cfg.iqrOutlierK match {
      case None => quality
      case Some(k) =>
        val b = quality.agg(
          expr("percentile(length(text), 0.25)").as("__q1"),
          expr("percentile(length(text), 0.75)").as("__q3"))
        val iqr = col("__q3") - col("__q1")
        val (t, nTrimmed) = Materialize.counted(
          quality.crossJoin(broadcast(b))
            .filter(length(col("text")) >= col("__q1") - lit(k) * iqr &&
              length(col("text")) <= col("__q3") + lit(k) * iqr)
            .drop("__q1", "__q3"))
        funnel += "length_outliers" -> nTrimmed
        t
    }

    // 2. exact dedup: keep the smallest doc_id per content fingerprint
    val (exact, nExact) = Materialize.counted {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      trimmed.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    funnel += "exact_dedup" -> nExact
    // each Materialize is eager, so once a successor stage is cached its
    // inputs are DEAD — drop them immediately. At full heap this is free
    // (the blocks would just idle); under memory pressure it is the
    // difference between the live working set and the SUM of all stage
    // footprints competing for the store (the q104 quarter-heap tripwire:
    // the exploded shingle table alone approaches the 2g store, and
    // eviction of still-needed blocks is what made the pipeline re-derive
    // stages mid-flight)
    quality.unpersist(false)
    if (!(trimmed eq quality)) trimmed.unpersist(false)

    // 3. near-dup: shingle → jaccard pairs → components → keep min doc
    val sh = {
      val base = shingleSource match {
        case Some(src) => src
          .join(exact.select("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("sh"))
        case None => exact.select(col("doc_id"),
          explode(ShingleHashes(tokens(col("text")))).as("sh"))
      }
      // materialize BEFORE the cut so the shingle explode runs once even
      // though the df aggregation and anti-join both consume it
      cfg.stopShingleDf match {
        case None => Materialize(base)
        case Some(t) =>
          val b = Materialize(base)
          val cut = Materialize(StopShingles.filter(b, "sh", t))
          // the uncut explode is the LARGEST block in the pipeline and is
          // fully consumed by the eager cut above — freeing it here, not
          // at pipeline end, halves the near-dup stage's peak footprint
          b.unpersist(false)
          cut
      }
    }
    val pairs = Materialize(
      graft.queries.TextQueries.jaccardPairs(sh, cfg.jaccard)
        .select("doc_a", "doc_b"))
    sh.unpersist(false)
    val drop = ConnectedComponents.minLabel(pairs)
      .filter(col("doc") =!= col("label"))   // keep each cluster's min doc
      .select(col("doc").as("doc_id"))
    val (near, nNear) = Materialize.counted(
      exact.join(drop, Seq("doc_id"), "left_anti"))
    funnel += "near_dedup" -> nNear
    pairs.unpersist(false)
    exact.unpersist(false)

    // 4. reproducible sample (hash-seeded, like q57/q62)
    val sampled =
      if (cfg.sampleBp >= 10000) near
      else near.filter(
        hash32(concat(lit("pipeline_"), col("doc_id"))) % 10000
          < cfg.sampleBp)
    funnel += "sampled" -> sampled.count()

    (sampled, funnel.result())
  }

  /** Post-pipeline expectation check ([[DataQuality]] as the pipeline's
    * exit gate): the prepared corpus must have a unique non-null doc_id
    * and non-null text. Returns one row per rule with its exact violation
    * count — all zeros on a healthy run.
    */
  def validate(prepared: DataFrame): DataFrame =
    DataQuality.validate(prepared, Seq(
      DataQuality.NotNull("doc_id"),
      DataQuality.NotNull("text"),
      DataQuality.Unique(Seq("doc_id"))))
}
