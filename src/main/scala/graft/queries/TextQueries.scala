package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables.{table, tableParallel}
import graft.fs.NioLocalFs
import graft.functions.{MinhashBandKeys, NGrams, NfcNormalize, ShingleHashes, SimhashSig, TextOps, WindowHashes, WinnowFingerprints}
import graft.functions.TextOps._
import graft.operators.{ConnectedComponents, Materialize, SkewTools, StopShingles}

/** Text-analysis + deduplication operators over the `documents` table —
  * the LLM-training-data-pipeline surface (SURVEY.md §2-C).
  *
  * Design for 100 TB: every per-document computation (tokens, shingles,
  * minhash signatures, simhash bit-sums, fingerprints) is a narrow
  * projection built from codegen'd built-ins — embarrassingly parallel, no
  * shuffle. The only shuffles are the ones the algorithms require:
  * band-bucket joins (MinHash/LSH), shingle equi-joins (Jaccard), and final
  * group-bys — all equi-shuffles on well-distributed keys, never a cross
  * join on the corpus.
  *
  * The hash family is md5-derived (TextOps.hash32) specifically so DuckDB
  * can replay every operator bit-identically as an oracle.
  */
object TextQueries {

  // DuckDB-side shared fragments
  private val duckToks =
    "regexp_split_to_array(lower(trim(text)), '\\s+')"
  private val duckShingles =
    s"""CASE WHEN len(ws) >= 3
       | THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                     for i in range(1, len(ws) - 1)])
       | ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  /** Distinct md5-hashed 3-gram shingles — the SQL twin of the native
    * [[ShingleHashes]] expression (distinct applied AFTER hashing on both
    * sides so 32-bit collisions can never desynchronize the engines).
    */
  private val duckHs =
    s"""CASE WHEN len(ws) >= 3
       | THEN list_distinct(list_transform(
       |   [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |    for i in range(1, len(ws) - 1)],
       |   s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)))
       | ELSE CAST([] AS BIGINT[]) END""".stripMargin

  /** The q190/q195 shared quality scorer: integer-weight linear
    * classifier over per-doc features (length, lexical diversity,
    * stopword density, gibberish and word-length signals), plus the
    * threshold decision. One narrow codegen'd projection — stateless, so
    * the same column program scores a STREAM (the
    * `StreamSessionize.qualityScreenStream` ingest-time screen, parity-
    * gated against this batch path).
    */
  private[graft] def qualityScored(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("ws"))
      .withColumn("toks", size(col("ws")).cast("long"))
      .withColumn("uniq",
        size(array_distinct(col("ws"))).cast("long"))
      .withColumn("stopc", expr(
        """CAST(size(filter(ws, t -> t IN ('the','a','an','and','of',
          |'to','in','is','that','it'))) AS BIGINT)""".stripMargin))
      .withColumn("longw", expr(
        "CAST(size(filter(ws, t -> length(t) > 12)) AS BIGINT)"))
      .withColumn("wlen", expr(
        "aggregate(ws, CAST(0 AS BIGINT), (acc, t) -> acc + length(t))"))
      .withColumn("uniq_bp", expr("uniq * 10000 DIV toks"))
      .withColumn("stop_bp", expr("stopc * 10000 DIV toks"))
      .withColumn("mwl_c", expr("wlen * 100 DIV toks"))
      .withColumn("score", expr(
        """2 * least(toks, 400) + uniq_bp DIV 4
          | + least(stop_bp, 2000) DIV 2 - 100 * longw
          | - abs(mwl_c - 500) DIV 2""".stripMargin))
      .withColumn("pass",
        when(col("score") >= 2000L, 1L).otherwise(0L))

  /** Per-process parquet mirrors of the MinHash-LSH dedup pipeline —
    * the second shared-artifact family after the co-purchase mirror:
    * seven queries (q41/q42/q237/q321/q333/q337/q340) consume the same
    * per-doc hashed-shingle sets, band keys, and band-collision
    * candidate pairs, and each used to re-derive them from the raw
    * text. At 100 TB the signature/band index IS the persisted
    * artifact of a dedup service (signatures written once per corpus
    * snapshot, every audit and every incremental batch reads the
    * index); locally the mirror is written lazily once per (sfDir,
    * JVM): `hs` (doc_id, source, hs), `bands` (doc_id, source,
    * band_id, key), `cand` (doc_a < doc_b distinct band collisions).
    * Contents are exactly what the inline derivations produced —
    * consumer hashes unchanged.
    */
  private val lshMirror =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def lshMirrorBase(s: SparkSession, dir: String): String =
    lshMirror.computeIfAbsent(dir, _ => graft.operators.StagedArtifacts.timed(
      s"lsh@${new java.io.File(dir).getName}") {
      val out = graft.operators.StagedArtifacts.tempDir("graft-lsh-")
      val hs = Materialize(tableParallel(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          ShingleHashes.of(tokens(col("text"))).as("hs"))
        .filter(size(col("hs")) > 0))
      NioLocalFs.writer(hs.coalesce(8)).mode("overwrite").parquet(s"$out/hs")
      NioLocalFs.writer(hs.select(col("doc_id"), col("source"),
          posexplode(MinhashBandKeys.of(col("hs"))))
        .toDF("doc_id", "source", "band_id", "key")
        .coalesce(8)).mode("overwrite").parquet(s"$out/bands")
      hs.unpersist()
      val bands = s.read.parquet(s"$out/bands")
      NioLocalFs.writer(bands.as("a").join(bands.as("b"),
          col("a.band_id") === col("b.band_id") &&
            col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .coalesce(4)).mode("overwrite").parquet(s"$out/cand")
      out
    })

  /** (doc_id, source, hs) — per-doc distinct hashed 3-gram shingles. */
  private[graft] def hsMirror(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${lshMirrorBase(s, dir)}/hs")

  /** (doc_id, source, band_id, key) — the persisted LSH band index. */
  private[graft] def bandsMirror(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${lshMirrorBase(s, dir)}/bands")

  /** (doc_a < doc_b) — distinct band-collision candidate pairs. */
  private[graft] def candMirror(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${lshMirrorBase(s, dir)}/cand")

  /** (doc_id, sh) — the exploded hashed-shingle table, derived from the
    * LSH mirror's per-doc sets: the per-doc explode of a compact parquet
    * read instead of a raw-text re-shingling scan.
    */
  private[graft] def hsExploded(s: SparkSession, dir: String): DataFrame =
    hsMirror(s, dir).select(col("doc_id"), explode(col("hs")).as("sh"))

  /** Per-process parquet mirrors of the exact-Jaccard pair sets — the
    * THIRD shared-artifact family (after the co-purchase and LSH
    * mirrors): the shingle self-join + intersection counting that
    * q43/q48/q49/q73/q145/q166/q228/q262 each re-derived from raw text
    * is staged once per (sfDir, stop-shingle variant) and consumed as a
    * parquet read. At 100 TB the verified pair set IS the persisted
    * artifact of a dedup service — candidates generated and verified
    * once per corpus snapshot; clustering, split assignment, and
    * blocking audits all read the pair list — so seven-plus corpus
    * scans collapse into one staged derivation. The mirror stores the
    * exact INTEGER columns the inline pipeline produced
    * (doc_a, doc_b, i = |A∩B|, na, nb); consumers re-derive
    * jaccard = i·1.0/(na+nb−i) with the same expression, so every
    * value is bit-identical and all consumer hashes are unchanged.
    *
    * Variants by stop-shingle df cut:
    *   - `none`  — exact q43 semantics; candidate generation runs
    *     through [[SkewTools.saltedJoin]] (8 buckets), the production
    *     skew-bounded path (result-identical to the unsalted join —
    *     the q73 contract, property-spec'd in ScaleToolsSpec), stored
    *     at the consumers' ≥ 0.8 threshold;
    *   - `df5`   — q49's harsh boilerplate cut (hot keys DROPPED, so
    *     the self-join needs no salt), stored at ≥ 0.8;
    *   - `df1000` — the production [[graft.operators.CorpusPipeline]]
    *     cut; stored UNFILTERED (every intersecting pair) because
    *     q228's containment audit ranks sub-threshold pairs too;
    *     threshold consumers (q145/q262) filter ≥ 0.8 at read.
    *
    * The exploded shingle input derives from the LSH mirror's per-doc
    * hashed sets, so ONE corpus text scan feeds the whole shingle
    * family (signatures, bands, LSH candidates, and exact pairs).
    */
  private val shPairs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def shPairsBase(s: SparkSession, dir: String,
                          cut: Option[Long]): String = {
    val key = s"$dir|${cut.fold("none")(d => s"df$d")}"
    shPairs.computeIfAbsent(key, _ => graft.operators.StagedArtifacts.timed(
      s"shpairs@${new java.io.File(dir).getName}:" +
        cut.fold("none")(d => s"df$d")) {
      val out = graft.operators.StagedArtifacts.tempDir("graft-shpairs-")
      val base = Materialize(hsMirror(s, dir)
        .select(col("doc_id"), explode(col("hs")).as("sh")))
      val sh = cut.fold(base)(t =>
        Materialize(StopShingles.filter(base, "sh", t)))
      val minJ = if (cut.isEmpty || cut.contains(5L)) 0.8 else 0.0
      val salt = if (cut.isEmpty) Some(8) else None
      NioLocalFs.writer(jaccardPairs(sh, minJ, saltBuckets = salt)
        .select("doc_a", "doc_b", "i", "na", "nb")
        .coalesce(4)).mode("overwrite").parquet(s"$out/pairs")
      sh.unpersist()
      base.unpersist()
      out
    })
  }

  /** (doc_a, doc_b, i, na, nb, jaccard) with jaccard ≥ `minJ` — the
    * staged exact-Jaccard pair set for one stop-shingle variant. `minJ`
    * must not undercut the variant's stored floor (0.8 for none/df5,
    * 0.0 for df1000); the jaccard column is re-derived from the stored
    * integers with [[jaccardPairs]]' exact expression, so values are
    * bit-identical to the inline pipeline's.
    */
  private[graft] def shPairsMirror(s: SparkSession, dir: String,
                                   cut: Option[Long],
                                   minJ: Double): DataFrame = {
    val stored = if (cut.isEmpty || cut.contains(5L)) 0.8 else 0.0
    require(minJ >= stored,
      s"shPairsMirror stores jaccard >= $stored for cut=$cut; asked $minJ")
    s.read.parquet(s"${shPairsBase(s, dir, cut)}/pairs")
      .withColumn("jaccard",
        col("i") * 1.0 / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= minJ)
  }

  /** The q327/q328/q329 multi-rater fixture: four deterministic raters
    * grade each document 0/1/2 against the SAME latent signal (length),
    * with realistic disagreement modes — r1 the reference thresholds
    * (sf0.01 terciles, so all grades are populated), r2 shifted
    * thresholds (systematic bias: disagrees only near boundaries), r3
    * the reference thresholds over a hash-perturbed measurement
    * (+/-40 chars of noise), r4 pure md5 noise (the
    * rubber-stamp-random annotator every agreement audit must expose).
    * Correlated-by-construction: Fleiss kappa lands ~0.45 here, so the
    * statistics have signal to measure, not a chance-level hash match.
    * One narrow codegen'd projection; exact integers, so DuckDB replays
    * every label bit-identically.
    */
  private[graft] def raterLabels(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("n_chars"))
      .filter(length(lower(trim(col("text")))) > 0)
      .withColumn("pert",
        col("n_chars") +
          hash32(concat(lit("r3|"), col("doc_id").cast("string"))) % 81
          - lit(40L))
      .select(col("doc_id"),
        expr("CAST(CASE WHEN n_chars >= 370 THEN 2 " +
          "WHEN n_chars >= 215 THEN 1 ELSE 0 END AS BIGINT)").as("g1"),
        expr("CAST(CASE WHEN n_chars >= 390 THEN 2 " +
          "WHEN n_chars >= 200 THEN 1 ELSE 0 END AS BIGINT)").as("g2"),
        expr("CAST(CASE WHEN pert >= 370 THEN 2 " +
          "WHEN pert >= 215 THEN 1 ELSE 0 END AS BIGINT)").as("g3"),
        (hash32(concat(lit("fk|"), col("doc_id").cast("string"))) % 3)
          .as("g4"))

  /** DuckDB twin of [[raterLabels]] — CTEs ending in
    * `raters(doc_id, g1, g2, g3, g4)`.
    */
  private[graft] val duckRaterCtes =
    """rd AS (SELECT doc_id, n_chars,
      |    n_chars + CAST(('0x' || substr(md5('r3|' || doc_id), 1, 8))
      |      AS BIGINT) % 81 - 40 AS pert
      |  FROM documents WHERE length(lower(trim(text))) > 0),
      |raters AS (SELECT doc_id,
      |    CAST(CASE WHEN n_chars >= 370 THEN 2 WHEN n_chars >= 215
      |      THEN 1 ELSE 0 END AS BIGINT) AS g1,
      |    CAST(CASE WHEN n_chars >= 390 THEN 2 WHEN n_chars >= 200
      |      THEN 1 ELSE 0 END AS BIGINT) AS g2,
      |    CAST(CASE WHEN pert >= 370 THEN 2 WHEN pert >= 215
      |      THEN 1 ELSE 0 END AS BIGINT) AS g3,
      |    CAST(('0x' || substr(md5('fk|' || doc_id), 1, 8)) AS BIGINT)
      |      % 3 AS g4
      |  FROM rd)""".stripMargin

  /** The DuckDB twin of [[qualityScored]] — a CTE block ending in
    * `qsc(doc_id, source, score, pass)`.
    */
  private val duckQualityCtes =
    s"""qw AS (SELECT doc_id, source, $duckToks AS ws FROM documents),
       |qf AS (SELECT doc_id, source,
       |    CAST(len(ws) AS BIGINT) AS toks,
       |    CAST(len(list_distinct(ws)) AS BIGINT) AS uniq,
       |    CAST(len(list_filter(ws, t -> list_contains(
       |      ['the','a','an','and','of','to','in','is','that','it'],
       |      t))) AS BIGINT) AS stopc,
       |    CAST(len(list_filter(ws, t -> len(t) > 12)) AS BIGINT)
       |      AS longw,
       |    CAST(list_sum(list_transform(ws, t -> len(t)))
       |      AS BIGINT) AS wlen
       |  FROM qw),
       |qs AS (SELECT doc_id, source,
       |    2 * least(toks, 400) + (uniq * 10000 // toks) // 4
       |      + least(stopc * 10000 // toks, 2000) // 2
       |      - 100 * longw
       |      - abs(wlen * 100 // toks - 500) // 2 AS score
       |  FROM qf),
       |qsc AS (SELECT doc_id, source, score,
       |    CASE WHEN score >= 2000 THEN 1 ELSE 0 END AS pass
       |  FROM qs)""".stripMargin

  /** DSIR hashed-feature space size (q199, the streaming screen, and the
    * spec all share it). 64 buckets keeps the log-ratio table a
    * FIXED-cardinality broadcast — the importance model's entire state is
    * 64 rows at any corpus size, the same bounded-interface rule the ANN
    * family pins in `PlanInvariantsSpec`.
    */
  private[graft] val DsirBuckets = 64L

  /** DSIR (data selection by importance resampling) log-ratio table over
    * hashed unigram features: bucket b's weight is the smoothed log of
    * target-vs-raw probability, lr_m = floor(ln((ct+1)(R+64) /
    * ((cr+1)(T+64))) · 1e6) micro-nats, where target = the `lang = 'en'`
    * sub-corpus and raw = everything. Built DENSE (range(64) left-joined
    * with the counts) so every possible bucket has a row — a stream doc
    * arriving later can never miss a lookup, and the table's cardinality
    * is a constant 64 independent of the corpus. ONE linear pass over the
    * token stream computes both distributions (conditional sum + count in
    * the same aggregation); everything after is 64-row arithmetic. The
    * doubles feeding ln derive from identical integers in identical
    * textual order on both engines (the q193 convention), so the
    * micro-nat floor replays exactly in DuckDB.
    */
  private[graft] def dsirBucketTable(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    // materialized: the 64-row count table feeds both the dense left
    // join and the totals aggregate — without the cache the full token
    // scan underneath would run twice
    val counts = Materialize(docs
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .select(
        (hash32(concat(lit("dsir_"), col("w"))) % DsirBuckets).as("bucket"),
        when(col("lang") === "en", 1L).otherwise(0L).as("t"))
      .groupBy("bucket")
      .agg(sum("t").as("ct"), count(lit(1)).as("cr")))
    s.range(DsirBuckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(
        counts.agg(sum("ct").as("ctot"), sum("cr").as("rtot"))))
      // CAST AS DOUBLE up front (the q193 convention): a bare `+ 1.0`
      // would make the arithmetic DECIMAL on both engines, and their
      // decimal division rules differ — with the cast every operation
      // is IEEE double over identical operands in identical order
      .withColumn("lr_m", expr(
        s"""CAST(floor(ln(CAST(ct + 1 AS DOUBLE) * (rtot + $DsirBuckets)
           | / (CAST(cr + 1 AS DOUBLE) * (ctot + $DsirBuckets))) * 1e6)
           | AS BIGINT)""".stripMargin))
      .select("bucket", "lr_m")
  }

  /** Per-document DSIR importance: each token looked up in the (dense,
    * broadcast) bucket table, weights summed — w_sum > 0 means the
    * document looks more like the target domain than the raw mixture.
    * Exact BIGINT micro-nat sums, so the oracle hashes the full decision
    * vector. The batch plan is explode → 64-row broadcast join → one
    * doc-keyed aggregation; the streaming twin
    * (`StreamSessionize.dsirScreenStream`) computes the SAME w_sum
    * statelessly via a map-literal lookup inside `aggregate()` — the
    * parity gate pins the two physically different plans to each other.
    */
  private[graft] def dsirDocScores(docs: DataFrame, lr: DataFrame)
      : DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), col("source"),
        (hash32(concat(lit("dsir_"), col("w"))) % DsirBuckets).as("bucket"))
      .join(broadcast(lr), Seq("bucket"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_toks"), sum("lr_m").as("w_sum"))

  /** The bucket table folded to a ONE-row map frame (bucket -> lr_m) for
    * the stateless streaming screen: a 64-entry map literal crossJoin'd
    * (broadcast) into the stream lets `aggregate()` score a document
    * without exploding it — no shuffle, no state.
    */
  private[graft] def dsirLrMap(lr: DataFrame): DataFrame =
    lr.agg(map_from_entries(
      collect_list(struct(col("bucket"), col("lr_m")))).as("lr_map"))

  /** Bloom-filter geometry shared by q226 and the streaming screen:
    * M bits packed 32 per 64-bit word (so no shift reaches the sign bit
    * and DuckDB's int64 `<<`/`&` replays every word exactly), K=3
    * md5-derived probes. The filter is CONSTANT size — M/32 = 128 words
    * whatever the member-set cardinality — which is the whole point of
    * shipping it to a corpus scan.
    */
  private[graft] val BloomBits = 4096L
  private[graft] val BloomWordBits = 32L

  /** Normalized-text fingerprint (the q40 exact-dup rule) — the Bloom
    * member/probe key. */
  private[graft] def bloomFp(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))

  /** Probe i's bit position for fingerprint `fp`. */
  private[graft] def bloomBit(i: Column, fp: Column): Column =
    hash32(concat(lit("bloom"), i, lit("_"), fp)) % BloomBits

  /** The packed filter words over a member fingerprint set: ≤ M/32 rows
    * of (word index, OR-folded mask) — one bounded aggregation over the
    * (small) member set, broadcast-joinable into any probe scan.
    */
  private[graft] def bloomWords(ev: DataFrame): DataFrame =
    ev.select(col("fp"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("i"))
      .withColumn("bit", bloomBit(col("i"), col("fp")))
      .select(expr(s"bit DIV $BloomWordBits").as("word"),
        expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(bit % $BloomWordBits AS INT))").as("mask"))
      .groupBy("word").agg(expr("bit_or(mask)").as("wd"))

  /** The filter folded to a ONE-row map frame (word -> packed bits) for
    * the stateless streaming screen — the `dsirLrMap` shape: a ≤128-entry
    * map literal crossJoin'd (broadcast) into the stream lets a pure
    * column program probe each arriving document with no join at all.
    */
  private[graft] def bloomWordMap(fw: DataFrame): DataFrame =
    fw.agg(map_from_entries(
      collect_list(struct(col("word"), col("wd")))).as("bw"))

  /** Per-document Bloom probe verdict via the batch plan (K-way explode →
    * broadcast word join → min-fold): every column of `d` except `fp`
    * rides through to the output next to `flagged`. The streaming screen
    * computes the same verdict through a map-literal column program — a
    * physically different plan the parity gate pins to this one.
    */
  private[graft] def bloomFlags(d: DataFrame, fw: DataFrame): DataFrame = {
    val carry = d.columns.filterNot(_ == "fp").map(col)
    d.select(carry :+ col("fp") :+
        explode(array(lit(1L), lit(2L), lit(3L))).as("i"): _*)
      .withColumn("bit", bloomBit(col("i"), col("fp")))
      .withColumn("word", expr(s"bit DIV $BloomWordBits"))
      .withColumn("mask", expr(s"shiftleft(CAST(1 AS BIGINT), " +
        s"CAST(bit % $BloomWordBits AS INT))"))
      .join(broadcast(fw), Seq("word"), "left")
      .withColumn("hit", when(
        expr("(coalesce(wd, CAST(0 AS BIGINT)) & mask) = mask"), 1L)
        .otherwise(0L))
      .groupBy(carry: _*)
      .agg(min("hit").as("flagged"))
  }

  /** Per-(source, bucket) hashed-token counts over the DSIR feature
    * space — the shared count kernel of the streaming drift monitor
    * (`StreamSessionize.driftCountsStream`). One stateless projection +
    * one aggregation, so the SAME code path runs batch and streaming;
    * on a stream the aggregation state is O(sources × 64) counters,
    * bounded whatever the corpus, and counts are commutative so any
    * micro-batch split converges to the batch answer.
    */
  private[graft] def bucketCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("w"))
      .select(col("source"),
        (hash32(concat(lit("dsir_"), col("w"))) % DsirBuckets).as("bucket"))
      .groupBy("source", "bucket").agg(count(lit(1)).as("c"))

  /** The drift monitor's reference distribution: DENSE corpus-wide
    * bucket counts (bucket, rc, rtot) — 64 rows + the scalar total,
    * broadcastable at any corpus size. Built once from a reference
    * corpus snapshot; the live stream is compared against it.
    */
  private[graft] def driftRef(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val counts = Materialize(docs
      .select(explode(tokens(col("text"))).as("w"))
      .select(
        (hash32(concat(lit("dsir_"), col("w"))) % DsirBuckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("rc")))
    s.range(DsirBuckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("rc"))
      .crossJoin(broadcast(counts.agg(sum("rc").as("rtot"))))
  }

  /** KL(source ‖ reference) in integer micro-nats from (source, bucket)
    * counts against a [[driftRef]] frame — the projection half of the
    * drift monitor (the q160 estimator on the bounded 64-bucket feature
    * space instead of the unbounded vocabulary, which is what makes the
    * streaming state finite). Smoothed with the reference's +1 rule so
    * a stream bucket unseen in the reference stays finite. The log is
    * applied to CONVERGED integer counts in the output projection —
    * aggregation state stays integer and commutative.
    */
  private[graft] def klFromCounts(counts: DataFrame, ref: DataFrame)
      : DataFrame =
    // the source total comes from a window over the counts frame itself
    // (≤ sources × 64 rows — bounded, so the window is cheap), not a
    // groupBy self-join: the frame may be a streaming memory sink whose
    // lineage a self-join cannot deduplicate
    counts.join(broadcast(ref), Seq("bucket"))
      .withColumn("st",
        sum("c").over(Window.partitionBy("source")))
      .withColumn("lp", expr(
        s"""CAST(floor(ln(CAST(c AS DOUBLE) * (rtot + $DsirBuckets)
           | / (CAST(st AS DOUBLE) * (rc + 1))) * 1e6) AS BIGINT)"""
          .stripMargin))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"),
        sum(expr("c * lp")).as("kl_num"))
      .select(col("source"), col("n_tokens"),
        expr("kl_num DIV n_tokens").as("kl_micro"))

  /** The DuckDB twin of [[dsirBucketTable]] + [[dsirDocScores]] — CTEs
    * ending in `dscored(doc_id, source, n_toks, w_sum)`.
    */
  private val duckDsirCtes =
    s"""dtok AS (SELECT doc_id, source, lang, unnest($duckToks) AS w
       |  FROM documents),
       |dbuck AS (SELECT doc_id, source,
       |    CAST(('0x' || substr(md5('dsir_' || w), 1, 8)) AS BIGINT) % 64
       |      AS bucket,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t
       |  FROM dtok),
       |dcounts AS (SELECT bucket, CAST(sum(t) AS BIGINT) AS ct,
       |    CAST(count(*) AS BIGINT) AS cr
       |  FROM dbuck GROUP BY 1),
       |dtot AS (SELECT CAST(sum(ct) AS BIGINT) AS ctot,
       |    CAST(sum(cr) AS BIGINT) AS rtot FROM dcounts),
       |ddense AS (SELECT r.range AS bucket, coalesce(ct, 0) AS ct,
       |    coalesce(cr, 0) AS cr
       |  FROM range(0, 64) r LEFT JOIN dcounts ON dcounts.bucket = r.range),
       |dlr AS (SELECT bucket,
       |    CAST(floor(ln(CAST(ct + 1 AS DOUBLE) * (rtot + 64)
       |      / (CAST(cr + 1 AS DOUBLE) * (ctot + 64))) * 1e6)
       |      AS BIGINT) AS lr_m
       |  FROM ddense, dtot),
       |dscored AS (SELECT doc_id, source,
       |    CAST(count(*) AS BIGINT) AS n_toks,
       |    CAST(sum(lr_m) AS BIGINT) AS w_sum
       |  FROM dbuck JOIN dlr USING (bucket) GROUP BY 1, 2)""".stripMargin

  /** The q161/q206 shared char-bigram LM scorer: corpus-trained
    * conditional bigram model (dimension-sized, broadcast), per-document
    * integer-scaled log-prob sums — (doc_id, n_bigrams, lps). The bigram
    * explode is materialized because the model build and the scoring
    * pass both consume it.
    */
  /** Returns (scored frame, the Materialize'd bigram-explode handle) —
    * the explode is the largest frame in the family, and the caller must
    * unpersist it once the scored frame has been consumed (the mirror
    * build holds it only until the parquet write finishes).
    */
  private def charBigramScoresInline(s: SparkSession,
                                     dir: String): (DataFrame, DataFrame) = {
    val bg = Materialize(
      tableParallel(s, dir, "documents")
        .select(col("doc_id"), lower(trim(col("text"))).as("t"))
        .filter(length(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"))
          .as("bg")))
    val cnt = bg.groupBy("bg").agg(count(lit(1)).as("c"))
    val ctx = cnt.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum("c").as("n"))
    val model = broadcast(
      cnt.withColumn("c1", substring(col("bg"), 1, 1))
        .join(ctx, "c1")
        .select(col("bg"),
          floor(log(col("c") * 1.0 / col("n")) * 1e6).cast("long")
            .as("lp")))
    (bg.join(model, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("lps")), bg)
  }

  /** Per-process parquet mirror of the per-doc char-bigram LM scores
    * (doc_id, n_bigrams, lps) — q161/q206/q208 each re-trained the
    * corpus model and re-scored every document; the trained-and-scored
    * frame is the persisted artifact a perplexity filter ships, so it
    * is staged once per (sfDir, JVM). Columns are exact integers
    * (floor(ln·1e6) per TYPE summed per doc), hence bit-identical
    * through the parquet roundtrip.
    */
  private val bgScores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def charBigramScores(s: SparkSession, dir: String): DataFrame = {
    val base = bgScores.computeIfAbsent(dir,
      _ => graft.operators.StagedArtifacts.timed(
        s"bgscores@${new java.io.File(dir).getName}") {
      val out = graft.operators.StagedArtifacts.tempDir("graft-bgscores-")
      val (scored, bg) = charBigramScoresInline(s, dir)
      NioLocalFs.writer(scored.coalesce(4)).mode("overwrite")
        .parquet(s"$out/scored")
      bg.unpersist()
      out
    })
    s.read.parquet(s"$base/scored")
  }

  /** The DuckDB twin of [[charBigramScores]] — CTEs ending in
    * `scored(doc_id, n_bigrams, lps)`.
    */
  private val duckCharBigramCtes =
    """d AS (SELECT doc_id, lower(trim(text)) AS t
      |      FROM documents WHERE length(lower(trim(text))) >= 2),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, length(t)),
      |         i -> substr(t, i, 2))) AS bg FROM d),
      |cnt AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1),
      |ctx AS (SELECT substr(bg, 1, 1) AS c1,
      |          CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
      |model AS (SELECT bg,
      |            CAST(floor(ln(c * 1.0 / n) * 1e6) AS BIGINT) AS lp
      |          FROM cnt JOIN ctx ON substr(cnt.bg, 1, 1) = ctx.c1),
      |scored AS (SELECT doc_id, count(*) AS n_bigrams,
      |             CAST(sum(lp) AS BIGINT) AS lps
      |           FROM bg JOIN model USING (bg) GROUP BY doc_id)"""
      .stripMargin

  /** The Kneser-Ney count families (q188, reused by q193's scorer):
    * bigram-type table with counts, left-context totals (c(w1·) and
    * N₁₊(w1,·) in one aggregation), right continuation counts N₁₊(·,w2),
    * and the scalar type total B. bg is materialized once; the other
    * three are single aggregations off the cache.
    */
  private def knCountFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val bg = Materialize(tableParallel(s, dir, "documents")
      .select(tokens(col("text")).as("ws"))
      // guard: sequence(1, 0) would count DOWN in Spark and index 0
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1),
          | i -> struct(element_at(ws, i) AS w1,
          |             element_at(ws, i + 1) AS w2))""".stripMargin))
        .as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c")))
    val leftC = bg.groupBy("w1")
      .agg(sum("c").as("n1"), count(lit(1)).as("r"))
    val rightC = bg.groupBy("w2").agg(count(lit(1)).as("l"))
    val btot = bg.agg(count(lit(1)).as("btot"))
    (bg, leftC, rightC, btot)
  }

  /** The q188/q193 shared probability expression — textually identical
    * on both engines so the IEEE double result is bit-identical.
    */
  private val pknExpr =
    "(CAST(c AS DOUBLE) - 0.75) / n1 + 0.75 * r / n1 * (l / btot)"

  /** The shared BPE trainer (q189 merges, q192 compression audit):
    * one corpus pass builds the clean-word frequency dict, then per
    * round a pair-count groupBy, a distributed top-1 argmax (O(1) rows
    * to the driver), and a narrow replace() merge over a FULLY DELIMITED
    * symbol encoding: every symbol is wrapped in parens — "(t)(h)(e)" —
    * so the merge pattern "(l)(r)" can only ever match two complete
    * adjacent symbols. This anchoring matters twice over: (a) overlap —
    * in "(x)(x)(x)(x)" the consumed match leaves "(x)(x)", so
    * occurrences merge non-overlapping left-first exactly like BPE's
    * simultaneous pass; (b) boundaries — an UNDELIMITED encoding lets
    * the pattern match a symbol's interior (after merging (t,h), a
    * separator-joined "t~h e" contains the flat text of pair (h,e) —
    * merging it there would corrupt the vocab, and since the oracle
    * replays the same replace(), the hash gate alone could never catch
    * it; the paren wrapping makes that match impossible because '(' and
    * ')' occur nowhere inside a symbol, and the from-scratch greedy
    * trainer in TokenizerLmSpec pins it on an adversarial fixture).
    * With `withStats`, each generation additionally runs a 1-row
    * aggregation (Σ cnt·|syms|, Σ cnt) for the compression audit.
    * Superseded vocab generations are unpersisted as soon as the next
    * materializes — the live working set is one dictionary, not R.
    */
  private def bpeTrain(s: SparkSession, dir: String, rounds: Int,
                       withStats: Boolean)
      : (Seq[(Int, String, String, String, Long)],
         Seq[(Int, String, Long, Long)]) = {
    var vocab = Materialize(tableParallel(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$") &&
        length(col("word")).between(2, 12))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("sym", expr(
        """concat_ws('', transform(sequence(1, length(word)),
          | i -> concat('(', substring(word, i, 1), ')'))) || '(</w>)'"""
          .stripMargin)))
    // symbol list from the delimited encoding: strip the outer parens,
    // split on the ")(" boundary between adjacent symbols
    val symList =
      split(expr("substring(sym, 2, length(sym) - 2)"), "\\)\\(")
    def stats(gen: Int, merged: String): (Int, String, Long, Long) = {
      val r = vocab.agg(
        sum(col("cnt") * size(symList)).as("ts"),
        sum("cnt").as("tw")).head()
      (gen, merged, r.getLong(0), r.getLong(0) * 1000 / r.getLong(1))
    }
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    val gens = Seq.newBuilder[(Int, String, Long, Long)]
    if (withStats) gens += stats(0, "")
    for (round <- 1 to rounds) {
      val best = vocab
        .select(col("cnt"), symList.as("a"))
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(a) - 1),
            | i -> struct(element_at(a, i) AS lhs,
            |             element_at(a, i + 1) AS rhs))""".stripMargin))
          .as("p"))
        .groupBy(col("p.lhs"), col("p.rhs"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("lhs"), col("rhs"))
        .limit(1).collect().headOption
        .getOrElse(throw new IllegalArgumentException(
          s"BPE round $round: no adjacent symbol pairs — the corpus has " +
            "no clean [a-z]{2,12} words to train on"))
      val (l, r, pc) =
        (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((round, l, r, s"$l~$r", pc))
      if (withStats || round < rounds) {
        val prev = vocab
        vocab = Materialize(vocab.withColumn("sym",
          replace(col("sym"), lit(s"($l)($r)"), lit(s"($l~$r)"))))
        prev.unpersist(false)
        if (withStats) gens += stats(round, s"$l~$r")
      }
    }
    (merges.result(), gens.result())
  }

  /** The BPE merge rounds unrolled as DuckDB CTE generations (q189's and
    * q192's oracles). Each generation k: pair counts over vocab v(k-1),
    * the deterministic argmax m(k), and (when the caller needs v(k)) the
    * merged vocab via the same global leftmost paren-delimited replace()
    * the Spark side applies.
    */
  private def bpeGenerationCtes(rounds: Int, applyAll: Boolean): String = {
    val gens = (1 to rounds).map { k =>
      val prev = s"v${k - 1}"
      val apply =
        if (applyAll || k < rounds)
          s""",v$k AS (SELECT word, cnt,
             |  replace(sym, '(' || m.lhs || ')(' || m.rhs || ')',
             |          '(' || m.lhs || '~' || m.rhs || ')') AS sym
             |  FROM $prev CROSS JOIN m$k m)""".stripMargin
        else ""
      s""",p$k AS (SELECT lhs, rhs, CAST(sum(cnt) AS BIGINT) AS pc
         |  FROM (SELECT cnt, unnest(a[1:len(a) - 1]) AS lhs,
         |          unnest(a[2:len(a)]) AS rhs
         |        FROM (SELECT cnt,
         |            string_split(sym[2:len(sym) - 1], ')(') AS a
         |              FROM $prev))
         |  GROUP BY 1, 2)
         |,m$k AS (SELECT lhs, rhs, pc FROM p$k
         |  ORDER BY pc DESC, lhs, rhs LIMIT 1)""".stripMargin + apply
    }.mkString("\n")
    s"""WITH v0 AS (
       |  SELECT word, cnt,
       |    array_to_string(list_transform(range(1, len(word) + 1),
       |      i -> '(' || word[i] || ')'), '') || '(</w>)' AS sym
       |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |        FROM (SELECT unnest($duckToks) AS word FROM documents)
       |        WHERE regexp_matches(word, '^[a-z]+$$')
       |          AND len(word) BETWEEN 2 AND 12
       |        GROUP BY 1))
       |$gens""".stripMargin
  }

  private def bpeOracleSql: String = {
    val out = (1 to 4).map { k =>
      s"""SELECT CAST($k AS INT) AS merge_round, lhs, rhs,
         |  lhs || '~' || rhs AS merged, pc AS pair_count FROM m$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${bpeGenerationCtes(4, applyAll = false)}
       |SELECT * FROM (
       |$out
       |) ORDER BY merge_round""".stripMargin
  }

  private def bpeStatsOracleSql: String = {
    def statsSel(gen: Int): String = {
      val inner =
        s"""(SELECT CAST(sum(cnt *
           |    len(string_split(sym[2:len(sym) - 1], ')(')))
           |    AS BIGINT) AS total_syms,
           |  CAST(sum(cnt *
           |    len(string_split(sym[2:len(sym) - 1], ')('))) * 1000
           |    // sum(cnt) AS BIGINT) AS spw_milli FROM v$gen) s""".stripMargin
      if (gen == 0)
        s"""SELECT CAST(0 AS INT) AS generation, '' AS merged,
           |  s.total_syms, s.spw_milli FROM $inner""".stripMargin
      else
        s"""SELECT CAST($gen AS INT), m.lhs || '~' || m.rhs,
           |  s.total_syms, s.spw_milli FROM $inner CROSS JOIN m$gen m""".stripMargin
    }
    s"""${bpeGenerationCtes(4, applyAll = true)}
       |SELECT * FROM (
       |${(0 to 4).map(statsSel).mkString("\nUNION ALL\n")}
       |) ORDER BY generation""".stripMargin
  }

  /** Exploded (doc_id, shingle_hash) table over `documents` — the shared
    * input of the Jaccard/clustering family. `stopShingleDf` enables the
    * document-frequency stop-shingle cut ([[StopShingles]]): the skew guard
    * that bounds per-key fan-out in the shingle self-join. None = ∞ = keep
    * everything (bit-identical to the unfiltered pipeline).
    */
  private[graft] def shingleTable(s: SparkSession, dir: String,
                                  stopShingleDf: Option[Long]): DataFrame = {
    val sh = tableParallel(s, dir, "documents")
      .select(col("doc_id"),
        explode(ShingleHashes.of(tokens(col("text")))).as("sh"))
    // with the cut engaged, materialize the exploded table FIRST: the df
    // aggregation and the anti-join probe side both consume it, and the
    // tokenize+shingle+explode pass is the most expensive projection in
    // the pipeline — it must run once, not twice
    stopShingleDf.fold(sh)(t => StopShingles.filter(Materialize(sh), "sh", t))
  }

  /** Relational pairwise Jaccard ≥ `minJ` over an exploded shingle table:
    * equi-join on the shingle hash, |A ∩ B| / (|A| + |B| - |A ∩ B|).
    * Shuffles on shingle keys — scalable, unlike a pairwise cross join.
    * Callers should pass a [[Materialize]]d `sh`: it is consumed three
    * times (sizes + both join sides).
    *
    * `saltBuckets` engages [[SkewTools.saltedJoin]] on the shingle
    * self-join: the probe side gets a deterministic doc-hash salt, the
    * build side replicates `buckets`×, and each hot shingle's fan-out
    * spreads over `buckets` reducers instead of landing on one. Use when
    * boilerplate shingles survive (no [[StopShingles]] cut) but the
    * per-key fan-out must still be bounded; results are identical to the
    * unsalted join.
    */
  private[graft] def jaccardPairs(sh: DataFrame, minJ: Double,
                                  saltBuckets: Option[Int] = None): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val aSide = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val bSide = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val pairRows = saltBuckets match {
      case Some(bk) =>
        SkewTools.saltedJoin(aSide, bSide, "sh", bk,
          saltExpr = Some(pmod(hash(col("doc_a")), lit(bk))),
          extraCond = Some(col("doc_a") < col("doc_b")))
      case None =>
        // the sides are two projections of one frame: alias them so the
        // join keys resolve to distinct attributes
        aSide.as("a").join(bSide.as("b"),
          col("a.sh") === col("b.sh") && col("doc_a") < col("doc_b"))
    }
    val inter = pairRows.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    val sa = sizes.select(col("doc_id").as("doc_a"), col("n").as("na"))
    val sb = sizes.select(col("doc_id").as("doc_b"), col("n").as("nb"))
    inter.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard",
        col("i") * 1.0 / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= minJ)
  }

  /** DuckDB twin of [[shingleTable]]'s stop-shingle cut, as CTE suffix. */
  private def duckStopShingles(maxDf: Long): String =
    s"""sh AS (SELECT * FROM sh0 WHERE sh NOT IN (
       |  SELECT sh FROM (SELECT sh, count(*) AS d FROM sh0 GROUP BY sh)
       |  WHERE d > $maxDf))""".stripMargin

  /** q232's stage unit costs and the candidate orderings under audit.
    * Stage 1 (token-count check) is cheapest; stage 3 (char-class scan)
    * and stage 4 (set-membership scan) are the expensive ones.
    */
  private val CascadeCosts = Map(1 -> 1L, 2 -> 2L, 3 -> 3L, 4 -> 5L)
  private val CascadeOrders: Seq[(String, List[Int])] = Seq(
    "o1_declared" -> List(1, 2, 3, 4),
    "o2_reverse" -> List(4, 3, 2, 1),
    "o3_scan_first" -> List(3, 4, 1, 2),
    "o4_mixed" -> List(2, 4, 1, 3))

  /** The evaluate-until-first-rejection cost chain for one stage
    * ordering, as a nested-CASE SQL string valid on BOTH engines (pure
    * `+`/CASE over the f1..f4 flag columns — no division, no engine-
    * specific syntax), so Spark and the DuckDB oracle share it verbatim.
    */
  private def cascadeChain(p: List[Int]): String = p match {
    case a :: Nil => CascadeCosts(a).toString
    case a :: rest =>
      s"${CascadeCosts(a)} + CASE WHEN f$a = 1 THEN ${cascadeChain(rest)}" +
        " ELSE 0 END"
    case Nil => "0"
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- quality scoring --------------------------------------------------
    "q30_text_quality" -> QueryDef(
      (s, dir) => {
        val d = tableParallel(s, dir, "documents")
          .withColumn("n_tokens", size(tokens(col("text"))))
          .withColumn("punct_ratio",
            length(regexp_replace(col("text"), "[^.,;:!?]", "")) * 1.0 /
              length(col("text")))
          .withColumn("avg_token_len",
            length(regexp_replace(col("text"), "\\s", "")) * 1.0 /
              col("n_tokens"))
          .withColumn("stopword_ratio",
            size(filter(tokens(col("text")),
              t => t.isInCollection(Seq("the", "a", "and", "of", "to"))))
              * 1.0 / col("n_tokens"))
          .withColumn("quality",
            log(lit(1.0) + col("n_tokens")) * (lit(1.0) - col("punct_ratio")))
        d.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               round(avg("n_tokens"), 2).as("avg_tokens"),
               round(avg("avg_token_len"), 4).as("avg_tok_len"),
               round(avg("stopword_ratio"), 4).as("avg_stopword_ratio"),
               round(avg("quality"), 4).as("avg_quality"))
          .orderBy("lang")
      },
      Some(s"""SELECT lang, count(*) AS n_docs,
              | round(avg(n_tokens), 2) AS avg_tokens,
              | round(avg(avg_token_len), 4) AS avg_tok_len,
              | round(avg(stopword_ratio), 4) AS avg_stopword_ratio,
              | round(avg(quality), 4) AS avg_quality
              |FROM (
              |  SELECT lang, n_tokens, punct_ratio,
              |    length(regexp_replace(text, '\\s', '', 'g')) * 1.0 / n_tokens
              |      AS avg_token_len,
              |    len(list_filter($duckToks,
              |      t -> t IN ('the', 'a', 'and', 'of', 'to'))) * 1.0 / n_tokens
              |      AS stopword_ratio,
              |    ln(1.0 + n_tokens) * (1.0 - punct_ratio) AS quality
              |  FROM (
              |    SELECT lang, text, len($duckToks) AS n_tokens,
              |      length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 /
              |        length(text) AS punct_ratio
              |    FROM documents))
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- language-ID heuristic -------------------------------------------
    "q31_lang_id" -> QueryDef(
      (s, dir) => {
        val pred =
          when(col("text").rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
            .when(col("text").rlike("\\b(the|and|of)\\b"), "en")
            .when(col("text").rlike("\\b(und|der|das)\\b"), "de")
            .when(col("text").rlike("\\b(el|la|los)\\b"), "es")
            .when(col("text").rlike("\\b(le|les|des)\\b"), "fr")
            .otherwise("other")
        table(s, dir, "documents")
          .withColumn("lang_pred", pred)
          .groupBy("lang", "lang_pred")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "lang_pred")
      },
      Some("""SELECT lang,
             | CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             |      WHEN regexp_matches(text, '\b(the|and|of)\b') THEN 'en'
             |      WHEN regexp_matches(text, '\b(und|der|das)\b') THEN 'de'
             |      WHEN regexp_matches(text, '\b(el|la|los)\b') THEN 'es'
             |      WHEN regexp_matches(text, '\b(le|les|des)\b') THEN 'fr'
             |      ELSE 'other' END AS lang_pred,
             | count(*) AS n
             |FROM documents GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin)),

    // ---- token counting ---------------------------------------------------
    "q32_token_stats" -> QueryDef(
      (s, dir) =>
        tableParallel(s, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .groupBy("source")
          .agg(count(lit(1)).as("total_tokens"),
               countDistinct("tok").as("distinct_tokens"))
          .orderBy("source"),
      Some(s"""SELECT source, count(*) AS total_tokens,
              | count(DISTINCT tok) AS distinct_tokens
              |FROM (SELECT source, unnest($duckToks) AS tok
              |      FROM (SELECT source, text FROM documents))
              |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- BPE-ish regex tokenization ---------------------------------------
    // GPT-2-shaped token pattern (contractions, letter runs, digit runs,
    // punctuation runs with leading-space attachment), lookahead-free so
    // Java regex and RE2 agree. Compares subword-ish token counts against
    // whitespace tokens per source.
    "q34_bpe_token_count" -> QueryDef(
      (s, dir) => {
        val bpePattern =
          "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+"
        tableParallel(s, dir, "documents")
          .select(col("source"),
            size(tokens(col("text"))).as("ws_tokens"),
            size(regexp_extract_all(lower(col("text")), lit(bpePattern),
              lit(0))).as("bpe_tokens"))
          .groupBy("source")
          .agg(sum("ws_tokens").as("total_ws_tokens"),
               sum("bpe_tokens").as("total_bpe_tokens"),
               round(sum("bpe_tokens") * 1.0 / sum("ws_tokens"), 4)
                 .as("bpe_per_word"))
          .orderBy("source")
      },
      Some(s"""SELECT source,
              | CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
              | CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
              | round(sum(bpe_tokens) * 1.0 / sum(ws_tokens), 4) AS bpe_per_word
              |FROM (
              |  SELECT source, len($duckToks) AS ws_tokens,
              |    len(regexp_extract_all(lower(text),
              |      '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s'']+'))
              |      AS bpe_tokens
              |  FROM documents)
              |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- fingerprinting ---------------------------------------------------
    "q33_fingerprint" -> QueryDef(
      (s, dir) =>
        tableParallel(s, dir, "documents")
          .select(
            col("doc_id"),
            md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
              .as("fp_md5"),
            rollingFingerprint(tokens(col("text"))).as("fp_roll"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              | md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
              | list_reduce([CAST(0 AS BIGINT)] ||
              |   list_transform($duckToks,
              |     w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)),
              |   (h, x) -> (h * 31 + x) % 1048576) AS fp_roll
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- exact dedup ------------------------------------------------------
    "q40_dedup_exact" -> QueryDef(
      (s, dir) =>
        table(s, dir, "documents")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               countDistinct(md5(col("text"))).as("n_unique"),
               (count(lit(1)) - countDistinct(md5(col("text"))))
                 .cast("bigint").as("n_dupes"))
          .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
             | count(DISTINCT md5(text)) AS n_unique,
             | CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dupes
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- MinHash + LSH near-dup candidates --------------------------------
    // 8 minhashes, 4 bands of 2: per-doc signatures are a narrow projection
    // (no shuffle); candidates emerge from an equi-join on band keys —
    // the canonical way to near-dedup 100 TB without a cross join.
    "q41_dedup_minhash_lsh" -> QueryDef(
      (s, dir) => {
        // the signature pipeline (one native pass per doc -> 8 affine
        // mixes -> 4 band keys -> distinct collisions) lives in the
        // shared LSH mirror, built once per process and read by the
        // whole dedup family
        candMirror(s, dir).orderBy("doc_a", "doc_b")
      },
      Some {
        val minhashes = (0 until 8).map { i =>
          s"""list_min(list_transform(hs,
             |   h -> (${minhashA(i)} * h + ${minhashB(i)}) % $MinhashP)) AS m$i""".stripMargin
        }.mkString(",\n ")
        val bands = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band_id, m${2 * b}::VARCHAR || ',' || " +
            s"m${2 * b + 1}::VARCHAR AS key FROM sig"
        }.mkString("\n UNION ALL ")
        s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
           |hss AS (SELECT * FROM
           |          (SELECT doc_id, $duckHs AS hs FROM ws)
           |        WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, $minhashes FROM hss),
           |bands AS ($bands)
           |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |FROM bands a JOIN bands b
           |  ON a.band_id = b.band_id AND a.key = b.key
           |  AND a.doc_id < b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // ---- SimHash near-dup -------------------------------------------------
    // Features are 3-gram shingles, not unigrams: on corpora with heavily
    // shared vocabulary, unigram simhashes collapse (every doc's token set
    // is near-identical) while shingle sets still separate unrelated docs.
    "q42_dedup_simhash" -> QueryDef(
      (s, dir) => {
        // signature is a NARROW per-doc projection (native SimhashSig)
        // over the shared hs mirror: nothing shuffles until the chunk
        // equi-join — the explode + 32-column conditional-sum
        // aggregation this replaces shuffled every (doc, shingle) row
        // corpus-wide
        val sim = hsMirror(s, dir)
          .select(col("doc_id"), SimhashSig.of(col("hs")).as("sh"))
        // multi-index blocking instead of an O(n^2) pair join: split the 32
        // bits into 5 chunks — any pair within hamming distance 4 must agree
        // on at least one whole chunk (pigeonhole), so candidates come from
        // an equi-join on (chunk_id, chunk_value) and only candidates pay
        // the exact hamming check. This is what makes simhash dedup linear-
        // ish at corpus scale.
        val chunks = Materialize(sim.select(col("doc_id"), col("sh"),
          posexplode(array((0 until 5).map { c =>
            val width = if (c < 4) 7 else 4
            shiftright(col("sh"), 7 * c)
              .bitwiseAND(lit((1L << width) - 1))
          }: _*)))
          .toDF("doc_id", "sh", "chunk_id", "cv"))
        chunks.as("a")
          .join(chunks.as("b"),
            col("a.chunk_id") === col("b.chunk_id") &&
              col("a.cv") === col("b.cv") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("int")
              .as("hamming"))
          // filter BEFORE distinct: the hamming cut discards most candidate
          // pairs, so the dedup exchange only shuffles survivors
          .filter(col("hamming") <= 4)
          .distinct()
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val sums = (0 until 32).map(i =>
          s"sum(CASE WHEN (th >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
          .mkString(", ")
        val build = (0 until 32).map(i =>
          s"CASE WHEN b$i >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
          .mkString(" + ")
        s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
           |th AS (SELECT doc_id, unnest(hs) AS th
           |       FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
           |bits AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
           |sh AS (SELECT doc_id, $build AS sh FROM bits),
           |chunks AS (${(0 until 5).map { c =>
               val width = if (c < 4) 7 else 4
               s"SELECT doc_id, sh, $c AS chunk_id, " +
                 s"(sh >> ${7 * c}) & ${(1L << width) - 1} AS cv FROM sh"
             }.mkString("\n  UNION ALL ")}),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
           |  FROM chunks a JOIN chunks b
           |    ON a.chunk_id = b.chunk_id AND a.cv = b.cv
           |    AND a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.sh, b.sh)) <= 4)
           |SELECT doc_a, doc_b, hamming FROM cand
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // ---- dedup clustering: pairs -> connected components -> keep docs -----
    // Verified near-dup pairs rarely form clean disjoint pairs at corpus
    // scale — transitive chains (A~B, B~C) must dedup as one cluster.
    // Min-label propagation over the candidate graph
    // ([[ConnectedComponents.minLabel]]) — fails loudly if the graph's
    // diameter exceeds the round cap instead of silently returning an
    // unconverged labeling. The oracle computes the same fixpoint with a
    // recursive CTE — the component minimum is algorithm-independent, so
    // both engines agree exactly.
    "q48_dedup_clusters" -> QueryDef(
      (s, dir) => {
        // near-dup edges come from the staged exact-Jaccard mirror (one
        // derivation feeds the whole q43/q48/q73/q166 family); the CC
        // loop consumes the edge list every round, so it stays cached
        val pairs = Materialize(
          shPairsMirror(s, dir, None, 0.8).select("doc_a", "doc_b"))
        ConnectedComponents.minLabel(pairs)
          .groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
               min("doc").cast("bigint").as("keep_doc"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE
              |ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |sh AS (SELECT doc_id, unnest(hs) AS sh
              |       FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT doc_a, doc_b FROM inter
              |  JOIN sizes sa ON sa.doc_id = doc_a
              |  JOIN sizes sb ON sb.doc_id = doc_b
              |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |          UNION ALL SELECT doc_b, doc_a FROM pairs),
              |nodes AS (SELECT DISTINCT a AS doc FROM edges),
              |reach AS (
              |  SELECT doc, doc AS r FROM nodes
              |  UNION
              |  SELECT e.b AS doc, reach.r FROM reach JOIN edges e
              |    ON e.a = reach.doc),
              |comp AS (SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc)
              |SELECT cluster_id, count(*) AS n_members,
              |  CAST(min(doc) AS BIGINT) AS keep_doc
              |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),

    // ---- n-gram Jaccard verification --------------------------------------
    // Relational jaccard: explode distinct shingles, equi-join on shingle,
    // |A ∩ B| / (|A| + |B| - |A ∩ B|). Shuffle on shingle keys — scalable,
    // unlike a pairwise cross join.
    "q43_dedup_ngram_jaccard" -> QueryDef(
      (s, dir) => {
        // joins on the 32-bit shingle hash, not the shingle string: long
        // equality shuffles + compares far cheaper, and the oracle applies
        // the identical hashing so results stay exact. The pair set is
        // the staged mirror artifact (derived once per corpus, shared
        // with q48/q73/q166); jaccard re-derives from the stored exact
        // integers, bit-identical to the inline pipeline.
        shPairsMirror(s, dir, None, 0.8)
          .select(col("doc_a"), col("doc_b"),
                  round(col("jaccard"), 4).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |sh AS (SELECT doc_id, unnest(hs) AS sh
              |       FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              |  FROM sh a JOIN sh b
              |    ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b,
              |  round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
              |FROM inter
              |JOIN sizes sa ON sa.doc_id = doc_a
              |JOIN sizes sb ON sb.doc_id = doc_b
              |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- native UDTF: n-gram generator -------------------------------------
    // Table-generating function surface: the native `ngrams` Generator
    // fans each document out to its word bigrams inside the scan stage
    // (a `Generate` node, like explode — no shuffle, no per-row array
    // materialization), then a plain count/top-k. Deterministic total
    // order (count desc, ngram asc) keeps the limit oracle-exact.
    "q65_ngram_udtf" -> QueryDef(
      (s, dir) => {
        tableParallel(s, dir, "documents")
          .select(col("doc_id"), NGrams.of(tokens(col("text")), lit(2)))
          .groupBy("ngram").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("ngram"))
          .limit(20)
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |bg AS (SELECT unnest(CASE WHEN len(ws) >= 2
              |        THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
              |        ELSE CAST([] AS VARCHAR[]) END) AS ngram FROM ws)
              |SELECT ngram, count(*) AS n FROM bg GROUP BY ngram
              |ORDER BY n DESC, ngram LIMIT 20""".stripMargin)),

    // ---- Jaccard with the stop-shingle skew guard --------------------------
    // Same pipeline as q43 with the document-frequency cut engaged
    // (df > 5 shingles dropped before the self-join): the production
    // configuration for corpora with boilerplate, where one hot shingle
    // would otherwise fan out quadratically. Oracle applies the identical
    // cut, so results stay hash-exact.
    "q49_dedup_jaccard_stopshingle" -> QueryDef(
      (s, dir) => {
        // df5 variant of the staged pair mirror: the harsh stop-shingle
        // cut runs once in the artifact build, not per consumer
        shPairsMirror(s, dir, Some(5L), 0.8)
          .select(col("doc_a"), col("doc_b"),
                  round(col("jaccard"), 4).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |sh0 AS (SELECT doc_id, unnest(hs) AS sh
              |        FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |${duckStopShingles(5L)},
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              |  FROM sh a JOIN sh b
              |    ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b,
              |  round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
              |FROM inter
              |JOIN sizes sa ON sa.doc_id = doc_a
              |JOIN sizes sb ON sb.doc_id = doc_b
              |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- Jaccard with the SALTED self-join (plan-time skew guard) ----------
    // Same pipeline and results as q43, with SkewTools.saltedJoin engaged
    // on the shingle self-join: probe rows carry a deterministic
    // doc-hash salt, the build side replicates 8×, and a hot shingle's
    // fan-out spreads over 8 reducers instead of one. This is the
    // explicit-salting alternative for when the hot keys must be KEPT
    // (q49's stop-shingle cut drops them instead). Salting is
    // result-preserving, so the oracle is q43's, verbatim — and since
    // the staged pair mirror's `none` variant IS built through the
    // salted join (the production path), this query now reads the
    // artifact that salting produced instead of re-running the join:
    // the salted plan executes once per corpus in the mirror build.
    "q73_dedup_jaccard_salted" -> QueryDef(
      (s, dir) => {
        shPairsMirror(s, dir, None, 0.8)
          .select(col("doc_a"), col("doc_b"),
                  round(col("jaccard"), 4).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |sh AS (SELECT doc_id, unnest(hs) AS sh
              |       FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              |  FROM sh a JOIN sh b
              |    ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b,
              |  round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
              |FROM inter
              |JOIN sizes sa ON sa.doc_id = doc_a
              |JOIN sizes sb ON sb.doc_id = doc_b
              |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- TF-IDF keyword extraction ----------------------------------------
    // The classic corpus-statistics operator: per-source top-3 terms by
    // summed TF-IDF. Two linear aggregations (term df corpus-wide, term tf
    // per source) + a broadcast of the single-row N — no pairwise work.
    // Ranks order by the ROUNDED score so a last-ulp ln() difference
    // between libms can never flip a rank between the engines.
    "q74_tfidf_topterms" -> QueryDef(
      (s, dir) => {
        val tok = Materialize(tableParallel(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            explode(tokens(col("text"))).as("term")))
        val nDocs = tok.agg(countDistinct("doc_id").as("n_docs"))
        val dfT = tok.groupBy("term").agg(countDistinct("doc_id").as("df"))
        val tf = tok.groupBy("source", "term").agg(count(lit(1)).as("tf"))
        val scored = tf.join(dfT, "term").crossJoin(broadcast(nDocs))
          .withColumn("tfidf",
            round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
        val w = Window.partitionBy("source")
          .orderBy(desc("tfidf"), asc("term"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("source"), col("rank"), col("term"), col("tfidf"))
          .orderBy("source", "rank")
      },
      Some(s"""WITH tok AS (SELECT source, doc_id, unnest($duckToks) AS term
              |            FROM documents),
              |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
              |dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
              |        GROUP BY term),
              |tf AS (SELECT source, term, count(*) AS tf FROM tok
              |       GROUP BY source, term),
              |scored AS (
              |  SELECT source, tf.term,
              |    round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
              |  FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n)
              |SELECT source, rank, term, tfidf FROM (
              |  SELECT *, row_number() OVER (PARTITION BY source
              |    ORDER BY tfidf DESC, term) AS rank FROM scored)
              |WHERE rank <= 3 ORDER BY source, rank""".stripMargin)),

    // ---- intra-document repetition ratio (C4/Gopher-style quality signal) --
    // repetition = 1 - distinct_bigrams / total_bigrams per doc: the
    // signal that catches boilerplate-stuffed and looping documents.
    // Integer counts until the final division; docs with no bigram
    // (< 2 tokens) count separately instead of polluting the average.
    "q75_repetition_ratio" -> QueryDef(
      (s, dir) => {
        val bg = tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            NGrams.of(tokens(col("text")), lit(2)))
        val perDoc = bg.groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("total_bg"),
               countDistinct(col("ngram")).as("distinct_bg"))
          .withColumn("rep",
            lit(1.0) - col("distinct_bg") * 1.0 / col("total_bg"))
        perDoc.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               round(avg("rep"), 4).as("avg_repetition"),
               sum(when(col("rep") > 0.2, 1L).otherwise(0L))
                 .as("n_repetitive"))
          .orderBy("lang")
      },
      Some(s"""WITH ws AS (SELECT doc_id, lang, $duckToks AS ws FROM documents),
              |bg AS (SELECT doc_id, lang, unnest(
              |         CASE WHEN len(ws) >= 2
              |           THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
              |           ELSE CAST([] AS VARCHAR[]) END) AS ngram FROM ws),
              |per_doc AS (
              |  SELECT doc_id, lang,
              |    1.0 - count(DISTINCT ngram) * 1.0 / count(*) AS rep
              |  FROM bg GROUP BY doc_id, lang)
              |SELECT lang, count(*) AS n_docs,
              |  round(avg(rep), 4) AS avg_repetition,
              |  CAST(sum(CASE WHEN rep > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_repetitive
              |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- canonical-document selection (dedup keep-best) --------------------
    // After grouping exact duplicates by content fingerprint, KEEP the
    // best representative (longest text, doc_id tie-break) and drop the
    // rest — the step that turns "duplicates found" into "corpus fixed".
    // One window over fp — a single shuffle; integer outputs, hash-exact.
    "q76_canonical_doc" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("fp")
          .orderBy(desc("n_chars"), asc("doc_id"))
        tableParallel(s, dir, "documents")
          .withColumn("fp", md5(col("text")))
          .withColumn("rn", row_number().over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
               sum(when(col("rn") === 1, col("doc_id"))).as("kept_id_sum"))
          .orderBy("source")
      },
      Some("""WITH ranked AS (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY md5(text)
             |      ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  CAST(sum(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             |    AS kept_id_sum
             |FROM ranked GROUP BY source ORDER BY source""".stripMargin)),

    // ---- fuzzy entity matching (blocked edit distance) ---------------------
    // Entity resolution's standard two-tier shape: BLOCK on a cheap key
    // (first name token) so candidate generation is an equi-join, then a
    // CHEAP necessary-condition prefilter (|len(a)-len(b)| <= d bounds
    // levenshtein from below, and codegen'd length() is ~1000x cheaper
    // than the DP matrix) before the expensive exact edit distance runs
    // only on survivors — identical integer semantics in Spark and
    // DuckDB, so the oracle is hash-exact. Without the prefilter the
    // in-block scoring was the whole query's cost (21 s at sf0.1); with
    // it the levenshtein row count drops ~20x. At 100 TB you compose
    // more blocking keys the same way — everything stays an equi-shuffle.
    "q83_fuzzy_entity_match" -> QueryDef(
      (s, dir) => {
        val w = split(col("p_name"), " ")
        // tableParallel, not table: the block join broadcasts the build
        // side, so the probe side's split count IS the parallelism of the
        // ~6M pair evaluations — a single-file local scan would pin them
        // to one core
        val p = tableParallel(s, dir, "part")
          .select(col("p_partkey"), col("p_name"),
            concat_ws("|", w.getItem(0), w.getItem(1)).as("blk"))
        val cnt = p.groupBy("blk").agg(count(lit(1)).as("n_parts"))
        val a = p.select(col("blk"), col("p_partkey").as("ka"),
          col("p_name").as("na"))
        val b = p.select(col("blk"), col("p_partkey").as("kb"),
          col("p_name").as("nb"))
        val cand = a.join(b, Seq("blk")).filter(col("ka") < col("kb") &&
          abs(length(col("na")) - length(col("nb"))) <= 2)
        // thresholded levenshtein: the banded DP aborts once distance
        // must exceed 2 (returns -1), O(k·n) instead of O(n²) per pair —
        // min_d is therefore defined over CLOSE pairs only (null when a
        // block has none), which the oracle mirrors
        val agg = cand
          .withColumn("d", levenshtein(col("na"), col("nb"), 2))
          .groupBy("blk")
          .agg(count(lit(1)).as("n_cand"),
               sum(when(col("d") =!= -1, 1L).otherwise(0L)).as("n_close"),
               min(when(col("d") =!= -1, col("d"))).as("min_d"))
        cnt.join(agg, "blk")
          .select("blk", "n_parts", "n_cand", "n_close", "min_d")
          .orderBy("blk")
      },
      Some("""WITH p AS (SELECT p_partkey, p_name,
             |             split_part(p_name, ' ', 1) || '|' ||
             |             split_part(p_name, ' ', 2) AS blk FROM part),
             |cnt AS (SELECT blk, count(*) AS n_parts FROM p GROUP BY 1),
             |pairs AS (SELECT a.blk, levenshtein(a.p_name, b.p_name) AS d
             |          FROM p a JOIN p b
             |            ON a.blk = b.blk AND a.p_partkey < b.p_partkey
             |           AND abs(length(a.p_name) - length(b.p_name)) <= 2),
             |agg AS (SELECT blk, count(*) AS n_cand,
             |          count(*) FILTER (WHERE d <= 2) AS n_close,
             |          CAST(min(CASE WHEN d <= 2 THEN d END) AS INT) AS min_d
             |        FROM pairs GROUP BY 1)
             |SELECT c.blk, n_parts, n_cand, n_close, min_d
             |FROM cnt c JOIN agg a USING (blk) ORDER BY blk""".stripMargin)),

    // ---- IQR outlier detection --------------------------------------------
    // Tukey's rule per source: bounds = q1/q3 ± 1.5*IQR of document
    // length, then count docs outside them — the outlier-filtering pass a
    // corpus runs before training. Bounds are ROUNDED to 2 decimals on
    // both engines before comparing (the interpolated percentiles agree
    // to well under 0.005, and rounding pins the comparison exactly).
    // One percentile aggregation + a broadcast join back — two linear
    // passes, no pairwise work.
    "q86_iqr_outliers" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
          .select("source", "doc_id", "n_chars")
        val bounds = docs.groupBy("source")
          .agg(expr("percentile(n_chars, 0.25)").as("q1"),
               expr("percentile(n_chars, 0.75)").as("q3"))
          .select(col("source"),
            round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 2).as("lo"),
            round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 2).as("hi"))
        docs.join(broadcast(bounds), "source")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               max("lo").as("lo"), max("hi").as("hi"),
               sum(when(col("n_chars") < col("lo") ||
                        col("n_chars") > col("hi"), 1L).otherwise(0L))
                 .as("n_outliers"))
          .orderBy("source")
      },
      Some("""WITH bounds AS (
             |  SELECT source,
             |    round(quantile_cont(n_chars, 0.25)
             |      - 1.5 * (quantile_cont(n_chars, 0.75)
             |               - quantile_cont(n_chars, 0.25)), 2) AS lo,
             |    round(quantile_cont(n_chars, 0.75)
             |      + 1.5 * (quantile_cont(n_chars, 0.75)
             |               - quantile_cont(n_chars, 0.25)), 2) AS hi
             |  FROM documents GROUP BY source)
             |SELECT d.source, count(*) AS n_docs,
             |  max(lo) AS lo, max(hi) AS hi,
             |  CAST(sum(CASE WHEN n_chars < lo OR n_chars > hi
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM documents d JOIN bounds b ON d.source = b.source
             |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // ---- regex field extraction -------------------------------------------
    // Structured-field scraping from free text: every ≥2-digit number in
    // each event's raw props blob via regexp_extract_all — the narrow
    // codegen'd projection a log/scrape pipeline runs before typed
    // analysis. Targets events.props (the one free-text column in the
    // corpus that CONTAINS digits — the synthetic documents.text is
    // lowercase words only, so extracting there compared empty relations
    // and proved nothing). Integer counts and sums keep the oracle
    // hash-exact.
    "q100_regex_extract" -> QueryDef(
      (s, dir) =>
        table(s, dir, "events")
          .select(col("event_type"),
            regexp_extract_all(col("props"), lit("\\d{2,}"), lit(0))
              .as("nums"))
          .select(col("event_type"), explode(col("nums")).as("num"))
          .select(col("event_type"), col("num").cast("long").as("n"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_matches"),
               countDistinct("n").as("n_distinct"),
               sum("n").as("num_sum"),
               max("n").as("num_max"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n_matches,
             |  count(DISTINCT n) AS n_distinct,
             |  CAST(sum(n) AS BIGINT) AS num_sum,
             |  CAST(max(n) AS BIGINT) AS num_max
             |FROM (
             |  SELECT event_type,
             |    CAST(unnest(regexp_extract_all(props, '\d{2,}')) AS BIGINT)
             |      AS n
             |  FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- vocabulary build + token-id encoding -----------------------------
    // The tokenizer-training primitive: rank the corpus's top-V tokens by
    // frequency (count desc, token asc — total order, so the vocab
    // BOUNDARY is deterministic), assign ids 1..V, then re-encode every
    // document against the broadcast vocab (OOV -> 0). The row_number
    // window runs AFTER the top-V limit, so the single-partition sort is
    // O(V), never O(distinct tokens); the encode join broadcasts V rows.
    // The position-weighted id checksum pins every token's id AND its
    // position, so the oracle verifies the full encoded sequence.
    "q107_vocab_encode" -> QueryDef(
      (s, dir) => {
        val tok = tableParallel(s, dir, "documents")
          .select(col("doc_id"), posexplode(tokens(col("text"))))
          .toDF("doc_id", "pos", "w")
        val top = tok.groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), asc("w")).limit(100)
        val vid = top.withColumn("id",
            row_number().over(Window.orderBy(desc("c"), asc("w"))).cast("long"))
          .select("w", "id")
        tok.join(broadcast(vid), Seq("w"), "left")
          .withColumn("id", coalesce(col("id"), lit(0L)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
               sum(when(col("id") === 0, 1L).otherwise(0L)).as("n_oov"),
               sum(col("id") * (col("pos") + 1)).as("ids_checksum"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |tok AS (SELECT doc_id, unnest(ws) AS w,
              |          generate_subscripts(ws, 1) AS pos FROM w),
              |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
              |vocab AS (SELECT w,
              |            CAST(row_number() OVER (ORDER BY c DESC, w)
              |              AS BIGINT) AS id
              |          FROM cnt ORDER BY c DESC, w LIMIT 100),
              |enc AS (SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
              |        FROM tok t LEFT JOIN vocab v USING (w))
              |SELECT doc_id, count(*) AS n_tok,
              |  CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_oov,
              |  CAST(sum(id * pos) AS BIGINT) AS ids_checksum
              |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- unicode + whitespace normalization -------------------------------
    // Canonical text cleanup, stage zero of every dedup pipeline (NFC
    // makes visually-equal strings byte-equal, so fingerprints match):
    // lowercase -> NFC (native [[NfcNormalize]] expression — Spark has no
    // normalization built-in, and an Expression keeps it inside codegen)
    // -> control chars to spaces -> whitespace collapse -> trim. Pure
    // map-side projection; the per-source checksum hashes every CLEANED
    // text, so the oracle verifies the normalization output itself. The
    // synthetic corpus is ASCII (NFC = identity); NfcNormalizeSpec proves
    // the composition behavior on real combining characters.
    "q108_normalize_text" -> QueryDef(
      (s, dir) => {
        tableParallel(s, dir, "documents")
          .withColumn("ct", trim(regexp_replace(
            regexp_replace(NfcNormalize.of(lower(col("text"))),
              "[\\x00-\\x1f]", " "),
            "\\s+", " ")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum(length(col("ct"))).as("n_chars"),
               sum(hash32(col("ct"))).as("text_checksum"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source,
             |  trim(regexp_replace(regexp_replace(
             |    nfc_normalize(lower(text)), '[\x00-\x1f]', ' ', 'g'),
             |    '\s+', ' ', 'g')) AS ct
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(length(ct)) AS BIGINT) AS n_chars,
             |  CAST(sum(CAST(('0x' || substr(md5(ct), 1, 8)) AS BIGINT))
             |    AS BIGINT) AS text_checksum
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // ---- exact substring-span dedup ---------------------------------------
    // Duplicated SPANS, not duplicated documents: fixed-width 8-token
    // windows (stride 1) fingerprinted per position, a span is duplicated
    // when its fingerprint occurs in >= 2 distinct documents. This is the
    // fixed-width-fingerprint reformulation of suffix-array substring
    // dedup (a suffix array is a driver-side structure; positional
    // shingles are a narrow projection + one equi-shuffle, the shape that
    // scales): the window explode is map-side, the duplicate set comes
    // from a groupBy on 32-bit span hashes (well-distributed keys), and
    // the flagging join is a semi-join on the same keys. Both engines
    // hash identically, so even 32-bit collisions cannot desynchronize
    // the oracle.
    "q121_span_dedup" -> QueryDef(
      (s, dir) => {
        // the 8-token window hashes come from ONE native pass per doc
        // (WindowHashes); the old position-explode carried the whole
        // token array through the Generate and re-hashed interpreted
        val spans = Materialize(
          tableParallel(s, dir, "documents")
            .select(col("doc_id"), tokens(col("text")).as("ws"))
            .filter(size(col("ws")) >= 8)
            .select(col("doc_id"),
              posexplode(WindowHashes.of(col("ws"), lit(8), lit(1)))
                .as(Seq("pos", "fp"))))
        val dupFps = spans.groupBy("fp")
          .agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") >= 2)
          .select("fp")
        spans.join(dupFps, Seq("fp"), "left_semi")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_dup_spans"),
               countDistinct("fp").as("n_dup_fps"),
               sum("pos").as("dup_pos_sum"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckToks AS ws FROM documents
              |          WHERE len($duckToks) >= 8),
              |x AS (SELECT doc_id, ws,
              |        unnest(range(0, len(ws) - 7)) AS pos FROM w),
              |sp AS (SELECT doc_id, pos,
              |         CAST(('0x' || substr(md5(array_to_string(
              |           list_slice(ws, pos + 1, pos + 8), ' ')), 1, 8))
              |           AS BIGINT) AS fp
              |       FROM x),
              |dup AS (SELECT fp FROM sp GROUP BY fp
              |        HAVING count(DISTINCT doc_id) >= 2)
              |SELECT doc_id, count(*) AS n_dup_spans,
              |  count(DISTINCT fp) AS n_dup_fps,
              |  CAST(sum(pos) AS BIGINT) AS dup_pos_sum
              |FROM sp WHERE fp IN (SELECT fp FROM dup)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- cross-source shingle-overlap matrix ------------------------------
    // Corpus-mixing diagnostic: pairwise Jaccard similarity BETWEEN
    // SOURCES over their distinct shingle sets (how much of source A's
    // content space does source B share?). One distinct projection per
    // (source, shingle), sizes from a groupBy, intersections from a
    // self-equi-join on the shingle hash — the per-key fan-out is bounded
    // by the number of sources, so the join cannot skew no matter how
    // common a shingle is. The |sources|^2 output is dimension-sized.
    "q123_source_overlap" -> QueryDef(
      (s, dir) => {
        // per-source distinct shingles derive from the LSH mirror's
        // per-doc hashed sets (per-doc dedup then cross-doc distinct ==
        // cross-doc distinct) — no second corpus text scan
        val srcSh = Materialize(hsMirror(s, dir)
          .select(col("source"), explode(col("hs")).as("sh"))
          .distinct())
        val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("n"))
        srcSh.as("a").join(srcSh.as("b"),
            col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(sizes.select(col("source").as("src_a"),
            col("n").as("na"))), "src_a")
          .join(broadcast(sizes.select(col("source").as("src_b"),
            col("n").as("nb"))), "src_b")
          .select(col("src_a"), col("src_b"), col("n_shared"),
            round(col("n_shared") * 1.0 /
              (col("na") + col("nb") - col("n_shared")), 4).as("jaccard"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH w AS (SELECT source, $duckToks AS ws FROM documents),
              |hs AS (SELECT source, unnest($duckHs) AS sh FROM w),
              |s0 AS (SELECT DISTINCT source, sh FROM hs),
              |sizes AS (SELECT source, count(*) AS n FROM s0 GROUP BY 1),
              |inter AS (
              |  SELECT a.source AS src_a, b.source AS src_b,
              |    count(*) AS n_shared
              |  FROM s0 a JOIN s0 b ON a.sh = b.sh AND a.source < b.source
              |  GROUP BY 1, 2)
              |SELECT src_a, src_b, n_shared,
              |  round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 4)
              |    AS jaccard
              |FROM inter
              |JOIN sizes sa ON sa.source = src_a
              |JOIN sizes sb ON sb.source = src_b
              |ORDER BY src_a, src_b""".stripMargin)),

    // ---- character-bigram LM scoring (perplexity proxy) -------------------
    // A corpus-trained character-bigram language model scoring its own
    // corpus — the classic cheap fluency/quality signal when no external
    // LM is available (gibberish and non-text score far below fluent
    // prose). The model is a corpus-level MLE (bigram count / context
    // count): two linear aggregations produce a vocabulary-sized table
    // that BROADCASTS back onto the exploded bigram stream. Per-bigram
    // log-probabilities are floored into 1e-6-scaled integers BEFORE
    // summation, so the per-source totals are order-independent exact
    // integers — the one double op (ln of an exact rational) runs on
    // identical operands in both engines.
    "q127_char_bigram_lm" -> QueryDef(
      (s, dir) => {
        val bg = Materialize(
          tableParallel(s, dir, "documents")
            .select(col("source"), lower(trim(col("text"))).as("t"))
            .filter(length(col("t")) >= 2)
            .select(col("source"), explode(expr(
              "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"))
              .as("bg")))
        val cnt = bg.groupBy("bg").agg(count(lit(1)).as("c"))
        val ctx = cnt.groupBy(substring(col("bg"), 1, 1).as("c1"))
          .agg(sum("c").as("n"))
        val model = broadcast(
          cnt.withColumn("c1", substring(col("bg"), 1, 1))
            .join(ctx, "c1")
            .select(col("bg"),
              floor(log(col("c") * 1.0 / col("n")) * 1e6).cast("long")
                .as("lp")))
        bg.join(model, "bg")
          .groupBy("source")
          .agg(count(lit(1)).as("n_bigrams"),
               sum("lp").as("logp_sum_scaled"))
          .withColumn("avg_logp",
            round(col("logp_sum_scaled") * 1.0 / col("n_bigrams") / 1e6, 4))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, lower(trim(text)) AS t
             |           FROM documents WHERE length(lower(trim(text))) >= 2),
             |bg AS (SELECT source, unnest(list_transform(range(1, length(t)),
             |         i -> substr(t, i, 2))) AS bg FROM d),
             |cnt AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1),
             |ctx AS (SELECT substr(bg, 1, 1) AS c1,
             |          CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
             |model AS (SELECT bg,
             |            CAST(floor(ln(c * 1.0 / n) * 1e6) AS BIGINT) AS lp
             |          FROM cnt JOIN ctx ON substr(cnt.bg, 1, 1) = ctx.c1)
             |SELECT source, count(*) AS n_bigrams,
             |  CAST(sum(lp) AS BIGINT) AS logp_sum_scaled,
             |  round(CAST(sum(lp) AS BIGINT) * 1.0 / count(*) / 1e6, 4)
             |    AS avg_logp
             |FROM bg JOIN model USING (bg)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- shingle novelty rate ---------------------------------------------
    // Incremental-corpus signal: how much of each document's content is
    // NEW versus already present in earlier documents (by ingest order =
    // doc_id)? First occurrence per shingle is a min-aggregation on the
    // shingle hash; a shingle is novel for the doc that introduced it.
    // Same two-shuffle shape as the span-dedup family — groupBy + join
    // back on well-distributed hash keys — so a trickle-ingest pipeline
    // can compute novelty on every batch at corpus scale.
    "q131_novelty_rate" -> QueryDef(
      (s, dir) => {
        // exploded shingles derive from the LSH mirror's per-doc hashed
        // sets — no second corpus text scan for this family
        val sh = Materialize(hsMirror(s, dir)
          .select(col("doc_id"), explode(col("hs")).as("sh")))
        val firstSeen = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
        sh.join(firstSeen, "sh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
               sum(when(col("first_doc") === col("doc_id"), 1L)
                 .otherwise(0L)).as("n_novel"))
          .withColumn("novelty_rate",
            round(col("n_novel") * 1.0 / col("n_shingles"), 4))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |hs AS (SELECT doc_id, unnest($duckHs) AS sh FROM w),
              |f AS (SELECT sh, min(doc_id) AS first_doc FROM hs GROUP BY 1)
              |SELECT doc_id, count(*) AS n_shingles,
              |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_novel,
              |  round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
              |    * 1.0 / count(*), 4) AS novelty_rate
              |FROM hs JOIN f USING (sh)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- count-min sketch heavy hitters -----------------------------------
    // The streaming-friendly frequency sketch, deterministic edition: a
    // 4×256 count-min sketch over the token stream (cell = md5-derived
    // hash per row), built as ONE tiny aggregation — the sketch is 1 024
    // counters regardless of corpus size, partials merge by addition, so
    // at 100 TB each executor ships 8 KB upward. Estimates (min over the
    // token's 4 cells) are compared against true counts for the true
    // top-10: CMS never undercounts, and both engines replay the same
    // hash placement, so even the OVERCOUNTS match exactly.
    "q136_cms_heavy_hitters" -> QueryDef(
      (s, dir) => {
        val tok = Materialize(
          tableParallel(s, dir, "documents")
            .select(explode(tokens(col("text"))).as("w")))
        val cnt = Materialize(tok.groupBy("w").agg(count(lit(1)).as("c")))
        val top = cnt.orderBy(desc("c"), col("w")).limit(10)
        val cells = tok
          .select(col("w"), explode(sequence(lit(0), lit(3))).as("r"))
          .select(col("r"),
            (hash32(concat(lit("cms"), col("r"), lit("_"), col("w")))
              % 256).as("cell"))
          .groupBy("r", "cell").agg(count(lit(1)).as("cnt"))
        broadcast(top)
          .select(col("w"), col("c"),
            explode(sequence(lit(0), lit(3))).as("r"))
          .withColumn("cell",
            hash32(concat(lit("cms"), col("r"), lit("_"), col("w"))) % 256)
          .join(cells, Seq("r", "cell"))
          .groupBy("w", "c")
          .agg(min("cnt").as("est"))
          .select(col("w"), col("c").as("true_count"),
            col("est").as("cms_estimate"),
            (col("est") - col("c")).as("overcount"))
          .orderBy(desc("true_count"), col("w"))
      },
      Some("""WITH tok AS (SELECT unnest(regexp_split_to_array(
             |    lower(trim(text)), '\s+')) AS w FROM documents),
             |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
             |top AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 10),
             |cells AS (
             |  SELECT r, CAST(('0x' || substr(md5('cms' || r || '_' || w),
             |      1, 8)) AS BIGINT) % 256 AS cell, count(*) AS cnt
             |  FROM tok CROSS JOIN range(0, 4) t(r)
             |  GROUP BY 1, 2),
             |est AS (
             |  SELECT top.w, top.c, min(cells.cnt) AS est
             |  FROM top CROSS JOIN range(0, 4) t(r)
             |  JOIN cells ON cells.r = t.r
             |    AND cells.cell = CAST(('0x' || substr(md5('cms' || t.r
             |      || '_' || top.w), 1, 8)) AS BIGINT) % 256
             |  GROUP BY 1, 2)
             |SELECT w, c AS true_count, est AS cms_estimate,
             |  CAST(est - c AS BIGINT) AS overcount
             |FROM est ORDER BY true_count DESC, w""".stripMargin)),

    // ---- BM25 keyword retrieval -------------------------------------------
    // Full-text ranking, the retrieval half of a RAG pipeline: BM25
    // (k1 = 1.2, b = 0.75) for a fixed 3-term query. Shapes: one narrow
    // tokenize pass; term frequencies only for MATCHING terms (the isin
    // filter drops the rest before the shuffle); document frequencies and
    // corpus stats are dimension-sized broadcasts. Per-term scores are
    // floored into 1e-6-scaled integers BEFORE the per-doc sum, so the
    // ranking is order-independent and the top-20 hash-exact — every
    // double op (idf's ln, the tf saturation) runs on identical operands
    // in both engines, written in the same association order.
    "q139_bm25_retrieval" -> QueryDef(
      (s, dir) => {
        val docs = Materialize(
          tableParallel(s, dir, "documents")
            .select(col("doc_id"), tokens(col("text")).as("ws"))
            .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
              col("ws")))
        val stats = docs.agg(count(lit(1)).as("n_docs"),
          sum("dl").as("total_len"))
        val tf = docs
          .select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
          .filter(col("w").isin("hash", "join", "vector"))
          .groupBy("doc_id", "dl", "w").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("w").agg(countDistinct("doc_id").as("df"))
        tf.join(broadcast(dfreq), "w")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
          .withColumn("avgdl", col("total_len") * 1.0 / col("n_docs"))
          .withColumn("ts", floor(
            (col("idf") * (col("tf") * 2.2) /
              (col("tf") + lit(1.2) * (lit(0.25) +
                lit(0.75) * col("dl") / col("avgdl")))) * 1e6).cast("long"))
          .groupBy("doc_id")
          .agg(sum("ts").as("score_scaled"), count(lit(1)).as("n_terms"))
          .orderBy(desc("score_scaled"), col("doc_id")).limit(20)
          .select(col("doc_id"), col("n_terms"),
            round(col("score_scaled") / 1e6, 4).as("bm25"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |docs AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws
             |         FROM d),
             |stats AS (SELECT count(*) AS n_docs,
             |    CAST(sum(dl) AS BIGINT) AS total_len FROM docs),
             |tf AS (SELECT doc_id, dl, w, count(*) AS tf
             |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM docs)
             |  WHERE w IN ('hash', 'join', 'vector')
             |  GROUP BY 1, 2, 3),
             |dfreq AS (SELECT w, count(DISTINCT doc_id) AS df
             |          FROM tf GROUP BY 1),
             |scored AS (SELECT doc_id,
             |    CAST(floor((ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             |      * (tf * 2.2) /
             |      (tf + 1.2 * (0.25 + 0.75 * dl /
             |        (total_len * 1.0 / n_docs)))) * 1e6) AS BIGINT) AS ts
             |  FROM tf JOIN dfreq USING (w), stats)
             |SELECT doc_id, count(*) AS n_terms,
             |  round(CAST(sum(ts) AS BIGINT) / 1e6, 4) AS bm25
             |FROM scored GROUP BY doc_id
             |ORDER BY CAST(sum(ts) AS BIGINT) DESC, doc_id
             |LIMIT 20""".stripMargin)),

    // ---- inverted index construction --------------------------------------
    // The index ARTIFACT itself: per-term document frequency, total term
    // frequency, and a checksum over the doc-id-ordered posting list
    // (`doc:tf` entries) — order imposed by sort, never inherited from
    // shuffle arrival, the same rule as every ordered aggregation here.
    // Two aggregations, both on well-distributed keys; posting lists are
    // per-term and bounded by document frequency. Terms below df 50 are
    // cut (an index's stopword/min-df knob, and it bounds the output).
    "q140_inverted_index" -> QueryDef(
      (s, dir) => {
        val postings = tableParallel(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
          .groupBy("w", "doc_id").agg(count(lit(1)).as("tf"))
        postings.groupBy("w")
          .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"),
            hash32(concat_ws(",", transform(
              sort_array(collect_list(struct(col("doc_id"), col("tf")))),
              x => concat(x.getField("doc_id").cast("string"), lit(":"),
                x.getField("tf").cast("string"))))).as("postings_hash"))
          .filter(col("df") >= 50)
          .select(col("w").as("term"), col("df"), col("total_tf"),
            col("postings_hash"))
          .orderBy("term")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
             |    lower(trim(text)), '\s+')) AS w FROM documents),
             |p AS (SELECT w, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2)
             |SELECT w AS term, count(*) AS df,
             |  CAST(sum(tf) AS BIGINT) AS total_tf,
             |  CAST(('0x' || substr(md5(array_to_string(
             |    list(doc_id || ':' || tf ORDER BY doc_id), ',')), 1, 8))
             |    AS BIGINT) AS postings_hash
             |FROM p GROUP BY w HAVING count(*) >= 50
             |ORDER BY term""".stripMargin)),

    // ---- vocabulary growth / type-token ratio -----------------------------
    // Lexical-diversity curve per source: vocabulary size after the first
    // 1k and 5k tokens in INGEST ORDER (doc_id, position) — the
    // Heaps'-law signal that distinguishes template-generated text (flat
    // curve) from diverse prose. Order is imposed by a per-source
    // row_number window (the one per-source sort the semantics require);
    // each token type contributes its FIRST global position, and the
    // checkpoint counts are exact integer comparisons against it.
    "q144_vocab_growth" -> QueryDef(
      (s, dir) => {
        val tok = tableParallel(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            posexplode(tokens(col("text"))))
          .toDF("source", "doc_id", "pos", "w")
        val win = Window.partitionBy("source").orderBy("doc_id", "pos")
        val firsts = tok.withColumn("rn", row_number().over(win))
          .groupBy("source", "w").agg(min("rn").as("first_rn"))
        firsts.groupBy("source")
          .agg(sum(when(col("first_rn") <= 1000, 1L).otherwise(0L))
            .as("vocab_1k"),
            sum(when(col("first_rn") <= 5000, 1L).otherwise(0L))
              .as("vocab_5k"),
            count(lit(1)).as("vocab_total"))
          .withColumn("ttr_1k", round(col("vocab_1k") / 1000.0, 4))
          .withColumn("ttr_5k", round(col("vocab_5k") / 5000.0, 4))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, doc_id, regexp_split_to_array(
             |    lower(trim(text)), '\s+') AS ws FROM documents),
             |t AS (SELECT source, doc_id, unnest(ws) AS w,
             |        generate_subscripts(ws, 1) AS pos FROM d),
             |r AS (SELECT source, w, row_number() OVER (
             |    PARTITION BY source ORDER BY doc_id, pos) AS rn FROM t),
             |f AS (SELECT source, w, min(rn) AS first_rn
             |      FROM r GROUP BY 1, 2)
             |SELECT source,
             |  CAST(sum(CASE WHEN first_rn <= 1000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS vocab_1k,
             |  CAST(sum(CASE WHEN first_rn <= 5000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS vocab_5k,
             |  count(*) AS vocab_total,
             |  round(sum(CASE WHEN first_rn <= 1000 THEN 1 ELSE 0 END)
             |    / 1000.0, 4) AS ttr_1k,
             |  round(sum(CASE WHEN first_rn <= 5000 THEN 1 ELSE 0 END)
             |    / 5000.0, 4) AS ttr_5k
             |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // ---- leakage-safe train/val/test split --------------------------------
    // The split step done RIGHT for deduplicated corpora: a plain per-doc
    // hash split leaks near-duplicates across train and test (the model
    // memorizes the train twin, the test twin scores it) — so the split
    // key is the near-dup CLUSTER label (q48's connected components),
    // putting every member of a duplicate cluster in the same split by
    // construction. The query PROVES it: n_leaks counts verified near-dup
    // pairs whose endpoints landed in different splits — pinned 0 by the
    // oracle. Same pipeline shapes as q48 plus one broadcast-back of the
    // dimension-sized label table. Candidate generation rides the SAME
    // stop-shingle df cut as the production pipeline default
    // ([[graft.operators.CorpusPipeline.DefaultStopShingleDf]]): the
    // split must group near-dups exactly the way the dedup that produced
    // the corpus did, so consistency argues FOR the cut — and it bounds
    // the self-join fan-out to ≤ df² pairs per shingle at any corpus
    // scale (no corpus-wide Σ df² hot keys).
    "q145_leakage_safe_split" -> QueryDef(
      (s, dir) => {
        // near-dup pairs under the production df cut come from the
        // staged pair mirror (df1000 variant, ≥0.8 filter at read)
        val pairs = Materialize(shPairsMirror(s, dir,
          Some(graft.operators.CorpusPipeline.DefaultStopShingleDf), 0.8)
          .select("doc_a", "doc_b"))
        val labels = ConnectedComponents.minLabel(pairs)
        val bucket = hash32(concat(lit("split_"), col("cluster"))) % 10
        val clustered = Materialize(
          tableParallel(s, dir, "documents").select(col("doc_id"))
            .join(labels.select(col("doc").as("doc_id"), col("label")),
              Seq("doc_id"), "left")
            .withColumn("cluster", coalesce(col("label"), col("doc_id")))
            .withColumn("split",
              when(bucket <= 7, "train")
                .when(bucket === 8, "valid")
                .otherwise("test")))
        val leaks = pairs
          .join(clustered.select(col("doc_id").as("doc_a"),
            col("split").as("sa")), "doc_a")
          .join(clustered.select(col("doc_id").as("doc_b"),
            col("split").as("sb")), "doc_b")
          .agg(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
            .as("l"))
          .select(coalesce(col("l"), lit(0L)).as("n_leaks"))
        clustered.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
               countDistinct("cluster").as("n_clusters"),
               sum("doc_id").as("id_sum"))
          .crossJoin(broadcast(leaks))
          .orderBy("split")
      },
      Some(s"""WITH RECURSIVE
              |ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |sh0 AS (SELECT doc_id, unnest(hs) AS sh
              |        FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |${duckStopShingles(graft.operators.CorpusPipeline.DefaultStopShingleDf)},
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT doc_a, doc_b FROM inter
              |  JOIN sizes sa ON sa.doc_id = doc_a
              |  JOIN sizes sb ON sb.doc_id = doc_b
              |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |          UNION ALL SELECT doc_b, doc_a FROM pairs),
              |nodes AS (SELECT DISTINCT a AS doc FROM edges),
              |reach AS (
              |  SELECT doc, doc AS r FROM nodes
              |  UNION
              |  SELECT e.b AS doc, reach.r FROM reach JOIN edges e
              |    ON e.a = reach.doc),
              |comp AS (SELECT doc, min(r) AS cluster_id
              |         FROM reach GROUP BY doc),
              |sp AS (SELECT d.doc_id,
              |    coalesce(c.cluster_id, d.doc_id) AS cluster,
              |    CASE WHEN CAST(('0x' || substr(md5('split_' ||
              |        coalesce(c.cluster_id, d.doc_id)), 1, 8)) AS BIGINT)
              |        % 10 <= 7 THEN 'train'
              |      WHEN CAST(('0x' || substr(md5('split_' ||
              |        coalesce(c.cluster_id, d.doc_id)), 1, 8)) AS BIGINT)
              |        % 10 = 8 THEN 'valid'
              |      ELSE 'test' END AS split
              |  FROM documents d LEFT JOIN comp c ON c.doc = d.doc_id),
              |leaks AS (SELECT coalesce(CAST(sum(CASE WHEN a.split <> b.split
              |      THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_leaks
              |  FROM pairs p
              |  JOIN sp a ON a.doc_id = p.doc_a
              |  JOIN sp b ON b.doc_id = p.doc_b)
              |SELECT split, count(*) AS n_docs,
              |  count(DISTINCT cluster) AS n_clusters,
              |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
              |  (SELECT n_leaks FROM leaks) AS n_leaks
              |FROM sp GROUP BY split ORDER BY split""".stripMargin)),

    // ---- Zipf slope of the token distribution -----------------------------
    // Corpus-health fingerprint: natural text follows a power law
    // (log-frequency ≈ slope · log-rank + c with slope near -1);
    // template-generated or heavily-duplicated corpora bend away from
    // it. One count aggregation, a global top-100 rank (dimension-sized
    // by construction), then ordinary-least-squares on the log-log
    // points — the regression runs on 100 rows with the slope formula
    // written in the identical association order in both engines.
    "q148_zipf_slope" -> QueryDef(
      (s, dir) => {
        val pts = tableParallel(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
          .withColumn("rnk",
            row_number().over(Window.orderBy(desc("c"), col("w"))))
          .filter(col("rnk") <= 100)
          .select(log(col("rnk").cast("double")).as("x"),
            log(col("c").cast("double")).as("y"))
        pts.agg(count(lit(1)).as("n_terms"),
            ((avg(col("x") * col("y")) - avg(col("x")) * avg(col("y"))) /
              (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))))
              .as("m"),
            avg(col("x")).as("mx"), avg(col("y")).as("my"))
          .select(col("n_terms"), round(col("m"), 4).as("zipf_slope"),
            round(col("my") - col("m") * col("mx"), 4).as("intercept"))
      },
      Some("""WITH cnt AS (SELECT w, count(*) AS c FROM (
             |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
             |      '\s+')) AS w FROM documents) GROUP BY w),
             |pts AS (SELECT ln(CAST(rnk AS DOUBLE)) AS x,
             |          ln(CAST(c AS DOUBLE)) AS y
             |  FROM (SELECT c, row_number() OVER (ORDER BY c DESC, w)
             |          AS rnk FROM cnt)
             |  WHERE rnk <= 100),
             |f AS (SELECT count(*) AS n_terms,
             |    (avg(x * y) - avg(x) * avg(y)) /
             |      (avg(x * x) - avg(x) * avg(x)) AS m,
             |    avg(x) AS mx, avg(y) AS my
             |  FROM pts)
             |SELECT n_terms, round(m, 4) AS zipf_slope,
             |  round(my - m * mx, 4) AS intercept
             |FROM f""".stripMargin)),

    // ---- readability scoring (Automated Readability Index) ----------------
    // The grade-level proxy quality filters threshold on: ARI =
    // 4.71·(chars/words) + 0.5·(words/sentences) − 21.43, from exact
    // integer counts (letters = non-space chars, words = tokens,
    // sentences = terminator runs, floored at 1). Pure map-side
    // per-document math; the per-source aggregate averages the DOUBLE
    // scores of exact-integer ratios, rounded on both sides.
    "q153_readability_ari" -> QueryDef(
      (s, dir) => {
        val d = tableParallel(s, dir, "documents")
          .select(col("source"),
            length(regexp_replace(col("text"), "\\s", "")).cast("long")
              .as("chars"),
            size(tokens(col("text"))).cast("long").as("words"),
            greatest(lit(1L),
              size(expr("filter(split(text, '[.!?]+'), s -> trim(s) != '')"))
                .cast("long")).as("sentences"))
          .withColumn("ari",
            lit(4.71) * (col("chars") * 1.0 / col("words")) +
              lit(0.5) * (col("words") * 1.0 / col("sentences")) -
              lit(21.43))
        d.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum("chars").as("total_chars"),
               sum("sentences").as("total_sentences"),
               round(avg("ari"), 3).as("avg_ari"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source,
             |    CAST(length(regexp_replace(text, '\s', '', 'g'))
             |      AS BIGINT) AS chars,
             |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
             |      AS BIGINT) AS words,
             |    greatest(1, CAST(len(list_filter(
             |      regexp_split_to_array(text, '[.!?]+'),
             |      s -> trim(s) <> '')) AS BIGINT)) AS sentences
             |  FROM documents),
             |a AS (SELECT source, chars, words, sentences,
             |    4.71 * (chars * 1.0 / words) +
             |      0.5 * (words * 1.0 / sentences) - 21.43 AS ari
             |  FROM d)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(chars) AS BIGINT) AS total_chars,
             |  CAST(sum(sentences) AS BIGINT) AS total_sentences,
             |  round(avg(ari), 3) AS avg_ari
             |FROM a GROUP BY source ORDER BY source""".stripMargin)),

    // ---- cross-source boilerplate detection --------------------------------
    // Which 8-token spans recur across MANY sources? That's boilerplate
    // (headers, footers, licenses) — q121 finds spans duplicated across
    // documents; this asks the cross-SOURCE question that drives
    // boilerplate strip lists. Same scalable shape: positional span
    // fingerprints map-side, one groupBy on the span hash counting
    // distinct sources and occurrences; top-20 by source spread with
    // hash tie-break.
    "q156_boilerplate_spans" -> QueryDef(
      (s, dir) => {
        tableParallel(s, dir, "documents")
          .select(col("source"), tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= 8)
          .select(col("source"), col("ws"),
            explode(sequence(lit(0L), (size(col("ws")) - 8).cast("long")))
              .as("pos"))
          .select(col("source"),
            hash32(concat_ws(" ",
              slice(col("ws"), (col("pos") + 1).cast("int"), lit(8))))
              .as("fp"))
          .groupBy("fp")
          .agg(countDistinct("source").as("n_sources"),
               count(lit(1)).as("n_occurrences"))
          .filter(col("n_sources") >= 3)
          .orderBy(desc("n_sources"), desc("n_occurrences"), col("fp"))
          .limit(20)
      },
      Some(s"""WITH w AS (SELECT source, $duckToks AS ws FROM documents
              |          WHERE len($duckToks) >= 8),
              |x AS (SELECT source, ws,
              |        unnest(range(0, len(ws) - 7)) AS pos FROM w),
              |sp AS (SELECT source,
              |         CAST(('0x' || substr(md5(array_to_string(
              |           list_slice(ws, pos + 1, pos + 8), ' ')), 1, 8))
              |           AS BIGINT) AS fp
              |       FROM x),
              |agg AS (SELECT fp, count(DISTINCT source) AS n_sources,
              |          count(*) AS n_occurrences
              |        FROM sp GROUP BY fp)
              |SELECT fp, n_sources, n_occurrences
              |FROM agg WHERE n_sources >= 3
              |ORDER BY n_sources DESC, n_occurrences DESC, fp
              |LIMIT 20""".stripMargin)),

    // ---- MinHash estimator-quality audit ----------------------------------
    // The q64/q158 pattern for the SKETCH itself: on every exactly-similar
    // pair in a PUSHED validation slice (doc_id < 250; shingle Jaccard
    // ≥ 0.5 is the ground truth), compare the true Jaccard against the
    // 8-hash MinHash ESTIMATE (matching-hash fraction, the statistic LSH
    // banding thresholds are derived from). The slice predicate reaches
    // the parquet scan on BOTH legs (truth pairs and signatures), so the
    // exact self-join runs over a constant-size slice — never the full
    // corpus — and the broadcast signature tables are slice-sized, not
    // corpus-sized. Estimator drift is a per-sketch property, so a fixed
    // audit slice measures it at any corpus scale (the q64/q158 recall-
    // gate posture).
    "q159_minhash_estimate_audit" -> QueryDef(
      (s, dir) => {
        val auditSlice = 250L
        // both the exact-truth slice and the signature slice derive from
        // the LSH mirror's per-doc hashed sets (doc_id pushes into the
        // mirror parquet scan) — no raw-text re-shingling
        val sh = Materialize(hsMirror(s, dir)
          .filter(col("doc_id") < auditSlice)
          .select(col("doc_id"), explode(col("hs")).as("sh")))
        val truth = jaccardPairs(sh, 0.5)
          .select(col("doc_a"), col("doc_b"),
                  round(col("jaccard"), 4).as("j_exact"))
        val sigCols = (0 until 8).map { i =>
          array_min(transform(col("hs"),
            h => (lit(minhashA(i)) * h + lit(minhashB(i))) % lit(MinhashP)))
            .as(s"m$i")
        }
        val sigs = hsMirror(s, dir)
          .filter(col("doc_id") < auditSlice)
          .select(col("doc_id") +: sigCols: _*)
        val sa = sigs.toDF("doc_a" +: (0 until 8).map(i => s"a$i"): _*)
        val sb = sigs.toDF("doc_b" +: (0 until 8).map(i => s"b$i"): _*)
        val matches = (0 until 8)
          .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _)
        truth.join(broadcast(sa), "doc_a").join(broadcast(sb), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("j_exact"),
            matches.as("n_match"),
            round(matches / 8.0, 4).as("j_est"))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val sigList = (0 until 8).map { i =>
          s"""list_min(list_transform(hs,
             |   h -> (${minhashA(i)} * h + ${minhashB(i)}) % $MinhashP)) AS m$i""".stripMargin
        }.mkString(",\n ")
        val matchSum = (0 until 8)
          .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents
           |           WHERE doc_id < 250),
           |hss AS (SELECT * FROM (SELECT doc_id, $duckHs AS hs FROM ws)
           |        WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, $sigList FROM hss),
           |sh AS (SELECT doc_id, unnest(hs) AS sh FROM hss),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |truth AS (
           |  SELECT doc_a, doc_b,
           |    round(i * 1.0 / (sa.n + sb.n - i), 4) AS j_exact
           |  FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5)
           |SELECT t.doc_a, t.doc_b, t.j_exact,
           |  CAST($matchSum AS BIGINT) AS n_match,
           |  round(($matchSum) / 8.0, 4) AS j_est
           |FROM truth t
           |JOIN sig sa ON sa.doc_id = t.doc_a
           |JOIN sig sb ON sb.doc_id = t.doc_b
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // ---- KL divergence between source and corpus token distributions ------
    // The domain-mixing diagnostic: KL(P_source ‖ P_corpus) over token
    // unigrams — how far each source's language drifts from the mixture
    // it feeds. No smoothing needed (every source token is in the corpus
    // by construction). The log-ratio is scaled to a long per TYPE
    // (floor(ln·1e6), the q127 trick) and weighted by exact counts, so
    // the big sum is INTEGER — order-independent under any partitioning —
    // and only one final division is floating. Shapes: two token
    // aggregations + an equi-join on token, all linear.
    "q160_kl_source_divergence" -> QueryDef(
      (s, dir) => {
        val tok = Materialize(
          tableParallel(s, dir, "documents")
            .select(col("source"), explode(tokens(col("text"))).as("w")))
        val srcCnt = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
        val corpusCnt = tok.groupBy("w").agg(count(lit(1)).as("cc"))
        val totals = srcCnt.groupBy("source").agg(sum("c").as("n"))
        val nCorpus = tok.agg(count(lit(1)).as("nc"))
        srcCnt.join(corpusCnt, "w")
          .join(broadcast(totals), "source")
          .crossJoin(broadcast(nCorpus))
          .select(col("source"), col("c"),
            (col("c") * floor(log(col("c") * col("nc") * 1.0 /
              (col("n") * col("cc"))) * 1e6).cast("long")).as("term"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_types"), sum("c").as("n_tokens"),
               sum("term").as("kl_sum_scaled"))
          .select(col("source"), col("n_types"), col("n_tokens"),
            round(col("kl_sum_scaled") * 1.0 / col("n_tokens") / 1e6, 4)
              .as("kl_nats"))
          .orderBy("source")
      },
      Some(s"""WITH tok AS (SELECT source, unnest($duckToks) AS w
              |            FROM documents),
              |sc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
              |cc AS (SELECT w, count(*) AS cc FROM tok GROUP BY 1),
              |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
              |        FROM sc GROUP BY 1),
              |nc AS (SELECT count(*) AS nc FROM tok),
              |terms AS (
              |  SELECT sc.source, sc.c,
              |    sc.c * CAST(floor(ln(sc.c * nc.nc * 1.0 /
              |      (tot.n * cc.cc)) * 1e6) AS BIGINT) AS term
              |  FROM sc JOIN cc USING (w) JOIN tot USING (source), nc)
              |SELECT source, count(*) AS n_types,
              |  CAST(sum(c) AS BIGINT) AS n_tokens,
              |  round(CAST(sum(term) AS BIGINT) * 1.0
              |    / CAST(sum(c) AS BIGINT) / 1e6, 4) AS kl_nats
              |FROM terms GROUP BY source ORDER BY source""".stripMargin)),

    // ---- per-document LM perplexity buckets (the quality filter) ----------
    // q127 trains the corpus char-bigram LM per SOURCE; this scores every
    // DOCUMENT against the corpus-wide model — the classic
    // perplexity-filter shape (score each doc, bucket, keep the fluent
    // band). The model is dimension-sized (≤ alphabet², broadcast); the
    // scoring pass is one join + one aggregation. Bucket ids come from
    // INTEGER division on the scaled log-prob sum (half-nat buckets), so
    // bucket boundaries cannot float-drift between engines.
    "q161_doc_perplexity" -> QueryDef(
      (s, dir) => {
        charBigramScores(s, dir)
          .select(col("doc_id"), col("n_bigrams"),
            col("lps").as("logp_sum_scaled"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("logp_sum_scaled") * 1.0 / col("n_bigrams") / 1e6, 4)
              .as("avg_logp"),
            // floor(avg_nats * 2) in pure integer math: half-nat buckets
            expr("(-logp_sum_scaled) DIV (n_bigrams * 500000)")
              .as("ppl_bucket"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $duckCharBigramCtes
              |SELECT doc_id, n_bigrams,
              |  round(lps * 1.0 / n_bigrams / 1e6, 4) AS avg_logp,
              |  CAST((-lps) // (n_bigrams * 500000) AS BIGINT) AS ppl_bucket
              |FROM scored ORDER BY doc_id""".stripMargin)),

    // ---- dedup clustering through the O(log n) contraction path -----------
    // q48's pipeline with the star-contraction component labeler FORCED
    // (the dispatch would take the union-find fast path at this scale):
    // the 100 TB code path runs under the same DuckDB recursive-CTE
    // oracle as q48, so its correctness evidence is hash-exact on real
    // pair data, not only the property spec's random graphs. Identical
    // results to q48 by the three-way equality contract.
    "q166_dedup_clusters_contraction" -> QueryDef(
      (s, dir) => {
        // same staged edge list as q48 (three-way equality contract);
        // only the component algorithm differs
        val pairs = Materialize(
          shPairsMirror(s, dir, None, 0.8).select("doc_a", "doc_b"))
        ConnectedComponents.starContraction(pairs)
          .groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
               min("doc").cast("bigint").as("keep_doc"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE
              |ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |sh AS (SELECT doc_id, unnest(hs) AS sh
              |       FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT doc_a, doc_b FROM inter
              |  JOIN sizes sa ON sa.doc_id = doc_a
              |  JOIN sizes sb ON sb.doc_id = doc_b
              |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |          UNION ALL SELECT doc_b, doc_a FROM pairs),
              |nodes AS (SELECT DISTINCT a AS doc FROM edges),
              |reach AS (
              |  SELECT doc, doc AS r FROM nodes
              |  UNION
              |  SELECT e.b AS doc, reach.r FROM reach JOIN edges e
              |    ON e.a = reach.doc),
              |comp AS (SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc)
              |SELECT cluster_id, count(*) AS n_members,
              |  CAST(min(doc) AS BIGINT) AS keep_doc
              |FROM comp GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),

    // ---- benchmark decontamination ----------------------------------------
    // The train/eval contamination screen every LLM corpus ships through:
    // how much of each EVAL document's shingle set appears in some
    // training document? Direction matters — the denominator is the eval
    // doc's shingle count (a benchmark leaks when the TRAINING doc
    // contains it, however much other text the training doc carries).
    // Distinct from q60 by design, not accident: q60 treats a CORPUS
    // FRACTION (doc_id % 20) as the held-out set and asks "how
    // contaminated is each eval doc against the training DISTINCT-shingle
    // set" — an aggregate answer via a corpus-sided shuffle join. This is
    // the deployment-shaped screen: the eval set is a real benchmark
    // (fixed-size slice, NOT a corpus fraction), so the whole eval side
    // broadcasts, and the output attributes PAIRS — which training
    // documents contain which benchmark documents — the rows a removal
    // pass actually consumes.
    // Scale shape: the eval set is a PUSHED fixed slice (doc_id < 50 —
    // benchmark suites are small and fixed whatever the corpus), so its
    // exploded shingle table and per-doc counts are O(eval)-sized
    // broadcasts; the corpus side is ONE linear explode joined hash-side
    // against the broadcast — no self-join, no shuffle of corpus
    // shingles; the only shuffled rows are (corpus_doc, eval_doc) HIT
    // pairs, bounded by genuine overlap, aggregated twice (overlap
    // count, then per-eval rollup). Containment in integer basis points
    // (overlap·10⁴ DIV |eval shingles|), flag threshold 50% — exact
    // cross-engine arithmetic, no float ratios.
    "q182_benchmark_decontamination" -> QueryDef(
      (s, dir) => {
        // both slices derive from the LSH mirror's hashed sets; the
        // doc_id bound pushes into the mirror parquet scan
        def shingled(pred: Column) = hsMirror(s, dir).filter(pred)
          .select(col("doc_id"), explode(col("hs")).as("sh"))
        val evalSh = Materialize(shingled(col("doc_id") < 50)
          .withColumnRenamed("doc_id", "eval_id"))
        val evalN = evalSh.groupBy("eval_id")
          .agg(count(lit(1)).as("n_eval_shingles"))
        val hits = shingled(col("doc_id") >= 50)
          .join(broadcast(evalSh), "sh")
          .groupBy(col("doc_id"), col("eval_id"))
          .agg(count(lit(1)).as("overlap"))
        val scored = hits.join(broadcast(evalN), "eval_id")
          .withColumn("bp",
            expr("overlap * 10000 DIV n_eval_shingles"))
        val agg = scored.groupBy("eval_id")
          .agg(count(lit(1)).as("n_hit_docs"),
            sum(when(col("bp") >= 5000, 1L).otherwise(0L)).as("n_flagged"),
            max("bp").as("max_bp"))
        evalN.join(agg, Seq("eval_id"), "left")
          .select(col("eval_id"), col("n_eval_shingles"),
            coalesce(col("n_hit_docs"), lit(0L)).as("n_hit_docs"),
            coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
            coalesce(col("max_bp"), lit(0L)).as("max_bp"))
          .orderBy("eval_id")
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |hs AS (SELECT doc_id, $duckHs AS hs FROM ws),
              |ev AS (SELECT doc_id AS eval_id, unnest(hs) AS sh
              |       FROM hs WHERE doc_id < 50),
              |evn AS (SELECT eval_id, CAST(count(*) AS BIGINT)
              |          AS n_eval_shingles
              |        FROM ev GROUP BY 1),
              |cp AS (SELECT doc_id, unnest(hs) AS sh
              |       FROM hs WHERE doc_id >= 50),
              |hits AS (SELECT c.doc_id, e.eval_id,
              |    CAST(count(*) AS BIGINT) AS overlap
              |  FROM cp c JOIN ev e USING (sh) GROUP BY 1, 2),
              |scored AS (SELECT h.eval_id,
              |    h.overlap * 10000 // n.n_eval_shingles AS bp
              |  FROM hits h JOIN evn n USING (eval_id)),
              |agg AS (SELECT eval_id,
              |    CAST(count(*) AS BIGINT) AS n_hit_docs,
              |    CAST(sum(CASE WHEN bp >= 5000 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_flagged,
              |    CAST(max(bp) AS BIGINT) AS max_bp
              |  FROM scored GROUP BY 1)
              |SELECT n.eval_id, n.n_eval_shingles,
              |  COALESCE(a.n_hit_docs, 0) AS n_hit_docs,
              |  COALESCE(a.n_flagged, 0) AS n_flagged,
              |  COALESCE(a.max_bp, 0) AS max_bp
              |FROM evn n LEFT JOIN agg a USING (eval_id)
              |ORDER BY eval_id""".stripMargin)),

    // ---- model-based quality filtering audit ------------------------------
    // The standard pipeline stage q30's raw heuristics feed: a LINEAR
    // quality classifier (fixed integer weights over length, lexical
    // diversity, stopword density, gibberish and word-length signals)
    // scores every document, a threshold accepts/rejects, and the audit
    // reports acceptance per source plus the corpus rollup — the
    // monitoring view that catches a source whose acceptance rate drifts.
    // Integer-weight scoring is deliberate: a float sigmoid would be a
    // monotone transform of the same decision boundary but would put
    // transcendentals between the engines; with integer features and
    // weights the full decision vector (not a summary) sits under the
    // exact-hash oracle. Plan: one narrow per-doc projection (array
    // lambdas are codegen'd built-ins), one rollup aggregation — linear
    // at any corpus scale, no joins.
    "q190_quality_filter_audit" -> QueryDef(
      (s, dir) => {
        val d = qualityScored(tableParallel(s, dir, "documents"))
        d.rollup("source")
          .agg(count(lit(1)).as("n_docs"), sum("pass").as("n_pass"),
            expr("sum(pass) * 10000 DIV count(1)").as("pass_bp"),
            // sum, not mean: an integer mean would divide a possibly-
            // negative total, where Spark DIV (truncate) and DuckDB //
            // (floor) disagree — the sum is division-free and exact
            sum("score").as("sum_score"))
          .select(coalesce(col("source"), lit("ALL")).as("src"),
            col("n_docs"), col("n_pass"), col("pass_bp"), col("sum_score"))
          .orderBy("src")
      },
      Some(s"""WITH $duckQualityCtes
              |SELECT COALESCE(source, 'ALL') AS src,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(pass) AS BIGINT) AS n_pass,
              |  CAST(sum(pass) * 10000 // count(*) AS BIGINT) AS pass_bp,
              |  CAST(sum(score) AS BIGINT) AS sum_score
              |FROM qsc GROUP BY ROLLUP(source) ORDER BY src""".stripMargin)),

    // ---- curriculum staging audit -----------------------------------------
    // Curriculum construction over the q190 quality scorer: the corpus is
    // globally ordered by score (clean-first) and cut into 4 equal
    // stages with ntile — a GLOBAL sort, which is the operator's
    // semantics (a curriculum IS a total order; one range-partition
    // shuffle, the same cost class as any sorted export). The audit per
    // stage reports size, score mass, source diversity, and the largest
    // single-source share in basis points — the dominance check that
    // catches a stage degenerating into one source (the failure mode of
    // score-correlated corpora). Tie-break on doc_id makes stage
    // boundaries deterministic; all audit arithmetic is integer.
    "q195_curriculum_stages" -> QueryDef(
      (s, dir) => {
        val r = qualityScored(tableParallel(s, dir, "documents"))
          .withColumn("stage",
            ntile(4).over(Window.orderBy(col("score").desc, col("doc_id"))))
        val st = r.groupBy("stage")
          .agg(count(lit(1)).as("n_docs"), sum("score").as("sum_score"))
        val mix = r.groupBy("stage", "source")
          .agg(count(lit(1)).as("n"))
          .groupBy("stage")
          .agg(countDistinct("source").as("n_sources"), max("n").as("mx"))
        st.join(mix, "stage")
          .select(col("stage"), col("n_docs"), col("sum_score"),
            col("n_sources"),
            expr("mx * 10000 DIV n_docs").as("max_share_bp"))
          .orderBy("stage")
      },
      Some(s"""WITH $duckQualityCtes,
              |r AS (SELECT doc_id, source, score,
              |    CAST(ntile(4) OVER (ORDER BY score DESC, doc_id) AS INT)
              |      AS stage
              |  FROM qsc),
              |st AS (SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(score) AS BIGINT) AS sum_score
              |  FROM r GROUP BY 1),
              |ss AS (SELECT stage, source, CAST(count(*) AS BIGINT) AS n
              |  FROM r GROUP BY 1, 2),
              |mix AS (SELECT stage,
              |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              |    CAST(max(n) AS BIGINT) AS mx
              |  FROM ss GROUP BY 1)
              |SELECT st.stage, st.n_docs, st.sum_score, mix.n_sources,
              |  mx * 10000 // n_docs AS max_share_bp
              |FROM st JOIN mix USING (stage) ORDER BY st.stage""".stripMargin)),

    // ---- interpolated Kneser-Ney bigram LM --------------------------------
    // The smoothing upgrade over q127's add-one bigram model: interpolated
    // Kneser-Ney with absolute discount D = 0.75,
    //   P(w2|w1) = (c(w1,w2) − D)/c(w1·)
    //            + D·N₁₊(w1,·)/c(w1·) · N₁₊(·,w2)/B,
    // where the continuation counts N₁₊ are DISTINCT-context counts and B
    // is the number of distinct bigram types — the estimator that fixes
    // add-one's overestimate of unseen continuations ("francisco" frequent,
    // but only ever after "san"). All four count families come from ONE
    // bigram-type table: c(w1·) and N₁₊(w1,·) in a single left-side
    // aggregation (sum + count over the same groupBy), N₁₊(·,w2) from the
    // right side, B as a broadcast scalar. Heavy bigram keys ("of the")
    // are safe: count aggregation is map-side partial. The top-20 report
    // frame is broadcast INTO the vocab-sized count tables, so the final
    // joins move 20 rows, not the vocabulary. Probability arithmetic is
    // written as the same textual double expression on both engines
    // (exact-integer inputs, identical operation order → bit-identical
    // IEEE results), rounded to 6dp only at output.
    "q188_kneser_ney_bigram" -> QueryDef(
      (s, dir) => {
        val (bg, leftC, rightC, btot) = knCountFrames(s, dir)
        val top = bg.orderBy(col("c").desc, col("w1"), col("w2")).limit(20)
        leftC.join(broadcast(top), "w1")
          .join(rightC, "w2")
          .crossJoin(broadcast(btot))
          .withColumn("pkn", expr(s"round($pknExpr, 6)"))
          .select(col("w1"), col("w2"), col("c"), col("n1"), col("r"),
            col("l"), col("pkn"))
          .orderBy(col("c").desc, col("w1"), col("w2"))
      },
      Some(s"""WITH w AS (SELECT $duckToks AS ws FROM documents),
              |b AS (SELECT unnest(ws[1:len(ws) - 1]) AS w1,
              |    unnest(ws[2:len(ws)]) AS w2
              |  FROM w WHERE len(ws) >= 2),
              |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
              |  FROM b GROUP BY 1, 2),
              |lc AS (SELECT w1, CAST(sum(c) AS BIGINT) AS n1,
              |    CAST(count(*) AS BIGINT) AS r
              |  FROM bg GROUP BY 1),
              |rc AS (SELECT w2, CAST(count(*) AS BIGINT) AS l
              |  FROM bg GROUP BY 1),
              |bt AS (SELECT CAST(count(*) AS BIGINT) AS btot FROM bg),
              |top AS (SELECT * FROM bg ORDER BY c DESC, w1, w2 LIMIT 20)
              |SELECT t.w1, t.w2, t.c, lc.n1, lc.r, rc.l,
              |  round((CAST(t.c AS DOUBLE) - 0.75) / n1
              |    + 0.75 * r / n1 * (l / btot), 6) AS pkn
              |FROM top t JOIN lc ON t.w1 = lc.w1
              |JOIN rc ON t.w2 = rc.w2 CROSS JOIN bt
              |ORDER BY t.c DESC, t.w1, t.w2""".stripMargin)),

    // ---- distributed BPE merge learning -----------------------------------
    // Trains the first R = 4 byte-pair-encoding merges on the corpus — the
    // tokenizer-construction step a training pipeline runs BEFORE q34/q107
    // can count or encode with a merge table. Classic BPE trains on the
    // word-frequency dictionary, not the raw stream: ONE corpus pass
    // builds (word, freq) for clean [a-z]{2,12} words, then each round is
    //   (1) adjacent-symbol pair counts weighted by freq (groupBy + sum,
    //       map-side partial, heavy pairs like (t,h) safe),
    //   (2) deterministic argmax — a distributed top-1 (orderBy.limit(1)),
    //       ties broken (count desc, lhs, rhs); O(1) rows to the driver,
    //   (3) merge application — a narrow literal replace() on every sym.
    // Every symbol is wrapped in parens — "(t)(h)(e)(</w>)" — so the
    // global leftmost replace of "(l)(r)" → "(l~r)" is exactly BPE's
    // simultaneous left-to-right merge pass AND can only ever bind two
    // complete adjacent symbols: '(' / ')' occur nowhere inside a
    // symbol, so no separator is shared between adjacent occurrences
    // ("(x)(x)(x)(x)" merges to "(x~x)(x~x)") and no pattern can match
    // a longer symbol's interior (see bpeTrain's scaladoc for the
    // boundary bug an undelimited encoding admits — one the oracle, which
    // replays the same replace(), could never catch; TokenizerLmSpec pins
    // it on an adversarial fixture). The vocab frame is dictionary-sized
    // (≤ |distinct clean words|, millions at 100 TB — distributed, but
    // 10⁶× smaller than the corpus), each round is one linear pass over
    // it, and the driver holds only the R winning pairs. The oracle
    // unrolls all four rounds as CTE generations over the identical
    // replace() semantics.
    "q189_bpe_merge_learning" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        bpeTrain(s, dir, rounds = 4, withStats = false)._1
          .toDF("merge_round", "lhs", "rhs", "merged", "pair_count")
          .orderBy("merge_round")
      },
      Some(bpeOracleSql)),

    // ---- BPE compression audit (q189's merges, applied and measured) ------
    // The acceptance test for a trained merge table: per generation, the
    // corpus-weighted symbols-per-word (milli-units) — the number the
    // tokenizer team watches as merges accumulate (monotonically non-
    // increasing: a merge can only shorten encodings, pinned in
    // TokenizerLmSpec). Same trainer loop as q189 plus ONE extra 1-row
    // aggregation per generation over the dictionary-sized vocab; the
    // oracle replays all four generations (v0..v4) and measures the same
    // sums, so the audit itself — not just the merges — is hash-gated.
    "q192_bpe_compression_audit" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        bpeTrain(s, dir, rounds = 4, withStats = true)._2
          .toDF("generation", "merged", "total_syms", "spw_milli")
          .orderBy("generation")
      },
      Some(bpeStatsOracleSql)),

    // ---- Kneser-Ney surprisal scoring (q188's model, applied per doc) -----
    // Perplexity filtering with a properly smoothed LM — the upgrade of
    // q161's unsmoothed char-bigram scorer: every document's word
    // bigrams are scored under the q188 interpolated-KN model and the
    // 20 most surprising documents surface (high average negative
    // log-prob = noise/outlier candidates, the standard LM-based quality
    // signal). Plan: the corpus bigram stream equi-joins the vocab-sized
    // count tables (map-side partial aggregation upstream keeps "of
    // the"-scale keys safe; AQE handles residual join skew), B rides a
    // scalar broadcast; per-doc aggregation then ONE bounded top-k. The
    // log is floor-scaled to integer micro-nats on both engines (the
    // q160/q161 ln-parity pattern), so ordering and bucketing cannot
    // float-drift; ranking ties break on doc_id.
    "q193_kn_surprisal_outliers" -> QueryDef(
      (s, dir) => {
        val (bg, leftC, rightC, btot) = knCountFrames(s, dir)
        val docBg = tableParallel(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(ws) - 1),
              | i -> struct(element_at(ws, i) AS w1,
              |             element_at(ws, i + 1) AS w2))""".stripMargin))
            .as("b"))
          .select(col("doc_id"), col("b.w1"), col("b.w2"))
        docBg.join(bg, Seq("w1", "w2"))
          .join(leftC, "w1")
          .join(rightC, "w2")
          .crossJoin(broadcast(btot))
          .withColumn("lp",
            expr(s"CAST(floor(ln($pknExpr) * 1e6) AS BIGINT)"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("lps"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("lps") * 1.0 / col("n_bigrams") / 1e6, 4)
              .as("avg_logp"),
            expr("(-lps) DIV (n_bigrams * 1000)").as("surprisal_m"))
          .orderBy(col("surprisal_m").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |b AS (SELECT doc_id, unnest(ws[1:len(ws) - 1]) AS w1,
              |    unnest(ws[2:len(ws)]) AS w2
              |  FROM w WHERE len(ws) >= 2),
              |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
              |  FROM b GROUP BY 1, 2),
              |lc AS (SELECT w1, CAST(sum(c) AS BIGINT) AS n1,
              |    CAST(count(*) AS BIGINT) AS r
              |  FROM bg GROUP BY 1),
              |rc AS (SELECT w2, CAST(count(*) AS BIGINT) AS l
              |  FROM bg GROUP BY 1),
              |bt AS (SELECT CAST(count(*) AS BIGINT) AS btot FROM bg),
              |scored AS (SELECT doc_id,
              |    CAST(floor(ln((CAST(c AS DOUBLE) - 0.75) / n1
              |      + 0.75 * r / n1 * (l / btot)) * 1e6) AS BIGINT) AS lp
              |  FROM b JOIN bg USING (w1, w2) JOIN lc USING (w1)
              |    JOIN rc USING (w2) CROSS JOIN bt),
              |agg AS (SELECT doc_id,
              |    CAST(count(*) AS BIGINT) AS n_bigrams,
              |    CAST(sum(lp) AS BIGINT) AS lps
              |  FROM scored GROUP BY 1)
              |SELECT doc_id, n_bigrams,
              |  round(lps * 1.0 / n_bigrams / 1e6, 4) AS avg_logp,
              |  CAST((-lps) // (n_bigrams * 1000) AS BIGINT) AS surprisal_m
              |FROM agg
              |ORDER BY surprisal_m DESC, doc_id LIMIT 20""".stripMargin)),

    // ---- DSIR importance weighting ----------------------------------------
    // Data selection by importance resampling (hashed n-gram features):
    // every token hashes into one of 64 buckets, the 64-row table of
    // smoothed target-vs-raw log-ratios is broadcast back, and each
    // document's importance is the exact integer micro-nat sum of its
    // tokens' ratios — the standard cheap proxy for "does this document
    // look like the target domain" used to pre-filter web-scale corpora.
    // Scale shape: ONE linear token pass builds the (fixed 64-row) model,
    // one more scores the corpus through a broadcast join — no shuffle
    // wider than the per-document aggregation, model state O(1) in the
    // corpus. Output is per-source audit rows: exact BIGINT weight sums
    // plus the target-like share, so the oracle hash-checks the full
    // decision vector. The stateless streaming twin
    // (`dsirScreenStream`) scores arriving documents against the same
    // table via a map-literal lookup — parity gate twenty.
    "q199_dsir_importance" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
        val lr = dsirBucketTable(docs)
        dsirDocScores(docs, lr)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_toks").as("n_toks"),
            sum("w_sum").as("sum_lr"),
            sum(when(col("w_sum") > 0, 1L).otherwise(0L))
              .as("n_target_like"))
          .withColumn("target_bp",
            expr("n_target_like * 10000 DIV n_docs"))
          .withColumn("avg_lr",
            round(col("sum_lr") * 1.0 / col("n_toks") / 1e6, 4))
          .orderBy("source")
      },
      Some(s"""WITH $duckDsirCtes
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_toks) AS BIGINT) AS n_toks,
              |  CAST(sum(w_sum) AS BIGINT) AS sum_lr,
              |  CAST(sum(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_target_like,
              |  CAST(sum(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END) * 10000
              |    // count(*) AS BIGINT) AS target_bp,
              |  round(sum(w_sum) * 1.0 / sum(n_toks) / 1e6, 4) AS avg_lr
              |FROM dscored GROUP BY source ORDER BY source""".stripMargin)),

    // ---- MinHash banding design audit (the S-curve) -----------------------
    // Before committing 100 TB to one (bands, rows-per-band) choice, the
    // index designer wants the detection probability 1-(1-j^r)^b
    // evaluated against the corpus's OWN pair-similarity distribution —
    // not the textbook curve. This audit takes every shingle-sharing pair
    // in a pushed bounded slice (the q159 pattern: the predicate reaches
    // the scan, so the self-join is constant-size at any corpus scale),
    // computes its exact Jaccard in integer micro-units, and pushes it
    // through the S-curve for four 16-signature layouts. All powers are
    // fixed-point repeated squaring with DIV 1e6 after every multiply —
    // deterministic integer arithmetic, bit-identical in DuckDB, no
    // float pow anywhere. Output: per layout, the expected detection
    // mass plus caught/false-alarm counts against the j >= 0.5 design
    // target — on this corpus the r=1 layout's false-alarm flood and the
    // r=8 layout's missed-detection risk are both visible in the counts.
    "q200_lsh_scurve_design" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val slice = 200L
        val sh = Materialize(hsMirror(s, dir)
          .filter(col("doc_id") < slice)
          .select(col("doc_id"), explode(col("hs")).as("sh")))
        val pairs = jaccardPairs(sh, 0.0)
          .select(col("doc_a"), col("doc_b"),
            expr("i * 1000000 DIV (na + nb - i)").as("j_u"))
        val grid = Seq((2L, 8L), (4L, 4L), (8L, 2L), (16L, 1L))
          .toDF("bands", "rpb")
        pairs.crossJoin(broadcast(grid))
          .withColumn("jr", expr(microPow("j_u", "rpb", "DIV")))
          .withColumn("qq", expr("1000000 - jr"))
          .withColumn("pd",
            expr(s"1000000 - ${microPow("qq", "bands", "DIV")}"))
          .groupBy("bands", "rpb")
          .agg(count(lit(1)).as("n_pairs"),
            expr("sum(pd) DIV (count(1) * 1000)").as("avg_p_m"),
            sum(when(col("j_u") >= 500000, 1L).otherwise(0L)).as("n_true"),
            sum(when(col("j_u") >= 500000 && col("pd") >= 500000, 1L)
              .otherwise(0L)).as("n_caught"),
            sum(when(col("j_u") < 500000 && col("pd") >= 500000, 1L)
              .otherwise(0L)).as("n_false_pos"))
          .orderBy("bands")
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents
              |           WHERE doc_id < 200),
              |hss AS (SELECT * FROM (SELECT doc_id, $duckHs AS hs FROM ws)
              |        WHERE len(hs) > 0),
              |sh AS (SELECT doc_id, unnest(hs) AS sh FROM hss),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh
              |          GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (SELECT doc_a, doc_b,
              |    CAST(i * 1000000 // (sa.n + sb.n - i) AS BIGINT) AS j_u
              |  FROM inter
              |  JOIN sizes sa ON sa.doc_id = doc_a
              |  JOIN sizes sb ON sb.doc_id = doc_b),
              |grid AS (SELECT CAST(c0 AS BIGINT) AS bands,
              |    CAST(c1 AS BIGINT) AS rpb
              |  FROM (VALUES (2, 8), (4, 4), (8, 2), (16, 1)) v(c0, c1)),
              |e1 AS (SELECT bands, rpb, j_u,
              |    ${microPow("j_u", "rpb", "//")} AS jr
              |  FROM pairs, grid),
              |e2 AS (SELECT bands, rpb, j_u, 1000000 - jr AS qq FROM e1),
              |e3 AS (SELECT bands, rpb, j_u,
              |    1000000 - ${microPow("qq", "bands", "//")} AS pd
              |  FROM e2)
              |SELECT bands, rpb, CAST(count(*) AS BIGINT) AS n_pairs,
              |  CAST(sum(pd) // (count(*) * 1000) AS BIGINT) AS avg_p_m,
              |  CAST(sum(CASE WHEN j_u >= 500000 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_true,
              |  CAST(sum(CASE WHEN j_u >= 500000 AND pd >= 500000
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
              |  CAST(sum(CASE WHEN j_u < 500000 AND pd >= 500000
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
              |FROM e3 GROUP BY 1, 2 ORDER BY bands""".stripMargin)),

    // ---- corpus datacard --------------------------------------------------
    // The datasheet a training run ships with: one audited row per
    // source — volume (docs, tokens, mean length), quality acceptance
    // (the q190 scorer, shared fragment), exact-duplicate exposure
    // (corpus-wide md5 groups, the q40 rule), and language composition
    // (count, dominant language, dominance share). A composition, not a
    // new algorithm: its value is that every number comes from the SAME
    // shared fragments the dedicated operators use, so the card cannot
    // drift from the operators it summarizes. Scale shape: the per-doc
    // feature frame is built once (two scans: the scorer pass and the
    // lang/md5 projection, joined on doc_id) and cached; everything
    // after is one window on the text-hash (equi-shuffle, exact-dedup's
    // own shape) and source-keyed aggregations. Output rows = #sources.
    "q203_corpus_datacard" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
        val f = Materialize(
          qualityScored(docs)
            .select(col("doc_id"), col("source"), col("toks"), col("pass"))
            .join(docs.select(col("doc_id"), col("lang"),
              md5(col("text")).as("h")), "doc_id"))
        val dupw = Window.partitionBy("h")
        val perSource = f
          .withColumn("dup",
            when(count(lit(1)).over(dupw) > 1, 1L).otherwise(0L))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
            sum("pass").as("n_pass"), sum("dup").as("n_dup"))
        val langCounts = f.groupBy("source", "lang")
          .agg(count(lit(1)).as("c"))
        val wl = Window.partitionBy("source").orderBy(desc("c"), asc("lang"))
        val langStats = langCounts
          .withColumn("rn", row_number().over(wl))
          .groupBy("source")
          .agg(count(lit(1)).as("n_langs"),
            max(when(col("rn") === 1, col("lang"))).as("top_lang"),
            max(when(col("rn") === 1, col("c"))).as("top_lang_c"))
        perSource.join(langStats, "source")
          .select(col("source"), col("n_docs"), col("n_tokens"),
            expr("n_tokens DIV n_docs").as("mean_toks"),
            expr("n_pass * 10000 DIV n_docs").as("pass_bp"),
            expr("n_dup * 10000 DIV n_docs").as("dup_bp"),
            col("n_langs"), col("top_lang"),
            expr("top_lang_c * 10000 DIV n_docs").as("top_lang_bp"))
          .orderBy("source")
      },
      Some(s"""WITH $duckQualityCtes,
              |fd AS (SELECT q.doc_id, q.source, qf.toks, q.pass,
              |    d.lang, md5(d.text) AS h
              |  FROM qsc q
              |  JOIN qf ON qf.doc_id = q.doc_id
              |  JOIN documents d ON d.doc_id = q.doc_id),
              |dd AS (SELECT *, CASE WHEN cnt > 1 THEN 1 ELSE 0 END AS dup
              |  FROM (SELECT fd.*, count(*) OVER (PARTITION BY h) AS cnt
              |        FROM fd)),
              |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(toks) AS BIGINT) AS n_tokens,
              |    CAST(sum(pass) AS BIGINT) AS n_pass,
              |    CAST(sum(dup) AS BIGINT) AS n_dup
              |  FROM dd GROUP BY 1),
              |lc AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
              |  FROM fd GROUP BY 1, 2),
              |ls AS (SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
              |    max(CASE WHEN rn = 1 THEN lang END) AS top_lang,
              |    max(CASE WHEN rn = 1 THEN c END) AS top_lang_c
              |  FROM (SELECT *, row_number() OVER (PARTITION BY source
              |      ORDER BY c DESC, lang) AS rn FROM lc)
              |  GROUP BY 1)
              |SELECT ps.source, n_docs, n_tokens,
              |  CAST(n_tokens // n_docs AS BIGINT) AS mean_toks,
              |  CAST(n_pass * 10000 // n_docs AS BIGINT) AS pass_bp,
              |  CAST(n_dup * 10000 // n_docs AS BIGINT) AS dup_bp,
              |  n_langs, top_lang,
              |  CAST(top_lang_c * 10000 // n_docs AS BIGINT)
              |    AS top_lang_bp
              |FROM ps JOIN ls ON ls.source = ps.source
              |ORDER BY ps.source""".stripMargin)),

    // ---- KMV sketch distinct-overlap audit --------------------------------
    // Pairwise distinct-vocabulary overlap between sources via K-minimum-
    // values (theta) sketches — the mergeable-sketch answer to a question
    // HLL cannot compose (HLL unions; it cannot intersect). Per source,
    // the sketch is the K smallest distinct token hashes (bounded state K
    // whatever the vocabulary); union sketches combine two sources'
    // hashes and re-take K; intersections come from inclusion-exclusion
    // on the three estimates. The estimator (k_eff−1)·2³² DIV h_k is pure
    // integer arithmetic, so every estimate replays exactly in DuckDB —
    // and because the fixture vocabulary is small enough to count
    // exactly, the audit reports the TRUE pairwise overlap next to the
    // estimate (the q159 estimate-vs-exact pattern). Scale shape: one
    // linear token pass to distinct (source, hash); everything after
    // runs on sources·K rows. The exact-overlap column joins on the
    // token hash — vocabulary-sized, which is what makes the exact
    // column affordable HERE and the sketch necessary at 100 TB.
    "q204_kmv_overlap_audit" -> QueryDef(
      (s, dir) => {
        val K = 16
        val M = 4294967296L // 2^32: the hash32 value space
        val tok = Materialize(tableParallel(s, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("w"))
          .select(col("source"),
            hash32(concat(lit("kmv_"), col("w"))).as("h"))
          .distinct())
        val wk = Window.partitionBy("source").orderBy("h")
        val sk = Materialize(tok
          .withColumn("rn", row_number().over(wk))
          .filter(col("rn") <= K))
        def estOf(df: DataFrame, keys: Seq[String]) = df
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("k_eff"), max("h").as("hk"))
          .withColumn("est",
            expr(s"(k_eff - 1) * $M DIV GREATEST(hk, 1)"))
        val estS = estOf(sk, Seq("source"))
        val pairs = broadcast(estS
          .select(col("source").as("src_a"), col("est").as("est_a"))
          // broadcast the inner side explicitly: a bare crossJoin of two
          // un-hinted aggregates plans a CartesianProduct (catalog-banned)
          .crossJoin(broadcast(estS.select(col("source").as("src_b"),
            col("est").as("est_b"))))
          .filter(col("src_a") < col("src_b")))
        val uniH = pairs.select("src_a", "src_b")
          .join(broadcast(sk.withColumnRenamed("source", "sm")),
            col("sm") === col("src_a") || col("sm") === col("src_b"))
          .select("src_a", "src_b", "h").distinct()
        val wu = Window.partitionBy("src_a", "src_b").orderBy("h")
        val estU = estOf(
          uniH.withColumn("rn", row_number().over(wu))
            .filter(col("rn") <= K), Seq("src_a", "src_b"))
          .select(col("src_a"), col("src_b"), col("est").as("est_union"))
        val exact = tok.select(col("source").as("src_a"), col("h"))
          .join(tok.select(col("source").as("src_b"), col("h")), Seq("h"))
          .filter(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).as("exact_inter"))
        pairs.join(estU, Seq("src_a", "src_b"))
          .join(exact, Seq("src_a", "src_b"))
          .withColumn("est_inter",
            expr("GREATEST(est_a + est_b - est_union, 0)"))
          .withColumn("err_bp", expr(
            """abs(est_inter - exact_inter) * 10000
              | DIV GREATEST(exact_inter, 1)""".stripMargin))
          .select("src_a", "src_b", "est_a", "est_b", "est_union",
            "est_inter", "exact_inter", "err_bp")
          .orderBy("src_a", "src_b")
      },
      Some("""WITH tok AS (SELECT DISTINCT source,
             |    CAST(('0x' || substr(md5('kmv_' || w), 1, 8)) AS BIGINT)
             |      AS h
             |  FROM (SELECT source,
             |      unnest(regexp_split_to_array(lower(trim(text)),
             |        '\s+')) AS w
             |    FROM documents)),
             |sk AS (SELECT source, h FROM (
             |    SELECT source, h, row_number() OVER (
             |      PARTITION BY source ORDER BY h) AS rn FROM tok)
             |  WHERE rn <= 16),
             |es AS (SELECT source, count(*) AS k_eff, max(h) AS hk,
             |    CAST((count(*) - 1) * 4294967296 // GREATEST(max(h), 1)
             |      AS BIGINT) AS est
             |  FROM sk GROUP BY 1),
             |pr AS (SELECT a.source AS src_a, b.source AS src_b,
             |    a.est AS est_a, b.est AS est_b
             |  FROM es a JOIN es b ON a.source < b.source),
             |uh AS (SELECT DISTINCT src_a, src_b, h
             |  FROM pr JOIN sk ON sk.source = src_a OR sk.source = src_b),
             |uk AS (SELECT src_a, src_b, h FROM (
             |    SELECT src_a, src_b, h, row_number() OVER (
             |      PARTITION BY src_a, src_b ORDER BY h) AS rn FROM uh)
             |  WHERE rn <= 16),
             |eu AS (SELECT src_a, src_b,
             |    CAST((count(*) - 1) * 4294967296 // GREATEST(max(h), 1)
             |      AS BIGINT) AS est_union
             |  FROM uk GROUP BY 1, 2),
             |ex AS (SELECT a.source AS src_a, b.source AS src_b,
             |    CAST(count(*) AS BIGINT) AS exact_inter
             |  FROM tok a JOIN tok b ON a.h = b.h AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT pr.src_a, pr.src_b, est_a, est_b, est_union,
             |  CAST(GREATEST(est_a + est_b - est_union, 0) AS BIGINT)
             |    AS est_inter,
             |  exact_inter,
             |  CAST(abs(GREATEST(est_a + est_b - est_union, 0)
             |    - exact_inter) * 10000 // GREATEST(exact_inter, 1)
             |    AS BIGINT) AS err_bp
             |FROM pr
             |JOIN eu ON eu.src_a = pr.src_a AND eu.src_b = pr.src_b
             |JOIN ex ON ex.src_a = pr.src_a AND ex.src_b = pr.src_b
             |ORDER BY pr.src_a, pr.src_b""".stripMargin)),

    // ---- decoding-loop artifact audit -------------------------------------
    // Synthetic / model-generated text screening: degenerate decoding
    // shows up as runs of one repeated token ("the the the") and
    // period-2 cycles ("yes no yes no") — both detectable with pure
    // window arithmetic, no pattern library. Runs come from the
    // classic gaps-and-islands trick (boundary flag where w ≠ lag(w),
    // prefix-sum run ids, run length = group count); cycles are the same
    // trick over lag(w, 2), where a group of size c spans c+1 tokens of
    // alternation. Scale shape: one narrow posexplode, windows
    // partitioned per document (the loader's natural unit — no global
    // sort), three source-keyed aggregations. Thresholds (run ≥ 3,
    // cycle span ≥ 4) flag real repetition on this corpus while the
    // exact counts land under the oracle hash.
    "q205_loop_artifact_audit" -> QueryDef(
      (s, dir) => {
        val t = tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            posexplode(tokens(col("text"))))
          .withColumnRenamed("col", "w")
        val wd = Window.partitionBy("doc_id").orderBy("pos")
        val l = t
          .withColumn("nr",
            when(col("w") === lag("w", 1).over(wd), 0L).otherwise(1L))
          .withColumn("nr2",
            when(col("w") === lag("w", 2).over(wd), 0L).otherwise(1L))
          .withColumn("rid", sum("nr").over(wd))
          .withColumn("rid2", sum("nr2").over(wd))
        val runs = l.groupBy("doc_id", "source", "rid")
          .agg(count(lit(1)).as("len"))
          .groupBy("doc_id", "source")
          .agg(max("len").as("max_run"))
        val cycs = l.groupBy("doc_id", "rid2")
          .agg((count(lit(1)) + 1).as("span"))
          .groupBy("doc_id")
          .agg(max("span").as("max_cyc"))
        runs.join(cycs, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            max("max_run").as("max_run"),
            sum(when(col("max_run") >= 3, 1L).otherwise(0L))
              .as("n_run_flagged"),
            max("max_cyc").as("max_cyc"),
            sum(when(col("max_cyc") >= 4, 1L).otherwise(0L))
              .as("n_cyc_flagged"))
          .withColumn("run_bp", expr("n_run_flagged * 10000 DIV n_docs"))
          .withColumn("cyc_bp", expr("n_cyc_flagged * 10000 DIV n_docs"))
          .orderBy("source")
      },
      Some("""WITH t AS (SELECT doc_id, source,
             |    unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
             |      AS w,
             |    generate_subscripts(regexp_split_to_array(
             |      lower(trim(text)), '\s+'), 1) AS pos
             |  FROM documents),
             |l AS (SELECT doc_id, source, pos,
             |    CASE WHEN w = lag(w, 1) OVER (PARTITION BY doc_id
             |      ORDER BY pos) THEN 0 ELSE 1 END AS nr,
             |    CASE WHEN w = lag(w, 2) OVER (PARTITION BY doc_id
             |      ORDER BY pos) THEN 0 ELSE 1 END AS nr2
             |  FROM t),
             |r AS (SELECT doc_id, source,
             |    sum(nr) OVER (PARTITION BY doc_id ORDER BY pos) AS rid,
             |    sum(nr2) OVER (PARTITION BY doc_id ORDER BY pos) AS rid2,
             |    pos
             |  FROM l),
             |runs AS (SELECT doc_id, source, max(len) AS max_run FROM (
             |    SELECT doc_id, source, rid, count(*) AS len
             |    FROM r GROUP BY 1, 2, 3) GROUP BY 1, 2),
             |cycs AS (SELECT doc_id, max(span) AS max_cyc FROM (
             |    SELECT doc_id, rid2, count(*) + 1 AS span
             |    FROM r GROUP BY 1, 2) GROUP BY 1)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(max(max_run) AS BIGINT) AS max_run,
             |  CAST(sum(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_run_flagged,
             |  CAST(max(max_cyc) AS BIGINT) AS max_cyc,
             |  CAST(sum(CASE WHEN max_cyc >= 4 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_cyc_flagged,
             |  CAST(sum(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END) * 10000
             |    // count(*) AS BIGINT) AS run_bp,
             |  CAST(sum(CASE WHEN max_cyc >= 4 THEN 1 ELSE 0 END) * 10000
             |    // count(*) AS BIGINT) AS cyc_bp
             |FROM runs JOIN cycs USING (doc_id)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- CCNet-style perplexity buckets -----------------------------------
    // The CCNet pipeline step: per source, rank documents by language-
    // model surprisal and cut into head / middle / tail terciles (head =
    // most fluent; training recipes keep head+middle and drop or
    // down-weight tail). The LM is the q161 shared char-bigram scorer;
    // the per-doc metric is integer micro-nats per bigram with a doc_id
    // tie-break, so the ntile cut points are a total order both engines
    // agree on exactly. Scale shape: model build + scoring off one
    // materialized bigram explode (dimension-sized model broadcast), one
    // per-source window for the tercile assignment, output 3 rows per
    // source.
    "q206_perplexity_buckets" -> QueryDef(
      (s, dir) => {
        val sc = charBigramScores(s, dir)
          .join(tableParallel(s, dir, "documents")
            .select(col("doc_id"), col("source")), "doc_id")
          .withColumn("s_m", expr("(-lps) DIV n_bigrams"))
        val wt = Window.partitionBy("source")
          .orderBy(col("s_m"), col("doc_id"))
        sc.withColumn("bucket", ntile(3).over(wt))
          .groupBy("source", "bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_bigrams").as("n_bigrams"),
            min("s_m").as("min_s"), max("s_m").as("max_s"))
          .orderBy("source", "bucket")
      },
      Some(s"""WITH $duckCharBigramCtes,
              |sc AS (SELECT s.doc_id, d.source, s.n_bigrams,
              |    CAST((-lps) // n_bigrams AS BIGINT) AS s_m
              |  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
              |b AS (SELECT *, ntile(3) OVER (PARTITION BY source
              |    ORDER BY s_m, doc_id) AS bucket FROM sc)
              |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
              |  CAST(min(s_m) AS BIGINT) AS min_s,
              |  CAST(max(s_m) AS BIGINT) AS max_s
              |FROM b GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin)),

    // ---- multiplicative-weights mixture reweighting -----------------------
    // Group-DRO/DoReMi-flavored source reweighting: per-source mean
    // surprisal under the corpus's own char-bigram LM (micro-nats per
    // bigram, exact integer DIV) is the "loss", and four rounds of
    // multiplicative weights UP-weight sources whose loss exceeds the
    // CURRENT mixture's weighted average — genuinely iterative, because
    // the weighted average moves as the weights move. All arithmetic is
    // integer fixed-point: the update factor is 1e6 ± (excess DIV 10)
    // ppm clamped to [0.5×, 2×] (the sign split keeps every division's
    // numerator non-negative — Spark's DIV truncates toward zero while
    // DuckDB's // floors, and they only agree on non-negative operands),
    // and weights renormalize to a 1e9 pool each round so truncation
    // never compounds. Scale: ONE corpus pass builds the per-source
    // loss; every round is two scalar aggregates and a broadcast over
    // the S-row weight frame — state O(sources) whatever the corpus.
    // The oracle unrolls all four rounds as CTEs.
    "q208_mixture_reweight" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents").select("doc_id", "source")
        // each round reads its predecessor three times (weighted average,
        // update, renormalization), so the per-round frame must not just
        // be cached but have its LINEAGE CUT: a plain persist leaves the
        // analyzed logical plan holding O(3^T) copies of the corpus
        // subtree and driver-side Catalyst analysis dominates wall-clock.
        // Materialize.checkpointed truncates the plan at the S-row
        // boundary, keeping every round's plan constant-depth and the
        // corpus scanned exactly once.
        val loss = Materialize(charBigramScores(s, dir)
          .join(docs, "doc_id")
          .groupBy("source")
          .agg((-sum("lps")).as("nlps"), sum("n_bigrams").as("nb"))
          .withColumn("loss_m", expr("nlps DIV nb"))
          .select("source", "loss_m"))
        val w0 = loss.withColumn("w", lit(1000000000L))
        val wT = (1 to 4).foldLeft(w0) { (cur, _) =>
          val stats = cur.agg(expr("sum(w * loss_m) DIV sum(w)").as("wavg"))
          val upd = cur.crossJoin(broadcast(stats))
            .withColumn("factor", expr(
              """least(greatest(1000000 + CASE WHEN loss_m >= wavg
                |  THEN (loss_m - wavg) DIV 10
                |  ELSE -((wavg - loss_m) DIV 10) END,
                | CAST(500000 AS BIGINT)), CAST(2000000 AS BIGINT))"""
                .stripMargin))
            .withColumn("w", expr("w * factor DIV 1000000"))
          val z = upd.agg(sum("w").as("z"))
          Materialize.checkpointed(upd.crossJoin(broadcast(z))
            .withColumn("w", expr("w * 1000000000 DIV z"))
            .select("source", "loss_m", "w"))
        }
        val zf = wT.agg(sum("w").as("z"), count(lit(1)).as("n_src"))
        wT.crossJoin(broadcast(zf))
          .withColumn("w_ppm", expr("w * 1000000 DIV z"))
          .withColumn("delta_ppm", expr("w_ppm - 1000000 DIV n_src"))
          .select("source", "loss_m", "w_ppm", "delta_ppm")
          .orderBy("source")
      },
      Some {
        // one CTE pair per round: the update against the current weighted
        // average, then the 1e9-pool renormalization
        val rounds = (0 until 4).map { i =>
          s"""a$i AS (SELECT CAST(sum(w * loss_m) // sum(w) AS BIGINT)
             |         AS wavg FROM w$i),
             |u$i AS (SELECT source, loss_m,
             |        w * least(greatest(1000000 + CASE WHEN loss_m >= wavg
             |            THEN (loss_m - wavg) // 10
             |            ELSE -((wavg - loss_m) // 10) END,
             |          500000), 2000000) // 1000000 AS w
             |      FROM w$i CROSS JOIN a$i),
             |z$i AS (SELECT CAST(sum(w) AS BIGINT) AS z FROM u$i),
             |w${i + 1} AS (SELECT source, loss_m,
             |        CAST(w * 1000000000 // z AS BIGINT) AS w
             |      FROM u$i CROSS JOIN z$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH $duckCharBigramCtes,
           |dl AS (SELECT d.source, s.lps, s.n_bigrams
           |       FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
           |l AS (SELECT source,
           |        CAST((-sum(lps)) // sum(n_bigrams) AS BIGINT) AS loss_m
           |      FROM dl GROUP BY 1),
           |w0 AS (SELECT source, loss_m,
           |         CAST(1000000000 AS BIGINT) AS w FROM l),
           |$rounds,
           |zf AS (SELECT CAST(sum(w) AS BIGINT) AS z,
           |         CAST(count(*) AS BIGINT) AS n_src FROM w4)
           |SELECT source, loss_m,
           |  CAST(w * 1000000 // z AS BIGINT) AS w_ppm,
           |  CAST(w * 1000000 // z - 1000000 // n_src AS BIGINT)
           |    AS delta_ppm
           |FROM w4 CROSS JOIN zf ORDER BY source""".stripMargin
      }),

    // ---- quality-filter calibration audit (ECE) ---------------------------
    // Is the q190 classifier's score CALIBRATED — does a document scored
    // near the top of the range actually get kept by an independent
    // reference rule more often than one scored near the threshold? The
    // reliability-diagram audit every learned quality filter ships with:
    // scores clamp to a 0–10000 bp confidence, bin into 10 fixed bins,
    // and each bin compares mean confidence against the empirical
    // keep-rate under a deliberately DIFFERENT reference heuristic
    // (char-level: alphabetic-character density ≥ 70% and ≥ 200 chars —
    // the token-level scorer never sees characters). Expected
    // calibration error is the n-weighted mean absolute gap. Everything
    // is exact integers (bp confidences, bp rates, DIV), so the oracle
    // replays ECE bit-for-bit; the corpus is touched twice (scorer +
    // reference rule), both narrow projections, and the audit output is
    // 10 bounded rows.
    "q209_calibration_audit" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
        val scored = qualityScored(docs).select("doc_id", "score")
        val gold = docs
          .select(col("doc_id"), lower(trim(col("text"))).as("lt"))
          .filter(length(col("lt")) > 0)
          .withColumn("gold", when(
            expr("length(regexp_replace(lt, '[^a-z]', '')) * 10000" +
              " DIV length(lt)") >= 7000L && length(col("lt")) >= 200,
            1L).otherwise(0L))
          .select("doc_id", "gold")
        // the 10-row reliability frame feeds both the ECE scalar and the
        // output; uncached that re-runs the scorer + reference-rule scans
        // per consumer (4 corpus scans instead of 2)
        val perBin = graft.operators.Materialize(scored.join(gold, "doc_id")
          .withColumn("conf_bp", expr(
            """least(greatest(score, CAST(0 AS BIGINT)),
              | CAST(4000 AS BIGINT)) * 10000 DIV 4000""".stripMargin))
          .withColumn("bin", expr(
            "least(conf_bp DIV 1000, CAST(9 AS BIGINT))"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            expr("sum(conf_bp) DIV count(1)").as("avg_conf_bp"),
            expr("sum(gold) * 10000 DIV count(1)").as("gold_bp"))
          .withColumn("gap_bp", abs(col("avg_conf_bp") - col("gold_bp"))))
        val ece = perBin.agg(
          expr("sum(n * gap_bp) DIV sum(n)").as("ece_bp"))
        perBin.crossJoin(broadcast(ece))
          .select("bin", "n", "avg_conf_bp", "gold_bp", "gap_bp", "ece_bp")
          .orderBy("bin")
      },
      Some(s"""WITH $duckQualityCtes,
              |g AS (SELECT doc_id, lower(trim(text)) AS lt
              |      FROM documents WHERE length(lower(trim(text))) > 0),
              |gl AS (SELECT doc_id,
              |        CASE WHEN length(regexp_replace(lt, '[^a-z]', '',
              |            'g')) * 10000 // length(lt) >= 7000
              |          AND length(lt) >= 200 THEN 1 ELSE 0 END AS gold
              |      FROM g),
              |b AS (SELECT qsc.doc_id,
              |        least(greatest(score, 0), 4000) * 10000 // 4000
              |          AS conf_bp,
              |        gold
              |      FROM qsc JOIN gl ON qsc.doc_id = gl.doc_id),
              |bb AS (SELECT CAST(least(conf_bp // 1000, 9) AS BIGINT)
              |         AS bin, conf_bp, gold FROM b),
              |pb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
              |        CAST(sum(conf_bp) // count(*) AS BIGINT)
              |          AS avg_conf_bp,
              |        CAST(sum(gold) * 10000 // count(*) AS BIGINT)
              |          AS gold_bp
              |      FROM bb GROUP BY 1),
              |pg AS (SELECT *, abs(avg_conf_bp - gold_bp) AS gap_bp
              |       FROM pb),
              |e AS (SELECT CAST(sum(n * gap_bp) // sum(n) AS BIGINT)
              |        AS ece_bp FROM pg)
              |SELECT bin, n, avg_conf_bp, gold_bp,
              |  CAST(gap_bp AS BIGINT) AS gap_bp, ece_bp
              |FROM pg CROSS JOIN e ORDER BY bin""".stripMargin)),

    // ---- precision/recall threshold sweep ---------------------------------
    // The operating-point picker for the q190 quality filter: sweep five
    // candidate score thresholds in ONE pass and report the confusion
    // counts plus precision / recall / F1 against the q209 char-level
    // reference labels (deliberately feature-disjoint from the token
    // scorer — the same independence that makes the ECE audit mean
    // something). The threshold sweep is a map-side ×5 explode over the
    // scored-and-labeled frame, then one groupBy on the 5-row threshold
    // key — no second scan, no driver loop. All confusion counts are
    // exact integers; P/R/F1 are integer bp with CASE-guarded
    // denominators (an empty predicted-positive set reports null, not a
    // crash) so the oracle replays every cell bit-for-bit.
    "q225_pr_threshold_sweep" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
        val scored = qualityScored(docs).select("doc_id", "score")
        val gold = docs
          .select(col("doc_id"), lower(trim(col("text"))).as("lt"))
          .filter(length(col("lt")) > 0)
          .withColumn("gold", when(
            expr("length(regexp_replace(lt, '[^a-z]', '')) * 10000" +
              " DIV length(lt)") >= 7000L && length(col("lt")) >= 200,
            1L).otherwise(0L))
          .select("doc_id", "gold")
        scored.join(gold, "doc_id")
          .withColumn("threshold", explode(array(
            lit(1000L), lit(1500L), lit(2000L), lit(2500L), lit(3000L))))
          .withColumn("pred",
            when(col("score") >= col("threshold"), 1L).otherwise(0L))
          .groupBy("threshold")
          .agg(
            sum(expr("CASE WHEN pred = 1 AND gold = 1 THEN 1 ELSE 0 END"))
              .as("tp"),
            sum(expr("CASE WHEN pred = 1 AND gold = 0 THEN 1 ELSE 0 END"))
              .as("fp"),
            sum(expr("CASE WHEN pred = 0 AND gold = 1 THEN 1 ELSE 0 END"))
              .as("fn"),
            sum(expr("CASE WHEN pred = 0 AND gold = 0 THEN 1 ELSE 0 END"))
              .as("tn"))
          .withColumn("precision_bp", expr(
            "CASE WHEN tp + fp > 0 THEN tp * 10000 DIV (tp + fp) END"))
          .withColumn("recall_bp", expr(
            "CASE WHEN tp + fn > 0 THEN tp * 10000 DIV (tp + fn) END"))
          .withColumn("f1_bp", expr(
            """CASE WHEN 2 * tp + fp + fn > 0
              | THEN 2 * tp * 10000 DIV (2 * tp + fp + fn) END"""
              .stripMargin))
          .orderBy("threshold")
      },
      Some(s"""WITH $duckQualityCtes,
              |g AS (SELECT doc_id, lower(trim(text)) AS lt
              |      FROM documents WHERE length(lower(trim(text))) > 0),
              |gl AS (SELECT doc_id,
              |        CASE WHEN length(regexp_replace(lt, '[^a-z]', '',
              |            'g')) * 10000 // length(lt) >= 7000
              |          AND length(lt) >= 200 THEN 1 ELSE 0 END AS gold
              |      FROM g),
              |j AS (SELECT qsc.score, gl.gold
              |      FROM qsc JOIN gl ON qsc.doc_id = gl.doc_id),
              |x AS (SELECT CAST(t.threshold AS BIGINT) AS threshold,
              |        CASE WHEN j.score >= t.threshold THEN 1 ELSE 0 END
              |          AS pred, j.gold
              |      FROM j CROSS JOIN (VALUES (1000), (1500), (2000),
              |        (2500), (3000)) t(threshold)),
              |cf AS (SELECT threshold,
              |    CAST(sum(CASE WHEN pred = 1 AND gold = 1 THEN 1
              |      ELSE 0 END) AS BIGINT) AS tp,
              |    CAST(sum(CASE WHEN pred = 1 AND gold = 0 THEN 1
              |      ELSE 0 END) AS BIGINT) AS fp,
              |    CAST(sum(CASE WHEN pred = 0 AND gold = 1 THEN 1
              |      ELSE 0 END) AS BIGINT) AS fn,
              |    CAST(sum(CASE WHEN pred = 0 AND gold = 0 THEN 1
              |      ELSE 0 END) AS BIGINT) AS tn
              |  FROM x GROUP BY 1)
              |SELECT threshold, tp, fp, fn, tn,
              |  CASE WHEN tp + fp > 0
              |    THEN CAST(tp * 10000 // (tp + fp) AS BIGINT) END
              |    AS precision_bp,
              |  CASE WHEN tp + fn > 0
              |    THEN CAST(tp * 10000 // (tp + fn) AS BIGINT) END
              |    AS recall_bp,
              |  CASE WHEN 2 * tp + fp + fn > 0
              |    THEN CAST(2 * tp * 10000 // (2 * tp + fp + fn)
              |      AS BIGINT) END AS f1_bp
              |FROM cf ORDER BY threshold""".stripMargin)),

    // ---- Bloom-filter membership screen -----------------------------------
    // The decontamination primitive that actually ships to a 1000-executor
    // scan: a fixed M-bit Bloom filter over the eval set's normalized-text
    // fingerprints (the q40 md5 rule), broadcast to the corpus, each
    // document probed with K md5-derived bit positions. Unlike the q182
    // shingle screen (overlap attribution) this is exact-membership
    // screening with a CONSTANT-size index: M=4096 bits packed 32/word in
    // 128 longs — the filter costs the same whether the eval set is 30
    // docs or 30M, and the probe is a narrow map-side projection (the
    // filter-word join is a ≤128-row broadcast). Bits are 32/word so no
    // shift ever reaches the sign bit and the word values replay exactly
    // in DuckDB's int64 `<<`/`&`/`bit_or`. The audit reports, per source,
    // flagged vs TRUE membership (exact fp join): n_missed is structurally
    // 0 — a Bloom filter has no false negatives — and the oracle hashes
    // that guarantee; false positives are the price of constant size,
    // reported in bp of the non-member population. The same filter words,
    // re-shaped into a one-row map literal, run STATELESSLY on the ingest
    // stream (`StreamSessionize.bloomScreenStream`, parity-gated — the
    // dsir-screen cross-plan pattern).
    "q226_bloom_decontam_screen" -> QueryDef(
      (s, dir) => {
        val d = Materialize(bloomFp(tableParallel(s, dir, "documents")))
        val ev = Materialize(d.filter(col("doc_id") % 17 === 3)
          .select("fp").distinct())
        val fw = bloomWords(ev)
        val member = d.join(
            broadcast(ev.withColumn("is_m", lit(1L))), Seq("fp"), "left")
          .select(col("doc_id"), col("source"), col("fp"),
            coalesce(col("is_m"), lit(0L)).as("member"))
        bloomFlags(member, fw)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("member").as("n_members"),
            sum("flagged").as("n_flagged"),
            sum(when(col("member") === 1L && col("flagged") === 0L, 1L)
              .otherwise(0L)).as("n_missed"),
            sum(when(col("member") === 0L && col("flagged") === 1L, 1L)
              .otherwise(0L)).as("n_false_pos"))
          .withColumn("fp_bp", expr(
            """CASE WHEN n_docs - n_members > 0
              | THEN n_false_pos * 10000 DIV (n_docs - n_members) END"""
              .stripMargin))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
              |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
              |      AS fp
              |  FROM documents),
              |ev AS (SELECT DISTINCT fp FROM d WHERE doc_id % 17 = 3),
              |ks AS (SELECT unnest([1, 2, 3]) AS i),
              |fw AS (SELECT bit // $BloomWordBits AS word,
              |    bit_or(CAST(1 AS BIGINT)
              |      << CAST(bit % $BloomWordBits AS INT)) AS wd
              |  FROM (SELECT CAST(('0x' ||
              |      substr(md5('bloom' || i || '_' || fp), 1, 8))
              |      AS BIGINT) % $BloomBits AS bit
              |    FROM ev CROSS JOIN ks)
              |  GROUP BY 1),
              |md AS (SELECT d.doc_id, d.source, d.fp,
              |    CASE WHEN ev.fp IS NOT NULL THEN 1 ELSE 0 END AS member
              |  FROM d LEFT JOIN ev ON d.fp = ev.fp),
              |pr AS (SELECT doc_id, source, member,
              |    CAST(('0x' || substr(md5('bloom' || i || '_' || fp), 1, 8))
              |      AS BIGINT) % $BloomBits AS bit
              |  FROM md CROSS JOIN ks),
              |ht AS (SELECT p.doc_id, p.source, p.member,
              |    CASE WHEN fw.wd IS NOT NULL AND (fw.wd &
              |        (CAST(1 AS BIGINT)
              |         << CAST(p.bit % $BloomWordBits AS INT)))
              |      = (CAST(1 AS BIGINT)
              |         << CAST(p.bit % $BloomWordBits AS INT))
              |    THEN 1 ELSE 0 END AS hit
              |  FROM pr p LEFT JOIN fw ON p.bit // $BloomWordBits = fw.word),
              |pd AS (SELECT doc_id, source, member,
              |    CAST(min(hit) AS BIGINT) AS flagged
              |  FROM ht GROUP BY 1, 2, 3)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(member) AS BIGINT) AS n_members,
              |  CAST(sum(flagged) AS BIGINT) AS n_flagged,
              |  CAST(sum(CASE WHEN member = 1 AND flagged = 0
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
              |  CAST(sum(CASE WHEN member = 0 AND flagged = 1
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
              |  CAST(CASE WHEN count(*) - sum(member) > 0
              |    THEN sum(CASE WHEN member = 0 AND flagged = 1
              |      THEN 1 ELSE 0 END)
              |      * 10000 // (count(*) - sum(member)) END AS BIGINT)
              |    AS fp_bp
              |FROM pd GROUP BY source ORDER BY source""".stripMargin)),

    // ---- asymmetric containment near-dup ----------------------------------
    // The duplicate class symmetric Jaccard structurally misses: a short
    // document CONTAINED in a much longer one (quote expansion, boiler-
    // plate wrapping, excerpt reposts) has tiny Jaccard — the union is
    // dominated by the long doc — but containment |A∩B| / min(|A|,|B|)
    // is near 1. Same physical shape as the q42 Jaccard family: shingle
    // equi-join + pair groupBy, riding the pipeline-default stop-shingle
    // df cut (per-shingle fan-out ≤ df² at any corpus scale — this query
    // is NOT in the uncut whitelist and must never be). Both metrics are
    // reported side by side in exact bp; the top-20 cut is a
    // TakeOrderedAndProject under a total order (cont desc, inter desc,
    // pair), with the rank column applied to the already-bounded 20-row
    // frame — no global window over the pair set.
    "q228_containment_dedup" -> QueryDef(
      (s, dir) => {
        // the df1000 pair mirror stores EVERY intersecting pair with its
        // exact (i, na, nb) — precisely the frame this containment audit
        // ranks, with no re-run of the self-join
        val top = shPairsMirror(s, dir,
            Some(graft.operators.CorpusPipeline.DefaultStopShingleDf), 0.0)
          .select(col("doc_a"), col("doc_b"), col("i").as("inter"),
            col("na"), col("nb"))
          .withColumn("cont_bp", expr("inter * 10000 DIV least(na, nb)"))
          .withColumn("jacc_bp",
            expr("inter * 10000 DIV (na + nb - inter)"))
          .orderBy(desc("cont_bp"), desc("inter"), asc("doc_a"),
            asc("doc_b"))
          .limit(20)
        top.withColumn("rk", row_number().over(
            Window.orderBy(desc("cont_bp"), desc("inter"), asc("doc_a"),
              asc("doc_b"))).cast("long"))
          .select("rk", "doc_a", "doc_b", "na", "nb", "inter", "cont_bp",
            "jacc_bp")
          .orderBy("rk")
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |sh0 AS (SELECT doc_id, unnest(hs) AS sh
              |        FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |${duckStopShingles(graft.operators.CorpusPipeline.DefaultStopShingleDf)},
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    CAST(count(*) AS BIGINT) AS inter
              |  FROM sh a JOIN sh b
              |    ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |sc AS (SELECT i.doc_a, i.doc_b,
              |    CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
              |    i.inter,
              |    CAST(i.inter * 10000 // least(sa.n, sb.n) AS BIGINT)
              |      AS cont_bp,
              |    CAST(i.inter * 10000 // (sa.n + sb.n - i.inter)
              |      AS BIGINT) AS jacc_bp
              |  FROM inter i
              |  JOIN sizes sa ON sa.doc_id = i.doc_a
              |  JOIN sizes sb ON sb.doc_id = i.doc_b)
              |SELECT CAST(row_number() OVER (ORDER BY cont_bp DESC,
              |    inter DESC, doc_a, doc_b) AS BIGINT) AS rk,
              |  doc_a, doc_b, na, nb, inter, cont_bp, jacc_bp
              |FROM sc
              |ORDER BY cont_bp DESC, inter DESC, doc_a, doc_b
              |LIMIT 20""".stripMargin)),

    // ---- Good–Turing frequency smoothing ----------------------------------
    // The count-of-counts estimator KN (q188) discounts by a constant;
    // Good–Turing reads the discount off the data itself: r* =
    // (r+1)·N_{r+1}/N_r, where N_r is the number of BIGRAM types seen
    // exactly r times (bigrams, not unigrams: the synthetic generator's
    // closed unigram vocabulary has no rare types — min count 26 at
    // sf0.01 — while the bigram spectrum has genuine hapaxes, and
    // count-of-counts over bigram types is exactly the table KN's own
    // discount is derived from). The r=1 row's raw mass share N_1/N is
    // simultaneously the Good–Turing estimate of the UNSEEN mass — the
    // number an open-vocabulary pipeline needs before trusting its
    // per-event probabilities. All integer micro/ppm arithmetic; the
    // low-r rows (r ≤ 5) are the ones GT is trusted for in practice and
    // the only ones reported. Scale: one corpus pass to bigram counts
    // (bigram-type-sized groupBy), then EVERYTHING runs on the
    // frequency-of-frequencies frame — bounded by the distinct count
    // values, dozens of rows at any corpus size; totals come from that
    // same frame (Σ r·N_r ≡ bigram-position count — the GT identity the
    // spec pins), not a second corpus scan.
    "q229_good_turing" -> QueryDef(
      (s, dir) => {
        val wc = tableParallel(s, dir, "documents")
          .select(tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(explode(expr(
            """transform(sequence(0, size(ws) - 2),
              | i -> concat_ws(' ', ws[i], ws[i+1]))""".stripMargin))
            .as("w"))
          .groupBy("w").agg(count(lit(1)).as("r"))
        val ff = Materialize(wc.groupBy("r").agg(count(lit(1)).as("n_r")))
        val tot = ff.agg(sum(expr("r * n_r")).as("n_tok"),
          sum("n_r").as("n_types"))
        val nxt = ff.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
        ff.filter(col("r") <= 5)
          .join(nxt, Seq("r"), "left")
          .crossJoin(broadcast(tot))
          .withColumn("rstar_micro", expr(
            """CASE WHEN n_r1 IS NOT NULL
              | THEN (r + 1) * n_r1 * 1000000 DIV n_r END""".stripMargin))
          .withColumn("mass_ppm", expr("r * n_r * 1000000 DIV n_tok"))
          .withColumn("smoothed_mass_ppm", expr(
            """CASE WHEN n_r1 IS NOT NULL
              | THEN ((r + 1) * n_r1 * 1000000 DIV n_r) * n_r DIV n_tok
              | END""".stripMargin))
          .select("r", "n_r", "n_r1", "n_tok", "n_types", "rstar_micro",
            "mass_ppm", "smoothed_mass_ppm")
          .orderBy("r")
      },
      Some(s"""WITH tw AS (SELECT $duckToks AS ws FROM documents),
              |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS r
              |  FROM (SELECT unnest(
              |      [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])
              |      AS w
              |    FROM tw WHERE len(ws) >= 2)
              |  GROUP BY 1),
              |ff AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
              |  FROM wc GROUP BY 1),
              |t AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tok,
              |    CAST(sum(n_r) AS BIGINT) AS n_types FROM ff),
              |nxt AS (SELECT r - 1 AS r, n_r AS n_r1 FROM ff)
              |SELECT f.r, f.n_r, nxt.n_r1, t.n_tok, t.n_types,
              |  CAST(CASE WHEN nxt.n_r1 IS NOT NULL
              |    THEN (f.r + 1) * nxt.n_r1 * 1000000 // f.n_r END
              |    AS BIGINT) AS rstar_micro,
              |  CAST(f.r * f.n_r * 1000000 // t.n_tok AS BIGINT)
              |    AS mass_ppm,
              |  CAST(CASE WHEN nxt.n_r1 IS NOT NULL
              |    THEN ((f.r + 1) * nxt.n_r1 * 1000000 // f.n_r) * f.n_r
              |      // t.n_tok END AS BIGINT) AS smoothed_mass_ppm
              |FROM ff f LEFT JOIN nxt ON f.r = nxt.r CROSS JOIN t
              |WHERE f.r <= 5 ORDER BY f.r""".stripMargin)),

    // ---- cross-document duplicated-span share -----------------------------
    // The exact-substring duplication signal (Lee et al. 2022, "Dedupli-
    // cating Training Data Makes Language Models Better"): a rolling
    // 5-token window hash per position, a window marked DUPLICATED when
    // the same hash occurs in ≥ 2 distinct documents, and the per-doc
    // duplicated-position share rolled up by source. This is the
    // corpus-internal cross-doc twin of q205 (intra-doc repetition) and
    // q182 (eval-set overlap): it catches shared boilerplate and syndi-
    // cated spans that whole-doc fingerprints (q40) and symmetric
    // Jaccard both dilute. Multiplicity counts: a doc that repeats a
    // cross-doc-duplicated span pays for every position. Scale: the
    // window table is ~tokens-sized (one narrow transform + posexplode),
    // the dup-hash set is one groupBy with an early n_docs ≥ 2 cut, and
    // the marking join is an equi-shuffle on the window hash — no pair
    // enumeration anywhere, so cost is linear in corpus tokens. Docs
    // under 5 tokens have no windows and are deliberately outside the
    // denominator.
    "q230_dup_span_share" -> QueryDef(
      (s, dir) => {
        val win = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= 5)
          .select(col("doc_id"), col("source"),
            // native one-pass window hasher — bit-identical to the old
            // interpreted transform(md5(concat_ws(...))) chain
            explode(WindowHashes.of(col("ws"), lit(5), lit(1)))
              .as("wh")))
        val dup = win.groupBy("wh")
          .agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") >= 2)
          .select(col("wh"), lit(1L).as("isd"))
        win.join(dup, Seq("wh"), "left")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_win"),
            sum(coalesce(col("isd"), lit(0L))).as("n_dup"))
          .withColumn("dup_bp", expr("n_dup * 10000 DIV n_win"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_win").as("n_windows"),
            sum("n_dup").as("n_dup_windows"),
            sum(when(col("dup_bp") >= 5000L, 1L).otherwise(0L))
              .as("n_docs_majority_dup"))
          .withColumn("dup_share_bp",
            expr("n_dup_windows * 10000 DIV n_windows"))
          .orderBy("source")
      },
      Some(s"""WITH w AS (SELECT doc_id, source, $duckToks AS ws
              |  FROM documents),
              |win AS (SELECT doc_id, source, unnest(
              |    [CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' '
              |       || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]),
              |       1, 8)) AS BIGINT)
              |     for i in range(1, len(ws) - 3)]) AS wh
              |  FROM w WHERE len(ws) >= 5),
              |dup AS (SELECT wh, 1 AS isd FROM
              |    (SELECT wh, count(DISTINCT doc_id) AS nd
              |     FROM win GROUP BY 1)
              |  WHERE nd >= 2),
              |pd AS (SELECT doc_id, source,
              |    CAST(count(*) AS BIGINT) AS n_win,
              |    CAST(sum(CASE WHEN d.isd IS NOT NULL THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_dup
              |  FROM win LEFT JOIN dup d ON win.wh = d.wh
              |  GROUP BY 1, 2)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_win) AS BIGINT) AS n_windows,
              |  CAST(sum(n_dup) AS BIGINT) AS n_dup_windows,
              |  CAST(sum(CASE WHEN n_dup * 10000 // n_win >= 5000
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_majority_dup,
              |  CAST(sum(n_dup) * 10000 // sum(n_win) AS BIGINT)
              |    AS dup_share_bp
              |FROM pd GROUP BY source ORDER BY source""".stripMargin)),

    // ---- filter-cascade ordering audit ------------------------------------
    // The predicate-ordering question Catalyst answers for WHERE clauses,
    // asked of a quality-filter CASCADE whose stages have real unit
    // costs (a length check is cheap; a char-class scan is not): for
    // each candidate stage ordering, the expected probe cost per
    // document is Σ costs of the stages actually evaluated — evaluation
    // stops at the first rejection, so putting high-rejection cheap
    // stages first dominates. Flags are computed ONCE per document (the
    // audit's whole point is that outcome is order-INDEPENDENT — the
    // accepted set is pinned identical across orderings, in the oracle
    // and the spec); the four cost chains are pure nested-CASE column
    // programs over those flags shared verbatim with the oracle via
    // [[cascadeChain]], and `stack()` unpivots ordering × doc map-side —
    // one corpus scan, one 4-group aggregation, at any scale.
    "q232_filter_cascade_order" -> QueryDef(
      (s, dir) => {
        val chains = CascadeOrders.map { case (nm, p) =>
          (nm, cascadeChain(p)) }
        tableParallel(s, dir, "documents")
          .select(col("source"), lower(trim(col("text"))).as("lt"),
            tokens(col("text")).as("ws"))
          .filter(length(col("lt")) > 0)
          .withColumn("f1",
            when(size(col("ws")) >= 10, 1L).otherwise(0L))
          .withColumn("f2", when(
            expr("size(filter(ws, t -> length(t) > 20)) = 0"), 1L)
            .otherwise(0L))
          .withColumn("f3", when(
            expr("length(regexp_replace(lt, '[^a-z]', '')) * 10" +
              " >= 6 * length(lt)"), 1L).otherwise(0L))
          .withColumn("f4", when(
            expr("""size(filter(ws, t -> t IN ('the','a','an','and','of',
              |'to','in','is','that','it'))) >= 2""".stripMargin), 1L)
            .otherwise(0L))
          .withColumn("accept", expr(
            "CASE WHEN f1 = 1 AND f2 = 1 AND f3 = 1 AND f4 = 1" +
              " THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"))
          .selectExpr("accept",
            s"stack(4, ${chains.map { case (nm, c) =>
              s"'$nm', CAST($c AS BIGINT)" }.mkString(", ")})" +
              " AS (ordering, probe_cost)")
          .groupBy("ordering")
          .agg(count(lit(1)).as("n_docs"),
            sum("accept").as("n_accepted"),
            sum("probe_cost").as("total_cost"))
          .withColumn("cost_per_doc_milli",
            expr("total_cost * 1000 DIV n_docs"))
          .withColumn("cost_per_accept_milli", expr(
            """CASE WHEN n_accepted > 0
              | THEN total_cost * 1000 DIV n_accepted END""".stripMargin))
          .orderBy("ordering")
      },
      Some(s"""WITH d AS (SELECT source, lower(trim(text)) AS lt,
              |    $duckToks AS ws
              |  FROM documents WHERE length(lower(trim(text))) > 0),
              |fl AS (SELECT
              |    CASE WHEN len(ws) >= 10 THEN 1 ELSE 0 END AS f1,
              |    CASE WHEN len(list_filter(ws, t -> length(t) > 20)) = 0
              |      THEN 1 ELSE 0 END AS f2,
              |    CASE WHEN length(regexp_replace(lt, '[^a-z]', '', 'g'))
              |      * 10 >= 6 * length(lt) THEN 1 ELSE 0 END AS f3,
              |    CASE WHEN len(list_filter(ws, t -> t IN ('the','a','an',
              |      'and','of','to','in','is','that','it'))) >= 2
              |      THEN 1 ELSE 0 END AS f4
              |  FROM d),
              |pc AS (${CascadeOrders.map { case (nm, p) =>
                s"""SELECT '$nm' AS ordering,
                   |    CASE WHEN f1 = 1 AND f2 = 1 AND f3 = 1 AND f4 = 1
                   |      THEN 1 ELSE 0 END AS accept,
                   |    ${cascadeChain(p)} AS probe_cost FROM fl"""
                  .stripMargin }
                .mkString("\nUNION ALL\n")})
              |SELECT ordering, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(accept) AS BIGINT) AS n_accepted,
              |  CAST(sum(probe_cost) AS BIGINT) AS total_cost,
              |  CAST(sum(probe_cost) * 1000 // count(*) AS BIGINT)
              |    AS cost_per_doc_milli,
              |  CAST(CASE WHEN sum(accept) > 0 THEN sum(probe_cost) * 1000
              |    // sum(accept) END AS BIGINT) AS cost_per_accept_milli
              |FROM pc GROUP BY ordering ORDER BY ordering""".stripMargin)),

    // ---- Cohen's kappa filter-agreement audit -----------------------------
    // Chance-corrected agreement between the q190 token-level filter and
    // the q209/q225 char-level reference rule, per source: raw accuracy
    // flatters any pair of classifiers that both mostly say "accept", so
    // the datacard metric is κ = (p_o − p_e) / (1 − p_e) with the
    // expected-agreement term from the marginals. All integer: p_o and
    // p_e ride the common n² denominator, and the final division is
    // SIGN-SPLIT (κ < 0 — agreement below chance — is representable, and
    // Spark DIV truncates while DuckDB // floors; they agree only on
    // non-negative operands, the q208 lesson). One scan feeds both
    // classifiers; the confusion table is one groupBy on source.
    "q233_kappa_agreement" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
        val scored = qualityScored(docs)
          .select(col("doc_id"), col("source"), col("pass").as("pred"))
        val gold = docs
          .select(col("doc_id"), lower(trim(col("text"))).as("lt"))
          .filter(length(col("lt")) > 0)
          .withColumn("gold", when(
            expr("length(regexp_replace(lt, '[^a-z]', '')) * 10000" +
              " DIV length(lt)") >= 7000L && length(col("lt")) >= 200,
            1L).otherwise(0L))
          .select("doc_id", "gold")
        scored.join(gold, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(expr("CASE WHEN pred = 1 AND gold = 1 THEN 1 ELSE 0 END"))
              .as("tp"),
            sum(expr("CASE WHEN pred = 1 AND gold = 0 THEN 1 ELSE 0 END"))
              .as("fp"),
            sum(expr("CASE WHEN pred = 0 AND gold = 1 THEN 1 ELSE 0 END"))
              .as("fn"),
            sum(expr("CASE WHEN pred = 0 AND gold = 0 THEN 1 ELSE 0 END"))
              .as("tn"))
          .withColumn("acc_bp", expr("(tp + tn) * 10000 DIV n"))
          .withColumn("pe_num",
            expr("(tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)"))
          .withColumn("kappa_bp", expr(
            """CASE WHEN n * n - pe_num > 0 THEN
              |  CASE WHEN (tp + tn) * n - pe_num >= 0
              |    THEN ((tp + tn) * n - pe_num) * 10000
              |      DIV (n * n - pe_num)
              |    ELSE -((pe_num - (tp + tn) * n) * 10000
              |      DIV (n * n - pe_num)) END
              |END""".stripMargin))
          .select("source", "n", "tp", "fp", "fn", "tn", "acc_bp",
            "kappa_bp")
          .orderBy("source")
      },
      Some(s"""WITH $duckQualityCtes,
              |gold AS (SELECT doc_id, CASE WHEN
              |    length(regexp_replace(lower(trim(text)), '[^a-z]', '',
              |      'g')) * 10000 // length(lower(trim(text))) >= 7000
              |    AND length(lower(trim(text))) >= 200
              |    THEN 1 ELSE 0 END AS gold
              |  FROM documents WHERE length(lower(trim(text))) > 0),
              |j AS (SELECT q.source, q.pass AS pred, g.gold
              |  FROM qsc q JOIN gold g ON q.doc_id = g.doc_id),
              |cf AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(CASE WHEN pred = 1 AND gold = 1 THEN 1 ELSE 0
              |      END) AS BIGINT) AS tp,
              |    CAST(sum(CASE WHEN pred = 1 AND gold = 0 THEN 1 ELSE 0
              |      END) AS BIGINT) AS fp,
              |    CAST(sum(CASE WHEN pred = 0 AND gold = 1 THEN 1 ELSE 0
              |      END) AS BIGINT) AS fn,
              |    CAST(sum(CASE WHEN pred = 0 AND gold = 0 THEN 1 ELSE 0
              |      END) AS BIGINT) AS tn
              |  FROM j GROUP BY 1)
              |SELECT source, n, tp, fp, fn, tn,
              |  CAST((tp + tn) * 10000 // n AS BIGINT) AS acc_bp,
              |  CAST(CASE WHEN n * n -
              |      ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) > 0
              |    THEN CASE WHEN (tp + tn) * n -
              |        ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) >= 0
              |      THEN ((tp + tn) * n - ((tp + fp) * (tp + fn)
              |        + (fn + tn) * (fp + tn))) * 10000
              |        // (n * n - ((tp + fp) * (tp + fn)
              |        + (fn + tn) * (fp + tn)))
              |      ELSE -((((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
              |        - (tp + tn) * n) * 10000
              |        // (n * n - ((tp + fp) * (tp + fn)
              |        + (fn + tn) * (fp + tn)))) END
              |  END AS BIGINT) AS kappa_bp
              |FROM cf ORDER BY source""".stripMargin)),

    // ---- distinct-n diversity ---------------------------------------------
    // The generation-diversity metric (distinct-1/2/3, Li et al. 2016):
    // per source, unique n-grams over total n-gram positions in bp —
    // near-zero distinct-2 is the signature of templated or looped text
    // that per-doc screens (q205) miss when the repetition is ACROSS
    // documents. All three gram sizes (n = 1, 2, 3) emit from ONE fused
    // map-side explode over a single corpus scan — the per-row gram
    // array is built once per document and feeds one shuffle; total
    // positions count multiplicity while uniqueness is a distinct
    // aggregate on the same key — linear in corpus tokens, output 3
    // rows per source.
    "q234_distinct_ngram_diversity" -> QueryDef(
      (s, dir) => {
        val base = tableParallel(s, dir, "documents")
          .select(col("source"), tokens(col("text")).as("ws"))
        base.filter(size(col("ws")) >= 1)
          .select(col("source"), explode(expr(
            """flatten(array(
              |  transform(sequence(0, size(ws) - 1),
              |    i -> named_struct('n', CAST(1 AS BIGINT),
              |      'g', ws[i])),
              |  transform(filter(sequence(0, size(ws) - 1),
              |      i -> i <= size(ws) - 2),
              |    i -> named_struct('n', CAST(2 AS BIGINT),
              |      'g', concat_ws(' ', ws[i], ws[i+1]))),
              |  transform(filter(sequence(0, size(ws) - 1),
              |      i -> i <= size(ws) - 3),
              |    i -> named_struct('n', CAST(3 AS BIGINT),
              |      'g', concat_ws(' ', ws[i], ws[i+1], ws[i+2])))))"""
              .stripMargin)).as("x"))
          .select(col("source"), col("x.n").as("n"), col("x.g").as("g"))
          .groupBy("source", "n")
          .agg(count(lit(1)).as("total_grams"),
            countDistinct("g").as("distinct_grams"))
          .withColumn("distinct_bp",
            expr("distinct_grams * 10000 DIV total_grams"))
          .orderBy("source", "n")
      },
      Some(s"""WITH w AS (SELECT source, $duckToks AS ws FROM documents),
              |g1 AS (SELECT source, 1 AS n, unnest(ws) AS g FROM w
              |  WHERE len(ws) >= 1),
              |g2 AS (SELECT source, 2 AS n, unnest(
              |    [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])
              |    AS g
              |  FROM w WHERE len(ws) >= 2),
              |g3 AS (SELECT source, 3 AS n, unnest(
              |    [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
              |     for i in range(1, len(ws) - 1)]) AS g
              |  FROM w WHERE len(ws) >= 3),
              |u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
              |  UNION ALL SELECT * FROM g3)
              |SELECT source, CAST(n AS BIGINT) AS n,
              |  CAST(count(*) AS BIGINT) AS total_grams,
              |  CAST(count(DISTINCT g) AS BIGINT) AS distinct_grams,
              |  CAST(count(DISTINCT g) * 10000 // count(*) AS BIGINT)
              |    AS distinct_bp
              |FROM u GROUP BY 1, 2 ORDER BY source, n""".stripMargin)),

    // ---- token-budget epoch planner ---------------------------------------
    // The mixture-planning arithmetic a training run does before it
    // starts: a fixed token budget spread across sources proportional to
    // QUALITY-WEIGHTED mass (mass × q190 acceptance rate — the shared
    // scorer again), with a hard repetition cap (4 epochs: past that,
    // repeated data stops helping and starts hurting). Fixed-point
    // micro-epochs keep it exact; capped sources return their unused
    // budget, which is redistributed ONCE pro-rata among the uncapped
    // (the unrolled-waterfill round, q208's materialize-each-round
    // rule), then re-capped. Σ tokens_final ≤ budget is PROVABLE (the
    // bonus pool is exactly the leftover; truncation only shrinks), and
    // the spec pins it plus the cap. Everything after one corpus pass
    // (the scorer's own) runs on the sources-sized frame.
    "q235_token_budget_plan" -> QueryDef(
      (s, dir) => {
        val B = 200000L
        val CapMicro = 4000000L
        val st = Materialize(
          qualityScored(tableParallel(s, dir, "documents"))
            .groupBy("source")
            .agg(sum("toks").as("mass"), sum("pass").as("n_acc"),
              count(lit(1)).as("n_docs"))
            .withColumn("accept_bp", expr("n_acc * 10000 DIV n_docs"))
            .withColumn("w", expr("mass * accept_bp")))
        val tw = st.agg(sum("w").as("w_tot"))
        val r1 = Materialize(st.crossJoin(broadcast(tw))
          .withColumn("target", expr(s"$B * w DIV w_tot"))
          .withColumn("epochs_micro", expr(
            s"least(CAST($CapMicro AS BIGINT), target * 1000000 DIV mass)"))
          .withColumn("planned", expr("epochs_micro * mass DIV 1000000"))
          .withColumn("capped", expr(
            s"""CASE WHEN target * 1000000 DIV mass > $CapMicro
               | THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
               | END""".stripMargin)))
        val lrem = r1.agg((lit(B) - sum("planned")).as("leftover"),
          sum(expr("CASE WHEN capped = 0 THEN w ELSE 0 END")).as("w_unc"))
        r1.crossJoin(broadcast(lrem))
          .withColumn("bonus", expr(
            """CASE WHEN capped = 0 AND w_unc > 0
              | THEN leftover * w DIV w_unc
              | ELSE CAST(0 AS BIGINT) END""".stripMargin))
          .withColumn("epochs2_micro", expr(
            s"""least(CAST($CapMicro AS BIGINT),
               | (planned + bonus) * 1000000 DIV mass)""".stripMargin))
          .withColumn("tokens_final",
            expr("epochs2_micro * mass DIV 1000000"))
          .select("source", "n_docs", "mass", "accept_bp", "target",
            "epochs_micro", "capped", "bonus", "epochs2_micro",
            "tokens_final")
          .orderBy("source")
      },
      Some(s"""WITH $duckQualityCtes,
              |st AS (SELECT qf.source,
              |    CAST(sum(qf.toks) AS BIGINT) AS mass,
              |    CAST(sum(qsc.pass) AS BIGINT) AS n_acc,
              |    CAST(count(*) AS BIGINT) AS n_docs
              |  FROM qf JOIN qsc ON qf.doc_id = qsc.doc_id
              |  GROUP BY 1),
              |sw AS (SELECT *, n_acc * 10000 // n_docs AS accept_bp,
              |    mass * (n_acc * 10000 // n_docs) AS w FROM st),
              |tw AS (SELECT CAST(sum(w) AS BIGINT) AS w_tot FROM sw),
              |r1 AS (SELECT sw.*, w_tot,
              |    200000 * w // w_tot AS target,
              |    least(4000000, (200000 * w // w_tot) * 1000000 // mass)
              |      AS epochs_micro,
              |    least(4000000, (200000 * w // w_tot) * 1000000 // mass)
              |      * mass // 1000000 AS planned,
              |    CASE WHEN (200000 * w // w_tot) * 1000000 // mass
              |      > 4000000 THEN 1 ELSE 0 END AS capped
              |  FROM sw CROSS JOIN tw),
              |lr AS (SELECT 200000 - CAST(sum(planned) AS BIGINT)
              |      AS leftover,
              |    CAST(sum(CASE WHEN capped = 0 THEN w ELSE 0 END)
              |      AS BIGINT) AS w_unc
              |  FROM r1)
              |SELECT source, n_docs, mass, CAST(accept_bp AS BIGINT)
              |    AS accept_bp,
              |  CAST(target AS BIGINT) AS target,
              |  CAST(epochs_micro AS BIGINT) AS epochs_micro,
              |  CAST(capped AS BIGINT) AS capped,
              |  CAST(CASE WHEN capped = 0 AND w_unc > 0
              |    THEN leftover * w // w_unc ELSE 0 END AS BIGINT)
              |    AS bonus,
              |  CAST(least(4000000, (planned + CASE WHEN capped = 0
              |      AND w_unc > 0 THEN leftover * w // w_unc ELSE 0 END)
              |    * 1000000 // mass) AS BIGINT) AS epochs2_micro,
              |  CAST(least(4000000, (planned + CASE WHEN capped = 0
              |      AND w_unc > 0 THEN leftover * w // w_unc ELSE 0 END)
              |    * 1000000 // mass) * mass // 1000000 AS BIGINT)
              |    AS tokens_final
              |FROM r1 CROSS JOIN lr ORDER BY source""".stripMargin)),

    // ---- acceptance-disparity audit (exact chi-square) --------------------
    // Does the quality filter treat languages differently? Per language,
    // the acceptance rate vs the REST of the corpus, tested with the
    // exact two-proportion chi-square decision at α = 0.05 (df 1):
    // χ² = N(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) > 3.841, decided by
    // cross-multiplication in DECIMAL(38,0) — N·(ad−bc)²·1000 vs
    // 3841·(row and column products) — with no division and no float
    // (the q207 trick), so the verdict replays exactly at any corpus
    // size where int64 would already have overflowed. The disparate-
    // impact column (each language's rate against the best rate, in bp)
    // is the four-fifths-rule number reviewers ask for. One corpus pass
    // (the shared scorer), then a languages-sized frame and two scalar
    // broadcasts.
    "q236_accept_disparity" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
        val byLang = Materialize(
          qualityScored(docs)
            .join(docs.select(col("doc_id"), col("lang")), "doc_id")
            .groupBy("lang")
            .agg(count(lit(1)).as("n"), sum("pass").as("n_acc"))
            .withColumn("rate_bp", expr("n_acc * 10000 DIV n")))
        val tot = byLang.agg(sum("n").as("nt"), sum("n_acc").as("at"))
        val mx = byLang.agg(max("rate_bp").as("max_rate_bp"))
        byLang.crossJoin(broadcast(tot)).crossJoin(broadcast(mx))
          .withColumn("rest_n", expr("nt - n"))
          .withColumn("rest_acc", expr("at - n_acc"))
          .withColumn("rest_rate_bp",
            expr("(at - n_acc) * 10000 DIV (nt - n)"))
          .withColumn("diff",
            expr("n_acc * (rest_n - rest_acc) - (n - n_acc) * rest_acc"))
          .withColumn("sig", expr(
            """CASE WHEN CAST(nt AS DECIMAL(38,0))
              |    * CAST(diff AS DECIMAL(38,0))
              |    * CAST(diff AS DECIMAL(38,0)) * 1000
              |  > CAST(3841 AS DECIMAL(38,0))
              |    * CAST(n AS DECIMAL(38,0))
              |    * CAST(rest_n AS DECIMAL(38,0))
              |    * CAST(n_acc + rest_acc AS DECIMAL(38,0))
              |    * CAST(nt - n_acc - rest_acc AS DECIMAL(38,0))
              |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
              |  END""".stripMargin))
          .withColumn("rate_vs_max_bp", expr(
            """CASE WHEN max_rate_bp > 0
              | THEN rate_bp * 10000 DIV max_rate_bp END""".stripMargin))
          .select("lang", "n", "n_acc", "rate_bp", "rest_n", "rest_acc",
            "rest_rate_bp", "sig", "rate_vs_max_bp")
          .orderBy("lang")
      },
      Some(s"""WITH $duckQualityCtes,
              |bl AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(q.pass) AS BIGINT) AS n_acc
              |  FROM qsc q JOIN documents d ON q.doc_id = d.doc_id
              |  GROUP BY 1),
              |rl AS (SELECT *, n_acc * 10000 // n AS rate_bp FROM bl),
              |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
              |    CAST(sum(n_acc) AS BIGINT) AS at FROM rl),
              |m AS (SELECT CAST(max(rate_bp) AS BIGINT) AS max_rate_bp
              |  FROM rl)
              |SELECT lang, n, n_acc, CAST(rate_bp AS BIGINT) AS rate_bp,
              |  CAST(nt - n AS BIGINT) AS rest_n,
              |  CAST(at - n_acc AS BIGINT) AS rest_acc,
              |  CAST((at - n_acc) * 10000 // (nt - n) AS BIGINT)
              |    AS rest_rate_bp,
              |  CAST(CASE WHEN CAST(nt AS HUGEINT)
              |      * CAST(n_acc * ((nt - n) - (at - n_acc))
              |          - (n - n_acc) * (at - n_acc) AS HUGEINT)
              |      * CAST(n_acc * ((nt - n) - (at - n_acc))
              |          - (n - n_acc) * (at - n_acc) AS HUGEINT) * 1000
              |    > CAST(3841 AS HUGEINT) * CAST(n AS HUGEINT)
              |      * CAST(nt - n AS HUGEINT) * CAST(at AS HUGEINT)
              |      * CAST(nt - at AS HUGEINT)
              |    THEN 1 ELSE 0 END AS BIGINT) AS sig,
              |  CAST(CASE WHEN max_rate_bp > 0
              |    THEN rate_bp * 10000 // max_rate_bp END AS BIGINT)
              |    AS rate_vs_max_bp
              |FROM rl CROSS JOIN t CROSS JOIN m
              |ORDER BY lang""".stripMargin)),

    // ---- incremental delta dedup ------------------------------------------
    // The maintenance twin of q41: a NEW batch (a hash-drawn 20% of
    // documents — the q57 rule, decorrelated from the source layout —
    // simulating the next crawl drop) deduplicated against the existing
    // corpus and against itself, without re-deduplicating the base. The
    // base band table is the persisted index at 100 TB — building it is
    // amortized across drops — so the incremental cost is two equi-joins
    // keyed on the delta's band keys: delta ⋈ base (any collision drops
    // the newcomer) and delta ⋈ earlier-delta (first-id-wins inside the
    // batch, the q40 keep-min discipline). Decisions per document roll
    // up per source with an id-sum witness so the oracle hashes the full
    // decision vector. Same signature machinery as q41 — one native
    // shingle+minhash pass, materialized once, band fan-out 4.
    "q237_delta_dedup" -> QueryDef(
      (s, dir) => {
        val bands = Materialize(bandsMirror(s, dir)
          .select(col("doc_id"), col("source"),
            expr("""CASE WHEN CAST(conv(substring(md5(concat('delta_',
              |   doc_id)), 1, 8), 16, 10) AS BIGINT) % 5 = 0
              | THEN 1 ELSE 0 END""".stripMargin).as("is_delta"),
            col("band_id"), col("key")))
        val base = bands.filter(col("is_delta") === 0)
        val delta = bands.filter(col("is_delta") === 1)
        val vsBase = delta.as("d").join(base.as("b"),
            col("d.band_id") === col("b.band_id") &&
              col("d.key") === col("b.key"))
          .select(col("d.doc_id").as("doc_id")).distinct()
          .withColumn("hit_base", lit(1L))
        val intra = delta.as("a").join(delta.as("b"),
            col("a.band_id") === col("b.band_id") &&
              col("a.key") === col("b.key") &&
              col("b.doc_id") < col("a.doc_id"))
          .select(col("a.doc_id").as("doc_id")).distinct()
          .withColumn("hit_intra", lit(1L))
        delta.select("doc_id", "source").distinct()
          .join(vsBase, Seq("doc_id"), "left")
          .join(intra, Seq("doc_id"), "left")
          .withColumn("decision", expr(
            """CASE WHEN hit_base IS NOT NULL THEN 'drop_vs_base'
              | WHEN hit_intra IS NOT NULL THEN 'drop_intra'
              | ELSE 'keep' END""".stripMargin))
          .groupBy("source")
          .agg(count(lit(1)).as("n_delta"),
            sum(when(col("decision") === "drop_vs_base", 1L)
              .otherwise(0L)).as("n_drop_base"),
            sum(when(col("decision") === "drop_intra", 1L)
              .otherwise(0L)).as("n_drop_intra"),
            sum(when(col("decision") === "keep", 1L).otherwise(0L))
              .as("n_keep"),
            sum(when(col("decision") =!= "keep", col("doc_id"))
              .otherwise(0L)).as("dropped_id_sum"))
          .orderBy("source")
      },
      Some {
        val minhashes = (0 until 8).map { i =>
          s"""list_min(list_transform(hs,
             |   h -> (${minhashA(i)} * h + ${minhashB(i)}) % $MinhashP)) AS m$i""".stripMargin
        }.mkString(",\n ")
        val bands = (0 until 4).map { b =>
          s"SELECT doc_id, source, is_delta, $b AS band_id, " +
            s"m${2 * b}::VARCHAR || ',' || m${2 * b + 1}::VARCHAR AS key " +
            "FROM sig"
        }.mkString("\n UNION ALL ")
        s"""WITH ws AS (SELECT doc_id, source, $duckToks AS ws
           |  FROM documents),
           |hss AS (SELECT * FROM
           |    (SELECT doc_id, source,
           |       CASE WHEN CAST(('0x' || substr(md5('delta_' || doc_id),
           |           1, 8)) AS BIGINT) % 5 = 0 THEN 1 ELSE 0 END
           |         AS is_delta, $duckHs AS hs FROM ws)
           |  WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, source, is_delta, $minhashes FROM hss),
           |bands AS ($bands),
           |vb AS (SELECT DISTINCT d.doc_id FROM bands d JOIN bands b
           |    ON d.band_id = b.band_id AND d.key = b.key
           |  WHERE d.is_delta = 1 AND b.is_delta = 0),
           |ia AS (SELECT DISTINCT a.doc_id FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.key = b.key
           |      AND b.doc_id < a.doc_id
           |  WHERE a.is_delta = 1 AND b.is_delta = 1),
           |dd AS (SELECT DISTINCT doc_id, source FROM bands
           |  WHERE is_delta = 1),
           |dec AS (SELECT dd.doc_id, dd.source,
           |    CASE WHEN vb.doc_id IS NOT NULL THEN 'drop_vs_base'
           |      WHEN ia.doc_id IS NOT NULL THEN 'drop_intra'
           |      ELSE 'keep' END AS decision
           |  FROM dd LEFT JOIN vb ON dd.doc_id = vb.doc_id
           |    LEFT JOIN ia ON dd.doc_id = ia.doc_id)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_delta,
           |  CAST(sum(CASE WHEN decision = 'drop_vs_base' THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_drop_base,
           |  CAST(sum(CASE WHEN decision = 'drop_intra' THEN 1 ELSE 0
           |    END) AS BIGINT) AS n_drop_intra,
           |  CAST(sum(CASE WHEN decision = 'keep' THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_keep,
           |  CAST(sum(CASE WHEN decision <> 'keep' THEN doc_id ELSE 0
           |    END) AS BIGINT) AS dropped_id_sum
           |FROM dec GROUP BY source ORDER BY source""".stripMargin
      }),

    // ---- PMI collocation mining --------------------------------------------
    // Pointwise mutual information over adjacent bigrams — the standard
    // collocation extractor (and the building block of PMI-filtered
    // phrase vocabularies): pmi = ln(p(w1,w2) / (p(w1)·p(w2))) with the
    // bigram probability over total bigram mass and the unigram
    // probabilities over total token mass, reported in exact floor'd
    // micro-nats (the q199/q193 fixed-point rule — both engines evaluate
    // the IDENTICAL double expression, so the floor is bit-stable). A
    // minimum-count cut (c12 ≥ 5) removes the degenerate high-PMI
    // singletons every PMI ranking drowns in. Scale shape: one linear
    // bigram explode into a groupBy, one unigram groupBy, two vocab-sized
    // equi-joins back onto the (already aggregated, vocab²-bounded)
    // bigram frame, two scalar broadcasts, and a top-25 that compiles to
    // TakeOrderedAndProject — no global sort, no corpus-sized window.
    "q238_pmi_collocations" -> QueryDef(
      (s, dir) => {
        val toks = tableParallel(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ws"))
        val bg = Materialize(toks.filter(size(col("ws")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(ws) - 1),
              | i -> struct(element_at(ws, i) AS w1,
              |             element_at(ws, i + 1) AS w2))""".stripMargin))
            .as("b"))
          .select(col("b.w1"), col("b.w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
        val ug = Materialize(toks
          .select(explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cu")))
        val nb = bg.agg(sum("c12").as("nb"))
        val nu = ug.agg(sum("cu").as("nu"))
        bg.filter(col("c12") >= 5)
          .join(ug.select(col("w").as("w1"), col("cu").as("c1")), "w1")
          .join(ug.select(col("w").as("w2"), col("cu").as("c2")), "w2")
          .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
          .withColumn("pmi_m", expr(
            """CAST(floor(ln(CAST(c12 AS DOUBLE) * nu * nu
              | / (CAST(nb AS DOUBLE) * c1 * c2)) * 1e6) AS BIGINT)"""
              .stripMargin))
          .select("w1", "w2", "c12", "c1", "c2", "pmi_m")
          .orderBy(col("pmi_m").desc, col("w1"), col("w2"))
          .limit(25)
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |b AS (SELECT unnest(ws[1:len(ws) - 1]) AS w1,
              |    unnest(ws[2:len(ws)]) AS w2
              |  FROM w WHERE len(ws) >= 2),
              |bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
              |  FROM b GROUP BY 1, 2),
              |ug AS (SELECT unnest(ws) AS w FROM w),
              |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
              |  FROM ug GROUP BY 1),
              |nbt AS (SELECT CAST(sum(c12) AS BIGINT) AS nb FROM bg),
              |nut AS (SELECT CAST(sum(cu) AS BIGINT) AS nu FROM uc)
              |SELECT w1, w2, c12, u1.cu AS c1, u2.cu AS c2,
              |  CAST(floor(ln(CAST(c12 AS DOUBLE) * nu * nu
              |    / (CAST(nb AS DOUBLE) * u1.cu * u2.cu)) * 1e6)
              |    AS BIGINT) AS pmi_m
              |FROM bg JOIN uc u1 ON bg.w1 = u1.w
              |  JOIN uc u2 ON bg.w2 = u2.w
              |  CROSS JOIN nbt CROSS JOIN nut
              |WHERE c12 >= 5
              |ORDER BY pmi_m DESC, w1, w2 LIMIT 25""".stripMargin)),

    // ---- corpus concentration (Lorenz / Gini / HHI) ------------------------
    // How concentrated is the token mass across sources? The mixture-
    // design prerequisite: a corpus whose mass is one source in disguise
    // defeats every downstream mixing knob. Per source: token mass, its
    // basis-point share, the Lorenz cumulative share (sources ranked
    // ascending by mass — the curve the Gini integrates), and two
    // corpus-level constants on every row: the exact integer Gini
    // gini_bp = (2·Σ rk·mass − (n+1)·T)·10000 / (n·T) (non-negative by
    // the rearrangement inequality, so DIV and // agree) and the
    // Herfindahl–Hirschman index hhi_bp = Σ share_bp² / 10000. Scale
    // shape: ONE corpus pass to the per-source frame; every window and
    // aggregate after that runs on the sources-sized frame only (the
    // q227 rule) — the unpartitioned window is over sources, never rows.
    "q239_source_concentration" -> QueryDef(
      (s, dir) => {
        val st = Materialize(tableParallel(s, dir, "documents")
          .select(col("source"),
            size(tokens(col("text"))).cast("long").as("t"))
          .groupBy("source").agg(sum("t").as("mass")))
        val tot = st.agg(sum("mass").as("total"),
          count(lit(1)).as("n_src"))
        val wAsc = Window.orderBy(col("mass").asc, col("source").asc)
        val ranked = Materialize(st.crossJoin(broadcast(tot))
          .withColumn("rk", row_number().over(wAsc).cast("long"))
          .withColumn("cum_mass", sum(col("mass")).over(
            wAsc.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .withColumn("share_bp", expr("mass * 10000 DIV total"))
          .withColumn("cum_share_bp",
            expr("cum_mass * 10000 DIV total")))
        val consts = ranked.agg(
          expr("""(2 * sum(rk * mass) - (max(n_src) + 1) * max(total))
                | * 10000 DIV (max(n_src) * max(total))""".stripMargin)
            .as("gini_bp"),
          expr("sum(share_bp * share_bp) DIV 10000").as("hhi_bp"))
        ranked.crossJoin(broadcast(consts))
          .select("source", "mass", "rk", "share_bp", "cum_share_bp",
            "n_src", "total", "gini_bp", "hhi_bp")
          .orderBy("rk")
      },
      Some(s"""WITH w AS (SELECT source,
              |    CAST(len($duckToks) AS BIGINT) AS t FROM documents),
              |st AS (SELECT source, CAST(sum(t) AS BIGINT) AS mass
              |  FROM w GROUP BY 1),
              |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS total,
              |    CAST(count(*) AS BIGINT) AS n_src FROM st),
              |rkd AS (SELECT source, mass, total, n_src,
              |    CAST(row_number() OVER
              |      (ORDER BY mass ASC, source ASC) AS BIGINT) AS rk,
              |    sum(mass) OVER (ORDER BY mass ASC, source ASC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS cum_mass,
              |    mass * 10000 // total AS share_bp,
              |    sum(mass) OVER (ORDER BY mass ASC, source ASC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      * 10000 // total AS cum_share_bp
              |  FROM st CROSS JOIN tot),
              |cst AS (SELECT
              |    CAST((2 * sum(rk * mass) - (max(n_src) + 1)
              |        * max(total)) * 10000
              |      // (max(n_src) * max(total)) AS BIGINT) AS gini_bp,
              |    CAST(sum(share_bp * share_bp) // 10000 AS BIGINT)
              |      AS hhi_bp
              |  FROM rkd)
              |SELECT source, mass, rk,
              |  CAST(share_bp AS BIGINT) AS share_bp,
              |  CAST(cum_share_bp AS BIGINT) AS cum_share_bp,
              |  n_src, total, gini_bp, hhi_bp
              |FROM rkd CROSS JOIN cst ORDER BY rk""".stripMargin)),

    // ---- Mann–Whitney U quality comparison ---------------------------------
    // Does source X's quality-score distribution genuinely differ from
    // the rest of the corpus, without assuming normality? The
    // rank-sum test, computed WITHOUT a global rank: U's counting form
    // Σ_v x_v·(rest strictly below v) + x_v·(rest tied at v)/2 needs
    // only per-DISTINCT-VALUE counts and their cumulative sums — and the
    // scorer's integer range bounds the distinct-value frame by
    // construction, so the unpartitioned window runs over a
    // score-range-sized frame, never the corpus (doubling to 2U keeps
    // the tie half-credits integer). The z² decision at α = 0.05 is the
    // exact cross-multiplication 3·(2U − nm)²·N(N−1)·10⁴ >
    // 38416·nm·((N+1)N(N−1) − Σ(t³−t)), computed with the common
    // factor 96 cancelled first — W = N(N−1) DIV 2 and V =
    // (N(N²−1) − Σ(t³−t)) DIV 6 are EXACT integer divisions (both
    // numerators are always divisible: consecutive-integer product and
    // t³−t ≡ 0 mod 6), leaving 625·(2U−nm)²·W > 2401·nm·V in
    // DECIMAL(38,0)/HUGEINT — the tie-corrected normal approximation
    // with no division-truncation, no sqrt, no float (the q236
    // discipline). Width bound: the worst case 625·(nm)²·N²/2 ≈
    // 19.5·N⁶ stays inside DECIMAL(38,0) to N ≈ 2·10⁶ docs; past that
    // the exact decision must run on a uniform sample or per shard — a
    // 10⁶-doc sample already saturates the test's power, so the cap is
    // a sampling contract, not a correctness cliff (and the engines
    // agree bit-for-bit everywhere the contract holds). rank-biserial
    // effect size in bp, computed in DECIMAL(38,0) so 2U·10⁴ cannot
    // wrap int64 at nm > 4.6e14 (sign-safe: the DIV runs on the
    // non-negative 2U·10⁴/(nm) before the shift, where DIV and //
    // agree; decimal DIV truncates like the integer twin).
    "q240_mannwhitney_quality" -> QueryDef(
      (s, dir) => {
        val sc = Materialize(
          qualityScored(tableParallel(s, dir, "documents"))
            .select(col("source"), col("score")))
        val tv = Materialize(
          sc.groupBy("score").agg(count(lit(1)).as("t")))
        val wAll = Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, -1)
        val tvc = tv.withColumn("ctb",
          coalesce(sum(col("t")).over(wAll), lit(0L)))
        val wSrc = Window.partitionBy("source").orderBy("score")
          .rowsBetween(Window.unboundedPreceding, -1)
        val svc = sc.groupBy("source", "score")
          .agg(count(lit(1)).as("x"))
          .withColumn("csb",
            coalesce(sum(col("x")).over(wSrc), lit(0L)))
        val perSrc = svc.join(tvc, "score")
          .withColumn("contrib",
            expr("2 * x * (ctb - csb) + x * (t - x)"))
          .groupBy("source")
          .agg(sum("x").as("n"), sum("contrib").as("u2"))
        val nt = sc.agg(count(lit(1)).as("nt"))
        val ties = tv.agg(sum(expr("t * t * t - t")).as("s_ties"))
        perSrc.crossJoin(broadcast(nt)).crossJoin(broadcast(ties))
          .withColumn("m", expr("nt - n"))
          .withColumn("rb_bp", expr(
            """CAST(CAST(u2 AS DECIMAL(38,0)) * 10000
              |  DIV (CAST(n AS DECIMAL(38,0)) * m) AS BIGINT)
              |  - 10000""".stripMargin))
          .withColumn("sig", expr(
            """CASE WHEN CAST(625 AS DECIMAL(38,0))
              |    * CAST(u2 - n * m AS DECIMAL(38,0))
              |    * CAST(u2 - n * m AS DECIMAL(38,0))
              |    * (CAST(nt AS DECIMAL(38,0))
              |        * CAST(nt - 1 AS DECIMAL(38,0)) DIV 2)
              |  > CAST(2401 AS DECIMAL(38,0))
              |    * CAST(n AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))
              |    * ((CAST(nt + 1 AS DECIMAL(38,0))
              |         * CAST(nt AS DECIMAL(38,0))
              |         * CAST(nt - 1 AS DECIMAL(38,0))
              |       - CAST(s_ties AS DECIMAL(38,0))) DIV 6)
              |  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
              |  END""".stripMargin))
          .select("source", "n", "m", "u2", "rb_bp", "sig")
          .orderBy("source")
      },
      Some(s"""WITH $duckQualityCtes,
              |sc AS (SELECT source, score FROM qsc),
              |tv AS (SELECT score, CAST(count(*) AS BIGINT) AS t
              |  FROM sc GROUP BY 1),
              |tvc AS (SELECT score, t,
              |    COALESCE(sum(t) OVER (ORDER BY score
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) AS ctb
              |  FROM tv),
              |sv AS (SELECT source, score,
              |    CAST(count(*) AS BIGINT) AS x
              |  FROM sc GROUP BY 1, 2),
              |svc AS (SELECT source, score, x,
              |    COALESCE(sum(x) OVER (PARTITION BY source
              |      ORDER BY score
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) AS csb
              |  FROM sv),
              |ps AS (SELECT source, CAST(sum(x) AS BIGINT) AS n,
              |    CAST(sum(2 * x * (ctb - csb) + x * (t - x))
              |      AS BIGINT) AS u2
              |  FROM svc JOIN tvc USING (score) GROUP BY 1),
              |ntt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM sc),
              |stt AS (SELECT CAST(sum(t * t * t - t) AS BIGINT)
              |    AS s_ties FROM tv)
              |SELECT source, n, CAST(nt - n AS BIGINT) AS m, u2,
              |  CAST(CAST(u2 AS HUGEINT) * 10000
              |    // (CAST(n AS HUGEINT) * (nt - n)) - 10000 AS BIGINT)
              |    AS rb_bp,
              |  CAST(CASE WHEN CAST(625 AS HUGEINT)
              |      * CAST(u2 - n * (nt - n) AS HUGEINT)
              |      * CAST(u2 - n * (nt - n) AS HUGEINT)
              |      * (CAST(nt AS HUGEINT) * CAST(nt - 1 AS HUGEINT)
              |         // 2)
              |    > CAST(2401 AS HUGEINT) * CAST(n AS HUGEINT)
              |      * CAST(nt - n AS HUGEINT)
              |      * ((CAST(nt + 1 AS HUGEINT) * CAST(nt AS HUGEINT)
              |           * CAST(nt - 1 AS HUGEINT)
              |         - CAST(s_ties AS HUGEINT)) // 6)
              |    THEN 1 ELSE 0 END AS BIGINT) AS sig
              |FROM ps CROSS JOIN ntt CROSS JOIN stt
              |ORDER BY source""".stripMargin)),

    // ---- winnowing fingerprints --------------------------------------------
    // Local document fingerprinting by winnowing (Schleimer, Wilkerson &
    // Aiken 2003 — the MOSS algorithm): hash every char 5-gram, slide a
    // window of w = 4 consecutive hashes, and select each window's
    // MINIMUM (ties → rightmost), deduplicating selected positions. The
    // guarantee the shingle/minhash family cannot give: any substring
    // match of length ≥ w + k − 1 = 8 chars is CERTAIN to share a
    // fingerprint — detection is deterministic, not probabilistic — at
    // an expected density of only 2/(w+1) of positions. The audit
    // reports per-source density against that theoretical rate plus the
    // cross-document fingerprint-sharing rate (the boilerplate signal
    // winnowing exists to find). Scale shape: fingerprint selection is
    // pure map-side array code in ONE corpus pass (the per-doc frame is
    // cached once and feeds both aggregations); only the SELECTED
    // ~2/(w+1) fraction of hashes ever reaches the sharing shuffle, and
    // per-source output is bounded. Fingerprints encode as
    // pos·2³² + hash32 in one int64 (hash32 < 2³², exact).
    "q243_winnowing_fingerprints" -> QueryDef(
      (s, dir) => {
        val k = 5; val w = 4
        // fingerprint selection is ONE native pass per doc
        // (WinnowFingerprints — same hashes, same rightmost-tie minima,
        // same pos·2³²+hash encoding, same first-occurrence dedup); the
        // old interpreted transform/slice/array_min chain cost O(len·w)
        // lambda evaluations per document and dominated this query
        val fp = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            lower(trim(col("text"))).as("lt"))
          .filter(length(col("lt")) >= k + w - 1)
          .withColumn("nw", length(col("lt")) - lit(k + w - 2))
          .withColumn("fps",
            WinnowFingerprints.of(col("lt"), lit(k), lit(w)))
          .select("doc_id", "source", "nw", "fps"))
        val st = fp.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("nw").as("n_windows"),
            sum(size(col("fps"))).as("n_fps"))
        val sh = fp
          .select(col("source"), col("doc_id"),
            explode(col("fps")).as("fpk"))
          .withColumn("h", expr("fpk % 4294967296"))
          .groupBy("source", "h")
          .agg(countDistinct("doc_id").as("nd"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_distinct_h"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_h"))
        st.join(sh, "source")
          .withColumn("density_bp", expr("n_fps * 10000 DIV n_windows"))
          .withColumn("shared_bp",
            expr("n_shared_h * 10000 DIV n_distinct_h"))
          .select("source", "n_docs", "n_windows", "n_fps", "density_bp",
            "n_distinct_h", "n_shared_h", "shared_bp")
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, lower(trim(text)) AS lt
             |  FROM documents WHERE length(lower(trim(text))) >= 8),
             |g AS (SELECT doc_id, source,
             |    [CAST(('0x' || substr(md5(substr(lt, i, 5)), 1, 8))
             |       AS BIGINT)
             |     for i in range(1, length(lt) - 3)] AS hs
             |  FROM d),
             |f AS (SELECT doc_id, source,
             |    CAST(len(hs) - 3 AS BIGINT) AS nw,
             |    list_distinct([
             |      (list_filter(range(i, i + 4),
             |         j -> hs[j] = list_min(hs[i:i+3])))[-1] * 4294967296
             |        + list_min(hs[i:i+3])
             |      for i in range(1, len(hs) - 2)]) AS fps
             |  FROM g),
             |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(nw) AS BIGINT) AS n_windows,
             |    CAST(sum(len(fps)) AS BIGINT) AS n_fps
             |  FROM f GROUP BY 1),
             |e AS (SELECT source, doc_id, unnest(fps) % 4294967296 AS h
             |  FROM f),
             |hh AS (SELECT source, h, count(DISTINCT doc_id) AS nd
             |  FROM e GROUP BY 1, 2),
             |sh AS (SELECT source,
             |    CAST(count(*) AS BIGINT) AS n_distinct_h,
             |    CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_shared_h
             |  FROM hh GROUP BY 1)
             |SELECT st.source, n_docs, n_windows, n_fps,
             |  CAST(n_fps * 10000 // n_windows AS BIGINT) AS density_bp,
             |  n_distinct_h, n_shared_h,
             |  CAST(n_shared_h * 10000 // n_distinct_h AS BIGINT)
             |    AS shared_bp
             |FROM st JOIN sh ON st.source = sh.source
             |ORDER BY st.source""".stripMargin)),

    // ---- record-linkage blocking quality audit ----------------------------
    // Every at-scale entity-resolution / fuzzy-dedup pipeline (q83,
    // q41-q43) runs behind a BLOCKING scheme; this audits three
    // candidate schemes (length bucket, 16-char prefix, first token)
    // with the two standard metrics: pair completeness (recall of true
    // near-dup pairs among candidates) and reduction ratio (candidate
    // pairs eliminated vs the full N²/2). Ground truth = the q43
    // shingle-Jaccard ≥ 0.8 pairs. The candidate count comes from
    // Σ b·(b−1)/2 over block SIZES — candidate pairs are never
    // materialized, which is exactly why the audit itself runs at
    // 100 TB (the blocks frame is |distinct keys|; only the
    // truth-pair probe touches pair granularity, and truth is the
    // small side by construction).
    "q262_blocking_quality_audit" -> QueryDef(
      (s, dir) => {
        // truth pairs under the production stop-shingle df cut (the
        // q145 setting — the uncut self-join is whitelisted only for
        // the exact-semantics demos), read from the staged pair mirror
        val truth = Materialize(shPairsMirror(s, dir,
          Some(graft.operators.CorpusPipeline.DefaultStopShingleDf), 0.8)
          .select("doc_a", "doc_b"))
        val docsP = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            lower(trim(col("text"))).as("lt")))
        val keys = Materialize(
          docsP.select(lit("len50").as("scheme"), col("doc_id"),
              expr("CAST(n_chars DIV 50 AS STRING)").as("bkey"))
            .unionAll(docsP.select(lit("prefix16"), col("doc_id"),
              substring(col("lt"), 1, 16)))
            .unionAll(docsP.select(lit("token1"), col("doc_id"),
              element_at(split(col("lt"), "\\s+"), 1))))
        val blocks = keys.groupBy("scheme", "bkey")
          .agg(count(lit(1)).as("b"))
        val cand = blocks.groupBy("scheme")
          .agg(count(lit(1)).as("n_blocks"),
            sum(expr("b * (b - 1) DIV 2")).as("cand_pairs"))
        val ka = keys.select(col("scheme"), col("doc_id").as("doc_a"),
          col("bkey").as("ka"))
        val kb = keys.select(col("scheme"), col("doc_id").as("doc_b"),
          col("bkey").as("kb"))
        val caught = truth.join(ka, Seq("doc_a"))
          .join(kb, Seq("scheme", "doc_b"))
          .filter(col("ka") === col("kb"))
          .groupBy("scheme").agg(count(lit(1)).as("caught"))
        val nTrue = truth.agg(count(lit(1)).as("n_true"))
        val nDocs = docsP.agg(count(lit(1)).as("ndocs"))
        cand.join(caught, Seq("scheme"), "left")
          .crossJoin(broadcast(nTrue)).crossJoin(broadcast(nDocs))
          .select(col("scheme"), col("n_blocks"), col("cand_pairs"),
            col("n_true").as("true_pairs"),
            coalesce(col("caught"), lit(0L)).as("caught_pairs"),
            expr("coalesce(caught, 0) * 10000 DIV n_true").as("pc_bp"),
            expr("10000 - cand_pairs * 10000 " +
              "DIV (ndocs * (ndocs - 1) DIV 2)").as("rr_bp"))
          .orderBy("scheme")
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws
              |  FROM documents),
              |sh0 AS (SELECT doc_id, unnest(hs) AS sh
              |       FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |${duckStopShingles(
                 graft.operators.CorpusPipeline.DefaultStopShingleDf)},
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh
              |  GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    count(*) AS i
              |  FROM sh a JOIN sh b ON a.sh = b.sh
              |    AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |truth AS (SELECT doc_a, doc_b FROM inter
              |  JOIN sizes sa ON sa.doc_id = doc_a
              |  JOIN sizes sb ON sb.doc_id = doc_b
              |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
              |keys AS (
              |  SELECT 'len50' AS scheme, doc_id,
              |    CAST(n_chars // 50 AS VARCHAR) AS bkey FROM documents
              |  UNION ALL SELECT 'prefix16', doc_id,
              |    substr(lower(trim(text)), 1, 16) FROM documents
              |  UNION ALL SELECT 'token1', doc_id,
              |    regexp_split_to_array(lower(trim(text)), '\\s+')[1]
              |    FROM documents),
              |blocks AS (SELECT scheme, bkey,
              |    CAST(count(*) AS BIGINT) AS b
              |  FROM keys GROUP BY 1, 2),
              |cand AS (SELECT scheme,
              |    CAST(count(*) AS BIGINT) AS n_blocks,
              |    CAST(sum(b * (b - 1) // 2) AS BIGINT) AS cand_pairs
              |  FROM blocks GROUP BY 1),
              |ca AS (SELECT ka.scheme,
              |    CAST(count(*) AS BIGINT) AS caught
              |  FROM truth t JOIN keys ka ON ka.doc_id = t.doc_a
              |  JOIN keys kb ON kb.doc_id = t.doc_b
              |    AND kb.scheme = ka.scheme
              |  WHERE ka.bkey = kb.bkey GROUP BY 1),
              |tt AS (SELECT CAST(count(*) AS BIGINT) AS n_true
              |  FROM truth),
              |nd AS (SELECT CAST(count(*) AS BIGINT) AS ndocs
              |  FROM documents)
              |SELECT cand.scheme, n_blocks, cand_pairs,
              |  n_true AS true_pairs,
              |  CAST(coalesce(caught, 0) AS BIGINT) AS caught_pairs,
              |  CAST(coalesce(caught, 0) * 10000 // n_true AS BIGINT)
              |    AS pc_bp,
              |  CAST(10000 - cand_pairs * 10000
              |    // (ndocs * (ndocs - 1) // 2) AS BIGINT) AS rr_bp
              |FROM cand LEFT JOIN ca ON cand.scheme = ca.scheme
              |CROSS JOIN tt CROSS JOIN nd
              |ORDER BY cand.scheme""".stripMargin)),

    // ---- BM25 query-by-document top-k retrieval ---------------------------
    // q139 scores ONE fixed term set against the corpus; this is the
    // batch retrieval JOIN the RRF fusion (q177) and distillation
    // pipelines actually consume — a query SET (5 query docs, bounded
    // slice; at scale: the training-batch queries) ranked against the
    // corpus through the postings equi-join, the q140 inverted index
    // put to work. Same BM25 (k1=1.2, b=0.75).
    // Score determinism at scale: each (term, doc) contribution is
    // rounded to 1e-4 fixed point FIRST and the per-doc score is an
    // INTEGER sum of those — float summation order across partitions
    // cannot perturb the ranking (the q74 rounded-rank rule, upgraded
    // from round-at-the-end to order-independent-by-construction).
    // idf = ln(1 + (N−df+0.5)/(df+0.5)) — Lucene's non-negative form.
    "q267_bm25_topk" -> QueryDef(
      (s, dir) => {
        // postings is the only consumer of the token explode — caching
        // the exploded table bought nothing and cost a full extra pass
        val postings = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"),
            explode(tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term")
          .agg(count(lit(1)).as("tf")))
        // dl has TWO consumers (the stats aggregate and the per-doc join)
        // — each re-ran the groupBy over the postings cache. Lazy cut:
        // the first consumer's job aggregates once, the second scans the
        // checkpointed per-doc blocks. Values identical (long sums).
        val dl = Materialize.lazyCheckpointed(postings.groupBy("doc_id")
          .agg(sum("tf").as("dl")))
        val stats = dl.agg(count(lit(1)).as("n_docs"),
          (sum("dl") * lit(1.0) / count(lit(1))).as("avgdl"))
        val df = postings.groupBy("term")
          .agg(count(lit(1)).as("df"))
        val qt = postings.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("term"))
        val scored = qt.join(postings, Seq("term"))
          .filter(col("doc_id") =!= col("qid"))
          .join(broadcast(df), Seq("term"))
          .join(dl, Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("contrib", expr(
            """CAST(round(
              |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
              |  (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
              |  * 10000) AS BIGINT)""".stripMargin))
          .groupBy("qid", "doc_id")
          .agg(sum("contrib").as("score_fp"))
        val w = Window.partitionBy("qid")
          .orderBy(desc("score_fp"), col("doc_id"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
          .select(col("qid"), col("rank").cast("long").as("rank"),
            col("doc_id"), col("score_fp"))
          .orderBy("qid", "rank")
      },
      Some(s"""WITH toks AS (SELECT doc_id, unnest($duckToks) AS term
              |  FROM documents),
              |postings AS (SELECT doc_id, term,
              |    CAST(count(*) AS BIGINT) AS tf
              |  FROM toks GROUP BY 1, 2),
              |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
              |  FROM postings GROUP BY 1),
              |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |    sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
              |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
              |  FROM postings GROUP BY 1),
              |qt AS (SELECT doc_id AS qid, term FROM postings
              |  WHERE doc_id < 5),
              |sc AS (SELECT qt.qid, p.doc_id,
              |    CAST(sum(CAST(round(
              |      ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5)) *
              |      (p.tf * 2.2) /
              |      (p.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
              |      * 10000) AS BIGINT)) AS BIGINT) AS score_fp
              |  FROM qt JOIN postings p USING (term)
              |  JOIN df USING (term)
              |  JOIN dl ON dl.doc_id = p.doc_id
              |  CROSS JOIN stats
              |  WHERE p.doc_id <> qt.qid
              |  GROUP BY 1, 2),
              |rk AS (SELECT qid, doc_id, score_fp,
              |    row_number() OVER (PARTITION BY qid
              |      ORDER BY score_fp DESC, doc_id) AS rank
              |  FROM sc)
              |SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id,
              |  score_fp
              |FROM rk WHERE rank <= 10
              |ORDER BY qid, rank""".stripMargin)),

    // ---- segment-level global dedup (C4 line-dedup shape) -----------------
    // The C4/RefinedWeb cleaning step the doc-level dedups (q40-q43)
    // deliberately do NOT cover: boilerplate repeats BELOW document
    // granularity (navigation lines, license headers, quoted passages),
    // so the unit of dedup is the SEGMENT — here a 10-token chunk, the
    // stand-in for a newline-split line in the synthetic corpus — and
    // the policy is first-global-occurrence-wins, all later copies
    // dropped. 100 TB shape: one narrow corpus pass builds the chunk
    // hashes (codegen'd array expressions, no shuffle), the only
    // shuffle is the hash-keyed groupBy for the global min-owner and
    // the equi-join back — never a pairwise comparison. The owner key
    // packs (doc_id, seg_idx) into one int64 so "first occurrence" is
    // a single min() with no tie-break join; ordering by doc then
    // position matches the sequential-scan semantics of the C4
    // pipeline exactly.
    "q271_segment_dedup" -> QueryDef(
      (s, dir) => {
        val seg = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"), tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= 10)
          // native strided window hasher (stride = n = 10: disjoint
          // segments) — bit-identical to the old interpreted chain
          .withColumn("segs", WindowHashes.of(col("ws"), lit(10), lit(10)))
          .select(col("doc_id"), col("source"),
            posexplode(col("segs")).as(Seq("seg_idx", "h")))
          .withColumn("owner",
            col("doc_id") * 1000000L + col("seg_idx")))
        val first = seg.groupBy("h").agg(min("owner").as("keep"))
        seg.join(first, "h")
          .withColumn("rm",
            when(col("owner") =!= col("keep"), 1L).otherwise(0L))
          .groupBy("source")
          .agg(countDistinct("doc_id").as("n_docs"),
            count(lit(1)).as("n_segments"),
            sum("rm").as("n_removed"),
            countDistinct(when(col("rm") === 1L, col("doc_id")))
              .as("docs_affected"))
          .withColumn("removed_bp",
            expr("n_removed * 10000 DIV n_segments"))
          .select("source", "n_docs", "n_segments", "n_removed",
            "removed_bp", "docs_affected")
          .orderBy("source")
      },
      Some(s"""WITH w AS (SELECT doc_id, source, $duckToks AS ws
             |  FROM documents),
             |g AS (SELECT doc_id, source,
             |    [CAST(('0x' || substr(md5(
             |       array_to_string(ws[j*10+1:j*10+10], ' ')), 1, 8))
             |       AS BIGINT)
             |     for j in range(0, len(ws) // 10)] AS segs
             |  FROM w WHERE len(ws) >= 10),
             |e AS (SELECT doc_id, source,
             |    unnest(range(0, len(segs))) AS seg_idx,
             |    unnest(segs) AS h
             |  FROM g),
             |o AS (SELECT doc_id, source, h,
             |    doc_id * 1000000 + seg_idx AS owner FROM e),
             |f AS (SELECT h, min(owner) AS keep FROM o GROUP BY 1),
             |j AS (SELECT o.source, o.doc_id,
             |    CASE WHEN o.owner <> f.keep THEN 1 ELSE 0 END AS rm
             |  FROM o JOIN f ON o.h = f.h),
             |st AS (SELECT source,
             |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |    CAST(count(*) AS BIGINT) AS n_segments,
             |    CAST(sum(rm) AS BIGINT) AS n_removed,
             |    CAST(count(DISTINCT CASE WHEN rm = 1 THEN doc_id END)
             |      AS BIGINT) AS docs_affected
             |  FROM j GROUP BY 1)
             |SELECT source, n_docs, n_segments, n_removed,
             |  CAST(n_removed * 10000 // n_segments AS BIGINT)
             |    AS removed_bp,
             |  docs_affected
             |FROM st ORDER BY source""".stripMargin)),

    // ---- exact ROC-AUC scorer leaderboard ---------------------------------
    // Classifier evaluation without a threshold sweep (q220 does the
    // sweep): AUC computed EXACTLY from the rank-sum identity
    // AUC = U/(n1·n0), U = Σ_v f1(v)·(cum0_before(v) + f0(v)/2), kept
    // integer by working with 2U. Three candidate quality scorers
    // (n_chars, token count, lexical diversity) are ranked against the
    // lang='en' label side by side — the scorer-selection loop of a
    // filter pipeline, as one query. 100 TB shape: per-doc features are
    // one narrow pass; the ×3 scorer fan-out happens AFTER per-doc
    // reduction; AUC is then computed on the per-(scorer, value)
    // compressed frame (|V| rows), whose cumulative window partitions
    // by scorer — never a pairwise pos×neg join (the O(n1·n0) spelling
    // this identity exists to avoid). The final products run in
    // DECIMAL(38,0)/HUGEINT so n1·n0 cannot wrap at corpus scale.
    "q275_roc_auc" -> QueryDef(
      (s, dir) => {
        val scored = tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            tokens(col("text")).as("ws"))
          .withColumn("lbl",
            when(col("lang") === "en", 1L).otherwise(0L))
          .withColumn("toks", size(col("ws")).cast("long"))
          .withColumn("lexdiv", expr(
            "CAST(size(array_distinct(ws)) * 10000 DIV size(ws) " +
              "AS BIGINT)"))
          .select(col("lbl"),
            expr("stack(3, 'len', n_chars, 'toks', toks, " +
              "'lexdiv', lexdiv)").as(Seq("scorer", "v")))
        val freq = scored.groupBy("scorer", "v")
          .agg(sum("lbl").as("f1"),
            sum(expr("1 - lbl")).as("f0"))
        val cum = freq.withColumn("cum0_before",
          coalesce(sum("f0").over(
            Window.partitionBy("scorer").orderBy("v")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        cum.groupBy("scorer")
          .agg(sum("f1").as("n1"), sum("f0").as("n0"),
            sum(expr("f1 * (2 * cum0_before + f0)")).as("u2"))
          .withColumn("auc_bp", expr(
            "CAST(CAST(u2 AS DECIMAL(38,0)) * 10000 DIV " +
              "(2 * CAST(n1 AS DECIMAL(38,0)) * n0) AS BIGINT)"))
          .select("scorer", "n1", "n0", "u2", "auc_bp")
          .orderBy("scorer")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, n_chars, $duckToks AS ws
             |  FROM documents),
             |f AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lbl,
             |    n_chars AS len, CAST(len(ws) AS BIGINT) AS toks,
             |    len(list_distinct(ws)) * 10000 // len(ws) AS lexdiv
             |  FROM d),
             |sc AS (SELECT lbl, 'len' AS scorer, len AS v FROM f
             |  UNION ALL SELECT lbl, 'toks', toks FROM f
             |  UNION ALL SELECT lbl, 'lexdiv', lexdiv FROM f),
             |fr AS (SELECT scorer, v, CAST(sum(lbl) AS BIGINT) AS f1,
             |    CAST(sum(1 - lbl) AS BIGINT) AS f0
             |  FROM sc GROUP BY 1, 2),
             |cm AS (SELECT *, COALESCE(sum(f0) OVER (PARTITION BY scorer
             |      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) AS cum0_before
             |  FROM fr),
             |ag AS (SELECT scorer, CAST(sum(f1) AS BIGINT) AS n1,
             |    CAST(sum(f0) AS BIGINT) AS n0,
             |    CAST(sum(f1 * (2 * cum0_before + f0)) AS BIGINT) AS u2
             |  FROM cm GROUP BY 1)
             |SELECT scorer, n1, n0, u2,
             |  CAST(CAST(u2 AS HUGEINT) * 10000 //
             |    (2 * CAST(n1 AS HUGEINT) * n0) AS BIGINT) AS auc_bp
             |FROM ag ORDER BY scorer""".stripMargin)),

    // ---- MAD robust outlier screen ----------------------------------------
    // The robust counterpart of a z-score filter: median absolute
    // deviation is immune to the very outliers it hunts (a corrupted
    // batch of 10x-length docs shifts a mean+stddev screen but not
    // this one). Medians are EXACT order statistics — the
    // (n+1) DIV 2-th smallest via row_number with a doc_id tie-break,
    // identical in both engines; no approx_percentile, no floats.
    // Outlier rule: |x − med| > 3·max(MAD, 1). Scale shape: two
    // source-partitioned window passes + two broadcast joins of
    // |sources|-row frames; the skewed-source variant computes the
    // same order statistic from the per-source value-compressed CDF.
    "q279_mad_outliers" -> QueryDef(
      (s, dir) => {
        val docs = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")))
        val ns = docs.groupBy("source").agg(count(lit(1)).as("n"))
        val med = docs
          .withColumn("r", row_number().over(
            Window.partitionBy("source").orderBy("n_chars", "doc_id")))
          .join(ns, "source")
          .filter(col("r") === expr("(n + 1) DIV 2"))
          .select(col("source"), col("n_chars").as("med"), col("n"))
        val dev = docs.join(broadcast(med), "source")
          .withColumn("d", abs(col("n_chars") - col("med")))
        val mad = dev
          .withColumn("r2", row_number().over(
            Window.partitionBy("source").orderBy("d", "doc_id")))
          .filter(col("r2") === expr("(n + 1) DIV 2"))
          .select(col("source"), col("d").as("mad"))
        dev.join(broadcast(mad), "source")
          .groupBy("source")
          .agg(max("n").as("n"), max("med").as("med"),
            max("mad").as("mad"),
            sum(expr("CASE WHEN d > 3 * greatest(mad, 1) THEN 1 " +
              "ELSE 0 END")).as("n_out"))
          .withColumn("out_bp", expr("n_out * 10000 DIV n"))
          .select("source", "n", "med", "mad", "n_out", "out_bp")
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
             |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             |  FROM d GROUP BY 1),
             |rk AS (SELECT d.*, ns.n, row_number() OVER (
             |    PARTITION BY d.source ORDER BY n_chars, doc_id) AS r
             |  FROM d JOIN ns ON d.source = ns.source),
             |med AS (SELECT source, n_chars AS med, n FROM rk
             |  WHERE r = (n + 1) // 2),
             |dev AS (SELECT d.doc_id, d.source, med.n, med.med,
             |    abs(d.n_chars - med.med) AS dd
             |  FROM d JOIN med ON d.source = med.source),
             |rk2 AS (SELECT dev.*, row_number() OVER (
             |    PARTITION BY source ORDER BY dd, doc_id) AS r2
             |  FROM dev),
             |mad AS (SELECT source, dd AS mad FROM rk2
             |  WHERE r2 = (n + 1) // 2),
             |j AS (SELECT dev.source, dev.n, dev.med, mad.mad, dev.dd
             |  FROM dev JOIN mad ON dev.source = mad.source)
             |SELECT source, CAST(max(n) AS BIGINT) AS n,
             |  CAST(max(med) AS BIGINT) AS med,
             |  CAST(max(mad) AS BIGINT) AS mad,
             |  CAST(sum(CASE WHEN dd > 3 * greatest(mad, 1) THEN 1
             |    ELSE 0 END) AS BIGINT) AS n_out,
             |  CAST(sum(CASE WHEN dd > 3 * greatest(mad, 1) THEN 1
             |    ELSE 0 END) * 10000 // max(n) AS BIGINT) AS out_bp
             |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // ---- Huber IRLS robust location ---------------------------------------
    // Where q279 SCREENS outliers, this ESTIMATES THROUGH them: the
    // Huber M-estimator of per-source doc length by two
    // iteratively-reweighted rounds — weight w = min(1, k/|x−m|) in
    // 1e6 fixed point with k = max(MAD, 1) (the standard robust
    // scale), m_{t+1} = Σw·x DIV Σw. The loop runs on the per-source
    // VALUE-COMPRESSED frame (source, x, f): the corpus is scanned
    // once; each IRLS round is an aggregation of |distinct values|
    // rows against a broadcast |sources|-row location frame — the
    // 100 TB iterative-statistics shape. Start point is the exact
    // median; all arithmetic integer, divisions non-negative.
    "q280_huber_irls" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        val comp = Materialize(docs.groupBy("source", "n_chars")
          .agg(count(lit(1)).as("f")))
        val ns = comp.groupBy("source").agg(sum("f").as("n"))
        // exact lower median from the compressed CDF (no row window).
        // LAZY lineage cut (round-13): med is consumed by mad's
        // broadcast AND the l0 join — uncut, the window pipeline
        // re-executed once per consumer; no driver action is added
        // (the first consumer's job materializes the |sources|-row frame)
        val med = graft.operators.Materialize.lazyCheckpointed(comp
          .withColumn("cum", sum("f").over(
            Window.partitionBy("source").orderBy("n_chars")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(ns, "source")
          .filter(col("cum") - col("f") < expr("(n + 1) DIV 2") &&
            col("cum") >= expr("(n + 1) DIV 2"))
          .select(col("source"), col("n_chars").as("m0"), col("n")))
        val mad = comp.join(broadcast(med), "source")
          .withColumn("d", abs(col("n_chars") - col("m0")))
          .groupBy("source", "d").agg(sum("f").as("df"))
          .withColumn("cum", sum("df").over(
            Window.partitionBy("source").orderBy("d")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(ns, "source")
          .filter(col("cum") - col("df") < expr("(n + 1) DIV 2") &&
            col("cum") >= expr("(n + 1) DIV 2"))
          .select(col("source"), greatest(col("d"), lit(1L)).as("k"))
        def round(loc: DataFrame, mCol: String, out: String) =
          comp.join(broadcast(loc), "source")
            .withColumn("w", expr(
              s"least(CAST(1000000 AS BIGINT), " +
                s"k * 1000000 DIV greatest(abs(n_chars - $mCol), 1))"))
            .groupBy("source")
            .agg(max("k").as("k"),
              sum(expr("w * f * n_chars")).as("swx"),
              sum(expr("w * f")).as("sw"),
              sum(expr("CASE WHEN w < 1000000 THEN f ELSE 0 END"))
                .as("n_down"))
            .withColumn(out, expr("swx DIV sw"))
            .select(col("source"), col("k"), col(out), col("n_down"))
        // med/mad chain is referenced by both IRLS rounds and the final
        // select, and r1 by round 2's broadcast AND the final join —
        // LAZY checkpoints cut the lineage with no per-frame driver
        // action (the old eager Materialize(l0) paid one extra job;
        // broadcast builds materialize the |sources|-row frames)
        val l0 = graft.operators.Materialize.lazyCheckpointed(
          med.join(mad, "source")
            .select(col("source"), col("m0"), col("k"), col("n")))
        val r1 = graft.operators.Materialize.lazyCheckpointed(
          round(l0, "m0", "m1"))
        val r2 = round(r1.select(col("source"), col("k"), col("m1")),
          "m1", "m2")
        l0.join(r1.select(col("source"), col("m1")), "source")
          .join(r2.select(col("source"), col("m2"), col("n_down")),
            "source")
          .select("source", "n", "m0", "m1", "m2", "n_down")
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, n_chars FROM documents),
             |comp AS (SELECT source, n_chars, CAST(count(*) AS BIGINT)
             |    AS f FROM d GROUP BY 1, 2),
             |ns AS (SELECT source, CAST(sum(f) AS BIGINT) AS n
             |  FROM comp GROUP BY 1),
             |cdf AS (SELECT comp.*, ns.n, sum(f) OVER (
             |    PARTITION BY comp.source ORDER BY n_chars
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cum
             |  FROM comp JOIN ns ON comp.source = ns.source),
             |med AS (SELECT source, n_chars AS m0, n FROM cdf
             |  WHERE cum - f < (n + 1) // 2 AND cum >= (n + 1) // 2),
             |dv AS (SELECT comp.source, abs(comp.n_chars - med.m0) AS d,
             |    CAST(sum(f) AS BIGINT) AS df
             |  FROM comp JOIN med ON comp.source = med.source
             |  GROUP BY 1, 2),
             |dcdf AS (SELECT dv.*, ns.n, sum(df) OVER (
             |    PARTITION BY dv.source ORDER BY d
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS cum
             |  FROM dv JOIN ns ON dv.source = ns.source),
             |mad AS (SELECT source, greatest(d, 1) AS k FROM dcdf
             |  WHERE cum - df < (n + 1) // 2 AND cum >= (n + 1) // 2),
             |l0 AS (SELECT med.source, m0, k, n
             |  FROM med JOIN mad ON med.source = mad.source),
             |w1 AS (SELECT comp.source,
             |    least(1000000, l0.k * 1000000 //
             |      greatest(abs(comp.n_chars - l0.m0), 1)) AS w,
             |    comp.f, comp.n_chars
             |  FROM comp JOIN l0 ON comp.source = l0.source),
             |r1 AS (SELECT source,
             |    CAST(sum(w * f * n_chars) // sum(w * f) AS BIGINT)
             |      AS m1
             |  FROM w1 GROUP BY 1),
             |w2 AS (SELECT comp.source,
             |    least(1000000, l0.k * 1000000 //
             |      greatest(abs(comp.n_chars - r1.m1), 1)) AS w,
             |    comp.f, comp.n_chars
             |  FROM comp JOIN l0 ON comp.source = l0.source
             |  JOIN r1 ON comp.source = r1.source),
             |r2 AS (SELECT source,
             |    CAST(sum(w * f * n_chars) // sum(w * f) AS BIGINT)
             |      AS m2,
             |    CAST(sum(CASE WHEN w < 1000000 THEN f ELSE 0 END)
             |      AS BIGINT) AS n_down
             |  FROM w2 GROUP BY 1)
             |SELECT l0.source, l0.n, l0.m0, r1.m1, r2.m2, r2.n_down
             |FROM l0 JOIN r1 ON l0.source = r1.source
             |JOIN r2 ON l0.source = r2.source
             |ORDER BY l0.source""".stripMargin)),

    // ---- group-fairness audit of the quality filter ------------------------
    // Does the q190 keep/drop rule treat language groups evenly? The
    // audit every learned filter needs before it curates a multilingual
    // corpus: per lang, the keep rate (demographic parity), and the
    // TPR/FPR against the q209 char-level reference rule (equalized
    // odds) — each with its signed gap to the corpus-wide rate. A filter
    // whose FPR gap is hundreds of bp for one language is silently
    // reshaping that language's share. All rates are exact integer bp
    // with zero-count guards; corpus touched twice (the token scorer and
    // the char reference rule — two independent projections, same shape
    // as q209), everything after runs on the bounded lang frame.
    // Non-empty-text docs only (the reference rule's domain, q209's
    // inner-join semantics).
    "q290_fairness_rates" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
        val scored = qualityScored(docs).select("doc_id", "pass")
        val gold = docs
          .select(col("doc_id"), col("lang"),
            lower(trim(col("text"))).as("lt"))
          .filter(length(col("lt")) > 0)
          .withColumn("gold", when(
            expr("length(regexp_replace(lt, '[^a-z]', '')) * 10000" +
              " DIV length(lt)") >= 7000L && length(col("lt")) >= 200,
            1L).otherwise(0L))
          .select("doc_id", "lang", "gold")
        val perLang = Materialize(scored.join(gold, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("pass").as("keep"),
            sum("gold").as("g1"),
            sum(expr("pass * gold")).as("tp"),
            sum(expr("pass * (1 - gold)")).as("fp")))
        val tot = perLang.agg(
          expr("sum(keep) * 10000 DIV sum(n)").as("keep_all_bp"),
          expr("sum(tp) * 10000 DIV greatest(sum(g1), 1)")
            .as("tpr_all_bp"),
          expr("sum(fp) * 10000 DIV greatest(sum(n) - sum(g1), 1)")
            .as("fpr_all_bp"))
        perLang.crossJoin(broadcast(tot))
          .withColumn("keep_bp", expr("keep * 10000 DIV n"))
          .withColumn("tpr_bp", expr("tp * 10000 DIV greatest(g1, 1)"))
          .withColumn("fpr_bp", expr(
            "fp * 10000 DIV greatest(n - g1, 1)"))
          .select(col("lang"), col("n"), col("keep_bp"),
            expr("keep_bp - keep_all_bp").as("parity_gap_bp"),
            col("tpr_bp"), expr("tpr_bp - tpr_all_bp").as("tpr_gap_bp"),
            col("fpr_bp"), expr("fpr_bp - fpr_all_bp").as("fpr_gap_bp"))
          .orderBy("lang")
      },
      Some(s"""WITH $duckQualityCtes,
              |g AS (SELECT doc_id, lang, lower(trim(text)) AS lt
              |      FROM documents),
              |gold AS (SELECT doc_id, lang,
              |    CAST(CASE WHEN length(regexp_replace(lt, '[^a-z]', '',
              |        'g')) * 10000 // length(lt) >= 7000
              |      AND length(lt) >= 200 THEN 1 ELSE 0 END AS BIGINT)
              |      AS gold
              |  FROM g WHERE length(lt) > 0),
              |pl AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(pass) AS BIGINT) AS keep,
              |    CAST(sum(gold) AS BIGINT) AS g1,
              |    CAST(sum(pass * gold) AS BIGINT) AS tp,
              |    CAST(sum(pass * (1 - gold)) AS BIGINT) AS fp
              |  FROM qsc JOIN gold USING (doc_id) GROUP BY 1),
              |tot AS (SELECT
              |    CAST(sum(keep) * 10000 // sum(n) AS BIGINT)
              |      AS keep_all_bp,
              |    CAST(sum(tp) * 10000 // greatest(sum(g1), 1)
              |      AS BIGINT) AS tpr_all_bp,
              |    CAST(sum(fp) * 10000 // greatest(sum(n) - sum(g1), 1)
              |      AS BIGINT) AS fpr_all_bp
              |  FROM pl)
              |SELECT lang, n,
              |  CAST(keep * 10000 // n AS BIGINT) AS keep_bp,
              |  CAST(keep * 10000 // n - keep_all_bp AS BIGINT)
              |    AS parity_gap_bp,
              |  CAST(tp * 10000 // greatest(g1, 1) AS BIGINT) AS tpr_bp,
              |  CAST(tp * 10000 // greatest(g1, 1) - tpr_all_bp
              |    AS BIGINT) AS tpr_gap_bp,
              |  CAST(fp * 10000 // greatest(n - g1, 1) AS BIGINT)
              |    AS fpr_bp,
              |  CAST(fp * 10000 // greatest(n - g1, 1) - fpr_all_bp
              |    AS BIGINT) AS fpr_gap_bp
              |FROM pl CROSS JOIN tot ORDER BY lang""".stripMargin)),

    // ---- Zipf rank-doubling audit -------------------------------------------
    // Does the corpus's token frequency curve follow a power law, and
    // with what local exponent? The float-free spelling of the Zipf fit:
    // under f(r) ∝ r^(−s), the DOUBLING ratio f(r)/f(2r) = 2^s is
    // constant — so the audit reports the exact integer ratio in bp at
    // r ∈ {1, 2, 4, …, 1024} and flatness/drift of that column IS the
    // power-law verdict (ratio_bp ≈ 20000 ⇔ s ≈ 1), with no log() and
    // no regression. One corpus pass to the vocab frequency frame; the
    // rank window runs over the vocab frame, not the corpus (and only
    // ranks ≤ 2048 survive to the join — at web scale the same audit
    // runs on the exact top-k frame a frequency threshold prefilters).
    // Empty-split artifacts are excluded identically on both engines.
    "q293_zipf_doubling" -> QueryDef(
      (s, dir) => {
        val vocab = tableParallel(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        val rk = Materialize(vocab
          .withColumn("r", row_number().over(
            Window.orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
          .filter(col("r") <= 2048)
          .select("r", "cnt"))
        rk.as("a").join(rk.as("b"), expr("b.r = 2 * a.r"))
          .filter(expr(
            "a.r IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)"))
          .select(col("a.r").as("r"), col("a.cnt").as("f_r"),
            col("b.cnt").as("f_2r"),
            expr("a.cnt * 10000 DIV b.cnt").as("ratio_bp"))
          .orderBy("r")
      },
      Some(s"""WITH w AS (SELECT unnest($duckToks) AS tok
              |  FROM documents),
              |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
              |  FROM w WHERE tok <> '' GROUP BY 1),
              |rk AS (SELECT cnt, CAST(row_number() OVER
              |      (ORDER BY cnt DESC, tok ASC) AS BIGINT) AS r
              |  FROM v QUALIFY r <= 2048)
              |SELECT a.r, a.cnt AS f_r, b.cnt AS f_2r,
              |  CAST(a.cnt * 10000 // b.cnt AS BIGINT) AS ratio_bp
              |FROM rk a JOIN rk b ON b.r = 2 * a.r
              |WHERE a.r IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512,
              |  1024)
              |ORDER BY a.r""".stripMargin)),

    // ---- b-bit minwise hashing audit (Li–König 2010) ------------------------
    // The storage side of the minhash design: keeping only the lowest b
    // bits of each of 32 minhash components shrinks the signature 64/b×,
    // and the Jaccard estimator corrects for accidental bit collisions —
    // P(bits match) = J + (1−J)/2ᵇ, so Ĵ = (m·2ᵇ/32 − 1)/(2ᵇ − 1),
    // computed here as exact integer bp with a floor at 0. The audit
    // prices b ∈ {1, 2, 8} against EXACT Jaccard on the bounded
    // doc_id < 40 probe-pair set (all 780 pairs, so the estimator is
    // tested on the realistic mostly-dissimilar mass, not just
    // near-dups): per b, mean |Ĵ−J| and signed bias in bp. One
    // signature pass (the shared affine minhash family — one md5 pass,
    // 32 integer mixes), ONE component-aligned pair join with the three
    // b's as conditional sums, exact-Jaccard from the bounded shingle
    // self-join. MAE must shrink as b grows — the trade the audit
    // quantifies.
    "q308_bbit_minwise" -> QueryDef(
      (s, dir) => {
        val hs = Materialize(tableParallel(s, dir, "documents")
          .filter(col("doc_id") < 40)
          .select(col("doc_id"),
            ShingleHashes.of(tokens(col("text"))).as("hs"))
          .filter(size(col("hs")) > 0))
        val mhArr = (0 until 32).map { i =>
          val a = graft.functions.TextOps.minhashA(i)
          val bb = graft.functions.TextOps.minhashB(i)
          s"array_min(transform(hs, h -> ($a * h + $bb) % 2147483647))"
        }.mkString("array(", ", ", ")")
        val sig = Materialize(hs.select(col("doc_id"),
          posexplode(expr(mhArr)).as(Seq("i", "mh"))))
        val matches = sig.as("a").join(sig.as("b"),
            col("a.i") === col("b.i") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(
            sum(expr("CASE WHEN a.mh % 2 = b.mh % 2 THEN 1 ELSE 0 END"))
              .as("m1"),
            sum(expr("CASE WHEN a.mh % 4 = b.mh % 4 THEN 1 ELSE 0 END"))
              .as("m2"),
            sum(expr("CASE WHEN a.mh % 256 = b.mh % 256 THEN 1 " +
              "ELSE 0 END")).as("m8"))
        val sh = hs.select(col("doc_id"), explode(col("hs")).as("sh"))
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val exact = sh.as("a").join(sh.as("b"),
            col("a.sh") === col("b.sh") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(count(lit(1)).as("inter"))
        val jx = matches
          .join(exact, Seq("da", "db"), "left")
          .join(sizes.select(col("doc_id").as("da"), col("n").as("na")),
            "da")
          .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")),
            "db")
          .withColumn("j_bp", expr(
            "coalesce(inter, 0) * 10000 DIV " +
              "(na + nb - coalesce(inter, 0))"))
        def est(m: String, tb: Long): String =
          s"greatest(($m * $tb - 32) * 10000, 0) DIV (32 * ${tb - 1})"
        jx.select(col("j_bp"),
            expr(s"stack(3, 1, ${est("m1", 2)}, 2, ${est("m2", 4)}, " +
              s"8, ${est("m8", 256)}) AS (b, est_bp)"))
          .groupBy("b")
          .agg(count(lit(1)).as("n_pairs"),
            expr("sum(abs(est_bp - j_bp)) DIV count(1)").as("mae_bp"),
            expr("""CASE WHEN sum(est_bp - j_bp) >= 0
                   | THEN sum(est_bp - j_bp) DIV count(1)
                   | ELSE -((-sum(est_bp - j_bp)) DIV count(1))
                   | END""".stripMargin).as("bias_bp"))
          .select(col("b").cast("long").as("b"), col("n_pairs"),
            col("mae_bp"), col("bias_bp"))
          .orderBy("b")
      },
      Some {
        val mh = """list_min(list_transform(hs,
                   | h -> ((100003 + 7919 * i) * h
                   |   + (12345 + 1000003 * i)) % 2147483647))"""
          .stripMargin.replaceAll("\n", " ")
        def est(m: String, tb: Long): String =
          s"greatest(($m * $tb - 32) * 10000, 0) // (32 * ${tb - 1})"
        s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents
           |  WHERE doc_id < 40),
           |hss AS (SELECT doc_id, $duckHs AS hs FROM ws),
           |hs AS (SELECT doc_id, hs FROM hss WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, i, $mh AS mh
           |  FROM hs CROSS JOIN (SELECT unnest(range(0, 32)) AS i) ix),
           |m AS (SELECT a.doc_id AS da, b.doc_id AS db,
           |    CAST(sum(CASE WHEN a.mh % 2 = b.mh % 2 THEN 1
           |      ELSE 0 END) AS BIGINT) AS m1,
           |    CAST(sum(CASE WHEN a.mh % 4 = b.mh % 4 THEN 1
           |      ELSE 0 END) AS BIGINT) AS m2,
           |    CAST(sum(CASE WHEN a.mh % 256 = b.mh % 256 THEN 1
           |      ELSE 0 END) AS BIGINT) AS m8
           |  FROM sig a JOIN sig b
           |    ON a.i = b.i AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |sh AS (SELECT doc_id, unnest(hs) AS sh FROM hs),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           |  FROM sh GROUP BY 1),
           |ex AS (SELECT a.doc_id AS da, b.doc_id AS db,
           |    CAST(count(*) AS BIGINT) AS inter
           |  FROM sh a JOIN sh b
           |    ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |jx AS (SELECT m.da, m.db, m1, m2, m8,
           |    COALESCE(ex.inter, 0) * 10000 //
           |      (sa.n + sb.n - COALESCE(ex.inter, 0)) AS j_bp
           |  FROM m LEFT JOIN ex ON m.da = ex.da AND m.db = ex.db
           |  JOIN sizes sa ON sa.doc_id = m.da
           |  JOIN sizes sb ON sb.doc_id = m.db),
           |lf AS (SELECT j_bp, 1 AS b, ${est("m1", 2)} AS est_bp
           |    FROM jx
           |  UNION ALL SELECT j_bp, 2, ${est("m2", 4)} FROM jx
           |  UNION ALL SELECT j_bp, 8, ${est("m8", 256)} FROM jx)
           |SELECT CAST(b AS BIGINT) AS b,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(abs(est_bp - j_bp)) // count(*) AS BIGINT)
           |    AS mae_bp,
           |  CAST(CASE WHEN sum(est_bp - j_bp) >= 0
           |    THEN sum(est_bp - j_bp) // count(*)
           |    ELSE -((-sum(est_bp - j_bp)) // count(*)) END AS BIGINT)
           |    AS bias_bp
           |FROM lf GROUP BY 1 ORDER BY b""".stripMargin
      }),

    // ---- Kneser–Ney smoothing audit (exact rational d = 3/4) ----------------
    // What the q208-family bigram LMs are missing: held-out mass for
    // UNSEEN bigrams. Interpolated Kneser–Ney with the standard discount
    // d = 3/4 — an exact rational, so scaling every count by 4 keeps the
    // whole estimator in integers: P_kn(w2|w1) = max(4c₁₂−3, 0)/4c₁ +
    // 3·N₁₊(w1•)/4c₁ · P_cont(w2), P_cont = N₁₊(•w2)/N₁₊(••), all in
    // micro fixed point with truncating DIV spelled identically on both
    // engines. Train/held-out split by doc_id mod 4; the audit compares
    // KN against raw MLE per held-out category — seen bigram, novel
    // bigram under a seen history (where MLE assigns ZERO and KN pays
    // out the continuation mass — the whole point of smoothing), and
    // unseen history (unigram-continuation fallback). Scale shape: one
    // corpus pass per split to bigram-type frames (map-side combine);
    // every later join runs on type frames, never token streams.
    "q297_kneser_ney_audit" -> QueryDef(
      (s, dir) => {
        def bigrams(docs: DataFrame) = docs
          .select(tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(explode(expr(
            """transform(sequence(0, size(ws) - 2),
              | k -> struct(ws[k] AS w1, ws[k + 1] AS w2))"""
              .stripMargin)).as("bg"))
          .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        val docs = tableParallel(s, dir, "documents")
        val train = Materialize(bigrams(docs
            .filter(expr("doc_id % 4 != 0")))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
        val held = bigrams(docs.filter(expr("doc_id % 4 = 0")))
          .groupBy("w1", "w2").agg(count(lit(1)).as("h"))
        val c1 = train.groupBy("w1").agg(sum("c12").as("c1"),
          count(lit(1)).as("n1w1"))
        val ntypes = train.agg(count(lit(1)).as("ntypes"))
        val pcont = train.groupBy("w2").agg(count(lit(1)).as("n1w2"))
          .crossJoin(broadcast(ntypes))
          .withColumn("pcont", expr("n1w2 * 1000000 DIV ntypes"))
          .select("w2", "pcont")
        val scoredTypes = held
          .join(train, Seq("w1", "w2"), "left")
          .join(c1, Seq("w1"), "left")
          .join(pcont, Seq("w2"), "left")
          .withColumn("pc", coalesce(col("pcont"), lit(0L)))
          .withColumn("cat", expr(
            """CASE WHEN c12 IS NOT NULL THEN 'a_seen'
              | WHEN c1 IS NOT NULL THEN 'b_novel_hist_seen'
              | ELSE 'c_hist_unseen' END""".stripMargin))
          .withColumn("kn_micro", expr(
            """CASE WHEN c1 IS NULL THEN pc
              | ELSE greatest(4 * coalesce(c12, CAST(0 AS BIGINT)) - 3,
              |     CAST(0 AS BIGINT)) * 1000000 DIV (4 * c1)
              |   + (3 * n1w1 * pc) DIV (4 * c1) END""".stripMargin))
          .withColumn("mle_micro", expr(
            """CASE WHEN c12 IS NOT NULL
              | THEN c12 * 1000000 DIV c1
              | ELSE CAST(0 AS BIGINT) END""".stripMargin))
        scoredTypes.groupBy("cat")
          .agg(count(lit(1)).as("n_types"), sum("h").as("n_tokens"),
            expr("sum(h * kn_micro) DIV sum(h)").as("avg_kn_micro"),
            expr("sum(h * mle_micro) DIV sum(h)").as("avg_mle_micro"))
          .orderBy("cat")
      },
      Some(s"""WITH d0 AS (SELECT doc_id, $duckToks AS ws
              |  FROM documents),
              |trb AS (SELECT unnest(ws[1:len(ws) - 1]) AS w1,
              |    unnest(ws[2:len(ws)]) AS w2
              |  FROM d0 WHERE doc_id % 4 != 0 AND len(ws) >= 2),
              |heb AS (SELECT unnest(ws[1:len(ws) - 1]) AS w1,
              |    unnest(ws[2:len(ws)]) AS w2
              |  FROM d0 WHERE doc_id % 4 = 0 AND len(ws) >= 2),
              |train AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
              |  FROM trb GROUP BY 1, 2),
              |held AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS h
              |  FROM heb GROUP BY 1, 2),
              |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
              |    CAST(count(*) AS BIGINT) AS n1w1
              |  FROM train GROUP BY 1),
              |nt AS (SELECT CAST(count(*) AS BIGINT) AS ntypes
              |  FROM train),
              |pcont AS (SELECT w2,
              |    CAST(count(*) AS BIGINT) * 1000000 // ntypes AS pcont
              |  FROM train CROSS JOIN nt GROUP BY w2, ntypes),
              |sc AS (SELECT held.h,
              |    COALESCE(pcont.pcont, 0) AS pc,
              |    CASE WHEN train.c12 IS NOT NULL THEN 'a_seen'
              |      WHEN c1.c1 IS NOT NULL THEN 'b_novel_hist_seen'
              |      ELSE 'c_hist_unseen' END AS cat,
              |    CASE WHEN c1.c1 IS NULL THEN COALESCE(pcont.pcont, 0)
              |      ELSE greatest(4 * COALESCE(train.c12, 0) - 3, 0)
              |          * 1000000 // (4 * c1.c1)
              |        + (3 * c1.n1w1 * COALESCE(pcont.pcont, 0))
              |          // (4 * c1.c1) END AS kn_micro,
              |    CASE WHEN train.c12 IS NOT NULL
              |      THEN train.c12 * 1000000 // c1.c1
              |      ELSE 0 END AS mle_micro
              |  FROM held
              |  LEFT JOIN train ON held.w1 = train.w1
              |    AND held.w2 = train.w2
              |  LEFT JOIN c1 ON held.w1 = c1.w1
              |  LEFT JOIN pcont ON held.w2 = pcont.w2)
              |SELECT cat, CAST(count(*) AS BIGINT) AS n_types,
              |  CAST(sum(h) AS BIGINT) AS n_tokens,
              |  CAST(sum(h * kn_micro) // sum(h) AS BIGINT)
              |    AS avg_kn_micro,
              |  CAST(sum(h * mle_micro) // sum(h) AS BIGINT)
              |    AS avg_mle_micro
              |FROM sc GROUP BY 1 ORDER BY cat""".stripMargin)),

    // ---- Misra–Gries mergeable heavy-hitter summaries ----------------------
    // THE distributed heavy-hitter recipe at 100 TB: each partition keeps
    // a BOUNDED k-counter summary, summaries merge by adding counts —
    // one shuffle of k rows per partition, never the full token
    // frequency table. The per-partition summary here is the
    // order-independent Misra–Gries equivalent (Agarwal et al.,
    // "Mergeable Summaries"): keep tokens whose partition count exceeds
    // f_(k+1) (the (k+1)-th largest count under the total order
    // c DESC, token ASC), stored as the DEFICIT c − f_(k+1). Every
    // stored estimate undercounts its true partition count by at most
    // f_(k+1), so after the merge `exact − est ∈ [0, Σ_p f_(k+1,p)]` —
    // the audit verifies that guarantee against a second exact pass
    // (which exists only because this IS an audit; production reads the
    // summary alone). Partitions are LOGICAL (doc_id mod 8), so the
    // result is invariant to physical partitioning and replayable by
    // the oracle.
    "q311_misra_gries_merge" -> QueryDef(
      (s, dir) => {
        val k = 16
        val tok = Materialize(tableParallel(s, dir, "documents")
          .select((col("doc_id") % 8).as("part"),
            explode(tokens(col("text"))).as("tok")))
        val pc = Materialize(
          tok.groupBy("part", "tok").agg(count(lit(1)).as("c")))
        val wnd = Window.partitionBy("part")
          .orderBy(col("c").desc, col("tok").asc)
        val rk = pc.withColumn("r", row_number().over(wnd))
        val summ = rk
          .withColumn("fk1", coalesce(
            max(when(col("r") === lit(k + 1), col("c")))
              .over(Window.partitionBy("part")), lit(0L)))
          .filter(col("c") - col("fk1") > 0)
          .select(col("tok"), (col("c") - col("fk1")).as("adj"))
        val bnd = rk.filter(col("r") === lit(k + 1))
          .agg(coalesce(sum("c"), lit(0L)).as("bound"))
        val est = summ.groupBy("tok").agg(sum("adj").as("est"))
        val exact = tok.groupBy("tok").agg(count(lit(1)).as("exact_c"))
        est.join(exact, Seq("tok"))
          .join(broadcast(bnd))
          .withColumn("rk", row_number()
            .over(Window.orderBy(col("est").desc, col("tok")))
            .cast("long"))
          .filter(col("rk") <= 20)
          .withColumn("undercount", col("exact_c") - col("est"))
          .withColumn("ok", when(col("undercount") >= 0 &&
            col("undercount") <= col("bound"), 1L).otherwise(0L))
          .select("rk", "tok", "est", "exact_c", "undercount",
            "bound", "ok")
          .orderBy("rk")
      },
      Some(s"""WITH tk AS (SELECT doc_id % 8 AS part,
              |    unnest($duckToks) AS tok
              |  FROM documents),
              |pc AS (SELECT part, tok, CAST(count(*) AS BIGINT) AS c
              |  FROM tk GROUP BY 1, 2),
              |rk AS (SELECT *, row_number() OVER (PARTITION BY part
              |    ORDER BY c DESC, tok) AS r FROM pc),
              |sm AS (SELECT tok, c - fk1 AS adj FROM (
              |    SELECT *, COALESCE(max(CASE WHEN r = 17 THEN c END)
              |      OVER (PARTITION BY part), 0) AS fk1 FROM rk)
              |  WHERE c - fk1 > 0),
              |bnd AS (SELECT COALESCE(sum(c), 0) AS bound FROM rk
              |  WHERE r = 17),
              |est AS (SELECT tok, CAST(sum(adj) AS BIGINT) AS est
              |  FROM sm GROUP BY 1),
              |ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_c
              |  FROM tk GROUP BY 1),
              |top AS (SELECT e.tok, e.est, x.exact_c,
              |    row_number() OVER (ORDER BY e.est DESC, e.tok) AS rk
              |  FROM est e JOIN ex x USING (tok))
              |SELECT CAST(rk AS BIGINT) AS rk, tok, est, exact_c,
              |  exact_c - est AS undercount,
              |  CAST(bound AS BIGINT) AS bound,
              |  CAST(CASE WHEN exact_c - est >= 0
              |    AND exact_c - est <= bound
              |    THEN 1 ELSE 0 END AS BIGINT) AS ok
              |FROM top CROSS JOIN bnd
              |WHERE rk <= 20 ORDER BY rk""".stripMargin)),

    // ---- greedy set cover (benchmark-coverage data selection) ---------------
    // Given a benchmark's shingle universe (src0's English docs), pick
    // the candidate training docs that COVER it fastest — the classic
    // (1−1/e)-approximate greedy: each round takes the doc with the most
    // not-yet-covered universe shingles (ties → lower doc_id), up to 6
    // rounds or exhaustion. The corpus-scale stages are the shingle
    // build and one pre-intersection with the universe (equi-joins);
    // each greedy round is then one aggregation over the intersected
    // frame against the driver-held covered set (bounded by the
    // UNIVERSE, which is fixed by the benchmark's size at any corpus
    // scale — broadcast as a local relation, never a giant IN-literal).
    // The oracle unrolls the same 6 rounds; rounds after exhaustion
    // vanish naturally because a fully-covered candidate contributes no
    // gain rows.
    "q318_greedy_set_cover" -> QueryDef(
      (s, dir) => {
        // no distinct here: ShingleHashes dedups per doc, so the exploded
        // (doc_id, source, sh) rows are unique by construction — the old
        // .distinct() was a provable no-op costing a corpus-wide exchange.
        // round-13: the per-doc shingle sets come from the staged hs
        // mirror (shingles are a pure per-doc function, so the explode
        // of the mirror rows semi-joined to the English ids is exactly
        // what the inline tokenize+shingle scan produced) — the corpus
        // text re-shingling drops; only a narrow (doc_id, lang) scan
        // remains on the raw table
        val enIds = tableParallel(s, dir, "documents")
          .filter(col("lang") === "en").select("doc_id")
        val docs = Materialize(hsMirror(s, dir)
          .join(enIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("source"),
            explode(col("hs")).as("sh")))
        val universe = docs.filter(col("source") === "src0")
          .select("sh").distinct()
          .collect().map(_.getLong(0)).toSet
        // Universe-size guard (round-10 verdict): the scale contract says
        // the covered set is "bounded by the BENCHMARK" — a FIXED suite —
        // but in this fixture the universe is src0's shingles, which grows
        // with sf. The driver-held set and per-round broadcast are only
        // valid while the benchmark stays broadcast-sized; enforce the
        // documented assumption loudly (the q284 horizon-guard pattern)
        // instead of degrading into a driver-memory failure at scale.
        require(universe.size <= 1000000,
          s"q318: cover universe has ${universe.size} shingles > 1e6 — " +
            "the greedy rounds broadcast the covered set, which is only " +
            "sound for a fixed benchmark-sized universe; shard the " +
            "benchmark or move the covered set to a distributed anti-join")
        import s.implicits._
        val uniDf = broadcast(universe.toSeq.toDF("sh"))
        val candU = Materialize(docs.filter(col("source") =!= "src0")
          .join(uniDf, Seq("sh")).select("doc_id", "sh"))
        val covered = scala.collection.mutable.Set[Long]()
        val outRows = scala.collection.mutable
          .ArrayBuffer[(Long, Long, Long, Long, Long, Long)]()
        val uSize = universe.size.toLong
        var r = 1
        var exhausted = false
        while (r <= 6 && !exhausted) {
          // ONE driver action per round (round-13): the winner's id,
          // gain, and its not-yet-covered shingles come back in a single
          // collect (the argmax rides in as a 1-row broadcast) — the old
          // spelling paid a second collect to fetch the winner's
          // shingles. Adding only the UNCOVERED shingles to the set is
          // identical to adding all of them (set union dedups).
          val covDf = broadcast(covered.toSeq.toDF("sh"))
          val remain = candU.join(covDf, Seq("sh"), "left_anti")
          val pick1 = remain.groupBy("doc_id")
            .agg(count(lit(1)).as("gain"))
            .orderBy(col("gain").desc, col("doc_id")).limit(1)
          val rows = remain.join(broadcast(pick1), Seq("doc_id"))
            .select("doc_id", "gain", "sh").collect()
          if (rows.isEmpty) exhausted = true
          else {
            val doc = rows(0).getLong(0)
            val gain = rows(0).getLong(1)
            rows.foreach(row => covered += row.getLong(2))
            outRows += ((r.toLong, doc, gain, covered.size.toLong,
              uSize, covered.size.toLong * 10000 / math.max(uSize, 1L)))
            r += 1
          }
        }
        outRows.toSeq.toDF("round", "doc_id", "gain", "covered_cum",
            "universe_size", "coverage_bp")
          .orderBy("round")
      },
      Some {
        def round(r: Int): String = {
          val notCov = if (r == 1) ""
            else s"WHERE sh NOT IN (SELECT sh FROM v${r - 1})"
          val prevU = if (r == 1) "" else s"SELECT sh FROM v${r - 1} UNION "
          s"""p$r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
             |  FROM c $notCov GROUP BY 1
             |  ORDER BY gain DESC, doc_id LIMIT 1),
             |v$r AS (${prevU}SELECT c.sh FROM c
             |  JOIN p$r USING (doc_id))""".stripMargin
        }
        val rounds = (1 to 6).map(round).mkString(",\n")
        val emits = (1 to 6).map(r =>
          s"""SELECT $r AS round, p$r.doc_id, p$r.gain,
             |  (SELECT CAST(count(DISTINCT sh) AS BIGINT) FROM v$r)
             |    AS covered_cum
             |FROM p$r""".stripMargin).mkString("\nUNION ALL\n")
        s"""WITH ws AS (SELECT doc_id, source, $duckToks AS ws
           |  FROM documents WHERE lang = 'en'),
           |shx AS (SELECT DISTINCT doc_id, source, unnest(hs) AS sh
           |  FROM (SELECT doc_id, source, $duckHs AS hs FROM ws)),
           |u AS (SELECT DISTINCT sh FROM shx WHERE source = 'src0'),
           |c AS (SELECT DISTINCT doc_id, sh FROM shx
           |  JOIN u USING (sh) WHERE source <> 'src0'),
           |un AS (SELECT CAST(count(*) AS BIGINT) AS universe_size
           |  FROM u),
           |$rounds,
           |em AS ($emits)
           |SELECT CAST(round AS BIGINT) AS round, doc_id, gain,
           |  covered_cum, un.universe_size,
           |  covered_cum * 10000 // greatest(un.universe_size, 1)
           |    AS coverage_bp
           |FROM em CROSS JOIN un ORDER BY round""".stripMargin
      }),

    // ---- McNemar paired-classifier comparison -------------------------------
    // When two quality filters disagree, which one should the cascade
    // trust? Accuracy deltas on UNPAIRED counts waste the pairing;
    // McNemar's test uses only the discordant pairs — b (A right, B
    // wrong) vs c (A wrong, B right) on the SAME documents — the
    // standard way to compare two classifiers on one labeled set. Here
    // the reference label is the char-length rule (n_chars ≥ 250) and
    // the two filters are a token-count rule (≥ 45 tokens) and a
    // lexical-diversity rule (≥ 35 distinct tokens); the χ²(1) decision
    // is the exact cross-multiplication (b−c)²·10⁵ > 384146·(b+c) —
    // no float, no division — with χ²·10⁴ carried for magnitude. One
    // narrow projection + one per-source rollup.
    "q320_mcnemar" -> QueryDef(
      (s, dir) => {
        table(s, dir, "documents")
          .select(col("source"),
            (col("n_chars") >= 250).as("t"),
            (size(tokens(col("text"))) >= 45).as("a"),
            (size(array_distinct(tokens(col("text")))) >= 35).as("b"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"),
            sum(expr("CASE WHEN a = t AND b <> t THEN 1 ELSE 0 END"))
              .as("b_disc"),
            sum(expr("CASE WHEN a <> t AND b = t THEN 1 ELSE 0 END"))
              .as("c_disc"))
          .withColumn("chi2_e4", expr(
            """CASE WHEN b_disc + c_disc = 0 THEN 0
              |  ELSE CAST(CAST(b_disc - c_disc AS DECIMAL(38,0))
              |    * (b_disc - c_disc) * 10000 DIV (b_disc + c_disc)
              |    AS BIGINT) END""".stripMargin))
          .withColumn("signif", expr(
            """CAST(CASE WHEN CAST(b_disc - c_disc AS DECIMAL(38,0))
              |    * (b_disc - c_disc) * 100000
              |    > CAST(384146 AS DECIMAL(38,0)) * (b_disc + c_disc)
              |  THEN 1 ELSE 0 END AS BIGINT)""".stripMargin))
          .select("source", "n_pairs", "b_disc", "c_disc", "chi2_e4",
            "signif")
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT source,
              |    n_chars >= 250 AS t,
              |    len($duckToks) >= 45 AS a,
              |    len(list_distinct($duckToks)) >= 35 AS b
              |  FROM documents)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
              |  CAST(sum(CASE WHEN a = t AND b <> t THEN 1 ELSE 0 END)
              |    AS BIGINT) AS b_disc,
              |  CAST(sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0 END)
              |    AS BIGINT) AS c_disc,
              |  CASE WHEN sum(CASE WHEN a <> b THEN 1 ELSE 0 END) = 0
              |    THEN 0
              |    ELSE CAST(CAST(sum(CASE WHEN a = t AND b <> t
              |        THEN 1 ELSE 0 END)
              |      - sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0 END)
              |        AS HUGEINT)
              |      * (sum(CASE WHEN a = t AND b <> t THEN 1 ELSE 0
              |          END)
              |        - sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0
              |          END)) * 10000
              |      // (sum(CASE WHEN a = t AND b <> t THEN 1 ELSE 0
              |          END)
              |        + sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0
              |          END)) AS BIGINT) END AS chi2_e4,
              |  CAST(CASE WHEN CAST(sum(CASE WHEN a = t AND b <> t
              |        THEN 1 ELSE 0 END)
              |      - sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0
              |        END) AS HUGEINT)
              |      * (sum(CASE WHEN a = t AND b <> t THEN 1 ELSE 0
              |          END)
              |        - sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0
              |          END)) * 100000
              |      > CAST(384146 AS HUGEINT)
              |        * (sum(CASE WHEN a = t AND b <> t THEN 1 ELSE 0
              |            END)
              |          + sum(CASE WHEN a <> t AND b = t THEN 1
              |            ELSE 0 END))
              |    THEN 1 ELSE 0 END AS BIGINT) AS signif
              |FROM d GROUP BY 1 ORDER BY source""".stripMargin)),

    // ---- capture–recapture dedup-coverage estimate --------------------------
    // The question no single dedup detector can answer: how many near-dup
    // pairs does the pipeline MISS? Lincoln–Petersen mark-recapture over
    // two INDEPENDENT detectors — MinHash-LSH band pairs (the q41
    // pipeline) and SimHash pigeonhole pairs (q42) — estimates the total
    // duplicate population from the overlap: N̂ = n₁n₂/m, plus Chapman's
    // small-sample correction (n₁+1)(n₂+1)/(m+1) − 1 (exact integers,
    // no float). Per-detector coverage in bp and the estimated
    // caught-by-neither tail follow. One shingle pass feeds BOTH
    // detectors (the signature pipelines share the cached hs frame);
    // everything downstream of the pair sets is three scalar aggregates.
    "q321_capture_recapture" -> QueryDef(
      (s, dir) => {
        val hs = Materialize(hsMirror(s, dir).select("doc_id", "hs"))
        val pa = Materialize(candMirror(s, dir))
        val sim = hs.select(col("doc_id"), SimhashSig.of(col("hs")).as("sh"))
        val chunks = Materialize(sim.select(col("doc_id"), col("sh"),
          posexplode(array((0 until 5).map { c =>
            val width = if (c < 4) 7 else 4
            shiftright(col("sh"), 7 * c)
              .bitwiseAND(lit((1L << width) - 1))
          }: _*)))
          .toDF("doc_id", "sh", "chunk_id", "cv"))
        val pb = Materialize(chunks.as("a")
          .join(chunks.as("b"),
            col("a.chunk_id") === col("b.chunk_id") &&
              col("a.cv") === col("b.cv") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"),
            col("b.doc_id").as("doc_b"),
            bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("int")
              .as("hamming"))
          .filter(col("hamming") <= 4)
          .select("doc_a", "doc_b")
          .distinct())
        val c1 = pa.agg(count(lit(1)).as("n1"))
        val c2 = pb.agg(count(lit(1)).as("n2"))
        val cm = pa.join(pb, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("m"))
        // DECIMAL(38,0) products: two pair counts of ~1e9 would wrap an
        // Int64 multiply silently in Spark while the HUGEINT oracle
        // raises — same divergence class as the q296 fix
        c1.join(broadcast(c2)).join(broadcast(cm))
          .withColumn("n_lp", expr(
            "CAST(CAST(n1 AS DECIMAL(38,0)) * n2 DIV greatest(m, 1) " +
              "AS BIGINT)"))
          .withColumn("n_chapman", expr(
            "CAST(CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1) " +
              "DIV (m + 1) - 1 AS BIGINT)"))
          .withColumn("cov_a_bp", expr(
            "CAST(CAST(n1 AS DECIMAL(38,0)) * 10000 " +
              "DIV greatest(n_chapman, 1) AS BIGINT)"))
          .withColumn("cov_b_bp", expr(
            "CAST(CAST(n2 AS DECIMAL(38,0)) * 10000 " +
              "DIV greatest(n_chapman, 1) AS BIGINT)"))
          .withColumn("missed_est",
            expr("greatest(n_chapman - (n1 + n2 - m), 0)"))
          .select("n1", "n2", "m", "n_lp", "n_chapman", "cov_a_bp",
            "cov_b_bp", "missed_est")
      },
      Some {
        val minhashes = (0 until 8).map { i =>
          s"""list_min(list_transform(hs,
             |   h -> (${minhashA(i)} * h + ${minhashB(i)}) % $MinhashP)) AS m$i""".stripMargin
        }.mkString(",\n ")
        val bandsSel = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band_id, m${2 * b}::VARCHAR || ',' || " +
            s"m${2 * b + 1}::VARCHAR AS key FROM sig"
        }.mkString("\n UNION ALL ")
        val sums = (0 until 32).map(i =>
          s"sum(CASE WHEN (th >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
          .mkString(", ")
        val build = (0 until 32).map(i =>
          s"CASE WHEN b$i >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
          .mkString(" + ")
        s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
           |hss AS (SELECT * FROM
           |          (SELECT doc_id, $duckHs AS hs FROM ws)
           |        WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, $minhashes FROM hss),
           |bands AS ($bandsSel),
           |pa AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.key = b.key
           |    AND a.doc_id < b.doc_id),
           |th AS (SELECT doc_id, unnest(hs) AS th FROM hss),
           |bits AS (SELECT doc_id, $sums FROM th GROUP BY doc_id),
           |shf AS (SELECT doc_id, $build AS sh FROM bits),
           |chunks AS (${(0 until 5).map { c =>
               val width = if (c < 4) 7 else 4
               s"SELECT doc_id, sh, $c AS chunk_id, " +
                 s"(sh >> ${7 * c}) & ${(1L << width) - 1} AS cv FROM shf"
             }.mkString("\n  UNION ALL ")}),
           |pb AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM chunks a JOIN chunks b
           |    ON a.chunk_id = b.chunk_id AND a.cv = b.cv
           |    AND a.doc_id < b.doc_id
           |  WHERE bit_count(xor(a.sh, b.sh)) <= 4),
           |c1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM pa),
           |c2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM pb),
           |cm AS (SELECT CAST(count(*) AS BIGINT) AS m
           |  FROM pa JOIN pb USING (doc_a, doc_b))
           |SELECT n1, n2, m,
           |  CAST(CAST(n1 AS HUGEINT) * n2 // greatest(m, 1)
           |    AS BIGINT) AS n_lp,
           |  CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) // (m + 1) - 1
           |    AS BIGINT) AS n_chapman,
           |  CAST(CAST(n1 AS HUGEINT) * 10000
           |    // greatest(CAST(n1 + 1 AS HUGEINT) * (n2 + 1)
           |      // (m + 1) - 1, 1) AS BIGINT) AS cov_a_bp,
           |  CAST(CAST(n2 AS HUGEINT) * 10000
           |    // greatest(CAST(n1 + 1 AS HUGEINT) * (n2 + 1)
           |      // (m + 1) - 1, 1) AS BIGINT) AS cov_b_bp,
           |  CAST(greatest(CAST(n1 + 1 AS HUGEINT) * (n2 + 1)
           |    // (m + 1) - 1 - (n1 + n2 - m), 0) AS BIGINT)
           |    AS missed_est
           |FROM c1 CROSS JOIN c2 CROSS JOIN cm""".stripMargin
      }),

    // ---- Fleiss' kappa (multi-rater agreement) ------------------------------
    // Cohen's kappa (q233) audits ONE classifier against ONE reference;
    // a labeling pipeline has MANY annotators. Fleiss' kappa is the
    // R-rater generalization: four deterministic raters grade every
    // document 0/1/2 against the same latent signal (reference
    // thresholds / shifted thresholds / noisy measurement / pure hash
    // noise — see raterLabels), and kappa measures agreement beyond
    // chance. 100 TB shape: the per-document category counts n_ic and
    // their squares are a pure map-side projection (R is a constant, no
    // explode, no join); the whole statistic then reduces through ONE
    // scalar aggregate — two sums and three category totals — so the
    // plan is scan -> project -> partial-agg, the cheapest distributed
    // shape there is. Exact rational: kappa = (4NA - 3B)/(48N^2 - 3B)
    // with A = sum_i(sum_c n_ic^2) - 4N, B = sum_c T_c^2, emitted
    // sign-split in bp via DECIMAL(38)/HUGEINT (the N^2 terms wrap int64
    // at corpus scale).
    "q327_fleiss_kappa" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val lab = raterLabels(tableParallel(s, dir, "documents"))
        val perDoc = lab.select(
          (0 to 2).map(c => (0 until 4).map(r =>
            when(col(s"g${r + 1}") === c, 1L).otherwise(0L))
            .reduce(_ + _).as(s"nc$c")): _*)
          .withColumn("sq",
            expr("nc0 * nc0 + nc1 * nc1 + nc2 * nc2"))
        val tot = perDoc.agg(
          count(lit(1)).as("n_docs"),
          sum("sq").as("sumsq"),
          sum("nc0").as("t0"), sum("nc1").as("t1"), sum("nc2").as("t2"))
        val grades = Seq(0L, 1L, 2L).toDF("grade")
        grades.join(broadcast(tot))
          .withColumn("t_c", expr(
            "CASE grade WHEN 0 THEN t0 WHEN 1 THEN t1 ELSE t2 END"))
          .withColumn("p_c_bp", expr("t_c * 10000 DIV (4 * n_docs)"))
          .withColumn("a_num", expr("sumsq - 4 * n_docs"))
          .withColumn("b_num", expr("t0*t0 + t1*t1 + t2*t2"))
          .withColumn("pbar_bp",
            expr("a_num * 10000 DIV (12 * n_docs)"))
          .withColumn("pe_bp", expr(
            "CAST(CAST(b_num AS DECIMAL(38,0)) * 10000 " +
              "DIV (16 * CAST(n_docs AS DECIMAL(38,0)) * n_docs) " +
              "AS BIGINT)"))
          .withColumn("kappa_bp", expr(
            """CAST(CASE WHEN 4 * CAST(n_docs AS DECIMAL(38,0)) * a_num
              |    >= 3 * CAST(b_num AS DECIMAL(38,0))
              |  THEN (4 * CAST(n_docs AS DECIMAL(38,0)) * a_num
              |      - 3 * CAST(b_num AS DECIMAL(38,0))) * 10000
              |    DIV (48 * CAST(n_docs AS DECIMAL(38,0)) * n_docs
              |      - 3 * CAST(b_num AS DECIMAL(38,0)))
              |  ELSE -((3 * CAST(b_num AS DECIMAL(38,0))
              |      - 4 * CAST(n_docs AS DECIMAL(38,0)) * a_num) * 10000
              |    DIV (48 * CAST(n_docs AS DECIMAL(38,0)) * n_docs
              |      - 3 * CAST(b_num AS DECIMAL(38,0)))) END
              |  AS BIGINT)""".stripMargin))
          .select(col("grade"), col("t_c"), col("p_c_bp"),
            col("n_docs"), col("pbar_bp"), col("pe_bp"), col("kappa_bp"))
          .orderBy("grade")
      },
      Some(s"""WITH $duckRaterCtes,
              |pd AS (SELECT
              |    CAST((g1=0)::INT + (g2=0)::INT + (g3=0)::INT
              |      + (g4=0)::INT AS BIGINT) AS nc0,
              |    CAST((g1=1)::INT + (g2=1)::INT + (g3=1)::INT
              |      + (g4=1)::INT AS BIGINT) AS nc1,
              |    CAST((g1=2)::INT + (g2=2)::INT + (g3=2)::INT
              |      + (g4=2)::INT AS BIGINT) AS nc2
              |  FROM raters),
              |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(nc0*nc0 + nc1*nc1 + nc2*nc2) AS BIGINT)
              |      AS sumsq,
              |    CAST(sum(nc0) AS BIGINT) AS t0,
              |    CAST(sum(nc1) AS BIGINT) AS t1,
              |    CAST(sum(nc2) AS BIGINT) AS t2
              |  FROM pd),
              |g AS (SELECT CAST(unnest(range(0, 3)) AS BIGINT) AS grade)
              |SELECT grade,
              |  CAST(CASE grade WHEN 0 THEN t0 WHEN 1 THEN t1 ELSE t2 END
              |    AS BIGINT) AS t_c,
              |  CAST(CASE grade WHEN 0 THEN t0 WHEN 1 THEN t1 ELSE t2 END
              |    * 10000 // (4 * n_docs) AS BIGINT) AS p_c_bp,
              |  n_docs,
              |  CAST((sumsq - 4 * n_docs) * 10000 // (12 * n_docs)
              |    AS BIGINT) AS pbar_bp,
              |  CAST(CAST(t0*t0 + t1*t1 + t2*t2 AS HUGEINT) * 10000
              |    // (16 * CAST(n_docs AS HUGEINT) * n_docs)
              |    AS BIGINT) AS pe_bp,
              |  CAST(CASE WHEN 4 * CAST(n_docs AS HUGEINT)
              |      * (sumsq - 4 * n_docs)
              |      >= 3 * CAST(t0*t0 + t1*t1 + t2*t2 AS HUGEINT)
              |    THEN (4 * CAST(n_docs AS HUGEINT) * (sumsq - 4 * n_docs)
              |        - 3 * CAST(t0*t0 + t1*t1 + t2*t2 AS HUGEINT)) * 10000
              |      // (48 * CAST(n_docs AS HUGEINT) * n_docs
              |        - 3 * CAST(t0*t0 + t1*t1 + t2*t2 AS HUGEINT))
              |    ELSE -((3 * CAST(t0*t0 + t1*t1 + t2*t2 AS HUGEINT)
              |        - 4 * CAST(n_docs AS HUGEINT) * (sumsq - 4 * n_docs))
              |      * 10000
              |      // (48 * CAST(n_docs AS HUGEINT) * n_docs
              |        - 3 * CAST(t0*t0 + t1*t1 + t2*t2 AS HUGEINT))) END
              |    AS BIGINT) AS kappa_bp
              |FROM g CROSS JOIN tot ORDER BY grade""".stripMargin)),

    // ---- Krippendorff's alpha (nominal) -------------------------------------
    // The agreement coefficient that generalizes across missing raters
    // and metrics; here the nominal form on the same 4-rater fixture,
    // via the coincidence-matrix identities: observed disagreement
    // D_o prop. sum_i (R^2 - sum_c n_ic^2), expected D_e prop.
    // n^2 - sum_c T_c^2, and alpha = 1 - (n-1)*sum_i(16 - sq_i)
    // / (3*(n^2 - sum T_c^2)) with n = 4N total ratings. Same
    // scan -> project -> one-scalar-agg plan as q327 — the two
    // coefficients differ only in the chance-correction algebra, so
    // disagreement between them on the same data flags which assumption
    // broke (kappa's per-category independence vs alpha's pooled
    // marginals).
    "q328_krippendorff_alpha" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val lab = raterLabels(tableParallel(s, dir, "documents"))
        val perDoc = lab.select(
          (0 to 2).map(c => (0 until 4).map(r =>
            when(col(s"g${r + 1}") === c, 1L).otherwise(0L))
            .reduce(_ + _).as(s"nc$c")): _*)
          .withColumn("sq",
            expr("nc0 * nc0 + nc1 * nc1 + nc2 * nc2"))
        val tot = perDoc.agg(
          count(lit(1)).as("n_docs"),
          sum(expr("16 - sq")).as("dis"),
          sum("nc0").as("t0"), sum("nc1").as("t1"), sum("nc2").as("t2"))
        val grades = Seq(0L, 1L, 2L).toDF("grade")
        grades.join(broadcast(tot))
          .withColumn("t_c", expr(
            "CASE grade WHEN 0 THEN t0 WHEN 1 THEN t1 ELSE t2 END"))
          .withColumn("n_ratings", expr("4 * n_docs"))
          // U = (n-1)*sum(16-sq);  V = 3*(n^2 - sum T^2);
          // alpha = (V - U) / V, sign-split in bp
          .withColumn("u_num", expr(
            "(4 * CAST(n_docs AS DECIMAL(38,0)) - 1) * dis"))
          .withColumn("v_num", expr(
            "3 * (16 * CAST(n_docs AS DECIMAL(38,0)) * n_docs " +
              "- (CAST(t0 AS DECIMAL(38,0))*t0 " +
              "+ CAST(t1 AS DECIMAL(38,0))*t1 " +
              "+ CAST(t2 AS DECIMAL(38,0))*t2))"))
          .withColumn("d_o_bp", expr(
            "CAST(u_num * 10000 DIV v_num AS BIGINT)"))
          .withColumn("alpha_bp", expr(
            """CAST(CASE WHEN v_num >= u_num
              |  THEN (v_num - u_num) * 10000 DIV v_num
              |  ELSE -((u_num - v_num) * 10000 DIV v_num) END
              |  AS BIGINT)""".stripMargin))
          .select(col("grade"), col("t_c"), col("n_docs"),
            col("n_ratings"), col("d_o_bp"), col("alpha_bp"))
          .orderBy("grade")
      },
      Some(s"""WITH $duckRaterCtes,
              |pd AS (SELECT
              |    CAST((g1=0)::INT + (g2=0)::INT + (g3=0)::INT
              |      + (g4=0)::INT AS BIGINT) AS nc0,
              |    CAST((g1=1)::INT + (g2=1)::INT + (g3=1)::INT
              |      + (g4=1)::INT AS BIGINT) AS nc1,
              |    CAST((g1=2)::INT + (g2=2)::INT + (g3=2)::INT
              |      + (g4=2)::INT AS BIGINT) AS nc2
              |  FROM raters),
              |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(16 - (nc0*nc0 + nc1*nc1 + nc2*nc2)) AS BIGINT)
              |      AS dis,
              |    CAST(sum(nc0) AS BIGINT) AS t0,
              |    CAST(sum(nc1) AS BIGINT) AS t1,
              |    CAST(sum(nc2) AS BIGINT) AS t2
              |  FROM pd),
              |sc AS (SELECT n_docs, t0, t1, t2,
              |    (4 * CAST(n_docs AS HUGEINT) - 1) * dis AS u_num,
              |    3 * (16 * CAST(n_docs AS HUGEINT) * n_docs
              |      - (CAST(t0 AS HUGEINT)*t0 + CAST(t1 AS HUGEINT)*t1
              |        + CAST(t2 AS HUGEINT)*t2)) AS v_num
              |  FROM tot),
              |g AS (SELECT CAST(unnest(range(0, 3)) AS BIGINT) AS grade)
              |SELECT grade,
              |  CAST(CASE grade WHEN 0 THEN t0 WHEN 1 THEN t1 ELSE t2 END
              |    AS BIGINT) AS t_c,
              |  n_docs, CAST(4 * n_docs AS BIGINT) AS n_ratings,
              |  CAST(u_num * 10000 // v_num AS BIGINT) AS d_o_bp,
              |  CAST(CASE WHEN v_num >= u_num
              |    THEN (v_num - u_num) * 10000 // v_num
              |    ELSE -((u_num - v_num) * 10000 // v_num) END
              |    AS BIGINT) AS alpha_bp
              |FROM g CROSS JOIN sc ORDER BY grade""".stripMargin)),

    // ---- Jensen-Shannon divergence per source --------------------------------
    // The symmetric, bounded [0, ln2] companion to the KL drift audits:
    // how far is each source's unigram distribution from the corpus?
    // The JS sum over the FULL vocabulary is restructured so nothing
    // ever joins vocab x sources: for tokens absent from the source
    // (P = 0) the Q-side term is exactly Q*ln2, so
    // JS_s = 1/2 * sum_{t in s}[P ln(2P/(P+Q)) + Q ln(2Q/(P+Q))]
    //      + 1/2 * (1 - cov_s) * ln2,  cov_s = sum_{t in s} Q(t).
    // Plan: one token explode -> (source, tok) counts -> equi-join to
    // corpus token counts (derived from the same frame) -> per-source
    // agg. Doubles appear only in the final ln/round (round(..., 4) on
    // both sides per the parity rules); everything upstream is exact
    // counts.
    "q331_js_divergence" -> QueryDef(
      (s, dir) => {
        val toks = Materialize(tableParallel(s, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("t"))
          .groupBy("source", "t").agg(count(lit(1)).as("c_st")))
        val corpus = toks.groupBy("t").agg(sum("c_st").as("c_t"))
        val ns = toks.groupBy("source").agg(sum("c_st").as("n_s"))
        val n = corpus.agg(sum("c_t").as("n"))
        toks.join(corpus, "t")
          .join(ns, "source")
          .join(broadcast(n))
          .withColumn("p", col("c_st").cast("double") / col("n_s"))
          .withColumn("q", col("c_t").cast("double") / col("n"))
          .withColumn("term",
            col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))) +
              col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
          .groupBy("source")
          .agg(sum("term").as("in_sum"), sum("q").as("cov"),
            count(lit(1)).as("n_shared_tokens"),
            first("n_s").as("n_s"))
          .withColumn("js_nats", round(
            col("in_sum") / 2 +
              (lit(1.0) - col("cov")) * log(lit(2.0)) / 2, 4))
          .select(col("source"), col("n_s"), col("n_shared_tokens"),
            col("js_nats"))
          .orderBy("source")
      },
      Some(s"""WITH ws AS (SELECT source, $duckToks AS ws FROM documents),
              |tk AS (SELECT source, unnest(ws) AS t FROM ws),
              |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
              |  FROM tk GROUP BY 1, 2),
              |ct AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t
              |  FROM st GROUP BY 1),
              |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
              |  FROM st GROUP BY 1),
              |nn AS (SELECT CAST(sum(c_t) AS BIGINT) AS n FROM ct),
              |j AS (SELECT st.source, st.c_st, ct.c_t, ns.n_s, nn.n,
              |    st.c_st * 1.0 / ns.n_s AS p,
              |    ct.c_t * 1.0 / nn.n AS q
              |  FROM st JOIN ct USING (t) JOIN ns USING (source)
              |  CROSS JOIN nn)
              |SELECT source, CAST(min(n_s) AS BIGINT) AS n_s,
              |  CAST(count(*) AS BIGINT) AS n_shared_tokens,
              |  round(sum(p * ln(2.0 * p / (p + q))
              |      + q * ln(2.0 * q / (p + q))) / 2
              |    + (1.0 - sum(q)) * ln(2.0) / 2, 4) AS js_nats
              |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // ---- asymmetric containment (eval-in-train screening) -------------------
    // Jaccard (q43) misses the case decontamination cares about most: a
    // SMALL document fully embedded in a large one (|A∩B|/|A∪B| tiny,
    // |A∩B|/|A| = 1). Containment is the asymmetric overlap in each
    // direction, computed EXACTLY on the hashed-shingle sets — but only
    // for LSH band candidates (the q41 generator), so the pair space
    // stays bounded by bucket collisions, never corpus^2. The exact
    // intersection is one array_intersect over the two per-doc sets
    // (each bounded by doc length) after joining candidates back to the
    // signature frame — no shingle-level shuffle join.
    "q333_minhash_containment" -> QueryDef(
      (s, dir) => {
        val hs = Materialize(hsMirror(s, dir).select("doc_id", "hs"))
        val cand = candMirror(s, dir)
        cand
          .join(hs.select(col("doc_id").as("doc_a"), col("hs").as("ha")),
            "doc_a")
          .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("hb")),
            "doc_b")
          .withColumn("n_inter",
            size(array_intersect(col("ha"), col("hb"))).cast("long"))
          .withColumn("n_a", size(col("ha")).cast("long"))
          .withColumn("n_b", size(col("hb")).cast("long"))
          .filter(col("n_inter") > 0)
          .withColumn("cont_a_bp", expr("n_inter * 10000 DIV n_a"))
          .withColumn("cont_b_bp", expr("n_inter * 10000 DIV n_b"))
          .withColumn("max_cont_bp", greatest(col("cont_a_bp"),
            col("cont_b_bp")))
          .select("doc_a", "doc_b", "n_a", "n_b", "n_inter",
            "cont_a_bp", "cont_b_bp", "max_cont_bp")
          .orderBy(desc("max_cont_bp"), col("doc_a"), col("doc_b"))
          .limit(20)
      },
      Some {
        val minhashes = (0 until 8).map { i =>
          s"""list_min(list_transform(hs,
             |   h -> (${minhashA(i)} * h + ${minhashB(i)}) % $MinhashP)) AS m$i""".stripMargin
        }.mkString(",\n ")
        val bands = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band_id, m${2 * b}::VARCHAR || ',' || " +
            s"m${2 * b + 1}::VARCHAR AS key FROM sig"
        }.mkString("\n UNION ALL ")
        s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
           |hss AS (SELECT * FROM
           |          (SELECT doc_id, $duckHs AS hs FROM ws)
           |        WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, $minhashes FROM hss),
           |bands AS ($bands),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.key = b.key
           |    AND a.doc_id < b.doc_id),
           |sc AS (SELECT doc_a, doc_b,
           |    CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT)
           |      AS n_inter,
           |    CAST(len(ha.hs) AS BIGINT) AS n_a,
           |    CAST(len(hb.hs) AS BIGINT) AS n_b
           |  FROM cand
           |  JOIN hss ha ON ha.doc_id = doc_a
           |  JOIN hss hb ON hb.doc_id = doc_b)
           |SELECT doc_a, doc_b, n_a, n_b, n_inter,
           |  CAST(n_inter * 10000 // n_a AS BIGINT) AS cont_a_bp,
           |  CAST(n_inter * 10000 // n_b AS BIGINT) AS cont_b_bp,
           |  CAST(greatest(n_inter * 10000 // n_a,
           |    n_inter * 10000 // n_b) AS BIGINT) AS max_cont_bp
           |FROM sc WHERE n_inter > 0
           |ORDER BY max_cont_bp DESC, doc_a, doc_b LIMIT 20""".stripMargin
      }),

    // ---- Hill tail-index estimator -------------------------------------------
    // Token frequencies are heavy-tailed; HOW heavy decides whether
    // frequency-based caps (top-k vocab, count cutoffs) lose mass. The
    // Hill estimator over the top k=16 order statistics (the synthetic
    // corpus has a ~31-token vocabulary; k scales with real vocabs),
    // H = (1/k) * sum_{i<=k} ln(c_(i) / c_(k+1)), alpha_hat = 1/H, is
    // the standard tail-exponent audit. Plan: token counts (one explode
    // + groupBy), then a GLOBAL top-(k+1) — TakeOrderedAndProject, the
    // bounded-output top-k shape, never a full sort — and the ln/round
    // arithmetic runs on the 101-row frame.
    "q335_hill_tail_index" -> QueryDef(
      (s, dir) => {
        val k = 16
        val counts = tableParallel(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        val top = counts
          .orderBy(desc("c"), col("t")).limit(k + 1)
          .withColumn("rk",
            row_number().over(Window.orderBy(desc("c"), col("t"))))
        val ck1 = top.filter(col("rk") === k + 1)
          .select(col("c").as("c_k1"))
        top.filter(col("rk") <= k)
          .join(broadcast(ck1))
          .agg(count(lit(1)).as("k"),
            first(col("c_k1")).as("c_k1"),
            sum(log(col("c").cast("double") / col("c_k1"))).as("h_sum"))
          .withColumn("hill", round(col("h_sum") / col("k"), 4))
          .withColumn("alpha_hat",
            round(col("k") / col("h_sum"), 4))
          .select(col("k"), col("c_k1"), col("hill"), col("alpha_hat"))
      },
      Some(s"""WITH ws AS (SELECT $duckToks AS ws FROM documents),
              |tk AS (SELECT unnest(ws) AS t FROM ws),
              |ct AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk
              |  GROUP BY 1),
              |top AS (SELECT c, row_number()
              |    OVER (ORDER BY c DESC, t) AS rk
              |  FROM ct ORDER BY c DESC, t LIMIT 17),
              |k1 AS (SELECT c AS c_k1 FROM top WHERE rk = 17)
              |SELECT CAST(count(*) AS BIGINT) AS k,
              |  CAST(min(c_k1) AS BIGINT) AS c_k1,
              |  round(sum(ln(c * 1.0 / c_k1)) / count(*), 4) AS hill,
              |  round(count(*) / sum(ln(c * 1.0 / c_k1)), 4) AS alpha_hat
              |FROM top CROSS JOIN k1 WHERE rk <= 16""".stripMargin)),

    // ---- PMI collocations ----------------------------------------------------
    // Pointwise mutual information over adjacent token bigrams — the
    // classic collocation miner (phrases worth treating as units in a
    // tokenizer/vocab build). PMI = ln(c_xy * Nt^2 / (Nb * c_x * c_y))
    // with a min-support cut so rare-pair noise (PMI's known failure
    // mode) can't top the list. Plan: ONE fused explode emits bigram
    // positions, unigram counts come from the same token frame, and the
    // join back to unigram counts is bigram-vocab-sized — never a
    // corpus-row join. Reported as the exact-integer LIFT
    // (lift_micro = c_xy*Nt^2*1e6 / (Nb*c_x*c_y), PMI = ln(lift)):
    // ln is strictly monotone, so the ranking is identical, and the
    // integer lift cannot hit the floor(ln)-straddles-an-integer ulp
    // divergence between the two engines' libm (observed: 421446 vs
    // 421445 micro on this very fixture).
    "q336_pmi_collocations" -> QueryDef(
      (s, dir) => {
        val toks = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ws"))
          .filter(size(col("ws")) > 0))
        // uni feeds the total and BOTH unigram joins, bi feeds the
        // total and the support-cut chain — uncached, each explode+
        // groupBy re-ran per consumer
        val uni = Materialize(toks.select(explode(col("ws")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c")))
        val nt = uni.agg(sum("c").as("nt"))
        val bi = Materialize(toks.select(explode(expr(
            """transform(sequence(1, size(ws) - 1), i ->
              |  named_struct('x', ws[i - 1], 'y', ws[i]))"""
              .stripMargin)).as("b"))
          .select(col("b.x").as("x"), col("b.y").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("c_xy")))
        val nb = bi.agg(sum("c_xy").as("nb"))
        bi.filter(col("c_xy") >= 5)
          .join(uni.select(col("t").as("x"), col("c").as("c_x")), "x")
          .join(uni.select(col("t").as("y"), col("c").as("c_y")), "y")
          .join(broadcast(nt)).join(broadcast(nb))
          .withColumn("lift_micro", expr(
            "CAST(CAST(c_xy AS DECIMAL(38,0)) * nt * nt * 1000000 " +
              "DIV (CAST(nb AS DECIMAL(38,0)) * c_x * c_y) AS BIGINT)"))
          .select("x", "y", "c_xy", "c_x", "c_y", "lift_micro")
          .orderBy(desc("lift_micro"), col("x"), col("y"))
          .limit(20)
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws
              |  FROM documents),
              |wf AS (SELECT * FROM ws WHERE len(ws) > 0),
              |uni AS (SELECT unnest(ws) AS t FROM wf),
              |uc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni
              |  GROUP BY 1),
              |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM uc),
              |bi AS (SELECT u.b.x AS x, u.b.y AS y
              |  FROM wf, unnest(list_transform(range(2, len(ws) + 1),
              |    i -> struct_pack(x := ws[i - 1], y := ws[i])))
              |    AS u(b)),
              |bc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
              |  FROM bi GROUP BY 1, 2),
              |nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS nb FROM bc)
              |SELECT bc.x, bc.y, bc.c_xy, ux.c AS c_x, uy.c AS c_y,
              |  CAST(CAST(bc.c_xy AS HUGEINT) * nt.nt * nt.nt * 1000000
              |    // (CAST(nb.nb AS HUGEINT) * ux.c * uy.c) AS BIGINT)
              |    AS lift_micro
              |FROM bc JOIN uc ux ON ux.t = bc.x
              |JOIN uc uy ON uy.t = bc.y
              |CROSS JOIN nt CROSS JOIN nb
              |WHERE bc.c_xy >= 5
              |ORDER BY lift_micro DESC, x, y LIMIT 20""".stripMargin)),

    // ---- in-batch negative collision audit ------------------------------------
    // Contrastive training treats other in-batch items as negatives; a
    // near-duplicate landing in the SAME batch becomes a false negative
    // that actively fights the objective. This audits hash-assigned
    // batching (doc_id md5 mod 64) against the LSH near-dup pair set:
    // observed same-batch collisions vs the n_pairs/64 a collision-
    // oblivious batcher expects. Plan: the pair set is the bounded q41
    // candidate generator; batch assignment is a map-side hash; the
    // audit is one scalar aggregate. At 100 TB the fix this audit
    // motivates — dedup-aware batch assignment — reuses the same pair
    // artifact.
    "q337_inbatch_collision_audit" -> QueryDef(
      (s, dir) => {
        val cand = candMirror(s, dir)
        def batch(c: org.apache.spark.sql.Column) =
          hash32(concat(lit("b|"), c.cast("string"))) % 64
        cand
          .withColumn("ba", batch(col("doc_a")))
          .withColumn("bb", batch(col("doc_b")))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("ba") === col("bb"), 1L).otherwise(0L))
              .as("n_collisions"))
          .withColumn("expected_milli",
            expr("n_pairs * 1000 DIV 64"))
          .withColumn("excess_bp", expr(
            "CASE WHEN n_pairs > 0 " +
              "THEN n_collisions * 64 * 10000 DIV n_pairs " +
              "ELSE 0 END"))
          .select("n_pairs", "n_collisions", "expected_milli",
            "excess_bp")
      },
      Some {
        val minhashes = (0 until 8).map { i =>
          s"""list_min(list_transform(hs,
             |   h -> (${minhashA(i)} * h + ${minhashB(i)}) % $MinhashP)) AS m$i""".stripMargin
        }.mkString(",\n ")
        val bands = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band_id, m${2 * b}::VARCHAR || ',' || " +
            s"m${2 * b + 1}::VARCHAR AS key FROM sig"
        }.mkString("\n UNION ALL ")
        s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
           |hss AS (SELECT * FROM
           |          (SELECT doc_id, $duckHs AS hs FROM ws)
           |        WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, $minhashes FROM hss),
           |bands AS ($bands),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.key = b.key
           |    AND a.doc_id < b.doc_id),
           |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(CASE WHEN
           |        CAST(('0x' || substr(md5('b|' || doc_a), 1, 8))
           |          AS BIGINT) % 64 =
           |        CAST(('0x' || substr(md5('b|' || doc_b), 1, 8))
           |          AS BIGINT) % 64
           |      THEN 1 ELSE 0 END) AS BIGINT) AS n_collisions
           |  FROM cand)
           |SELECT n_pairs, n_collisions,
           |  CAST(n_pairs * 1000 // 64 AS BIGINT) AS expected_milli,
           |  CAST(CASE WHEN n_pairs > 0
           |    THEN n_collisions * 64 * 10000 // n_pairs
           |    ELSE 0 END AS BIGINT) AS excess_bp
           |FROM ag""".stripMargin
      }),

    // ---- intra-document repetition -------------------------------------------
    // q234's distinct-n measures repetition ACROSS a source; generation
    // loops and boilerplate repeat WITHIN a document, which per-source
    // ratios dilute away. Per-doc repeated-trigram rate
    // (positions - distinct) / positions, aggregated per source (mass-
    // weighted mean + worst doc). Pure map-side per-doc arithmetic from
    // the one token projection, then a source-sized groupBy.
    "q338_intradoc_repetition" -> QueryDef(
      (s, dir) => {
        val perDoc = tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            tokens(col("text")).as("ws"))
          .withColumn("n3",
            greatest(size(col("ws")) - 2, lit(0)).cast("long"))
          .filter(col("n3") > 0)
          .withColumn("d3", size(graft.functions.TextOps
            .shingles3(col("ws"))).cast("long"))
          .withColumn("rep_bp", expr("(n3 - d3) * 10000 DIV n3"))
        perDoc.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n3").as("tri_positions"),
            sum(expr("n3 - d3")).as("repeated_positions"),
            max("rep_bp").as("max_rep_bp"))
          .withColumn("avg_rep_bp", expr(
            "repeated_positions * 10000 DIV tri_positions"))
          .select("source", "n_docs", "tri_positions",
            "repeated_positions", "avg_rep_bp", "max_rep_bp")
          .orderBy("source")
      },
      Some(s"""WITH ws AS (SELECT doc_id, source, $duckToks AS ws
              |  FROM documents),
              |pd AS (SELECT doc_id, source,
              |    CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS n3,
              |    CAST(len($duckShingles) AS BIGINT) AS d3
              |  FROM ws),
              |pf AS (SELECT *, (n3 - d3) * 10000 // n3 AS rep_bp
              |  FROM pd WHERE n3 > 0)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n3) AS BIGINT) AS tri_positions,
              |  CAST(sum(n3 - d3) AS BIGINT) AS repeated_positions,
              |  CAST(sum(n3 - d3) * 10000 // sum(n3) AS BIGINT)
              |    AS avg_rep_bp,
              |  CAST(max(rep_bp) AS BIGINT) AS max_rep_bp
              |FROM pf GROUP BY source ORDER BY source""".stripMargin)),

    // ---- incremental dedup against a standing index ---------------------------
    // Production dedup is INCREMENTAL: yesterday's corpus is already
    // signed and indexed; today's batch must dedup against it without
    // recomputing a single old signature. Fixture: even doc_ids are the
    // standing index, odd doc_ids the incoming batch. Candidates come
    // from ONE equi-join of new band keys against the old band index
    // (the artifact a real pipeline persists — same staging verb as the
    // co-purchase mirror); exact Jaccard on the two bounded per-doc
    // shingle sets confirms, >= 80% flags. Incremental cost is
    // O(new batch), never O(corpus).
    "q340_incremental_dedup_index" -> QueryDef(
      (s, dir) => {
        val hs = Materialize(hsMirror(s, dir).select("doc_id", "hs"))
        // the incoming batch's candidates against the standing index are
        // exactly the mixed-parity rows of the shared collision mirror
        // (new = the odd member, old = the even member)
        val cand = candMirror(s, dir)
          .filter(col("doc_a") % 2 =!= col("doc_b") % 2)
          .select(
            when(col("doc_a") % 2 === 1, col("doc_a"))
              .otherwise(col("doc_b")).as("new_doc"),
            when(col("doc_a") % 2 === 1, col("doc_b"))
              .otherwise(col("doc_a")).as("old_doc"))
        val scored = cand
          .join(hs.select(col("doc_id").as("new_doc"),
            col("hs").as("hn")), "new_doc")
          .join(hs.select(col("doc_id").as("old_doc"),
            col("hs").as("ho")), "old_doc")
          .withColumn("n_inter",
            size(array_intersect(col("hn"), col("ho"))).cast("long"))
          .withColumn("n_union",
            (size(col("hn")) + size(col("ho"))).cast("long") -
              col("n_inter"))
          .withColumn("jacc_bp", expr("n_inter * 10000 DIV n_union"))
          .filter(col("jacc_bp") >= 8000)
        scored
          .withColumn("rn", row_number().over(Window
            .partitionBy("new_doc")
            .orderBy(desc("jacc_bp"), asc("old_doc"))))
          .filter(col("rn") === 1)
          .select("new_doc", "old_doc", "n_inter", "n_union", "jacc_bp")
          .orderBy("new_doc")
      },
      Some {
        val minhashes = (0 until 8).map { i =>
          s"""list_min(list_transform(hs,
             |   h -> (${minhashA(i)} * h + ${minhashB(i)}) % $MinhashP)) AS m$i""".stripMargin
        }.mkString(",\n ")
        val bands = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band_id, m${2 * b}::VARCHAR || ',' || " +
            s"m${2 * b + 1}::VARCHAR AS key FROM sig"
        }.mkString("\n UNION ALL ")
        s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
           |hss AS (SELECT * FROM
           |          (SELECT doc_id, $duckHs AS hs FROM ws)
           |        WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, $minhashes FROM hss),
           |bands AS ($bands),
           |cand AS (SELECT DISTINCT n.doc_id AS new_doc,
           |    o.doc_id AS old_doc
           |  FROM bands n JOIN bands o
           |    ON n.band_id = o.band_id AND n.key = o.key
           |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0),
           |sc AS (SELECT new_doc, old_doc,
           |    CAST(len(list_intersect(hn.hs, ho.hs)) AS BIGINT)
           |      AS n_inter,
           |    CAST(len(hn.hs) + len(ho.hs)
           |      - len(list_intersect(hn.hs, ho.hs)) AS BIGINT)
           |      AS n_union
           |  FROM cand
           |  JOIN hss hn ON hn.doc_id = new_doc
           |  JOIN hss ho ON ho.doc_id = old_doc),
           |fl AS (SELECT *, n_inter * 10000 // n_union AS jacc_bp
           |  FROM sc WHERE n_inter * 10000 // n_union >= 8000),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY new_doc
           |    ORDER BY jacc_bp DESC, old_doc) AS rn FROM fl)
           |SELECT new_doc, old_doc, n_inter, n_union,
           |  CAST(jacc_bp AS BIGINT) AS jacc_bp
           |FROM rk WHERE rn = 1 ORDER BY new_doc""".stripMargin
      }),
    // ---- Theil's U (uncertainty coefficient) -----------------------------------
    // How much does knowing the SOURCE tell you about the LANGUAGE (and
    // vice versa)? U(Y|X) = I(X;Y)/H(Y) is the normalized, ASYMMETRIC
    // association measure for categorical columns — the dataset-card
    // statistic that catches "this source is monolingual" /
    // "this language lives in one source" coupling that a symmetric
    // Cramer's V blurs. One groupBy to the (source, lang) contingency
    // cells (bounded: |sources| x |langs|); entropies and the MI sum run
    // on that bounded frame; ln only in the final round(4) projection.
    "q341_theil_u" -> QueryDef(
      (s, dir) => {
        // ONE corpus scan: every downstream branch (marginals, totals,
        // the MI join) derives from the cached bounded cell frame
        val cells = Materialize(tableParallel(s, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("c")))
        val bySrc = Materialize(
          cells.groupBy("source").agg(sum("c").as("cs")))
        val byLang = Materialize(
          cells.groupBy("lang").agg(sum("c").as("cl")))
        val n = cells.agg(sum("c").as("n"))
        val joined = cells.join(bySrc, "source").join(byLang, "lang")
          .join(broadcast(n))
        val agg = joined.agg(
          sum(expr("(c * 1.0 / n) * ln((c * 1.0 * n) / (cs * 1.0 * cl))"))
            .as("mi"),
          count(lit(1)).as("n_cells"))
        val hs = bySrc.join(broadcast(n))
          .agg(sum(expr("-(cs * 1.0 / n) * ln(cs * 1.0 / n)")).as("h_src"))
        val hl = byLang.join(broadcast(n))
          .agg(sum(expr("-(cl * 1.0 / n) * ln(cl * 1.0 / n)")).as("h_lang"))
        agg.join(broadcast(hs)).join(broadcast(hl))
          .select(col("n_cells"),
            round(col("mi"), 4).as("mi_nats"),
            round(col("h_src"), 4).as("h_source"),
            round(col("h_lang"), 4).as("h_lang"),
            round(col("mi") / col("h_lang"), 4).as("u_lang_given_source"),
            round(col("mi") / col("h_src"), 4).as("u_source_given_lang"))
      },
      Some("""WITH cells AS (SELECT source, lang,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2),
             |bs AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs
             |  FROM cells GROUP BY 1),
             |bl AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cl
             |  FROM cells GROUP BY 1),
             |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
             |mi AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
             |    sum((c * 1.0 / n) * ln((c * 1.0 * n) / (cs * 1.0 * cl)))
             |      AS mi
             |  FROM cells JOIN bs USING (source) JOIN bl USING (lang)
             |  CROSS JOIN nn),
             |hs AS (SELECT sum(-(cs * 1.0 / n) * ln(cs * 1.0 / n))
             |    AS h_src FROM bs CROSS JOIN nn),
             |hl AS (SELECT sum(-(cl * 1.0 / n) * ln(cl * 1.0 / n))
             |    AS h_lang FROM bl CROSS JOIN nn)
             |SELECT n_cells, round(mi, 4) AS mi_nats,
             |  round(h_src, 4) AS h_source,
             |  round(h_lang, 4) AS h_lang,
             |  round(mi / h_lang, 4) AS u_lang_given_source,
             |  round(mi / h_src, 4) AS u_source_given_lang
             |FROM mi CROSS JOIN hs CROSS JOIN hl""".stripMargin)),

    // ---- count-based embedding (power iteration on shifted lift) --------------
    // Static word embeddings from corpus statistics alone: the top
    // principal direction of the symmetrized shifted-lift association
    // matrix W(x,y) = max(lift_micro - 1e6, 0) (a monotone transform of
    // PPMI — exact integers, no ln, so both engines replay it
    // bit-for-bit). Three power-iteration rounds, fully declarative:
    // each round is one V-row join + groupBy against the V x V matrix
    // frame (V = vocabulary is a PARAMETER — 31 in this synthetic
    // corpus, top-V at scale), normalized to max 1000 per round with
    // window-over-() so each oracle round references its predecessor
    // exactly once. The ONLY corpus-scale stage is the bigram count.
    // v0 = all-1000: W is nonnegative, so the Perron vector needs no
    // sign convention and the iteration is monotone-stable.
    "q342_count_embedding_power" -> QueryDef(
      (s, dir) => {
        val toks = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ws"))
          .filter(size(col("ws")) > 0))
        val uni = Materialize(toks.select(explode(col("ws")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c")))
        val nt = uni.agg(sum("c").as("nt"))
        // cached: consumed three times (the nb total and BOTH sides
        // of the symmetrizing union) — uncached, the bigram explode+
        // shuffle ran three times
        val bi = Materialize(toks.select(explode(expr(
            """transform(sequence(1, size(ws) - 1), i ->
              |  named_struct('x', ws[i - 1], 'y', ws[i]))"""
              .stripMargin)).as("b"))
          .select(col("b.x").as("x"), col("b.y").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("c_xy")))
        val nb = bi.agg(sum("c_xy").as("nb"))
        // symmetrize, then shift-clamp the exact-integer lift; the
        // cm >= 5 support cut removes PMI's rare-pair pathology (an
        // unsupported cut let one 26-count token own the whole vector)
        val m = Materialize(bi
          .select(col("x"), col("y"), col("c_xy"))
          .unionAll(bi.select(col("y").as("x"), col("x").as("y"),
            col("c_xy")))
          .groupBy("x", "y").agg(sum("c_xy").as("cm"))
          .filter(col("cm") >= 5)
          .join(uni.select(col("t").as("x"), col("c").as("c_x")), "x")
          .join(uni.select(col("t").as("y"), col("c").as("c_y")), "y")
          .join(broadcast(nt)).join(broadcast(nb))
          .select(col("x"), col("y"), expr(
            "greatest(CAST(CAST(cm AS DECIMAL(38,0)) * nt * nt " +
              "* 1000000 DIV (2 * CAST(nb AS DECIMAL(38,0)) " +
              "* c_x * c_y) AS BIGINT) - 1000000, CAST(0 AS BIGINT))")
            .as("w")))
        val v0 = uni.select(col("t"), lit(1000L).as("v"))
        def round1(v: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          m.join(v.select(col("t").as("y"), col("v")), "y")
            .groupBy("x")
            .agg(sum(expr("CAST(w AS DECIMAL(38,0)) * v")).as("mv"))
            .withColumn("mx",
              max("mv").over(Window.partitionBy()))
            .select(col("x").as("t"),
              expr("CAST(mv * 1000 DIV greatest(mx, 1) AS BIGINT)")
                .as("v"))
        val v3 = round1(round1(round1(v0)))
        v3.join(uni, "t")
          .select(col("t"), col("c").as("token_count"),
            col("v").as("loading_milli"))
          .orderBy(desc("loading_milli"), col("t"))
      },
      Some("""WITH ws AS (SELECT doc_id,
             |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
             |  FROM documents),
             |wf AS (SELECT * FROM ws WHERE len(ws) > 0),
             |uni AS (SELECT unnest(ws) AS t FROM wf),
             |uc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni
             |  GROUP BY 1),
             |nt AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM uc),
             |bi AS (SELECT u.b.x AS x, u.b.y AS y
             |  FROM wf, unnest(list_transform(range(2, len(ws) + 1),
             |    i -> struct_pack(x := ws[i - 1], y := ws[i])))
             |    AS u(b)),
             |bc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
             |  FROM bi GROUP BY 1, 2),
             |nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS nb FROM bc),
             |sym AS (SELECT x, y, CAST(sum(c_xy) AS BIGINT) AS cm
             |  FROM (SELECT x, y, c_xy FROM bc
             |        UNION ALL SELECT y, x, c_xy FROM bc)
             |  GROUP BY 1, 2),
             |m AS (SELECT sym.x, sym.y,
             |    greatest(CAST(CAST(cm AS HUGEINT) * nt.nt * nt.nt
             |      * 1000000 // (2 * CAST(nb.nb AS HUGEINT)
             |      * ux.c * uy.c) AS BIGINT) - 1000000,
             |      CAST(0 AS BIGINT)) AS w
             |  FROM sym JOIN uc ux ON ux.t = sym.x
             |  JOIN uc uy ON uy.t = sym.y
             |  CROSS JOIN nt CROSS JOIN nb
             |  WHERE sym.cm >= 5),
             |v0 AS (SELECT t, CAST(1000 AS BIGINT) AS v FROM uc),
             |v1 AS (SELECT x AS t, CAST(sum(CAST(w AS HUGEINT) * v)
             |      * 1000 // greatest(max(sum(CAST(w AS HUGEINT) * v))
             |        OVER (), 1) AS BIGINT) AS v
             |  FROM m JOIN v0 ON v0.t = m.y GROUP BY x),
             |v2 AS (SELECT x AS t, CAST(sum(CAST(w AS HUGEINT) * v)
             |      * 1000 // greatest(max(sum(CAST(w AS HUGEINT) * v))
             |        OVER (), 1) AS BIGINT) AS v
             |  FROM m JOIN v1 ON v1.t = m.y GROUP BY x),
             |v3 AS (SELECT x AS t, CAST(sum(CAST(w AS HUGEINT) * v)
             |      * 1000 // greatest(max(sum(CAST(w AS HUGEINT) * v))
             |        OVER (), 1) AS BIGINT) AS v
             |  FROM m JOIN v2 ON v2.t = m.y GROUP BY x)
             |SELECT v3.t, uc.c AS token_count, v3.v AS loading_milli
             |FROM v3 JOIN uc USING (t)
             |ORDER BY loading_milli DESC, t""".stripMargin)),
    // ---- near-dup-aware split leakage audit ------------------------------------
    // q201 audits USER-level splits; the dedup-era leak is finer: two
    // near-duplicate documents landing on opposite sides of a
    // train/eval split leak the training text into evaluation even
    // though no key is shared. The fix every pipeline ships is
    // CLUSTER-level assignment — hash the near-dup component's label,
    // not the doc — and this audits both schemes side by side on the
    // verified (Jaccard >= 80%) near-dup graph: doc-level md5 80/20
    // leaks a measurable share of near-dup edges across the cut;
    // cluster-level leaks exactly zero BY CONSTRUCTION (the column is
    // in the output because the audit's job is to witness it). Edges
    // come from the shared LSH mirror + exact-Jaccard confirm; the
    // component labels from the same distributed min-label CC the dedup
    // family uses. Costs: one candidate-set scan + CC on the bounded
    // near-dup graph.
    "q343_cluster_split_audit" -> QueryDef(
      (s, dir) => {
        val hs = Materialize(hsMirror(s, dir).select("doc_id", "hs"))
        val edges = Materialize(candMirror(s, dir)
          .join(hs.select(col("doc_id").as("doc_a"),
            col("hs").as("ha")), "doc_a")
          .join(hs.select(col("doc_id").as("doc_b"),
            col("hs").as("hb")), "doc_b")
          .withColumn("n_inter",
            size(array_intersect(col("ha"), col("hb"))).cast("long"))
          .withColumn("n_union",
            (size(col("ha")) + size(col("hb"))).cast("long") -
              col("n_inter"))
          .filter(expr("n_inter * 10000 DIV n_union >= 8000"))
          .select("doc_a", "doc_b"))
        val comp = Materialize(graft.operators.ConnectedComponents
          .minLabel(edges))
        def evalSide(c: org.apache.spark.sql.Column) =
          (hash32(concat(lit("sp|"), c.cast("string"))) % 10) >= 8
        val docsSplit = comp
          .withColumn("doc_eval", evalSide(col("doc")))
          .withColumn("cluster_eval", evalSide(col("label")))
        val byEdge = edges
          .join(docsSplit.select(col("doc").as("doc_a"),
            col("doc_eval").as("ea"), col("cluster_eval").as("ca")),
            "doc_a")
          .join(docsSplit.select(col("doc").as("doc_b"),
            col("doc_eval").as("eb"), col("cluster_eval").as("cb")),
            "doc_b")
        val edgeAgg = byEdge.agg(
          count(lit(1)).as("n_dup_edges"),
          sum(when(col("ea") =!= col("eb"), 1L).otherwise(0L))
            .as("leak_doc_split"),
          sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L))
            .as("leak_cluster_split"))
        val docAgg = docsSplit.agg(
          count(lit(1)).as("n_docs_clustered"),
          countDistinct("label").as("n_clusters"),
          sum(when(col("doc_eval"), 1L).otherwise(0L)).as("ev_doc"),
          sum(when(col("cluster_eval"), 1L).otherwise(0L))
            .as("ev_cluster"))
        edgeAgg.join(broadcast(docAgg))
          .select(col("n_dup_edges"), col("leak_doc_split"),
            col("leak_cluster_split"),
            col("n_docs_clustered"), col("n_clusters"),
            expr("ev_doc * 10000 DIV n_docs_clustered")
              .as("eval_bp_doc_split"),
            expr("ev_cluster * 10000 DIV n_docs_clustered")
              .as("eval_bp_cluster_split"))
      },
      Some {
        val minhashes = (0 until 8).map { i =>
          s"""list_min(list_transform(hs,
             |   h -> (${minhashA(i)} * h + ${minhashB(i)}) % ${MinhashP})) AS m$i""".stripMargin
        }.mkString(",\n ")
        val bands = (0 until 4).map { b =>
          s"SELECT doc_id, $b AS band_id, m${2 * b}::VARCHAR || ',' || " +
            s"m${2 * b + 1}::VARCHAR AS key FROM sig"
        }.mkString("\n UNION ALL ")
        s"""WITH RECURSIVE
           |ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
           |hss AS (SELECT * FROM
           |          (SELECT doc_id, $duckHs AS hs FROM ws)
           |        WHERE len(hs) > 0),
           |sig AS (SELECT doc_id, $minhashes FROM hss),
           |bands AS ($bands),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band_id = b.band_id AND a.key = b.key
           |    AND a.doc_id < b.doc_id),
           |ed AS (SELECT doc_a, doc_b
           |  FROM (SELECT doc_a, doc_b,
           |      CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT)
           |        AS n_inter,
           |      CAST(len(ha.hs) + len(hb.hs)
           |        - len(list_intersect(ha.hs, hb.hs)) AS BIGINT)
           |        AS n_union
           |    FROM cand
           |    JOIN hss ha ON ha.doc_id = doc_a
           |    JOIN hss hb ON hb.doc_id = doc_b)
           |  WHERE n_inter * 10000 // n_union >= 8000),
           |sym AS (SELECT doc_a AS a, doc_b AS b FROM ed
           |  UNION ALL SELECT doc_b, doc_a FROM ed),
           |nodes AS (SELECT DISTINCT a AS node FROM sym),
           |reach AS (SELECT node, node AS r FROM nodes
           |  UNION
           |  SELECT e.b AS node, reach.r FROM reach JOIN sym e
           |    ON e.a = reach.node),
           |comp AS (SELECT node AS doc, min(r) AS label FROM reach
           |  GROUP BY 1),
           |ds AS (SELECT doc, label,
           |    CAST(('0x' || substr(md5('sp|' || doc), 1, 8)) AS BIGINT)
           |      % 10 >= 8 AS doc_eval,
           |    CAST(('0x' || substr(md5('sp|' || label), 1, 8))
           |      AS BIGINT) % 10 >= 8 AS cluster_eval
           |  FROM comp),
           |ea AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_edges,
           |    CAST(sum(CASE WHEN da.doc_eval <> db.doc_eval
           |      THEN 1 ELSE 0 END) AS BIGINT) AS leak_doc_split,
           |    CAST(sum(CASE WHEN da.cluster_eval <> db.cluster_eval
           |      THEN 1 ELSE 0 END) AS BIGINT) AS leak_cluster_split
           |  FROM ed JOIN ds da ON da.doc = ed.doc_a
           |  JOIN ds db ON db.doc = ed.doc_b),
           |dg AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_clustered,
           |    CAST(count(DISTINCT label) AS BIGINT) AS n_clusters,
           |    CAST(sum(CASE WHEN doc_eval THEN 1 ELSE 0 END) AS BIGINT)
           |      AS ev_doc,
           |    CAST(sum(CASE WHEN cluster_eval THEN 1 ELSE 0 END)
           |      AS BIGINT) AS ev_cluster
           |  FROM ds)
           |SELECT n_dup_edges, leak_doc_split, leak_cluster_split,
           |  n_docs_clustered, n_clusters,
           |  CAST(ev_doc * 10000 // n_docs_clustered AS BIGINT)
           |    AS eval_bp_doc_split,
           |  CAST(ev_cluster * 10000 // n_docs_clustered AS BIGINT)
           |    AS eval_bp_cluster_split
           |FROM ea CROSS JOIN dg""".stripMargin
      }),

    // ---- exact Mann-Whitney AUC of the quality screen ---------------------------
    // Does the q190 quality SCORE actually rank good documents above
    // bad ones, independent of any threshold? AUC = U/(n1*n0) computed
    // EXACTLY via tie-corrected rank sums — no sampling, no sort of the
    // corpus: scores are grouped (distinct score values are few), the
    // cumulative rank arithmetic runs on the bounded distinct-score
    // frame, and ties contribute their exact average rank via the
    // integer identity 2*avg_rank = 2*r_min + n_tie - 1. The reference
    // label is the q233 gold rule. Products go DECIMAL(38)/HUGEINT (the
    // rank sum is O(n^2) in the corpus size). AUC is also the
    // Mann-Whitney test statistic, so this doubles as the screen's
    // nonparametric significance audit. On THIS synthetic corpus the
    // audit reports AUC ~ 0.04 — the score ANTI-ranks the gold rule,
    // because the 31-token vocabulary makes the lexical-diversity term
    // collapse for long documents while gold is essentially a length
    // rule. That inversion is the point of the audit: a threshold
    // comparison (q233's kappa) shows "weak agreement"; AUC shows the
    // DIRECTION and magnitude of the disagreement.
    "q344_quality_auc" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
        val scored = qualityScored(docs)
          .select(col("doc_id"), col("score"))
        val gold = docs
          .select(col("doc_id"), lower(trim(col("text"))).as("lt"))
          .filter(length(col("lt")) > 0)
          .withColumn("gold", when(
            expr("length(regexp_replace(lt, '[^a-z]', '')) * 10000" +
              " DIV length(lt)") >= 7000L && length(col("lt")) >= 200,
            1L).otherwise(0L))
          .select("doc_id", "gold")
        val grouped = Materialize(scored.join(gold, "doc_id")
          .groupBy("score")
          .agg(count(lit(1)).as("n_tie"),
            sum("gold").as("n_pos_tie")))
        val w = Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ranked = grouped
          .withColumn("cum", sum("n_tie").over(w))
          .withColumn("r_min", col("cum") - col("n_tie") + 1)
          // positives at this score contribute n_pos_tie * 2*avg_rank
          .withColumn("contrib2", expr(
            "CAST(n_pos_tie AS DECIMAL(38,0)) * " +
              "(2 * r_min + n_tie - 1)"))
        ranked.agg(
            sum("contrib2").as("r1_x2"),
            sum("n_pos_tie").as("n_pos"),
            sum(expr("n_tie - n_pos_tie")).as("n_neg"))
          .select(col("n_pos"), col("n_neg"),
            col("r1_x2").cast("long").as("r1_x2"),
            expr("CAST((r1_x2 - CAST(n_pos AS DECIMAL(38,0)) " +
              "* (n_pos + 1)) * 1000000 " +
              "DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) " +
              "AS BIGINT)").as("auc_micro"))
          .withColumn("gini_micro", expr("2 * auc_micro - 1000000"))
      },
      Some(s"""WITH $duckQualityCtes,
              |gold AS (SELECT doc_id, CASE WHEN
              |    length(regexp_replace(lower(trim(text)), '[^a-z]', '',
              |      'g')) * 10000 // length(lower(trim(text))) >= 7000
              |    AND length(lower(trim(text))) >= 200
              |    THEN 1 ELSE 0 END AS gold
              |  FROM documents WHERE length(lower(trim(text))) > 0),
              |j AS (SELECT q.score, g.gold
              |  FROM qsc q JOIN gold g ON q.doc_id = g.doc_id),
              |grp AS (SELECT score, CAST(count(*) AS BIGINT) AS n_tie,
              |    CAST(sum(gold) AS BIGINT) AS n_pos_tie
              |  FROM j GROUP BY 1),
              |rk AS (SELECT *,
              |    sum(n_tie) OVER (ORDER BY score
              |      ROWS UNBOUNDED PRECEDING) - n_tie + 1 AS r_min
              |  FROM grp),
              |ag AS (SELECT
              |    sum(CAST(n_pos_tie AS HUGEINT)
              |      * (2 * r_min + n_tie - 1)) AS r1_x2,
              |    CAST(sum(n_pos_tie) AS BIGINT) AS n_pos,
              |    CAST(sum(n_tie - n_pos_tie) AS BIGINT) AS n_neg
              |  FROM rk)
              |SELECT n_pos, n_neg, CAST(r1_x2 AS BIGINT) AS r1_x2,
              |  CAST((r1_x2 - CAST(n_pos AS HUGEINT) * (n_pos + 1))
              |    * 1000000 // (2 * CAST(n_pos AS HUGEINT) * n_neg)
              |    AS BIGINT) AS auc_micro,
              |  CAST(2 * ((r1_x2 - CAST(n_pos AS HUGEINT) * (n_pos + 1))
              |    * 1000000 // (2 * CAST(n_pos AS HUGEINT) * n_neg))
              |    - 1000000 AS BIGINT) AS gini_micro
              |FROM ag""".stripMargin)),



    // ---- training-chunk windowing accounting -----------------------------------
    // The doc -> fixed-context training-chunk splitter every LM
    // pipeline runs before packing: windows of 32 tokens at stride 24
    // (8-token overlap for boundary context; the synthetic docs are
    // 10-500 tokens — real pipelines use 2048/1536, same arithmetic),
    // tail windows shorter than 8 tokens dropped unless they are the
    // document's only window. This audits the split per source: how many chunks, how
    // much token mass the overlap duplicates (overhead_bp — directly a
    // storage/compute multiplier at 100 TB), and how many tails the
    // minimum-length rule drops. Plan: window starts are a per-doc
    // sequence explode (fan-out n/stride, bounded by doc length), then
    // one source-sized groupBy — no joins, no corpus-scale shuffle.
    "q339_chunk_windows" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast("long").as("n"))
          .filter(col("n") > 0)
        val chunks = docs
          .select(col("doc_id"), col("source"), col("n"),
            explode(expr(
              "sequence(CAST(0 AS BIGINT), n - 1, CAST(24 AS BIGINT))"))
              .as("start"))
          .withColumn("chunk_len", least(lit(32L), col("n") - col("start")))
          .withColumn("kept",
            col("chunk_len") >= 8L || col("start") === 0L)
        // doc-level totals ride the start=0 row (every doc has exactly
        // one), so the whole audit is ONE aggregation pass — no join
        chunks.groupBy("source")
          .agg(sum(when(col("start") === 0L, 1L).otherwise(0L))
              .as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_chunks"),
            sum(when(!col("kept"), 1L).otherwise(0L))
              .as("n_tails_dropped"),
            sum(when(col("kept"), col("chunk_len")).otherwise(0L))
              .as("chunk_tokens"),
            sum(when(col("start") === 0L, col("n")).otherwise(0L))
              .as("doc_tokens"))
          .withColumn("overhead_bp", expr(
            "(chunk_tokens - doc_tokens) * 10000 DIV doc_tokens"))
          .select("source", "n_docs", "n_chunks", "n_tails_dropped",
            "doc_tokens", "chunk_tokens", "overhead_bp")
          .orderBy("source")
      },
      Some(s"""WITH ws AS (SELECT doc_id, source,
              |    CAST(len($duckToks) AS BIGINT) AS n
              |  FROM documents),
              |docs AS (SELECT * FROM ws WHERE n > 0),
              |ch AS (SELECT doc_id, source, n,
              |    CAST(u.st AS BIGINT) AS start,
              |    least(32, n - CAST(u.st AS BIGINT)) AS chunk_len
              |  FROM docs, unnest(range(0, n, 24)) AS u(st)),
              |ck AS (SELECT *, (chunk_len >= 8 OR start = 0) AS kept
              |  FROM ch),
              |ag AS (SELECT source,
              |    CAST(sum(CASE WHEN start = 0 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_docs,
              |    CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_chunks,
              |    CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
              |      AS n_tails_dropped,
              |    CAST(sum(CASE WHEN kept THEN chunk_len ELSE 0 END)
              |      AS BIGINT) AS chunk_tokens,
              |    CAST(sum(CASE WHEN start = 0 THEN n ELSE 0 END)
              |      AS BIGINT) AS doc_tokens
              |  FROM ck GROUP BY 1)
              |SELECT source, n_docs, n_chunks, n_tails_dropped,
              |  doc_tokens, chunk_tokens,
              |  CAST((chunk_tokens - doc_tokens) * 10000 // doc_tokens
              |    AS BIGINT) AS overhead_bp
              |FROM ag
              |ORDER BY source""".stripMargin)),
  )

  /** Fixed-point micro-unit power base^e for e ∈ {1,2,4,8,16} by repeated
    * squaring, with an integer division by 1e6 after EVERY multiply — the
    * intermediate never exceeds 1e12, and because both engines replay the
    * identical truncation sequence (`DIV` here, `//` in DuckDB — operands
    * are non-negative, where the two operators agree), the result is
    * bit-identical without any float `pow`.
    */
  private def microPow(base: String, expCol: String, divOp: String)
      : String = {
    def sq(x: String) = s"((($x) * ($x)) $divOp 1000000)"
    val p2 = sq(base); val p4 = sq(p2); val p8 = sq(p4); val p16 = sq(p8)
    s"CASE $expCol WHEN 1 THEN $base WHEN 2 THEN $p2 WHEN 4 THEN $p4 " +
      s"WHEN 8 THEN $p8 WHEN 16 THEN $p16 END"
  }
}
