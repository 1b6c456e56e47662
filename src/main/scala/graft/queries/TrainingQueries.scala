package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{table, tableParallel}
import graft.functions.TextOps.{hash32, tokens}
import graft.operators.Materialize

/** Training-data-pipeline operators beyond the dedup/similarity families:
  * reproducible sampling, corpus mixing, sequence packing, benchmark
  * contamination checks, PII/term scrubbing, and as-of joins.
  *
  * Design rules shared by the family:
  *   - sampling decisions are HASH-seeded (md5 of a salted key), never
  *     `rand()` — reruns, retries, and the DuckDB oracle all agree on
  *     exactly which rows were kept, and the sample is stable under
  *     repartitioning (a rand() sample is none of those);
  *   - everything is a narrow projection + equi-shuffle: the only shuffles
  *     are the group-bys/joins the semantics require, so each operator's
  *     cost is linear in the corpus at 100 TB;
  *   - outputs are aggregates over the decision columns, so the oracle
  *     hash-checks the full decision vector, not a summary statistic.
  */
object TrainingQueries {

  private val duckToks =
    "regexp_split_to_array(lower(trim(text)), '\\s+')"
  private val duckHs =
    s"""CASE WHEN len(ws) >= 3
       | THEN list_distinct(list_transform(
       |   [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |    for i in range(1, len(ws) - 1)],
       |   s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)))
       | ELSE CAST([] AS BIGINT[]) END""".stripMargin

  /** The q61 PII/blocklist detectors as a per-document projection —
    * email-regex and term-blocklist match counts plus a hash witness of
    * the SCRUBBED text (so consumers verify the replacement output, not
    * just the counts). One narrow codegen'd projection, stateless —
    * shared verbatim by the batch q61 audit (which aggregates it per
    * source) and the `StreamSessionize.piiScreenStream` ingest-time
    * screen (parity-gated against this batch path). Regexes are
    * RE2-safe (no lookaround) so Java and DuckDB agree.
    */
  private[graft] def piiPerDoc(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val termRe = "\\b(key|table|spark)\\b"
    docs
      .select(col("doc_id"), col("source"), lower(col("text")).as("lt"))
      .withColumn("n_emails",
        size(regexp_extract_all(col("lt"), lit(emailRe), lit(0)))
          .cast("long"))
      .withColumn("n_terms",
        size(regexp_extract_all(col("lt"), lit(termRe), lit(0)))
          .cast("long"))
      .withColumn("scrub_h",
        hash32(regexp_replace(
          regexp_replace(col("lt"), emailRe, "[EMAIL]"),
          termRe, "[REDACTED]")))
      .select("doc_id", "source", "n_emails", "n_terms", "scrub_h")
  }

  /** q191's manifest over any documents-shaped frame — delegates to the
    * shared [[graft.operators.Manifest]] core (one row-hash definition
    * for the batch query, the streaming twin, and q194's pruning);
    * factored out so specs can witness fingerprint sensitivity (one
    * changed row must flip exactly its partition's fp).
    */
  private[graft] def manifestOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.operators.Manifest.manifest(docs)

  /** q330's corpus stage: per-bucket early/late event counts on FIXED
    * integer-cent boundaries — shared verbatim by the streaming twin
    * ([[graft.streaming.StreamSessionize.psiCountsStream]]); the
    * bucketing is stateless, so the converged streaming counts equal
    * the batch counts however micro-batches split the input.
    */
  private[graft] def psiBucketCounts(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ev.select(dayofmonth(col("ts")).as("dom"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("vc"))
      .withColumn("bucket", expr(
        """CAST(CASE WHEN vc < 200 THEN 0 WHEN vc < 500 THEN 1
          |  WHEN vc < 1000 THEN 2 WHEN vc < 2000 THEN 3
          |  WHEN vc < 5000 THEN 4 WHEN vc < 10000 THEN 5
          |  WHEN vc < 20000 THEN 6 ELSE 7 END AS BIGINT)"""
          .stripMargin))
      .groupBy("bucket")
      .agg(sum(when(col("dom") <= 15, 1L).otherwise(0L)).as("c_early"),
        sum(when(col("dom") > 15, 1L).otherwise(0L)).as("c_late"))

  /** q330's projection: add-1-smoothed PSI terms over the 8 fixed
    * buckets (missing buckets zero-filled) plus the window-summed
    * total. Runs on an 8-row frame — shared by the batch query and the
    * streaming parity gate.
    */
  private[graft] def psiFromCounts(counts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = counts.sparkSession
    import s.implicits._
    val buckets = (0L to 7L).toDF("bucket")
    val filled = buckets.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("c_early"), lit(0L)).as("c_early"),
        coalesce(col("c_late"), lit(0L)).as("c_late"))
    val tot = filled.agg(sum(expr("c_early + 1")).as("te"),
      sum(expr("c_late + 1")).as("tl"))
    filled.join(broadcast(tot))
      .withColumn("p", expr("(c_early + 1) * 1.0 / te"))
      .withColumn("q", expr("(c_late + 1) * 1.0 / tl"))
      .withColumn("term", (col("p") - col("q")) *
        log(col("p") / col("q")))
      .withColumn("psi_r4", round(
        sum("term").over(Window.partitionBy()), 4))
      .select(col("bucket"), col("c_early"), col("c_late"),
        round(col("term"), 6).as("term_r6"), col("psi_r4"))
  }

  /** q263's calibration artifacts — per-source predicted mean (`mu`),
    * calibration count, order-statistic rank `k` and conformal threshold
    * `qhat` — as a reusable fragment: the batch coverage audit (q263)
    * consumes it, and the ingest-time screen
    * ([[graft.streaming.StreamSessionize.conformalScreenStream]])
    * broadcasts it as the static side of a stream-static join (conformal
    * calibration is inherently offline; application is stateless).
    * Input must carry (doc_id, source, n_chars).
    */
  private[graft] def conformalThresholds(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cal = docs
      .withColumn("is_cal",
        hash32(concat(lit("conf_"), col("doc_id"))) % 2 === 0)
      .filter(col("is_cal"))
    val means = cal.groupBy("source")
      .agg(expr("sum(n_chars) DIV count(1)").as("mu"),
        count(lit(1)).as("n_calib"))
    val wR = Window.partitionBy("source").orderBy("score", "doc_id")
    cal.join(broadcast(means), Seq("source"))
      .withColumn("score", abs(col("n_chars") - col("mu")))
      .withColumn("rn", row_number().over(wR))
      .withColumn("k", expr("(9 * (n_calib + 1) + 9) DIV 10"))
      .filter(col("rn") === col("k"))
      .select(col("source"), col("mu"), col("n_calib"), col("k"),
        col("score").as("qhat"))
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- reproducible stratified sampling ---------------------------------
    // Per-stratum rates with a hash-seeded keep decision: at 100 TB the
    // sample must be recomputable (spot instance dies, job reruns) and
    // auditable (the oracle re-derives the identical keep set).
    "q57_stratified_sample" -> QueryDef(
      (s, dir) => {
        val rate = when(col("lang") === "en", 50)
          .when(col("lang") === "de", 25)
          .otherwise(10)
        table(s, dir, "documents")
          .withColumn("keep",
            hash32(concat(lit("s57_"), col("doc_id"))) % 100 < rate)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
          .withColumn("sample_ratio",
            round(col("n_sampled") * 1.0 / col("n_docs"), 4))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             |   AS n_sampled,
             | round(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             |   AS sample_ratio
             |FROM (
             |  SELECT lang,
             |    CAST(('0x' || substr(md5('s57_' || doc_id), 1, 8)) AS BIGINT)
             |      % 100 <
             |      CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25 ELSE 10 END
             |      AS keep
             |  FROM documents)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- as-of join -------------------------------------------------------
    // Each purchase matched to the user's most recent click at-or-before
    // it. Spark has no ASOF JOIN operator; the scalable formulation is the
    // union-and-carry pattern: union both event kinds, one shuffle on
    // user_id, and a running last_value(click_ts) window — O(n log n) per
    // user, no range-join explosion, no per-key collect. (The naive
    // equi-join on user + filter ts<=ts + max() materializes every
    // click×purchase pair first — quadratic per hot user.) The oracle is
    // DuckDB's native ASOF LEFT JOIN.
    "q58_asof_join" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
          // clicks sort before purchases at equal ts => "at-or-before"
          // (ASOF's p.ts >= c.ts), not "strictly before"
          .withColumn("kind_ord",
            when(col("event_type") === "click", 0).otherwise(1))
          .withColumn("click_us",
            when(col("event_type") === "click", unix_micros(col("ts"))))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("kind_ord"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        ev.withColumn("prev_click_us",
            last("click_us", ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .groupBy((col("user_id") % 10).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_purchases"),
               count(col("prev_click_us")).as("n_matched"),
               round(avg((unix_micros(col("ts")) - col("prev_click_us"))
                 / 1000000.0), 3).as("avg_gap_s"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (SELECT user_id, ts FROM events
             |          WHERE event_type = 'click'),
             |p AS (SELECT user_id, ts FROM events
             |      WHERE event_type = 'purchase')
             |SELECT CAST(p.user_id % 10 AS INT) AS bucket,
             |  count(*) AS n_purchases,
             |  count(c.ts) AS n_matched,
             |  round(avg((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0), 3)
             |    AS avg_gap_s
             |FROM p ASOF LEFT JOIN c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- native as-of join operator ---------------------------------------
    // Same semantics as q58's window formulation, through the custom
    // whole-plan operator instead ([[graft.plans.AsofJoinExec]], installed
    // by GraftExtensions): one shuffle per side + a streaming merge with
    // O(1) state — no union, no window buffer. Inner form; the oracle is
    // DuckDB's native ASOF JOIN.
    "q63_asof_join_native" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        graft.plans.Asof.join(purchases, clicks,
            Seq((col("p_user"), col("c_user"))), col("p_ts"), col("c_ts"))
          .groupBy((col("p_user") % 10).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_matched"),
               round(avg((unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
                 / 1000000.0), 3).as("avg_gap_s"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (SELECT user_id, ts FROM events
             |          WHERE event_type = 'click'),
             |p AS (SELECT user_id, ts FROM events
             |      WHERE event_type = 'purchase')
             |SELECT CAST(p.user_id % 10 AS INT) AS bucket,
             |  count(*) AS n_matched,
             |  round(avg((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0), 3)
             |    AS avg_gap_s
             |FROM p ASOF JOIN c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- left-outer as-of join with max-gap tolerance (native) ------------
    // Same native operator in its LEFT OUTER form with a 30-minute
    // tolerance: purchases with no click, or whose latest click is older
    // than the gap, still emit (null right side) — exactly DuckDB's
    // ASOF LEFT JOIN with the out-of-tolerance match nulled after the
    // fact (the as-of candidate is unique per left row, so post-filtering
    // it equals native tolerance semantics).
    "q72_asof_left_tolerance" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        graft.plans.Asof.leftJoin(purchases, clicks,
            Seq((col("p_user"), col("c_user"))), col("p_ts"), col("c_ts"),
            tolerance = Some(lit(1800000000L))) // 30 min, µs
          .groupBy((col("p_user") % 10).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_purchases"),
               count(col("c_ts")).as("n_matched"),
               round(avg((unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
                 / 1000000.0), 3).as("avg_gap_s"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (SELECT user_id, ts FROM events
             |          WHERE event_type = 'click'),
             |p AS (SELECT user_id, ts FROM events
             |      WHERE event_type = 'purchase'),
             |m AS (
             |  SELECT p.user_id, p.ts AS p_ts,
             |    CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
             |         THEN c.ts END AS c_ts
             |  FROM p ASOF LEFT JOIN c
             |    ON p.user_id = c.user_id AND p.ts >= c.ts)
             |SELECT CAST(user_id % 10 AS INT) AS bucket,
             |  count(*) AS n_purchases,
             |  count(c_ts) AS n_matched,
             |  round(avg((epoch_us(p_ts) - epoch_us(c_ts)) / 1000000.0), 3)
             |    AS avg_gap_s
             |FROM m GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- last-touch attribution within a horizon --------------------------
    // The batch twin of `StreamSessionize.attributionStream`: each purchase
    // attributed to the same user's LATEST click within the preceding
    // 30 minutes (an as-of join with a lower bound). Equi-join on user +
    // range filter + max per purchase: the horizon bounds per-purchase
    // fan-out, so the pair materialization stays linear-ish at scale.
    "q67_attribution_batch" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
            unix_micros(col("ts")).as("p_us"))
        val horizonUs = 1800000000L // 30 min
        purchases.join(clicks,
            col("c_user") === col("p_user") &&
              col("c_us") <= col("p_us") &&
              col("c_us") >= col("p_us") - horizonUs)
          .groupBy(col("p_id"), col("p_user"), col("p_us"))
          .agg(max(col("c_us")).as("attributed_click_us"),
               count(lit(1)).as("n_candidate_clicks"))
          .groupBy((col("p_user") % 10).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_attributed"),
               sum("n_candidate_clicks").as("total_candidates"),
               round(avg((col("p_us") - col("attributed_click_us"))
                 / 1000000.0), 3).as("avg_gap_s"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (SELECT user_id, epoch_us(ts) AS c_us FROM events
             |          WHERE event_type = 'click'),
             |p AS (SELECT user_id, event_id, epoch_us(ts) AS p_us FROM events
             |      WHERE event_type = 'purchase'),
             |att AS (
             |  SELECT p.event_id, p.user_id, p.p_us,
             |    max(c.c_us) AS attributed_click_us,
             |    count(*) AS n_candidate_clicks
             |  FROM p JOIN c ON c.user_id = p.user_id
             |    AND c.c_us <= p.p_us AND c.c_us >= p.p_us - 1800000000
             |  GROUP BY 1, 2, 3)
             |SELECT CAST(user_id % 10 AS INT) AS bucket,
             |  count(*) AS n_attributed,
             |  CAST(sum(n_candidate_clicks) AS BIGINT) AS total_candidates,
             |  round(avg((p_us - attributed_click_us) / 1000000.0), 3)
             |    AS avg_gap_s
             |FROM att GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- sequence packing (concat-then-chunk) -----------------------------
    // The LLM-training batching step: documents are concatenated in a
    // deterministic order and the token stream is cut into fixed context
    // windows (2048 here). pack_id = tokens-before DIV window: one shuffle
    // on source + a running-sum window — linear, and documents straddling
    // a boundary land in the pack where their first token falls (standard
    // concat-and-chunk semantics). Parallelism NOTE: per-source
    // contiguity is the semantics (domain-pure packs), so the window runs
    // one task per source — fine when sources are O(100s) corpora; when a
    // single source outgrows one task's sort budget, shard WITHIN the
    // source first (the q183 hash-shard scheme composes: partition on
    // (source, shard) and pack per shard — fragmentation cost measured
    // there).
    "q59_sequence_packing" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        tableParallel(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            size(tokens(col("text"))).cast("long").as("tok"))
          .withColumn("cum_before", coalesce(sum("tok").over(w), lit(0L)))
          .withColumn("pack_id", expr("CAST(cum_before DIV 2048 AS INT)"))
          .groupBy("source", "pack_id")
          .agg(count(lit(1)).as("n_docs"), sum("tok").as("pack_tokens"))
          .orderBy("source", "pack_id")
      },
      Some(s"""WITH t AS (
              |  SELECT source, doc_id, CAST(len($duckToks) AS BIGINT) AS tok
              |  FROM documents),
              |c AS (
              |  SELECT source, doc_id, tok,
              |    COALESCE(CAST(sum(tok) OVER (PARTITION BY source
              |      ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |      AS BIGINT), 0) AS cum_before
              |  FROM t)
              |SELECT source, CAST(cum_before // 2048 AS INT) AS pack_id,
              |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS pack_tokens
              |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin)),

    // ---- benchmark contamination check ------------------------------------
    // Held-out docs (doc_id % 20 = 0 stands in for an eval benchmark) are
    // checked for n-gram overlap against the training split: per eval doc,
    // the fraction of its shingles that appear ANYWHERE in training data.
    // Distinct-train-shingles + equi-join — linear, the same shape the
    // dedup family uses; no pairwise doc comparison.
    "q60_contamination_check" -> QueryDef(
      (s, dir) => {
        val sh = Materialize(TextQueries.shingleTable(s, dir, None))
        val evalSh = sh.filter(col("doc_id") % 20 === 0)
        val trainSh = sh.filter(col("doc_id") % 20 =!= 0)
          .select("sh").distinct()
        val sizes = evalSh.groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"))
        val overlap = evalSh.join(trainSh, "sh")
          .groupBy("doc_id").agg(count(lit(1)).as("n_ov"))
        sizes.join(overlap, Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("n_shingles"),
            coalesce(col("n_ov"), lit(0L)).as("n_overlap"),
            round(coalesce(col("n_ov"), lit(0L)) * 1.0 / col("n_shingles"), 4)
              .as("contamination"),
            (coalesce(col("n_ov"), lit(0L)) * 1.0 / col("n_shingles") >= 0.8)
              .as("is_contaminated"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ws AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |sh0 AS (SELECT doc_id, unnest(hs) AS sh
              |        FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |ev AS (SELECT * FROM sh0 WHERE doc_id % 20 = 0),
              |tr AS (SELECT DISTINCT sh FROM sh0 WHERE doc_id % 20 <> 0),
              |sizes AS (SELECT doc_id, count(*) AS n_shingles
              |          FROM ev GROUP BY doc_id),
              |ov AS (SELECT e.doc_id, count(*) AS n_ov
              |       FROM ev e JOIN tr ON e.sh = tr.sh GROUP BY 1)
              |SELECT s.doc_id, s.n_shingles,
              |  COALESCE(o.n_ov, 0) AS n_overlap,
              |  round(COALESCE(o.n_ov, 0) * 1.0 / s.n_shingles, 4)
              |    AS contamination,
              |  COALESCE(o.n_ov, 0) * 1.0 / s.n_shingles >= 0.8
              |    AS is_contaminated
              |FROM sizes s LEFT JOIN ov o ON o.doc_id = s.doc_id
              |ORDER BY s.doc_id""".stripMargin)),

    // ---- PII / blocklist scrubbing ----------------------------------------
    // Pattern-scrub with an audit trail: emails (regex; none in this
    // synthetic corpus — the zero counts prove the plumbing) and a term
    // blocklist, counted per doc before replacement. The per-source
    // checksum sums a hash of every scrubbed text, so the oracle verifies
    // the REPLACEMENT OUTPUT, not just the match counts. Narrow projection
    // + one group-by; regexes are RE2-safe (no lookaround) so Java and
    // DuckDB agree.
    "q61_pii_scrub" -> QueryDef(
      (s, dir) => {
        piiPerDoc(tableParallel(s, dir, "documents"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum("n_emails").as("total_emails"),
               sum("n_terms").as("total_terms"),
               sum(when(col("n_terms") > 0, 1L).otherwise(0L))
                 .as("docs_touched"),
               sum("scrub_h").as("scrub_checksum"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             | CAST(sum(n_emails) AS BIGINT) AS total_emails,
             | CAST(sum(n_terms) AS BIGINT) AS total_terms,
             | CAST(sum(CASE WHEN n_terms > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |   AS docs_touched,
             | CAST(sum(CAST(('0x' || substr(md5(scrubbed), 1, 8)) AS BIGINT))
             |   AS BIGINT) AS scrub_checksum
             |FROM (
             |  SELECT source,
             |    len(regexp_extract_all(lt,
             |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
             |    len(regexp_extract_all(lt, '\b(key|table|spark)\b'))
             |      AS n_terms,
             |    regexp_replace(regexp_replace(lt,
             |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             |      '\b(key|table|spark)\b', '[REDACTED]', 'g') AS scrubbed
             |  FROM (SELECT source, lower(text) AS lt FROM documents))
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- snapshot diff (cumulative-dump comparison) -----------------------
    // The reference's real analytic workload: DOJ dumps are cumulative
    // monthly snapshots, and the standing question is what changed.
    // Synthetic snapshots derived deterministically from orders: the "old
    // month" misses every 3rd key (those read as added), shifts every 5th
    // price (changed), and the "new month" drops every 11th key (removed);
    // the rest are unchanged — all four classes exercised. SnapshotDiff
    // classifies via one full-outer key join with null-safe payload
    // comparison — no hashing, no serialization format to keep in sync
    // across engines.
    "q69_snapshot_diff" -> QueryDef(
      (s, dir) => {
        val base = table(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val old = base.filter(col("o_orderkey") % 3 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice")))
        val cur = base.filter(col("o_orderkey") % 11 =!= 0)
        graft.operators.SnapshotDiff.diff(old, cur, Seq("o_orderkey"))
          .groupBy("change_type")
          .agg(count(lit(1)).as("n"),
               round(sum("o_totalprice"), 2).as("total_price"))
          .orderBy("change_type")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
             |             FROM orders),
             |old AS (SELECT o_orderkey, o_orderstatus,
             |          CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
             |               ELSE o_totalprice END AS o_totalprice
             |        FROM base WHERE o_orderkey % 3 <> 0),
             |cur AS (SELECT * FROM base WHERE o_orderkey % 11 <> 0),
             |d AS (
             |  SELECT COALESCE(c.o_orderkey, o.o_orderkey) AS o_orderkey,
             |    CASE WHEN o.o_orderkey IS NULL THEN c.o_totalprice
             |         WHEN c.o_orderkey IS NULL THEN o.o_totalprice
             |         ELSE c.o_totalprice END AS o_totalprice,
             |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
             |         WHEN c.o_orderkey IS NULL THEN 'removed'
             |         WHEN c.o_orderstatus IS NOT DISTINCT FROM o.o_orderstatus
             |          AND c.o_totalprice IS NOT DISTINCT FROM o.o_totalprice
             |           THEN 'unchanged'
             |         ELSE 'changed' END AS change_type
             |  FROM old o FULL OUTER JOIN cur c
             |    ON o.o_orderkey = c.o_orderkey)
             |SELECT change_type, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total_price
             |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin)),

    // ---- Z-order layout statistics ----------------------------------------
    // The data-layout tool observable as a query: z-interleave
    // (user_id, second) and aggregate per curve bucket. The top 6 z-bits
    // pin the top 3 bits of BOTH dimensions, so every bucket's user and
    // time spreads are < 2^13 — the bounded-both-dims locality that makes
    // a z-ordered 100 TB table min/max-prunable on either column
    // (graft.operators.ZOrder is the write-side pass).
    "q68_zorder_stats" -> QueryDef(
      (s, dir) => {
        table(s, dir, "events")
          .select(pmod(col("user_id"), lit(65536L)).as("um"),
            pmod(expr("unix_micros(ts) DIV 1000000"), lit(65536L)).as("sm"))
          .withColumn("z", graft.functions.Kernels.ZValue(col("um"), col("sm")))
          .withColumn("zbucket", shiftright(col("z"), 26).cast("int"))
          .groupBy("zbucket")
          .agg(count(lit(1)).as("n"),
               (max("um") - min("um")).as("user_spread"),
               (max("sm") - min("sm")).as("sec_spread"))
          .orderBy("zbucket")
      },
      Some("""WITH e AS (SELECT user_id % 65536 AS um,
             |            (epoch_us(ts) // 1000000) % 65536 AS sm
             |          FROM events),
             |z AS (SELECT um, sm,
             |        CAST(list_sum(list_transform(range(0, 16), i ->
             |          ((um >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i)) +
             |          ((sm >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))))
             |          AS BIGINT) AS z
             |      FROM e)
             |SELECT CAST(z >> 26 AS INT) AS zbucket, count(*) AS n,
             |  CAST(max(um) - min(um) AS BIGINT) AS user_spread,
             |  CAST(max(sm) - min(sm) AS BIGINT) AS sec_spread
             |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin)),

    // ---- corpus mixing to a target distribution ---------------------------
    // Rebalance the language mix by downsampling every language to the
    // smallest one's share. Rates are DERIVED FROM DATA (a 5-row aggregate
    // broadcast back onto the corpus — no driver round-trip, no collect),
    // and the keep decision is hash-seeded like q57. One aggregation + one
    // broadcast join + one aggregation: linear at any corpus size.
    "q62_source_mixing" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        // the per-lang counts feed the min and the rate table — cached,
        // the corpus count runs once (|langs| rows held)
        val counts = Materialize(
          docs.groupBy("lang").agg(count(lit(1)).as("n")))
        val minDf = counts.agg(min("n").as("min_n"))
        val rates = counts.crossJoin(broadcast(minDf))
          .withColumn("rate_bp", expr("CAST(min_n * 10000 DIV n AS INT)"))
          .select("lang", "n", "rate_bp")
        docs.join(broadcast(rates), "lang")
          .withColumn("keep",
            hash32(concat(lit("s62_"), col("doc_id"))) % 10000 < col("rate_bp"))
          .groupBy("lang")
          .agg(max("n").as("n_docs"),
               max("rate_bp").as("rate_bp"),
               sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
          .orderBy("lang")
      },
      Some("""WITH counts AS (SELECT lang, count(*) AS n FROM documents
             |               GROUP BY lang),
             |m AS (SELECT min(n) AS min_n FROM counts),
             |rates AS (SELECT lang, n,
             |            CAST(min_n * 10000 // n AS INT) AS rate_bp
             |          FROM counts CROSS JOIN m)
             |SELECT d.lang,
             |  CAST(max(r.n) AS BIGINT) AS n_docs,
             |  max(r.rate_bp) AS rate_bp,
             |  CAST(sum(CASE WHEN
             |    CAST(('0x' || substr(md5('s62_' || d.doc_id), 1, 8)) AS BIGINT)
             |      % 10000 < r.rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM documents d JOIN rates r ON d.lang = r.lang
             |GROUP BY d.lang ORDER BY d.lang""".stripMargin)),

    // ---- CDC delta apply (merge + roundtrip proof) ------------------------
    // The MERGE half of the snapshot story (q69 is the diff half): ship
    // only the sparse added/changed/removed rows, apply them onto the old
    // snapshot, and witness applyDelta(old, sparse(diff(old,cur))) == cur
    // inside the query. The equality witness is the starContraction
    // fingerprint pattern — (count, TWO independently-keyed Σ decimal
    // xxhash64 over all columns; the second prepends a literal salt so
    // its stream differs) per side, all equal ⇒ n_mismatch 0 — three
    // SHUFFLE-FREE scalar aggregates where the previous exceptAll-
    // both-ways proof cost two corpus-wide shuffles. A PROBABILISTIC
    // witness, not a proof: differing multisets pass only if their hash
    // deltas cancel under BOTH keys simultaneously (~2⁻¹²⁸ — squared by
    // the second sum); the oracle pins the 0 while recomputing cur's
    // aggregates independently. Cost: the diff's full-outer join +
    // the apply's left-anti, all equi-shuffles on the key — linear at
    // 100 TB.
    "q79_cdc_apply_delta" -> QueryDef(
      (s, dir) => {
        val base = table(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        // old/cur/rebuilt each feed two consumers (diff + apply, diff +
        // fingerprint, fingerprint + report) — uncached, every reuse
        // re-ran its derivation (a plan audit counted 17 snapshot scans
        // in the exceptAll-era shape); cached, the snapshot is read
        // twice (old, cur) and everything downstream reuses the narrow
        // persisted frames
        val old = Materialize(base.filter(col("o_orderkey") % 3 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1.0)
              .otherwise(col("o_totalprice"))))
        val cur = Materialize(base.filter(col("o_orderkey") % 11 =!= 0))
        val sparse = graft.operators.SnapshotDiff
          .diff(old, cur, Seq("o_orderkey"))
          .filter(col("change_type") =!= "unchanged")
        val rebuilt = Materialize(graft.operators.SnapshotDiff
          .applyDelta(old, sparse, Seq("o_orderkey")))
        def fp(df: org.apache.spark.sql.DataFrame) =
          graft.operators.SnapshotDiff.fingerprint(
            df.select("o_orderkey", "o_orderstatus", "o_totalprice"))
        val mism = fp(rebuilt)
          .crossJoin(fp(cur).select(col("n").as("n2"), col("h").as("h2"),
            col("hb").as("hb2")))
          .select(when(col("n") === col("n2") && col("h") <=> col("h2") &&
            col("hb") <=> col("hb2"), 0L).otherwise(1L).as("n_mismatch"))
        rebuilt.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"),
               round(sum("o_totalprice"), 2).as("total_price"))
          .crossJoin(broadcast(mism))
          .orderBy("o_orderstatus")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
             |             FROM orders),
             |cur AS (SELECT * FROM base WHERE o_orderkey % 11 <> 0)
             |SELECT o_orderstatus, count(*) AS n_rows,
             |  round(sum(o_totalprice), 2) AS total_price,
             |  CAST(0 AS BIGINT) AS n_mismatch
             |FROM cur GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- strict-order funnel conversion -----------------------------------
    // view -> click -> purchase, each step strictly AFTER the user's
    // earliest completion of the previous one. Three per-user conditional
    // min-ts aggregations chained by equi-joins on user_id — after the
    // first shuffle the key partitioning is reused, so the funnel costs
    // one logical shuffle at 100 TB. Gap averages keep the sum in integer
    // micros (exact) and divide once at the end, so the doubles match the
    // oracle bit-for-bit.
    "q80_funnel_conversion" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        // each stage's per-user aggregate feeds BOTH the next stage's join
        // and its own step count — cached, the chain costs one pushed-
        // filter scan per stage plus the per-user state (exactly what the
        // streaming twin holds); uncached, each reuse re-runs the chain
        val v = Materialize(ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("us").as("t1")))
        val c = Materialize(ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("us") > col("t1"))
          .groupBy("user_id")
          .agg(min("us").as("t2"), min("t1").as("t1")))
        val p = Materialize(ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("us") > col("t2"))
          .groupBy("user_id")
          .agg(min("us").as("t3"), min("t2").as("t2")))
        val s1 = v.agg(count(lit(1)).as("n_users"))
          .select(lit(1).as("step"), lit("view").as("stage"),
            col("n_users"), lit(null).cast("double").as("avg_gap_s"))
        val s2 = c.agg(count(lit(1)).as("n_users"),
            round(avg(col("t2") - col("t1")) / 1000000.0, 3).as("avg_gap_s"))
          .select(lit(2).as("step"), lit("click").as("stage"),
            col("n_users"), col("avg_gap_s"))
        val s3 = p.agg(count(lit(1)).as("n_users"),
            round(avg(col("t3") - col("t2")) / 1000000.0, 3).as("avg_gap_s"))
          .select(lit(3).as("step"), lit("purchase").as("stage"),
            col("n_users"), col("avg_gap_s"))
        s1.unionByName(s2).unionByName(s3).orderBy("step")
      },
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
             |          FROM events),
             |v AS (SELECT user_id, min(us) AS t1 FROM e
             |      WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(us) AS t2, min(t1) AS t1
             |      FROM e JOIN v USING (user_id)
             |      WHERE event_type = 'click' AND us > t1 GROUP BY 1),
             |p AS (SELECT e.user_id, min(us) AS t3, min(t2) AS t2
             |      FROM e JOIN c USING (user_id)
             |      WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
             |SELECT 1 AS step, 'view' AS stage, count(*) AS n_users,
             |       CAST(NULL AS DOUBLE) AS avg_gap_s FROM v
             |UNION ALL
             |SELECT 2, 'click', count(*), round(avg(t2 - t1) / 1000000.0, 3)
             |FROM c
             |UNION ALL
             |SELECT 3, 'purchase', count(*), round(avg(t3 - t2) / 1000000.0, 3)
             |FROM p
             |ORDER BY step""".stripMargin)),

    // ---- heavy-hitter / skew profile --------------------------------------
    // [[graft.operators.SkewTools.profileKeys]] as a query: the pre-flight
    // measurement that decides plain-shuffle vs salted vs broadcast for a
    // planned join key. Top-5 user_ids by event count with share (basis
    // points) plus distinct-key count and max/avg skew ratio.
    "q81_key_skew_profile" -> QueryDef(
      (s, dir) => graft.operators.SkewTools.profileKeys(
        table(s, dir, "events"), "user_id", 5),
      Some("""WITH counts AS (SELECT user_id, count(*) AS n FROM events
             |               GROUP BY 1),
             |stats AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT)
             |            AS total, max(n) AS max_n FROM counts),
             |top AS (SELECT * FROM counts ORDER BY n DESC, user_id LIMIT 5)
             |SELECT user_id, n, round(n * 10000.0 / total, 2) AS share_bp,
             |  n_keys, round(max_n * n_keys * 1.0 / total, 3) AS skew_ratio
             |FROM top CROSS JOIN stats ORDER BY n DESC, user_id""".stripMargin)),

    // ---- data-quality validation suite ------------------------------------
    // [[graft.operators.DataQuality]] as a query: declarative constraints
    // (not-null, uniqueness, bounds, enum membership, referential
    // integrity) each reduced to one exact violation count. The bounds /
    // enum / FK rules are deliberately tightened so real violations show
    // up — a validator that only ever reports zero proves nothing.
    "q82_data_quality" -> QueryDef(
      (s, dir) => {
        import graft.operators.DataQuality._
        val li = table(s, dir, "lineitem")
        val ord = table(s, dir, "orders")
        val dimMissing = ord.filter(col("o_orderkey") % 7 =!= 0)
        validate(li, Seq(
            NotNull("l_orderkey"),
            Unique(Seq("l_orderkey")),               // multi-line orders hit
            Bounds("l_quantity", 1, 30),             // 31..50 hit
            RefIntegrity("l_orderkey", dimMissing, "o_orderkey")))
          .unionByName(validate(ord, Seq(
            InSet("o_orderstatus", Seq("O", "F")),   // 'P' hits
            Unique(Seq("o_orderkey")))))
          .orderBy("rule")
      },
      Some("""SELECT 'not_null(l_orderkey)' AS rule,
             |  count(*) FILTER (WHERE l_orderkey IS NULL) AS violations
             |FROM lineitem
             |UNION ALL
             |SELECT 'unique(l_orderkey)',
             |  count(*) - count(DISTINCT l_orderkey) FROM lineitem
             |UNION ALL
             |SELECT 'bounds(l_quantity,1.0,30.0)',
             |  count(*) FILTER (WHERE l_quantity IS NOT NULL
             |    AND (l_quantity < 1 OR l_quantity > 30)) FROM lineitem
             |UNION ALL
             |SELECT 'ref_integrity(l_orderkey)',
             |  count(*) FILTER (WHERE l_orderkey IS NOT NULL
             |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
             |                           WHERE o_orderkey % 7 <> 0))
             |FROM lineitem
             |UNION ALL
             |SELECT 'in_set(o_orderstatus)',
             |  count(*) FILTER (WHERE o_orderstatus IS NOT NULL
             |    AND o_orderstatus NOT IN ('O', 'F')) FROM orders
             |UNION ALL
             |SELECT 'unique(o_orderkey)',
             |  count(*) - count(DISTINCT o_orderkey) FROM orders
             |ORDER BY rule""".stripMargin)),

    // ---- weight-proportional reproducible sampling ------------------------
    // Importance sampling: each document's keep probability is
    // proportional to a per-row weight (length, capped — the "prefer
    // substantial documents" policy), decided by the same hash-seeded
    // coin as q57 so reruns, retries, and the oracle agree row-for-row.
    // Pure integer comparison: hash % 1e6 < weight * 150 (cap 2000 →
    // max probability 30%).
    "q87_weighted_sample" -> QueryDef(
      (s, dir) =>
        table(s, dir, "documents")
          .withColumn("w", least(col("n_chars"), lit(2000)))
          .withColumn("keep",
            hash32(concat(lit("s87_"), col("doc_id"))) % 1000000
              < col("w") * 150)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
               sum(when(col("keep"), col("doc_id"))).as("kept_id_sum"),
               round(avg(when(col("keep"), col("n_chars"))), 4)
                 .as("avg_kept_chars"))
          .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs,
             | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             |   AS n_kept,
             | CAST(sum(CASE WHEN keep THEN doc_id END) AS BIGINT)
             |   AS kept_id_sum,
             | round(avg(CASE WHEN keep THEN n_chars END), 4)
             |   AS avg_kept_chars
             |FROM (
             |  SELECT source, doc_id, n_chars,
             |    CAST(('0x' || substr(md5('s87_' || doc_id), 1, 8)) AS BIGINT)
             |      % 1000000 < least(n_chars, 2000) * 150 AS keep
             |  FROM documents)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- fixed-k per-group sampling ---------------------------------------
    // "Exactly k per stratum" (the eval-set builder): rank rows inside
    // each group by a hash-seeded order and keep the first k — without
    // replacement, reproducible, and oracle-replayable, unlike
    // rand()-based reservoir sampling. One shuffle on the group key; at
    // 100 TB the rank prunes map-side via WindowGroupLimit before the
    // exchange.
    "q91_fixed_k_sample" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("lang")
          .orderBy(hash32(concat(lit("s91_"), col("doc_id"))), col("doc_id"))
        table(s, dir, "documents")
          .withColumn("rn", row_number().over(w))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("rn") <= 50, 1L).otherwise(0L)).as("n_sampled"),
               sum(when(col("rn") <= 50, col("doc_id"))).as("sample_id_sum"))
          .orderBy("lang")
      },
      Some("""WITH ranked AS (
             |  SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang ORDER BY
             |      CAST(('0x' || substr(md5('s91_' || doc_id), 1, 8)) AS BIGINT),
             |      doc_id) AS rn
             |  FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_sampled,
             |  CAST(sum(CASE WHEN rn <= 50 THEN doc_id END) AS BIGINT)
             |    AS sample_id_sum
             |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- range-partitioned (curriculum-ordered) export --------------------
    // The ordered-shard write path: repartitionByRange over a difficulty
    // key lays shards out so shard i's hardest doc is no harder than
    // shard i+1's easiest — curriculum readers then stream shards in
    // order. The partition layout itself can't be oracled (DuckDB has no
    // partitions), so the DISJOINTNESS is proven IN-QUERY: per-partition
    // [min,max] ranges, each row carrying a boolean that its range does
    // not overlap the next partition's — the oracle pins every boolean
    // TRUE and recomputes the global totals independently.
    "q103_range_partition_export" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        val parts = docs.repartitionByRange(8, col("n_chars"), col("doc_id"))
          .select(col("doc_id"), col("n_chars"),
            spark_partition_id().as("pid"))
          .groupBy("pid")
          .agg(count(lit(1)).as("n_docs"),
               min("n_chars").as("min_chars"),
               max("n_chars").as("max_chars"))
        val w = Window.orderBy("pid")
        val wAll = Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        parts
          .crossJoin(broadcast(docs.agg(count(lit(1)).as("total"))))
          .withColumn("next_min", lead("min_chars", 1).over(w))
          .withColumn("rank", row_number().over(w))
          .withColumn("all_docs", sum("n_docs").over(wAll))
          .select(col("rank"),
            (col("next_min").isNull ||
              col("max_chars") <= col("next_min")).as("disjoint"),
            (col("all_docs") === col("total")).as("counts_complete"))
          .orderBy("rank")
      },
      // partition boundaries come from Spark's range sampler, so the
      // per-rank doc counts are engine-internal; the oracle pins the
      // INVARIANTS — 8 ranked shards, every range disjoint from the
      // next, shard counts summing to the corpus
      Some("""SELECT CAST(unnest(range(1, 9)) AS INT) AS rank,
             |  TRUE AS disjoint, TRUE AS counts_complete
             |ORDER BY rank""".stripMargin)),

    // ---- the whole corpus pipeline, oracled end-to-end --------------------
    // CorpusPipeline.prepare (quality filter → exact dedup → shingle/
    // Jaccard near-dedup behind the DEFAULT stop-shingle df cut →
    // connected-components cluster drop → hash-seeded sample) as ONE
    // catalog entry whose stage funnel the oracle re-derives from
    // scratch — including the df cut and the transitive cluster closure,
    // which DuckDB computes with a RECURSIVE CTE. Every stage is
    // deterministic (hash-seeded decisions, min-doc-id keeps), so the
    // five counts are hash-exact across engines.
    "q104_corpus_pipeline_funnel" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // the near-dup stage consumes the staged hashed-shingle mirror
        // (per-doc-deterministic, so the semi-join to survivors yields
        // exactly the rows the inline re-shingling produced)
        val (_, funnel) = graft.operators.CorpusPipeline.prepare(
          table(s, dir, "documents"),
          graft.operators.PipelineConfig(minTokens = 5,
            maxPunctRatio = 0.3, jaccard = 0.8, sampleBp = 8000),
          shingleSource =
            Some(graft.queries.TextQueries.hsExploded(s, dir)))
        funnel.toDF("stage", "n_docs").orderBy("stage")
      },
      Some(s"""WITH RECURSIVE
              |q AS (
              |  SELECT doc_id, text FROM documents
              |  WHERE len($duckToks) >= 5
              |    AND length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
              |        * 1.0 / greatest(length(text), 1) <= 0.3),
              |kept AS (
              |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
              |  FROM q GROUP BY md5(text)),
              |ws AS (SELECT doc_id, $duckToks AS ws FROM kept),
              |sh0 AS (SELECT doc_id, unnest(hs) AS sh
              |        FROM (SELECT doc_id, $duckHs AS hs FROM ws)),
              |sh AS (SELECT * FROM sh0 WHERE sh NOT IN (
              |  SELECT sh FROM (SELECT sh, count(*) AS d FROM sh0 GROUP BY sh)
              |  WHERE d > ${graft.operators.CorpusPipeline.DefaultStopShingleDf})),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
              |inter AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              |  FROM sh a JOIN sh b
              |    ON a.sh = b.sh AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT doc_a, doc_b FROM inter
              |  JOIN sizes sa ON sa.doc_id = doc_a
              |  JOIN sizes sb ON sb.doc_id = doc_b
              |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8),
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              |          UNION ALL SELECT doc_b, doc_a FROM pairs),
              |r(doc, reach) AS (
              |  SELECT DISTINCT a, a FROM edges
              |  UNION
              |  SELECT r.doc, e.b FROM r JOIN edges e ON r.reach = e.a),
              |dropped AS (
              |  SELECT doc FROM (SELECT doc, min(reach) AS label FROM r
              |                   GROUP BY doc) WHERE label <> doc),
              |near AS (
              |  SELECT k.doc_id FROM kept k LEFT JOIN dropped d
              |    ON k.doc_id = d.doc WHERE d.doc IS NULL),
              |samp AS (
              |  SELECT doc_id FROM near
              |  WHERE CAST(('0x' || substr(md5('pipeline_' || doc_id), 1, 8))
              |          AS BIGINT) % 10000 < 8000)
              |SELECT stage, n_docs FROM (
              |  SELECT 'input' AS stage, count(*) AS n_docs FROM documents
              |  UNION ALL SELECT 'quality', count(*) FROM q
              |  UNION ALL SELECT 'exact_dedup', count(*) FROM kept
              |  UNION ALL SELECT 'near_dedup', count(*) FROM near
              |  UNION ALL SELECT 'sampled', count(*) FROM samp)
              |ORDER BY stage""".stripMargin)),

    // ---- context-window chunking ------------------------------------------
    // Split every document into fixed-size token chunks with overlap (the
    // step that turns a cleaned corpus into training-context rows):
    // 16-token chunks, 4-token overlap (stride 12). Pure map-side work —
    // tokenize, compute the chunk count in INTEGER math, explode a
    // per-doc index sequence, slice — no shuffle until the final sort.
    // Each chunk row carries its token count and a content hash, so the
    // oracle verifies every chunk's exact text, boundaries included.
    "q106_doc_chunking" -> QueryDef(
      (s, dir) => {
        tableParallel(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ws"))
          .withColumn("n", size(col("ws")).cast("long"))
          .withColumn("n_chunks",
            lit(1L) + expr("CAST((greatest(n - 16, 0) + 11) DIV 12 AS BIGINT)"))
          .select(col("doc_id"), col("ws"),
            explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
          .withColumn("ctoks",
            slice(col("ws"), (col("chunk_idx") * 12 + 1).cast("int"), lit(16)))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("ctoks")).cast("long").as("n_tok"),
            hash32(concat_ws(" ", col("ctoks"))).as("chunk_hash"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |c AS (SELECT doc_id, ws,
              |        1 + (greatest(len(ws) - 16, 0) + 11) // 12 AS n_chunks
              |      FROM w),
              |x AS (SELECT doc_id, ws, unnest(range(0, n_chunks)) AS chunk_idx
              |      FROM c),
              |ch AS (SELECT doc_id, chunk_idx,
              |         list_slice(ws, chunk_idx * 12 + 1,
              |                    chunk_idx * 12 + 16) AS ctoks
              |       FROM x)
              |SELECT doc_id, chunk_idx,
              |  CAST(len(ctoks) AS BIGINT) AS n_tok,
              |  CAST(('0x' || substr(md5(array_to_string(ctoks, ' ')), 1, 8))
              |    AS BIGINT) AS chunk_hash
              |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- bloom-prefiltered incremental dedup ------------------------------
    // Incremental corpus update: which docs in today's batch are NOT
    // already in the ingested corpus (fingerprint anti-join)? The batch
    // side is first split by a driver-held Bloom filter built over the
    // corpus fingerprints (a fixed-size distributed aggregate, broadcast
    // back): `mightContain == false` rows are PROVABLY new (no false
    // negatives) and skip the join entirely; only the might-contain
    // sliver pays the exact anti-join. The result is identical to the
    // plain anti-join the oracle runs — the bloom only routes rows. At
    // 100 TB this turns a full corpus-size shuffle into a broadcast test
    // plus an anti-join over a few-percent false-positive band.
    "q110_bloom_incremental_dedup" -> QueryDef(
      (s, dir) => {
        // fingerprint projection cached once: the bloom build, both
        // batch filters, and the exact-check anti-join side all reuse it —
        // uncached, each consumer re-hashed the corpus
        val docs = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"), md5(col("text")).as("fp")))
        val corpus = docs.filter(col("doc_id") % 3 === 0)
        val batch = docs.filter(col("doc_id") % 3 =!= 0)
        val bloom = corpus.stat.bloomFilter("fp", 100000L, 0.03)
        val bc = s.sparkContext.broadcast(bloom)
        // a UDF (not an Expression) is the right tool here: the filter
        // closes over a driver-built sketch, and the per-row test is one
        // hash probe — nothing for codegen to win back
        val might = udf((fp: String) => bc.value.mightContainString(fp))
        val definitelyNew = batch.filter(!might(col("fp")))
        val checkExact = batch.filter(might(col("fp")))
          .join(corpus.select("fp").distinct(), Seq("fp"), "left_anti")
        definitelyNew.unionByName(checkExact)
          .groupBy("source")
          .agg(count(lit(1)).as("n_new"), sum("doc_id").as("id_sum"))
          .orderBy("source")
      },
      Some("""WITH corpus AS (SELECT md5(text) AS fp FROM documents
             |                WHERE doc_id % 3 = 0),
             |batch AS (SELECT source, doc_id, md5(text) AS fp
             |          FROM documents WHERE doc_id % 3 <> 0)
             |SELECT source, count(*) AS n_new,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM batch b
             |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- behavioral sequence extraction -----------------------------------
    // Event streams -> per-user ORDERED action sequences (the input shape
    // for behavioral/sequence models): first 20 event types by time,
    // joined to a string. Order must be imposed, never inherited —
    // `sort_array(collect_list(struct(ts, id, type)))` makes the sequence
    // deterministic under any shuffle (a bare collect_list is
    // partition-arrival order, the same footgun q116 avoids); event_id
    // breaks ts ties identically in both engines. One shuffle on user_id.
    "q119_user_event_sequences" -> QueryDef(
      (s, dir) => {
        table(s, dir, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
               concat_ws(">", slice(transform(
                   sort_array(collect_list(struct(col("ts"),
                     col("event_id"), col("event_type")))),
                   e => e.getField("event_type")), 1, 20)).as("seq"))
          .select(col("user_id"), col("n_events"),
            hash32(col("seq")).as("seq_hash"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(('0x' || substr(md5(array_to_string(
             |    (list(event_type ORDER BY ts, event_id))[:20], '>')),
             |    1, 8)) AS BIGINT) AS seq_hash
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- corpus distribution statistics (entropy / divergence) ------------
    // Per-source token-distribution Shannon entropy plus KL divergence
    // from the whole-corpus distribution — the drift/diversity signal a
    // mixing pipeline monitors. Two linear aggregations (per-source
    // token counts; corpus totals broadcast back); probabilities divide
    // ONCE at the end, logs run on identical operands in both engines,
    // and the result is rounded before comparison.
    "q120_source_token_entropy" -> QueryDef(
      (s, dir) => {
        val tok = tableParallel(s, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("w"))
        // the (source, token) counts feed four consumers (per-source
        // totals, corpus totals, the grand total, the final join) —
        // cached, the corpus explode+count runs once and the reuses read
        // a vocab-sized table
        val bySrc = Materialize(
          tok.groupBy("source", "w").agg(count(lit(1)).as("c")))
        val srcTot = bySrc.groupBy("source").agg(sum("c").as("n"))
        val corpus = bySrc.groupBy("w").agg(sum("c").as("cc"))
        val corpusTot = corpus.agg(sum("cc").as("nn"))
        bySrc.join(broadcast(srcTot), "source")
          .join(broadcast(corpus), "w")
          .crossJoin(broadcast(corpusTot))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_distinct_tokens"),
            round(-sum((col("c") / col("n")) * log(col("c") / col("n"))), 4)
              .as("entropy"),
            round(sum((col("c") / col("n")) *
              log((col("c") / col("n")) / (col("cc") / col("nn")))), 4)
              .as("kl_vs_corpus"))
          .orderBy("source")
      },
      Some("""WITH tok AS (
             |  SELECT source, unnest(regexp_split_to_array(
             |    lower(trim(text)), '\s+')) AS w
             |  FROM documents),
             |by_src AS (SELECT source, w, count(*) AS c
             |           FROM tok GROUP BY 1, 2),
             |src_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
             |            FROM by_src GROUP BY 1),
             |corpus AS (SELECT w, CAST(sum(c) AS BIGINT) AS cc
             |           FROM by_src GROUP BY 1),
             |corpus_tot AS (SELECT CAST(sum(cc) AS BIGINT) AS nn FROM corpus)
             |SELECT source, count(*) AS n_distinct_tokens,
             |  round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 4) AS entropy,
             |  round(sum((c * 1.0 / n) *
             |    ln((c * 1.0 / n) / (cc * 1.0 / nn))), 4) AS kl_vs_corpus
             |FROM by_src JOIN src_tot USING (source)
             |  JOIN corpus USING (w), corpus_tot
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- snapshot profile drift -------------------------------------------
    // Data-quality monitoring between two corpus snapshots: per-column
    // profiles (row count, distinct counts, exact integer value mass)
    // computed for both halves in ONE conditional aggregation pass — no
    // second scan, no join of two profile jobs — then unpivoted to one
    // row per metric with a relative-drift flag. Value mass sums
    // floor-scaled integer cents, not doubles, so the profile is exact
    // and order-independent at any corpus size.
    "q126_profile_drift" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
          .withColumn("snap_b", col("o_orderkey") % 2 === 1)
        val prof = o.agg(
          sum(when(!col("snap_b"), 1L).otherwise(0L)).as("rows_a"),
          sum(when(col("snap_b"), 1L).otherwise(0L)).as("rows_b"),
          countDistinct(when(!col("snap_b"), col("o_custkey"))).as("cust_a"),
          countDistinct(when(col("snap_b"), col("o_custkey"))).as("cust_b"),
          countDistinct(when(!col("snap_b"), col("o_orderstatus")))
            .as("status_a"),
          countDistinct(when(col("snap_b"), col("o_orderstatus")))
            .as("status_b"),
          sum(when(!col("snap_b"),
            floor(col("o_totalprice") * 100).cast("long")).otherwise(0L))
            .as("cents_a"),
          sum(when(col("snap_b"),
            floor(col("o_totalprice") * 100).cast("long")).otherwise(0L))
            .as("cents_b"))
        prof.select(expr(
            """stack(4,
              |  'n_rows', CAST(rows_a AS DOUBLE), CAST(rows_b AS DOUBLE),
              |  'n_distinct_cust', CAST(cust_a AS DOUBLE),
              |    CAST(cust_b AS DOUBLE),
              |  'n_distinct_status', CAST(status_a AS DOUBLE),
              |    CAST(status_b AS DOUBLE),
              |  'price_cents_sum', CAST(cents_a AS DOUBLE),
              |    CAST(cents_b AS DOUBLE)) AS (metric, snap_a, snap_b)
              |""".stripMargin))
          .withColumn("rel_diff",
            round(abs(col("snap_a") - col("snap_b")) / col("snap_a"), 4))
          .withColumn("drifted", col("rel_diff") > 0.05)
          .orderBy("metric")
      },
      Some("""WITH p AS (SELECT
             |  sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS rows_a,
             |  sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS rows_b,
             |  count(DISTINCT CASE WHEN o_orderkey % 2 = 0
             |    THEN o_custkey END) AS cust_a,
             |  count(DISTINCT CASE WHEN o_orderkey % 2 = 1
             |    THEN o_custkey END) AS cust_b,
             |  count(DISTINCT CASE WHEN o_orderkey % 2 = 0
             |    THEN o_orderstatus END) AS status_a,
             |  count(DISTINCT CASE WHEN o_orderkey % 2 = 1
             |    THEN o_orderstatus END) AS status_b,
             |  sum(CASE WHEN o_orderkey % 2 = 0
             |    THEN CAST(floor(o_totalprice * 100) AS BIGINT)
             |    ELSE 0 END) AS cents_a,
             |  sum(CASE WHEN o_orderkey % 2 = 1
             |    THEN CAST(floor(o_totalprice * 100) AS BIGINT)
             |    ELSE 0 END) AS cents_b
             |  FROM orders),
             |u AS (
             |  SELECT 'n_rows' AS metric, CAST(rows_a AS DOUBLE) AS snap_a,
             |    CAST(rows_b AS DOUBLE) AS snap_b FROM p
             |  UNION ALL SELECT 'n_distinct_cust', CAST(cust_a AS DOUBLE),
             |    CAST(cust_b AS DOUBLE) FROM p
             |  UNION ALL SELECT 'n_distinct_status',
             |    CAST(status_a AS DOUBLE), CAST(status_b AS DOUBLE) FROM p
             |  UNION ALL SELECT 'price_cents_sum', CAST(cents_a AS DOUBLE),
             |    CAST(cents_b AS DOUBLE) FROM p)
             |SELECT metric, snap_a, snap_b,
             |  round(abs(snap_a - snap_b) / snap_a, 4) AS rel_diff,
             |  round(abs(snap_a - snap_b) / snap_a, 4) > 0.05 AS drifted
             |FROM u ORDER BY metric""".stripMargin)),

    // ---- latest-per-key compaction ----------------------------------------
    // The upsert-view / log-compaction operator: collapse an event log to
    // each key's newest record (by event time, id-tie-broken) plus how
    // many versions it superseded. ONE aggregation with a struct-max —
    // max(struct(ts, id, payload)) compares lexicographically, so the
    // winner is the argmax without a window sort over the whole log
    // (map-side partial maxes do most of the work; the shuffle carries
    // one candidate per key per partition). The streaming twin
    // (StreamSessionize.latestStream) holds the same (ts, id, payload)
    // state per key under mapGroupsWithState and is parity-gated against
    // this query's output.
    "q128_latest_per_key" -> QueryDef(
      (s, dir) => {
        table(s, dir, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_versions"),
               max(struct(unix_micros(col("ts")).as("us"), col("event_id"),
                 col("event_type"), col("value"))).as("m"))
          .select(col("user_id"), col("n_versions"),
            col("m.event_id").as("latest_event_id"),
            col("m.us").as("latest_ts_us"),
            col("m.event_type").as("latest_type"),
            col("m.value").as("latest_value"))
          .orderBy("user_id")
      },
      Some("""WITH r AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             |    event_type, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS n_versions
             |  FROM events)
             |SELECT user_id, n_versions, event_id AS latest_event_id,
             |  us AS latest_ts_us, event_type AS latest_type,
             |  value AS latest_value
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ---- hash-seeded negative sampling ------------------------------------
    // Contrastive-training pairs: per customer, candidate "negative"
    // items drawn DETERMINISTICALLY (md5 of customer+draw index over a
    // fixed item domain — rerun-stable, oracle-replayable, like every
    // sampler in this family), minus anything the customer actually
    // bought (the positives) via an anti-join on (customer, item). Both
    // sides of the anti-join are distinct projections shuffling on the
    // customer key — linear at corpus scale, and the candidate set is
    // k·|users| rows, never |users|×|items|.
    "q130_negative_sampling" -> QueryDef(
      (s, dir) => {
        val users = table(s, dir, "orders")
          .select(col("o_custkey").as("cust")).distinct()
        val cand = users
          .select(col("cust"), explode(sequence(lit(0), lit(7))).as("j"))
          .select(col("cust"),
            (hash32(concat(lit("neg_"), col("cust"), lit("_"), col("j")))
              % 200 + 1).as("item"))
          .distinct()
        val pos = table(s, dir, "orders")
          .select(col("o_custkey").as("cust"), col("o_orderkey").as("ok"))
          .join(table(s, dir, "lineitem")
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("item")),
            "ok")
          .filter(col("item") <= 200)
          .select("cust", "item").distinct()
        cand.join(pos, Seq("cust", "item"), "left_anti")
          .groupBy("cust")
          .agg(count(lit(1)).as("n_neg"), sum("item").as("neg_item_sum"))
          .orderBy("cust")
      },
      Some("""WITH users AS (SELECT DISTINCT o_custkey AS cust FROM orders),
             |cand AS (SELECT DISTINCT cust,
             |    CAST(('0x' || substr(md5('neg_' || cust || '_' || j), 1, 8))
             |      AS BIGINT) % 200 + 1 AS item
             |  FROM users CROSS JOIN range(0, 8) t(j)),
             |pos AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS item
             |        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |        WHERE l_partkey <= 200)
             |SELECT cust, count(*) AS n_neg,
             |  CAST(sum(item) AS BIGINT) AS neg_item_sum
             |FROM cand c
             |WHERE NOT EXISTS (SELECT 1 FROM pos p
             |                  WHERE p.cust = c.cust AND p.item = c.item)
             |GROUP BY cust ORDER BY cust""".stripMargin)),

    // ---- k-anonymity audit ------------------------------------------------
    // Privacy gate before a dataset release: group by the quasi-identifier
    // tuple (nation, market segment), flag groups smaller than k=10 —
    // every row in such a group is re-identifiable to within k
    // candidates. One aggregation to group sizes, one to the per-segment
    // report: linear, and the report is dimension-sized. The rows_at_risk
    // column is the actionable number (how many records need suppression
    // or generalization before release).
    "q134_k_anonymity" -> QueryDef(
      (s, dir) => {
        val groups = table(s, dir, "customer")
          .groupBy("c_mktsegment", "c_nationkey")
          .agg(count(lit(1)).as("gsize"))
        groups.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_groups"),
               sum(when(col("gsize") < 10, 1L).otherwise(0L))
                 .as("n_small_groups"),
               sum(when(col("gsize") < 10, col("gsize")).otherwise(0L))
                 .as("rows_at_risk"),
               min("gsize").as("min_group_size"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH g AS (SELECT c_mktsegment, c_nationkey,
             |    count(*) AS gsize
             |  FROM customer GROUP BY 1, 2)
             |SELECT c_mktsegment, count(*) AS n_groups,
             |  CAST(sum(CASE WHEN gsize < 10 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_small_groups,
             |  CAST(sum(CASE WHEN gsize < 10 THEN gsize ELSE 0 END)
             |    AS BIGINT) AS rows_at_risk,
             |  min(gsize) AS min_group_size
             |FROM g GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- differentially-private noisy counts ------------------------------
    // The release-side twin of the k-anonymity audit: per-group counts
    // with Laplace noise — but the noise is HASH-SEEDED (inverse-CDF over
    // an md5-derived uniform, b = 1/ε = 2), like every random decision in
    // this family, so reruns and the oracle reproduce the identical
    // release. The uniform is an exact rational, ln runs on identical
    // operands in both engines, and the result is rounded before
    // comparison. (A production release would draw fresh randomness per
    // publication; the pipeline mechanics — one aggregation, one noise
    // projection — are exactly these.)
    "q135_dp_noisy_counts" -> QueryDef(
      (s, dir) => {
        val u = ((hash32(concat(lit("dp_"), col("lang"), lit("_"),
          col("source"))) % 1000000 + 0.5) / 1000000.0) - 0.5
        table(s, dir, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_true"))
          .withColumn("u", u)
          .withColumn("noise",
            -lit(2.0) * signum(col("u")) *
              log(lit(1.0) - lit(2.0) * abs(col("u"))))
          .select(col("lang"), col("source"), col("n_true"),
            round(col("n_true") + col("noise"), 4).as("n_released"))
          .orderBy("lang", "source")
      },
      Some("""WITH c AS (SELECT lang, source, count(*) AS n_true
             |           FROM documents GROUP BY 1, 2),
             |n AS (SELECT lang, source, n_true,
             |    ((CAST(('0x' || substr(md5('dp_' || lang || '_' || source),
             |      1, 8)) AS BIGINT) % 1000000 + 0.5) / 1000000.0) - 0.5 AS u
             |  FROM c)
             |SELECT lang, source, n_true,
             |  round(n_true + (-2.0 * sign(u) * ln(1.0 - 2.0 * abs(u))), 4)
             |    AS n_released
             |FROM n ORDER BY lang, source""".stripMargin)),

    // ---- A/B test evaluation (two-proportion z-test) ----------------------
    // Experiment readout: users hash-split into two arms (the same
    // deterministic assignment a real experiment framework pins per
    // user), conversion = any purchase event; the two-proportion z-score
    // under the pooled estimate decides significance. One per-user
    // aggregation, one global conditional aggregation — all counts are
    // exact integers, the z arithmetic runs on identical operands in both
    // engines, and |z| > 1.96 is compared on the rounded score.
    "q137_ab_test_ztest" -> QueryDef(
      (s, dir) => {
        // conversion = total purchase value above $600 (the synthetic
        // stream gives every user every event TYPE, so the predicate must
        // discriminate on value); cents are floored to exact integers
        // BEFORE summation so the threshold compare is order-independent
        val perUser = table(s, dir, "events")
          .groupBy("user_id")
          .agg((sum(when(col("event_type") === "purchase",
            floor(col("value") * 100).cast("long")).otherwise(0L))
            > 60000L).cast("long").as("converted"))
          .withColumn("arm",
            hash32(concat(lit("ab_"), col("user_id"))) % 2)
        perUser.agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
            sum(when(col("arm") === 0, col("converted")).otherwise(0L))
              .as("conv_a"),
            sum(when(col("arm") === 1, col("converted")).otherwise(0L))
              .as("conv_b"))
          .withColumn("p_a", col("conv_a") * 1.0 / col("n_a"))
          .withColumn("p_b", col("conv_b") * 1.0 / col("n_b"))
          .withColumn("p_pool",
            (col("conv_a") + col("conv_b")) * 1.0 / (col("n_a") + col("n_b")))
          .withColumn("z", round(
            (col("p_a") - col("p_b")) /
              sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4))
          .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
            round(col("p_a"), 4).as("p_a"), round(col("p_b"), 4).as("p_b"),
            col("z"), (abs(col("z")) > 1.96).as("significant"))
      },
      Some("""WITH pu AS (SELECT user_id,
             |    CAST(sum(CASE WHEN event_type = 'purchase'
             |        THEN CAST(floor(value * 100) AS BIGINT)
             |        ELSE 0 END) > 60000 AS BIGINT) AS converted,
             |    CAST(('0x' || substr(md5('ab_' || user_id), 1, 8))
             |      AS BIGINT) % 2 AS arm
             |  FROM events GROUP BY user_id),
             |agg AS (SELECT
             |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_a,
             |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_b,
             |    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
             |      AS BIGINT) AS conv_a,
             |    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
             |      AS BIGINT) AS conv_b
             |  FROM pu),
             |z AS (SELECT *,
             |    round((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b) /
             |      sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b)) *
             |        (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b)) *
             |        (1.0 / n_a + 1.0 / n_b)), 4) AS zs
             |  FROM agg)
             |SELECT n_a, n_b, conv_a, conv_b,
             |  round(conv_a * 1.0 / n_a, 4) AS p_a,
             |  round(conv_b * 1.0 / n_b, 4) AS p_b,
             |  zs AS z, abs(zs) > 1.96 AS significant
             |FROM z""".stripMargin)),

    // ---- behavioral Markov transition matrix ------------------------------
    // First-order transition model over each user's time-ordered event
    // stream: consecutive (prev, next) type pairs via a lag window inside
    // the user partition (the one shuffle), then row-normalized
    // probabilities. The |types|^2 output is the input a sequence model's
    // sanity checks and simulators consume; counts are exact, and the
    // probability is a single division of exact integers rounded on both
    // sides.
    "q138_markov_transitions" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy("ts", "event_id")
        val pairs = table(s, dir, "events")
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
        val totals = pairs.groupBy("prev_type").agg(sum("n").as("tot"))
        pairs.join(broadcast(totals), "prev_type")
          .select(col("prev_type"), col("next_type"), col("n"),
            round(col("n") * 1.0 / col("tot"), 4).as("p"))
          .orderBy("prev_type", "next_type")
      },
      Some("""WITH seq AS (SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |pairs AS (SELECT prev_type, event_type AS next_type,
             |    count(*) AS n
             |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot
             |        FROM pairs GROUP BY 1)
             |SELECT prev_type, next_type, n,
             |  round(n * 1.0 / tot, 4) AS p
             |FROM pairs JOIN tot USING (prev_type)
             |ORDER BY prev_type, next_type""".stripMargin)),

    // ---- winsorization (percentile clamping) ------------------------------
    // Outlier TAMING, the gentler sibling of the q86/q125 outlier DROPs:
    // clamp event values into their group's [p05, p95] band and report
    // how much mass moved. Bounds are exact percentiles ROUNDED before
    // the clamp (the q125 rule — both engines then compare identical
    // doubles); the clamped values are floored to integer cents before
    // summation so the before/after mass comparison is exact at any
    // scale. One percentile aggregation broadcast back, one linear pass.
    "q143_winsorize" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events").select(col("event_type"), col("value"))
        val bounds = ev.groupBy("event_type")
          .agg(round(expr("percentile(value, 0.05)"), 4).as("lo"),
               round(expr("percentile(value, 0.95)"), 4).as("hi"))
        ev.join(broadcast(bounds), "event_type")
          .withColumn("w", greatest(col("lo"), least(col("hi"), col("value"))))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
               sum(when(col("value") < col("lo") ||
                 col("value") > col("hi"), 1L).otherwise(0L)).as("n_clamped"),
               sum(floor(col("value") * 100).cast("long")).as("cents_raw"),
               sum(floor(col("w") * 100).cast("long")).as("cents_winsorized"))
          .orderBy("event_type")
      },
      Some("""WITH b AS (SELECT event_type,
             |    round(quantile_cont(value, 0.05), 4) AS lo,
             |    round(quantile_cont(value, 0.95), 4) AS hi
             |  FROM events GROUP BY 1)
             |SELECT event_type, count(*) AS n,
             |  CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_clamped,
             |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             |    AS cents_raw,
             |  CAST(sum(CAST(floor(greatest(lo, least(hi, value)) * 100)
             |    AS BIGINT)) AS BIGINT) AS cents_winsorized
             |FROM events JOIN b USING (event_type)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- rolling 7-day active users ---------------------------------------
    // The WAU curve: distinct users active in the 7 days ending on each
    // day. A RANGE-frame count-distinct window doesn't exist in either
    // engine, so the scalable formulation CONTRIBUTES each (user, day)
    // to the 7 report days it supports — a bounded 7-way explode of the
    // deduplicated user-day table, then an exact distinct count per
    // report day. Fan-out is a constant 7x on data already collapsed to
    // user-days; days outside the observed range are trimmed so both
    // engines report the same spine.
    "q147_rolling_active_users" -> QueryDef(
      (s, dir) => {
        val ud = table(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("d"))
          .distinct()
        val bounds = ud.agg(min("d").as("lo"), max("d").as("hi"))
        ud.select(col("user_id"),
            explode(sequence(col("d"), date_add(col("d"), 6),
              expr("interval 1 day"))).as("report_d"))
          .crossJoin(broadcast(bounds))
          .filter(col("report_d") <= col("hi"))
          .groupBy("report_d")
          .agg(countDistinct("user_id").as("wau"))
          .orderBy("report_d")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
             |            FROM events),
             |b AS (SELECT max(d) AS hi FROM ud),
             |x AS (SELECT user_id,
             |        CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
             |          INTERVAL 1 DAY)) AS DATE) AS report_d
             |      FROM ud)
             |SELECT report_d, count(DISTINCT user_id) AS wau
             |FROM x, b WHERE report_d <= b.hi
             |GROUP BY report_d ORDER BY report_d""".stripMargin)),

    // ---- time-to-convert distribution -------------------------------------
    // How long from first exposure to first purchase? One conditional
    // min-aggregation per user (first view, first purchase, both in
    // exact micros), then the latency distribution over users who
    // converted AFTER exposure. The gaps are exact integers; only the
    // final percentile interpolation is double, rounded on both sides.
    "q151_time_to_convert" -> QueryDef(
      (s, dir) => {
        val firsts = table(s, dir, "events")
          .groupBy("user_id")
          .agg(min(when(col("event_type") === "view",
              unix_micros(col("ts")))).as("first_view_us"),
            min(when(col("event_type") === "purchase",
              unix_micros(col("ts")))).as("first_purchase_us"))
        firsts
          .filter(col("first_view_us").isNotNull &&
            col("first_purchase_us") >= col("first_view_us"))
          .withColumn("gap_s",
            (col("first_purchase_us") - col("first_view_us")) / 1000000L)
          .agg(count(lit(1)).as("n_converted"),
            round(expr("percentile(gap_s, 0.5)"), 2).as("median_gap_s"),
            round(expr("percentile(gap_s, 0.9)"), 2).as("p90_gap_s"),
            round(avg("gap_s"), 2).as("mean_gap_s"))
      },
      Some("""WITH f AS (SELECT user_id,
             |    min(CASE WHEN event_type = 'view'
             |      THEN epoch_us(ts) END) AS v,
             |    min(CASE WHEN event_type = 'purchase'
             |      THEN epoch_us(ts) END) AS p
             |  FROM events GROUP BY user_id),
             |g AS (SELECT (p - v) / 1000000 AS gap_s FROM f
             |      WHERE v IS NOT NULL AND p >= v)
             |SELECT count(*) AS n_converted,
             |  round(quantile_cont(gap_s, 0.5), 2) AS median_gap_s,
             |  round(quantile_cont(gap_s, 0.9), 2) AS p90_gap_s,
             |  round(avg(gap_s), 2) AS mean_gap_s
             |FROM g""".stripMargin)),

    // ---- error-rate control chart (p-chart) -------------------------------
    // Statistical process control over the event stream: daily error
    // proportion against 3-sigma limits from the pooled rate —
    // p̄ ± 3·sqrt(p̄(1−p̄)/nᵢ) — flagging out-of-control days. Counts are
    // exact integers; the pooled rate is one division broadcast back;
    // limits and the flag compare doubles computed from identical
    // operands in identical association order on both engines.
    "q154_error_pchart" -> QueryDef(
      (s, dir) => {
        val daily = table(s, dir, "events")
          .groupBy(to_date(col("ts")).as("d"))
          .agg(count(lit(1)).as("n"),
               sum(when(col("event_type") === "error", 1L).otherwise(0L))
                 .as("errs"))
        val pooled = daily.agg(
          (sum("errs") * 1.0 / sum("n")).as("pbar"))
        daily.crossJoin(broadcast(pooled))
          .withColumn("sigma",
            sqrt(col("pbar") * (lit(1.0) - col("pbar")) / col("n")))
          .withColumn("p", col("errs") * 1.0 / col("n"))
          .select(col("d"), col("n"), col("errs"),
            round(col("p"), 4).as("p"),
            round(col("pbar") + lit(3.0) * col("sigma"), 4).as("ucl"),
            (col("p") > col("pbar") + lit(3.0) * col("sigma") ||
              col("p") < col("pbar") - lit(3.0) * col("sigma"))
              .as("out_of_control"))
          .orderBy("d")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
             |    count(*) AS n,
             |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS errs
             |  FROM events GROUP BY 1),
             |pooled AS (SELECT CAST(sum(errs) AS BIGINT) * 1.0 /
             |    CAST(sum(n) AS BIGINT) AS pbar FROM daily)
             |SELECT d, n, errs,
             |  round(errs * 1.0 / n, 4) AS p,
             |  round(pbar + 3.0 * sqrt(pbar * (1.0 - pbar) / n), 4) AS ucl,
             |  (errs * 1.0 / n > pbar + 3.0 * sqrt(pbar * (1.0 - pbar) / n)
             |   OR errs * 1.0 / n < pbar - 3.0 * sqrt(pbar * (1.0 - pbar) / n))
             |    AS out_of_control
             |FROM daily, pooled ORDER BY d""".stripMargin)),

    // ---- token-budget allocation (largest-remainder method) ---------------
    // Mixing-plan arithmetic: split a 100k-token training budget across
    // sources proportionally to their token mass, with the
    // largest-remainder method so the allocations are INTEGERS that sum
    // exactly to the budget (naive rounding over- or under-shoots).
    // Everything is exact integer math — floor quotas, modular
    // remainders, a remainder rank with a source tie-break, +1 to the
    // top `leftover` ranks — so the plan is reproducible and the oracle
    // hash-checks every allocation.
    "q155_token_budget_allocation" -> QueryDef(
      (s, dir) => {
        val budget = 100000L
        val src = tableParallel(s, dir, "documents")
          .select(col("source"), size(tokens(col("text"))).cast("long")
            .as("toks"))
          .groupBy("source").agg(sum("toks").as("toks"))
        val tot = src.agg(sum("toks").as("total"),
          count(lit(1)).as("n_sources"))
        val quotas = src.crossJoin(broadcast(tot))
          .withColumn("base", expr(s"($budget * toks) DIV total"))
          .withColumn("rem", expr(s"($budget * toks) % total"))
        val w = Window.orderBy(desc("rem"), col("source"))
        quotas
          .withColumn("leftover",
            lit(budget) - sum("base").over(
              Window.rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .select(col("source"), col("toks"),
            (col("base") + when(col("rnk") <= col("leftover"), 1L)
              .otherwise(0L)).as("alloc"))
          .orderBy("source")
      },
      Some("""WITH src AS (SELECT source, CAST(sum(len(
             |    regexp_split_to_array(lower(trim(text)), '\s+')))
             |    AS BIGINT) AS toks
             |  FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(toks) AS BIGINT) AS total FROM src),
             |q AS (SELECT source, toks,
             |    (100000 * toks) // total AS base,
             |    (100000 * toks) % total AS rem
             |  FROM src, t),
             |r AS (SELECT *,
             |    CAST(row_number() OVER (ORDER BY rem DESC, source)
             |      AS BIGINT) AS rnk,
             |    100000 - CAST(sum(base) OVER () AS BIGINT) AS leftover
             |  FROM q)
             |SELECT source, toks,
             |  CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
             |    AS BIGINT) AS alloc
             |FROM r ORDER BY source""".stripMargin)),

    // ---- sample-representativeness audit (chi-square) ---------------------
    // Did the hash-seeded sample distort the source mix? Pearson's
    // chi-square between the sampled and full source distributions:
    // expected counts scale the full mix to the sample size, the
    // statistic sums (obs−exp)²/exp per source. The sample decision is
    // the q57-style md5 keep rule (reproducible), counts are exact
    // integers, and the statistic's doubles derive from identical
    // integer operands in identical order — one conditional aggregation
    // pass, dimension-sized everything after it.
    "q157_sample_chisq_audit" -> QueryDef(
      (s, dir) => {
        val counts = table(s, dir, "documents")
          .withColumn("kept",
            hash32(concat(lit("s157_"), col("doc_id"))) % 100 < 30)
          .groupBy("source")
          .agg(count(lit(1)).as("n_full"),
               sum(when(col("kept"), 1L).otherwise(0L)).as("n_samp"))
        val tot = counts.agg(sum("n_full").as("tot_full"),
          sum("n_samp").as("tot_samp"))
        counts.crossJoin(broadcast(tot))
          .withColumn("exp",
            col("n_full") * 1.0 * col("tot_samp") / col("tot_full"))
          .agg(count(lit(1)).as("n_sources"),
               max("tot_samp").as("n_sampled"),
               round(sum((col("n_samp") - col("exp")) *
                 (col("n_samp") - col("exp")) / col("exp")), 4)
                 .as("chi_square"))
      },
      Some("""WITH c AS (SELECT source, count(*) AS n_full,
             |    CAST(sum(CASE WHEN CAST(('0x' || substr(md5('s157_' ||
             |      doc_id), 1, 8)) AS BIGINT) % 100 < 30
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_samp
             |  FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(n_full) AS BIGINT) AS tot_full,
             |        CAST(sum(n_samp) AS BIGINT) AS tot_samp FROM c)
             |SELECT count(*) AS n_sources,
             |  max(tot_samp) AS n_sampled,
             |  round(sum((n_samp - n_full * 1.0 * tot_samp / tot_full) *
             |    (n_samp - n_full * 1.0 * tot_samp / tot_full) /
             |    (n_full * 1.0 * tot_samp / tot_full)), 4) AS chi_square
             |FROM c, t""".stripMargin)),

    // ---- deterministic shard assignment + balance audit -------------------
    // The corpus → data-loader handoff: every document lands in exactly
    // one of n_shards output shards by a hash-seeded decision (never
    // rand(), never round-robin over an arbitrary row order — both break
    // on rerun/repartition), and the result is audited for balance:
    // per-shard doc/char/token counts plus each shard's deviation from
    // the ideal docs-per-shard, in integer per-mille so the oracle is
    // float-free. One narrow projection + one groupBy — linear at any
    // corpus size, and the shard id doubles as the partitionBy column
    // for the actual export (q103's range-partition writer shape).
    "q171_shard_assignment" -> QueryDef(
      (s, dir) => {
        val nShards = 8L
        val docs = table(s, dir, "documents")
          .withColumn("shard_id",
            (hash32(concat(lit("s171_"), col("doc_id"))) % nShards)
              .cast("int"))
          .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
        val tot = docs.agg(count(lit(1)).as("n_total"))
        docs.groupBy("shard_id")
          .agg(count(lit(1)).as("n_docs"),
               sum("n_chars").cast("long").as("sum_chars"),
               sum("n_tokens").cast("long").as("sum_tokens"),
               sum(hash32(concat(lit("m171_"), col("doc_id"))))
                 .cast("long").as("member_checksum"))
          .crossJoin(broadcast(tot))
          // share-of-ideal in per-mille, minus 1000 => signed deviation;
          // the division itself stays on positive operands so Spark DIV
          // and DuckDB // cannot disagree on truncation direction
          .withColumn("dev_permille",
            expr(s"(n_docs * $nShards * 1000) DIV n_total - 1000"))
          .select(col("shard_id"), col("n_docs"), col("sum_chars"),
            col("sum_tokens"), col("member_checksum"), col("dev_permille"))
          .orderBy("shard_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, n_chars,
             |    CAST(CAST(('0x' || substr(md5('s171_' || doc_id), 1, 8))
             |      AS BIGINT) % 8 AS INT) AS shard_id,
             |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
             |      AS BIGINT) AS n_tokens,
             |    CAST(('0x' || substr(md5('m171_' || doc_id), 1, 8))
             |      AS BIGINT) AS mh
             |  FROM documents),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM d)
             |SELECT shard_id, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             |  CAST(sum(mh) AS BIGINT) AS member_checksum,
             |  CAST((count(*) * 8 * 1000) // n_total - 1000
             |    AS BIGINT) AS dev_permille
             |FROM d, t
             |GROUP BY shard_id, n_total ORDER BY shard_id""".stripMargin)),

    // ---- temperature-scaled source mixing (p^alpha resampling) ------------
    // The multilingual-LM mixing rule: sample source i with probability
    // proportional to p_i^alpha (alpha = 0.5 here), which upsamples the
    // tail sources relative to their natural token share without q62's
    // hard equalization. Weights are w_i = floor(sqrt(tok_i) * 1e3) —
    // sqrt on a BIGINT is one correctly-rounded IEEE op in both engines,
    // and the floor-scale makes every later step exact integer math:
    // share_bp = w_i * 10000 DIV sum(w), and the per-source epoch
    // multiplier (how many times the source repeats per mixed-corpus
    // epoch) in per-mille is share_bp * sum(tok) DIV (10 * tok_i), whose
    // worst case at 100 TB (share_bp 1e4 * tokens 1e14 / 10) stays under
    // Long.MaxValue. Cost: one groupBy + a source-cardinality broadcast —
    // linear at any corpus size, like q62/q155.
    "q173_temperature_mixing" -> QueryDef(
      (s, dir) => {
        // Materialize the per-source aggregate (|sources| rows): it feeds
        // both the totals and the final projection — uncached, the whole
        // corpus scan + groupBy would run twice
        val src = Materialize(tableParallel(s, dir, "documents")
          .select(col("source"), size(tokens(col("text"))).cast("long")
            .as("toks"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("sum_tokens"))
          .withColumn("weight_s",
            floor(sqrt(col("sum_tokens")) * lit(1000)).cast("long")))
        val tot = src.agg(sum("weight_s").as("tot_w"),
          sum("sum_tokens").as("tot_toks"))
        src.crossJoin(broadcast(tot))
          .withColumn("share_bp",
            expr("weight_s * 10000 DIV tot_w"))
          .withColumn("epochs_pm",
            expr("share_bp * tot_toks DIV (10 * sum_tokens)"))
          .select(col("source"), col("n_docs"), col("sum_tokens"),
            col("weight_s"), col("share_bp"), col("epochs_pm"))
          .orderBy("source")
      },
      Some(s"""WITH src AS (
              |  SELECT source, count(*) AS n_docs,
              |    CAST(sum(len($duckToks)) AS BIGINT) AS sum_tokens
              |  FROM documents GROUP BY source),
              |w AS (SELECT source, n_docs, sum_tokens,
              |        CAST(floor(sqrt(sum_tokens) * 1000) AS BIGINT)
              |          AS weight_s
              |      FROM src),
              |t AS (SELECT CAST(sum(weight_s) AS BIGINT) AS tot_w,
              |        CAST(sum(sum_tokens) AS BIGINT) AS tot_toks FROM w)
              |SELECT source, n_docs, sum_tokens, weight_s,
              |  CAST(weight_s * 10000 // tot_w AS BIGINT) AS share_bp,
              |  CAST((weight_s * 10000 // tot_w) * tot_toks
              |    // (10 * sum_tokens) AS BIGINT) AS epochs_pm
              |FROM w, t ORDER BY source""".stripMargin)),

    // ---- CDC feed compaction (multi-generation, last-wins) ----------------
    // The semantics `cdcUpsertStream` holds as state, as a BATCH operator
    // under a full oracle: a change feed carrying TWO delta generations
    // (old→mid, mid→cur — adds, updates, and removes in both) is
    // compacted per key to its highest-seq event (removes = tombstones)
    // and applied onto the starting snapshot in one pass. Unlike q79 —
    // whose oracle recomputes the target snapshot directly and pins the
    // witness 0 — this oracle REPLAYS the whole chain in SQL (both sparse
    // diffs, the window compaction, the anti-join rebuild), so Spark and
    // DuckDB must agree on the diff classification, the last-wins rule,
    // and the tombstone handling, row for row. Scale shape: the narrow
    // 3-col snapshot projection is cached ONCE and all three generations
    // filter from it (one fact-table scan, spill-safe serialized blocks);
    // each diff is a full-outer equi-join on the key; compaction is ONE
    // struct-max aggregation (map-side partials carry one candidate per
    // key per partition — no window sort over the feed); the rebuild is
    // an anti-join + union. Everything shuffles on the key, linear at
    // 100 TB, and the feed is change-volume-sized, not corpus-sized.
    "q181_cdc_feed_compaction" -> QueryDef(
      (s, dir) => {
        val base = Materialize(table(s, dir, "orders")
          .select(col("o_orderkey").as("key"),
            col("o_orderstatus").as("status"),
            col("o_totalprice").as("price")))
        val old = base.filter(col("key") % 3 =!= 0)
          .withColumn("price",
            when(col("key") % 5 === 0, col("price") + 1.0)
              .otherwise(col("price")))
        val mid = base.filter(col("key") % 7 =!= 0)
        val cur = base.filter(col("key") % 11 =!= 0)
        val keys = Seq("key")
        def sparse(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame) =
          graft.operators.SnapshotDiff.diff(a, b, keys)
            .filter(col("change_type") =!= "unchanged")
        val feed = sparse(old, mid).withColumn("seq", lit(1L))
          .unionByName(sparse(mid, cur).withColumn("seq", lit(2L)))
        val last = Materialize(feed.groupBy("key")
          .agg(max(struct(col("seq"), col("change_type"), col("status"),
            col("price"))).as("m"), count(lit(1)).as("n_events"))
          .select(col("key"), col("m.change_type").as("change_type"),
            col("m.status").as("status"), col("m.price").as("price"),
            col("n_events")))
        val rebuilt = old.join(last.select("key"), keys, "left_anti")
          .unionByName(last.filter(col("change_type") =!= "removed")
            .select("key", "status", "price"))
        val snap = rebuilt.groupBy(col("status").as("k"))
          .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("v"))
          .select(lit("snapshot").as("section"), col("k"), col("n"),
            col("v"))
        val comp = last.groupBy(col("change_type").as("k"))
          .agg(count(lit(1)).as("n"),
            sum("n_events").cast("double").as("v"))
          .select(lit("compaction").as("section"), col("k"), col("n"),
            col("v"))
        snap.unionByName(comp).orderBy("section", "k")
      },
      Some("""WITH base AS (SELECT o_orderkey AS key,
             |    o_orderstatus AS status, o_totalprice AS price
             |  FROM orders),
             |old AS (SELECT key, status,
             |    CASE WHEN key % 5 = 0 THEN price + 1.0 ELSE price END
             |      AS price
             |  FROM base WHERE key % 3 <> 0),
             |mid AS (SELECT * FROM base WHERE key % 7 <> 0),
             |cur AS (SELECT * FROM base WHERE key % 11 <> 0),
             |d1 AS (SELECT COALESCE(m.key, o.key) AS key,
             |    CASE WHEN m.key IS NULL THEN o.status ELSE m.status END
             |      AS status,
             |    CASE WHEN m.key IS NULL THEN o.price ELSE m.price END
             |      AS price,
             |    CASE WHEN o.key IS NULL THEN 'added'
             |         WHEN m.key IS NULL THEN 'removed'
             |         ELSE 'changed' END AS change_type,
             |    1 AS seq
             |  FROM old o FULL OUTER JOIN mid m ON o.key = m.key
             |  WHERE o.key IS NULL OR m.key IS NULL
             |     OR (o.status IS DISTINCT FROM m.status)
             |     OR (o.price IS DISTINCT FROM m.price)),
             |d2 AS (SELECT COALESCE(c.key, m.key) AS key,
             |    CASE WHEN c.key IS NULL THEN m.status ELSE c.status END
             |      AS status,
             |    CASE WHEN c.key IS NULL THEN m.price ELSE c.price END
             |      AS price,
             |    CASE WHEN m.key IS NULL THEN 'added'
             |         WHEN c.key IS NULL THEN 'removed'
             |         ELSE 'changed' END AS change_type,
             |    2 AS seq
             |  FROM mid m FULL OUTER JOIN cur c ON m.key = c.key
             |  WHERE m.key IS NULL OR c.key IS NULL
             |     OR (m.status IS DISTINCT FROM c.status)
             |     OR (m.price IS DISTINCT FROM c.price)),
             |f AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2),
             |c AS (SELECT key, status, price, change_type,
             |    count(*) OVER (PARTITION BY key) AS n_events,
             |    row_number() OVER (PARTITION BY key ORDER BY seq DESC)
             |      AS rn
             |  FROM f),
             |last AS (SELECT key, status, price, change_type, n_events
             |  FROM c WHERE rn = 1),
             |rebuilt AS (
             |  SELECT o.key, o.status, o.price FROM old o
             |    LEFT JOIN last l ON o.key = l.key WHERE l.key IS NULL
             |  UNION ALL
             |  SELECT key, status, price FROM last
             |  WHERE change_type <> 'removed')
             |SELECT 'snapshot' AS section, status AS k,
             |  CAST(count(*) AS BIGINT) AS n, round(sum(price), 2) AS v
             |FROM rebuilt GROUP BY 2
             |UNION ALL
             |SELECT 'compaction' AS section, change_type AS k,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_events) AS DOUBLE) AS v
             |FROM last GROUP BY 2
             |ORDER BY section, k""".stripMargin)),

    // ---- sequence-packing fragmentation audit -----------------------------
    // The dataloader handoff q171 stops short of: training concatenates
    // each shard's documents in a deterministic order and slices the
    // token stream into fixed context windows (B = 2048), so a document
    // whose span straddles a window boundary is FRAGMENTED — its loss
    // signal splits across samples. This audits that packing before it
    // runs: per shard, window count and the exact fragmentation rate.
    // Complements q59 rather than repeating it: q59 MATERIALIZES pack
    // contents within each source — and inherits source cardinality as
    // its parallelism (4 sources = 4 window tasks, the per-domain-pack
    // semantics' own constraint); here the stream shards by hash, so the
    // shard count is a free knob that bounds per-task sort size at any
    // corpus scale, and the output is the chunking QUALITY metric
    // (fragmentation) q59's pack listing doesn't measure.
    // Scale shape: one narrow projection (token count + md5 shard id),
    // ONE shuffle on the shard key (hash-uniform, so no skew by
    // construction), a running sum within each shard's deterministic
    // doc_id order (the dataloader's own order — the per-shard sort IS
    // the operator's semantics, and shard count is a config knob that
    // bounds per-task sort size at any corpus scale), one aggregation.
    // Boundary test in exact integer window indices: a doc fragments iff
    // its first and last token land in different windows —
    // (cum−toks) DIV B ≠ (cum−1) DIV B; empty docs never fragment.
    "q183_sequence_packing_audit" -> QueryDef(
      (s, dir) => {
        val B = 2048L
        val d = tableParallel(s, dir, "documents")
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("toks"))
          .withColumn("shard",
            hash32(concat(lit("pack_"), col("doc_id"))) % 16)
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val f = d.withColumn("cum", sum("toks").over(w))
          .withColumn("frag",
            when(col("toks") > 0 &&
              expr(s"(cum - toks) DIV $B") =!= expr(s"(cum - 1) DIV $B"),
              1L).otherwise(0L))
        f.groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("toks").as("total_tokens"),
            expr(s"(sum(toks) + ${B - 1}) DIV $B").as("n_windows"),
            sum("frag").as("n_fragmented"),
            expr("sum(frag) * 10000 DIV count(1)").as("frag_bp"))
          .orderBy("shard")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(len(regexp_split_to_array(lower(trim(text)),
             |      '\s+')) AS BIGINT) AS toks,
             |    CAST(('0x' || substr(md5('pack_' || doc_id), 1, 8))
             |      AS BIGINT) % 16 AS shard
             |  FROM documents),
             |c AS (SELECT *, CAST(sum(toks) OVER (PARTITION BY shard
             |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |      AS cum
             |  FROM d),
             |f AS (SELECT shard, toks,
             |    CASE WHEN toks > 0
             |      AND (cum - toks) // 2048 <> (cum - 1) // 2048
             |      THEN 1 ELSE 0 END AS frag
             |  FROM c)
             |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(toks) AS BIGINT) AS total_tokens,
             |  CAST((sum(toks) + 2047) // 2048 AS BIGINT) AS n_windows,
             |  CAST(sum(frag) AS BIGINT) AS n_fragmented,
             |  CAST(sum(frag) * 10000 // count(*) AS BIGINT) AS frag_bp
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- pareto-frontier data selection -----------------------------------
    // Multi-criteria selection: keep the documents no other document
    // dominates on (length, lexical diversity) — the 2-D skyline that
    // curriculum/selection pipelines use when no single score combines
    // the axes. The naive plan is an all-pairs dominance anti-join
    // (O(n²), a catalog-banned shape); the 2-D structure admits a linear
    // plan instead: per length level keep the max diversity (one
    // groupBy), then a prefix-max over the LEVEL table ordered by length
    // desc — a doc is on the frontier iff it attains its level's max and
    // strictly beats every longer level's max. The level table is
    // bounded by the number of DISTINCT lengths (≤ max doc length, ~10⁵
    // at any corpus scale), so the global window runs over a broadcast-
    // sized frame, never the corpus; the corpus itself sees one narrow
    // projection, one groupBy, and one broadcast join. Diversity in
    // integer basis points (uniq·10⁴ DIV toks) — exact on both engines.
    // Tie semantics: equal (toks, uniq_bp) points dominate neither, so
    // duplicates of a frontier point all survive (standard weak-
    // dominance skyline).
    "q186_pareto_frontier" -> QueryDef(
      (s, dir) => {
        val d = tableParallel(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ws"))
          .select(col("doc_id"),
            size(col("ws")).cast("long").as("toks"),
            size(array_distinct(col("ws"))).cast("long").as("uniq"))
          .withColumn("uniq_bp", expr("uniq * 10000 DIV toks"))
        graft.operators.Skyline.frontier2d(d, col("toks"), col("uniq_bp"))
          .select(col("doc_id"), col("toks"), col("uniq_bp"))
          .orderBy(col("toks").desc, col("doc_id"))
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckToks AS ws FROM documents),
              |d AS (SELECT doc_id,
              |    CAST(len(ws) AS BIGINT) AS toks,
              |    CAST(len(list_distinct(ws)) AS BIGINT) AS uniq
              |  FROM w),
              |sc AS (SELECT doc_id, toks, uniq * 10000 // toks AS uniq_bp
              |  FROM d),
              |g AS (SELECT toks, max(uniq_bp) AS gmax FROM sc GROUP BY 1),
              |lv AS (SELECT toks, gmax,
              |    max(gmax) OVER (ORDER BY toks DESC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |      AS pmax
              |  FROM g)
              |SELECT sc.doc_id, sc.toks, sc.uniq_bp
              |FROM sc JOIN lv ON sc.toks = lv.toks
              |WHERE sc.uniq_bp = lv.gmax
              |  AND (lv.pmax IS NULL OR sc.uniq_bp > lv.pmax)
              |ORDER BY sc.toks DESC, sc.doc_id""".stripMargin)),

    // ---- partition integrity manifest -------------------------------------
    // The operational twin of the CDC fingerprint witness: per source
    // partition, a manifest row (row count, key range, distinct langs,
    // byte total, multiset content fingerprint) cheap enough to emit on
    // every export and exact enough to detect any changed/dropped/
    // duplicated row. Unlike SnapshotDiff.fingerprint (spec-side
    // xxhash64), the Σ-hash here is md5-derived so the ORACLE replays it
    // — the integrity witness itself sits under the hard correctness
    // signal. Σ over a commutative BIGINT hash is order-independent
    // (partial-aggregate safe); the accumulator is DECIMAL(38,0) so at
    // 10¹² rows × 2³² max hash (~4·10²¹) it cannot overflow, reduced
    // mod 1e9+7 only at the end. One linear pass, one groupBy on the
    // partition key — no shuffle beyond the aggregation itself.
    "q191_snapshot_manifest" -> QueryDef(
      (s, dir) => manifestOf(tableParallel(s, dir, "documents")),
      Some("""WITH r AS (SELECT source, doc_id, lang, n_chars,
             |    CAST(('0x' || substr(md5(
             |      COALESCE(CAST(doc_id AS VARCHAR), '@null@') || '|' ||
             |      COALESCE(lang, '@null@') || '|' ||
             |      COALESCE(CAST(n_chars AS VARCHAR), '@null@') || '|' ||
             |      COALESCE(md5(text), '@null@')), 1, 8)) AS BIGINT)
             |      AS row_h
             |  FROM documents)
             |SELECT source,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  min(doc_id) AS min_doc,
             |  max(doc_id) AS max_doc,
             |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  CAST(sum(row_h) % 1000000007 AS BIGINT) AS fp
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- small-file compaction planner ------------------------------------
    // The layout-maintenance operator every long-lived 100 TB table needs:
    // ingest and CDC leave partitions littered with small files, and scan
    // throughput dies on per-file open cost. The planner consumes the FILE
    // MANIFEST (here simulated as doc_id DIV 25 file groups over
    // `documents`; in production the listing the q191 manifest or the
    // Hadoop FS provides), and emits merge groups: per partition, files in
    // name order are packed greedily into target-size bins — bin id is the
    // file's starting byte offset DIV target, i.e. a new bin opens once
    // the running total passes the target. Contiguity in file order is
    // deliberate (merge groups read sequentially; no reordering of the
    // manifest), and the invariant is bin_bytes < target + max_file_bytes.
    // Scale shape: the plan runs on METADATA — the manifest is ~10⁶ rows
    // where the table is 100 TB — so one window over (partition, file
    // order) and one groupBy is the entire cost; the planner never touches
    // data bytes. Execution of the plan is the existing rewrite machinery
    // (read group → write one file), not this operator.
    "q187_compaction_plan" -> QueryDef(
      (s, dir) => {
        val files = tableParallel(s, dir, "documents")
          .groupBy(col("source"), expr("doc_id DIV 25").as("file_id"))
          .agg(sum("n_chars").as("bytes"))
        graft.operators.CompactionPlanner.plan(files, target = 2048L)
      },
      Some("""WITH files AS (SELECT source, doc_id // 25 AS file_id,
             |    CAST(sum(n_chars) AS BIGINT) AS bytes
             |  FROM documents GROUP BY 1, 2),
             |c AS (SELECT source, file_id, bytes,
             |    CAST(sum(bytes) OVER (PARTITION BY source ORDER BY file_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM files)
             |SELECT source, (cum - bytes) // 2048 AS bin,
             |  CAST(count(*) AS BIGINT) AS n_files,
             |  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
             |  min(file_id) AS first_file,
             |  max(file_id) AS last_file
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- manifest-pruned snapshot diff ------------------------------------
    // The at-scale CDC pattern q69 stops short of: at 100 TB you never
    // full-outer-join two whole snapshots — you diff their MANIFESTS
    // first (metadata, one row per partition) and run the row-level diff
    // only inside partitions whose fingerprint moved. This composes q191
    // (the manifest, whose Σ-hash fp is exactly the change detector) with
    // q69's SnapshotDiff: manifest full-outer join on the partition key →
    // changed-partition list (metadata-sized, broadcast) → semi-join
    // prunes both snapshots → row diff inside the ~1% that churned.
    // Fixture: three partitions perturbed deterministically (src3 text
    // edits → changed, src5 rows missing from old → added, src7 rows
    // missing from cur → removed); 17 of 20 partitions are pruned before
    // any row comparison. The oracle replays the entire chain — manifest
    // fps included — so the PRUNING DECISION, not just the final counts,
    // is hash-gated. A spec separately witnesses pruned ≡ unpruned.
    // Scan budget 4 (whitelisted): two logical snapshots derive from one
    // fixture table, each read once for its manifest and once for the
    // pruned diff; in production these are reads of two separate tables,
    // with manifests precomputed at export time (q191's output).
    "q194_manifest_pruned_diff" -> QueryDef(
      (s, dir) => {
        val base = tableParallel(s, dir, "documents")
          .select("doc_id", "source", "lang", "n_chars", "text")
        val old = base
          .filter(!(col("source") === "src5" && col("doc_id") % 13 === 0))
          .withColumn("text",
            when(col("source") === "src3" && col("doc_id") % 7 === 0,
              concat(col("text"), lit("X"))).otherwise(col("text")))
        val cur = base
          .filter(!(col("source") === "src7" && col("doc_id") % 17 === 0))
        def m(df: org.apache.spark.sql.DataFrame, sfx: String) =
          manifestOf(df).select(col("source"),
            col("n_rows").as(s"n_$sfx"), col("fp").as(s"fp_$sfx"))
        val mj = Materialize(
          m(old, "o").join(m(cur, "c"), Seq("source"), "full_outer"))
        val chg = mj
          .filter(!(col("fp_o") <=> col("fp_c")) ||
            !(col("n_o") <=> col("n_c")))
          .select("source")
        val d = graft.operators.SnapshotDiff.diff(
          old.join(broadcast(chg), Seq("source"), "left_semi"),
          cur.join(broadcast(chg), Seq("source"), "left_semi"),
          Seq("doc_id"))
        d.groupBy(col("source").as("src"), col("change_type"))
          .agg(count(lit(1)).as("n"))
          .unionByName(chg.agg(count(lit(1)).as("n"))
            .select(lit("_pruning").as("src"),
              lit("partitions_row_diffed").as("change_type"), col("n")))
          .unionByName(mj.agg(count(lit(1)).as("n"))
            .select(lit("_pruning").as("src"),
              lit("partitions_total").as("change_type"), col("n")))
          .orderBy("src", "change_type")
      },
      Some("""WITH base AS (SELECT doc_id, source, lang, n_chars, text
             |             FROM documents),
             |old AS (SELECT doc_id, source, lang, n_chars,
             |    CASE WHEN source = 'src3' AND doc_id % 7 = 0
             |         THEN text || 'X' ELSE text END AS text
             |  FROM base WHERE NOT (source = 'src5' AND doc_id % 13 = 0)),
             |cur AS (SELECT * FROM base
             |  WHERE NOT (source = 'src7' AND doc_id % 17 = 0)),
             |mo AS (SELECT source, CAST(count(*) AS BIGINT) AS n_o,
             |    CAST(sum(CAST(('0x' || substr(md5(
             |      COALESCE(CAST(doc_id AS VARCHAR), '@null@') || '|' ||
             |      COALESCE(lang, '@null@') || '|' ||
             |      COALESCE(CAST(n_chars AS VARCHAR), '@null@') || '|' ||
             |      COALESCE(md5(text), '@null@')), 1, 8))
             |      AS BIGINT)) % 1000000007 AS BIGINT) AS fp_o
             |  FROM old GROUP BY 1),
             |mc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_c,
             |    CAST(sum(CAST(('0x' || substr(md5(
             |      COALESCE(CAST(doc_id AS VARCHAR), '@null@') || '|' ||
             |      COALESCE(lang, '@null@') || '|' ||
             |      COALESCE(CAST(n_chars AS VARCHAR), '@null@') || '|' ||
             |      COALESCE(md5(text), '@null@')), 1, 8))
             |      AS BIGINT)) % 1000000007 AS BIGINT) AS fp_c
             |  FROM cur GROUP BY 1),
             |mj AS (SELECT COALESCE(mo.source, mc.source) AS source,
             |    n_o, fp_o, n_c, fp_c
             |  FROM mo FULL OUTER JOIN mc ON mo.source = mc.source),
             |chg AS (SELECT source FROM mj
             |  WHERE fp_o IS DISTINCT FROM fp_c
             |     OR n_o IS DISTINCT FROM n_c),
             |po AS (SELECT * FROM old
             |  WHERE source IN (SELECT source FROM chg)),
             |pc AS (SELECT * FROM cur
             |  WHERE source IN (SELECT source FROM chg)),
             |d AS (SELECT
             |    CASE WHEN c.doc_id IS NULL THEN o.source
             |         ELSE c.source END AS src,
             |    CASE WHEN o.doc_id IS NULL THEN 'added'
             |         WHEN c.doc_id IS NULL THEN 'removed'
             |         WHEN o.source IS NOT DISTINCT FROM c.source
             |          AND o.lang IS NOT DISTINCT FROM c.lang
             |          AND o.n_chars IS NOT DISTINCT FROM c.n_chars
             |          AND o.text IS NOT DISTINCT FROM c.text
             |           THEN 'unchanged'
             |         ELSE 'changed' END AS change_type
             |  FROM po o FULL OUTER JOIN pc c ON o.doc_id = c.doc_id)
             |SELECT src, change_type, n FROM (
             |  SELECT src, change_type, CAST(count(*) AS BIGINT) AS n
             |  FROM d GROUP BY 1, 2
             |  UNION ALL
             |  SELECT '_pruning', 'partitions_row_diffed',
             |    CAST(count(*) AS BIGINT) FROM chg
             |  UNION ALL
             |  SELECT '_pruning', 'partitions_total',
             |    CAST(count(*) AS BIGINT) FROM mj
             |) ORDER BY src, change_type""".stripMargin)),

    // ---- shard rebalancing audit (rendezvous vs mod) ----------------------
    // q171 assigns shards; this audits what happens when the shard COUNT
    // changes (8 → 10, the scale-out event): under mod hashing nearly
    // every key moves (only keys with doc_id%8 == doc_id%10 stay — the
    // lcm-aligned ~1/40 sliver plus coincidences), while rendezvous
    // (highest-random-weight) hashing moves EXACTLY the keys whose new
    // argmax landed on a new shard — 2/10 in expectation — because
    // existing shards' weights are unchanged by adding candidates. That
    // ~80-point gap is why a 100 TB shard map uses rendezvous: a
    // scale-out that moves 20% of the data instead of 97% is the
    // difference between a rebalance and a re-ingest. All weights are
    // md5-derived integers (the oracle replays them bit-identically);
    // argmax ties break first-index on both engines (array_position /
    // list_position both return the first occurrence). One narrow pass
    // per method (two pushed scans of the same table), one aggregation
    // each; max_share_bp audits the NEW map's balance.
    "q197_shard_rebalance_audit" -> QueryDef(
      (s, dir) => {
        def rdv(n: Int) = {
          val hs = transform(sequence(lit(0), lit(n - 1)), sc =>
            hash32(concat(col("doc_id").cast("string"), lit("_"),
              sc.cast("string"))))
          (array_position(hs, array_max(hs)) - 1).cast("long")
        }
        val docs = tableParallel(s, dir, "documents")
        val modA = docs.select(lit("mod").as("method"),
          expr("doc_id % 8").as("old"), expr("doc_id % 10").as("nw"))
        val rdvA = docs.select(lit("rendezvous").as("method"),
          rdv(8).as("old"), rdv(10).as("nw"))
        // materialized: the assignment frame feeds BOTH the movement
        // aggregate and the balance aggregate — without the cache each
        // consumer would re-run both corpus scans (4 total; the plan
        // invariant pins the budget at 2)
        val a = Materialize(modA.unionByName(rdvA)
          .withColumn("moved", when(col("old") =!= col("nw"), 1L)
            .otherwise(0L)))
        val agg = a.groupBy("method")
          .agg(count(lit(1)).as("n_docs"), sum("moved").as("n_moved"),
            expr("sum(moved) * 10000 DIV count(1)").as("moved_bp"))
        val share = a.groupBy("method", "nw")
          .agg(count(lit(1)).as("n"))
          .groupBy("method")
          .agg(expr("max(n) * 10000 DIV sum(n)").as("max_share_bp"))
        agg.join(share, "method")
          .select("method", "n_docs", "n_moved", "moved_bp",
            "max_share_bp")
          .orderBy("method")
      },
      Some("""WITH m AS (
             |  SELECT 'mod' AS method, doc_id % 8 AS old,
             |    doc_id % 10 AS nw
             |  FROM documents
             |  UNION ALL
             |  SELECT 'rendezvous',
             |    CAST(list_position(h8, list_max(h8)) - 1 AS BIGINT),
             |    CAST(list_position(h10, list_max(h10)) - 1 AS BIGINT)
             |  FROM (SELECT
             |      list_transform(range(0, 8), s ->
             |        CAST(('0x' || substr(md5(doc_id || '_' || s), 1, 8))
             |          AS BIGINT)) AS h8,
             |      list_transform(range(0, 10), s ->
             |        CAST(('0x' || substr(md5(doc_id || '_' || s), 1, 8))
             |          AS BIGINT)) AS h10
             |    FROM documents)),
             |a AS (SELECT method, old, nw,
             |    CASE WHEN old <> nw THEN 1 ELSE 0 END AS moved
             |  FROM m),
             |agg AS (SELECT method, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(moved) AS BIGINT) AS n_moved,
             |    CAST(sum(moved) * 10000 // count(*) AS BIGINT)
             |      AS moved_bp
             |  FROM a GROUP BY 1),
             |sh AS (SELECT method, CAST(count(*) AS BIGINT) AS n
             |  FROM a GROUP BY method, nw),
             |mx AS (SELECT method,
             |    CAST(max(n) * 10000 // sum(n) AS BIGINT) AS max_share_bp
             |  FROM sh GROUP BY 1)
             |SELECT agg.method, n_docs, n_moved, moved_bp, max_share_bp
             |FROM agg JOIN mx USING (method) ORDER BY agg.method""".stripMargin)),

    // ---- padding-waste batching audit -------------------------------------
    // The other half of the q183 dataloader story: q183 audits
    // concat-and-chunk packing; this audits PADDED batching — batches of
    // 8 padded to the longest member — under the two orders a loader can
    // actually use: arrival order vs length-bucketed (sorted by length
    // inside the worker's shard, the standard bucketing trick). Waste =
    // Σ_batches count·max(len) − Σ len, in exact integers and basis
    // points. Scale shape: each strategy is one narrow projection plus a
    // window partitioned BY SHARD — the per-shard sort is precisely the
    // shard-local sort the loader itself performs, so there is no global
    // sort anywhere; two linear passes, output two rows. The bucketed
    // strategy's waste is provably ≤ arrival's per shard (sorting
    // minimizes Σ max within consecutive fixed-size groups) — the spec
    // pins that invariant, the oracle pins the exact numbers.
    "q198_padding_waste_audit" -> QueryDef(
      (s, dir) => {
        val base = tableParallel(s, dir, "documents")
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("toks"))
          .withColumn("shard",
            hash32(concat(lit("pad_"), col("doc_id"))) % 16)
        def strat(name: String, order: Seq[Column]) = base
          .withColumn("rn", row_number().over(
            Window.partitionBy("shard").orderBy(order: _*)))
          .withColumn("strategy", lit(name))
        val both = strat("arrival", Seq(col("doc_id")))
          .unionByName(strat("bucketed", Seq(col("toks"), col("doc_id"))))
        both.withColumn("batch", expr("(rn - 1) DIV 8"))
          .groupBy("strategy", "shard", "batch")
          .agg(count(lit(1)).as("cnt"), max("toks").as("mx"),
            sum("toks").as("real"))
          .groupBy("strategy")
          .agg(count(lit(1)).as("n_batches"),
            sum(expr("cnt * mx")).as("padded_tokens"),
            sum("real").as("real_tokens"))
          .withColumn("waste_tokens",
            expr("padded_tokens - real_tokens"))
          .withColumn("waste_bp",
            expr("waste_tokens * 10000 DIV padded_tokens"))
          .orderBy("strategy")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(len(regexp_split_to_array(lower(trim(text)),
             |      '\s+')) AS BIGINT) AS toks,
             |    CAST(('0x' || substr(md5('pad_' || doc_id), 1, 8))
             |      AS BIGINT) % 16 AS shard
             |  FROM documents),
             |r AS (
             |  SELECT 'arrival' AS strategy, shard, toks,
             |    row_number() OVER (PARTITION BY shard ORDER BY doc_id)
             |      AS rn
             |  FROM d
             |  UNION ALL
             |  SELECT 'bucketed', shard, toks,
             |    row_number() OVER (PARTITION BY shard
             |      ORDER BY toks, doc_id)
             |  FROM d),
             |b AS (SELECT strategy, shard, (rn - 1) // 8 AS batch,
             |    count(*) AS cnt, max(toks) AS mx, sum(toks) AS real
             |  FROM r GROUP BY 1, 2, 3),
             |a AS (SELECT strategy,
             |    CAST(count(*) AS BIGINT) AS n_batches,
             |    CAST(sum(cnt * mx) AS BIGINT) AS padded_tokens,
             |    CAST(sum(real) AS BIGINT) AS real_tokens
             |  FROM b GROUP BY 1)
             |SELECT strategy, n_batches, padded_tokens, real_tokens,
             |  padded_tokens - real_tokens AS waste_tokens,
             |  CAST((padded_tokens - real_tokens) * 10000
             |    // padded_tokens AS BIGINT) AS waste_bp
             |FROM a ORDER BY strategy""".stripMargin)),

    // ---- train/test split leakage audit -----------------------------------
    // Behavioral data must be split BY USER, not by time: a time split
    // puts the same user's early events in train and late events in test,
    // and any model that memorizes user identity leaks. This audit runs
    // both strategies on the same events and measures what each one
    // leaks: test events whose user also has train events. The hash
    // split's leakage is zero BY CONSTRUCTION (every user lands wholly on
    // one side) — the audit proves it with the same counters that expose
    // the time split's near-total leakage, the q197-style two-strategy
    // contrast. The cutoff compares unix_micros against a literal UTC
    // instant (2024-01-24T00:00:00Z), immune to session-timezone drift on
    // either engine. Scale shape: one groupBy(user) per strategy — two
    // equi-shuffles on a well-distributed key, aggregate state one row
    // per user, output two rows.
    "q201_split_leakage_audit" -> QueryDef(
      (s, dir) => {
        val cutUs = 1706054400000000L // 2024-01-24T00:00:00Z in micros
        val ev = table(s, dir, "events").select(col("user_id"), col("ts"))
        def audit(name: String, isTrain: Column) = ev
          .withColumn("tr", when(isTrain, 1L).otherwise(0L))
          .groupBy(lit(name).as("strategy"), col("user_id"))
          .agg(sum("tr").as("n_train_u"),
            sum(lit(1L) - col("tr")).as("n_test_u"))
        audit("time", expr(s"unix_micros(ts) < $cutUs"))
          .unionByName(audit("user",
            hash32(concat(lit("split_"), col("user_id"))) % 100 < 80))
          .groupBy("strategy")
          .agg(sum("n_train_u").as("n_train"),
            sum("n_test_u").as("n_test"),
            sum(when(col("n_train_u") > 0 && col("n_test_u") > 0, 1L)
              .otherwise(0L)).as("n_overlap_users"),
            sum(when(col("n_train_u") > 0, col("n_test_u"))
              .otherwise(0L)).as("n_leaked_test"))
          .withColumn("leak_bp",
            expr("n_leaked_test * 10000 DIV n_test"))
          .orderBy("strategy")
      },
      Some("""WITH e AS (SELECT user_id, ts FROM events),
             |u AS (
             |  SELECT 'time' AS strategy, user_id,
             |    CAST(sum(CASE WHEN epoch_us(ts) < 1706054400000000
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_train_u,
             |    CAST(sum(CASE WHEN epoch_us(ts) < 1706054400000000
             |      THEN 0 ELSE 1 END) AS BIGINT) AS n_test_u
             |  FROM e GROUP BY 2
             |  UNION ALL
             |  SELECT 'user', user_id,
             |    CAST(sum(CASE WHEN CAST(('0x' ||
             |      substr(md5('split_' || user_id), 1, 8)) AS BIGINT)
             |      % 100 < 80 THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(sum(CASE WHEN CAST(('0x' ||
             |      substr(md5('split_' || user_id), 1, 8)) AS BIGINT)
             |      % 100 < 80 THEN 0 ELSE 1 END) AS BIGINT)
             |  FROM e GROUP BY 2)
             |SELECT strategy,
             |  CAST(sum(n_train_u) AS BIGINT) AS n_train,
             |  CAST(sum(n_test_u) AS BIGINT) AS n_test,
             |  CAST(sum(CASE WHEN n_train_u > 0 AND n_test_u > 0
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap_users,
             |  CAST(sum(CASE WHEN n_train_u > 0 THEN n_test_u
             |    ELSE 0 END) AS BIGINT) AS n_leaked_test,
             |  CAST(sum(CASE WHEN n_train_u > 0 THEN n_test_u
             |    ELSE 0 END) * 10000 // sum(n_test_u) AS BIGINT)
             |    AS leak_bp
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Kolmogorov–Smirnov source drift test -----------------------------
    // Distribution-level drift: for every source, the exact two-sample KS
    // statistic between that source's document-length distribution and
    // the rest of the corpus — the test a mix monitor runs when a
    // provider silently changes extraction (mean-based z-tests miss
    // shape changes; binned chi-square depends on the binning; KS is the
    // sup over the whole ECDF). Everything is exact integer arithmetic:
    // the corpus collapses to per-(source, value) counts in ONE pass
    // (cardinality bounded by sources × length domain, never corpus
    // rows), and the sup runs SPARSE — no dense source × value grid.
    // Between two consecutive jump points of a source's own ECDF, F_s
    // is constant while F_rest is monotone, so on each interval the
    // deviation |F_s − F_rest| peaks at one of the interval's ends:
    // evaluated AT each of the source's own (source, value) rows, and
    // JUST BEFORE each row (cum_s − c against cum_all − gc — the
    // largest global jump below it). That keeps the scored frame at
    // O(|perVal|) with equi-joins only, where the dense-grid form is
    // O(sources × domain) with a cross join — the difference between a
    // per-cell pass and a corpus-independent blowup at 100 TB. D stays
    // the integer numerator d = max|cum_s·n_rest − cum_rest·n_s| over
    // the common denominator n_s·n_rest, so both engines agree
    // bit-for-bit (the oracle keeps the dense-grid spelling — same
    // exact integers by the interval-endpoint argument above). The
    // rejection decision multiplies in DECIMAL(38,0) — d²·10⁶ >
    // c²·(n_s+n_rest)·n_s·n_rest with c²(α=0.05) = 1.844430
    // ppm-scaled — no sqrt, no float. Windows partition by source over
    // that source's own jump rows (bounded frames); the single
    // global-ECDF window runs over the value-domain frame only.
    "q207_ks_source_drift" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents").select("source", "n_chars")
        val perVal = graft.operators.Materialize(
          docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c")))
        val glob = perVal.groupBy("n_chars").agg(sum("c").as("gc"))
        val wAll = Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val globCum = glob
          .withColumn("cum_all", sum("gc").over(wAll))
          .select("n_chars", "gc", "cum_all")
        val perSrc = perVal.groupBy("source").agg(sum("c").as("n_s"))
        val nAll = perVal.agg(sum("c").as("n_all"))
        val wSrc = Window.partitionBy("source").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perVal
          .withColumn("cum_s", sum("c").over(wSrc))
          .join(globCum, Seq("n_chars"))
          .join(broadcast(perSrc), Seq("source"))
          .crossJoin(broadcast(nAll))
          .withColumn("n_rest", col("n_all") - col("n_s"))
          .withColumn("dv_at", abs(
            col("cum_s") * col("n_rest") -
              (col("cum_all") - col("cum_s")) * col("n_s")))
          .withColumn("dv_before", abs(
            (col("cum_s") - col("c")) * col("n_rest") -
              (col("cum_all") - col("gc") - col("cum_s") + col("c")) *
                col("n_s")))
          .withColumn("dv", greatest(col("dv_at"), col("dv_before")))
          .groupBy("source", "n_s", "n_rest")
          .agg(max("dv").as("d_num"))
          .withColumn("d_bp", expr("d_num * 10000 DIV (n_s * n_rest)"))
          .withColumn("reject",
            col("d_num").cast("decimal(38,0)") * col("d_num") *
              lit(1000000L) >
              lit(1844430L).cast("decimal(38,0)") *
                (col("n_s") + col("n_rest")) * col("n_s") * col("n_rest"))
          .select("source", "n_s", "n_rest", "d_num", "d_bp", "reject")
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, n_chars FROM documents),
             |pv AS (SELECT source, n_chars, count(*) AS c
             |       FROM d GROUP BY 1, 2),
             |g AS (SELECT n_chars, CAST(sum(c) AS BIGINT) AS gc
             |      FROM pv GROUP BY 1),
             |ga AS (SELECT n_chars, CAST(sum(gc) OVER (ORDER BY n_chars
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |         AS BIGINT) AS cum_all FROM g),
             |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
             |       FROM d GROUP BY 1),
             |na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM d),
             |grid AS (SELECT ps.source, ps.n_s, g.n_chars
             |         FROM ps CROSS JOIN g),
             |j AS (SELECT grid.source, grid.n_s, grid.n_chars,
             |        COALESCE(pv.c, 0) AS c
             |      FROM grid LEFT JOIN pv
             |        ON pv.source = grid.source
             |       AND pv.n_chars = grid.n_chars),
             |cums AS (SELECT source, n_s, n_chars,
             |        CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) AS cum_s
             |      FROM j),
             |dd AS (SELECT c.source, c.n_s,
             |        (SELECT n_all FROM na) - c.n_s AS n_rest,
             |        abs(c.cum_s * ((SELECT n_all FROM na) - c.n_s)
             |          - (ga.cum_all - c.cum_s) * c.n_s) AS dv
             |      FROM cums c JOIN ga ON c.n_chars = ga.n_chars),
             |mx AS (SELECT source, n_s, n_rest,
             |         CAST(max(dv) AS BIGINT) AS d_num
             |       FROM dd GROUP BY 1, 2, 3)
             |SELECT source, n_s, n_rest, d_num,
             |  CAST(d_num * 10000 // (n_s * n_rest) AS BIGINT) AS d_bp,
             |  CAST(d_num AS HUGEINT) * d_num * 1000000 >
             |    CAST(1844430 AS HUGEINT) * (n_s + n_rest) * n_s * n_rest
             |    AS reject
             |FROM mx ORDER BY source""".stripMargin)),

    // ---- CUSUM changepoint detection --------------------------------------
    // Sustained-shift detection on the daily event volume — the monitor
    // that catches a slow drift a per-day control chart (q154) never
    // flags, because CUSUM accumulates small deviations until they cross
    // a decision threshold. The textbook recursion S_t = max(0, S_{t-1}
    // + dev_t) looks inherently sequential, but it has an exact
    // prefix-scan form: S_t = P_t − min(0, min_{j≤t} P_j) (and the
    // downward side N_t = max(0, max_{j≤t} P_j) − P_t), where P is the
    // running sum of deviations — three window functions over the
    // per-day frame, no recursion, no driver loop. The per-day frame is
    // bounded by the calendar (one row per day whatever the corpus), so
    // the unpartitioned windows are over a domain-sized frame, not the
    // corpus; the corpus itself is touched once by the day groupBy. A
    // deterministic +50% volume shift is injected after the midpoint day
    // so the fixture witnesses a real detection (both alarms fire a few
    // days into their regime, not before); target μ and threshold μ are
    // exact integer derivations of the same data.
    "q210_cusum_changepoint" -> QueryDef(
      (s, dir) => {
        // the per-day frame (calendar-bounded) feeds the span scalar,
        // the μ scalar and the scan chain — cached, the corpus groupBy
        // runs once instead of four times
        val daily = graft.operators.Materialize(table(s, dir, "events")
          .select(expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
          .groupBy("day_idx").agg(count(lit(1)).as("n_raw")))
        val span = daily.agg(min("day_idx").as("d0"), max("day_idx").as("d1"))
        val shifted = daily.crossJoin(broadcast(span))
          .withColumn("n", expr(
            """n_raw + CASE WHEN day_idx >= (d0 + d1) DIV 2
              | THEN n_raw DIV 2 ELSE CAST(0 AS BIGINT) END""".stripMargin))
        val mu = shifted.agg(expr("sum(n) DIV count(1)").as("mu"))
        val w = Window.orderBy("day_idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        shifted.crossJoin(broadcast(mu))
          .withColumn("dev", col("n") - col("mu"))
          .withColumn("p", sum("dev").over(w))
          .withColumn("minp", min("p").over(w))
          .withColumn("maxp", max("p").over(w))
          .withColumn("cusum_pos", expr("p - least(minp, CAST(0 AS BIGINT))"))
          .withColumn("cusum_neg",
            expr("greatest(maxp, CAST(0 AS BIGINT)) - p"))
          .withColumn("alarm_pos", col("cusum_pos") > col("mu"))
          .withColumn("alarm_neg", col("cusum_neg") > col("mu"))
          .select("day_idx", "n_raw", "n", "dev",
            "cusum_pos", "cusum_neg", "alarm_pos", "alarm_neg")
          .orderBy("day_idx")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day_idx
             |           FROM events),
             |daily AS (SELECT day_idx, CAST(count(*) AS BIGINT) AS n_raw
             |          FROM e GROUP BY 1),
             |span AS (SELECT min(day_idx) AS d0, max(day_idx) AS d1
             |         FROM daily),
             |sh AS (SELECT day_idx, n_raw,
             |        CAST(n_raw + CASE WHEN day_idx >= (d0 + d1) // 2
             |          THEN n_raw // 2 ELSE 0 END AS BIGINT) AS n
             |      FROM daily CROSS JOIN span),
             |m AS (SELECT CAST(sum(n) // count(*) AS BIGINT) AS mu FROM sh),
             |pp AS (SELECT day_idx, n_raw, n, mu,
             |        CAST(n - mu AS BIGINT) AS dev,
             |        CAST(sum(n - mu) OVER (ORDER BY day_idx
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) AS p
             |      FROM sh CROSS JOIN m),
             |q AS (SELECT *,
             |        min(p) OVER (ORDER BY day_idx
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS minp,
             |        max(p) OVER (ORDER BY day_idx
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS maxp
             |      FROM pp)
             |SELECT day_idx, n_raw, n, dev,
             |  CAST(p - least(minp, 0) AS BIGINT) AS cusum_pos,
             |  CAST(greatest(maxp, 0) - p AS BIGINT) AS cusum_neg,
             |  p - least(minp, 0) > mu AS alarm_pos,
             |  greatest(maxp, 0) - p > mu AS alarm_neg
             |FROM q ORDER BY day_idx""".stripMargin)),

    // ---- distribution matching via hash rejection sampling ----------------
    // Reshape the corpus's length distribution to a reference profile
    // (here: the `lang = 'en'` sub-corpus — the DSIR target convention)
    // without sorting or global coordination: per 100-char length bucket,
    // the accept rate is the target/actual density ratio normalized so
    // the most-underrepresented bucket keeps everything (the maximal
    // subsample under exact matching), and each document's keep decision
    // is a pure hash threshold — reproducible under reruns, retries, and
    // repartitioning, the q57 rule. The rate table is fixed-cardinality
    // (length-domain buckets) and broadcast; the corpus is touched once
    // to build the histogram and once to decide — no shuffle beyond two
    // bucket groupBys. All rates/shares are exact integer ppm/bp, so the
    // oracle replays every keep decision and the achieved-vs-target
    // shares bit-for-bit.
    "q212_dist_match_sample" -> QueryDef(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            expr("n_chars DIV 100").as("bucket"))
        // the bucket histogram feeds both the max-rate scalar and the
        // rate table — cached so the corpus histogram pass runs once
        val hist = Materialize(docs.groupBy("bucket")
          .agg(count(lit(1)).as("a_b"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_b"))
          .withColumn("r_b", expr("t_b * 1000000 DIV a_b")))
        val rmax = hist.agg(max("r_b").as("r_max"))
        val rates = Materialize(hist.crossJoin(broadcast(rmax))
          .withColumn("accept_ppm", expr("r_b * 1000000 DIV r_max"))
          .select("bucket", "a_b", "t_b", "accept_ppm"))
        val dec = docs
          .join(broadcast(rates.select("bucket", "accept_ppm")),
            Seq("bucket"))
          .withColumn("acc",
            (hash32(concat(lit("dm_"), col("doc_id").cast("string")))
              % 1000000 < col("accept_ppm")).cast("long"))
        // bucket-cardinality frame feeding both the accepted-total scalar
        // and the output join — cached so the corpus decide pass runs once
        val accAgg = Materialize(dec.groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum("acc").as("n_accepted")))
        val tAcc = accAgg.agg(sum("n_accepted").as("n_acc"))
        val tAll = rates.agg(sum("a_b").as("n_all"), sum("t_b").as("n_t"))
        accAgg.join(rates, "bucket")
          .crossJoin(broadcast(tAcc)).crossJoin(broadcast(tAll))
          .withColumn("share_before_bp", expr("n_docs * 10000 DIV n_all"))
          .withColumn("share_after_bp",
            expr("n_accepted * 10000 DIV n_acc"))
          .withColumn("target_share_bp", expr("t_b * 10000 DIV n_t"))
          .select(col("bucket"), col("n_docs"), col("t_b").as("n_target"),
            col("accept_ppm"), col("n_accepted"),
            col("share_before_bp"), col("share_after_bp"),
            col("target_share_bp"))
          .orderBy("bucket")
      },
      Some("""WITH d AS (SELECT doc_id, lang, n_chars // 100 AS bucket
             |           FROM documents),
             |h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS a_b,
             |        CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |          AS BIGINT) AS t_b
             |      FROM d GROUP BY 1),
             |hr AS (SELECT *, t_b * 1000000 // a_b AS r_b FROM h),
             |mx AS (SELECT max(r_b) AS r_max FROM hr),
             |rates AS (SELECT bucket, a_b, t_b,
             |        CAST(r_b * 1000000 // r_max AS BIGINT) AS accept_ppm
             |      FROM hr CROSS JOIN mx),
             |dec AS (SELECT d.bucket,
             |        CASE WHEN CAST(('0x' || substr(md5('dm_' || doc_id),
             |          1, 8)) AS BIGINT) % 1000000 < r.accept_ppm
             |          THEN 1 ELSE 0 END AS acc
             |      FROM d JOIN rates r ON d.bucket = r.bucket),
             |agg AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
             |        CAST(sum(acc) AS BIGINT) AS n_accepted
             |      FROM dec GROUP BY 1),
             |t1 AS (SELECT CAST(sum(n_accepted) AS BIGINT) AS n_acc
             |       FROM agg),
             |t2 AS (SELECT CAST(sum(a_b) AS BIGINT) AS n_all,
             |         CAST(sum(t_b) AS BIGINT) AS n_t FROM rates)
             |SELECT a.bucket, a.n_docs, r.t_b AS n_target, r.accept_ppm,
             |  a.n_accepted,
             |  CAST(a.n_docs * 10000 // n_all AS BIGINT) AS share_before_bp,
             |  CAST(a.n_accepted * 10000 // n_acc AS BIGINT)
             |    AS share_after_bp,
             |  CAST(r.t_b * 10000 // n_t AS BIGINT) AS target_share_bp
             |FROM agg a JOIN rates r ON a.bucket = r.bucket
             |CROSS JOIN t1 CROSS JOIN t2
             |ORDER BY a.bucket""".stripMargin)),

    // ---- seasonal-trend decomposition -------------------------------------
    // Classical additive decomposition of the daily event volume —
    // n = trend + seasonal + remainder — the de-seasonalized view every
    // volume monitor (q154 p-chart, q210 CUSUM) should really run on,
    // since a weekly rhythm inflates both control limits and CUSUM
    // drift. Trend is the centered 7-day moving average over a RANGE
    // frame (a missing calendar day leaves a hole, not a shifted
    // window), defined only where all 7 days exist, so edges and gaps
    // are honestly null rather than biased. Seasonal is the per-
    // day-of-week mean of the detrended series over exactly the
    // trend-defined rows. Every step is integer DIV — truncation
    // semantics agree between the engines even on negative detrends
    // (both truncate toward zero) — so the oracle replays the
    // decomposition bit-for-bit. Scale: the corpus is touched ONCE by
    // the day groupBy; everything after runs on the per-day frame,
    // bounded by the calendar whatever the corpus (the q210 posture),
    // and the dow profile is a 7-row broadcast.
    "q216_seasonal_decompose" -> QueryDef(
      (s, dir) => {
        val daily = table(s, dir, "events")
          .select(expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
          .groupBy("day_idx").agg(count(lit(1)).as("n"))
        val w7 = Window.orderBy("day_idx").rangeBetween(-3, 3)
        val tr = daily
          .withColumn("cnt7", count(lit(1)).over(w7))
          .withColumn("sum7", sum("n").over(w7))
          .withColumn("trend",
            when(col("cnt7") === 7, expr("sum7 DIV 7")))
          .withColumn("dow", expr("day_idx % 7"))
          .withColumn("detrend", col("n") - col("trend"))
        val seas = tr.filter(col("trend").isNotNull)
          .groupBy("dow")
          .agg(expr("sum(detrend) DIV count(1)").as("seasonal"))
        tr.join(broadcast(seas), Seq("dow"), "left")
          .withColumn("seasonal",
            when(col("trend").isNotNull, col("seasonal")))
          .withColumn("remainder",
            col("n") - col("trend") - col("seasonal"))
          .select("day_idx", "dow", "n", "trend", "seasonal", "remainder")
          .orderBy("day_idx")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day_idx
             |           FROM events),
             |daily AS (SELECT day_idx, CAST(count(*) AS BIGINT) AS n
             |          FROM e GROUP BY 1),
             |tr AS (SELECT day_idx, n,
             |        count(*) OVER w AS cnt7,
             |        CAST(sum(n) OVER w AS BIGINT) AS sum7
             |      FROM daily WINDOW w AS (ORDER BY day_idx
             |        RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |t2 AS (SELECT day_idx, day_idx % 7 AS dow, n,
             |        CASE WHEN cnt7 = 7
             |          THEN CAST(sum7 // 7 AS BIGINT) END AS trend
             |      FROM tr),
             |t3 AS (SELECT *, n - trend AS detrend FROM t2),
             |seas AS (SELECT dow,
             |          CAST(sum(detrend) // count(*) AS BIGINT) AS seasonal
             |        FROM t3 WHERE trend IS NOT NULL GROUP BY 1)
             |SELECT t3.day_idx, t3.dow, t3.n, t3.trend,
             |  CASE WHEN t3.trend IS NOT NULL THEN s.seasonal END
             |    AS seasonal,
             |  CAST(t3.n - t3.trend - s.seasonal AS BIGINT) AS remainder
             |FROM t3 LEFT JOIN seas s USING (dow)
             |ORDER BY day_idx""".stripMargin)),

    // ---- context-length truncation sweep ----------------------------------
    // The OTHER dataloader loss channel: q198 measures pad slots wasted
    // on short documents, q183 measures packed-chunk breakage — this
    // measures the tail tokens a fixed context window DISCARDS from long
    // documents, per source, swept over three candidate lengths in one
    // pass. The decision it feeds: pick the context length (or the
    // long-doc chunking policy) by looking at where each source's loss
    // curve bends. Shape: ONE narrow token-count projection over the
    // corpus, a map-side ×3 explode of the candidate lengths (no
    // broadcast, no second scan), one groupBy on (ctx_len, source) —
    // linear whatever the corpus, output 3×sources rows. Integer bp
    // throughout.
    "q218_truncation_waste_audit" -> QueryDef(
      (s, dir) => {
        graft.Tables.tableParallel(s, dir, "documents")
          .select(col("source"),
            size(split(lower(trim(col("text"))), "\\s+"))
              .cast("long").as("n_tok"))
          .withColumn("ctx_len",
            explode(array(lit(32L), lit(64L), lit(96L))))
          .groupBy("ctx_len", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_tok") > col("ctx_len"), 1L).otherwise(0L))
              .as("n_truncated"),
            sum("n_tok").as("tokens_total"),
            sum(greatest(col("n_tok") - col("ctx_len"), lit(0L)))
              .as("tokens_lost"))
          .withColumn("lost_bp",
            expr("tokens_lost * 10000 DIV tokens_total"))
          .orderBy("ctx_len", "source")
      },
      Some("""WITH d AS (SELECT source,
             |    CAST(len(regexp_split_to_array(lower(trim(text)),
             |      '\s+')) AS BIGINT) AS n_tok
             |  FROM documents),
             |x AS (SELECT CAST(t.ctx_len AS BIGINT) AS ctx_len, d.source,
             |        d.n_tok
             |      FROM d CROSS JOIN (VALUES (32), (64), (96))
             |        t(ctx_len))
             |SELECT ctx_len, source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN n_tok > ctx_len THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_truncated,
             |  CAST(sum(n_tok) AS BIGINT) AS tokens_total,
             |  CAST(sum(greatest(n_tok - ctx_len, 0)) AS BIGINT)
             |    AS tokens_lost,
             |  CAST(sum(greatest(n_tok - ctx_len, 0)) * 10000
             |    // sum(n_tok) AS BIGINT) AS lost_bp
             |FROM x GROUP BY 1, 2 ORDER BY ctx_len, source""".stripMargin)),

    // ---- Theil–Sen robust trend vs OLS ------------------------------------
    // The robust daily-volume trend: the median of all pairwise slopes
    // (Theil–Sen) shrugs off the very spike days that drag the OLS line
    // — demonstrated in-fixture by injecting a deterministic 5× spike on
    // the LAST five days (trailing contamination has maximal leverage on
    // OLS — a periodic spike pattern would be symmetric and cancel) and
    // reporting BOTH estimators from the same frame; the spec pins that
    // the robust estimator's contamination response is a fraction of
    // OLS's at every scale.
    // Everything is exact integer: slopes in milli-units under
    // truncating DIV (identical in both engines, negatives included),
    // the median as the mean of the two middle order statistics
    // (row_number over the slope order — duplicate slope VALUES make
    // position ties harmless), the OLS slope as the closed-form integer
    // ratio, and the intercept as the median residual at the robust
    // slope. Scale posture: the corpus collapses to the per-day frame in
    // ONE pass; the pairwise slope set is calendar² — bounded by the day
    // DOMAIN like q210's windows, never by corpus rows — and x is
    // re-based to day offsets so no product leaves the long range.
    "q220_theilsen_trend" -> QueryDef(
      (s, dir) => {
        val daily0 = table(s, dir, "events")
          .select(expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
          .groupBy("day_idx").agg(count(lit(1)).as("n_raw"))
        val d0 = daily0.agg(min("day_idx").as("d0"),
          max("day_idx").as("d1"))
        val daily = Materialize(daily0.crossJoin(broadcast(d0))
          .select((col("day_idx") - col("d0")).as("x"),
            expr("""CASE WHEN day_idx > d1 - 5 THEN n_raw * 5
                   | ELSE n_raw END""".stripMargin).as("y")))
        val m = daily.agg(count(lit(1)).as("n_days"))
        // LAZY lineage cuts (round-13): slopes and resid are each
        // consumed twice (median window path + count broadcast) — uncut,
        // the calendar² pairwise-slope join executed twice per query
        val slopes = Materialize.lazyCheckpointed(
          daily.as("a").join(daily.as("b"),
              col("a.x") < col("b.x"))
            .select(expr("(b.y - a.y) * 1000 DIV (b.x - a.x)").as("sl")))
        val wS = Window.orderBy("sl")
        val ts = slopes
          .withColumn("rn", row_number().over(wS))
          .crossJoin(broadcast(slopes.agg(count(lit(1)).as("n_pairs"))))
          .filter(col("rn") === expr("(n_pairs + 1) DIV 2") ||
            col("rn") === expr("n_pairs DIV 2 + 1"))
          .agg(expr("sum(sl) DIV count(1)").as("ts_slope_milli"),
            max("n_pairs").as("n_pairs"))
        val ols = daily.agg(
          expr("""(count(1) * sum(x * y) - sum(x) * sum(y)) * 1000
                 | DIV (count(1) * sum(x * x) - sum(x) * sum(x))"""
            .stripMargin).as("ols_slope_milli"))
        val resid = Materialize.lazyCheckpointed(
          daily.crossJoin(broadcast(ts))
            .select(expr("y * 1000 - ts_slope_milli * x").as("r")))
        val wR = Window.orderBy("r")
        val icpt = resid
          .withColumn("rn", row_number().over(wR))
          .crossJoin(broadcast(resid.agg(count(lit(1)).as("nd"))))
          .filter(col("rn") === expr("(nd + 1) DIV 2") ||
            col("rn") === expr("nd DIV 2 + 1"))
          .agg(expr("sum(r) DIV count(1)").as("ts_intercept_milli"))
        m.crossJoin(broadcast(ts)).crossJoin(broadcast(ols))
          .crossJoin(broadcast(icpt))
          .select("n_days", "n_pairs", "ts_slope_milli",
            "ols_slope_milli", "ts_intercept_milli")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day_idx
             |           FROM events),
             |d0 AS (SELECT day_idx, CAST(count(*) AS BIGINT) AS n_raw
             |       FROM e GROUP BY 1),
             |mn AS (SELECT min(day_idx) AS dmin, max(day_idx) AS dmax
             |       FROM d0),
             |daily AS (SELECT CAST(day_idx - dmin AS BIGINT) AS x,
             |        CAST(CASE WHEN day_idx > dmax - 5 THEN n_raw * 5
             |          ELSE n_raw END AS BIGINT) AS y
             |      FROM d0 CROSS JOIN mn),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
             |sl AS (SELECT CAST((b.y - a.y) * 1000 // (b.x - a.x)
             |          AS BIGINT) AS sl
             |       FROM daily a JOIN daily b ON a.x < b.x),
             |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM sl),
             |sr AS (SELECT sl, row_number() OVER (ORDER BY sl) AS rn
             |       FROM sl),
             |ts AS (SELECT CAST(sum(sl) // count(*) AS BIGINT)
             |         AS ts_slope_milli
             |       FROM sr CROSS JOIN np
             |       WHERE rn = (n_pairs + 1) // 2
             |          OR rn = n_pairs // 2 + 1),
             |ols AS (SELECT CAST((count(*) * sum(x * y) - sum(x) * sum(y))
             |          * 1000 // (count(*) * sum(x * x) - sum(x) * sum(x))
             |          AS BIGINT) AS ols_slope_milli
             |        FROM daily),
             |res AS (SELECT y * 1000 - ts_slope_milli * x AS r
             |        FROM daily CROSS JOIN ts),
             |rr AS (SELECT r, row_number() OVER (ORDER BY r) AS rn
             |       FROM res),
             |icpt AS (SELECT CAST(sum(r) // count(*) AS BIGINT)
             |           AS ts_intercept_milli
             |         FROM rr CROSS JOIN m
             |         WHERE rn = (n_days + 1) // 2
             |            OR rn = n_days // 2 + 1)
             |SELECT n_days, n_pairs, ts_slope_milli, ols_slope_milli,
             |  ts_intercept_milli
             |FROM m CROSS JOIN np CROSS JOIN ts CROSS JOIN ols
             |CROSS JOIN icpt""".stripMargin)),

    // ---- incremental aggregate maintenance (IVM) --------------------------
    // The view-maintenance identity that makes dashboard aggregates
    // affordable at 100 TB: maintain a per-group (count, Σcents) view
    // from the old aggregate plus the CDC DELTA ONLY — never rescanning
    // the new snapshot — and audit it against a full recompute in the
    // same frame. The delta carries before/after images (the Debezium
    // convention; SnapshotDiff's sparse delta lacks before-images
    // exactly because applyDelta doesn't need them — IVM does, since a
    // changed row may MOVE GROUPS): each delta row contributes −1/−cents
    // under its before-group and +1/+cents under its after-group, one
    // map-side ×2 explode. The fixture exercises every path: every 3rd
    // key absent from old (adds), every 11th absent from cur (removes),
    // every 5th price-shifted in old (in-group change), every 7th
    // status-flipped to 'X' in cur (cross-group move creating a NEW
    // group). Cost shape: one aggregate over the OLD view inputs (in
    // production: already materialized), one over the delta (change-
    // sized), one group-cardinality merge join; the recompute is the
    // audit, not the path. Exact cents integers; `ivm_matches` is
    // oracled AND spec-pinned all-true.
    "q221_incremental_agg_maintenance" -> QueryDef(
      (s, dir) => {
        val base = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"))
        // each synthetic snapshot feeds its own aggregate AND the diff —
        // cached so the orders scan runs once per snapshot (in production
        // these ARE two materialized snapshot tables)
        val old = Materialize(base.filter(col("o_orderkey") % 3 =!= 0)
          .withColumn("cents",
            when(col("o_orderkey") % 5 === 0, col("cents") + 100L)
              .otherwise(col("cents"))))
        val cur = Materialize(base.filter(col("o_orderkey") % 11 =!= 0)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 7 === 0, lit("X"))
              .otherwise(col("o_orderstatus"))))
        val aggOld = old.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_old"), sum("cents").as("cents_old"))
        // before/after delta rows (changed keys only)
        val d = old.select(col("o_orderkey"),
            col("o_orderstatus").as("bs"), col("cents").as("bc"))
          .join(cur.select(col("o_orderkey"),
            col("o_orderstatus").as("as_"), col("cents").as("ac")),
            Seq("o_orderkey"), "full_outer")
          .filter(!(col("bs") <=> col("as_") && col("bc") <=> col("ac")))
        val contrib = d.select(explode(array(
            struct(col("bs").as("g"), lit(-1L).as("dn"),
              (-col("bc")).as("dc")),
            struct(col("as_").as("g"), lit(1L).as("dn"),
              col("ac").as("dc")))).as("x"))
          .select("x.*").filter(col("g").isNotNull)
        val dAgg = contrib.groupBy("g")
          .agg(sum("dn").as("dn"), sum("dc").as("dc"))
        val ivm = aggOld.join(dAgg,
            aggOld("o_orderstatus") === dAgg("g"), "full_outer")
          .select(
            coalesce(col("o_orderstatus"), col("g")).as("o_orderstatus"),
            coalesce(col("n_old"), lit(0L)).as("n_old"),
            coalesce(col("dn"), lit(0L)).as("dn"),
            (coalesce(col("n_old"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_ivm"),
            (coalesce(col("cents_old"), lit(0L)) +
              coalesce(col("dc"), lit(0L))).as("cents_ivm"))
        val rec = cur.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rec"), sum("cents").as("cents_rec"))
        ivm.join(rec, Seq("o_orderstatus"), "full_outer")
          .select(col("o_orderstatus"), col("n_old"), col("dn"),
            coalesce(col("n_ivm"), lit(0L)).as("n_ivm"),
            coalesce(col("n_rec"), lit(0L)).as("n_rec"),
            coalesce(col("cents_ivm"), lit(0L)).as("cents_ivm"),
            coalesce(col("cents_rec"), lit(0L)).as("cents_rec"))
          .withColumn("ivm_matches",
            col("n_ivm") === col("n_rec") &&
              col("cents_ivm") === col("cents_rec"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_orderstatus,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |old AS (SELECT o_orderkey, o_orderstatus,
             |    CASE WHEN o_orderkey % 5 = 0 THEN cents + 100
             |         ELSE cents END AS cents
             |  FROM base WHERE o_orderkey % 3 <> 0),
             |cur AS (SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 7 = 0 THEN 'X'
             |         ELSE o_orderstatus END AS o_orderstatus, cents
             |  FROM base WHERE o_orderkey % 11 <> 0),
             |agg_old AS (SELECT o_orderstatus,
             |    CAST(count(*) AS BIGINT) AS n_old,
             |    CAST(sum(cents) AS BIGINT) AS cents_old
             |  FROM old GROUP BY 1),
             |d AS (SELECT o.o_orderstatus AS bs, o.cents AS bc,
             |        c.o_orderstatus AS as_, c.cents AS ac
             |      FROM old o FULL OUTER JOIN cur c
             |        ON o.o_orderkey = c.o_orderkey
             |      WHERE NOT (o.o_orderstatus IS NOT DISTINCT FROM
             |          c.o_orderstatus
             |        AND o.cents IS NOT DISTINCT FROM c.cents)),
             |contrib AS (
             |  SELECT bs AS g, -1 AS dn, -bc AS dc FROM d
             |    WHERE bs IS NOT NULL
             |  UNION ALL
             |  SELECT as_, 1, ac FROM d WHERE as_ IS NOT NULL),
             |d_agg AS (SELECT g, CAST(sum(dn) AS BIGINT) AS dn,
             |    CAST(sum(dc) AS BIGINT) AS dc
             |  FROM contrib GROUP BY 1),
             |ivm AS (SELECT COALESCE(o_orderstatus, g) AS o_orderstatus,
             |    COALESCE(n_old, 0) AS n_old, COALESCE(dn, 0) AS dn,
             |    COALESCE(n_old, 0) + COALESCE(dn, 0) AS n_ivm,
             |    COALESCE(cents_old, 0) + COALESCE(dc, 0) AS cents_ivm
             |  FROM agg_old FULL OUTER JOIN d_agg
             |    ON agg_old.o_orderstatus = d_agg.g),
             |rec AS (SELECT o_orderstatus,
             |    CAST(count(*) AS BIGINT) AS n_rec,
             |    CAST(sum(cents) AS BIGINT) AS cents_rec
             |  FROM cur GROUP BY 1)
             |SELECT COALESCE(i.o_orderstatus, r.o_orderstatus)
             |    AS o_orderstatus,
             |  i.n_old, i.dn,
             |  CAST(COALESCE(i.n_ivm, 0) AS BIGINT) AS n_ivm,
             |  CAST(COALESCE(r.n_rec, 0) AS BIGINT) AS n_rec,
             |  CAST(COALESCE(i.cents_ivm, 0) AS BIGINT) AS cents_ivm,
             |  CAST(COALESCE(r.cents_rec, 0) AS BIGINT) AS cents_rec,
             |  COALESCE(i.n_ivm, 0) = COALESCE(r.n_rec, 0)
             |    AND COALESCE(i.cents_ivm, 0) = COALESCE(r.cents_rec, 0)
             |    AS ivm_matches
             |FROM ivm i FULL OUTER JOIN rec r
             |  ON i.o_orderstatus = r.o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // ---- Benford first-digit audit ----------------------------------------
    // The forensic data-quality screen: the leading-digit distribution
    // of a naturally-occurring numeric column against Benford's law
    // (P(d) = log10(1 + 1/d)). Heavy deviation flags fabricated,
    // truncated, or unit-capped values — here the audit itself is the
    // operator, and the synthetic fixture's uniform-ish prices SHOULD
    // deviate hard (a near-zero deviation on this data would mean the
    // audit measures nothing; the spec pins a large L1 gap and replays
    // the shares). Expected shares are integer-ppm literals on both
    // sides, the observed shares exact integer ppm of one linear groupBy
    // over the leading digit (a 9-bucket key — no skew possible), so the
    // whole audit is one aggregation pass whatever the corpus.
    "q222_benford_digit_audit" -> QueryDef(
      (s, dir) => {
        val benford = "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 " +
          "WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181 " +
          "WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153 " +
          "ELSE 45757 END"
        val d = table(s, dir, "orders")
          .select(substring(floor(col("o_totalprice") * 100)
            .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_d"))
        val tot = d.agg(sum("n_d").as("n"))
        d.crossJoin(broadcast(tot))
          .withColumn("share_ppm", expr("n_d * 1000000 DIV n"))
          .withColumn("benford_ppm", expr(benford).cast("long"))
          .withColumn("dev_ppm", expr("share_ppm - benford_ppm"))
          .select("digit", "n_d", "share_ppm", "benford_ppm", "dev_ppm")
          .orderBy("digit")
      },
      Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(
             |      o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
             |      AS BIGINT) AS digit
             |    FROM orders),
             |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_d
             |      FROM d GROUP BY 1),
             |t AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM c)
             |SELECT digit, n_d,
             |  CAST(n_d * 1000000 // n AS BIGINT) AS share_ppm,
             |  CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
             |    WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
             |    WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
             |    ELSE 45757 END AS BIGINT) AS benford_ppm,
             |  CAST(n_d * 1000000 // n - CASE digit WHEN 1 THEN 301030
             |    WHEN 2 THEN 176091 WHEN 3 THEN 124939 WHEN 4 THEN 96910
             |    WHEN 5 THEN 79181 WHEN 6 THEN 66947 WHEN 7 THEN 57992
             |    WHEN 8 THEN 51153 ELSE 45757 END AS BIGINT) AS dev_ppm
             |FROM c CROSS JOIN t ORDER BY digit""".stripMargin)),

    // ---- Markov next-event model: held-out accuracy -----------------------
    // The train/eval composition over q138's transition machinery: fit
    // the first-order model (per state, the argmax next state with a
    // total tie-break) on transitions BEFORE the q201 epoch split, score
    // top-1 accuracy on transitions strictly after it. Pairs straddling
    // the boundary belong to NEITHER split (prev < T ≤ cur) — the same
    // leakage discipline q201 audits: a pair whose context was observed
    // in training must not count as held-out. One lag window per user
    // (the per-user frame, q138's shape), one bounded-domain count table
    // (states × states), a broadcast model join — the eval pass is
    // linear and the model is dimension-sized at any corpus. All exact
    // integers, accuracy in bp.
    "q224_markov_heldout_accuracy" -> QueryDef(
      (s, dir) => {
        val T = 1706054400000000L
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val pairs = Materialize(table(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("us"), col("event_type").as("b"))
          .withColumn("a", lag("b", 1).over(w))
          .withColumn("prev_us", lag("us", 1).over(w))
          .filter(col("a").isNotNull)
          .select("a", "b", "us", "prev_us"))
        val trainCnt = pairs.filter(col("us") < T)
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
        val wm = Window.partitionBy("a").orderBy(desc("c"), asc("b"))
        val model = trainCnt
          .withColumn("rn", row_number().over(wm))
          .filter(col("rn") === 1)
          .join(broadcast(trainCnt.groupBy("a")
            .agg(sum("c").as("n_train_pairs"))), Seq("a"))
          .select(col("a"), col("b").as("predicted"), col("n_train_pairs"))
        pairs.filter(col("prev_us") >= T)
          .join(broadcast(model), Seq("a"), "left")
          .groupBy(col("a").as("state"), col("predicted"),
            col("n_train_pairs"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("b") === col("predicted"), 1L).otherwise(0L))
              .as("n_correct"))
          .withColumn("acc_bp", expr("n_correct * 10000 DIV n_test"))
          .orderBy("state")
      },
      Some("""WITH ev AS (SELECT user_id, event_id,
             |    epoch_us(ts) AS us, event_type AS b,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS a,
             |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS prev_us
             |  FROM events),
             |pairs AS (SELECT a, b, us, prev_us FROM ev
             |          WHERE a IS NOT NULL),
             |tc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
             |       FROM pairs WHERE us < 1706054400000000
             |       GROUP BY 1, 2),
             |tt AS (SELECT a, CAST(sum(c) AS BIGINT) AS n_train_pairs
             |       FROM tc GROUP BY 1),
             |model AS (SELECT tc.a, tc.b AS predicted, tt.n_train_pairs
             |          FROM (SELECT a, b, row_number() OVER (PARTITION
             |              BY a ORDER BY c DESC, b ASC) AS rn FROM tc) tc
             |          JOIN tt ON tc.a = tt.a WHERE tc.rn = 1)
             |SELECT p.a AS state, m.predicted, m.n_train_pairs,
             |  count(*) AS n_test,
             |  CAST(sum(CASE WHEN p.b = m.predicted THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_correct,
             |  CAST(sum(CASE WHEN p.b = m.predicted THEN 1 ELSE 0 END)
             |    * 10000 // count(*) AS BIGINT) AS acc_bp
             |FROM pairs p LEFT JOIN model m ON p.a = m.a
             |WHERE p.prev_us >= 1706054400000000
             |GROUP BY 1, 2, 3 ORDER BY state""".stripMargin)),

    // ---- PPS sampling with largest-remainder apportionment ----------------
    // Probability-proportional-to-size eval-set construction: a fixed
    // document budget apportioned across sources by CHARACTER MASS (the
    // resource a context window actually spends), not headcount — the
    // q57 reproducibility rule (hash-ranked draws, never rand()) applied
    // to a stratified design. Apportionment is Hamilton's largest-
    // remainder method in exact integers: floor quotas n·mass_h DIV T,
    // then the leftover seats go to the largest remainders under a total
    // (remainder desc, source) order — Σ n_alloc = n exactly, every
    // |n_alloc − quota| < 1, both spec-pinned. The within-stratum draw is
    // rank-by-md5 ≤ n_alloc: deterministic, repartition-stable, and the
    // oracle replays the exact drawn set (drawn_id_sum hashes it). Scale:
    // one corpus pass builds the strata frame (sources-sized); the
    // apportionment windows run on THAT bounded frame, never the corpus;
    // the draw is one per-source rank window (the loader's own per-shard
    // sort) against a broadcast allocation. achieved_bp vs target_bp is
    // the audit: PPS puts the sample's mass share where the corpus's
    // mass share is.
    "q227_pps_sample_apportion" -> QueryDef(
      (s, dir) => {
        val n = 60L
        val docs = Materialize(table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            hash32(concat(lit("pps_"), col("doc_id"))).as("h")))
        val strata = docs.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("mass"))
        val tot = strata.agg(sum("mass").as("t_mass"))
        val quotas = Materialize(strata.crossJoin(broadcast(tot))
          .withColumn("floor_h", expr(s"$n * mass DIV t_mass"))
          .withColumn("rem", expr(s"($n * mass) % t_mass")))
        val fsum = quotas.agg(sum("floor_h").as("fsum"))
        val alloc = Materialize(quotas.crossJoin(broadcast(fsum))
          .withColumn("rk", row_number().over(
            Window.orderBy(desc("rem"), asc("source"))))
          .withColumn("n_alloc", col("floor_h") +
            when(col("rk") <= lit(n) - col("fsum"), 1L).otherwise(0L)))
        val drawn = docs
          .withColumn("rn", row_number().over(
            Window.partitionBy("source").orderBy(asc("h"), asc("doc_id"))))
          .join(broadcast(alloc.select("source", "n_alloc")), Seq("source"))
          .filter(col("rn") <= col("n_alloc"))
        val dAgg = drawn.groupBy("source")
          .agg(count(lit(1)).as("n_drawn"),
            sum("n_chars").as("drawn_mass"),
            sum("doc_id").as("drawn_id_sum"))
        val dTot = dAgg.agg(sum("drawn_mass").as("td"))
        alloc.join(dAgg, Seq("source"), "left")
          .crossJoin(broadcast(dTot))
          .select(col("source"), col("n_docs"), col("mass"),
            expr("mass * 10000 DIV t_mass").as("target_bp"),
            col("floor_h"), col("n_alloc"),
            coalesce(col("n_drawn"), lit(0L)).as("n_drawn"),
            coalesce(col("drawn_mass"), lit(0L)).as("drawn_mass"),
            expr("coalesce(drawn_mass, CAST(0 AS BIGINT)) * 10000 DIV td")
              .as("achieved_bp"),
            coalesce(col("drawn_id_sum"), lit(0L)).as("drawn_id_sum"))
          .orderBy("source")
      },
      Some("""WITH dd AS (SELECT doc_id, source, n_chars,
             |    CAST(('0x' || substr(md5('pps_' || doc_id), 1, 8))
             |      AS BIGINT) AS h
             |  FROM documents),
             |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(n_chars) AS BIGINT) AS mass FROM dd GROUP BY 1),
             |t AS (SELECT CAST(sum(mass) AS BIGINT) AS t_mass FROM st),
             |q AS (SELECT st.*, t_mass,
             |    CAST(60 * mass // t_mass AS BIGINT) AS floor_h,
             |    CAST((60 * mass) % t_mass AS BIGINT) AS rem
             |  FROM st CROSS JOIN t),
             |f AS (SELECT CAST(sum(floor_h) AS BIGINT) AS fsum FROM q),
             |al AS (SELECT q.*, floor_h + CASE WHEN
             |      row_number() OVER (ORDER BY rem DESC, source)
             |        <= 60 - fsum THEN 1 ELSE 0 END AS n_alloc
             |  FROM q CROSS JOIN f),
             |rk AS (SELECT dd.*, row_number() OVER
             |      (PARTITION BY source ORDER BY h, doc_id) AS rn
             |  FROM dd),
             |dr AS (SELECT rk.* FROM rk JOIN al ON rk.source = al.source
             |  WHERE rk.rn <= al.n_alloc),
             |da AS (SELECT source, CAST(count(*) AS BIGINT) AS n_drawn,
             |    CAST(sum(n_chars) AS BIGINT) AS drawn_mass,
             |    CAST(sum(doc_id) AS BIGINT) AS drawn_id_sum
             |  FROM dr GROUP BY 1),
             |dt AS (SELECT CAST(sum(drawn_mass) AS BIGINT) AS td FROM da)
             |SELECT al.source, al.n_docs, al.mass,
             |  CAST(al.mass * 10000 // al.t_mass AS BIGINT) AS target_bp,
             |  al.floor_h, CAST(al.n_alloc AS BIGINT) AS n_alloc,
             |  COALESCE(da.n_drawn, 0) AS n_drawn,
             |  COALESCE(da.drawn_mass, 0) AS drawn_mass,
             |  CAST(COALESCE(da.drawn_mass, 0) * 10000 // td AS BIGINT)
             |    AS achieved_bp,
             |  COALESCE(da.drawn_id_sum, 0) AS drawn_id_sum
             |FROM al LEFT JOIN da ON al.source = da.source
             |CROSS JOIN dt
             |ORDER BY al.source""".stripMargin)),

    // ---- histogram-based split finding (GBDT-style) -----------------------
    // The distributed tree-learning primitive (XGBoost/LightGBM
    // histogram method): per feature dimension, bin the milli-quantized
    // values into 16 equi-width bins, accumulate (count, label-sum) per
    // bin in ONE linear pass with map-side combine, then search the
    // 64×16 histogram frame — never the raw rows — for the split
    // maximizing the SSE-reduction surrogate S_l²/n_l + S_r²/n_r. The
    // gain is evaluated in scaled integer form (·10⁶, truncating DIV —
    // both engines replay it bit-for-bit; int64-safe to N ≈ 2·10⁵
    // vectors at label ≤ 9, i.e. past sf1) and the argmax uses the
    // encode trick gain·16 + (15 − bin) so ties break to the SMALLEST
    // split bin with no second join. At 100 TB: histogram build is the
    // only corpus-scale stage; the split search runs on a
    // dimensions×bins frame regardless of data size.
    "q251_histogram_split_finding" -> QueryDef(
      (s, dir) => {
        val comps = tableParallel(s, dir, "embeddings")
          .select(col("label").cast("long").as("y"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .withColumn("bin",
            expr("(CAST(floor(x * 1000) AS BIGINT) + 1000) DIV 125"))
        val hist = comps.groupBy("i", "bin")
          .agg(count(lit(1)).as("n_b"), sum("y").as("s_b"))
        val wCum = Window.partitionBy("i").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy("i")
        val g = hist
          .withColumn("n_l", sum("n_b").over(wCum))
          .withColumn("s_l", sum("s_b").over(wCum))
          .withColumn("n", sum("n_b").over(wTot))
          .withColumn("s", sum("s_b").over(wTot))
          .filter(col("n_l") > 0 && col("n_l") < col("n"))
          .withColumn("gain_milli", expr(
            """(s_l * s_l * 1000000) DIV n_l +
              |((s - s_l) * (s - s_l) * 1000000) DIV (n - n_l)"""
              .stripMargin))
          .withColumn("enc", expr("gain_milli * 16 + (15 - bin)"))
        g.groupBy("i")
          .agg(max("enc").as("enc"),
            max(expr("(s * s * 1000000) DIV n")).as("base_milli"))
          .select(col("i").cast("long").as("i"),
            expr("15 - enc % 16").as("best_bin"),
            expr("enc DIV 16").as("gain_milli"), col("base_milli"))
          .orderBy("i")
      },
      Some("""WITH e AS (SELECT CAST(label AS BIGINT) AS y,
             |    embedding::DOUBLE[] AS v FROM embeddings),
             |comps AS (SELECT y, i,
             |    (CAST(floor(v[i + 1] * 1000) AS BIGINT) + 1000) // 125
             |      AS bin
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) idx),
             |hist AS (SELECT i, bin, CAST(count(*) AS BIGINT) AS n_b,
             |    CAST(sum(y) AS BIGINT) AS s_b
             |  FROM comps GROUP BY 1, 2),
             |g AS (SELECT i, bin,
             |    sum(n_b) OVER (PARTITION BY i ORDER BY bin) AS n_l,
             |    sum(s_b) OVER (PARTITION BY i ORDER BY bin) AS s_l,
             |    sum(n_b) OVER (PARTITION BY i) AS n,
             |    sum(s_b) OVER (PARTITION BY i) AS s
             |  FROM hist),
             |sc AS (SELECT i, bin, n, s,
             |    (s_l * s_l * 1000000) // n_l +
             |      ((s - s_l) * (s - s_l) * 1000000) // (n - n_l)
             |      AS gain_milli
             |  FROM g WHERE n_l > 0 AND n_l < n),
             |bst AS (SELECT i,
             |    max(gain_milli * 16 + (15 - bin)) AS enc,
             |    max((s * s * 1000000) // n) AS base_milli
             |  FROM sc GROUP BY 1)
             |SELECT CAST(i AS BIGINT) AS i,
             |  CAST(15 - enc % 16 AS BIGINT) AS best_bin,
             |  CAST(enc // 16 AS BIGINT) AS gain_milli,
             |  CAST(base_milli AS BIGINT) AS base_milli
             |FROM bst ORDER BY i""".stripMargin)),

    // ---- out-of-fold target encoding --------------------------------------
    // The leakage-free categorical encoder feature pipelines need: each
    // row's category is replaced by the target mean computed WITHOUT the
    // row's own fold — oof(cat, f) = (S_cat − S_{cat,f}) / (n_cat −
    // n_{cat,f}) — so a high-cardinality category cannot leak its own
    // label into its feature (the q201/q224 leakage discipline applied
    // to feature engineering). Folds are md5-hash-assigned (reproducible
    // under repartitioning, like every sampler in this file); all means
    // are exact-cents truncating divisions on non-negative sums; the
    // full-data mean ships alongside so the oracle hash-pins the
    // leakage gap itself. One groupBy over the fact table; everything
    // after runs on the categories×folds frame.
    "q252_oof_target_encoding" -> QueryDef(
      (s, dir) => {
        val rows = table(s, dir, "orders")
          .select(col("o_orderpriority").as("cat"),
            (hash32(concat(lit("fold_"),
              col("o_orderkey").cast("string"))) % 5).as("fold"),
            floor(col("o_totalprice") * 100).cast("long").as("cents"))
        val pf = rows.groupBy("cat", "fold")
          .agg(count(lit(1)).as("n_f"), sum("cents").as("s_f"))
        val pc = pf.groupBy("cat")
          .agg(sum("n_f").as("n_tot"), sum("s_f").as("s_tot"))
        pf.join(pc, "cat")
          .withColumn("oof_cents", expr(
            """CASE WHEN n_tot = n_f THEN NULL
              |ELSE (s_tot - s_f) DIV (n_tot - n_f) END""".stripMargin))
          .withColumn("full_cents", expr("s_tot DIV n_tot"))
          .select(col("cat"), col("fold"), col("n_f").as("n_rows"),
            col("oof_cents"), col("full_cents"))
          .orderBy("cat", "fold")
      },
      Some("""WITH r AS (SELECT o_orderpriority AS cat,
             |    CAST(('0x' || substr(md5('fold_' || o_orderkey), 1, 8))
             |      AS BIGINT) % 5 AS fold,
             |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |pf AS (SELECT cat, fold, CAST(count(*) AS BIGINT) AS n_f,
             |    CAST(sum(cents) AS BIGINT) AS s_f
             |  FROM r GROUP BY 1, 2),
             |pc AS (SELECT cat, CAST(sum(n_f) AS BIGINT) AS n_tot,
             |    CAST(sum(s_f) AS BIGINT) AS s_tot
             |  FROM pf GROUP BY 1)
             |SELECT pf.cat, fold, n_f AS n_rows,
             |  CAST(CASE WHEN n_tot = n_f THEN NULL
             |    ELSE (s_tot - s_f) // (n_tot - n_f) END AS BIGINT)
             |    AS oof_cents,
             |  CAST(s_tot // n_tot AS BIGINT) AS full_cents
             |FROM pf JOIN pc ON pf.cat = pc.cat
             |ORDER BY pf.cat, fold""".stripMargin)),

    // ---- feature-hashing collision audit ----------------------------------
    // The hashing-trick design question — how many buckets does this
    // vocabulary need? — answered from data: token frequencies are
    // counted ONCE (the only corpus-scale pass), then the ×3 bucket-size
    // fan-out {256, 1024, 4096} runs on the bounded vocabulary frame
    // only. Per size: buckets used, tokens sharing a bucket, the
    // occurrence MASS sitting in collided buckets (in bp — the number
    // that actually predicts feature-quality loss), and the worst
    // bucket's token load. md5 bucket assignment, exact integers.
    "q253_hashing_trick_audit" -> QueryDef(
      (s, dir) => {
        val vocab = Materialize(tableParallel(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt")))
        val tot = vocab.agg(sum("cnt").as("t_mass"),
          count(lit(1)).as("t_vocab"))
        val buck = vocab
          .select(col("tok"), col("cnt"),
            explode(expr("array(256, 1024, 4096)")).as("b"))
          .withColumn("bucket", hash32(col("tok")) % col("b"))
          .groupBy("b", "bucket")
          .agg(count(lit(1)).as("n_toks"), sum("cnt").as("mass"))
        buck.groupBy("b")
          .agg(count(lit(1)).as("buckets_used"),
            sum(when(col("n_toks") >= 2, col("n_toks"))
              .otherwise(0L)).as("collided_tokens"),
            sum(when(col("n_toks") >= 2, col("mass"))
              .otherwise(0L)).as("collided_mass"),
            max("n_toks").as("max_load"))
          .crossJoin(broadcast(tot))
          .select(col("b").cast("long").as("b"), col("t_vocab"),
            col("buckets_used"), col("collided_tokens"),
            expr("collided_mass * 10000 DIV t_mass")
              .as("collided_mass_bp"),
            col("max_load"))
          .orderBy("b")
      },
      Some(s"""WITH vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
              |  FROM (SELECT unnest($duckToks) AS tok FROM documents)
              |  GROUP BY 1),
              |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_mass,
              |    CAST(count(*) AS BIGINT) AS t_vocab FROM vocab),
              |buck AS (SELECT b, CAST(('0x' || substr(md5(tok), 1, 8))
              |      AS BIGINT) % b AS bucket,
              |    CAST(count(*) AS BIGINT) AS n_toks,
              |    CAST(sum(cnt) AS BIGINT) AS mass
              |  FROM vocab CROSS JOIN
              |    (SELECT unnest([256, 1024, 4096]) AS b) bs
              |  GROUP BY 1, 2)
              |SELECT CAST(b AS BIGINT) AS b, t_vocab,
              |  CAST(count(*) AS BIGINT) AS buckets_used,
              |  CAST(sum(CASE WHEN n_toks >= 2 THEN n_toks ELSE 0 END)
              |    AS BIGINT) AS collided_tokens,
              |  CAST(sum(CASE WHEN n_toks >= 2 THEN mass ELSE 0 END)
              |    * 10000 // t_mass AS BIGINT) AS collided_mass_bp,
              |  CAST(max(n_toks) AS BIGINT) AS max_load
              |FROM buck CROSS JOIN tot
              |GROUP BY b, t_vocab, t_mass ORDER BY b""".stripMargin)),

    // ---- iterative proportional fitting (raking) --------------------------
    // The survey-statistics reweighting behind mixture targeting when
    // targets are MARGINAL, not per-cell (q173/q208 reweight whole
    // sources; a real curriculum often pins source AND language margins
    // simultaneously). Two IPF rounds (source-margin scale, then
    // language-margin scale, twice) over the (source × lang) cell frame
    // — ONE corpus scan, then window ops on the cell frame (cells =
    // |sources|·|langs|, dimension-sized at any corpus scale). Fixed-
    // point micro weights; every multiply runs in DECIMAL/HUGEINT
    // before the truncating divide, so extreme margin ratios cannot
    // wrap and both engines replay the identical integer trajectory.
    // After the final language scaling the language margins match their
    // targets exactly (up to truncation); row_gap_bp reports the
    // residual SOURCE-margin gap — the convergence witness.
    "q260_ipf_raking" -> QueryDef(
      (s, dir) => {
        val cells = Materialize(table(s, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("c")))
        val tot = cells.agg(sum("c").as("n"),
          countDistinct("source").as("nsrc"),
          countDistinct("lang").as("nlang"))
        val wS = Window.partitionBy("source")
        val wL = Window.partitionBy("lang")
        def step(df: org.apache.spark.sql.DataFrame,
            win: org.apache.spark.sql.expressions.WindowSpec,
            wIn: String, tgt: String, wOut: String)
            : org.apache.spark.sql.DataFrame =
          df.withColumn("m",
              sum(col("c").cast("decimal(19,0)") * col(wIn)).over(win))
            .withColumn(wOut, expr(
              s"CAST((CAST($wIn AS DECIMAL(19,0)) * $tgt * 1000000) " +
                "DIV m AS BIGINT)"))
            .drop("m")
        val base = cells.crossJoin(broadcast(tot))
          .withColumn("ts", expr("n DIV nsrc"))
          .withColumn("tl", expr("n DIV nlang"))
          .withColumn("w0", lit(1000000L))
        val fit = step(step(step(step(base, wS, "w0", "ts", "w1"),
          wL, "w1", "tl", "w2"), wS, "w2", "ts", "w3"),
          wL, "w3", "tl", "w4")
        fit
          .withColumn("ms",
            sum(col("c").cast("decimal(19,0)") * col("w4")).over(wS))
          .select(col("source"), col("lang"), col("c"),
            col("w4").as("w_micro"),
            expr("CAST(abs(ms - CAST(ts AS DECIMAL(19,0)) * 1000000) " +
              "* 10000 DIV (CAST(ts AS DECIMAL(19,0)) * 1000000) " +
              "AS BIGINT)").as("row_gap_bp"))
          .orderBy("source", "lang")
      },
      Some("""WITH cells AS (SELECT source, lang,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
             |    CAST(count(DISTINCT source) AS BIGINT) AS nsrc,
             |    CAST(count(DISTINCT lang) AS BIGINT) AS nlang
             |  FROM cells),
             |b AS (SELECT source, lang, c, n // nsrc AS ts,
             |    n // nlang AS tl, CAST(1000000 AS BIGINT) AS w0
             |  FROM cells CROSS JOIN tot),
             |s1 AS (SELECT *, CAST(CAST(w0 AS HUGEINT) * ts * 1000000
             |    // sum(CAST(c AS HUGEINT) * w0)
             |      OVER (PARTITION BY source) AS BIGINT) AS w1 FROM b),
             |s2 AS (SELECT *, CAST(CAST(w1 AS HUGEINT) * tl * 1000000
             |    // sum(CAST(c AS HUGEINT) * w1)
             |      OVER (PARTITION BY lang) AS BIGINT) AS w2 FROM s1),
             |s3 AS (SELECT *, CAST(CAST(w2 AS HUGEINT) * ts * 1000000
             |    // sum(CAST(c AS HUGEINT) * w2)
             |      OVER (PARTITION BY source) AS BIGINT) AS w3 FROM s2),
             |s4 AS (SELECT *, CAST(CAST(w3 AS HUGEINT) * tl * 1000000
             |    // sum(CAST(c AS HUGEINT) * w3)
             |      OVER (PARTITION BY lang) AS BIGINT) AS w4 FROM s3)
             |SELECT source, lang, c, w4 AS w_micro,
             |  CAST(abs(sum(CAST(c AS HUGEINT) * w4)
             |      OVER (PARTITION BY source)
             |    - CAST(ts AS HUGEINT) * 1000000) * 10000
             |    // (CAST(ts AS HUGEINT) * 1000000) AS BIGINT)
             |    AS row_gap_bp
             |FROM s4 ORDER BY source, lang""".stripMargin)),

    // ---- 1-D Wasserstein (earth mover's) source drift ---------------------
    // The KS statistic (q207) flags the single worst CDF gap; W₁ =
    // ∫|F_s − F_rest| integrates ALL of it — the drift monitor that
    // distinguishes a narrow spike from a wholesale distribution shift.
    // On the integer n_chars grid, W₁ = Σ_values |F_s − F_rest|·gap
    // exactly (both CDFs are step functions jumping only at data
    // values). Cross-rate scaling keeps everything integer:
    // |cum_s·n_rest − cum_rest·n_s| summed in DECIMAL(38,0)/HUGEINT,
    // divided once at the end — zero floats, exact in both engines.
    // The frame is value-COMPRESSED (one row per distinct value per
    // source, same lever as q207); at 100 TB pre-bucket values first.
    "q261_wasserstein_drift" -> QueryDef(
      (s, dir) => {
        val perVal = Materialize(table(s, dir, "documents")
          .select("source", "n_chars")
          .groupBy("source", "n_chars").agg(count(lit(1)).as("c")))
        val vals = perVal.groupBy("n_chars").agg(sum("c").as("gc"))
        val wV = Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val grid0 = vals
          .withColumn("cum_all", sum("gc").over(wV))
          .withColumn("gap", coalesce(
            lead("n_chars", 1).over(Window.orderBy("n_chars"))
              - col("n_chars"), lit(0L)))
          .drop("gc")
        // the source dimension is a curated registry, bounded by design
        // — the explicit LIMIT makes that boundedness visible to the
        // planner (and to PlanInvariantsSpec): the broadcast side of the
        // grid cross is a ≤64-row TakeOrderedAndProject, never a
        // corpus-fraction frame
        val srcs = perVal.groupBy("source").agg(sum("c").as("n_s"))
          .orderBy("source").limit(64)
        val nAll = perVal.agg(sum("c").as("n_all"))
        val wSrc = Window.partitionBy("source").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid0.crossJoin(broadcast(srcs))
          .join(perVal, Seq("source", "n_chars"), "left")
          .withColumn("c0", coalesce(col("c"), lit(0L)))
          .withColumn("cum_s", sum("c0").over(wSrc))
          .crossJoin(broadcast(nAll))
          .withColumn("n_rest", col("n_all") - col("n_s"))
          .withColumn("contrib", expr(
            "CAST(abs(cum_s * n_rest - (cum_all - cum_s) * n_s) " +
              "AS DECIMAL(38,0)) * gap"))
          .groupBy("source", "n_s", "n_rest")
          .agg(sum("contrib").as("emd"))
          .select(col("source"), col("n_s"), col("n_rest"),
            expr("CAST(emd DIV (n_s * n_rest) AS BIGINT)")
              .as("w1_chars"),
            expr("CAST(emd * 100 DIV (n_s * n_rest) AS BIGINT)")
              .as("w1_centichars"))
          .orderBy("source")
      },
      Some("""WITH pv AS (SELECT source, n_chars,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2),
             |g AS (SELECT n_chars, CAST(sum(c) AS BIGINT) AS gc
             |  FROM pv GROUP BY 1),
             |ga AS (SELECT n_chars,
             |    CAST(sum(gc) OVER (ORDER BY n_chars ROWS BETWEEN
             |      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum_all,
             |    CAST(coalesce(lead(n_chars) OVER (ORDER BY n_chars)
             |      - n_chars, 0) AS BIGINT) AS gap
             |  FROM g),
             |ps AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
             |  FROM pv GROUP BY 1 ORDER BY source LIMIT 64),
             |na AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM pv),
             |grid AS (SELECT ps.source, ps.n_s, ga.n_chars, ga.cum_all,
             |    ga.gap FROM ps CROSS JOIN ga),
             |j AS (SELECT grid.source, grid.n_s, grid.n_chars,
             |    grid.cum_all, grid.gap, coalesce(pv.c, 0) AS c0
             |  FROM grid LEFT JOIN pv ON pv.source = grid.source
             |    AND pv.n_chars = grid.n_chars),
             |cums AS (SELECT source, n_s, cum_all, gap,
             |    (SELECT n_all FROM na) - n_s AS n_rest,
             |    CAST(sum(c0) OVER (PARTITION BY source ORDER BY n_chars
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_s
             |  FROM j)
             |SELECT source, n_s, n_rest,
             |  CAST(sum(CAST(abs(cum_s * n_rest
             |      - (cum_all - cum_s) * n_s) AS HUGEINT) * gap)
             |    // (n_s * n_rest) AS BIGINT) AS w1_chars,
             |  CAST(sum(CAST(abs(cum_s * n_rest
             |      - (cum_all - cum_s) * n_s) AS HUGEINT) * gap) * 100
             |    // (n_s * n_rest) AS BIGINT) AS w1_centichars
             |FROM cums GROUP BY 1, 2, 3 ORDER BY source""".stripMargin)),

    // ---- split-conformal coverage gate ------------------------------------
    // Distribution-free label QA for the quality-score models the label
    // audits (q175/q236/q241) assume: per-source (Mondrian) split
    // conformal — calibration half by md5 parity (hash-seeded like
    // every split in this family), nonconformity = |n_chars − calib
    // mean|, threshold = the ⌈0.9·(n_cal+1)⌉-th smallest calibration
    // score (EXACT order statistic via row_number — the value at rank k
    // is tie-order-independent), then the finite-sample coverage
    // guarantee audited on the held-out half in bp. All-integer; one
    // corpus scan (the cached projection feeds calibration ranking and
    // test coverage; per-source means broadcast).
    "q263_conformal_coverage" -> QueryDef(
      (s, dir) => {
        val docs = Materialize(table(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")))
        val th = conformalThresholds(docs)
        docs
          .withColumn("is_cal",
            hash32(concat(lit("conf_"), col("doc_id"))) % 2 === 0)
          .filter(!col("is_cal"))
          .join(broadcast(th), Seq("source"))
          .withColumn("score", abs(col("n_chars") - col("mu")))
          .groupBy("source", "n_calib", "k", "qhat")
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("score") <= col("qhat"), 1L).otherwise(0L))
              .as("covered"))
          .select(col("source"), col("n_calib"), col("n_test"),
            col("k"), col("qhat"),
            expr("covered * 10000 DIV n_test").as("coverage_bp"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, n_chars,
             |    CAST(('0x' || substr(md5('conf_' || doc_id), 1, 8))
             |      AS BIGINT) % 2 = 0 AS is_cal
             |  FROM documents),
             |m AS (SELECT source,
             |    CAST(sum(n_chars) // count(*) AS BIGINT) AS mu,
             |    CAST(count(*) AS BIGINT) AS n_calib
             |  FROM d WHERE is_cal GROUP BY 1),
             |sc AS (SELECT d.doc_id, d.source, d.is_cal,
             |    abs(d.n_chars - m.mu) AS score, m.n_calib
             |  FROM d JOIN m ON d.source = m.source),
             |qh AS (SELECT source, n_calib,
             |    (9 * (n_calib + 1) + 9) // 10 AS k, score AS qhat
             |  FROM (SELECT source, n_calib, score,
             |      row_number() OVER (PARTITION BY source
             |        ORDER BY score, doc_id) AS rn
             |    FROM sc WHERE is_cal)
             |  WHERE rn = (9 * (n_calib + 1) + 9) // 10)
             |SELECT sc.source, qh.n_calib,
             |  CAST(count(*) AS BIGINT) AS n_test, qh.k, qh.qhat,
             |  CAST(sum(CASE WHEN score <= qhat THEN 1 ELSE 0 END)
             |    * 10000 // count(*) AS BIGINT) AS coverage_bp
             |FROM sc JOIN qh ON sc.source = qh.source
             |WHERE NOT is_cal
             |GROUP BY 1, 2, 4, 5 ORDER BY sc.source""".stripMargin)),

    // ---- isotonic (PAV) probability calibration ---------------------------
    // The monotone calibrator q209's reliability audit assumes can be
    // fitted: P(purchase | value bucket) isotonically regressed via the
    // minimax closed form ŷ_i = max_{j≤i} min_{k≥i} avg(y_j..y_k) —
    // equivalent to pool-adjacent-violators, but expressible as bounded
    // relational algebra instead of a sequential pool scan. The corpus
    // is touched ONCE (16-bucket conditional aggregation); the whole
    // fit runs on ≤16³ segment rows — every cross is over an
    // explicitly LIMIT-bounded frame (the boundedness rule), so the
    // fit costs the same at any corpus size. Segment averages in 1e-6
    // fixed point (truncating division defines the fit identically in
    // both engines); fit_bp is monotone by construction — the replay
    // spec asserts it.
    "q268_isotonic_calibration" -> QueryDef(
      (s, dir) => {
        val buckets = Materialize(table(s, dir, "events")
          .select(expr("least(15, CAST(floor(value / 32) AS INT))")
            .as("b"),
            when(col("event_type") === "purchase", 1L).otherwise(0L)
              .as("y"))
          .groupBy("b").agg(count(lit(1)).as("c"), sum("y").as("s")))
        val bounded = buckets.orderBy("b").limit(16)
        val idxJ = bounded.select(col("b").as("j"))
        val idxK = bounded.select(col("b").as("k"))
        val idxI = bounded.select(col("b").as("i"))
        val segs = Materialize(idxJ.crossJoin(broadcast(idxK))
          .filter(col("j") <= col("k"))
          .join(broadcast(bounded),
            col("b").between(col("j"), col("k")))
          .groupBy("j", "k")
          .agg(expr("sum(s) * 1000000 DIV sum(c)").as("avg_fp")))
        val fit = segs.join(broadcast(idxI),
            col("j") <= col("i") && col("k") >= col("i"))
          .groupBy("i", "j").agg(min("avg_fp").as("mn"))
          .groupBy("i").agg(max("mn").as("fit_fp"))
        buckets.join(fit, col("b") === col("i"))
          .select(col("b").cast("long").as("b"), col("c"), col("s"),
            expr("s * 10000 DIV c").as("rate_bp"),
            expr("fit_fp DIV 100").as("fit_bp"))
          .orderBy("b")
      },
      Some("""WITH ev AS (SELECT least(15, CAST(floor(value / 32)
             |      AS INT)) AS b,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END AS y
             |  FROM events),
             |buckets AS (SELECT b, CAST(count(*) AS BIGINT) AS c,
             |    CAST(sum(y) AS BIGINT) AS s
             |  FROM ev GROUP BY 1),
             |segs AS (SELECT j.b AS j, k.b AS k,
             |    CAST(sum(m.s) * 1000000 // sum(m.c) AS BIGINT)
             |      AS avg_fp
             |  FROM buckets j JOIN buckets k ON j.b <= k.b
             |  JOIN buckets m ON m.b BETWEEN j.b AND k.b
             |  GROUP BY 1, 2),
             |mn AS (SELECT i.b AS i, segs.j,
             |    CAST(min(avg_fp) AS BIGINT) AS mn
             |  FROM segs JOIN buckets i
             |    ON segs.j <= i.b AND segs.k >= i.b
             |  GROUP BY 1, 2),
             |fit AS (SELECT i, CAST(max(mn) AS BIGINT) AS fit_fp
             |  FROM mn GROUP BY 1)
             |SELECT CAST(b AS BIGINT) AS b, c, s,
             |  CAST(s * 10000 // c AS BIGINT) AS rate_bp,
             |  CAST(fit_fp // 100 AS BIGINT) AS fit_bp
             |FROM buckets JOIN fit ON b = i
             |ORDER BY b""".stripMargin)),

    // ---- count-min sketch width design audit ------------------------------
    // q253 audits the hashing trick's collision LOSS; this audits the
    // count-min sketch's overestimate ERROR — the other side of the
    // same design decision. Depth-2 CMS counters at three widths built
    // from the vocabulary frame (corpus scanned once; the ×6 fan-out
    // touches vocab rows only), probed at the top-50 tokens (bounded
    // broadcast), measured against the Cormode-Muthukrishnan bound
    // εT = (e/w)·T with e ≈ 2.7183 in exact integers. The audit
    // REPORTS bound violations rather than asserting (the guarantee is
    // probabilistic at depth 2); the replay spec pins est ≥ truth —
    // the deterministic half of the CMS contract.
    "q269_cms_width_audit" -> QueryDef(
      (s, dir) => {
        val vocab = Materialize(tableParallel(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt")))
        val tot = vocab.agg(sum("cnt").as("t_mass"))
        val counters = Materialize(vocab
          .select(col("tok"), col("cnt"),
            explode(expr("array(256, 1024, 4096)")).as("w"))
          .select(col("tok"), col("cnt"), col("w"),
            explode(expr("array(0, 1)")).as("d"))
          .withColumn("bucket",
            hash32(expr("concat('cms', CAST(d AS STRING), '_', tok)"))
              % col("w"))
          .groupBy("w", "d", "bucket").agg(sum("cnt").as("cm")))
        val probe = vocab.orderBy(desc("cnt"), col("tok")).limit(50)
        val est = probe
          .select(col("tok"), col("cnt"),
            explode(expr("array(256, 1024, 4096)")).as("w"))
          .select(col("tok"), col("cnt"), col("w"),
            explode(expr("array(0, 1)")).as("d"))
          .withColumn("bucket",
            hash32(expr("concat('cms', CAST(d AS STRING), '_', tok)"))
              % col("w"))
          .join(counters, Seq("w", "d", "bucket"))
          .groupBy("w", "tok", "cnt").agg(min("cm").as("est"))
        est.groupBy("w")
          .agg(count(lit(1)).as("probe_n"),
            max(expr("est - cnt")).as("err_max"),
            expr("sum(est - cnt) DIV count(1)").as("err_avg"),
            sum(when(expr("est - cnt").gt(lit(0L)), 1L).otherwise(0L))
              .as("n_overestimated"))
          .crossJoin(broadcast(tot))
          .select(col("w").cast("long").as("w"), col("probe_n"),
            col("err_max"), col("err_avg"), col("n_overestimated"),
            expr("27183 * t_mass DIV (10000 * w)").as("bound_cnt"))
          .orderBy("w")
      },
      Some(s"""WITH vocab AS (SELECT tok,
              |    CAST(count(*) AS BIGINT) AS cnt
              |  FROM (SELECT unnest($duckToks) AS tok FROM documents)
              |  GROUP BY 1),
              |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_mass
              |  FROM vocab),
              |cells AS (SELECT tok, cnt, w, d,
              |    CAST(('0x' || substr(md5('cms' || CAST(d AS VARCHAR)
              |      || '_' || tok), 1, 8)) AS BIGINT) % w AS bucket
              |  FROM vocab
              |  CROSS JOIN (SELECT unnest([256, 1024, 4096]) AS w) ws
              |  CROSS JOIN (SELECT unnest([0, 1]) AS d) ds),
              |counters AS (SELECT w, d, bucket,
              |    CAST(sum(cnt) AS BIGINT) AS cm
              |  FROM cells GROUP BY 1, 2, 3),
              |probe AS (SELECT tok, cnt FROM vocab
              |  ORDER BY cnt DESC, tok LIMIT 50),
              |pe AS (SELECT p.tok, p.cnt, c.w,
              |    CAST(min(cm) AS BIGINT) AS est
              |  FROM probe p
              |  JOIN cells c ON c.tok = p.tok
              |  JOIN counters k ON k.w = c.w AND k.d = c.d
              |    AND k.bucket = c.bucket
              |  GROUP BY 1, 2, 3)
              |SELECT CAST(w AS BIGINT) AS w,
              |  CAST(count(*) AS BIGINT) AS probe_n,
              |  CAST(max(est - cnt) AS BIGINT) AS err_max,
              |  CAST(sum(est - cnt) // count(*) AS BIGINT) AS err_avg,
              |  CAST(sum(CASE WHEN est - cnt > 0 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_overestimated,
              |  CAST(27183 * t_mass // (10000 * w) AS BIGINT)
              |    AS bound_cnt
              |FROM pe CROSS JOIN tot
              |GROUP BY w, t_mass ORDER BY w""".stripMargin)),

    // ---- Neyman (optimal) stratified-sample allocation --------------------
    // q227 apportions a sample by SIZE; Neyman allocation apportions by
    // n_h·S_h — strata with more internal variance get more of the
    // budget, the design that minimizes estimator variance for a fixed
    // cost. Per-stratum variance from one linear pass (n·Σx² − (Σx)²
    // in DECIMAL/HUGEINT so the cross term cannot wrap at any corpus
    // size, then an exact integer divide); S_h = ⌊√S²⌋ — S² ≤ max(x)²
    // after the divide, far inside double's exact-integer range, so
    // floor∘sqrt is engine-identical. Budget 1000 apportioned by
    // largest remainder (the q227 machinery, deterministic tie-break);
    // n_prop column witnesses how far variance-optimal moves from
    // size-proportional. Everything after the scan is sources-sized.
    "q270_neyman_allocation" -> QueryDef(
      (s, dir) => {
        val st = Materialize(table(s, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("nh"),
            sum("n_chars").as("sx"),
            sum(expr("n_chars * n_chars")).as("sxx")))
        val tot = st.agg(sum("nh").as("n_all"))
        val withS = st
          .withColumn("s2", expr(
            """CASE WHEN nh < 2 THEN CAST(0 AS BIGINT) ELSE
              |CAST((CAST(nh AS DECIMAL(38,0)) * sxx
              |  - CAST(sx AS DECIMAL(38,0)) * sx)
              |  DIV (nh * (nh - 1)) AS BIGINT) END""".stripMargin))
          .withColumn("sh",
            expr("CAST(floor(sqrt(CAST(s2 AS DOUBLE))) AS BIGINT)"))
          .withColumn("wgt", expr("nh * sh"))
        val tw = withS.agg(sum("wgt").as("tw"))
        val base = withS.crossJoin(broadcast(tw))
          .crossJoin(broadcast(tot))
          .withColumn("n0", expr("1000 * wgt DIV tw"))
          .withColumn("rem", expr("1000 * wgt % tw"))
          .withColumn("n_prop", expr("1000 * nh DIV n_all"))
        val lf = base.agg((lit(1000L) - sum("n0")).as("leftover"))
        val wRk = Window.orderBy(desc("rem"), col("source"))
        base.crossJoin(broadcast(lf))
          .withColumn("rk", row_number().over(wRk).cast("long"))
          .withColumn("n_neyman", expr(
            "n0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"))
          .select(col("source"), col("nh"), col("s2"), col("sh"),
            col("n_neyman"), col("n_prop"),
            expr("n_neyman - n_prop").as("shift"))
          .orderBy("source")
      },
      Some("""WITH st AS (SELECT source,
             |    CAST(count(*) AS BIGINT) AS nh,
             |    CAST(sum(n_chars) AS BIGINT) AS sx,
             |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(sum(nh) AS BIGINT) AS n_all FROM st),
             |ws AS (SELECT source, nh,
             |    CAST(CASE WHEN nh < 2 THEN 0 ELSE
             |      (CAST(nh AS HUGEINT) * sxx - CAST(sx AS HUGEINT)
             |        * sx) // (CAST(nh AS HUGEINT) * (nh - 1)) END
             |      AS BIGINT) AS s2
             |  FROM st),
             |w2 AS (SELECT *,
             |    CAST(floor(sqrt(CAST(s2 AS DOUBLE))) AS BIGINT) AS sh,
             |    nh * CAST(floor(sqrt(CAST(s2 AS DOUBLE))) AS BIGINT)
             |      AS wgt
             |  FROM ws),
             |tw AS (SELECT CAST(sum(wgt) AS BIGINT) AS tw FROM w2),
             |base AS (SELECT w2.*, 1000 * wgt // tw.tw AS n0,
             |    1000 * wgt % tw.tw AS rem,
             |    1000 * nh // n_all AS n_prop
             |  FROM w2 CROSS JOIN tw CROSS JOIN tot),
             |lf AS (SELECT 1000 - CAST(sum(n0) AS BIGINT) AS leftover
             |  FROM base),
             |rk AS (SELECT base.*,
             |    row_number() OVER (ORDER BY rem DESC, source) AS rk
             |  FROM base)
             |SELECT source, nh, s2, sh,
             |  CAST(n0 + CASE WHEN rk <= (SELECT leftover FROM lf)
             |    THEN 1 ELSE 0 END AS BIGINT) AS n_neyman,
             |  CAST(n_prop AS BIGINT) AS n_prop,
             |  CAST(n0 + CASE WHEN rk <= (SELECT leftover FROM lf)
             |    THEN 1 ELSE 0 END - n_prop AS BIGINT) AS shift
             |FROM rk ORDER BY source""".stripMargin)),

    // ---- cross-source quantile normalization ------------------------------
    // The batch-effect remover: each source's n_chars distribution is
    // mapped onto the POOLED distribution by rank — row with
    // within-source rank r (of n_s) takes the pooled order statistic at
    // position (r-1)·N DIV n_s + 1. After the map every source has an
    // identical value distribution (up to the integer rank rounding),
    // which is exactly what mixture training wants before length-based
    // curriculum or packing decisions. Scale shape: the within-source
    // rank is a source-partitioned window (parallel across sources; at
    // 100 TB the skewed-source variant computes it from the per-source
    // value-compressed CDF, same numbers); the pooled side is NEVER
    // globally sorted — it is compressed to the distinct-value CDF
    // (|V| rows) and the position lookup is a broadcast range join
    // (cum_before < pos ≤ cum picks exactly one row), the q85 band-join
    // pattern on a frame the size of the value domain, not the corpus.
    "q272_quantile_normalization" -> QueryDef(
      (s, dir) => {
        val docs = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars")))
        val ranked = docs.withColumn("r",
          row_number().over(
            Window.partitionBy("source").orderBy("n_chars", "doc_id")))
        val ns = docs.groupBy("source")
          .agg(count(lit(1)).as("n_s"))
        val tot = docs.agg(count(lit(1)).as("n_total"))
        val cdf = docs.groupBy("n_chars")
          .agg(count(lit(1)).as("f"))
          .withColumn("cum",
            sum("f").over(Window.orderBy("n_chars")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("cum_before", col("cum") - col("f"))
          .select(col("n_chars").as("pool_v"), col("cum_before"),
            col("cum"))
        val pos = ranked.join(ns, "source").join(broadcast(tot))
          .withColumn("pos",
            expr("(r - 1) * n_total DIV n_s + 1"))
        pos.join(broadcast(cdf),
            col("pos") > col("cum_before") && col("pos") <= col("cum"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum("n_chars").as("sb"), sum("pool_v").as("sa"),
            min("pool_v").as("min_after"),
            max("pool_v").as("max_after"))
          .withColumn("mean_before", expr("sb DIV n"))
          .withColumn("mean_after", expr("sa DIV n"))
          .select("source", "n", "mean_before", "mean_after",
            "min_after", "max_after")
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY source
             |    ORDER BY n_chars, doc_id) AS r FROM d),
             |ns AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
             |tot AS (SELECT count(*) AS n_total FROM d),
             |cdf AS (SELECT n_chars AS pool_v, count(*) AS f,
             |    sum(count(*)) OVER (ORDER BY n_chars
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum
             |  FROM d GROUP BY n_chars),
             |c2 AS (SELECT pool_v, cum - f AS cum_before, cum FROM cdf),
             |p AS (SELECT rk.source, rk.n_chars,
             |    (rk.r - 1) * tot.n_total // ns.n_s + 1 AS pos
             |  FROM rk JOIN ns ON rk.source = ns.source CROSS JOIN tot),
             |m AS (SELECT p.source, p.n_chars, c2.pool_v
             |  FROM p JOIN c2
             |    ON p.pos > c2.cum_before AND p.pos <= c2.cum)
             |SELECT source, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_before,
             |  CAST(sum(pool_v) // count(*) AS BIGINT) AS mean_after,
             |  CAST(min(pool_v) AS BIGINT) AS min_after,
             |  CAST(max(pool_v) AS BIGINT) AS max_after
             |FROM m GROUP BY source ORDER BY source""".stripMargin)),

    // ---- CUPED variance reduction (controlled-experiment analysis) --------
    // The A/B-test power tool: reduce metric variance with a pre-period
    // covariate — Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X), variance
    // shrink factor 1 − ρ². Here X = a user's pre-period (Jan 1–15)
    // event count, Y = post-period purchase spend in cents. Everything
    // derives from ONE conditional-sum pass over events (user rollup
    // with map-side combine) followed by one 6-moment aggregation of
    // the per-user frame; θ and ρ² are exact integer ratios of the
    // raw-moment combinations n·Σxy − ΣxΣy etc., computed in
    // DECIMAL(38,0)/HUGEINT with the θ division sign-split. Cents via
    // floor(value·100) — double multiply+floor is bit-identical in
    // both engines. Scale: the per-user frame is the only shuffle;
    // moments are a 1-row reduce.
    "q276_cuped" -> QueryDef(
      (s, dir) => {
        import graft.functions.IntegerMath.{sdlSql => sd}
        val cut = "TIMESTAMP '2024-01-16 00:00:00'"
        val users = table(s, dir, "events")
          .groupBy("user_id")
          .agg(
            sum(expr(s"CASE WHEN ts < $cut THEN 1 ELSE 0 END"))
              .as("x"),
            sum(expr(s"CASE WHEN ts >= $cut AND event_type = 'purchase'" +
              s" THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END"))
              .as("y"))
        val mom = users.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("x * x")).as("sxx"),
          sum(expr("x * y")).as("sxy"),
          sum(expr("y * y")).as("syy"))
        mom
          .withColumn("cov_n", expr("n * sxy - sx * sy"))
          .withColumn("varx_n", expr("n * sxx - sx * sx"))
          .withColumn("vary_n", expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * syy - " +
              "CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))"))
          .withColumn("theta_micro", expr(
            s"CAST(${sd("cov_n * 1000000", "varx_n")} AS BIGINT)"))
          .withColumn("rho2_bp", expr(
            "CAST(CAST(cov_n AS DECIMAL(38,0)) * cov_n * 10000 DIV " +
              "(CAST(varx_n AS DECIMAL(38,0)) * vary_n) AS BIGINT)"))
          .select(col("n").as("n_users"),
            expr("sx DIV n").as("mean_x"),
            expr("sy DIV n").as("mean_y_cents"),
            col("cov_n"), col("varx_n"), col("theta_micro"),
            col("rho2_bp"))
      },
      Some {
        def sd(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) // ($d) " +
            s"ELSE -((-($v)) // ($d)) END"
        s"""WITH u AS (SELECT user_id,
           |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
           |      THEN 1 ELSE 0 END) AS BIGINT) AS x,
           |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
           |        AND event_type = 'purchase'
           |      THEN CAST(floor(value * 100) AS BIGINT)
           |      ELSE 0 END) AS BIGINT) AS y
           |  FROM events GROUP BY 1),
           |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx,
           |    CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x * x) AS BIGINT) AS sxx,
           |    CAST(sum(x * y) AS BIGINT) AS sxy,
           |    CAST(sum(y * y) AS BIGINT) AS syy
           |  FROM u),
           |d AS (SELECT *, n * sxy - sx * sy AS cov_n,
           |    n * sxx - sx * sx AS varx_n,
           |    CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
           |      AS vary_n
           |  FROM mom)
           |SELECT n AS n_users,
           |  CAST(sx // n AS BIGINT) AS mean_x,
           |  CAST(sy // n AS BIGINT) AS mean_y_cents,
           |  cov_n, varx_n,
           |  CAST(${sd("cov_n * 1000000", "varx_n")} AS BIGINT)
           |    AS theta_micro,
           |  CAST(CAST(cov_n AS HUGEINT) * cov_n * 10000 //
           |    (CAST(varx_n AS HUGEINT) * vary_n) AS BIGINT) AS rho2_bp
           |FROM d""".stripMargin
      }),

    // ---- Shapley data valuation by moment additivity -----------------------
    // Which source group's documents actually buy model quality? The exact
    // Shapley value of each of 4 player groups (top-3 sources by doc
    // count + '(other)') for a 2-feature OLS, from ONE corpus pass: OLS
    // sufficient statistics are ADDITIVE, so every one of the 2⁴ subset
    // models trains by SUMMING per-group moments (never re-scanning), and
    // the full-corpus evaluation SSE of a subset's model is a CLOSED FORM
    // in the coefficients and the full-corpus moments — SSE = 10¹²·Syy −
    // 2·10⁶·(b₀Sy + b₁S1y + b₂S2y) + b₀²N + b₁²S11 + b₂²S22 + 2(b₀b₁S1 +
    // b₀b₂S2 + b₁b₂S12) for micro-integer b — so v(S) for all 16 subsets
    // costs zero additional corpus IO. φᵢ is kept as the integer 24·φᵢ
    // (weights s!(3−s)! ∈ {6,2,2,6}), scaled to whole units² by a
    // sign-split 10¹² divide; eff_gap = Σ24φᵢ − 24(v(∅)−v(full)) is the
    // efficiency-axiom witness and must be exactly 0. Degenerate subsets
    // (det = 0, incl. ∅) fall back to the zero model, whose SSE is the
    // same closed form at b = 0. Widths: the Cramer determinants are the
    // q283 cubic-moment products — DECIMAL(38,0)-safe to ~10⁸ docs with
    // these feature ranges; past that the moments need column rescaling,
    // not a different algorithm. Scale shape: one corpus aggregation to
    // the 20-row source frame; subsets, Cramer, SSE, and the Shapley sum
    // all run on ≤ 64-row bounded frames.
    "q285_shapley_data_value" -> QueryDef(
      (s, dir) => {
        import graft.functions.IntegerMath.{sdlSql => sd}
        def dec(x: String) = s"CAST($x AS DECIMAL(38,0))"
        def det3(a: String, b: String, c: String, d: String, e: String,
            f: String, g: String, h: String, i: String) =
          s"($a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g))"
        val bit = "CASE gid WHEN 0 THEN 1 WHEN 1 THEN 2 " +
          "WHEN 2 THEN 4 ELSE 8 END"
        val toks = tokens(col("text"))
        // round-13: srcm has ONE consumer (gm's chain) — its eager
        // Materialize paid a driver action + cache write that bought no
        // reuse (the q267 single-consumer precedent); gm's own
        // materialization computes the corpus moment pass exactly once
        val srcm = (tableParallel(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("long").as("x1"),
            size(toks).cast("long").as("x2"),
            size(array_distinct(toks)).cast("long").as("y"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum("x1").as("s1"),
            sum("x2").as("s2"), sum("y").as("sy"),
            sum(expr("x1 * x1")).as("s11"),
            sum(expr("x2 * x2")).as("s22"),
            sum(expr("x1 * x2")).as("s12"),
            sum(expr("x1 * y")).as("s1y"),
            sum(expr("x2 * y")).as("s2y"),
            sum(expr("y * y")).as("syy")))
        val gm = Materialize(srcm
          .withColumn("rn", row_number().over(
            Window.orderBy(col("n").desc, col("source").asc)))
          .withColumn("gid", expr(
            "CAST(CASE WHEN rn <= 3 THEN rn - 1 ELSE 3 END AS BIGINT)"))
          .groupBy("gid")
          .agg(min(when(col("rn") <= 3, col("source"))).as("msrc"),
            sum("n").as("n_docs"), sum("s1").as("s1"),
            sum("s2").as("s2"), sum("sy").as("sy"),
            sum("s11").as("s11"), sum("s22").as("s22"),
            sum("s12").as("s12"), sum("s1y").as("s1y"),
            sum("s2y").as("s2y"), sum("syy").as("syy"))
          .withColumn("grp", coalesce(col("msrc"), lit("(other)")))
          .drop("msrc"))
        val full = gm.agg(sum("n_docs").as("fn"), sum("s1").as("fs1"),
          sum("s2").as("fs2"), sum("sy").as("fsy"),
          sum("s11").as("fs11"), sum("s22").as("fs22"),
          sum("s12").as("fs12"), sum("s1y").as("fs1y"),
          sum("s2y").as("fs2y"), sum("syy").as("fsyy"))
        val subs = s.range(0, 16).select(col("id").as("m"))
        // gm/vm are ≤ 4- and 16-row by construction (gid ∈ 0..3, m ∈
        // 0..15), but caching hides that lineage from the plan — the
        // explicit LIMIT makes the boundedness visible to the
        // no-unbounded-broadcast invariant (the q211/q261 idiom) at
        // zero cost
        val gmB = gm.limit(4)
        val tm = subs.join(gmB, expr(s"(m DIV ($bit)) % 2 = 1"), "left")
          .groupBy("m")
          .agg(coalesce(sum("n_docs"), lit(0L)).as("tn"),
            coalesce(sum("s1"), lit(0L)).as("t1"),
            coalesce(sum("s2"), lit(0L)).as("t2"),
            coalesce(sum("sy"), lit(0L)).as("ty"),
            coalesce(sum("s11"), lit(0L)).as("t11"),
            coalesce(sum("s22"), lit(0L)).as("t22"),
            coalesce(sum("s12"), lit(0L)).as("t12"),
            coalesce(sum("s1y"), lit(0L)).as("t1y"),
            coalesce(sum("s2y"), lit(0L)).as("t2y"))
        val (nD, s1D, s2D, syD) = (dec("tn"), dec("t1"), dec("t2"),
          dec("ty"))
        val (a11, a22, s12D) = (dec("t11"), dec("t22"), dec("t12"))
        val (s1yD, s2yD) = (dec("t1y"), dec("t2y"))
        val detA = det3(nD, s1D, s2D, s1D, a11, s12D, s2D, s12D, a22)
        val det0 = det3(syD, s1D, s2D, s1yD, a11, s12D, s2yD, s12D, a22)
        val det1 = det3(nD, syD, s2D, s1D, s1yD, s12D, s2D, s2yD, a22)
        val det2 = det3(nD, s1D, syD, s1D, a11, s1yD, s2D, s12D, s2yD)
        def b(di: String) = s"CASE WHEN det = 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE CAST(${sd(s"($di) * 1000000", "det")} AS BIGINT) END"
        val vm = Materialize(tm
          .withColumn("det", expr(detA))
          .withColumn("b0", expr(b(det0)))
          .withColumn("b1", expr(b(det1)))
          .withColumn("b2", expr(b(det2)))
          .crossJoin(broadcast(full))
          .withColumn("sse", expr(
            s"""CAST(${dec("fsyy")} * 1000000000000
               | - 2 * 1000000 * (${dec("b0")} * fsy
               |     + ${dec("b1")} * fs1y + ${dec("b2")} * fs2y)
               | + ${dec("b0")} * b0 * fn + ${dec("b1")} * b1 * fs11
               | + ${dec("b2")} * b2 * fs22
               | + 2 * (${dec("b0")} * b1 * fs1 + ${dec("b0")} * b2 * fs2
               |     + ${dec("b1")} * b2 * fs12)
               | AS DECIMAL(38,0))""".stripMargin))
          .select("m", "sse"))
        val phi = gmB.select("gid", "grp", "n_docs")
          .join(vm.limit(16).select(col("m"), col("sse").as("sse_s")),
            expr(s"(m DIV ($bit)) % 2 = 0"))
          .withColumn("mi", expr(s"m + ($bit)"))
          .join(vm.select(col("m").as("mi"), col("sse").as("sse_si")),
            "mi")
          .withColumn("w", expr(
            """CASE m % 2 + (m DIV 2) % 2 + (m DIV 4) % 2 + (m DIV 8) % 2
              | WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
              | ELSE 6 END""".stripMargin))
          .groupBy("gid", "grp", "n_docs")
          .agg(sum(expr(s"${dec("w")} * (sse_s - sse_si)")).as("phi24"))
        val own = gm.select(col("gid").as("gid2"))
          .withColumn("mo", expr(
            "CASE gid2 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 " +
              "ELSE 8 END"))
          .join(vm.select(col("m").as("mo"), col("sse").as("sse_own")),
            "mo")
        val effBase = phi.agg(sum("phi24").as("sphi"))
          .crossJoin(broadcast(vm.filter(col("m") === 0)
            .select(col("sse").as("sse0"))))
          .crossJoin(broadcast(vm.filter(col("m") === 15)
            .select(col("sse").as("ssef"))))
          .select(expr("CAST(sphi - 24 * (sse0 - ssef) AS BIGINT)")
            .as("eff_gap"))
        phi.join(own, col("gid") === col("gid2"))
          .crossJoin(broadcast(effBase))
          .select(col("gid"), col("grp"), col("n_docs"),
            expr(s"CAST(${sd("sse_own", "1000000000000")} AS BIGINT)")
              .as("sse_own_u2"),
            expr(s"CAST(${sd("phi24", "1000000000000")} AS BIGINT)")
              .as("phi24_u2"),
            col("eff_gap"))
          .orderBy("gid")
      },
      Some {
        def sd(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) // ($d) " +
            s"ELSE -((-($v)) // ($d)) END"
        def hug(x: String) = s"CAST($x AS HUGEINT)"
        def det3(a: String, b: String, c: String, d: String, e: String,
            f: String, g: String, h: String, i: String) =
          s"($a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g))"
        val bit = "CASE gid WHEN 0 THEN 1 WHEN 1 THEN 2 " +
          "WHEN 2 THEN 4 ELSE 8 END"
        val (nD, s1D, s2D, syD) = (hug("tn"), hug("t1"), hug("t2"),
          hug("ty"))
        val (a11, a22, s12D) = (hug("t11"), hug("t22"), hug("t12"))
        val (s1yD, s2yD) = (hug("t1y"), hug("t2y"))
        val detA = det3(nD, s1D, s2D, s1D, a11, s12D, s2D, s12D, a22)
        val det0 = det3(syD, s1D, s2D, s1yD, a11, s12D, s2yD, s12D, a22)
        val det1 = det3(nD, syD, s2D, s1D, s1yD, s12D, s2D, s2yD, a22)
        val det2 = det3(nD, s1D, syD, s1D, a11, s1yD, s2D, s12D, s2yD)
        def b(di: String) = s"CASE WHEN det = 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE CAST(${sd(s"($di) * 1000000", "det")} AS BIGINT) END"
        s"""WITH pr AS (SELECT source,
           |    CAST(n_chars AS BIGINT) AS x1,
           |    CAST(len($duckToks) AS BIGINT) AS x2,
           |    CAST(len(list_distinct($duckToks)) AS BIGINT) AS y
           |  FROM documents),
           |srcm AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x1) AS BIGINT) AS s1,
           |    CAST(sum(x2) AS BIGINT) AS s2,
           |    CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
           |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
           |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
           |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
           |    CAST(sum(x2 * y) AS BIGINT) AS s2y,
           |    CAST(sum(y * y) AS BIGINT) AS syy
           |  FROM pr GROUP BY 1),
           |rk AS (SELECT *, row_number() OVER
           |    (ORDER BY n DESC, source ASC) AS rn FROM srcm),
           |gm AS (SELECT
           |    CAST(CASE WHEN rn <= 3 THEN rn - 1 ELSE 3 END AS BIGINT)
           |      AS gid,
           |    COALESCE(min(CASE WHEN rn <= 3 THEN source END),
           |      '(other)') AS grp,
           |    CAST(sum(n) AS BIGINT) AS n_docs,
           |    CAST(sum(s1) AS BIGINT) AS s1,
           |    CAST(sum(s2) AS BIGINT) AS s2,
           |    CAST(sum(sy) AS BIGINT) AS sy,
           |    CAST(sum(s11) AS BIGINT) AS s11,
           |    CAST(sum(s22) AS BIGINT) AS s22,
           |    CAST(sum(s12) AS BIGINT) AS s12,
           |    CAST(sum(s1y) AS BIGINT) AS s1y,
           |    CAST(sum(s2y) AS BIGINT) AS s2y,
           |    CAST(sum(syy) AS BIGINT) AS syy
           |  FROM rk GROUP BY 1),
           |f AS (SELECT CAST(sum(n_docs) AS BIGINT) AS fn,
           |    CAST(sum(s1) AS BIGINT) AS fs1,
           |    CAST(sum(s2) AS BIGINT) AS fs2,
           |    CAST(sum(sy) AS BIGINT) AS fsy,
           |    CAST(sum(s11) AS BIGINT) AS fs11,
           |    CAST(sum(s22) AS BIGINT) AS fs22,
           |    CAST(sum(s12) AS BIGINT) AS fs12,
           |    CAST(sum(s1y) AS BIGINT) AS fs1y,
           |    CAST(sum(s2y) AS BIGINT) AS fs2y,
           |    CAST(sum(syy) AS BIGINT) AS fsyy
           |  FROM gm),
           |subs AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS m),
           |tm AS (SELECT m,
           |    CAST(COALESCE(sum(n_docs), 0) AS BIGINT) AS tn,
           |    CAST(COALESCE(sum(s1), 0) AS BIGINT) AS t1,
           |    CAST(COALESCE(sum(s2), 0) AS BIGINT) AS t2,
           |    CAST(COALESCE(sum(sy), 0) AS BIGINT) AS ty,
           |    CAST(COALESCE(sum(s11), 0) AS BIGINT) AS t11,
           |    CAST(COALESCE(sum(s22), 0) AS BIGINT) AS t22,
           |    CAST(COALESCE(sum(s12), 0) AS BIGINT) AS t12,
           |    CAST(COALESCE(sum(s1y), 0) AS BIGINT) AS t1y,
           |    CAST(COALESCE(sum(s2y), 0) AS BIGINT) AS t2y
           |  FROM subs LEFT JOIN gm ON (m // ($bit)) % 2 = 1
           |  GROUP BY m),
           |cf AS (SELECT m, $detA AS det, tn, t1, t2, ty, t11, t22,
           |    t12, t1y, t2y FROM tm),
           |cf2 AS (SELECT m, ${b(det0)} AS b0, ${b(det1)} AS b1,
           |    ${b(det2)} AS b2 FROM cf),
           |vm AS (SELECT m,
           |    CAST(${hug("fsyy")} * 1000000000000
           |      - 2 * 1000000 * (${hug("b0")} * fsy
           |          + ${hug("b1")} * fs1y + ${hug("b2")} * fs2y)
           |      + ${hug("b0")} * b0 * fn + ${hug("b1")} * b1 * fs11
           |      + ${hug("b2")} * b2 * fs22
           |      + 2 * (${hug("b0")} * b1 * fs1 + ${hug("b0")} * b2 * fs2
           |          + ${hug("b1")} * b2 * fs12) AS HUGEINT) AS sse
           |  FROM cf2 CROSS JOIN f),
           |ph AS (SELECT gid, grp, n_docs,
           |    CAST(sum(${hug("w")} * (sse_s - sse_si)) AS HUGEINT)
           |      AS phi24
           |  FROM (SELECT g.gid, g.grp, g.n_docs, a.sse AS sse_s,
           |      b.sse AS sse_si,
           |      CASE a.m % 2 + (a.m // 2) % 2 + (a.m // 4) % 2
           |          + (a.m // 8) % 2
           |        WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
           |        ELSE 6 END AS w
           |    FROM gm g JOIN vm a
           |      ON (a.m // (CASE g.gid WHEN 0 THEN 1 WHEN 1 THEN 2
           |        WHEN 2 THEN 4 ELSE 8 END)) % 2 = 0
           |    JOIN vm b ON b.m = a.m + (CASE g.gid WHEN 0 THEN 1
           |      WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END))
           |  GROUP BY 1, 2, 3),
           |own AS (SELECT g.gid AS gid2, v.sse AS sse_own
           |  FROM gm g JOIN vm v ON v.m = (CASE g.gid WHEN 0 THEN 1
           |    WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)),
           |eff AS (SELECT CAST((SELECT sum(phi24) FROM ph)
           |    - 24 * ((SELECT sse FROM vm WHERE m = 0)
           |      - (SELECT sse FROM vm WHERE m = 15)) AS BIGINT)
           |    AS eff_gap)
           |SELECT gid, grp, n_docs,
           |  CAST(${sd("sse_own", "1000000000000")} AS BIGINT)
           |    AS sse_own_u2,
           |  CAST(${sd("phi24", "1000000000000")} AS BIGINT)
           |    AS phi24_u2,
           |  eff_gap
           |FROM ph JOIN own ON gid = gid2 CROSS JOIN eff
           |ORDER BY gid""".stripMargin
      }),

    // ---- Spearman rank correlation (tie-corrected, exact) ------------------
    // Monotone association between two per-doc metrics (n_chars vs token
    // count) per source, with NO floats and NO global sort of the corpus:
    // average ranks under ties are kept integer by DOUBLING — at a value
    // with t ties and cb items strictly below, every member's doubled
    // average rank is u = 2·cb + t + 1 (rho is invariant under the common
    // ×2). The corpus is compressed to the per-(source, va, vb) JOINT
    // frequency frame first; rank lookups are equi-joins against the two
    // per-value frames, and the six Pearson moments are weighted sums
    // over the joint frame — the corpus itself is scanned once. The
    // output is sign(num) plus rho² in bp via the two-stage divide
    // num²/du/dv (each stage Cauchy–Schwarz-bounded, so DECIMAL(38,0)
    // holds to ~5·10⁴ docs per source; past that the rank moments need
    // the same rescaling discipline as q285's). Identical two-stage
    // spelling on both engines keeps truncation parity.
    "q286_spearman_rank" -> QueryDef(
      (s, dir) => {
        val jm = Materialize(tableParallel(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("long").as("va"),
            size(tokens(col("text"))).cast("long").as("vb"))
          .groupBy("source", "va", "vb")
          .agg(count(lit(1)).as("cnt")))
        def ranked(v: String, u: String) = {
          val w = Window.partitionBy("source").orderBy(v)
          jm.groupBy("source", v).agg(sum("cnt").as("t"))
            .withColumn("cb", coalesce(sum(col("t")).over(
              w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
            .select(col("source"), col(v),
              expr("2 * cb + t + 1").as(u))
        }
        val mom = jm
          .join(ranked("va", "ua"), Seq("source", "va"))
          .join(ranked("vb", "ub"), Seq("source", "vb"))
          .groupBy("source")
          .agg(sum("cnt").as("n"),
            sum(expr("cnt * ua")).as("su"),
            sum(expr("cnt * ub")).as("sv"),
            sum(expr("cnt * ua * ua")).as("suu"),
            sum(expr("cnt * ub * ub")).as("svv"),
            sum(expr("cnt * ua * ub")).as("suv"))
        mom
          .withColumn("num", expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * suv - " +
              "CAST(su AS DECIMAL(38,0)) * sv AS DECIMAL(38,0))"))
          .withColumn("du", expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * suu - " +
              "CAST(su AS DECIMAL(38,0)) * su AS DECIMAL(38,0))"))
          .withColumn("dv", expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * svv - " +
              "CAST(sv AS DECIMAL(38,0)) * sv AS DECIMAL(38,0))"))
          .select(col("source"), col("n"),
            expr("CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 " +
              "ELSE 0 END AS BIGINT)").as("sgn"),
            expr("""CAST(num * num DIV greatest(du, 1) * 10000
                   | DIV greatest(dv, 1) AS BIGINT)""".stripMargin)
              .as("rho2_bp"))
          .orderBy("source")
      },
      Some(s"""WITH pr AS (SELECT source,
              |    CAST(n_chars AS BIGINT) AS va,
              |    CAST(len($duckToks) AS BIGINT) AS vb
              |  FROM documents),
              |jm AS (SELECT source, va, vb,
              |    CAST(count(*) AS BIGINT) AS cnt
              |  FROM pr GROUP BY 1, 2, 3),
              |ra AS (SELECT source, va, 2 * COALESCE(sum(t) OVER
              |      (PARTITION BY source ORDER BY va
              |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) + t + 1 AS ua
              |  FROM (SELECT source, va, CAST(sum(cnt) AS BIGINT) AS t
              |        FROM jm GROUP BY 1, 2)),
              |rb AS (SELECT source, vb, 2 * COALESCE(sum(t) OVER
              |      (PARTITION BY source ORDER BY vb
              |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) + t + 1 AS ub
              |  FROM (SELECT source, vb, CAST(sum(cnt) AS BIGINT) AS t
              |        FROM jm GROUP BY 1, 2)),
              |mom AS (SELECT jm.source, CAST(sum(cnt) AS BIGINT) AS n,
              |    CAST(sum(cnt * ua) AS BIGINT) AS su,
              |    CAST(sum(cnt * ub) AS BIGINT) AS sv,
              |    CAST(sum(cnt * ua * ua) AS BIGINT) AS suu,
              |    CAST(sum(cnt * ub * ub) AS BIGINT) AS svv,
              |    CAST(sum(cnt * ua * ub) AS BIGINT) AS suv
              |  FROM jm JOIN ra ON jm.source = ra.source
              |      AND jm.va = ra.va
              |    JOIN rb ON jm.source = rb.source AND jm.vb = rb.vb
              |  GROUP BY 1),
              |d AS (SELECT source, n,
              |    CAST(n AS HUGEINT) * suv - CAST(su AS HUGEINT) * sv
              |      AS num,
              |    CAST(n AS HUGEINT) * suu - CAST(su AS HUGEINT) * su
              |      AS du,
              |    CAST(n AS HUGEINT) * svv - CAST(sv AS HUGEINT) * sv
              |      AS dv
              |  FROM mom)
              |SELECT source, n,
              |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
              |    ELSE 0 END AS BIGINT) AS sgn,
              |  CAST(num * num // greatest(du, 1) * 10000
              |    // greatest(dv, 1) AS BIGINT) AS rho2_bp
              |FROM d ORDER BY source""".stripMargin)),

    // ---- Nelson–Aalen cumulative hazard ------------------------------------
    // Time-to-convert survival analysis WITH censoring — the estimator
    // funnels like q151 silently get wrong by dropping non-converters:
    // a user who never purchases is not a missing data point, they are
    // a right-censored observation that keeps inflating the risk set.
    // Cohort = users with a view; event time = days from first view to
    // first purchase-at-or-after-view; censor time = days to their last
    // observed event otherwise. The Nelson–Aalen cumulative hazard
    // H(t) = Σ_{s≤t} d_s/n_s is exact integers in ppm with truncating
    // division (a cumulative SUM of per-step hazards — unlike the
    // Kaplan–Meier product, it needs no float at any step). Scale
    // shape: one user rollup over events (the only corpus-scale
    // shuffle), then every window runs on the bounded distinct-day
    // frame; the risk set comes from the cumulative at-risk complement,
    // never a per-user re-scan.
    "q287_nelson_aalen" -> QueryDef(
      (s, dir) => {
        val users = Materialize(table(s, dir, "events")
          .groupBy("user_id")
          .agg(min(when(col("event_type") === "view",
              unix_micros(col("ts")))).as("v"),
            min(when(col("event_type") === "purchase",
              unix_micros(col("ts")))).as("p"),
            max(unix_micros(col("ts"))).as("last"))
          .filter(col("v").isNotNull)
          .withColumn("conv", expr(
            "CASE WHEN p IS NOT NULL AND p >= v THEN CAST(1 AS BIGINT) " +
              "ELSE CAST(0 AS BIGINT) END"))
          .withColumn("td", expr(
            """CASE WHEN p IS NOT NULL AND p >= v
              | THEN (p - v) DIV 86400000000
              | ELSE (last - v) DIV 86400000000 END""".stripMargin))
          .select("user_id", "conv", "td"))
        val nf = users.agg(count(lit(1)).as("nu"))
        val w = Window.orderBy("td")
        users.groupBy("td")
          .agg(sum("conv").as("d"), sum(expr("1 - conv")).as("c"))
          .crossJoin(broadcast(nf))
          .withColumn("before", coalesce(sum(expr("d + c")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n_risk", expr("nu - before"))
          .withColumn("h_step_ppm", expr("d * 1000000 DIV n_risk"))
          .withColumn("h_cum_ppm", sum("h_step_ppm").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("td").as("t_days"), col("d"), col("c"),
            col("n_risk"), col("h_step_ppm"), col("h_cum_ppm"))
          .orderBy("t_days")
      },
      Some("""WITH u AS (SELECT user_id,
             |    min(CASE WHEN event_type = 'view'
             |      THEN epoch_us(ts) END) AS v,
             |    min(CASE WHEN event_type = 'purchase'
             |      THEN epoch_us(ts) END) AS p,
             |    max(epoch_us(ts)) AS last
             |  FROM events GROUP BY 1),
             |coh AS (SELECT user_id,
             |    CAST(CASE WHEN p IS NOT NULL AND p >= v THEN 1
             |      ELSE 0 END AS BIGINT) AS conv,
             |    CAST(CASE WHEN p IS NOT NULL AND p >= v
             |      THEN (p - v) // 86400000000
             |      ELSE (last - v) // 86400000000 END AS BIGINT) AS td
             |  FROM u WHERE v IS NOT NULL),
             |nf AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM coh),
             |tt AS (SELECT td, CAST(sum(conv) AS BIGINT) AS d,
             |    CAST(sum(1 - conv) AS BIGINT) AS c
             |  FROM coh GROUP BY 1),
             |rk AS (SELECT tt.*, nu,
             |    COALESCE(sum(d + c) OVER (ORDER BY td
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS before
             |  FROM tt CROSS JOIN nf),
             |hz AS (SELECT td, d, c, nu - before AS n_risk,
             |    d * 1000000 // (nu - before) AS h_step_ppm
             |  FROM rk)
             |SELECT td AS t_days, d, c,
             |  CAST(n_risk AS BIGINT) AS n_risk,
             |  CAST(h_step_ppm AS BIGINT) AS h_step_ppm,
             |  CAST(sum(h_step_ppm) OVER (ORDER BY td
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS h_cum_ppm
             |FROM hz ORDER BY t_days""".stripMargin)),

    // ---- importance-weight ESS / clipping diagnostics ----------------------
    // Before reweighting a corpus toward a target mixture (here: uniform
    // over the observed source × lang cells — the grid is where the real
    // skew lives; per-source doc counts alone are flat in this corpus),
    // the diagnostics every importance-sampling pipeline ships: the Kish
    // effective sample size ESS = (Σw)²/(N·Σw²), the heaviest single
    // cell's weighted share, and what clipping the weights at each cap
    // would discard — a corpus whose ESS collapses to a few percent is
    // not reweightable, it needs resampling. Weights are exact micro
    // integers w = N·10⁶ DIV (C·n_cell) (uniform target share 1/C over
    // empirical n_cell/N); since w is constant within a cell, every Σ
    // over docs collapses to the CELL frame — the corpus is scanned once
    // for the counts and never again, and the 3-cap fan-out runs on
    // |cells|·3 rows. Sums of n·w² go through DECIMAL(38,0)/HUGEINT
    // (n·w² can pass int64 once a cell falls below ~10⁻⁴ of a 10⁹-doc
    // corpus). cap 10¹² micro ≈ uncapped is the baseline row.
    "q288_importance_ess" -> QueryDef(
      (s, dir) => {
        def dec(x: String) = s"CAST($x AS DECIMAL(38,0))"
        val sc = Materialize(tableParallel(s, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("n")))
        val tot = sc.agg(sum("n").as("nt"), count(lit(1)).as("ns"))
        val wsrc = sc.crossJoin(broadcast(tot))
          .withColumn("w", expr("nt * 1000000 DIV (ns * n)"))
        val caps = s.range(0, 3).select(expr(
          """CAST(CASE id WHEN 0 THEN 2000000 WHEN 1 THEN 5000000
            | ELSE 1000000000000 END AS BIGINT)""".stripMargin)
          .as("cap_micro"))
        wsrc.crossJoin(broadcast(caps))
          .withColumn("wc", expr("least(w, cap_micro)"))
          .groupBy("cap_micro")
          .agg(max("nt").as("nt"),
            sum(expr(s"${dec("n")} * w")).as("sw_raw"),
            sum(expr(s"${dec("n")} * wc")).as("sw"),
            sum(expr(s"${dec("n")} * wc * wc")).as("sw2"),
            sum(expr("CASE WHEN w > cap_micro THEN n ELSE 0 END"))
              .as("clipped_docs"),
            max(expr(s"${dec("n")} * wc")).as("mx"))
          .select(col("cap_micro"),
            expr("CAST(sw * sw * 10000 DIV (nt * sw2) AS BIGINT)")
              .as("ess_bp"),
            col("clipped_docs"),
            expr("CAST((sw_raw - sw) * 10000 DIV sw_raw AS BIGINT)")
              .as("clipped_mass_bp"),
            expr("CAST(mx * 10000 DIV sw AS BIGINT)").as("max_share_bp"))
          .orderBy("cap_micro")
      },
      Some("""WITH sc AS (SELECT source, lang,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             |    CAST(count(*) AS BIGINT) AS ns FROM sc),
             |w AS (SELECT source, n, nt,
             |    nt * 1000000 // (ns * n) AS w
             |  FROM sc CROSS JOIN tot),
             |caps AS (SELECT CAST(unnest([2000000, 5000000,
             |    1000000000000]) AS BIGINT) AS cap_micro),
             |wc AS (SELECT cap_micro, n, nt, w,
             |    least(w, cap_micro) AS wc
             |  FROM w CROSS JOIN caps),
             |ag AS (SELECT cap_micro, max(nt) AS nt,
             |    sum(CAST(n AS HUGEINT) * w) AS sw_raw,
             |    sum(CAST(n AS HUGEINT) * wc) AS sw,
             |    sum(CAST(n AS HUGEINT) * wc * wc) AS sw2,
             |    CAST(sum(CASE WHEN w > cap_micro THEN n ELSE 0 END)
             |      AS BIGINT) AS clipped_docs,
             |    max(CAST(n AS HUGEINT) * wc) AS mx
             |  FROM wc GROUP BY 1)
             |SELECT cap_micro,
             |  CAST(sw * sw * 10000 // (nt * sw2) AS BIGINT) AS ess_bp,
             |  clipped_docs,
             |  CAST((sw_raw - sw) * 10000 // sw_raw AS BIGINT)
             |    AS clipped_mass_bp,
             |  CAST(mx * 10000 // sw AS BIGINT) AS max_share_bp
             |FROM ag ORDER BY cap_micro""".stripMargin)),

    // ---- Markov stationary distribution (power iteration) ------------------
    // Where does the q138 behavior chain settle? The steady-state user
    // mix — the long-run fraction of activity per event type — via 4
    // power-iteration rounds π ← πP on the BOUNDED state frame: one
    // corpus pass builds the lag-pair transition counts (the only
    // shuffle), P lives in micro fixed point (row-normalized counts),
    // and every round is a 25-row join + 5-row renormalization (·10⁶
    // DIV z reclaims the per-round truncation loss, the q208 pool
    // discipline). Per-round frames are lineage-cut per the loop rule —
    // the plan stays constant-depth. delta_ppm (round-3 → round-4
    // movement) is the convergence witness the output carries; exact
    // integers end-to-end, DuckDB unrolls the rounds as CTE
    // generations.
    "q291_markov_stationary" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = table(s, dir, "events")
          .withColumn("prev_type", lag("event_type", 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
        val totals = pairs.groupBy("prev_type").agg(sum("n").as("tot"))
        val pm = Materialize.checkpointed(
          pairs.join(broadcast(totals), "prev_type")
            .withColumn("p_micro", expr("n * 1000000 DIV tot"))
            .select("prev_type", "next_type", "p_micro"))
        val states = Materialize.checkpointed(
          pm.select(col("prev_type").as("state")).distinct())
        val ns = states.agg(count(lit(1)).as("ns"))
        val pi0 = Materialize.checkpointed(
          states.crossJoin(broadcast(ns))
            .withColumn("pi", expr("1000000 DIV ns"))
            .select("state", "pi"))
        // scanLeft keeps every round's checkpointed frame — round 4
        // builds ON r3's checkpoint, so the r3 output column costs no
        // recomputation
        val piRounds = (1 to 4).scanLeft(pi0) { (cur, _) =>
          val u = cur.join(pm, cur("state") === pm("prev_type"))
            .groupBy(col("next_type").as("state"))
            .agg(expr("sum(pi * p_micro) DIV 1000000").as("raw"))
          val z = u.agg(sum("raw").as("z"))
          Materialize.checkpointed(u.crossJoin(broadcast(z))
            .withColumn("pi", expr("raw * 1000000 DIV z"))
            .select("state", "pi"))
        }
        val (piT, pi3) = (piRounds(4), piRounds(3))
        piT.join(pi3.select(col("state"), col("pi").as("pi_prev")),
            "state")
          .select(col("state"), col("pi").as("pi_ppm"),
            col("pi_prev").as("pi_prev_ppm"),
            abs(col("pi") - col("pi_prev")).as("delta_ppm"))
          .orderBy("state")
      },
      Some {
        val rounds = (0 until 4).map { i =>
          s"""u${i + 1} AS (SELECT pm.next_type AS state,
             |    CAST(sum(r$i.pi * pm.p_micro) // 1000000 AS BIGINT)
             |      AS raw
             |  FROM r$i JOIN pm ON r$i.state = pm.prev_type
             |  GROUP BY 1),
             |z${i + 1} AS (SELECT CAST(sum(raw) AS BIGINT) AS z
             |  FROM u${i + 1}),
             |r${i + 1} AS (SELECT state,
             |    CAST(raw * 1000000 // z AS BIGINT) AS pi
             |  FROM u${i + 1} CROSS JOIN z${i + 1})""".stripMargin
        }.mkString(",\n")
        s"""WITH seq AS (SELECT user_id, event_type,
           |    lag(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS prev_type
           |  FROM events),
           |pairs AS (SELECT prev_type, event_type AS next_type,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
           |tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot
           |  FROM pairs GROUP BY 1),
           |pm AS (SELECT pairs.prev_type, next_type,
           |    n * 1000000 // tot AS p_micro
           |  FROM pairs JOIN tot USING (prev_type)),
           |st AS (SELECT DISTINCT prev_type AS state FROM pm),
           |nsf AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM st),
           |r0 AS (SELECT state, 1000000 // ns AS pi
           |  FROM st CROSS JOIN nsf),
           |$rounds
           |SELECT r4.state, r4.pi AS pi_ppm, r3.pi AS pi_prev_ppm,
           |  CAST(abs(r4.pi - r3.pi) AS BIGINT) AS delta_ppm
           |FROM r4 JOIN r3 ON r4.state = r3.state
           |ORDER BY r4.state""".stripMargin
      }),

    // ---- Kendall tau-b on the quantized cell grid ---------------------------
    // The concordance counterpart of q286's Spearman: tau-b between
    // n_chars and token count per source, made CORPUS-SCALE-SAFE by
    // quantizing both metrics to 16 equi-width levels first — pair
    // counting is inherently quadratic, but on the quantized JOINT cell
    // frame it is quadratic in ≤ 16² cells per source, NEVER in docs
    // (the q85/q211 boundedness discipline applied to an O(n²)
    // statistic). Concordant/discordant mass via one cell self-join with
    // conditional sums; tie corrections from the two marginals; the
    // strict-quantile tie mass is part of the statistic under
    // quantization and is reported. sign + tau² in bp via the q286
    // two-stage Cauchy–Schwarz-bounded divide, identical spelling both
    // engines; quantization offsets are non-negative before every DIV.
    "q292_kendall_cells" -> QueryDef(
      (s, dir) => {
        val base = Materialize(tableParallel(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("long").as("va"),
            size(tokens(col("text"))).cast("long").as("vb")))
        val rng = base.groupBy("source").agg(
          min("va").as("mna"), max("va").as("mxa"),
          min("vb").as("mnb"), max("vb").as("mxb"))
        val cells = Materialize(base.join(broadcast(rng), "source")
          .withColumn("qa", expr(
            "(va - mna) * 15 DIV greatest(mxa - mna, 1)"))
          .withColumn("qb", expr(
            "(vb - mnb) * 15 DIV greatest(mxb - mnb, 1)"))
          .groupBy("source", "qa", "qb")
          .agg(count(lit(1)).as("f")))
        val cd = cells.as("a").join(cells.as("b"),
            col("a.source") === col("b.source") &&
              col("a.qa") < col("b.qa"))
          .groupBy(col("a.source").as("source"))
          .agg(sum(expr(
            "CASE WHEN b.qb > a.qb THEN a.f * b.f ELSE 0 END"))
            .as("conc"),
            sum(expr(
              "CASE WHEN b.qb < a.qb THEN a.f * b.f ELSE 0 END"))
              .as("disc"))
        val ties = cells.groupBy("source").agg(sum("f").as("n"))
          .join(cells.groupBy("source", "qa")
            .agg(sum("f").as("ta")).groupBy("source")
            .agg(expr("sum(ta * (ta - 1)) DIV 2").as("tie_a")),
            "source")
          .join(cells.groupBy("source", "qb")
            .agg(sum("f").as("tb")).groupBy("source")
            .agg(expr("sum(tb * (tb - 1)) DIV 2").as("tie_b")),
            "source")
        cd.join(ties, "source")
          .withColumn("n0", expr("n * (n - 1) DIV 2"))
          .withColumn("num", expr("conc - disc"))
          .select(col("source"), col("n"), col("conc"), col("disc"),
            col("tie_a"), col("tie_b"),
            expr("CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 " +
              "ELSE 0 END AS BIGINT)").as("sgn"),
            expr("""CAST(CAST(num AS DECIMAL(38,0)) * num
                   | DIV greatest(n0 - tie_a, 1) * 10000
                   | DIV greatest(n0 - tie_b, 1) AS BIGINT)"""
              .stripMargin).as("taub2_bp"))
          .orderBy("source")
      },
      Some(s"""WITH pr AS (SELECT source,
              |    CAST(n_chars AS BIGINT) AS va,
              |    CAST(len($duckToks) AS BIGINT) AS vb
              |  FROM documents),
              |rng AS (SELECT source, min(va) AS mna, max(va) AS mxa,
              |    min(vb) AS mnb, max(vb) AS mxb
              |  FROM pr GROUP BY 1),
              |cells AS (SELECT pr.source,
              |    (va - mna) * 15 // greatest(mxa - mna, 1) AS qa,
              |    (vb - mnb) * 15 // greatest(mxb - mnb, 1) AS qb,
              |    CAST(count(*) AS BIGINT) AS f
              |  FROM pr JOIN rng ON pr.source = rng.source
              |  GROUP BY 1, 2, 3),
              |cd AS (SELECT a.source,
              |    CAST(sum(CASE WHEN b.qb > a.qb THEN a.f * b.f
              |      ELSE 0 END) AS BIGINT) AS conc,
              |    CAST(sum(CASE WHEN b.qb < a.qb THEN a.f * b.f
              |      ELSE 0 END) AS BIGINT) AS disc
              |  FROM cells a JOIN cells b
              |    ON a.source = b.source AND a.qa < b.qa
              |  GROUP BY 1),
              |nn AS (SELECT source, CAST(sum(f) AS BIGINT) AS n
              |  FROM cells GROUP BY 1),
              |tta AS (SELECT source,
              |    CAST(sum(ta * (ta - 1)) // 2 AS BIGINT) AS tie_a
              |  FROM (SELECT source, qa, CAST(sum(f) AS BIGINT) AS ta
              |        FROM cells GROUP BY 1, 2) GROUP BY 1),
              |ttb AS (SELECT source,
              |    CAST(sum(tb * (tb - 1)) // 2 AS BIGINT) AS tie_b
              |  FROM (SELECT source, qb, CAST(sum(f) AS BIGINT) AS tb
              |        FROM cells GROUP BY 1, 2) GROUP BY 1),
              |j AS (SELECT cd.source, n, conc, disc, tie_a, tie_b,
              |    n * (n - 1) // 2 AS n0, conc - disc AS num
              |  FROM cd JOIN nn USING (source) JOIN tta USING (source)
              |  JOIN ttb USING (source))
              |SELECT source, n, conc, disc, tie_a, tie_b,
              |  CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1
              |    ELSE 0 END AS BIGINT) AS sgn,
              |  CAST(CAST(num AS HUGEINT) * num
              |    // greatest(n0 - tie_a, 1) * 10000
              |    // greatest(n0 - tie_b, 1) AS BIGINT) AS taub2_bp
              |FROM j ORDER BY source""".stripMargin)),

    // ---- watermark lateness audit (the streaming design decision) ----------
    // Before a streaming job picks `withWatermark(δ)`, someone must
    // answer: how much data would δ actually drop? This audit replays
    // the corpus under Spark's own micro-batch watermark semantics —
    // arrival = event time + deterministic md5 network jitter (≤ 2 h),
    // the watermark advances at arrival-HOUR granularity (exactly the
    // per-micro-batch advance a real query makes), and an event is
    // dropped iff the watermark that was current when it ARRIVED had
    // already passed its event time by more than δ. The causal running
    // max runs on the BOUNDED arrival-hour frame (never a corpus-wide
    // ordered window); events join their previous hour's cumulative max
    // by equi-key. Three δ candidates price the decision in exact bp;
    // max observed lateness is the tail witness. Everything integer
    // (epoch micros), both engines identical.
    "q301_watermark_lateness" -> QueryDef(
      (s, dir) => {
        val ev = Materialize(table(s, dir, "events")
          .select(unix_micros(col("ts")).as("us"), col("event_id"))
          .withColumn("jit_s", expr(
            "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8)" +
              ", 16, 10) AS BIGINT) % 7200"))
          .withColumn("arr_us", expr("us + jit_s * 1000000"))
          .withColumn("ah", expr("arr_us DIV 3600000000"))
          .select("us", "arr_us", "ah"))
        val hourly = ev.groupBy("ah").agg(max("us").as("mx"))
        val wmark = hourly
          .withColumn("wm_prev", coalesce(max("mx").over(
            Window.orderBy("ah")
              .rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select("ah", "wm_prev")
        val late = Materialize(ev.join(wmark, "ah")
          .withColumn("late_us", greatest(col("wm_prev") - col("us"),
            lit(0L)))
          .select("late_us"))
        val deltas = s.range(0, 3).select(expr(
          """CAST(CASE id WHEN 0 THEN 1800 WHEN 1 THEN 3600
            | ELSE 7200 END AS BIGINT)""".stripMargin).as("wm_s"))
        late.crossJoin(broadcast(deltas))
          .groupBy("wm_s")
          .agg(count(lit(1)).as("n_events"),
            sum(expr("CASE WHEN late_us > wm_s * 1000000 THEN 1 " +
              "ELSE 0 END")).as("dropped"),
            expr("max(late_us) DIV 1000000").as("max_late_s"))
          .withColumn("dropped_bp", expr("dropped * 10000 DIV n_events"))
          .select("wm_s", "n_events", "dropped", "dropped_bp",
            "max_late_s")
          .orderBy("wm_s")
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) AS us,
             |    epoch_us(ts) + (CAST(('0x' ||
             |        substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
             |        AS BIGINT) % 7200) * 1000000 AS arr_us
             |  FROM events),
             |e2 AS (SELECT us, arr_us, arr_us // 3600000000 AS ah
             |  FROM ev),
             |hourly AS (SELECT ah, max(us) AS mx FROM e2 GROUP BY 1),
             |wm AS (SELECT ah, CAST(COALESCE(max(mx) OVER
             |      (ORDER BY ah
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS BIGINT) AS wm_prev
             |  FROM hourly),
             |late AS (SELECT greatest(wm_prev - us, 0) AS late_us
             |  FROM e2 JOIN wm USING (ah)),
             |deltas AS (SELECT CAST(unnest([1800, 3600, 7200])
             |    AS BIGINT) AS wm_s)
             |SELECT wm_s, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(CASE WHEN late_us > wm_s * 1000000 THEN 1
             |    ELSE 0 END) AS BIGINT) AS dropped,
             |  CAST(sum(CASE WHEN late_us > wm_s * 1000000 THEN 1
             |    ELSE 0 END) * 10000 // count(*) AS BIGINT)
             |    AS dropped_bp,
             |  CAST(max(late_us) // 1000000 AS BIGINT) AS max_late_s
             |FROM late CROSS JOIN deltas
             |GROUP BY wm_s ORDER BY wm_s""".stripMargin)),

    // ---- bitemporal as-of (valid time × transaction time) ------------------
    // The warehouse question q277's SCD-2 cannot answer alone: "what did
    // the system BELIEVE at transaction time Tt about the state at valid
    // time Tv?" — the reproducibility primitive behind every training-run
    // audit ("rebuild the exact feature table the run saw"). Valid time =
    // the purchase's event time; transaction time = when it became
    // visible (event time + the q301 deterministic md5 ingest jitter,
    // ≤ 2 h). For each cell of a 3×2 (Tv × Tt) literal grid (epoch-µs
    // literals generated once in Scala and inlined into BOTH engines),
    // each user's visible record is the (valid, txn, event_id)-max among
    // rows with valid ≤ Tv AND txn ≤ Tt — one corpus×6 fan-out, the
    // rank window co-partitioned on (cell, user). Teeth: Tt = Tv sees
    // FEWER records than Tt = Tv + 2 h (in-flight rows near the valid
    // cut are invisible until their jitter lands) — the audit output
    // carries both so the retroactive-visibility gap is measured, not
    // assumed.
    "q302_bitemporal_asof" -> QueryDef(
      (s, dir) => {
        def epochUs(day: Int, hour: Int): Long =
          java.time.LocalDateTime.of(2024, 1, day, hour, 0)
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
        val grid = Seq(8, 15, 22).flatMap(d =>
          Seq(0, 2).map(h => (epochUs(d, 0), epochUs(d, h))))
        def gcase(f: ((Long, Long)) => Long): String =
          grid.zipWithIndex.map { case (g, i) =>
            s"WHEN $i THEN CAST(${f(g)} AS BIGINT)"
          }.mkString("CASE gid ", " ", " END")
        val cells = s.range(0, 6).select(col("id").as("gid"))
          .withColumn("tv_us", expr(gcase(_._1)))
          .withColumn("tt_us", expr(gcase(_._2)))
        val pur = Materialize(table(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("valid_us"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
          .withColumn("txn_us", expr(
            "valid_us + (CAST(conv(substring(md5(CAST(event_id AS " +
              "STRING)), 1, 8), 16, 10) AS BIGINT) % 7200) * 1000000")))
        val vis = pur.crossJoin(broadcast(cells))
          .filter(col("valid_us") <= col("tv_us") &&
            col("txn_us") <= col("tt_us"))
        val w = Window.partitionBy("gid", "user_id")
          .orderBy(col("valid_us").desc, col("txn_us").desc,
            col("event_id").desc)
        vis.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("gid", "tv_us", "tt_us")
          .agg(count(lit(1)).as("n_users"),
            sum("cents").as("sum_cents"),
            max(expr("tt_us - valid_us")).as("max_staleness_us"))
          .withColumn("max_staleness_s",
            expr("max_staleness_us DIV 1000000"))
          .select("gid", "tv_us", "tt_us", "n_users", "sum_cents",
            "max_staleness_s")
          .orderBy("gid")
      },
      Some {
        def epochUs(day: Int, hour: Int): Long =
          java.time.LocalDateTime.of(2024, 1, day, hour, 0)
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
        val grid = Seq(8, 15, 22).flatMap(d =>
          Seq(0, 2).map(h => (epochUs(d, 0), epochUs(d, h))))
        val gridRows = grid.zipWithIndex.map { case ((tv, tt), i) =>
          s"($i, CAST($tv AS BIGINT), CAST($tt AS BIGINT))"
        }.mkString(", ")
        s"""WITH cells(gid, tv_us, tt_us) AS (VALUES $gridRows),
           |pur AS (SELECT user_id, event_id,
           |    epoch_us(ts) AS valid_us,
           |    CAST(floor(value * 100) AS BIGINT) AS cents,
           |    epoch_us(ts) + (CAST(('0x' ||
           |        substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
           |        AS BIGINT) % 7200) * 1000000 AS txn_us
           |  FROM events WHERE event_type = 'purchase'),
           |vis AS (SELECT gid, tv_us, tt_us, user_id, valid_us,
           |    txn_us, cents, event_id
           |  FROM pur CROSS JOIN cells
           |  WHERE valid_us <= tv_us AND txn_us <= tt_us),
           |rk AS (SELECT *, row_number() OVER
           |    (PARTITION BY gid, user_id
           |     ORDER BY valid_us DESC, txn_us DESC, event_id DESC)
           |      AS rn
           |  FROM vis)
           |SELECT CAST(gid AS BIGINT) AS gid, tv_us, tt_us,
           |  CAST(count(*) AS BIGINT) AS n_users,
           |  CAST(sum(cents) AS BIGINT) AS sum_cents,
           |  CAST(max(tt_us - valid_us) // 1000000 AS BIGINT)
           |    AS max_staleness_s
           |FROM rk WHERE rn = 1
           |GROUP BY 1, 2, 3 ORDER BY gid""".stripMargin
      }),

    // ---- expert-routing capacity audit (MoE load balance) ------------------
    // The capacity-factor decision every mixture-of-experts data plane
    // makes: content-routed shards are SKEWED (here: md5 of each doc's
    // leading token mod 8 — leading-token mass is naturally Zipfian),
    // and a capacity factor must trade dropped tokens against wasted
    // slack. One corpus pass to the 8-row expert-load frame; the 3-cf
    // fan-out prices cap = ⌈cf·N/8⌉ (exact ceil in integers), per-cf
    // dropped docs/bp and experts over cap, plus the cf-independent
    // max-load share witness. The audit is the routing twin of q197's
    // shard-rebalance and q253's hashing-trick collision audits — same
    // discipline, the decision variable is capacity instead of bucket
    // count.
    "q303_expert_capacity" -> QueryDef(
      (s, dir) => {
        val loads = Materialize(tableParallel(s, dir, "documents")
          .select(expr(
            "CAST(conv(substring(md5(element_at(" +
              "split(lower(trim(text)), '\\\\s+'), 1)), 1, 8), 16, 10) " +
              "AS BIGINT) % 8").as("expert"))
          .groupBy("expert").agg(count(lit(1)).as("load")))
        val tot = loads.agg(sum("load").as("nt"),
          max("load").as("mx"))
        val cfs = s.range(0, 3).select(expr(
          """CAST(CASE id WHEN 0 THEN 100 WHEN 1 THEN 125
            | ELSE 150 END AS BIGINT)""".stripMargin).as("cf_pct"))
        loads.crossJoin(broadcast(tot)).crossJoin(broadcast(cfs))
          .withColumn("cap", expr("(nt * cf_pct + 799) DIV 800"))
          .groupBy("cf_pct")
          .agg(max("cap").as("cap"), max("mx").as("max_load"),
            max("nt").as("n_docs"),
            sum(expr("CASE WHEN load > cap THEN 1 ELSE 0 END"))
              .as("experts_over"),
            sum(expr("greatest(load - cap, CAST(0 AS BIGINT))"))
              .as("dropped"))
          .withColumn("dropped_bp", expr("dropped * 10000 DIV n_docs"))
          .withColumn("max_share_bp", expr(
            "max_load * 10000 DIV n_docs"))
          .select("cf_pct", "n_docs", "cap", "max_load", "max_share_bp",
            "experts_over", "dropped", "dropped_bp")
          .orderBy("cf_pct")
      },
      Some("""WITH r AS (SELECT CAST(('0x' || substr(md5(
             |      regexp_split_to_array(lower(trim(text)),
             |        '\s+')[1]), 1, 8)) AS BIGINT) % 8 AS expert
             |  FROM documents),
             |loads AS (SELECT expert, CAST(count(*) AS BIGINT) AS load
             |  FROM r GROUP BY 1),
             |tot AS (SELECT CAST(sum(load) AS BIGINT) AS nt,
             |    CAST(max(load) AS BIGINT) AS mx FROM loads),
             |cfs AS (SELECT CAST(unnest([100, 125, 150]) AS BIGINT)
             |    AS cf_pct),
             |pc AS (SELECT cf_pct, load, nt, mx,
             |    (nt * cf_pct + 799) // 800 AS cap
             |  FROM loads CROSS JOIN tot CROSS JOIN cfs)
             |SELECT cf_pct, max(nt) AS n_docs, max(cap) AS cap,
             |  max(mx) AS max_load,
             |  CAST(max(mx) * 10000 // max(nt) AS BIGINT)
             |    AS max_share_bp,
             |  CAST(sum(CASE WHEN load > cap THEN 1 ELSE 0 END)
             |    AS BIGINT) AS experts_over,
             |  CAST(sum(greatest(load - cap, 0)) AS BIGINT) AS dropped,
             |  CAST(sum(greatest(load - cap, 0)) * 10000 // max(nt)
             |    AS BIGINT) AS dropped_bp
             |FROM pc GROUP BY 1 ORDER BY cf_pct""".stripMargin)),

    // ---- speculative-draft acceptance audit ---------------------------------
    // How often would a greedy word-bigram draft model's proposal be
    // ACCEPTED by the target (i.e., equal the actual next word)? The
    // acceptance-rate audit that decides whether speculative decoding
    // pays for a corpus: draft(w1) = argmax_w2 c(w1, w2) trained on the
    // doc_id % 4 ≠ 0 split (ties → lexicographically smallest w2, the
    // deterministic argmax both engines replay), scored on held-out
    // bigram occurrences per source. Unseen histories are their own
    // category (the draft must propose SOMETHING; here they count as
    // rejected and are reported). One corpus pass per split; the argmax
    // and the scoring join run on bigram-type frames.
    "q304_draft_acceptance" -> QueryDef(
      (s, dir) => {
        val docs = tableParallel(s, dir, "documents")
        def bigrams(d: org.apache.spark.sql.DataFrame) = d
          .select(col("source"), tokens(col("text")).as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(col("source"), explode(expr(
            """transform(sequence(0, size(ws) - 2),
              | k -> struct(ws[k] AS w1, ws[k + 1] AS w2))"""
              .stripMargin)).as("bg"))
          .select(col("source"), col("bg.w1").as("w1"),
            col("bg.w2").as("w2"))
        val train = Materialize(
          bigrams(docs.filter(expr("doc_id % 4 != 0")))
            .groupBy("w1", "w2").agg(count(lit(1)).as("c")))
        val draft = train
          .withColumn("rn", row_number().over(Window.partitionBy("w1")
            .orderBy(col("c").desc, col("w2").asc)))
          .filter(col("rn") === 1)
          .select(col("w1"), col("w2").as("draft_w2"))
        val held = bigrams(docs.filter(expr("doc_id % 4 = 0")))
          .groupBy("source", "w1", "w2").agg(count(lit(1)).as("h"))
        held.join(draft, Seq("w1"), "left")
          .groupBy("source")
          .agg(sum("h").as("n_tokens"),
            sum(expr("CASE WHEN draft_w2 = w2 THEN h ELSE 0 END"))
              .as("accepted"),
            sum(expr("CASE WHEN draft_w2 IS NULL THEN h ELSE 0 END"))
              .as("unseen_hist"))
          .withColumn("accept_bp", expr(
            "accepted * 10000 DIV n_tokens"))
          .select("source", "n_tokens", "accepted", "accept_bp",
            "unseen_hist")
          .orderBy("source")
      },
      Some(s"""WITH d0 AS (SELECT doc_id, source, $duckToks AS ws
              |  FROM documents),
              |trb AS (SELECT unnest(ws[1:len(ws) - 1]) AS w1,
              |    unnest(ws[2:len(ws)]) AS w2
              |  FROM d0 WHERE doc_id % 4 != 0 AND len(ws) >= 2),
              |train AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
              |  FROM trb GROUP BY 1, 2),
              |draft AS (SELECT w1, w2 AS draft_w2 FROM (
              |    SELECT w1, w2, row_number() OVER (PARTITION BY w1
              |      ORDER BY c DESC, w2 ASC) AS rn FROM train)
              |  WHERE rn = 1),
              |heb AS (SELECT source, unnest(ws[1:len(ws) - 1]) AS w1,
              |    unnest(ws[2:len(ws)]) AS w2
              |  FROM d0 WHERE doc_id % 4 = 0 AND len(ws) >= 2),
              |held AS (SELECT source, w1, w2,
              |    CAST(count(*) AS BIGINT) AS h
              |  FROM heb GROUP BY 1, 2, 3)
              |SELECT source, CAST(sum(h) AS BIGINT) AS n_tokens,
              |  CAST(sum(CASE WHEN draft_w2 = w2 THEN h ELSE 0 END)
              |    AS BIGINT) AS accepted,
              |  CAST(sum(CASE WHEN draft_w2 = w2 THEN h ELSE 0 END)
              |    * 10000 // sum(h) AS BIGINT) AS accept_bp,
              |  CAST(sum(CASE WHEN draft_w2 IS NULL THEN h ELSE 0 END)
              |    AS BIGINT) AS unseen_hist
              |FROM held LEFT JOIN draft USING (w1)
              |GROUP BY 1 ORDER BY source""".stripMargin)),

    // ---- sample-ratio-mismatch (SRM) gate -----------------------------------
    // The first check every A/B readout must pass: does the realized
    // assignment ratio match the design? Two assignment pipelines are
    // audited side by side — 'a_clean' (pure md5 of user_id, the q137
    // assignment) and 'b_lossy' (same assignment, but variant-1 users
    // whose FIRST event was an error or a signup are dropped —
    // DIFFERENTIAL LOGGING LOSS on the onboarding/error instrumentation
    // paths, the classic silent SRM cause: the bug is not in the
    // randomizer, it is downstream of it). The χ²(1 df) decision against
    // the 50/50 design is the exact cross-multiplication
    // (na − nb)²·10⁵ > 384146·(na + nb) (χ²₀.₀₅ = 3.84146 scaled) — no
    // float, no division. chi2_e4 (χ²·10⁴, truncating) is carried for
    // magnitude. One user rollup; everything after is a 2-row frame.
    "q306_srm_check" -> QueryDef(
      (s, dir) => {
        val users = Materialize(table(s, dir, "events")
          .groupBy("user_id")
          .agg(min(struct(unix_micros(col("ts")), col("event_id"),
            col("event_type"))).as("fe"))
          .withColumn("had_err", expr(
            "CASE WHEN fe.event_type IN ('error', 'signup') " +
              "THEN 1 ELSE 0 END"))
          .withColumn("variant", expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8)" +
              ", 16, 10) AS BIGINT) % 2"))
          .select("user_id", "had_err", "variant"))
        val clean = users.agg(lit("a_clean").as("scheme"),
          sum(expr("1 - variant")).as("na"),
          sum("variant").as("nb"))
        val lossy = users
          .filter(expr("NOT (variant = 1 AND had_err = 1)"))
          .agg(lit("b_lossy").as("scheme"),
            sum(expr("1 - variant")).as("na"),
            sum("variant").as("nb"))
        clean.unionAll(lossy)
          .withColumn("n", expr("na + nb"))
          .withColumn("delta", expr("na - nb"))
          .withColumn("chi2_e4", expr(
            "CAST(CAST(delta AS DECIMAL(38,0)) * delta * 10000 DIV n " +
              "AS BIGINT)"))
          .withColumn("srm_flag", expr(
            """CAST(CASE WHEN CAST(delta AS DECIMAL(38,0)) * delta
              |    * 100000 > CAST(384146 AS DECIMAL(38,0)) * n
              |  THEN 1 ELSE 0 END AS BIGINT)""".stripMargin))
          .select("scheme", "na", "nb", "delta", "chi2_e4", "srm_flag")
          .orderBy("scheme")
      },
      Some("""WITH u AS (SELECT user_id,
             |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
             |      1, 8)) AS BIGINT) % 2 AS variant,
             |    CASE WHEN min(struct_pack(us := epoch_us(ts),
             |        eid := event_id, et := event_type)).et
             |        IN ('error', 'signup')
             |      THEN 1 ELSE 0 END AS had_err
             |  FROM events GROUP BY 1),
             |sch AS (SELECT 'a_clean' AS scheme,
             |    CAST(sum(1 - variant) AS BIGINT) AS na,
             |    CAST(sum(variant) AS BIGINT) AS nb
             |  FROM u
             |  UNION ALL
             |  SELECT 'b_lossy',
             |    CAST(sum(1 - variant) AS BIGINT),
             |    CAST(sum(variant) AS BIGINT)
             |  FROM u WHERE NOT (variant = 1 AND had_err = 1))
             |SELECT scheme, na, nb, na - nb AS delta,
             |  CAST(CAST(na - nb AS HUGEINT) * (na - nb) * 10000
             |    // (na + nb) AS BIGINT) AS chi2_e4,
             |  CAST(CASE WHEN CAST(na - nb AS HUGEINT) * (na - nb)
             |      * 100000 > CAST(384146 AS HUGEINT) * (na + nb)
             |    THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
             |FROM sch ORDER BY scheme""".stripMargin)),

    // ---- Bradley–Terry preference strength (RLHF reward-data prep) --------
    // Pairwise preference data is the raw material of reward modeling;
    // before training on it, fit per-source strength to sanity-check the
    // label pipeline (a source whose BT strength contradicts its known
    // quality tier has a labeling bug). Preferences are synthesized
    // deterministically: docs bucketed by (lang, md5-bucket-of-8) are
    // compared pairwise across sources, longer doc wins (ties -> the
    // lower doc_id's side). The ONLY corpus-scale stages are the bounded
    // bucket equi-join (cell size ~ corpus/(langs*B); B is a FIXED
    // parameter, 8 here, so per-cell pair enumeration grows quadratically
    // with corpus size — at scale B must be raised with the corpus, see
    // SCALE.md — never an all-pairs join) and
    // one groupBy to the k*k win matrix; k = |sources| is tiny, so the
    // minorization–maximization fixpoint runs on the driver exactly like
    // MLlib holds a factor vector. 3 MM rounds in BigInt (the q296
    // lesson: driver arithmetic must not wrap where the HUGEINT oracle
    // would raise): d_i = sum_j n_ij*1e9/(p_i+p_j), p_i' = W_i*1e9/d_i,
    // renormalized to sum k*1000 with a floor of 1 milli (a winless
    // source must not zero a later denominator). All divisions are
    // floor-on-nonnegative, identical in BigInt and HUGEINT //.
    "q309_bradley_terry" -> QueryDef(
      (s, dir) => {
        val docs = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"),
            (hash32(concat(lit("bt|"), col("doc_id").cast("string")))
              % 8).as("bkt")))
        val wins = docs.as("a").join(docs.as("b"),
            col("a.lang") === col("b.lang") &&
              col("a.bkt") === col("b.bkt") &&
              col("a.doc_id") < col("b.doc_id") &&
              col("a.source") =!= col("b.source"))
          .select(
            when(col("a.n_chars") >= col("b.n_chars"), col("a.source"))
              .otherwise(col("b.source")).as("win_src"),
            when(col("a.n_chars") >= col("b.n_chars"), col("b.source"))
              .otherwise(col("a.source")).as("lose_src"))
          .groupBy("win_src", "lose_src").agg(count(lit(1)).as("w"))
        val srcs = docs.select("source").distinct()
          .collect().map(_.getString(0)).sorted
        val wmap = wins.collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        def w(i: String, j: String) = BigInt(wmap.getOrElse((i, j), 0L))
        val bigW = srcs.map(i =>
          i -> srcs.filter(_ != i).map(j => w(i, j)).sum).toMap
        val games = srcs.map(i =>
          i -> srcs.filter(_ != i).map(j => w(i, j) + w(j, i)).sum).toMap
        val k = srcs.length
        val sc = BigInt(1000000000L)
        var p = srcs.map(_ -> BigInt(1000)).toMap
        for (_ <- 1 to 3) {
          val d = srcs.map { i =>
            i -> srcs.filter(j => j != i && (w(i, j) + w(j, i)) > 0)
              .map(j => (w(i, j) + w(j, i)) * sc / (p(i) + p(j))).sum
          }.toMap
          val praw = srcs.map { i =>
            i -> (if (d(i) == 0) BigInt(0) else bigW(i) * sc / d(i))
          }.toMap
          val tot = praw.values.sum.max(BigInt(1))
          p = srcs.map(i =>
            i -> (praw(i) * 1000 * k / tot).max(BigInt(1))).toMap
        }
        val ranked = srcs.sortBy(i => (-p(i), i)).zipWithIndex
          .map { case (i, r) => i -> (r + 1L) }.toMap
        import s.implicits._
        srcs.map(i => (i, games(i).toLong, bigW(i).toLong,
            p(i).toLong, ranked(i)))
          .toSeq
          .toDF("source", "games", "wins", "p_milli", "bt_rank")
          .orderBy("source")
      },
      Some("""WITH docs AS (SELECT doc_id, source, lang, n_chars,
             |    CAST(('0x' || substr(md5('bt|' ||
             |      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
             |      AS bkt
             |  FROM documents),
             |pw AS (SELECT
             |    CASE WHEN a.n_chars >= b.n_chars THEN a.source
             |      ELSE b.source END AS win_src,
             |    CASE WHEN a.n_chars >= b.n_chars THEN b.source
             |      ELSE a.source END AS lose_src
             |  FROM docs a JOIN docs b
             |    ON a.lang = b.lang AND a.bkt = b.bkt
             |    AND a.doc_id < b.doc_id AND a.source <> b.source),
             |wm AS (SELECT win_src, lose_src,
             |    CAST(count(*) AS BIGINT) AS w
             |  FROM pw GROUP BY 1, 2),
             |srcs AS (SELECT DISTINCT source FROM documents),
             |g AS (SELECT st.i, st.j,
             |    COALESCE(w1.w, 0) + COALESCE(w2.w, 0) AS n,
             |    COALESCE(w1.w, 0) AS wij
             |  FROM (SELECT s.source AS i, t.source AS j
             |    FROM srcs s JOIN srcs t ON s.source <> t.source) st
             |  LEFT JOIN wm w1
             |    ON w1.win_src = st.i AND w1.lose_src = st.j
             |  LEFT JOIN wm w2
             |    ON w2.win_src = st.j AND w2.lose_src = st.i),
             |wtot AS (SELECT i AS source,
             |    CAST(sum(wij) AS HUGEINT) AS wins,
             |    CAST(sum(n) AS BIGINT) AS games
             |  FROM g GROUP BY 1),
             |p0 AS (SELECT source, CAST(1000 AS HUGEINT) AS p
             |  FROM srcs),
             |d1 AS (SELECT g.i AS source,
             |    sum((CAST(g.n AS HUGEINT) * 1000000000) //
             |      (pi.p + pj.p)) AS d
             |  FROM g JOIN p0 pi ON pi.source = g.i
             |    JOIN p0 pj ON pj.source = g.j
             |  WHERE g.n > 0 GROUP BY 1),
             |q1 AS (SELECT w.source, CASE WHEN COALESCE(d.d, 0) = 0
             |    THEN CAST(0 AS HUGEINT)
             |    ELSE (w.wins * 1000000000) // d.d END AS praw
             |  FROM wtot w LEFT JOIN d1 d ON d.source = w.source),
             |p1 AS (SELECT source, greatest(CAST(1 AS HUGEINT),
             |    (praw * 1000 * (count(*) OVER ())) //
             |      greatest(CAST(1 AS HUGEINT), sum(praw) OVER ()))
             |    AS p
             |  FROM q1),
             |d2 AS (SELECT g.i AS source,
             |    sum((CAST(g.n AS HUGEINT) * 1000000000) //
             |      (pi.p + pj.p)) AS d
             |  FROM g JOIN p1 pi ON pi.source = g.i
             |    JOIN p1 pj ON pj.source = g.j
             |  WHERE g.n > 0 GROUP BY 1),
             |q2 AS (SELECT w.source, CASE WHEN COALESCE(d.d, 0) = 0
             |    THEN CAST(0 AS HUGEINT)
             |    ELSE (w.wins * 1000000000) // d.d END AS praw
             |  FROM wtot w LEFT JOIN d2 d ON d.source = w.source),
             |p2 AS (SELECT source, greatest(CAST(1 AS HUGEINT),
             |    (praw * 1000 * (count(*) OVER ())) //
             |      greatest(CAST(1 AS HUGEINT), sum(praw) OVER ()))
             |    AS p
             |  FROM q2),
             |d3 AS (SELECT g.i AS source,
             |    sum((CAST(g.n AS HUGEINT) * 1000000000) //
             |      (pi.p + pj.p)) AS d
             |  FROM g JOIN p2 pi ON pi.source = g.i
             |    JOIN p2 pj ON pj.source = g.j
             |  WHERE g.n > 0 GROUP BY 1),
             |q3 AS (SELECT w.source, CASE WHEN COALESCE(d.d, 0) = 0
             |    THEN CAST(0 AS HUGEINT)
             |    ELSE (w.wins * 1000000000) // d.d END AS praw
             |  FROM wtot w LEFT JOIN d3 d ON d.source = w.source),
             |p3 AS (SELECT source, greatest(CAST(1 AS HUGEINT),
             |    (praw * 1000 * (count(*) OVER ())) //
             |      greatest(CAST(1 AS HUGEINT), sum(praw) OVER ()))
             |    AS p
             |  FROM q3)
             |SELECT w.source, w.games,
             |  CAST(w.wins AS BIGINT) AS wins,
             |  CAST(p3.p AS BIGINT) AS p_milli,
             |  CAST(row_number() OVER (ORDER BY p3.p DESC, w.source)
             |    AS BIGINT) AS bt_rank
             |FROM wtot w JOIN p3 ON p3.source = w.source
             |ORDER BY w.source""".stripMargin)),

    // ---- Condorcet / Copeland preference-aggregation audit -----------------
    // The q309 pairwise matrix answers "how strong is each source"; this
    // audits whether the preference data is even RANKABLE: Copeland
    // scores (majority wins/losses per source), the Condorcet-winner
    // flag (beats every opponent head-to-head), and the number of
    // majority 3-cycles (rock-paper-scissors triples — each one is
    // direct evidence of inconsistent labeling, since a transitive
    // ground truth cannot produce a cycle). Fully distributed: the
    // corpus collapses to the k*k majority matrix in one bucketed
    // equi-join (same fixed bucket modulus as q309 — raise with corpus
    // size at scale) + groupBy; the cycle count is a 3-way self-join of the
    // <=k^2-row edge frame (broadcast, bounded by construction). Each
    // directed 3-cycle is counted once: the rotation with the smallest
    // source first.
    "q310_condorcet_cycles" -> QueryDef(
      (s, dir) => {
        val docs = Materialize(tableParallel(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"),
            (hash32(concat(lit("bt|"), col("doc_id").cast("string")))
              % 8).as("bkt")))
        val wm = Materialize(docs.as("a").join(docs.as("b"),
            col("a.lang") === col("b.lang") &&
              col("a.bkt") === col("b.bkt") &&
              col("a.doc_id") < col("b.doc_id") &&
              col("a.source") =!= col("b.source"))
          .select(
            when(col("a.n_chars") >= col("b.n_chars"), col("a.source"))
              .otherwise(col("b.source")).as("win_src"),
            when(col("a.n_chars") >= col("b.n_chars"), col("b.source"))
              .otherwise(col("a.source")).as("lose_src"))
          .groupBy("win_src", "lose_src").agg(count(lit(1)).as("w")))
        // ordered pairs with >=1 game, by a full-outer equi-join of the
        // win matrix with its own transpose — NEVER a srcs*srcs cross
        // (that would be an unbounded-build NLJ; here every join is an
        // equi-join and the frame is at most k*(k-1) rows). Sources with
        // zero games rejoin via the left join below; their no_game count
        // falls out of k-1 minus the played opponents.
        val gm = Materialize(wm.as("w1").join(wm.as("w2"),
            col("w1.win_src") === col("w2.lose_src") &&
              col("w1.lose_src") === col("w2.win_src"), "full_outer")
          .select(
            coalesce(col("w1.win_src"), col("w2.lose_src")).as("i"),
            coalesce(col("w1.lose_src"), col("w2.win_src")).as("j"),
            coalesce(col("w1.w"), lit(0L)).as("wij"),
            coalesce(col("w2.w"), lit(0L)).as("wji")))
        val played = gm.groupBy(col("i").as("source")).agg(
          sum(when(col("wij") > col("wji"), 1L).otherwise(0L))
            .as("maj_wins"),
          sum(when(col("wij") < col("wji"), 1L).otherwise(0L))
            .as("maj_losses"),
          sum(when(col("wij") === col("wji"), 1L).otherwise(0L))
            .as("maj_ties"))
        val srcs = docs.select("source").distinct()
        val kdf = srcs.agg(count(lit(1)).as("k"))
        val e = gm.filter(col("wij") > col("wji"))
          .select(col("i").as("esrc"), col("j").as("edst"))
        val cyc = e.as("e1")
          .join(e.as("e2"), col("e1.edst") === col("e2.esrc"))
          .join(e.as("e3"), col("e2.edst") === col("e3.esrc") &&
            col("e3.edst") === col("e1.esrc"))
          .filter(col("e1.esrc") < col("e2.esrc") &&
            col("e1.esrc") < col("e3.esrc"))
          .agg(count(lit(1)).as("cycles_total"))
        srcs.join(played, Seq("source"), "left")
          .join(broadcast(kdf)).join(broadcast(cyc))
          .select(col("source"),
            coalesce(col("maj_wins"), lit(0L)).as("maj_wins"),
            coalesce(col("maj_losses"), lit(0L)).as("maj_losses"),
            coalesce(col("maj_ties"), lit(0L)).as("maj_ties"),
            col("k"), col("cycles_total"))
          .withColumn("no_game", col("k") - 1 -
            col("maj_wins") - col("maj_losses") - col("maj_ties"))
          .withColumn("condorcet",
            when(col("maj_wins") === col("k") - 1, 1L).otherwise(0L))
          .select("source", "maj_wins", "maj_losses", "maj_ties",
            "no_game", "condorcet", "cycles_total")
          .orderBy("source")
      },
      Some("""WITH docs AS (SELECT doc_id, source, lang, n_chars,
             |    CAST(('0x' || substr(md5('bt|' ||
             |      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
             |      AS bkt
             |  FROM documents),
             |pw AS (SELECT
             |    CASE WHEN a.n_chars >= b.n_chars THEN a.source
             |      ELSE b.source END AS win_src,
             |    CASE WHEN a.n_chars >= b.n_chars THEN b.source
             |      ELSE a.source END AS lose_src
             |  FROM docs a JOIN docs b
             |    ON a.lang = b.lang AND a.bkt = b.bkt
             |    AND a.doc_id < b.doc_id AND a.source <> b.source),
             |wm AS (SELECT win_src, lose_src,
             |    CAST(count(*) AS BIGINT) AS w
             |  FROM pw GROUP BY 1, 2),
             |srcs AS (SELECT DISTINCT source FROM documents),
             |gm AS (SELECT st.i, st.j, COALESCE(w1.w, 0) AS wij,
             |    COALESCE(w2.w, 0) AS wji
             |  FROM (SELECT s.source AS i, t.source AS j
             |    FROM srcs s JOIN srcs t ON s.source <> t.source) st
             |  LEFT JOIN wm w1
             |    ON w1.win_src = st.i AND w1.lose_src = st.j
             |  LEFT JOIN wm w2
             |    ON w2.win_src = st.j AND w2.lose_src = st.i),
             |cope AS (SELECT i AS source,
             |    CAST(sum(CASE WHEN wij > wji THEN 1 ELSE 0 END)
             |      AS BIGINT) AS maj_wins,
             |    CAST(sum(CASE WHEN wij < wji THEN 1 ELSE 0 END)
             |      AS BIGINT) AS maj_losses,
             |    CAST(sum(CASE WHEN wij = wji AND wij + wji > 0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS maj_ties,
             |    CAST(sum(CASE WHEN wij + wji = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS no_game
             |  FROM gm GROUP BY 1),
             |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM srcs),
             |e AS (SELECT i AS esrc, j AS edst FROM gm
             |  WHERE wij > wji),
             |cyc AS (SELECT CAST(count(*) AS BIGINT) AS cycles_total
             |  FROM e e1 JOIN e e2 ON e1.edst = e2.esrc
             |    JOIN e e3 ON e2.edst = e3.esrc
             |      AND e3.edst = e1.esrc
             |  WHERE e1.esrc < e2.esrc AND e1.esrc < e3.esrc)
             |SELECT source, maj_wins, maj_losses, maj_ties, no_game,
             |  CAST(CASE WHEN maj_wins = k - 1 THEN 1 ELSE 0 END
             |    AS BIGINT) AS condorcet,
             |  cycles_total
             |FROM cope CROSS JOIN kk CROSS JOIN cyc
             |ORDER BY source""".stripMargin)),

    // ---- leave-one-out influence (exact-rational ridge leverage) -----------
    // Data valuation for the training set: which rows move the model
    // most if dropped? For ridge regression the answer is closed-form —
    // leverage h_i = x_iᵀ(XᵀX+λI)⁻¹x_i and LOO residual e_i/(1−h_i) —
    // no refitting. Everything is EXACT integer arithmetic: the 3×3
    // moment matrix A aggregates in one corpus pass (DECIMAL(38,0) /
    // HUGEINT sums); its adjugate and determinant are cofactor
    // polynomials of the moments (det > 0 since A ≻ 0 with λ = 100);
    // h_num = xᵀadj(A)x and e_num = y·det − xᵀadj(A)b are integers, and
    // h_num < det exactly because A ≻ x xᵀ for every row under ridge —
    // so det − h_num ≥ 1 and the LOO quotient is well-defined. The
    // per-row pass is a codegen'd projection against the broadcast
    // 1-row moment frame; top-20 by |LOO residual| via
    // TakeOrderedAndProject (never a global sort). Features are
    // quantized small (priority digit 1–5, order month 0–80, whole
    // dollars) so every product stays ≤ ~1e30 ≪ 1e38 through sf10;
    // past that the audit contract is a hash-sampled slice.
    "q312_loo_influence" -> QueryDef(
      (s, dir) => {
        import graft.functions.IntegerMath.{sdlSql => sdiv}
        val rows = Materialize(table(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT)")
              .as("p"),
            expr("CAST(datediff(CAST(o_orderdate AS DATE), " +
              "DATE '1995-01-01') AS BIGINT) DIV 30").as("m"),
            expr("CAST(floor(o_totalprice) AS BIGINT)").as("y")))
        val mom = rows.agg(
          expr("CAST(count(*) AS DECIMAL(38,0)) + 100").as("s11"),
          expr("CAST(sum(p) AS DECIMAL(38,0))").as("s12"),
          expr("CAST(sum(m) AS DECIMAL(38,0))").as("s13"),
          expr("CAST(sum(p * p) AS DECIMAL(38,0)) + 100").as("s22"),
          expr("CAST(sum(p * m) AS DECIMAL(38,0))").as("s23"),
          expr("CAST(sum(m * m) AS DECIMAL(38,0)) + 100").as("s33"),
          expr("CAST(sum(y) AS DECIMAL(38,0))").as("b1"),
          expr("CAST(sum(p * y) AS DECIMAL(38,0))").as("b2"),
          expr("CAST(sum(m * y) AS DECIMAL(38,0))").as("b3"))
        val cof = mom
          .withColumn("c11", expr("s22 * s33 - s23 * s23"))
          .withColumn("c12", expr("-(s12 * s33 - s13 * s23)"))
          .withColumn("c13", expr("s12 * s23 - s13 * s22"))
          .withColumn("c22", expr("s11 * s33 - s13 * s13"))
          .withColumn("c23", expr("-(s11 * s23 - s12 * s13)"))
          .withColumn("c33", expr("s11 * s22 - s12 * s12"))
          .withColumn("det", expr("s11 * (s22 * s33 - s23 * s23) " +
            "+ s12 * (-(s12 * s33 - s13 * s23)) " +
            "+ s13 * (s12 * s23 - s13 * s22)"))
          .withColumn("bn1", expr("(s22 * s33 - s23 * s23) * b1 " +
            "+ (-(s12 * s33 - s13 * s23)) * b2 " +
            "+ (s12 * s23 - s13 * s22) * b3"))
          .withColumn("bn2", expr("(-(s12 * s33 - s13 * s23)) * b1 " +
            "+ (s11 * s33 - s13 * s13) * b2 " +
            "+ (-(s11 * s23 - s12 * s13)) * b3"))
          .withColumn("bn3", expr("(s12 * s23 - s13 * s22) * b1 " +
            "+ (-(s11 * s23 - s12 * s13)) * b2 " +
            "+ (s11 * s22 - s12 * s12) * b3"))
          .select("c11", "c12", "c13", "c22", "c23", "c33",
            "det", "bn1", "bn2", "bn3")
        rows.join(broadcast(cof))
          .withColumn("hnum", expr(
            "c11 + 2 * c12 * p + 2 * c13 * m + c22 * p * p " +
              "+ 2 * c23 * p * m + c33 * m * m"))
          .withColumn("enum_", expr(
            "CAST(y AS DECIMAL(38,0)) * det - (bn1 + bn2 * p + bn3 * m)"))
          .withColumn("h_bp", expr(s"CAST(${sdiv("hnum * 10000", "det")}" +
            " AS BIGINT)"))
          .withColumn("e_milli", expr(
            s"CAST(${sdiv("enum_ * 1000", "det")} AS BIGINT)"))
          .withColumn("e_loo_milli", expr(
            s"CAST(${sdiv("enum_ * 1000", "det - hnum")} AS BIGINT)"))
          .select(col("o_orderkey"), col("p"), col("m"), col("y"),
            col("h_bp"), col("e_milli"), col("e_loo_milli"))
          .orderBy(abs(col("e_loo_milli")).desc, col("o_orderkey"))
          .limit(20)
      },
      Some {
        def sdiv(a: String, b: String) =
          s"CASE WHEN ($a) >= 0 THEN ($a) // ($b) " +
            s"ELSE -((-($a)) // ($b)) END"
        s"""WITH r AS (SELECT o_orderkey,
           |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS p,
           |    CAST(datediff('day', DATE '1995-01-01',
           |      CAST(o_orderdate AS DATE)) AS BIGINT) // 30 AS m,
           |    CAST(floor(o_totalprice) AS BIGINT) AS y
           |  FROM orders),
           |mom AS (SELECT
           |    CAST(count(*) AS HUGEINT) + 100 AS s11,
           |    CAST(sum(p) AS HUGEINT) AS s12,
           |    CAST(sum(m) AS HUGEINT) AS s13,
           |    CAST(sum(p * p) AS HUGEINT) + 100 AS s22,
           |    CAST(sum(p * m) AS HUGEINT) AS s23,
           |    CAST(sum(m * m) AS HUGEINT) + 100 AS s33,
           |    CAST(sum(y) AS HUGEINT) AS b1,
           |    CAST(sum(p * y) AS HUGEINT) AS b2,
           |    CAST(sum(m * y) AS HUGEINT) AS b3
           |  FROM r),
           |cof AS (SELECT
           |    s22 * s33 - s23 * s23 AS c11,
           |    -(s12 * s33 - s13 * s23) AS c12,
           |    s12 * s23 - s13 * s22 AS c13,
           |    s11 * s33 - s13 * s13 AS c22,
           |    -(s11 * s23 - s12 * s13) AS c23,
           |    s11 * s22 - s12 * s12 AS c33,
           |    s11 * (s22 * s33 - s23 * s23)
           |      + s12 * (-(s12 * s33 - s13 * s23))
           |      + s13 * (s12 * s23 - s13 * s22) AS det,
           |    (s22 * s33 - s23 * s23) * b1
           |      + (-(s12 * s33 - s13 * s23)) * b2
           |      + (s12 * s23 - s13 * s22) * b3 AS bn1,
           |    (-(s12 * s33 - s13 * s23)) * b1
           |      + (s11 * s33 - s13 * s13) * b2
           |      + (-(s11 * s23 - s12 * s13)) * b3 AS bn2,
           |    (s12 * s23 - s13 * s22) * b1
           |      + (-(s11 * s23 - s12 * s13)) * b2
           |      + (s11 * s22 - s12 * s12) * b3 AS bn3
           |  FROM mom),
           |sc AS (SELECT r.o_orderkey, r.p, r.m, r.y,
           |    c11 + 2 * c12 * p + 2 * c13 * m + c22 * p * p
           |      + 2 * c23 * p * m + c33 * m * m AS hnum,
           |    CAST(y AS HUGEINT) * det
           |      - (bn1 + bn2 * p + bn3 * m) AS enum_,
           |    det
           |  FROM r CROSS JOIN cof)
           |SELECT o_orderkey, p, m, y,
           |  CAST(${sdiv("hnum * 10000", "det")} AS BIGINT) AS h_bp,
           |  CAST(${sdiv("enum_ * 1000", "det")} AS BIGINT) AS e_milli,
           |  CAST(${sdiv("enum_ * 1000", "det - hnum")} AS BIGINT)
           |    AS e_loo_milli
           |FROM sc
           |ORDER BY abs(CAST(${sdiv("enum_ * 1000", "det - hnum")}
           |  AS BIGINT)) DESC, o_orderkey
           |LIMIT 20""".stripMargin
      }),

    // ---- Sinkhorn optimal-transport distance between source mixes ----------
    // How far apart are two sources' token distributions, RESPECTING
    // token similarity? KL/KS (q160/q207) treat tokens as unordered
    // symbols; optimal transport prices moving mass BETWEEN tokens via a
    // ground metric (here |global-rank difference| over the top-16
    // support — rank adjacency as the stand-in for similarity). The
    // entropic kernel is e^{-c/ε} in the standard algorithm; using base
    // 2 with ε = 1/ln2 makes it EXACTLY 2^(15−c) — an integer, so the
    // whole Sinkhorn fixpoint runs in integer arithmetic: scaling
    // vectors U,V at scale S=1e9, u-update U_i = a_i·S² // Σ_j K_ij V_j,
    // three full (u,v) rounds, transport plan P_ij = U_i K_ij V_j // S².
    // Masses are cross-scaled (a_i = cntA_i·NB, b_j = cntB_j·NA) so both
    // marginals total NA·NB exactly — no largest-remainder rounding.
    // The corpus-scale stages are one token count (support selection)
    // and one conditional per-source count; the 16×16 fixpoint is
    // bounded state on the driver (BigInt — q296's wrap rule), and the
    // audit emits per-token row/col marginal deviations (col exact
    // after the final v-update, rows carry the residual) plus the
    // entropic OT cost.
    "q313_sinkhorn_mixing" -> QueryDef(
      (s, dir) => {
        val toks = Materialize(tableParallel(s, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("tok")))
        val top16 = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(16)
          .collect().map(_.getString(0)).zipWithIndex
          .map { case (t, i) => t -> (i + 1) }
        val support = top16.map(_._1).toSet
        val perSrc = toks
          .filter(col("source").isin("src0", "src1") &&
            col("tok").isInCollection(support))
          .groupBy("tok", "source").agg(count(lit(1)).as("c"))
          .collect().map(r =>
            (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        val rnkOf = top16.toMap
        val idx = top16.sortBy(_._2)
        val cA = idx.map { case (t, _) =>
          BigInt(perSrc.getOrElse((t, "src0"), 0L)) }
        val cB = idx.map { case (t, _) =>
          BigInt(perSrc.getOrElse((t, "src1"), 0L)) }
        val na = cA.sum
        val nb = cB.sum
        val a = cA.map(_ * nb)
        val b = cB.map(_ * na)
        val n = idx.length
        def ker(i: Int, j: Int) = BigInt(1L << (15 - math.abs(i - j)))
        val sS = BigInt(1000000000L)
        var u = Array.fill(n)(BigInt(0))
        var v = Array.fill(n)(sS)
        for (_ <- 1 to 3) {
          u = Array.tabulate(n) { i =>
            val d = (0 until n).map(j => ker(i, j) * v(j)).sum.max(1)
            a(i) * sS * sS / d
          }
          v = Array.tabulate(n) { j =>
            val d = (0 until n).map(i => ker(i, j) * u(i)).sum.max(1)
            b(j) * sS * sS / d
          }
        }
        def p(i: Int, j: Int) = u(i) * ker(i, j) * v(j) / (sS * sS)
        val rowM = Array.tabulate(n)(i => (0 until n).map(p(i, _)).sum)
        val colM = Array.tabulate(n)(j => (0 until n).map(p(_, j)).sum)
        val cost = (for (i <- 0 until n; j <- 0 until n)
          yield BigInt(math.abs(i - j)) * p(i, j)).sum
        def devBp(m: BigInt, t: BigInt) =
          ((m - t).abs * 10000 / t.max(1)).toLong
        import s.implicits._
        idx.map { case (t, r) =>
          val i = r - 1
          (r.toLong, t, a(i).toLong, b(i).toLong,
            rowM(i).toLong, colM(i).toLong,
            devBp(rowM(i), a(i)), devBp(colM(i), b(i)),
            cost.toLong)
        }.toSeq
          .toDF("rnk", "tok", "a_mass", "b_mass", "row_marg",
            "col_marg", "row_dev_bp", "col_dev_bp", "ot_cost")
          .orderBy("rnk")
      },
      Some(s"""WITH tk AS (SELECT source, unnest($duckToks) AS tok
              |  FROM documents),
              |gc AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY 1),
              |top16 AS (SELECT tok, rnk FROM (SELECT tok,
              |    row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
              |  FROM gc) WHERE rnk <= 16),
              |pc AS (SELECT t.rnk, t.tok,
              |    CAST(COALESCE(sum(CASE WHEN tk.source = 'src0'
              |      THEN 1 END), 0) AS HUGEINT) AS ca,
              |    CAST(COALESCE(sum(CASE WHEN tk.source = 'src1'
              |      THEN 1 END), 0) AS HUGEINT) AS cb
              |  FROM top16 t LEFT JOIN tk ON tk.tok = t.tok
              |    AND tk.source IN ('src0', 'src1')
              |  GROUP BY 1, 2),
              |ma AS (SELECT rnk, tok,
              |    ca * (sum(cb) OVER ()) AS a,
              |    cb * (sum(ca) OVER ()) AS b
              |  FROM pc),
              |ker AS (SELECT i.rnk AS i, j.rnk AS j,
              |    CAST(1 AS HUGEINT) << (15 - abs(i.rnk - j.rnk)) AS k
              |  FROM top16 i JOIN top16 j ON true),
              |v0 AS (SELECT rnk AS j,
              |    CAST(1000000000 AS HUGEINT) AS v FROM top16),
              |u1 AS (SELECT ker.i, (ma.a * 1000000000 * 1000000000) //
              |    greatest(CAST(1 AS HUGEINT), sum(ker.k * v0.v)) AS u
              |  FROM ker JOIN v0 ON v0.j = ker.j
              |    JOIN ma ON ma.rnk = ker.i
              |  GROUP BY ker.i, ma.a),
              |v1 AS (SELECT ker.j, (ma.b * 1000000000 * 1000000000) //
              |    greatest(CAST(1 AS HUGEINT), sum(ker.k * u1.u)) AS v
              |  FROM ker JOIN u1 ON u1.i = ker.i
              |    JOIN ma ON ma.rnk = ker.j
              |  GROUP BY ker.j, ma.b),
              |u2 AS (SELECT ker.i, (ma.a * 1000000000 * 1000000000) //
              |    greatest(CAST(1 AS HUGEINT), sum(ker.k * v1.v)) AS u
              |  FROM ker JOIN v1 ON v1.j = ker.j
              |    JOIN ma ON ma.rnk = ker.i
              |  GROUP BY ker.i, ma.a),
              |v2 AS (SELECT ker.j, (ma.b * 1000000000 * 1000000000) //
              |    greatest(CAST(1 AS HUGEINT), sum(ker.k * u2.u)) AS v
              |  FROM ker JOIN u2 ON u2.i = ker.i
              |    JOIN ma ON ma.rnk = ker.j
              |  GROUP BY ker.j, ma.b),
              |u3 AS (SELECT ker.i, (ma.a * 1000000000 * 1000000000) //
              |    greatest(CAST(1 AS HUGEINT), sum(ker.k * v2.v)) AS u
              |  FROM ker JOIN v2 ON v2.j = ker.j
              |    JOIN ma ON ma.rnk = ker.i
              |  GROUP BY ker.i, ma.a),
              |v3 AS (SELECT ker.j, (ma.b * 1000000000 * 1000000000) //
              |    greatest(CAST(1 AS HUGEINT), sum(ker.k * u3.u)) AS v
              |  FROM ker JOIN u3 ON u3.i = ker.i
              |    JOIN ma ON ma.rnk = ker.j
              |  GROUP BY ker.j, ma.b),
              |pl AS (SELECT ker.i, ker.j,
              |    (u3.u * ker.k * v3.v) //
              |      (CAST(1000000000 AS HUGEINT) * 1000000000) AS p
              |  FROM ker JOIN u3 ON u3.i = ker.i
              |    JOIN v3 ON v3.j = ker.j),
              |rm AS (SELECT i AS rnk, sum(p) AS row_marg FROM pl
              |  GROUP BY 1),
              |cm AS (SELECT j AS rnk, sum(p) AS col_marg FROM pl
              |  GROUP BY 1),
              |ct AS (SELECT sum(CAST(abs(i - j) AS HUGEINT) * p)
              |    AS ot_cost FROM pl)
              |SELECT CAST(ma.rnk AS BIGINT) AS rnk, ma.tok,
              |  CAST(ma.a AS BIGINT) AS a_mass,
              |  CAST(ma.b AS BIGINT) AS b_mass,
              |  CAST(rm.row_marg AS BIGINT) AS row_marg,
              |  CAST(cm.col_marg AS BIGINT) AS col_marg,
              |  CAST((abs(rm.row_marg - ma.a) * 10000) //
              |    greatest(CAST(1 AS HUGEINT), ma.a) AS BIGINT)
              |    AS row_dev_bp,
              |  CAST((abs(cm.col_marg - ma.b) * 10000) //
              |    greatest(CAST(1 AS HUGEINT), ma.b) AS BIGINT)
              |    AS col_dev_bp,
              |  CAST(ct.ot_cost AS BIGINT) AS ot_cost
              |FROM ma JOIN rm ON rm.rnk = ma.rnk
              |  JOIN cm ON cm.rnk = ma.rnk
              |  CROSS JOIN ct
              |ORDER BY rnk""".stripMargin)),
    // ---- Fellegi–Sunter record-linkage weights ------------------------------
    // The probabilistic record-linkage standard: per-field agreement
    // probabilities among known matches (m) and known non-matches (u)
    // combine into a likelihood ratio per agreement pattern; thresholds
    // split link / possible / non-link. Records are the customer table
    // plus a deterministic DIRTY COPY of every customer (hash-seeded
    // perturbations: 10% nation bumped, 20% segment mangled, 10%
    // balance bucket shifted — the md5 seed makes the "data entry
    // noise" replayable in both engines). Both training samples are
    // LINEAR in the corpus — the defining scale constraint: m-pairs are
    // original-vs-copy (equi-join on the entity key), u-pairs come from
    // rank-PAIRING inside md5 hash buckets (consecutive ranks pair up —
    // exactly n/2 pairs, never a within-block quadratic enumeration),
    // cross-entity by filter. Probabilities are add-1 smoothed and kept
    // as exact integer ratios; the pattern LR is the cross-multiplied
    // product lr_num = Π m-term · (nU+2)³, lr_den = Π u-term · (nM+2)³
    // (≤ ~1e37 at sf1 — DECIMAL(38,0)/HUGEINT headroom documented; past
    // that the estimator runs on a hash sample). All 8 patterns are
    // emitted from a literal range with observed m/u pair counts,
    // truncated LR in milli, and the 10×/1× threshold decision — with
    // real m≫u separation the all-agree pattern links and the
    // all-disagree pattern firmly does not.
    "q314_fellegi_sunter" -> QueryDef(
      (s, dir) => {
        val base = table(s, dir, "customer").select(
          col("c_custkey").as("ent"),
          col("c_nationkey").cast("long").as("nat"),
          col("c_mktsegment").as("seg"),
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal"))
        val orig = base.select(
          (col("ent") * 2).as("rid"), col("ent"),
          col("nat"), col("seg"), col("bal"))
        val dirty = base
          .withColumn("pz",
            hash32(concat(lit("fsp|"), col("ent").cast("string"))) % 10)
          .select(
            (col("ent") * 2 + 1).as("rid"), col("ent"),
            when(col("pz") === 0, (col("nat") + 1) % 25)
              .otherwise(col("nat")).as("nat"),
            when(col("pz").isin(1, 2), concat(col("seg"), lit("_X")))
              .otherwise(col("seg")).as("seg"),
            when(col("pz") === 3, col("bal") + 1)
              .otherwise(col("bal")).as("bal"))
        val recs = Materialize(orig.unionAll(dirty)
          .withColumn("h",
            hash32(concat(lit("fsu|"), col("rid").cast("string")))))
        def flags(a: String, b: String) = Seq(
          (col(s"$a.nat") === col(s"$b.nat")).cast("long").as("fn"),
          (col(s"$a.seg") === col(s"$b.seg")).cast("long").as("fs"),
          (col(s"$a.bal") === col(s"$b.bal")).cast("long").as("fb"))
        val mp = Materialize(recs.as("a").join(recs.as("b"),
            col("a.ent") === col("b.ent") &&
              col("a.rid") < col("b.rid"))
          .select(flags("a", "b"): _*))
        val ranked = recs
          .withColumn("bkt", col("h") % 64)
          .withColumn("r", row_number().over(
            Window.partitionBy("bkt").orderBy("h", "rid")))
          .withColumn("pid", expr("(r + 1) DIV 2"))
        val up = Materialize(ranked.as("a").join(ranked.as("b"),
            col("a.bkt") === col("b.bkt") &&
              col("a.pid") === col("b.pid") &&
              col("a.r") % 2 === 1 && col("b.r") % 2 === 0 &&
              col("a.ent") =!= col("b.ent"))
          .select(flags("a", "b"): _*))
        val mstat = mp.agg(
          expr("CAST(count(*) AS DECIMAL(38,0))").as("nm"),
          expr("CAST(sum(fn) AS DECIMAL(38,0))").as("man"),
          expr("CAST(sum(fs) AS DECIMAL(38,0))").as("mas"),
          expr("CAST(sum(fb) AS DECIMAL(38,0))").as("mab"))
        val ustat = up.agg(
          expr("CAST(count(*) AS DECIMAL(38,0))").as("nu"),
          expr("CAST(sum(fn) AS DECIMAL(38,0))").as("uan"),
          expr("CAST(sum(fs) AS DECIMAL(38,0))").as("uas"),
          expr("CAST(sum(fb) AS DECIMAL(38,0))").as("uab"))
        val pats = s.range(8).select(
          expr("CAST(id AS BIGINT)").as("pattern"),
          expr("(id DIV 4) % 2").as("fn"),
          expr("(id DIV 2) % 2").as("fs"),
          expr("id % 2").as("fb"))
        val mc = mp.groupBy("fn", "fs", "fb")
          .agg(count(lit(1)).as("n_match"))
        val uc = up.groupBy("fn", "fs", "fb")
          .agg(count(lit(1)).as("n_nonmatch"))
        def term(flag: String, agree: String, n: String) =
          s"CASE WHEN $flag = 1 THEN $agree + 1 ELSE $n - $agree + 1 END"
        pats.join(mc, Seq("fn", "fs", "fb"), "left")
          .join(uc, Seq("fn", "fs", "fb"), "left")
          .join(broadcast(mstat)).join(broadcast(ustat))
          .withColumn("lr_num", expr(
            s"(${term("fn", "man", "nm")}) * (${term("fs", "mas", "nm")})" +
              s" * (${term("fb", "mab", "nm")}) * (nu + 2) * (nu + 2)" +
              " * (nu + 2)"))
          .withColumn("lr_den", expr(
            s"(${term("fn", "uan", "nu")}) * (${term("fs", "uas", "nu")})" +
              s" * (${term("fb", "uab", "nu")}) * (nm + 2) * (nm + 2)" +
              " * (nm + 2)"))
          .select(col("pattern"), col("fn"), col("fs"), col("fb"),
            coalesce(col("n_match"), lit(0L)).as("n_match"),
            coalesce(col("n_nonmatch"), lit(0L)).as("n_nonmatch"),
            expr("CAST(lr_num * 1000 DIV lr_den AS BIGINT)")
              .as("lr_milli"),
            expr("CAST(CASE WHEN lr_num > 10 * lr_den THEN 2 " +
              "WHEN lr_num > lr_den THEN 1 ELSE 0 END AS BIGINT)")
              .as("decision"))
          .orderBy("pattern")
      },
      Some {
        def term(flag: String, agree: String, n: String) =
          s"CASE WHEN $flag = 1 THEN $agree + 1 ELSE $n - $agree + 1 END"
        s"""WITH base AS (SELECT c_custkey AS ent,
           |    CAST(c_nationkey AS BIGINT) AS nat,
           |    c_mktsegment AS seg,
           |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal
           |  FROM customer),
           |recs AS (
           |  SELECT ent * 2 AS rid, ent, nat, seg, bal FROM base
           |  UNION ALL
           |  SELECT ent * 2 + 1, ent,
           |    CASE WHEN pz = 0 THEN (nat + 1) % 25 ELSE nat END,
           |    CASE WHEN pz IN (1, 2) THEN seg || '_X' ELSE seg END,
           |    CASE WHEN pz = 3 THEN bal + 1 ELSE bal END
           |  FROM (SELECT base.*,
           |      CAST(('0x' || substr(md5('fsp|' ||
           |        CAST(ent AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS pz
           |    FROM base)),
           |rh AS (SELECT recs.*,
           |    CAST(('0x' || substr(md5('fsu|' ||
           |      CAST(rid AS VARCHAR)), 1, 8)) AS BIGINT) AS h
           |  FROM recs),
           |mp AS (SELECT
           |    CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END AS fn,
           |    CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS fs,
           |    CASE WHEN a.bal = b.bal THEN 1 ELSE 0 END AS fb
           |  FROM rh a JOIN rh b
           |    ON a.ent = b.ent AND a.rid < b.rid),
           |rkd AS (SELECT *, h % 64 AS bkt,
           |    row_number() OVER (PARTITION BY h % 64
           |      ORDER BY h, rid) AS r
           |  FROM rh),
           |up AS (SELECT
           |    CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END AS fn,
           |    CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS fs,
           |    CASE WHEN a.bal = b.bal THEN 1 ELSE 0 END AS fb
           |  FROM rkd a JOIN rkd b ON a.bkt = b.bkt
           |    AND (a.r + 1) // 2 = (b.r + 1) // 2
           |    AND a.r % 2 = 1 AND b.r % 2 = 0
           |    AND a.ent <> b.ent),
           |mstat AS (SELECT CAST(count(*) AS HUGEINT) AS nm,
           |    CAST(sum(fn) AS HUGEINT) AS man,
           |    CAST(sum(fs) AS HUGEINT) AS mas,
           |    CAST(sum(fb) AS HUGEINT) AS mab FROM mp),
           |ustat AS (SELECT CAST(count(*) AS HUGEINT) AS nu,
           |    CAST(sum(fn) AS HUGEINT) AS uan,
           |    CAST(sum(fs) AS HUGEINT) AS uas,
           |    CAST(sum(fb) AS HUGEINT) AS uab FROM up),
           |pats AS (SELECT CAST(pid AS BIGINT) AS pattern,
           |    CAST((pid // 4) % 2 AS BIGINT) AS fn,
           |    CAST((pid // 2) % 2 AS BIGINT) AS fs,
           |    CAST(pid % 2 AS BIGINT) AS fb
           |  FROM range(8) t(pid)),
           |mc AS (SELECT fn, fs, fb, CAST(count(*) AS BIGINT)
           |    AS n_match FROM mp GROUP BY 1, 2, 3),
           |uc AS (SELECT fn, fs, fb, CAST(count(*) AS BIGINT)
           |    AS n_nonmatch FROM up GROUP BY 1, 2, 3),
           |sc AS (SELECT pats.*, COALESCE(mc.n_match, 0) AS n_match,
           |    COALESCE(uc.n_nonmatch, 0) AS n_nonmatch,
           |    (${term("pats.fn", "man", "nm")})
           |      * (${term("pats.fs", "mas", "nm")})
           |      * (${term("pats.fb", "mab", "nm")})
           |      * (nu + 2) * (nu + 2) * (nu + 2) AS lr_num,
           |    (${term("pats.fn", "uan", "nu")})
           |      * (${term("pats.fs", "uas", "nu")})
           |      * (${term("pats.fb", "uab", "nu")})
           |      * (nm + 2) * (nm + 2) * (nm + 2) AS lr_den
           |  FROM pats LEFT JOIN mc USING (fn, fs, fb)
           |    LEFT JOIN uc USING (fn, fs, fb)
           |    CROSS JOIN mstat CROSS JOIN ustat)
           |SELECT pattern, fn, fs, fb, n_match, n_nonmatch,
           |  CAST(lr_num * 1000 // lr_den AS BIGINT) AS lr_milli,
           |  CAST(CASE WHEN lr_num > 10 * lr_den THEN 2
           |    WHEN lr_num > lr_den THEN 1 ELSE 0 END AS BIGINT)
           |    AS decision
           |FROM sc ORDER BY pattern""".stripMargin
      }),

    // ---- truncated SPRT quality gate ----------------------------------------
    // CUSUM (q210) asks "did the rate CHANGE"; the sequential probability
    // ratio test asks "is this cohort's rate p0 or p1" with the earliest
    // possible stop — the canonical gate for aborting a bad ingest batch
    // before reading all of it. For Bernoulli streams the Wald LR after
    // (n, k) is a pure RATIONAL whose numerator/denominator are products
    // of small-prime powers, so with a 44-observation truncation horizon
    // every comparison is EXACT integer arithmetic against 7^0-free
    // lookup tables (the q284 inline-power-table pattern; max term
    // 19·6⁴⁴ ≈ 3e35 ≪ 1e38). Two designs run side by side — A: ½ vs ⅝
    // (LR = 5^k·3^(n−k)/4^n) and B: ⅝ vs ¾ (LR = 6^k·2^(n−k)/(5^k·3^(n−k)))
    // — with the observed ~0.6 success rate between them, so the output
    // exhibits genuine early H1 stops, early H0 stops, and truncation.
    // The only corpus-scale work is one per-cohort ordered window pass;
    // the decision row is selected by a per-cohort min-crossing window,
    // never a driver loop.
    "q316_sprt_quality_gate" -> QueryDef(
      (s, dir) => {
        def pick(base: Int, idx: String): String =
          (0 to 44).map(k =>
            s"WHEN $k THEN CAST('${BigInt(base).pow(k)}' " +
              "AS DECIMAL(38,0))")
            .mkString(s"(CASE ($idx) ", " ", " END)")
        val p2k = pick(2, "n - k"); val p3k = pick(3, "n - k")
        val p4n = pick(4, "n"); val p5k = pick(5, "k")
        val p6k = pick(6, "k")
        val ev = Materialize(table(s, dir, "events")
          .select((col("user_id") % 16).as("g"),
            expr("CASE WHEN event_type IN ('click', 'view', " +
              "'purchase') THEN 1 ELSE 0 END").as("sx"),
            col("ts"), col("event_id"))
          .withColumn("n", row_number().over(Window.partitionBy("g")
            .orderBy("ts", "event_id")).cast("long"))
          .withColumn("k", sum("sx").over(Window.partitionBy("g")
            .orderBy("ts", "event_id")))
          .filter(col("n") <= 44)
          .select("g", "n", "k"))
        def design(name: String, numE: String, denE: String) = {
          val flagged = ev
            .withColumn("numx", expr(numE))
            .withColumn("denx", expr(denE))
            .withColumn("hi", expr("CASE WHEN numx >= 19 * denx " +
              "THEN 1 ELSE 0 END"))
            .withColumn("lo", expr("CASE WHEN 19 * numx <= denx " +
              "THEN 1 ELSE 0 END"))
          flagged
            .withColumn("stopn", min(when(col("hi") === 1 ||
                col("lo") === 1, col("n")))
              .over(Window.partitionBy("g")))
            .filter(col("n") === coalesce(col("stopn"), lit(44L)))
            .select(lit(name).as("design"), col("g"),
              col("n").as("stop_n"), col("k").as("k_at_stop"),
              expr("CAST(CASE WHEN hi = 1 THEN 1 WHEN lo = 1 THEN -1 " +
                "ELSE 0 END AS BIGINT)").as("decision"),
              expr("CAST(numx * 1000 DIV denx AS BIGINT)")
                .as("lr_milli"))
        }
        design("a_500_625", s"$p5k * $p3k", p4n)
          .unionAll(design("b_625_750", s"$p6k * $p2k",
            s"$p5k * $p3k"))
          .orderBy("design", "g")
      },
      Some {
        def pick(base: Int, idx: String): String =
          (0 to 44).map(k =>
            s"WHEN $k THEN CAST('${BigInt(base).pow(k)}' AS HUGEINT)")
            .mkString(s"(CASE ($idx) ", " ", " END)")
        val p2k = pick(2, "n - k"); val p3k = pick(3, "n - k")
        val p4n = pick(4, "n"); val p5k = pick(5, "k")
        val p6k = pick(6, "k")
        def design(name: String, numE: String, denE: String) =
          s"""SELECT '$name' AS design, g,
             |  CAST(n AS BIGINT) AS stop_n,
             |  CAST(k AS BIGINT) AS k_at_stop,
             |  CAST(CASE WHEN hi = 1 THEN 1 WHEN lo = 1 THEN -1
             |    ELSE 0 END AS BIGINT) AS decision,
             |  CAST(numx * 1000 // denx AS BIGINT) AS lr_milli
             |FROM (SELECT *, min(CASE WHEN hi = 1 OR lo = 1 THEN n
             |    END) OVER (PARTITION BY g) AS stopn
             |  FROM (SELECT *, $numE AS numx, $denE AS denx,
             |      CASE WHEN $numE >= 19 * ($denE) THEN 1 ELSE 0 END
             |        AS hi,
             |      CASE WHEN 19 * ($numE) <= $denE THEN 1 ELSE 0 END
             |        AS lo
             |    FROM ev))
             |WHERE n = COALESCE(stopn, 44)""".stripMargin
        s"""WITH ev AS (SELECT g, n, k FROM (
           |    SELECT user_id % 16 AS g,
           |      row_number() OVER (PARTITION BY user_id % 16
           |        ORDER BY ts, event_id) AS n,
           |      sum(CASE WHEN event_type IN ('click', 'view',
           |        'purchase') THEN 1 ELSE 0 END)
           |        OVER (PARTITION BY user_id % 16
           |          ORDER BY ts, event_id) AS k
           |    FROM events) WHERE n <= 44)
           |${design("a_500_625", s"$p5k * $p3k", p4n)}
           |UNION ALL
           |${design("b_625_750", s"$p6k * $p2k", s"$p5k * $p3k")}
           |ORDER BY design, g""".stripMargin
      }),

    // ---- l-diversity / t-closeness privacy audit ----------------------------
    // k-anonymity (q134) counts group sizes; it says nothing about the
    // SENSITIVE attribute's spread inside a quasi-identifier group. This
    // audits both refinements over (lang, 100-char length bucket) groups
    // with `source` as the sensitive attribute: l-diversity = distinct
    // sensitive values per group; t-closeness = total-variation distance
    // between the group's source distribution and the corpus-wide one
    // (the equal-ground-distance EMD), exactly in integers via the
    // cross-multiplied form Σ_s |n_gs·N − n_s·N_g| over PRESENT sources
    // plus (N − Σ_present n_s)·N_g for the group's missing sources —
    // omitting the missing-source mass understates TVD, the classic
    // implementation bug. One rollup to (group, source) cells, one
    // equi-join to global source counts; everything downstream is
    // group-cardinality-sized.
    "q317_ldiversity_tcloseness" -> QueryDef(
      (s, dir) => {
        val docs = Materialize(table(s, dir, "documents")
          .select(col("lang"), expr("n_chars DIV 100").as("nb"),
            col("source")))
        val gs = docs.groupBy("lang", "nb", "source")
          .agg(count(lit(1)).as("ngs"))
        val sg = docs.groupBy("source").agg(count(lit(1)).as("ns"))
        val nAll = docs.agg(count(lit(1)).as("n"))
        val cell = gs.join(sg, Seq("source")).join(broadcast(nAll))
          .withColumn("n_g",
            sum("ngs").over(Window.partitionBy("lang", "nb")))
        cell.groupBy("lang", "nb")
          .agg(max("n_g").as("n_g"),
            countDistinct("source").as("l_distinct"),
            sum(expr("abs(CAST(ngs AS DECIMAL(38,0)) * n - " +
              "CAST(ns AS DECIMAL(38,0)) * n_g)"))
              .as("present_term"),
            max(col("n")).as("n"),
            sum("ns").as("present_ns"))
          .withColumn("tvd_bp", expr(
            "CAST((present_term + CAST(n - present_ns AS " +
              "DECIMAL(38,0)) * n_g) * 10000 DIV " +
              "(2 * CAST(n_g AS DECIMAL(38,0)) * n) AS BIGINT)"))
          .withColumn("l_ok",
            when(col("l_distinct") >= 3, 1L).otherwise(0L))
          .withColumn("t_ok",
            when(col("tvd_bp") <= 2000, 1L).otherwise(0L))
          .select("lang", "nb", "n_g", "l_distinct", "tvd_bp",
            "l_ok", "t_ok")
          .orderBy("lang", "nb")
      },
      Some("""WITH d AS (SELECT lang, n_chars // 100 AS nb, source
             |  FROM documents),
             |gs AS (SELECT lang, nb, source,
             |    CAST(count(*) AS BIGINT) AS ngs
             |  FROM d GROUP BY 1, 2, 3),
             |sg AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
             |  FROM d GROUP BY 1),
             |na AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
             |cell AS (SELECT gs.*, sg.ns, na.n,
             |    sum(gs.ngs) OVER (PARTITION BY gs.lang, gs.nb)
             |      AS n_g
             |  FROM gs JOIN sg USING (source) CROSS JOIN na)
             |SELECT lang, CAST(nb AS BIGINT) AS nb,
             |  CAST(max(n_g) AS BIGINT) AS n_g,
             |  CAST(count(DISTINCT source) AS BIGINT) AS l_distinct,
             |  CAST((sum(abs(CAST(ngs AS HUGEINT) * n
             |      - CAST(ns AS HUGEINT) * n_g))
             |    + CAST(max(n) - sum(ns) AS HUGEINT) * max(n_g))
             |    * 10000 // (2 * CAST(max(n_g) AS HUGEINT) * max(n))
             |    AS BIGINT) AS tvd_bp,
             |  CAST(CASE WHEN count(DISTINCT source) >= 3
             |    THEN 1 ELSE 0 END AS BIGINT) AS l_ok,
             |  CAST(CASE WHEN (sum(abs(CAST(ngs AS HUGEINT) * n
             |        - CAST(ns AS HUGEINT) * n_g))
             |      + CAST(max(n) - sum(ns) AS HUGEINT) * max(n_g))
             |      * 10000 // (2 * CAST(max(n_g) AS HUGEINT) * max(n))
             |      <= 2000
             |    THEN 1 ELSE 0 END AS BIGINT) AS t_ok
             |FROM cell GROUP BY 1, 2 ORDER BY lang, nb""".stripMargin)),

    // ---- Simpson's-paradox / confounding audit (Mantel–Haenszel) -----------
    // The amalgamation trap every pooled dashboard metric walks into:
    // the pooled odds ratio of (long doc → lexically diverse) can
    // contradict the within-language association because language
    // confounds both. The audit emits the 2×2 cells and odds ratio per
    // language stratum plus the pooled row, the Mantel–Haenszel
    // stratum-adjusted odds ratio (Σ aᵢdᵢ/nᵢ over Σ bᵢcᵢ/nᵢ, each term
    // an integer milli via sign-free DIV — both engines truncate
    // identically), and a confounding flag when pooled and MH differ by
    // more than 20% (cross-multiplied, no float). One corpus projection
    // + one stratum rollup; everything after is a 6-row frame.
    "q324_simpson_audit" -> QueryDef(
      (s, dir) => {
        val cells = Materialize(table(s, dir, "documents")
          .select(col("lang"),
            (col("n_chars") >= 250).as("e"),
            (size(array_distinct(tokens(col("text")))) >= 24).as("y"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum(expr("CASE WHEN e AND y THEN 1 ELSE 0 END")).as("a"),
            sum(expr("CASE WHEN e AND NOT y THEN 1 ELSE 0 END"))
              .as("b"),
            sum(expr("CASE WHEN NOT e AND y THEN 1 ELSE 0 END"))
              .as("c"),
            sum(expr("CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END"))
              .as("d")))
        val mh = cells.agg(
          sum(expr("CAST(a AS DECIMAL(38,0)) * d * 1000 DIV n"))
            .as("mh_num"),
          sum(expr("CAST(b AS DECIMAL(38,0)) * c * 1000 DIV n"))
            .as("mh_den"))
        val pooled = cells.agg(
          sum("n").as("n"), sum("a").as("a"), sum("b").as("b"),
          sum("c").as("c"), sum("d").as("d"))
          .withColumn("stratum", lit("zz_all"))
          .select("stratum", "n", "a", "b", "c", "d")
        val strata = cells.select(col("lang").as("stratum"),
          col("n"), col("a"), col("b"), col("c"), col("d"))
        strata.unionAll(pooled)
          .join(broadcast(mh))
          .withColumn("or_milli", expr(
            "CAST(CAST(a AS DECIMAL(38,0)) * d * 1000 " +
              "DIV greatest(CAST(b AS DECIMAL(38,0)) * c, 1) " +
              "AS BIGINT)"))
          .withColumn("or_mh_milli", expr(
            "CAST(mh_num * 1000 DIV greatest(mh_den, 1) AS BIGINT)"))
          .withColumn("confounded", expr(
            // or_p = A/B vs or_mh = N/D differ by > 20% either way:
            // A·D·10 > B·N·12  OR  N·B·10 > A·D·12 (cross-multiplied)
            """CAST(CASE WHEN stratum = 'zz_all' AND (
              |    CAST(a AS DECIMAL(38,0)) * d
              |      * greatest(mh_den, 1) * 10
              |    > greatest(CAST(b AS DECIMAL(38,0)) * c, 1)
              |      * mh_num * 12
              |  OR mh_num
              |      * greatest(CAST(b AS DECIMAL(38,0)) * c, 1) * 10
              |    > CAST(a AS DECIMAL(38,0)) * d
              |      * greatest(mh_den, 1) * 12
              |) THEN 1 ELSE 0 END AS BIGINT)""".stripMargin))
          .select("stratum", "n", "a", "b", "c", "d", "or_milli",
            "or_mh_milli", "confounded")
          .orderBy("stratum")
      },
      Some("""WITH cells AS (SELECT lang,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN e AND y THEN 1 ELSE 0 END)
             |      AS BIGINT) AS a,
             |    CAST(sum(CASE WHEN e AND NOT y THEN 1 ELSE 0 END)
             |      AS BIGINT) AS b,
             |    CAST(sum(CASE WHEN NOT e AND y THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c,
             |    CAST(sum(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END)
             |      AS BIGINT) AS d
             |  FROM (SELECT lang, n_chars >= 250 AS e,
             |      len(list_distinct(regexp_split_to_array(
             |        lower(trim(text)), '\s+'))) >= 24 AS y
             |    FROM documents) GROUP BY 1),
             |mh AS (SELECT
             |    sum(CAST(a AS HUGEINT) * d * 1000 // n) AS mh_num,
             |    sum(CAST(b AS HUGEINT) * c * 1000 // n) AS mh_den
             |  FROM cells),
             |allr AS (SELECT 'zz_all' AS stratum,
             |    sum(n) AS n, sum(a) AS a, sum(b) AS b, sum(c) AS c,
             |    sum(d) AS d
             |  FROM cells),
             |uni AS (SELECT lang AS stratum, n, a, b, c, d FROM cells
             |  UNION ALL SELECT * FROM allr)
             |SELECT stratum, CAST(n AS BIGINT) AS n,
             |  CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
             |  CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
             |  CAST(CAST(a AS HUGEINT) * d * 1000
             |    // greatest(CAST(b AS HUGEINT) * c, 1) AS BIGINT)
             |    AS or_milli,
             |  CAST(mh_num * 1000 // greatest(mh_den, 1) AS BIGINT)
             |    AS or_mh_milli,
             |  CAST(CASE WHEN stratum = 'zz_all' AND (
             |      CAST(a AS HUGEINT) * d
             |        * greatest(mh_den, 1) * 10
             |      > greatest(CAST(b AS HUGEINT) * c, 1)
             |        * mh_num * 12
             |    OR mh_num
             |        * greatest(CAST(b AS HUGEINT) * c, 1) * 10
             |      > CAST(a AS HUGEINT) * d
             |        * greatest(mh_den, 1) * 12
             |  ) THEN 1 ELSE 0 END AS BIGINT) AS confounded
             |FROM uni CROSS JOIN mh ORDER BY stratum""".stripMargin)),

    // ---- Benjamini–Hochberg FDR over a mixed test family -------------------
    // Twenty per-source tests where the null is TRUE (language-mix χ²
    // goodness-of-fit vs the corpus mix, 4 df — sources are random
    // mixes) plus twenty where it is FALSE (the q320 McNemar χ², 1 df —
    // the filters genuinely differ) — exactly the mixed bag FDR control
    // exists for. BH's decisions need only the comparisons
    // p_t ≤ α·i/m, so the whole procedure runs on EXACT integers
    // against per-df inline threshold ladders (χ²·10⁴ quantiles at the
    // 40 grid levels, fixed constants spelled identically in both
    // engines): k_t = the smallest grid level the quantized statistic
    // clears (41 − #thresholds-cleared, since ladders descend), tests
    // rank by (k_t, kind, source), k* = max rank r with k_(r) ≤ r, BH
    // rejects ranks ≤ k*; Bonferroni is k_t ≤ 1. The statistic itself
    // is the floor-quantized χ²·10⁴ — both engines share the
    // quantization, so decisions are bit-identical.
    "q325_benjamini_hochberg" -> QueryDef(
      (s, dir) => {
        val thr1 = Seq(104149, 91406, 84011, 78794, 74768, 71491, 68732, 66349, 64254, 62385, 60700, 59165, 57756, 56455, 55247, 54119, 53062, 52067, 51128, 50239, 49395, 48591, 47825, 47093, 46392, 45719, 45073, 44452, 43853, 43276, 42718, 42179, 41657, 41152, 40662, 40186, 39725, 39276, 38839, 38415)
        val thr4 = Seq(179715, 164239, 155114, 148603, 143529, 139367, 135835, 132767, 130053, 127619, 125411, 123391, 121529, 119801, 118189, 116678, 115257, 113914, 112642, 111433, 110281, 109181, 108128, 107119, 106149, 105217, 104318, 103450, 102612, 101801, 101016, 100255, 99517, 98799, 98102, 97423, 96762, 96118, 95490, 94877)
        def cleared(thr: Seq[Int]): String = thr.map(t =>
          s"(CASE WHEN stat_e4 >= $t THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val d = Materialize(table(s, dir, "documents")
          .select(col("source"), col("lang"),
            (col("n_chars") >= 250).as("t"),
            (size(tokens(col("text"))) >= 45).as("a"),
            (size(array_distinct(tokens(col("text")))) >= 35)
              .as("b")))
        val mc = d.groupBy("source")
          .agg(sum(expr("CASE WHEN a = t AND b <> t THEN 1 ELSE 0 END"))
              .as("bd"),
            sum(expr("CASE WHEN a <> t AND b = t THEN 1 ELSE 0 END"))
              .as("cd"))
          .select(lit("mcnemar").as("kind"), col("source"),
            lit(1L).as("df"),
            expr("""CASE WHEN bd + cd = 0 THEN CAST(0 AS BIGINT)
              |  ELSE CAST(CAST(bd - cd AS DECIMAL(38,0)) * (bd - cd)
              |    * 10000 DIV (bd + cd) AS BIGINT) END"""
              .stripMargin).as("stat_e4"))
        import s.implicits._
        val gl = d.groupBy("lang").agg(count(lit(1)).as("g"))
        val glLocal = broadcast(gl.collect().toSeq
          .map(r => (r.getString(0), r.getLong(1)))
          .toDF("lang", "g"))
        val ns = d.groupBy("source").agg(count(lit(1)).as("ns"))
        val nAll = d.agg(count(lit(1)).as("nn"))
        val cellsO = d.groupBy("source", "lang")
          .agg(count(lit(1)).as("o"))
        val gof = ns.join(glLocal)
          .join(cellsO, Seq("source", "lang"), "left")
          .join(broadcast(nAll))
          .select(col("source"), col("ns"), col("g"), col("nn"),
            coalesce(col("o"), lit(0L)).as("o"))
          .withColumn("term", expr(
            "(CAST(o AS DECIMAL(38,0)) * nn - CAST(ns AS " +
              "DECIMAL(38,0)) * g) * (CAST(o AS DECIMAL(38,0)) * nn " +
              "- CAST(ns AS DECIMAL(38,0)) * g) * 10000 DIV " +
              "(CAST(nn AS DECIMAL(38,0)) * ns * g)"))
          .groupBy("source")
          .agg(sum("term").cast("long").as("stat_e4"))
          .select(lit("langmix_gof").as("kind"), col("source"),
            lit(4L).as("df"), col("stat_e4"))
        val tests = mc.unionAll(gof)
          .withColumn("k_level", expr(
            s"""CAST(41 - (CASE WHEN df = 1
               |  THEN ${cleared(thr1)}
               |  ELSE ${cleared(thr4)} END) AS BIGINT)"""
              .stripMargin))
        tests
          .withColumn("p_rank", row_number().over(
            Window.orderBy("k_level", "kind", "source")).cast("long"))
          .withColumn("kstar", coalesce(
            max(when(col("k_level") <= col("p_rank"), col("p_rank")))
              .over(Window.partitionBy()), lit(0L)))
          .withColumn("bh_reject",
            when(col("p_rank") <= col("kstar"), 1L).otherwise(0L))
          .withColumn("bonf_reject",
            when(col("k_level") <= 1, 1L).otherwise(0L))
          .select("kind", "source", "df", "stat_e4", "k_level",
            "p_rank", "bh_reject", "bonf_reject")
          .orderBy("kind", "source")
      },
      Some {
        def cleared(thr: Seq[Int]): String = thr.map(t =>
          s"(CASE WHEN stat_e4 >= $t THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val thr1 = Seq(104149, 91406, 84011, 78794, 74768, 71491, 68732, 66349, 64254, 62385, 60700, 59165, 57756, 56455, 55247, 54119, 53062, 52067, 51128, 50239, 49395, 48591, 47825, 47093, 46392, 45719, 45073, 44452, 43853, 43276, 42718, 42179, 41657, 41152, 40662, 40186, 39725, 39276, 38839, 38415)
        val thr4 = Seq(179715, 164239, 155114, 148603, 143529, 139367, 135835, 132767, 130053, 127619, 125411, 123391, 121529, 119801, 118189, 116678, 115257, 113914, 112642, 111433, 110281, 109181, 108128, 107119, 106149, 105217, 104318, 103450, 102612, 101801, 101016, 100255, 99517, 98799, 98102, 97423, 96762, 96118, 95490, 94877)
        s"""WITH d AS (SELECT source, lang,
           |    n_chars >= 250 AS t,
           |    len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 45 AS a,
           |    len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) >= 35 AS b
           |  FROM documents),
           |mc AS (SELECT 'mcnemar' AS kind, source,
           |    CAST(1 AS BIGINT) AS df,
           |    CASE WHEN sum(CASE WHEN a <> b THEN 1 ELSE 0 END)
           |        = 0 THEN CAST(0 AS BIGINT)
           |      ELSE CAST(CAST(sum(CASE WHEN a = t AND b <> t
           |          THEN 1 ELSE 0 END)
           |        - sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0
           |          END) AS HUGEINT)
           |        * (sum(CASE WHEN a = t AND b <> t THEN 1 ELSE 0
           |            END)
           |          - sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0
           |            END)) * 10000
           |        // (sum(CASE WHEN a = t AND b <> t THEN 1 ELSE 0
           |            END)
           |          + sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0
           |            END)) AS BIGINT) END AS stat_e4
           |  FROM d GROUP BY 1, 2),
           |gl AS (SELECT lang, CAST(count(*) AS BIGINT) AS g
           |  FROM d GROUP BY 1),
           |nsf AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
           |  FROM d GROUP BY 1),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d),
           |cells AS (SELECT source, lang,
           |    CAST(count(*) AS BIGINT) AS o
           |  FROM d GROUP BY 1, 2),
           |gof AS (SELECT 'langmix_gof' AS kind, nsf.source,
           |    CAST(4 AS BIGINT) AS df,
           |    CAST(sum((CAST(COALESCE(cells.o, 0) AS HUGEINT) * nn
           |        - CAST(nsf.ns AS HUGEINT) * gl.g)
           |      * (CAST(COALESCE(cells.o, 0) AS HUGEINT) * nn
           |        - CAST(nsf.ns AS HUGEINT) * gl.g) * 10000
           |      // (CAST(nn AS HUGEINT) * nsf.ns * gl.g)) AS BIGINT)
           |      AS stat_e4
           |  FROM nsf CROSS JOIN gl
           |  LEFT JOIN cells ON cells.source = nsf.source
           |    AND cells.lang = gl.lang
           |  CROSS JOIN nn
           |  GROUP BY 1, 2, 3),
           |tests AS (SELECT *, CAST(41 - (CASE WHEN df = 1
           |      THEN ${cleared(thr1)}
           |      ELSE ${cleared(thr4)} END) AS BIGINT) AS k_level
           |  FROM (SELECT * FROM mc UNION ALL SELECT * FROM gof)),
           |ranked AS (SELECT *, CAST(row_number() OVER (
           |      ORDER BY k_level, kind, source) AS BIGINT) AS p_rank
           |  FROM tests),
           |ks AS (SELECT *, COALESCE(max(CASE WHEN k_level <= p_rank
           |      THEN p_rank END) OVER (), 0) AS kstar
           |  FROM ranked)
           |SELECT kind, source, df, stat_e4, k_level, p_rank,
           |  CAST(CASE WHEN p_rank <= kstar THEN 1 ELSE 0 END
           |    AS BIGINT) AS bh_reject,
           |  CAST(CASE WHEN k_level <= 1 THEN 1 ELSE 0 END AS BIGINT)
           |    AS bonf_reject
           |FROM ks ORDER BY kind, source""".stripMargin
      }),

    // ---- stratified ATE under confounded assignment -------------------------
    // The confounding-adjustment twin of the q324 association audit, on
    // the experimentation side: treatment assignment is deliberately
    // CORRELATED with user activity (md5 coin whose threshold rises
    // 20%→80% across activity buckets), while the outcome (purchase
    // cents) depends on activity but NOT on treatment — so the naive
    // treated-vs-control difference is pure confounding bias and the
    // stratified estimator (bucket-weighted within-bucket differences,
    // all sign-split integer milli-cents) must collapse toward zero.
    // One user rollup, one bucket rollup; the ALL-row carries naive,
    // stratified, and the bias their difference.
    "q326_stratified_ate" -> QueryDef(
      (s, dir) => {
        import graft.functions.IntegerMath.{sdlSql => sdiv}
        val users = Materialize(table(s, dir, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_ev"),
            sum(expr("CASE WHEN event_type = 'purchase' " +
              "THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END"))
              .as("y_cents"))
          .withColumn("b", expr("greatest(least((n_ev - 50) DIV 10, 3), 0)"))
          .withColumn("t", expr(
            "CASE WHEN CAST(conv(substring(md5(concat('trt|', " +
              "CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) " +
              "% 100 < 20 + 20 * b THEN 1 ELSE 0 END")))
        val byB = Materialize(users.groupBy("b")
          .agg(count(lit(1)).as("n"),
            sum("t").as("n1"),
            sum(expr("1 - t")).as("n0"),
            sum(expr("CASE WHEN t = 1 THEN y_cents ELSE 0 END"))
              .as("s1"),
            sum(expr("CASE WHEN t = 0 THEN y_cents ELSE 0 END"))
              .as("s0"))
          .withColumn("diff_milli", expr(
            s"(${sdiv("s1 * 1000", "greatest(n1, 1)")}) - " +
              s"(${sdiv("s0 * 1000", "greatest(n0, 1)")})")))
        val glob = byB.agg(
            sum("n").as("nn"), sum("n1").as("gn1"),
            sum("n0").as("gn0"), sum("s1").as("gs1"),
            sum("s0").as("gs0"),
            sum(expr("CAST(diff_milli AS DECIMAL(38,0)) * n"))
              .as("wsum"))
          .withColumn("naive_milli", expr(
            s"(${sdiv("gs1 * 1000", "greatest(gn1, 1)")}) - " +
              s"(${sdiv("gs0 * 1000", "greatest(gn0, 1)")})"))
          .withColumn("strat_milli", expr(
            s"CAST(${sdiv("wsum", "nn")} AS BIGINT)"))
          .select("naive_milli", "strat_milli")
        byB.join(broadcast(glob))
          .withColumn("bias_milli",
            expr("naive_milli - strat_milli"))
          .select("b", "n", "n1", "n0", "diff_milli", "naive_milli",
            "strat_milli", "bias_milli")
          .orderBy("b")
      },
      Some("""WITH u AS (SELECT user_id,
             |    CAST(count(*) AS BIGINT) AS n_ev,
             |    CAST(sum(CASE WHEN event_type = 'purchase'
             |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0
             |      END) AS BIGINT) AS y_cents
             |  FROM events GROUP BY 1),
             |ub AS (SELECT *,
             |    greatest(least((n_ev - 50) // 10, 3), 0) AS b,
             |    CASE WHEN CAST(('0x' || substr(md5('trt|' ||
             |        CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |      % 100 < 20 + 20 *
             |        greatest(least((n_ev - 50) // 10, 3), 0)
             |      THEN 1 ELSE 0 END AS t
             |  FROM u),
             |byb AS (SELECT b, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(t) AS BIGINT) AS n1,
             |    CAST(sum(1 - t) AS BIGINT) AS n0,
             |    CAST(sum(CASE WHEN t = 1 THEN y_cents ELSE 0 END)
             |      AS BIGINT) AS s1,
             |    CAST(sum(CASE WHEN t = 0 THEN y_cents ELSE 0 END)
             |      AS BIGINT) AS s0
             |  FROM ub GROUP BY 1),
             |bd AS (SELECT *,
             |    (CASE WHEN s1 >= 0
             |      THEN (s1 * 1000) // greatest(n1, 1)
             |      ELSE -((-(s1 * 1000)) // greatest(n1, 1)) END)
             |    - (CASE WHEN s0 >= 0
             |      THEN (s0 * 1000) // greatest(n0, 1)
             |      ELSE -((-(s0 * 1000)) // greatest(n0, 1)) END)
             |      AS diff_milli
             |  FROM byb),
             |gl AS (SELECT
             |    (CASE WHEN sum(s1) >= 0
             |      THEN (sum(s1) * 1000) // greatest(sum(n1), 1)
             |      ELSE -((-(sum(s1) * 1000))
             |        // greatest(sum(n1), 1)) END)
             |    - (CASE WHEN sum(s0) >= 0
             |      THEN (sum(s0) * 1000) // greatest(sum(n0), 1)
             |      ELSE -((-(sum(s0) * 1000))
             |        // greatest(sum(n0), 1)) END) AS naive_milli,
             |    CAST(CASE WHEN sum(CAST(diff_milli AS HUGEINT) * n)
             |        >= 0
             |      THEN sum(CAST(diff_milli AS HUGEINT) * n)
             |        // sum(n)
             |      ELSE -((-sum(CAST(diff_milli AS HUGEINT) * n))
             |        // sum(n)) END AS BIGINT) AS strat_milli
             |  FROM bd)
             |SELECT CAST(bd.b AS BIGINT) AS b, bd.n, bd.n1, bd.n0,
             |  CAST(bd.diff_milli AS BIGINT) AS diff_milli,
             |  CAST(gl.naive_milli AS BIGINT) AS naive_milli,
             |  gl.strat_milli,
             |  CAST(gl.naive_milli - gl.strat_milli AS BIGINT)
             |    AS bias_milli
             |FROM bd CROSS JOIN gl ORDER BY b""".stripMargin)),

    // ---- Dawid-Skene annotator-quality EM ------------------------------------
    // Majority vote (the q327/q328 fixture's implicit aggregator) treats
    // every rater as equally reliable; Dawid-Skene jointly estimates the
    // per-rater confusion matrices AND the latent true labels, so a
    // noise rater (g4 here, pure md5 hash) is LEARNED to be
    // uninformative instead of diluting the consensus. Two EM rounds in
    // exact integer milli fixed point, fully declarative on both
    // engines. 100 TB shape: each M-step is ONE scalar aggregate over
    // the document frame (the 36 confusion sums + 3 class masses +
    // count reduce tree-style, no shuffle); each E-step is a pure
    // map-side projection against the BROADCAST 1-row M-step result —
    // there is no per-round join, no iteration-scale shuffle, and the
    // state is O(R*K^2) regardless of corpus size. Products are bounded
    // by 1000^5 * 1000 < 1e18, inside int64 on both engines (the q296
    // wrap rule honored by construction). Laplace (+1 / +3) smoothing
    // keeps every confusion cell positive so a zero cell cannot zero an
    // E-step product.
    "q329_dawid_skene" -> QueryDef(
      (s, dir) => {
        val rs = 1 to 4; val ks = 0 to 2; val cs = 0 to 2
        // 36 confusion sums + 3 class masses + doc count, one scalar agg
        def mAggExprs: Seq[String] =
          (for { r <- rs; k <- ks; c <- cs } yield
            s"sum(CASE WHEN g$r = $k THEN t$c ELSE 0 END) " +
              s"AS n_r${r}k${k}c$c") ++
            cs.map(c => s"sum(t$c) AS s$c") :+ "count(1) AS nd"
        // smoothed confusion cells and priors, computed FROM the agg row
        def mDerived: Seq[String] =
          (for { r <- rs; k <- ks; c <- cs } yield
            s"(n_r${r}k${k}c$c + 1) * 1000 DIV (s$c + 3) " +
              s"AS pi_r${r}k${k}c$c") ++
            cs.map(c => s"s$c DIV nd AS prior$c")
        def pick(r: Int, c: Int): String =
          s"(CASE g$r WHEN 0 THEN pi_r${r}k0c$c WHEN 1 THEN " +
            s"pi_r${r}k1c$c ELSE pi_r${r}k2c$c END)"
        def score(c: Int): String =
          s"prior$c" + rs.map(r => s" * ${pick(r, c)}").mkString
        def eDerived: Seq[String] =
          cs.map(c => s"(${score(c)}) * 1000 DIV " +
            s"(${cs.map(score).mkString(" + ")}) AS t$c")

        val d0 = Materialize(
          graft.queries.TextQueries
            .raterLabels(tableParallel(s, dir, "documents"))
            .selectExpr(Seq("doc_id", "g1", "g2", "g3", "g4") ++
              cs.map(c =>
                s"(CAST(g1 = $c AS BIGINT) + CAST(g2 = $c AS BIGINT) + " +
                  s"CAST(g3 = $c AS BIGINT) + CAST(g4 = $c AS BIGINT)) " +
                  s"* 250 AS t$c"): _*))
        def mStep(d: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          d.agg(expr(mAggExprs.head),
              mAggExprs.tail.map(expr): _*)
            .selectExpr("*" +: mDerived: _*)
        def eStep(d: org.apache.spark.sql.DataFrame,
                  m: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          Materialize(d.crossJoin(broadcast(m))
            .selectExpr(Seq("doc_id", "g1", "g2", "g3", "g4") ++
              eDerived: _*))
        val d1 = eStep(d0, mStep(d0))
        val d2 = eStep(d1, mStep(d1))
        val mF = mStep(d2)
        import s.implicits._
        val grid = (for { r <- rs; k <- ks; c <- cs }
          yield (r.toLong, k.toLong, c.toLong))
          .toDF("rater", "obs_k", "true_c")
        grid.join(broadcast(mF))
          .selectExpr("rater", "obs_k", "true_c",
            "CASE " + (for { r <- rs; k <- ks; c <- cs } yield
              s"WHEN rater = $r AND obs_k = $k AND true_c = $c " +
                s"THEN pi_r${r}k${k}c$c").mkString(" ") +
              " END AS pi_milli",
            "CASE true_c WHEN 0 THEN prior0 WHEN 1 THEN prior1 " +
              "ELSE prior2 END AS prior_milli",
            "nd AS n_docs")
          .orderBy("rater", "obs_k", "true_c")
      },
      Some {
        val rs = 1 to 4; val ks = 0 to 2; val cs = 0 to 2
        def mAgg: String =
          ((for { r <- rs; k <- ks; c <- cs } yield
            s"sum(CASE WHEN g$r = $k THEN t$c ELSE 0 END) " +
              s"AS n_r${r}k${k}c$c") ++
            cs.map(c => s"sum(t$c) AS s$c") :+
            "CAST(count(1) AS BIGINT) AS nd").mkString(", ")
        def mDer: String =
          ((for { r <- rs; k <- ks; c <- cs } yield
            s"(n_r${r}k${k}c$c + 1) * 1000 // (s$c + 3) " +
              s"AS pi_r${r}k${k}c$c") ++
            cs.map(c => s"s$c // nd AS prior$c")).mkString(", ")
        def pick(r: Int, c: Int): String =
          s"(CASE g$r WHEN 0 THEN pi_r${r}k0c$c WHEN 1 THEN " +
            s"pi_r${r}k1c$c ELSE pi_r${r}k2c$c END)"
        def score(c: Int): String =
          s"prior$c" + rs.map(r => s" * ${pick(r, c)}").mkString
        def eDer: String =
          cs.map(c => s"(${score(c)}) * 1000 // " +
            s"(${cs.map(score).mkString(" + ")}) AS t$c").mkString(", ")
        s"""WITH ${TextQueries.duckRaterCtes},
           |d0 AS (SELECT doc_id, g1, g2, g3, g4,
           |    ${cs.map(c =>
               s"((g1 = $c)::BIGINT + (g2 = $c)::BIGINT + " +
                 s"(g3 = $c)::BIGINT + (g4 = $c)::BIGINT) * 250 AS t$c")
               .mkString(",\n    ")}
           |  FROM raters),
           |ma0 AS (SELECT $mAgg FROM d0),
           |m0 AS (SELECT *, $mDer FROM ma0),
           |d1 AS (SELECT doc_id, g1, g2, g3, g4, $eDer
           |  FROM d0 CROSS JOIN m0),
           |ma1 AS (SELECT $mAgg FROM d1),
           |m1 AS (SELECT *, $mDer FROM ma1),
           |d2 AS (SELECT doc_id, g1, g2, g3, g4, $eDer
           |  FROM d1 CROSS JOIN m1),
           |ma2 AS (SELECT $mAgg FROM d2),
           |m2 AS (SELECT *, $mDer FROM ma2),
           |grid AS (SELECT CAST(r.r AS BIGINT) AS rater,
           |    CAST(k.k AS BIGINT) AS obs_k, CAST(c.c AS BIGINT) AS true_c
           |  FROM (SELECT unnest(range(1, 5)) AS r) r
           |  CROSS JOIN (SELECT unnest(range(0, 3)) AS k) k
           |  CROSS JOIN (SELECT unnest(range(0, 3)) AS c) c)
           |SELECT rater, obs_k, true_c,
           |  CAST(CASE ${(for { r <- rs; k <- ks; c <- cs } yield
              s"WHEN rater = $r AND obs_k = $k AND true_c = $c " +
                s"THEN pi_r${r}k${k}c$c").mkString(" ")}
           |    END AS BIGINT) AS pi_milli,
           |  CAST(CASE true_c WHEN 0 THEN prior0 WHEN 1 THEN prior1
           |    ELSE prior2 END AS BIGINT) AS prior_milli,
           |  nd AS n_docs
           |FROM grid CROSS JOIN m2
           |ORDER BY rater, obs_k, true_c""".stripMargin
      }),

    // ---- PSI drift between deployment windows --------------------------------
    // The population-stability index — the standard "did the input
    // distribution move" gate between a reference window and a live
    // window: PSI = sum_b (p_b - q_b) * ln(p_b / q_b) over fixed value
    // buckets, with add-1 smoothing so an empty bucket cannot produce
    // ln(0). Bucketing is on exact integer cents against FIXED
    // boundaries (a quantile bucketing would entangle the two windows);
    // the whole statistic is one scan -> two-sided conditional agg by
    // bucket -> 8-row frame, so at 100 TB it costs one pass and a
    // constant-size reduce, and the streaming twin can maintain the
    // same counts incrementally. Convention: PSI < 0.1 stable, > 0.25
    // action — the psi_r4 column is directly comparable to those gates.
    "q330_psi_drift" -> QueryDef(
      (s, dir) => psiFromCounts(psiBucketCounts(table(s, dir, "events")))
        .orderBy("bucket"),
      Some("""WITH ev AS (SELECT date_part('day', ts) AS dom,
             |    CAST(floor(value * 100) AS BIGINT) AS vc
             |  FROM events),
             |eb AS (SELECT CASE WHEN vc < 200 THEN 0 WHEN vc < 500 THEN 1
             |    WHEN vc < 1000 THEN 2 WHEN vc < 2000 THEN 3
             |    WHEN vc < 5000 THEN 4 WHEN vc < 10000 THEN 5
             |    WHEN vc < 20000 THEN 6 ELSE 7 END AS bucket, dom
             |  FROM ev),
             |cn AS (SELECT bucket,
             |    CAST(sum(CASE WHEN dom <= 15 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c_early,
             |    CAST(sum(CASE WHEN dom > 15 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c_late
             |  FROM eb GROUP BY 1),
             |bk AS (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS bucket),
             |fl AS (SELECT bk.bucket,
             |    coalesce(cn.c_early, 0) AS c_early,
             |    coalesce(cn.c_late, 0) AS c_late
             |  FROM bk LEFT JOIN cn USING (bucket)),
             |tt AS (SELECT CAST(sum(c_early + 1) AS BIGINT) AS te,
             |    CAST(sum(c_late + 1) AS BIGINT) AS tl FROM fl),
             |tm AS (SELECT bucket, c_early, c_late,
             |    ((c_early + 1) * 1.0 / te - (c_late + 1) * 1.0 / tl)
             |      * ln(((c_early + 1) * 1.0 / te)
             |        / ((c_late + 1) * 1.0 / tl)) AS term
             |  FROM fl CROSS JOIN tt)
             |SELECT bucket, c_early, c_late,
             |  round(term, 6) AS term_r6,
             |  round(sum(term) OVER (), 4) AS psi_r4
             |FROM tm ORDER BY bucket""".stripMargin)),

    // ---- multiplicative-weights domain reweighting ---------------------------
    // The hedge/DoReMi-style mixture update: sources whose documents
    // fail a quality proxy at a higher rate get UP-weighted so the next
    // training round spends more of its budget where the model (here, a
    // fixed screen) struggles — three unrolled update rounds, exact
    // integer milli arithmetic. The ONLY corpus-scale stage is the ONE
    // groupBy computing per-source loss rates; the weight recursion
    // runs on the k=|sources| row frame (scalar normalization folded in
    // via window-over-() so each round references its predecessor
    // exactly once — the q296 CTE discipline).
    "q334_multiplicative_weights" -> QueryDef(
      (s, dir) => {
        val loss = tableParallel(s, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_chars") < 215, 1L).otherwise(0L))
              .as("n_low"))
          .withColumn("loss_bp", expr("n_low * 10000 DIV n"))
        // w0 = 1000; round: raw = w * (1000 + loss_bp DIV 20) DIV 1000,
        // then renormalize to sum k*1000 (floor division both engines)
        def roundStep(d: org.apache.spark.sql.DataFrame, i: Int)
            : org.apache.spark.sql.DataFrame =
          d.withColumn("raw", expr(
              s"w${i - 1} * (1000 + loss_bp DIV 20) DIV 1000"))
            .withColumn("wsum",
              sum("raw").over(Window.partitionBy()))
            .withColumn("ksrc",
              count(lit(1)).over(Window.partitionBy()))
            .withColumn(s"w$i",
              expr("raw * ksrc * 1000 DIV wsum"))
            .drop("raw", "wsum", "ksrc")
        val w0 = loss.withColumn("w0", lit(1000L))
        val w3 = (1 to 3).foldLeft(w0)(roundStep)
        w3.select("source", "n", "loss_bp", "w1", "w2", "w3")
          .orderBy("source")
      },
      Some("""WITH ls AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN n_chars < 215 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_low
             |  FROM documents GROUP BY 1),
             |l0 AS (SELECT source, n, n_low * 10000 // n AS loss_bp,
             |    CAST(1000 AS BIGINT) AS w0 FROM ls),
             |r1 AS (SELECT source, n, loss_bp,
             |    (w0 * (1000 + loss_bp // 20) // 1000)
             |      * count(*) OVER () * 1000
             |      // sum(w0 * (1000 + loss_bp // 20) // 1000) OVER ()
             |      AS w1
             |  FROM l0),
             |r2 AS (SELECT source, n, loss_bp,  w1,
             |    (w1 * (1000 + loss_bp // 20) // 1000)
             |      * count(*) OVER () * 1000
             |      // sum(w1 * (1000 + loss_bp // 20) // 1000) OVER ()
             |      AS w2
             |  FROM r1),
             |r3 AS (SELECT source, n, loss_bp, w1, w2,
             |    (w2 * (1000 + loss_bp // 20) // 1000)
             |      * count(*) OVER () * 1000
             |      // sum(w2 * (1000 + loss_bp // 20) // 1000) OVER ()
             |      AS w3
             |  FROM r2)
             |SELECT source, n, CAST(loss_bp AS BIGINT) AS loss_bp,
             |  CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
             |  CAST(w3 AS BIGINT) AS w3
             |FROM r3 ORDER BY source""".stripMargin)),
  )
}
