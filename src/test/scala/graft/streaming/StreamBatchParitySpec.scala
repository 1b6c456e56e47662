package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.concurrent.TimeLimits.failAfter
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.SpecFiles.tempPath
import graft.{Tables, TestSpark}
import graft.streaming.StreamSessionize._

/** Stream ≡ batch equality gates: the streaming operators replay the SAME
  * fixture the batch twins run on (file source, Trigger.AvailableNow) and
  * must produce the batch answer — not merely a plausible streaming
  * answer. This is the equality check MemoryStream unit tests can't give:
  * a real file replay through checkpointed state.
  */
class StreamBatchParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("file-replay decontamScreenStream == q182-style explode-join " +
      "screen (cross-plan pair equality)") {
    failAfter(Span(300, Seconds)) {
      import graft.functions.Kernels.ShingleHashes
      import graft.functions.TextOps.tokens
      val dir = tempPath("decontam_replay_").toString
      val ckpt = tempPath("decontam_ckpt_").toString
      val docs = Tables.table(spark, sf, "documents")
      def shingled(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"),
          ShingleHashes(tokens(col("text"))).as("hs"))
      // static benchmark index: the q182 eval slice with per-doc sizes
      val evalIdx = shingled(docs.filter(col("doc_id") < 50))
        .filter(size(col("hs")) > 0)
        .select(col("doc_id").as("eval_id"), col("hs").as("eval_hs"),
          size(col("hs")).cast("long").as("n_eval"))
      // the ingest stream: corpus docs in 3 adversarial files
      shingled(docs.filter(col("doc_id") >= 50))
        .repartition(3).write.mode("overwrite").parquet(dir)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = decontamScreenStream(stream, evalIdx)
        .writeStream.format("memory").queryName("decontam_replay")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val streamed = spark.table("decontam_replay").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet

      // independent batch derivation through a DIFFERENT plan — the q182
      // explode → equi-join → groupBy count shape — so the gate checks
      // both stream≡batch and array_intersect ≡ explode-join semantics
      val ev = shingled(docs.filter(col("doc_id") < 50))
        .select(col("doc_id").as("eval_id"), explode(col("hs")).as("sh"))
      val evN = ev.groupBy("eval_id").agg(count(lit(1)).as("n_eval"))
      val batch = shingled(docs.filter(col("doc_id") >= 50))
        .select(col("doc_id"), explode(col("hs")).as("sh"))
        .join(ev, "sh")
        .groupBy("doc_id", "eval_id").agg(count(lit(1)).as("overlap"))
        .join(evN, "eval_id")
        .withColumn("bp", expr("overlap * 10000 DIV n_eval"))
        .filter(col("bp") >= 5000)
        .select("doc_id", "eval_id", "overlap", "bp")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty) // the fixture really plants contamination
    }
  }

  test("file-replay cdcUpsertStream == batch applyDelta chain (multiset-" +
      "fingerprint witness)") {
    failAfter(Span(300, Seconds)) {
      import graft.operators.SnapshotDiff
      val dir = tempPath("cdc_replay_").toString
      val ckpt = tempPath("cdc_ckpt_").toString
      // three snapshot generations of the q79 fixture shape: old -> mid
      // -> cur exercises adds, updates, AND removes across TWO sparse
      // delta generations — the compaction has real last-wins work to do
      // (a key changed in gen 1 then removed in gen 2 must end a
      // tombstone)
      val base = Tables.table(spark, sf, "orders")
        .select(col("o_orderkey").as("key"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
      val old = base.filter(col("key") % 3 =!= 0)
        .withColumn("price",
          when(col("key") % 5 === 0, col("price") + 1.0)
            .otherwise(col("price")))
      val mid = base.filter(col("key") % 7 =!= 0)
      val cur = base.filter(col("key") % 11 =!= 0)
      val keys = Seq("key")
      def sparse(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame) =
        SnapshotDiff.diff(a, b, keys)
          .filter(col("change_type") =!= "unchanged")
      val d1 = sparse(old, mid)
      val d2 = sparse(mid, cur)
      // the change feed: both generations tagged with their feed
      // position, shuffled into 3 adversarial round-robin files — a gen-2
      // event can arrive BEFORE the gen-1 event it supersedes, within or
      // across micro-batches; seq alone must restore the order
      d1.withColumn("seq", lit(1L))
        .unionByName(d2.withColumn("seq", lit(2L)))
        .select("key", "status", "price", "change_type", "seq")
        .repartition(3).write.mode("overwrite").parquet(dir)
      import spark.implicits._
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
        .as[CdcEvent]
      val q = cdcUpsertStream(stream)
        .writeStream.format("memory").queryName("cdc_replay")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      // update mode appends one row per touched key per micro-batch; the
      // converged view per key is the row that folded the most events
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(desc("n_events"))
      val finalView = spark.table("cdc_replay")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      // reconstruct the snapshot the applyDelta way: rows of the STARTING
      // snapshot (old — the one the delta chain was diffed against) whose
      // key the feed never touched, plus the feed's surviving payloads
      val rebuiltStream = old
        .join(finalView.select("key"), keys, "left_anti")
        .unionByName(finalView.filter(!col("removed"))
          .select("key", "status", "price"))
      val rebuiltBatch = SnapshotDiff.applyDelta(
        SnapshotDiff.applyDelta(old, d1, keys), d2, keys)
      def fp(df: org.apache.spark.sql.DataFrame) =
        SnapshotDiff.fingerprint(df.select("key", "status", "price"))
          .collect().head
      val s = fp(rebuiltStream)
      assert(s === fp(rebuiltBatch))
      assert(s === fp(cur)) // and the chain really lands on cur
      assert(s.getLong(0) > 0)
      // the witness has teeth on this fixture: a single-row perturbation
      // must break it
      assert(s !== fp(cur.withColumn("price",
        when(col("key") === cur.agg(min("key")).collect().head.getLong(0),
          col("price") + 0.01).otherwise(col("price")))))
    }
  }

  test("cdcUpsertStream under the RocksDB state store == default " +
      "provider (the SCALE.md state-store swap is proven, not asserted)") {
    failAfter(Span(300, Seconds)) {
      import graft.operators.SnapshotDiff
      val dir = tempPath("cdc_rocks_replay_").toString
      val ckpt = tempPath("cdc_rocks_ckpt_").toString
      val base = Tables.table(spark, sf, "orders")
        .select(col("o_orderkey").as("key"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
      val old = base.filter(col("key") % 3 =!= 0)
      val cur = base.filter(col("key") % 11 =!= 0)
      SnapshotDiff.diff(old, cur, Seq("key"))
        .filter(col("change_type") =!= "unchanged")
        .withColumn("seq", lit(1L))
        .select("key", "status", "price", "change_type", "seq")
        .repartition(3).write.mode("overwrite").parquet(dir)
      import spark.implicits._
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val prior = spark.conf.getOption(providerKey)
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state" +
          ".RocksDBStateStoreProvider")
      try {
        val stream = spark.readStream
          .schema(spark.read.parquet(dir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(dir)
          .as[CdcEvent]
        val q = cdcUpsertStream(stream)
          .writeStream.format("memory").queryName("cdc_rocks_replay")
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      } finally {
        prior match {
          case Some(p) => spark.conf.set(providerKey, p)
          case None => spark.conf.unset(providerKey)
        }
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(desc("n_events"))
      val finalView = spark.table("cdc_rocks_replay")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val rebuilt = old
        .join(finalView.select("key"), Seq("key"), "left_anti")
        .unionByName(finalView.filter(!col("removed"))
          .select("key", "status", "price"))
      def fp(df: org.apache.spark.sql.DataFrame) =
        SnapshotDiff.fingerprint(df.select("key", "status", "price"))
          .collect().head
      val s = fp(rebuilt)
      assert(s === fp(cur))
      assert(s.getLong(0) > 0)
    }
  }

  test("file-replay dedupStream == q40 batch dedup on the same fixture") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("dedup_replay_").toString
      val ckpt = tempPath("dedup_ckpt_").toString
      // fixture: documents with a synthetic event time whose span (seconds)
      // sits far inside the 1 h watermark, so stream dedup state covers the
      // whole corpus and the semantics match the batch global dedup
      val docs = Tables.table(spark, sf, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .withColumn("ts",
          timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000000L))
      docs.repartition(3).write.mode("overwrite").parquet(dir) // 3-file replay
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1) // force a multi-batch replay
        .parquet(dir)
      val q = dedupStream(stream, watermark = "1 hour")
        .writeStream.format("memory").queryName("dedup_replay")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      val streamed = spark.table("dedup_replay")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_unique_stream"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // batch twin: q40's n_unique per lang over the same documents
      val batch = graft.SparkEntry.queries("q40_dedup_exact")(spark, sf)
        .select("lang", "n_unique")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch)
      assert(streamed.values.sum > 0)
    }
  }

  test("file-replay mixingStatsStream + projection == q173 batch mixing") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("mixing_replay_").toString
      val ckpt = tempPath("mixing_ckpt_").toString
      // fixture: the documents table itself, split into a 3-file replay —
      // per-source counters are order-insensitive, so no event time or
      // watermark is involved (state = source cardinality, complete mode)
      Tables.table(spark, sf, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .repartition(3).write.mode("overwrite").parquet(dir)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = mixingStatsStream(stream)
        .writeStream.format("memory").queryName("mixing_replay")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      // q173's mixing math as a pure projection over the converged state
      val stats = spark.table("mixing_replay")
        .withColumn("weight_s",
          floor(sqrt(col("sum_tokens")) * lit(1000)).cast("long"))
      val tot = stats.agg(sum("weight_s").as("tot_w"),
        sum("sum_tokens").as("tot_toks"))
      val streamed = stats.crossJoin(broadcast(tot))
        .withColumn("share_bp", expr("weight_s * 10000 DIV tot_w"))
        .withColumn("epochs_pm",
          expr("share_bp * tot_toks DIV (10 * sum_tokens)"))
        .select("source", "n_docs", "sum_tokens", "weight_s", "share_bp",
          "epochs_pm")
        .collect().map(_.toSeq).sortBy(_.head.toString)
      val batch = graft.SparkEntry.queries("q173_temperature_mixing")(spark, sf)
        .collect().map(_.toSeq).sortBy(_.head.toString)
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    }
  }

  test("file-replay enrichStream == static batch join") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("enrich_replay_").toString
      val ckpt = tempPath("enrich_ckpt_").toString
      val ev = Tables.table(spark, sf, "events")
        .select(col("event_id"), col("user_id"))
      ev.repartition(2).write.mode("overwrite").parquet(dir)
      // static dimension: a derived user tier (only for even user ids, so
      // the LEFT join's null path is exercised)
      val dim = ev.select(col("user_id")).distinct()
        .filter(col("user_id") % 2 === 0)
        .withColumn("tier", (col("user_id") % 3).cast("int"))
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = enrichStream(stream, dim)
        .writeStream.format("memory").queryName("enrich_replay")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("tier").agg(count(lit(1)).as("n"))
        .collect().map(r => Option(r.get(0)) -> r.getLong(1)).toMap
      val streamed = agg(spark.table("enrich_replay"))
      val batch = agg(ev.join(broadcast(dim), Seq("user_id"), "left"))
      assert(streamed === batch)
      assert(streamed.contains(None))   // unmatched users kept with nulls
    }
  }

  test("file-replay funnelStream == q80 batch funnel step counts") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("funnel_replay_").toString
      val ckpt = tempPath("funnel_ckpt_").toString
      Tables.table(spark, sf, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .write.mode("overwrite").parquet(dir)
      import spark.implicits._
      // single-batch replay: cross-batch late views can't reopen clicks
      // (see funnelStream scaladoc), so batch-1 semantics = batch q80
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema).parquet(dir)
        .as[StageEvent]
      val q = funnelStream(stream)
        .writeStream.format("memory").queryName("funnel_replay")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      val p = spark.table("funnel_replay")
      val streamed = Seq(
        p.filter(col("t1").isNotNull).count(),
        p.filter(col("t2").isNotNull).count(),
        p.filter(col("t3").isNotNull).count())
      val batch = graft.SparkEntry.queries("q80_funnel_conversion")(spark, sf)
        .orderBy("step").collect().map(_.getLong(2)).toSeq
      assert(streamed === batch)
      assert(streamed.head > 0)
    }
  }

  test("file-replay hoppingTotalsStream == q84 batch hopping windows") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("hop_replay_").toString
      val ckpt = tempPath("hop_ckpt_").toString
      Tables.table(spark, sf, "events")
        .select(col("ts"), col("value"))
        .repartition(3).write.mode("overwrite").parquet(dir)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1) // state must survive micro-batches
        .parquet(dir)
      // complete mode: every window stays visible, so the final table is
      // directly comparable to the batch result (append would withhold
      // windows the final watermark hasn't passed)
      val q = hoppingTotalsStream(stream)
        .writeStream.format("memory").queryName("hop_replay")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))
      val streamed = spark.table("hop_replay").collect().map(key).toSet
      val batch = graft.SparkEntry.queries("q84_hopping_window")(spark, sf)
        .collect().map(key).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    }
  }

  test("file-replay overlapStream == q111 batch interval-overlap join") {
    failAfter(Span(300, Seconds)) {
      val vDir = tempPath("ovl_views_").toString
      val cDir = tempPath("ovl_clicks_").toString
      val ckpt = tempPath("ovl_ckpt_").toString
      val ev = Tables.table(spark, sf, "events")
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts"))
        .write.mode("overwrite").parquet(vDir)
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
        .write.mode("overwrite").parquet(cDir)

      // single micro-batch replay (see attribution gate for why)
      def src(dir: String) = spark.readStream
        .schema(spark.read.parquet(dir).schema).parquet(dir)
      val q = overlapStream(src(vDir), src(cDir))
        .writeStream.format("memory").queryName("ovl_replay")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      // q111's per-user aggregation over the streamed pairs...
      val streamed = spark.table("ovl_replay")
        .groupBy(col("v_user_id").as("user_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(col("v_event_id") + col("c_event_id")).as("id_sum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // ...must equal the oracled batch q111 verbatim
      val batch = graft.SparkEntry
        .queries("q111_interval_overlap_join")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    }
  }

  test("file-replay attributionStream == q67 batch attribution on the same fixture") {
    failAfter(Span(300, Seconds)) {
      val cDir = tempPath("att_clicks_").toString
      val pDir = tempPath("att_purch_").toString
      val ckpt = tempPath("att_ckpt_").toString
      val ev = Tables.table(spark, sf, "events")
      ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
        .write.mode("overwrite").parquet(cDir)
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
        .write.mode("overwrite").parquet(pDir)

      // single micro-batch replay: files are not time-ordered, so a
      // multi-batch replay could advance the watermark past genuinely
      // unseen (not late) rows; batch-1 has no prior watermark, emitting
      // every in-horizon pair exactly like the batch join
      def src(dir: String) = spark.readStream
        .schema(spark.read.parquet(dir).schema).parquet(dir)
      val q = attributionStream(src(cDir), src(pDir), horizon = "30 minutes")
        .writeStream.format("memory").queryName("att_replay")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      // q67's aggregation applied to the streamed pairs...
      val streamed = spark.table("att_replay")
        .select(col("p_event_id").as("p_id"), col("p_user_id").as("p_user"),
          unix_micros(col("p_ts")).as("p_us"),
          unix_micros(col("c_ts")).as("c_us"))
        .groupBy("p_id", "p_user", "p_us")
        .agg(max(col("c_us")).as("attributed_click_us"),
          count(lit(1)).as("n_candidate_clicks"))
        .groupBy((col("p_user") % 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_attributed"),
          sum("n_candidate_clicks").as("total_candidates"),
          round(avg((col("p_us") - col("attributed_click_us"))
            / 1000000.0), 3).as("avg_gap_s"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      // ...must equal the oracled batch q67 verbatim
      val batch = graft.SparkEntry.queries("q67_attribution_batch")(spark, sf)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    }
  }

  test("file-replay windowedQuantilesStream == batch sketch (mergeable state)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("wq_replay_").toString
      val ckpt = tempPath("wq_ckpt_").toString
      val ev = Tables.table(spark, sf, "events").select(col("ts"), col("value"))
      ev.repartition(3).write.mode("overwrite").parquet(dir) // 3-file replay
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1) // sketch state must MERGE across batches
        .parquet(dir)
      val q = windowedQuantilesStream(stream)
        .writeStream.format("memory").queryName("wq_replay")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      val streamed = spark.table("wq_replay").collect().map(key).toSet
      // batch twin: identical sketch aggregation over the same fixture —
      // equality holds BECAUSE the sketch is partition/batch-order
      // independent (QuantileSketchSpec proves layout independence)
      val batch = ev.filter(col("value") > 0)
        .groupBy(window(col("ts"), "1 day"))
        .agg(graft.functions.QuantileSketch.sketch(col("value")).as("sk"),
          count(lit(1)).as("n"))
        .select(col("window.start"), col("n"),
          round(col("sk.p50"), 4), round(col("sk.p95"), 4))
        .collect().map(key).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    }
  }

  test("file-replay latestStream == q128 batch latest-per-key compaction") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("latest_replay_").toString
      val ckpt = tempPath("latest_ckpt_").toString
      Tables.table(spark, sf, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
        .repartition(3).write.mode("overwrite").parquet(dir) // 3-file replay
      import spark.implicits._
      // multi-batch replay is SAFE here (unlike the join gates): the
      // per-key fold is a commutative (us, event_id) max, so any split of
      // events across micro-batches converges to the same compacted view
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
        .as[VersionedEvent]
      val q = latestStream(stream)
        .writeStream.format("memory").queryName("latest_replay")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      // update mode appends one row per touched key per micro-batch; the
      // converged view per key is the row with the highest version count
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("n_versions"))
      val streamed = spark.table("latest_replay")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getDouble(5))).toSet
      val batch = graft.SparkEntry.queries("q128_latest_per_key")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getDouble(5))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    }
  }

  test("file-replay bandOwnerStream == batch LSH bucket owners + dup sets") {
    failAfter(Span(300, Seconds)) {
      import graft.functions.Kernels.{MinhashBandKeys, ShingleHashes}
      import graft.functions.TextOps.tokens
      val dir = tempPath("lshdup_replay_").toString
      val ckpt = tempPath("lshdup_ckpt_").toString
      // the SAME signature pipeline the batch MinHash-LSH query runs
      val bands = Tables.table(spark, sf, "documents")
        .select(col("doc_id"),
          ShingleHashes(tokens(col("text"))).as("hs"))
        .filter(size(col("hs")) > 0)
        .select(col("doc_id"), posexplode(MinhashBandKeys(col("hs"))))
        .toDF("doc_id", "band_id", "key")
      // adversarial round-robin splits: the per-bucket fold is a
      // commutative min, so ANY arrival order must converge exactly
      bands.repartition(3).write.mode("overwrite").parquet(dir)
      import spark.implicits._
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
        .as[DocBand]
      val q = bandOwnerStream(stream)
        .writeStream.format("memory").queryName("lshdup_replay")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      // update mode: converged owner per bucket is the MIN across updates
      val streamedOwners = spark.table("lshdup_replay")
        .groupBy("band_id", "key").agg(min("min_doc").as("min_doc"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val batchOwners = bands
        .groupBy("band_id", "key").agg(min("doc_id").as("min_doc"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamedOwners === batchOwners)
      assert(streamedOwners.nonEmpty)

      // derived near-dup sets agree: a doc is a candidate iff some band
      // key is owned by a lower doc_id
      val docKeys = bands.collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getString(2))))
      def dups(owners: Map[(Int, String), Long]): Set[Long] =
        docKeys.collect {
          case (doc, bk) if owners(bk) < doc => doc
        }.toSet
      assert(dups(streamedOwners) === dups(batchOwners))
      assert(dups(batchOwners).nonEmpty) // the fixture really has near-dups
    }
  }

  test("file-replay decayedScoreStream == batch decay fold (exact, any order)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("decay_replay_").toString
      val ckpt = tempPath("decay_ckpt_").toString
      val ev = Tables.table(spark, sf, "events")
        .select(col("user_id").cast("long").as("user_id"), col("ts"),
          col("value").cast("double").as("value"))
      // multi-batch replay with ROUND-ROBIN splits on purpose: the decay
      // term is a function of the event alone (event-time age against a
      // fixed reference, integer-scaled), so the per-user sum is
      // order-insensitive and ANY arrival order must converge exactly —
      // that claim is the gate
      ev.repartition(3).write.mode("overwrite").parquet(dir)
      val refMs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0) / 1000L
      import spark.implicits._
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
        .as[Event]
      val q = decayedScoreStream(stream, refMs)
        .writeStream.format("memory").queryName("decay_replay")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()

      // update mode: the converged row per user carries the highest count
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("n_events"))
      val streamed = spark.table("decay_replay")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      // batch twin: an independently-computed driver fold over the same
      // events through the same decayTerm arithmetic
      val batch = ev.collect()
        .map(r => (r.getLong(0),
          decayTerm(r.getDouble(2), r.getTimestamp(1).getTime, refMs,
            86400000L)))
        .groupBy(_._1)
        .map { case (u, terms) => u -> (terms.size.toLong, terms.map(_._2).sum) }
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      assert(streamed.values.exists(_._2 > 0))
    }
  }

  test("checkpoint-recovery: cdcUpsertStream stopped and restarted twice " +
      "mid-feed still rebuilds cur (state survives the restarts)") {
    failAfter(Span(300, Seconds)) {
      // The exactly-once claim mapGroupsWithState carries at 100 TB: a
      // long-running CDC consumer WILL be killed and restarted from its
      // checkpoint, and the rebuilt snapshot must still equal the batch
      // applyDelta chain. The feed is delivered in three waves with a full
      // query.stop()/restart between each: wave 0 ships every gen-2 event
      // FIRST, waves 1-2 ship the gen-1 events it supersedes — so the
      // last-wins answer for every superseded key depends on seq-2 state
      // written before a restart and read after it. A checkpoint that
      // loses (or double-applies) state cannot land on cur's fingerprint.
      import graft.operators.SnapshotDiff
      val dir = tempPath("cdc_ckptrec_replay_").toString
      val ckpt = tempPath("cdc_ckptrec_ckpt_").toString
      val base = Tables.table(spark, sf, "orders")
        .select(col("o_orderkey").as("key"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"))
      val old = base.filter(col("key") % 3 =!= 0)
        .withColumn("price",
          when(col("key") % 5 === 0, col("price") + 1.0)
            .otherwise(col("price")))
      val mid = base.filter(col("key") % 7 =!= 0)
      val cur = base.filter(col("key") % 11 =!= 0)
      val keys = Seq("key")
      def sparse(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame) =
        SnapshotDiff.diff(a, b, keys)
          .filter(col("change_type") =!= "unchanged")
      val d1 = sparse(old, mid)
      val d2 = sparse(mid, cur)
      def feed(d: org.apache.spark.sql.DataFrame, seq: Long) =
        d.withColumn("seq", lit(seq))
          .select("key", "status", "price", "change_type", "seq")
      // wave 0: all gen-2 events; waves 1/2: gen-1 split by key parity
      val waves = Seq(
        feed(d2, 2L),
        feed(d1.filter(col("key") % 2 === 1), 1L),
        feed(d1.filter(col("key") % 2 === 0), 1L))

      import spark.implicits._
      // the memory sink refuses checkpoint recovery, so the recoverable
      // foreachBatch sink harvests each micro-batch keyed by batchId — a
      // batch replayed after a restart overwrites its own slot instead of
      // double-counting (the at-least-once seam foreachBatch documents)
      val collected =
        scala.collection.mutable.Map.empty[Long, Seq[CdcView]]
      // one run segment: deliver a wave as NEW files into the watched dir,
      // start a fresh query on the SAME checkpoint, drain, stop; returns
      // the batchIds this segment emitted
      def runSegment(wave: org.apache.spark.sql.DataFrame): Set[Long] = {
        val before = collected.synchronized(collected.keySet.toSet)
        wave.coalesce(1).write.mode("append").parquet(dir)
        val stream = spark.readStream
          .schema(spark.read.parquet(dir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(dir)
          .as[CdcEvent]
        val sinkFn: (org.apache.spark.sql.Dataset[CdcView], Long) => Unit =
          (df, batchId) => {
            val rows = df.collect().toSeq
            collected.synchronized { collected(batchId) = rows }
          }
        val q = cdcUpsertStream(stream)
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(sinkFn)
          .start()
        try q.awaitTermination() finally q.stop()
        collected.synchronized(collected.keySet.toSet) -- before
      }
      val segBatches: Seq[Set[Long]] = waves.map(runSegment)
      // the converged view per key is the max-n_events emission across
      // every batch of every segment
      val views = collected.synchronized(collected.values.flatten.toSeq)
      val finalView = spark.createDataset(
        views.groupBy(_.key).map { case (_, vs) =>
          vs.maxBy(_.n_events)
        }.toSeq).toDF()
      val rebuilt = old
        .join(finalView.select("key"), keys, "left_anti")
        .unionByName(finalView.filter(!col("removed"))
          .select("key", "status", "price"))
      def fp(df: org.apache.spark.sql.DataFrame) =
        SnapshotDiff.fingerprint(df.select("key", "status", "price"))
          .collect().head
      val s = fp(rebuilt)
      assert(s === fp(SnapshotDiff.applyDelta(
        SnapshotDiff.applyDelta(old, d1, keys), d2, keys)))
      assert(s === fp(cur))
      assert(s.getLong(0) > 0)

      // direct per-key witness that recovered state decided an answer:
      // keys tombstoned by a wave-0 seq-2 remove whose ONLY later event is
      // a wave-2 seq-1 event — their segment-2 emission must come out of
      // state recovered across BOTH restarts as (removed, n_events = 2)
      val witnessKeys = d2.filter(col("change_type") === "removed")
        .select("key").intersect(d1.filter(col("key") % 2 === 0).select("key"))
        .as[Long].collect().toSet
      assert(witnessKeys.nonEmpty)
      val seg2 = segBatches(2).toSeq.flatMap(collected(_))
        .map(v => v.key -> (v.removed, v.n_events)).toMap
      witnessKeys.foreach { k =>
        val (removed, n) = seg2(k)
        assert(removed, s"key $k lost its recovered tombstone on restart")
        assert(n === 2L, s"key $k folded $n events; recovered state must " +
          "carry the wave-0 fold count")
      }
    }
  }

  test("late-data gate: events beyond the watermark are DROPPED by " +
      "windowedCounts, and the batch twin applies the same cutoff") {
    failAfter(Span(300, Seconds)) {
      // Every other gate replays in-order or adversarially-split feeds
      // where nothing is late; this one pins the EXCLUSION side of the
      // watermark contract: an event arriving after the watermark passed
      // its window's end must be dropped by the stream, and the batch twin
      // must agree on what was excluded — not just on what was included.
      // Lateness is only defined against the watermark trajectory, so the
      // feed is delivered in three single-file waves with a stop/restart
      // between them (batch boundaries, and therefore watermark updates,
      // are then exact): the wave-1 10:05 event is 55 minutes behind the
      // watermark the wave-0 clock event established — genuinely late, not
      // boundary-adjacent — and each wave's closing clock event advances
      // the watermark so every surviving window finalizes in append mode.
      val dir = tempPath("late_replay_").toString
      val ckpt = tempPath("late_ckpt_").toString
      val horizonMs = 3600000L // 1 hour
      val widthMs = 600000L    // 10 minutes
      val day = "2024-01-01 "
      // (wave, hh:mm:ss, event_type)
      val fixture = Seq(
        (0, "10:00:30", "click"),
        (0, "10:03:00", "click"),
        (0, "10:04:00", "view"),
        (0, "12:00:00", "click"),  // clock: watermark -> 11:00
        (1, "10:05:00", "click"),  // LATE: window end 10:10 < 11:00
        (1, "11:30:00", "view"),   // on time: window end 11:40 > 11:00
        (1, "13:30:00", "click"),  // clock: watermark -> 12:30
        (2, "15:00:00", "click"))  // clock: watermark -> 14:00, flushes all
      import spark.implicits._
      def toDf(wave: Int) =
        fixture.filter(_._1 == wave)
          .map { case (_, t, tpe) => (java.sql.Timestamp.valueOf(day + t), tpe) }
          .toDF("ts", "event_type")

      val collected =
        scala.collection.mutable.Map.empty[Long, Seq[(java.sql.Timestamp, String, Long)]]
      def runSegment(wave: Int): Unit = {
        toDf(wave).coalesce(1).write.mode("append").parquet(dir)
        val stream = spark.readStream
          .schema(spark.read.parquet(dir).schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(dir)
        val sinkFn: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (df, batchId) => {
            val rows = df.collect().toSeq
              .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
            collected.synchronized { collected(batchId) = rows }
          }
        val q = windowedCounts(stream, width = "10 minutes",
            watermark = "1 hour")
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(sinkFn)
          .start()
        try q.awaitTermination() finally q.stop()
      }
      (0 to 2).foreach(runSegment)
      val streamed = collected.synchronized {
        collected.values.flatten.toSet
      }

      // batch twin with the SAME cutoff, computed independently from the
      // fixture and the watermark trajectory: watermark before wave k =
      // max event time of waves < k minus the horizon; an event is late
      // (dropped) iff its window END is at or before that watermark; a
      // window is emitted iff its end is at or before the final watermark
      def ms(t: String): Long = java.sql.Timestamp.valueOf(day + t).getTime
      def winStart(t: Long): Long = t - Math.floorMod(t, widthMs)
      def wmBefore(wave: Int): Long =
        fixture.filter(_._1 < wave) match {
          case Seq() => Long.MinValue
          case seen => seen.map(e => ms(e._2)).max - horizonMs
        }
      val finalWm = fixture.map(e => ms(e._2)).max - horizonMs
      val surviving = fixture.filterNot { case (wave, t, _) =>
        winStart(ms(t)) + widthMs <= wmBefore(wave)
      }
      val expected = surviving
        .filter { case (_, t, _) => winStart(ms(t)) + widthMs <= finalWm }
        .groupBy { case (_, t, tpe) => (winStart(ms(t)), tpe) }
        .map { case ((ws, tpe), evs) =>
          (new java.sql.Timestamp(ws), tpe, evs.size.toLong)
        }.toSet
      assert(streamed === expected)
      // the witness has teeth: the fixture's late row really was dropped —
      // a no-cutoff batch aggregation of finalized windows disagrees
      val naive = fixture
        .filter { case (_, t, _) => winStart(ms(t)) + widthMs <= finalWm }
        .groupBy { case (_, t, tpe) => (winStart(ms(t)), tpe) }
        .map { case ((ws, tpe), evs) =>
          (new java.sql.Timestamp(ws), tpe, evs.size.toLong)
        }.toSet
      assert(streamed !== naive)
      // and specifically: the 10:00 click window counted 2, not 3
      val tenOclock = streamed.collect {
        case (ws, "click", n) if ws.getTime == ms("10:00:00") => n
      }
      assert(tenOclock === Set(2L))
    }
  }

  test("file-replay manifestStream == q191 batch manifest (shared columns, " +
      "Σ-hash fingerprint converges on any micro-batch split)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("manifest_replay_").toString
      val ckpt = tempPath("manifest_ckpt_").toString
      val docs = Tables.table(spark, sf, "documents")
      docs.repartition(3).write.mode("overwrite").parquet(dir)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = manifestStream(stream)
        .writeStream.format("memory").queryName("manifest_replay")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      val streamed = spark.table("manifest_replay").collect()
        .map(key).toSet
      // batch twin: q191's manifestOf minus the distinct-lang column the
      // stream cannot compute exactly over unbounded input
      val batch = graft.queries.TrainingQueries.manifestOf(docs)
        .drop("n_langs").collect().map(key).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // the fingerprint has teeth across splits: corrupt ONE row in the
      // batch twin and its partition's fp must disagree with the stream
      val corrupt = graft.queries.TrainingQueries.manifestOf(
        docs.withColumn("text",
          when(col("doc_id") === docs.select(min("doc_id")).head().getLong(0),
            concat(col("text"), lit("X"))).otherwise(col("text"))))
        .drop("n_langs").collect().map(key).toSet
      assert(streamed !== corrupt)
    }
  }

  test("file-replay qualityScreenStream == q190 batch-accepted set " +
      "(stateless ingest-time screen)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("quality_replay_").toString
      val ckpt = tempPath("quality_ckpt_").toString
      val docs = Tables.table(spark, sf, "documents")
      docs.repartition(3).write.mode("overwrite").parquet(dir)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = qualityScreenStream(stream)
        .writeStream.format("memory").queryName("quality_replay")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val streamed = spark.table("quality_replay").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.queries.TextQueries.qualityScored(docs)
        .filter(col("pass") === 1L)
        .select("doc_id", "source", "score")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed === batch)
      // the screen has teeth on this fixture: it accepts SOME and
      // rejects SOME (an all-pass or all-reject run proves nothing)
      assert(streamed.nonEmpty && streamed.size < docs.count())
    }
  }

  test("file-replay piiScreenStream == q61 batch per-doc projection " +
      "(stateless ingest-time PII screen)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("pii_replay_").toString
      val ckpt = tempPath("pii_ckpt_").toString
      val docs = Tables.table(spark, sf, "documents")
      docs.repartition(3).write.mode("overwrite").parquet(dir)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = piiScreenStream(stream)
        .writeStream.format("memory").queryName("pii_replay")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))
      val streamed = spark.table("pii_replay").collect().map(key).toSet
      val batch = graft.queries.TrainingQueries.piiPerDoc(docs)
        .collect().map(key).toSet
      assert(streamed === batch)
      // teeth: the detectors FIRE on this fixture (some doc carries a
      // blocklist term) and stay quiet on others — an all-zero or
      // all-hit replay would prove only that zero == zero
      val hits = streamed.count(t => t._3 + t._4 > 0)
      assert(hits > 0 && hits < streamed.size)
    }
  }

  test("file-replay dsirScreenStream == q199 batch dsirDocScores " +
      "(cross-plan: map-literal aggregate() vs explode-join-groupBy)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("dsir_replay_").toString
      val ckpt = tempPath("dsir_ckpt_").toString
      val docs = Tables.table(spark, sf, "documents")
      docs.repartition(3).write.mode("overwrite").parquet(dir)
      // the model table is built batch-side from the same corpus (the
      // ingest-screen deployment shape: train once, screen the stream)
      val lr = graft.queries.TextQueries.dsirBucketTable(docs)
      val lrMap = graft.queries.TextQueries.dsirLrMap(lr)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = dsirScreenStream(stream, lrMap)
        .writeStream.format("memory").queryName("dsir_replay")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
      val streamed = spark.table("dsir_replay").collect().map(key).toSet
      // batch twin: a PHYSICALLY DIFFERENT plan (explode → broadcast
      // join → groupBy) computing the same integer micro-nat sum — the
      // gate pins the two plans to each other, not a plan to itself
      val batch = graft.queries.TextQueries.dsirDocScores(docs, lr)
        .filter(col("w_sum") >= 0L)
        .select("doc_id", "source", "n_toks", "w_sum")
        .collect().map(key).toSet
      assert(streamed === batch)
      // teeth: the screen passes SOME and drops SOME on this fixture
      assert(streamed.nonEmpty && streamed.size < docs.count())
    }
  }

  test("file-replay bloomScreenStream == q226 batch bloomFlags " +
      "(cross-plan: map-literal column program vs explode-join-fold)") {
    failAfter(Span(300, Seconds)) {
      import graft.queries.TextQueries
      val dir = tempPath("bloom_replay_").toString
      val ckpt = tempPath("bloom_ckpt_").toString
      val docs = Tables.table(spark, sf, "documents")
      docs.repartition(3).write.mode("overwrite").parquet(dir)
      // filter built batch-side from the eval slice (the deployment
      // shape: index the benchmark once, screen the ingest stream)
      val d = TextQueries.bloomFp(docs)
      val ev = d.filter(col("doc_id") % 17 === 3).select("fp").distinct()
      val fw = TextQueries.bloomWords(ev)
      val wordMap = TextQueries.bloomWordMap(fw)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = bloomScreenStream(stream, wordMap)
        .writeStream.format("memory").queryName("bloom_replay")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1))
      val streamed = spark.table("bloom_replay").collect().map(key).toSet
      // batch twin: a PHYSICALLY DIFFERENT plan (K-way explode →
      // broadcast word join → min-fold) computing the same verdict
      val batch = TextQueries.bloomFlags(d, fw)
        .filter(col("flagged") === 1L)
        .select("doc_id", "source")
        .collect().map(key).toSet
      assert(streamed === batch)
      // teeth: every eval-slice doc is flagged (no false negatives) and
      // the screen does not flag everything
      val evalIds = docs.filter(col("doc_id") % 17 === 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(evalIds.subsetOf(streamed.map(_._1)))
      assert(streamed.size < docs.count())
    }
  }

  test("file-replay driftCountsStream + klFromCounts == batch KL drift " +
      "(state-finite 64-bucket monitor, complete mode)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("drift_replay_").toString
      val ckpt = tempPath("drift_ckpt_").toString
      val docs = Tables.table(spark, sf, "documents")
      docs.repartition(3).write.mode("overwrite").parquet(dir)
      val ref = graft.queries.TextQueries.driftRef(docs)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = driftCountsStream(stream)
        .writeStream.format("memory").queryName("drift_replay")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      def kl(counts: org.apache.spark.sql.DataFrame) =
        graft.queries.TextQueries.klFromCounts(counts, ref)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val streamed = kl(spark.table("drift_replay"))
      val batch = kl(graft.queries.TextQueries.bucketCounts(docs))
      assert(streamed === batch)
      // teeth: multiple sources, and the monitor measures REAL drift on
      // at least one of them (a uniformly-zero KL would prove nothing)
      assert(streamed.size > 1)
      assert(streamed.exists(_._3 > 0L))
    }
  }

  test("file-replay ivmAggStream seeded from the old view == full batch " +
      "recompute, group-for-group (q221 fixture, cross-group move incl.)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("ivm_replay_").toString
      val ckpt = tempPath("ivm_ckpt_").toString
      import spark.implicits._
      // the q221 synthetic: adds (÷3 keys absent from old), removes (÷11
      // absent from cur), in-group price changes (÷5), and a cross-group
      // status flip to 'X' (÷7) — the move that forces ± contributions
      // on two different groups' state
      val base = Tables.table(spark, sf, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("g"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val old = base.filter(col("k") % 3 =!= 0)
        .withColumn("cents", when(col("k") % 5 === 0, col("cents") + 100L)
          .otherwise(col("cents")))
      val cur = base.filter(col("k") % 11 =!= 0)
        .withColumn("g", when(col("k") % 7 === 0, lit("X"))
          .otherwise(col("g")))
      // signed contributions from the before/after delta (q221's explode)
      val d = old.select(col("k"), col("g").as("bg"),
          col("cents").as("bc"))
        .join(cur.select(col("k"), col("g").as("ag"),
          col("cents").as("ac")), Seq("k"), "full_outer")
        .filter(!(col("bg") <=> col("ag") && col("bc") <=> col("ac")))
      d.select(explode(array(
          struct(col("bg").as("g"), lit(-1L).as("dn"),
            (-col("bc")).as("dc")),
          struct(col("ag").as("g"), lit(1L).as("dn"),
            col("ac").as("dc")))).as("x"))
        .select("x.*").filter(col("g").isNotNull)
        .repartition(3).write.mode("overwrite").parquet(dir)
      val initView = old.groupBy("g")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"),
          lit(0L).as("n_deltas")).as[AggView]
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
        .as[AggDelta]
      val q = ivmAggStream(stream, initView)
        .writeStream.format("memory").queryName("ivm_replay")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      // converged view per group = the row that folded the most deltas;
      // groups the feed never touched keep their seeded view
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(desc("n_deltas"))
      val emitted = spark.table("ivm_replay")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("g", "n", "cents")
      val untouched = initView.toDF()
        .join(emitted.select("g"), Seq("g"), "left_anti")
        .select("g", "n", "cents")
      val streamView = emitted.unionByName(untouched)
        .filter(col("n") > 0)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      val recompute = cur.groupBy("g")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      assert(streamView === recompute)
      // teeth: the delta actually moved mass across groups — the feed-
      // born 'X' group exists and did not exist in the seed
      assert(recompute.contains("X"))
      assert(!initView.collect().map(_.g).contains("X"))
      assert(streamView.size > 1)
    }
  }

  test("file-replay conformalScreenStream == batch threshold " +
      "application (stateless conformal outlier screen)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("conformal_replay_").toString
      val ckpt = tempPath("conformal_ckpt_").toString
      val docs = Tables.table(spark, sf, "documents")
      docs.repartition(3).write.mode("overwrite").parquet(dir)
      val proj = docs.select(col("doc_id"), col("source"),
        col("n_chars"))
      // calibration is offline: compute the thresholds once, cache the
      // sources-sized frame so micro-batches don't recompute it
      val th = graft.operators.Materialize(
        graft.queries.TrainingQueries.conformalThresholds(proj))
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = conformalScreenStream(stream, th)
        .writeStream.format("memory").queryName("conformal_replay")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3))
      val streamed = spark.table("conformal_replay").collect()
        .map(key).toSet
      // the batch twin is the SAME stateless function applied to the
      // batch frame — the gate proves micro-batching cannot change it
      val batch = conformalScreenStream(proj, th).collect()
        .map(key).toSet
      assert(streamed === batch)
      // teeth: the screen flags SOME and passes SOME, and covers every
      // document of a source that has calibration thresholds
      assert(streamed.exists(_._4) && streamed.exists(!_._4))
      val thSources = th.collect().map(_.getString(0)).toSet
      assert(streamed.map(_._1).size ===
        proj.filter(col("source").isin(thSources.toSeq: _*)).count())
    }
  }

  test("file-replay transitionStream == q138 batch lag-pair counts " +
      "(per-user-partitioned replay)") {
    failAfter(Span(300, Seconds)) {
      import spark.implicits._
      val dir = tempPath("trans_replay_").toString
      val ckpt = tempPath("trans_ckpt_").toString
      val ev = Tables.table(spark, sf, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      // the cross-batch contract: each user's chain must live inside one
      // batch, so the fixture hash-partitions FILES by user — three
      // batches, each carrying complete users
      ev.repartition(3, col("user_id"))
        .write.mode("overwrite").parquet(dir)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
        .as[TransEvent]
      val q = transitionStream(stream)
        .writeStream.format("memory").queryName("trans_replay")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      // recompute through the BATCH lag window (q138's plan shape)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("us", "event_id")
      val batch = ev
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val streamedCounts = spark.table("trans_replay")
        .groupBy("prev_type", "next_type").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamedCounts === batch)
      // teeth: a real 5×5-ish transition structure with self-loops
      assert(streamedCounts.size > 10)
      assert(streamedCounts.exists { case ((a, b), _) => a == b })
    }
  }

  test("file-replay heavyHittersStream: MG guarantee holds vs exact batch " +
      "counts (bounded O(k) ingest-time state)") {
    failAfter(Span(300, Seconds)) {
      import graft.functions.TextOps.tokens
      val dir = tempPath("mg_replay_").toString
      val ckpt = tempPath("mg_ckpt_").toString
      val k = 16
      val docs = Tables.table(spark, sf, "documents")
      val tokDf = docs.select((col("doc_id") % 8).as("part"),
        col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        .selectExpr("part", "doc_id", "CAST(pos AS BIGINT) AS pos", "tok")
      tokDf.repartition(3).write.mode("overwrite").parquet(dir)
      import spark.implicits._
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
        .as[TokEvent]
      val q = heavyHittersStream(stream, k)
        .writeStream.format("memory").queryName("mg_replay")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val all = spark.table("mg_replay").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      assert(all.nonEmpty)
      // converged summary = the emission at max n_seen per partition
      val finalBy = all.groupBy(_._1).map { case (part, rows) =>
        val nMax = rows.map(_._4).max
        part -> (nMax, rows.filter(_._4 == nMax)
          .map(r => r._2 -> r._3).toMap)
      }
      val exact = tokDf.groupBy("part", "tok").count().collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val np = exact.groupBy(_._1._1).view
        .mapValues(_.values.sum).toMap
      finalBy.foreach { case (part, (nSeen, counters)) =>
        // every token of the partition was folded exactly once
        assert(nSeen == np(part))
        // bounded state: never more than k counters
        assert(counters.size <= k)
        val slack = np(part) / (k + 1)
        counters.foreach { case (tok, est) =>
          val f = exact((part, tok))
          assert(est <= f, s"overcount $part/$tok: $est > $f")
          assert(f - est <= slack,
            s"undercount beyond MG bound $part/$tok: $f - $est > $slack")
        }
        // completeness: every true heavy hitter is tracked
        exact.collect { case ((p, t), f) if p == part && f > slack => t }
          .foreach(t => assert(counters.contains(t),
            s"heavy hitter $part/$t missed"))
      }
      // the gate has teeth: at least one partition actually evicted
      // (saw more distinct tokens than it kept)
      val distinctBy = exact.keys.groupBy(_._1).view
        .mapValues(_.size).toMap
      assert(finalBy.exists { case (part, (_, counters)) =>
        distinctBy(part) > counters.size })
    }
  }

  test("file-replay psiCountsStream + psiFromCounts == batch q330 PSI " +
      "(state-finite 8-bucket drift gate, complete mode)") {
    failAfter(Span(300, Seconds)) {
      val dir = tempPath("psi_replay_").toString
      val ckpt = tempPath("psi_ckpt_").toString
      val events = Tables.table(spark, sf, "events")
      events.repartition(3).write.mode("overwrite").parquet(dir)
      val stream = spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val q = psiCountsStream(stream)
        .writeStream.format("memory").queryName("psi_replay")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      def rows(counts: org.apache.spark.sql.DataFrame) =
        graft.queries.TrainingQueries.psiFromCounts(counts)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4))).toSet
      val streamed = rows(spark.table("psi_replay"))
      val batch = rows(
        graft.queries.TrainingQueries.psiBucketCounts(events))
      assert(streamed === batch)
      // teeth: multiple populated buckets on both halves, and the gate
      // measures a REAL (finite, non-NaN) index
      assert(streamed.count(t => t._2 > 0 && t._3 > 0) > 3)
      assert(streamed.forall(t => !t._5.isNaN))
    }
  }
}
