package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot comparison — the reference's actual analytic workload: DOJ
  * publishes cumulative monthly dumps, and the question is always "what
  * changed since the last one" (`graft.ingest.NcdIngest.loadZip` loads
  * each snapshot's tables; this classifies the delta).
  *
  * One full-outer equi-join on the key: rows only in the new snapshot are
  * `added`, only in the old are `removed`, present in both with any
  * payload difference are `changed`, else `unchanged`. Payload comparison
  * is column-wise null-safe equality (`<=>`) — no hashing, so the
  * classification replays exactly in any engine and needs no canonical
  * serialization of the row. Cost: one shuffle per side on the key —
  * linear in both snapshots.
  */
object SnapshotDiff {

  /** @param keys join key columns (same names in both frames)
    * @return the new-snapshot rows (old payload dropped) plus a
    *         `change_type` column; `removed` rows carry the OLD payload
    */
  def diff(old: DataFrame, cur: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = cur.columns.filterNot(keys.contains).toSeq
    require(old.columns.sorted.sameElements(cur.columns.sorted),
      "snapshots must share a schema")
    val o = payload.foldLeft(old.withColumn("__in_old", lit(true))) {
      (df, c) => df.withColumnRenamed(c, s"__old_$c")
    }
    val c = cur.withColumn("__in_cur", lit(true))
    val samePayload = payload
      .map(p => col(p) <=> col(s"__old_$p"))
      .reduceOption(_ && _).getOrElse(lit(true))
    o.join(c, keys, "full_outer")
      .withColumn("change_type",
        when(col("__in_old").isNull, "added")
          .when(col("__in_cur").isNull, "removed")
          .when(samePayload, "unchanged")
          .otherwise("changed"))
      // removed rows have no current payload; surface the old values.
      // (keyed on __in_cur, not coalesce — a changed row whose NEW value
      // is legitimately null must still show the new null)
      .select(keys.map(col) ++ payload.map(p =>
        when(col("__in_cur").isNull, col(s"__old_$p"))
          .otherwise(col(p)).as(p)) :+ col("change_type"): _*)
  }

  /** The MERGE half of the CDC story: apply a SPARSE delta (only
    * `added`/`changed`/`removed` rows — what a change feed ships; drop the
    * `unchanged` rows from [[diff]]'s output to build one) onto a base
    * snapshot, reconstructing the next snapshot exactly.
    *
    * base rows whose key appears in the delta are superseded (left-anti,
    * one shuffle on the key); surviving delta rows (everything but
    * `removed`) carry the new payload. `applyDelta(old, sparse(diff(old,
    * cur)), keys) == cur` row-for-row — the invariant q79 oracles.
    */
  def applyDelta(base: DataFrame, delta: DataFrame,
                 keys: Seq[String]): DataFrame = {
    require(delta.columns.contains("change_type"),
      "delta must carry diff's change_type column")
    base.join(delta.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(
        delta.filter(col("change_type") =!= "removed").drop("change_type"))
  }

  /** Shuffle-free multiset fingerprint over ALL columns of `df` — one row
    * (n, h, hb): row count plus TWO independently-keyed Σ decimal
    * xxhash64 (the second prepends a literal salt so its hash stream
    * differs). Two multisets with equal fingerprints are equal up to a
    * ~2⁻¹²⁸ collision (the deltas would have to cancel under both keys
    * simultaneously). The 2⁻¹²⁸ bound assumes NON-ADVERSARIAL inputs
    * (random-corruption model, as the q79 comment frames it): Σ-of-hashes
    * is linear, so an adversary who controls row contents can construct
    * multiset differences whose per-row hash deltas cancel under both
    * keys — fine for parity gates over trusted pipelines, not a MAC.
    * A PROBABILISTIC witness, not a proof, bought for
    * three scalar aggregates where exceptAll-both-ways costs two
    * corpus-wide shuffles. Shared by q79's in-query roundtrip witness and
    * the streaming-CDC parity gate; `SnapshotDiffSpec` proves the
    * fingerprint detects single-row perturbation, drop, and duplication.
    */
  def fingerprint(df: DataFrame): DataFrame = {
    val cs = df.columns.toSeq.map(col)
    df.agg(count(lit(1)).as("n"),
      sum(xxhash64(cs: _*).cast("decimal(38,0)")).as("h"),
      sum(xxhash64(lit("cdc_fp2") +: cs: _*).cast("decimal(38,0)"))
        .as("hb"))
  }
}
