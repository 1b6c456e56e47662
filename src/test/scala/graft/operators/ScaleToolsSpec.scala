package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SkewToolsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted join equals plain join on a skewed key") {
    import spark.implicits._
    // 90% of left rows share one hot key
    val left = (1 to 1000).map(i => (if (i <= 900) 1 else i, s"v$i"))
      .toDF("k", "payload")
    val right = Seq((1, "hot"), (950, "cold"), (999, "cold2"))
      .toDF("k", "label")
    val plain = left.join(right, "k")
      .select("k", "payload", "label").collect().toSet
    val salted = SkewTools.saltedJoin(left, right, "k", buckets = 8)
      .select("k", "payload", "label").collect().toSet
    assert(salted === plain)
    assert(salted.size === 902)
  }

  test("deterministic salt + extra condition: salted self-join equals plain") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // boilerplate fixture: one shingle shared by 400 docs (the hot key),
    // plus unique shingles
    val sh = ((1 to 400).map(d => (d.toLong, 7777L)) ++
      (1 to 400).map(d => (d.toLong, 100000L + d)))
      .toDF("doc_id", "sh")
    val a = sh.select(col("doc_id").as("da"), col("sh"))
    val b = sh.select(col("doc_id").as("db"), col("sh"))
    val plain = a.as("a").join(b.as("b"), col("a.sh") === col("b.sh") && col("da") < col("db"))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = SkewTools.saltedJoin(a, b, "sh", buckets = 8,
        saltExpr = Some(pmod(hash(col("da")), lit(8))),
        extraCond = Some(col("da") < col("db")))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === plain)
    assert(salted.size === 400 * 399 / 2)
    // rerun-stable (deterministic salt, unlike rand): same set again
    val again = SkewTools.saltedJoin(a, b, "sh", buckets = 8,
        saltExpr = Some(pmod(hash(col("da")), lit(8))),
        extraCond = Some(col("da") < col("db")))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === salted)
  }

  test("salting bounds per-reducer input: hot key spreads across buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val buckets = 8
    val hot = (1 to 400).map(d => (d.toLong, 7777L)).toDF("doc_id", "sh")
    // the shuffled join key after salting is (sh, salt): the biggest
    // (key, salt) group is what a single reducer task must absorb
    val groups = hot
      .withColumn("salt", pmod(hash(col("doc_id")), lit(buckets)))
      .groupBy("sh", "salt").count()
      .collect().map(_.getLong(2))
    assert(groups.length === buckets, "hash salt must hit every bucket")
    val ideal = 400.0 / buckets
    assert(groups.max <= ideal * 2,
      s"max per-reducer rows ${groups.max} exceeds 2x ideal $ideal")
  }

  test("salted jaccard equals unsalted jaccard on a boilerplate corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // every doc shares boilerplate tokens => hot shingles survive with no
    // stop-shingle cut; salted and unsalted must agree pair-for-pair
    val docs = (1 to 40).map { i =>
      val boiler = "terms of service apply to all"
      val body = if (i % 2 == 0) s"$boiler unique body $i" else boiler
      (i.toLong, body)
    }.toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.ShingleHashes.of(
        graft.functions.TextOps.tokens(col("text")))).as("sh"))
    val unsalted = graft.queries.TextQueries.jaccardPairs(sh, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = graft.queries.TextQueries.jaccardPairs(sh, 0.5,
        saltBuckets = Some(4))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted === unsalted)
    assert(salted.nonEmpty)
  }

  test("blockedSelfPairs equals the naive self-join and bounds per-task " +
      "candidates under a skewed group-size distribution") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val B = 8
    // one giant group (60 rows → 8 rank-blocks), one mid (5), one
    // singleton — the cluster-size shape q122 sees when a skewed centroid
    // swallows most of the corpus
    val rows = (1 to 60).map(i => ("g", i.toLong)) ++
      (1 to 5).map(i => ("m", 100L + i)) ++ Seq(("s", 999L))
    val df = rows.toDF("grp", "id")
    val naive = df.as("a").join(df.as("b"),
        col("a.grp") === col("b.grp") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val blocked = SkewTools.blockedSelfPairs(df, "grp", "id", B)
    val got = blocked.select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive)
    assert(got.size === 60 * 59 / 2 + 5 * 4 / 2)

    // per-task bound: the join key is (grp, blockA, blockB), so one
    // reducer absorbs exactly one block-pair — ≤ B² candidate pairs —
    // however large the giant group grows
    val perKey = blocked
      .groupBy(col("a.grp"), col("a.__blk"), col("b.__blk"))
      .count().collect()
    assert(perKey.map(_.getLong(3)).max <= B.toLong * B)
    // ... and the giant group's pairs really spread across its
    // nblk·(nblk+1)/2 = 36 block-pair keys instead of one hot key
    assert(perKey.count(_.getString(0) == "g") === 36)

    // the block ids are genuinely part of the equi-join key (the shuffle
    // layout, not a post-join filter)
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val joinKeys = blocked.queryExecution.sparkPlan.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
    }
    assert(joinKeys.exists(ks => ks.exists(_.toString.contains("__jb"))),
      "pair join must shuffle on (group, blockA, blockB)")
  }

  test("salted sum equals plain sum") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k$i", i.toDouble))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = SkewTools.saltedSum(df, "k", "v", buckets = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted === plain)
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // PERF.md's claim that 'AQE handles most runtime skew automatically'
    // made checkable: one hot key holds 3/4 of the fact side with a fat
    // payload; with broadcast off and the skew thresholds scaled to the
    // fixture, the executed plan must carry the skew=true SMJ marker.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(0, 200000)
        .select(when(col("id") < 150000, 1L).otherwise(col("id")).as("k"),
          // md5 hex defeats shuffle compression, so the hot partition's
          // on-wire size actually crosses the skew threshold
          md5(col("id").cast("string")).as("payload"))
      val dim = spark.range(0, 2000).select(col("id").as("k"),
        lit("d").as("v"))
      val joined = fact.join(dim, "k")
      // execute THIS dataframe's own QueryExecution (count() would build
      // and finalize a different one), then read the finalized plan
      assert(joined.collect().length === 150000)  // only the hot key matches
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split SMJ in the final adaptive plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("profileKeys surfaces heavy hitters with exact shares and skew ratio") {
    import spark.implicits._
    // 100 rows: key 1 -> 60, key 2 -> 30, keys 3..12 -> 1 each
    val df = (Seq.fill(60)(1) ++ Seq.fill(30)(2) ++ (3 to 12)).toDF("k")
    val rows = SkewTools.profileKeys(df, "k", 3).collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2, 3)) // tie at n=1 -> key asc
    assert(rows.map(_.getLong(1)).toSeq === Seq(60L, 30L, 1L))
    assert(rows.map(_.getDouble(2)).toSeq === Seq(6000.0, 3000.0, 100.0))
    assert(rows.head.getLong(3) === 12L)              // distinct keys
    assert(rows.head.getDouble(4) === 7.2)            // max/avg = 60/(100/12)
  }
}
