package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables.table
import graft.operators.IntervalJoin

/** Relational query surface (SURVEY.md §2-B).
  *
  * The reference delegates all of this to Athena/Presto via a SQL
  * pass-through (`/root/reference/ncd/athena.py:57-79`); here each capability
  * is expressed Spark-first with the DataFrame API so Catalyst owns predicate
  * pushdown, column pruning, join strategy selection and AQE. Dimension-side
  * joins broadcast explicitly (codebook-sized tables — the `table_gs_*`
  * lookups of the reference map to `nation`/`region` here); fact-fact joins
  * shuffle on their keys and scale out with partition count.
  */
object Relational {

  private val ts19980902 = java.sql.Timestamp.valueOf("1998-09-02 00:00:00")

  /** Distinct co-occurring part pairs per order (pa < pb), generated
    * MAP-SIDE from one groupBy on the order key: sort each order's part
    * set, emit every i<j combination. One shuffle total — the self-join
    * formulation pays the same distinct shuffle and then TWO more
    * re-exchanges (the (ok, pk)-partitioned distinct output must be
    * repartitioned to ok for both join sides). Per-order fan-out is
    * bounded by order size (TPC-H ≤ 7 lines), so the explode cannot skew;
    * at 100 TB this is the standard pair-enumeration shape for
    * market-basket / co-occurrence work.
    */
  private[graft] def coPairs(li: DataFrame): DataFrame =
    pairsFromSets(coSets(li))

  /** Per-order sorted distinct part sets — the single-shuffle base both
    * the pair enumeration and per-item order counts derive from.
    */
  private[graft] def coSets(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok")
      .agg(array_sort(collect_set(col("pk"))).as("pks"))

  private[graft] def pairsFromSets(sets: DataFrame): DataFrame =
    sets.select(explode(expr(
        """flatten(transform(pks, (x, i) ->
          |  transform(slice(pks, i + 2, size(pks)),
          |    y -> named_struct('pa', x, 'pb', y))))""".stripMargin))
        .as("pr"))
      .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))

  /** Per-process parquet mirrors of the co-purchase graph — the shared
    * derivation behind the whole graph family (q113/q115/q124/q132/q133/
    * q167/q168/q223/q248/q250/q254/q255/q257). Before this, each query
    * re-ran coPairs(lineitem) from the raw parquet: at 100 TB that is
    * MANY corpus scans + pair-explode shuffles where ONE materialized
    * edge artifact suffices — exactly how a production graph pipeline
    * stages its edge list (write once, partitioned/bucketed, every
    * algorithm reads the artifact). Locally the mirror is written lazily
    * once per (sfDir, variant) per JVM into a temp dir and read as
    * parquet thereafter; contents are the exact integer pair counts the
    * inline derivation produced, so every consumer's hash is unchanged.
    * Two variants ("full" corpus, "lt800" = l_partkey < 800 subgraph),
    * each carrying (pa, pb, n_ab) plus a sibling per-item order-count
    * table (pk, n) from the same single scan.
    */
  private def coMirror(s: SparkSession, dir: String, capped: Boolean) =
    graft.operators.StagedArtifacts.staged("copairs", dir,
      Some(if (capped) "lt800" else "full")) { out =>
      val base = table(s, dir, "lineitem")
      val li = if (capped) base.filter(col("l_partkey") < 800) else base
      val sets = graft.operators.Materialize(coSets(li))
      // pair-count files are read by every graph query's FIRST join;
      // 8 files keeps local scan setup cheap while staying parallel
      out.write("pairs", pairsFromSets(sets).groupBy("pa", "pb")
        .agg(count(lit(1)).as("n_ab"))
        .coalesce(8))
      out.write("items", sets.select(explode(col("pks")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("n"))
        .coalesce(4))
      sets.unpersist()
    }

  /** (pa, pb, n_ab) — distinct co-purchase pairs with order counts. */
  private[graft] def coPairCounts(s: SparkSession, dir: String,
                                  capped: Boolean): DataFrame =
    coMirror(s, dir, capped).read(s, "pairs")

  /** (pa, pb) — the distinct co-purchase edge list (== coPairs(li)
    * .distinct(), via the mirror).
    */
  private[graft] def coPairsDistinct(s: SparkSession, dir: String,
                                     capped: Boolean): DataFrame =
    coPairCounts(s, dir, capped).select("pa", "pb")

  /** (pk, n) — per-item order counts from the same mirrored scan. */
  private[graft] def coItemCounts(s: SparkSession, dir: String,
                                  capped: Boolean): DataFrame =
    coMirror(s, dir, capped).read(s, "items")

  /** Shared by q115 and its forced-rank-join twin q167: the PageRank
    * trajectory as statically-unrolled CTEs (both execution paths are
    * exact integer math, so one oracle serves both).
    */
  private val pagerankCooccurOracle =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem),
      |pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
      |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS (SELECT pa AS src, pb AS dst FROM pr
      |      UNION ALL SELECT pb, pa FROM pr),
      |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM d),
      |r1 AS (SELECT e.dst AS node,
      |         CAST(150000 + (850000 * sum(r.r // d.deg)) // 1000000
      |           AS BIGINT) AS r
      |       FROM e JOIN r0 r ON e.src = r.node
      |       JOIN d ON d.src = e.src GROUP BY 1),
      |r2 AS (SELECT e.dst AS node,
      |         CAST(150000 + (850000 * sum(r.r // d.deg)) // 1000000
      |           AS BIGINT) AS r
      |       FROM e JOIN r1 r ON e.src = r.node
      |       JOIN d ON d.src = e.src GROUP BY 1),
      |r3 AS (SELECT e.dst AS node,
      |         CAST(150000 + (850000 * sum(r.r // d.deg)) // 1000000
      |           AS BIGINT) AS r
      |       FROM e JOIN r2 r ON e.src = r.node
      |       JOIN d ON d.src = e.src GROUP BY 1)
      |SELECT node AS pk, r AS rank_scaled FROM r3
      |ORDER BY rank_scaled DESC, pk LIMIT 20""".stripMargin

  /** Shared by q132 and its forced-distributed-frontier twin q168: three
    * BFS supersteps unrolled as CTEs.
    */
  private val bfsLevelsOracle =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem WHERE l_partkey < 800),
      |pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
      |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |e AS (SELECT pa AS src, pb AS dst FROM pr
      |      UNION ALL SELECT pb, pa FROM pr),
      |l0 AS (SELECT src AS node FROM e ORDER BY src LIMIT 1),
      |l1 AS (SELECT DISTINCT e.dst AS node FROM e
      |       JOIN l0 ON e.src = l0.node
      |       WHERE e.dst NOT IN (SELECT node FROM l0)),
      |l2 AS (SELECT DISTINCT e.dst AS node FROM e
      |       JOIN l1 ON e.src = l1.node
      |       WHERE e.dst NOT IN (SELECT node FROM l0)
      |         AND e.dst NOT IN (SELECT node FROM l1)),
      |l3 AS (SELECT DISTINCT e.dst AS node FROM e
      |       JOIN l2 ON e.src = l2.node
      |       WHERE e.dst NOT IN (SELECT node FROM l0)
      |         AND e.dst NOT IN (SELECT node FROM l1)
      |         AND e.dst NOT IN (SELECT node FROM l2)),
      |lv AS (SELECT 0 AS level, node FROM l0
      |  UNION ALL SELECT 1, node FROM l1
      |  UNION ALL SELECT 2, node FROM l2
      |  UNION ALL SELECT 3, node FROM l3)
      |SELECT CAST(level AS INT) AS level, count(*) AS n_nodes,
      |  CAST(sum(node) AS BIGINT) AS node_id_sum
      |FROM lv GROUP BY level ORDER BY level""".stripMargin

  /** Rare-context cells of the bipartite user–context graph: distinct
    * (event_type, hour, value-bucket-of-50) cells touched by 2..8
    * distinct users, each with its sorted user set. The blocking basis
    * for q214/q215 — the user-behavior analogue of the stop-shingle df
    * cut: crowded cells are non-discriminative AND quadratic, so the cap
    * bounds per-cell pair fan-out at 64 regardless of corpus size, and
    * the hour×bucket granularity keeps cell sizes stable as event
    * density grows (a day-level cell saturates at 10× data; an
    * hour×value cell splits instead).
    */
  private[graft] def rareContextUsers(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("hr"),
        expr("CAST(floor(value / 50) AS BIGINT)").as("vb"),
        col("user_id"))
      .distinct()
      .groupBy("event_type", "hr", "vb")
      .agg(sort_array(collect_set(col("user_id"))).as("us"))
      .filter(size(col("us")).between(2, 8))

  /** Map-side i<j user pairs from each rare context cell (the coPairs
    * shape): one groupBy shuffle total, fan-out ≤ 8·7/2 per cell.
    */
  private def contextPairs(grouped: DataFrame): DataFrame =
    grouped.select(
        size(col("us")).cast("long").as("ctx_size"),
        explode(expr(
          """flatten(transform(us, (x, i) ->
            |  transform(slice(us, i + 2, size(us)),
            |    y -> struct(x AS u, y AS v))))""".stripMargin)).as("p"))
      .select(col("p.u"), col("p.v"), col("ctx_size"))

  /** Shared oracle CTEs for the rare-context construction: `r` is the
    * (cell, user, n_users) incidence restricted to cells with 2..8
    * users — the SQL twin of [[rareContextUsers]].
    */
  private val rareContextCtes =
    """ctx AS (SELECT DISTINCT event_type,
      |          epoch_us(ts) // 3600000000 AS hr,
      |          CAST(floor(value / 50) AS BIGINT) AS vb, user_id
      |        FROM events),
      |sz AS (SELECT event_type, hr, vb, count(*) AS n_users
      |       FROM ctx GROUP BY 1, 2, 3
      |       HAVING count(*) BETWEEN 2 AND 8),
      |r AS (SELECT c.event_type, c.hr, c.vb, c.user_id, s.n_users
      |      FROM ctx c JOIN sz s USING (event_type, hr, vb))""".stripMargin

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- scan / projection / filter (pushdown-visible) ------------------
    "q01_scan_filter_project" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .filter(col("l_discount") > 0.05 && col("l_quantity") < 10)
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
             |FROM lineitem WHERE l_discount > 0.05 AND l_quantity < 10
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- aggregation (TPC-H Q1 shape: partial+final hash agg) -----------
    "q02_agg_pricing_summary" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit(ts19980902))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("sum_disc_price"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             | round(sum(l_quantity), 2) AS sum_qty,
             | round(sum(l_extendedprice), 2) AS sum_base_price,
             | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             | round(avg(l_quantity), 4) AS avg_qty,
             | round(avg(l_extendedprice), 4) AS avg_price,
             | count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- broadcast-hash join over dimension tables ----------------------
    "q03_join_broadcast_dims" -> QueryDef(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val n = broadcast(table(s, dir, "nation"))
        val r = broadcast(table(s, dir, "region"))
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_customers"),
               round(avg("c_acctbal"), 4).as("avg_bal"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_bal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ---- fact-fact shuffle join -----------------------------------------
    "q04_join_fact_fact" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val l = table(s, dir, "lineitem")
        o.join(l, o("o_orderkey") === l("l_orderkey"))
          .groupBy("o_orderpriority")
          .agg(
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             | count(*) AS n_items
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- left outer join -------------------------------------------------
    "q05_join_left_outer" -> QueryDef(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("order_cnt"))
          .groupBy("order_cnt")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("order_cnt")
      },
      Some("""SELECT order_cnt, count(*) AS n_customers
             |FROM (SELECT c_custkey, count(o_orderkey) AS order_cnt
             |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |      GROUP BY c_custkey)
             |GROUP BY order_cnt ORDER BY order_cnt""".stripMargin)),

    // ---- semi join (EXISTS) ----------------------------------------------
    "q06_join_semi" -> QueryDef(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val big = table(s, dir, "orders").filter(col("o_totalprice") > 300000)
        c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers
             |FROM customer WHERE EXISTS
             | (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- anti join (NOT EXISTS) ------------------------------------------
    "q07_join_anti" -> QueryDef(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val urgent = table(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
        c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey, count(*) AS n_customers
             |FROM customer WHERE NOT EXISTS
             | (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // ---- non-equi (theta) self join --------------------------------------
    "q08_join_nonequi" -> QueryDef(
      (s, dir) => {
        val n1 = table(s, dir, "nation").as("n1")
        val n2 = table(s, dir, "nation").as("n2")
        n1.join(n2,
            col("n1.n_regionkey") === col("n2.n_regionkey") &&
              col("n1.n_nationkey") < col("n2.n_nationkey"))
          .groupBy(col("n1.n_regionkey").as("region_key"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("region_key")
      },
      Some("""SELECT n1.n_regionkey AS region_key, count(*) AS n_pairs
             |FROM nation n1 JOIN nation n2
             |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
             |GROUP BY n1.n_regionkey ORDER BY region_key""".stripMargin)),

    // ---- distinct --------------------------------------------------------
    "q09_distinct" -> QueryDef(
      (s, dir) =>
        table(s, dir, "customer")
          .select("c_mktsegment", "c_nationkey").distinct()
          .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
             |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // ---- count distinct --------------------------------------------------
    "q10_count_distinct" -> QueryDef(
      (s, dir) =>
        table(s, dir, "customer")
          .groupBy("c_mktsegment")
          .agg(countDistinct("c_nationkey").as("n_nations"),
               count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
             | count(*) AS n_customers
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- rollup ----------------------------------------------------------
    "q11_rollup" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(round(sum("l_quantity"), 2).as("sum_qty"),
               count(lit(1)).as("n"))
          .orderBy(asc_nulls_last("l_returnflag"), asc_nulls_last("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
             | count(*) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin)),

    // ---- cube ------------------------------------------------------------
    "q12_cube" -> QueryDef(
      (s, dir) =>
        table(s, dir, "customer")
          .cube("c_mktsegment", "c_nationkey")
          .agg(count(lit(1)).as("n"),
               round(sum("c_acctbal"), 2).as("sum_bal"))
          .orderBy(asc_nulls_last("c_mktsegment"), asc_nulls_last("c_nationkey")),
      Some("""SELECT c_mktsegment, c_nationkey, count(*) AS n,
             | round(sum(c_acctbal), 2) AS sum_bal
             |FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
             |ORDER BY c_mktsegment ASC NULLS LAST, c_nationkey ASC NULLS LAST""".stripMargin)),

    // ---- window: ranking / top-n per group -------------------------------
    "q13_window_topn" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        table(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM
             | (SELECT o_custkey, o_orderkey, o_totalprice,
             |   CAST(row_number() OVER (PARTITION BY o_custkey
             |     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
             |  FROM orders)
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // ---- window: lag / analytic gap analysis -----------------------------
    "q14_window_lag_gaps" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        table(s, dir, "events")
          .withColumn("gap_us",
            unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("gap_us").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"),
               round(avg("gap_us") / 1000000.0, 3).as("avg_gap_s"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n_gaps,
             | round(avg(gap_us) / 1000000.0, 3) AS avg_gap_s
             |FROM (SELECT event_type,
             |        epoch_us(ts) - lag(epoch_us(ts)) OVER
             |          (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |      FROM events)
             |WHERE gap_us IS NOT NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- sort + limit (TakeOrderedAndProject) ----------------------------
    "q15_topk_orders" -> QueryDef(
      (s, dir) =>
        table(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ---- set ops ---------------------------------------------------------
    "q16_union_all" -> QueryDef(
      (s, dir) => {
        val c = table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        val sup = table(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        c.unionAll(sup).groupBy("nationkey")
          .agg(count(lit(1)).as("n")).orderBy("nationkey")
      },
      Some("""SELECT nationkey, count(*) AS n FROM
             | (SELECT c_nationkey AS nationkey FROM customer
             |  UNION ALL SELECT s_nationkey AS nationkey FROM supplier)
             |GROUP BY nationkey ORDER BY nationkey""".stripMargin)),

    "q17_intersect" -> QueryDef(
      (s, dir) =>
        table(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .intersect(
            table(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |INTERSECT SELECT s_nationkey AS nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    "q18_except" -> QueryDef(
      (s, dir) =>
        table(s, dir, "customer").select(col("c_custkey").as("custkey"))
          .except(
            table(s, dir, "orders").filter(col("o_totalprice") > 250000)
              .select(col("o_custkey").as("custkey")))
          .orderBy("custkey"),
      Some("""SELECT c_custkey AS custkey FROM customer
             |EXCEPT SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000
             |ORDER BY custkey""".stripMargin)),

    // ---- scalar string functions -----------------------------------------
    "q19_string_funcs" -> QueryDef(
      (s, dir) =>
        table(s, dir, "part")
          .select(
            col("p_partkey"),
            upper(col("p_brand")).as("brand_u"),
            substring(col("p_name"), 1, 8).as("name_pfx"),
            length(col("p_name")).cast("int").as("name_len"),
            regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
            concat_ws("-", col("p_type"), col("p_brand")).as("type_brand"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_brand) AS brand_u,
             | substring(p_name, 1, 8) AS name_pfx,
             | CAST(length(p_name) AS INT) AS name_len,
             | regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
             | concat_ws('-', p_type, p_brand) AS type_brand
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- scalar date functions -------------------------------------------
    "q20_date_funcs" -> QueryDef(
      (s, dir) =>
        table(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
                   quarter(col("o_orderdate")).cast("int").as("qtr"))
          .agg(count(lit(1)).as("n_orders"),
               round(sum("o_totalprice"), 2).as("sum_price"))
          .orderBy("yr", "qtr"),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
             | CAST(quarter(o_orderdate) AS INT) AS qtr,
             | count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
             |FROM orders GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin)),

    // ---- scalar math functions -------------------------------------------
    "q21_math_funcs" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(sum(sqrt(col("l_extendedprice"))), 2).as("sum_sqrt"),
            round(sum(log(col("l_extendedprice") + 1)), 2).as("sum_ln"),
            round(sum(abs(col("l_discount") - 0.05)), 3).as("sum_absdev"),
            round(sum(floor(col("l_quantity"))).cast("double"), 1).as("sum_floor"),
            round(sum(pow(col("l_discount"), 2)), 4).as("sum_pow"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             | round(sum(sqrt(l_extendedprice)), 2) AS sum_sqrt,
             | round(sum(ln(l_extendedprice + 1)), 2) AS sum_ln,
             | round(sum(abs(l_discount - 0.05)), 3) AS sum_absdev,
             | round(CAST(sum(floor(l_quantity)) AS DOUBLE), 1) AS sum_floor,
             | round(sum(pow(l_discount, 2)), 4) AS sum_pow
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- conditional expressions -----------------------------------------
    "q22_conditional_agg" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .groupBy("l_linestatus")
          .agg(
            sum(when(col("l_discount") > 0.05, 1).otherwise(0)).cast("bigint")
              .as("n_highdisc"),
            round(sum(when(col("l_returnflag") === "R", col("l_extendedprice"))
              .otherwise(0.0)), 2).as("returned_value"),
            count(lit(1)).as("n"))
          .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
             | CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
             |   AS n_highdisc,
             | round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice
             |   ELSE 0.0 END), 2) AS returned_value,
             | count(*) AS n
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // ---- JSON extraction --------------------------------------------------
    "q23_json_extract" -> QueryDef(
      (s, dir) =>
        table(s, dir, "events")
          .select(get_json_object(col("props"), "$.k").cast("int").as("k_val"))
          .groupBy("k_val")
          .agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_last("k_val")),
      Some("""SELECT k_val, count(*) AS n FROM
             | (SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val
             |  FROM events)
             |GROUP BY k_val ORDER BY k_val ASC NULLS LAST""".stripMargin)),

    // ---- correlated subquery (decorrelated to a join in the DF plan) -----
    "q24_corr_subquery" -> QueryDef(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val natAvg = c.groupBy(col("c_nationkey").as("nk"))
          .agg(avg("c_acctbal").as("nation_avg"))
        c.join(broadcast(natAvg), c("c_nationkey") === natAvg("nk"))
          .filter(col("c_acctbal") > col("nation_avg"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_above"))
          .orderBy("c_nationkey")
      },
      Some("""SELECT c_nationkey, count(*) AS n_above
             |FROM customer c
             |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
             |                   WHERE c2.c_nationkey = c.c_nationkey)
             |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // ---- having ----------------------------------------------------------
    "q25_having" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 1).as("qty"))
          .filter(col("n") >= 40)
          .orderBy("l_partkey"),
      Some("""SELECT l_partkey, count(*) AS n, round(sum(l_quantity), 1) AS qty
             |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 40
             |ORDER BY l_partkey""".stripMargin)),

    // ---- grouping sets ----------------------------------------------------
    "q26_grouping_sets" -> QueryDef(
      (s, dir) =>
        table(s, dir, "customer")
          .groupingSets(
            Seq(Seq(col("c_mktsegment")), Seq(col("c_nationkey")), Seq()),
            col("c_mktsegment"), col("c_nationkey"))
          .agg(grouping(col("c_mktsegment")).cast("int").as("g_seg"),
               grouping(col("c_nationkey")).cast("int").as("g_nat"),
               count(lit(1)).as("n"),
               round(sum("c_acctbal"), 2).as("sum_bal"))
          .orderBy(asc_nulls_last("c_mktsegment"), asc_nulls_last("c_nationkey")),
      Some("""SELECT c_mktsegment, c_nationkey,
             | CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
             | CAST(GROUPING(c_nationkey) AS INT) AS g_nat,
             | count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
             |FROM customer
             |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
             |ORDER BY c_mktsegment ASC NULLS LAST, c_nationkey ASC NULLS LAST""".stripMargin)),

    // ---- window frames: interval range, lead, ntile -----------------------
    "q27_window_frames" -> QueryDef(
      (s, dir) =>
        table(s, dir, "orders")
          .filter(col("o_custkey") < 50)
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
                  col("o_totalprice"))
          .withColumn("mv90",
            expr("""round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                   | ORDER BY o_orderdate RANGE BETWEEN INTERVAL 90 DAYS
                   | PRECEDING AND CURRENT ROW), 2)""".stripMargin))
          .withColumn("next_price",
            lead(col("o_totalprice"), 1).over(
              Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")))
          .withColumn("quartile",
            ntile(4).over(Window.orderBy(col("o_totalprice"), col("o_orderkey")))
              .cast("int"))
          .orderBy("o_custkey", "o_orderdate", "o_orderkey"),
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |   ORDER BY o_orderdate RANGE BETWEEN INTERVAL 90 DAYS
             |   PRECEDING AND CURRENT ROW), 2) AS mv90,
             | lead(o_totalprice, 1) OVER (PARTITION BY o_custkey
             |   ORDER BY o_orderdate, o_orderkey) AS next_price,
             | CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INT)
             |   AS quartile
             |FROM orders WHERE o_custkey < 50
             |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // ---- statistical aggregates -------------------------------------------
    "q28_agg_stats" -> QueryDef(
      (s, dir) =>
        table(s, dir, "customer")
          .groupBy("c_mktsegment")
          .agg(round(median(col("c_acctbal")), 4).as("med_bal"),
               round(stddev(col("c_acctbal")), 6).as("sd_bal"),
               min("c_acctbal").as("min_bal"),
               max("c_acctbal").as("max_bal"))
          .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment,
             | round(median(c_acctbal), 4) AS med_bal,
             | round(stddev(c_acctbal), 6) AS sd_bal,
             | min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- structured JSON parse (from_json -> struct) ----------------------
    "q29_json_struct" -> QueryDef(
      (s, dir) =>
        table(s, dir, "events")
          .select(from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
          .groupBy(floor(col("k") / 10.0).cast("int").as("k_bucket"))
          .agg(count(lit(1)).as("n"),
               min("k").as("min_k"), max("k").as("max_k"))
          .orderBy(asc_nulls_last("k_bucket")),
      Some("""SELECT CAST(floor(k / 10.0) AS INT) AS k_bucket, count(*) AS n,
             | min(k) AS min_k, max(k) AS max_k
             |FROM (SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k
             |      FROM events)
             |GROUP BY 1 ORDER BY k_bucket ASC NULLS LAST""".stripMargin)),

    // ---- custom typed UDAF (Aggregator) -----------------------------------
    "q54_custom_udaf_geomean" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(graft.functions.GeoMean.geoMean(col("l_extendedprice")), 4)
            .as("geo_price"),
               count(lit(1)).as("n"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             | round(exp(avg(ln(l_extendedprice))), 4) AS geo_price,
             | count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- raw SQL-string surface (the Athena.execute_query replacement) ----
    // The reference's whole query layer is "arbitrary SQL in, table out";
    // this entry exercises that exact shape — `spark.sql` over registered
    // views, with the oracle running the same dialect-shared text.
    "q56_sql_surface" -> QueryDef(
      (s, dir) => {
        table(s, dir, "orders").createOrReplaceTempView("orders_v")
        s.sql("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
                |  round(sum(o_totalprice), 2) AS rev, count(*) AS n
                |FROM orders_v WHERE o_orderstatus = 'F'
                |GROUP BY 1 HAVING count(*) > 100
                |ORDER BY yr""".stripMargin)
      },
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
             |  round(sum(o_totalprice), 2) AS rev, count(*) AS n
             |FROM orders WHERE o_orderstatus = 'F'
             |GROUP BY 1 HAVING count(*) > 100
             |ORDER BY yr""".stripMargin)),

    // ---- pivot ------------------------------------------------------------
    // Wide-format reshaping: order counts per year pivoted on status. The
    // explicit value list matters at scale — without it Spark runs an
    // extra distinct pass over the corpus to discover the columns. The
    // oracle is the conditional-aggregation twin (identical semantics,
    // engine-neutral).
    "q70_pivot" -> QueryDef(
      (s, dir) =>
        table(s, dir, "orders")
          .select(expr("CAST(year(o_orderdate) AS INT)").as("yr"),
            col("o_orderstatus"), col("o_totalprice"))
          .groupBy("yr")
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .select(col("yr"),
            coalesce(col("F"), lit(0L)).as("n_f"),
            coalesce(col("O"), lit(0L)).as("n_o"),
            coalesce(col("P"), lit(0L)).as("n_p"))
          .orderBy("yr"),
      Some("""SELECT CAST(year(o_orderdate) AS INT) AS yr,
             | count(*) FILTER (o_orderstatus = 'F') AS n_f,
             | count(*) FILTER (o_orderstatus = 'O') AS n_o,
             | count(*) FILTER (o_orderstatus = 'P') AS n_p
             |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin)),

    // ---- unpivot / melt ---------------------------------------------------
    // The inverse reshaping: per-returnflag quantity/price/discount sums
    // melted into (metric, value) long form via Dataset.unpivot (Spark's
    // melt), with a UNION-based oracle.
    "q71_unpivot" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(sum("l_quantity"), 2).as("qty"),
               round(sum("l_extendedprice"), 2).as("price"),
               round(sum("l_discount"), 2).as("disc"))
          .unpivot(Array(col("l_returnflag")),
            Array(col("qty"), col("price"), col("disc")),
            "metric", "value")
          .orderBy("l_returnflag", "metric"),
      Some("""WITH agg AS (
             |  SELECT l_returnflag,
             |    round(sum(l_quantity), 2) AS qty,
             |    round(sum(l_extendedprice), 2) AS price,
             |    round(sum(l_discount), 2) AS disc
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, 'qty' AS metric, qty AS value FROM agg
             |UNION ALL
             |SELECT l_returnflag, 'price', price FROM agg
             |UNION ALL
             |SELECT l_returnflag, 'disc', disc FROM agg
             |ORDER BY l_returnflag, metric""".stripMargin)),

    // ---- sketch aggregates under a tolerance oracle -----------------------
    // approx_count_distinct (HLL++, rsd 5%) and percentile_approx
    // (accuracy 1000) use engine-specific sketches, so their raw values can
    // never hash-match DuckDB. The tolerance check is therefore computed
    // INSIDE the query: Spark emits the exact aggregates plus booleans
    // asserting each sketch lands within its error bound; the oracle emits
    // the same exact aggregates with literal TRUEs. A sketch drifting out
    // of tolerance flips a boolean and fails the driver's hash compare —
    // a real gate, not a rows-only waiver.
    "q55_approx_sketches" -> QueryDef(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        // two aggregations joined on the 3-row group key: mixing a
        // DISTINCT aggregate with the others makes Spark Expand the
        // 600k-row input 2x and push the doubled rows through the
        // sort-based exact-percentile buffer; split, each plan
        // aggregates the original input once
        val distincts = li.groupBy("l_returnflag")
          .agg(countDistinct("l_partkey").as("exact_parts"),
               approx_count_distinct("l_partkey").as("ap"))
        val percentiles = li.groupBy("l_returnflag")
          .agg(expr("percentile(l_extendedprice, 0.5)").as("em"),
               percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
                 .as("am"))
        distincts.join(percentiles, "l_returnflag")
          .select(col("l_returnflag"),
            col("exact_parts"),
            (abs(col("ap") - col("exact_parts"))
              <= col("exact_parts") * 0.05).as("hll_within_5pct"),
            round(col("em"), 2).as("median_price"),
            (abs(col("am") - col("em")) <= abs(col("em")) * 0.05)
              .as("median_within_5pct"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             | count(DISTINCT l_partkey) AS exact_parts,
             | TRUE AS hll_within_5pct,
             | round(quantile_cont(l_extendedprice, 0.5), 2) AS median_price,
             | TRUE AS median_within_5pct
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- exact grouped percentiles ----------------------------------------
    // The distribution-profiling surface: p25/median/p90/p99 of document
    // length per source. Spark's exact `percentile` and DuckDB's
    // `quantile_cont` share the same definition (linear interpolation on
    // the sorted values), so the oracle is exact up to rounding. One
    // shuffle on the group key; the per-group sort is the aggregate's own.
    "q77_group_percentiles" -> QueryDef(
      (s, dir) =>
        table(s, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               round(expr("percentile(n_chars, 0.25)"), 2).as("p25"),
               round(expr("percentile(n_chars, 0.5)"), 2).as("p50"),
               round(expr("percentile(n_chars, 0.9)"), 2).as("p90"),
               round(expr("percentile(n_chars, 0.99)"), 2).as("p99"))
          .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs,
             | round(quantile_cont(n_chars, 0.25), 2) AS p25,
             | round(quantile_cont(n_chars, 0.5), 2) AS p50,
             | round(quantile_cont(n_chars, 0.9), 2) AS p90,
             | round(quantile_cont(n_chars, 0.99), 2) AS p99
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ---- hopping (sliding) time windows -----------------------------------
    // Spark's `window(ts, size, slide)` in batch: 2-hour windows hopping
    // hourly, so every event lands in exactly 2 windows. The oracle
    // reconstructs the same assignment as a UNION ALL of the two shifted
    // hour-truncations. Money stays in integer cents (floor BEFORE the
    // sum — CAST rounds in DuckDB but truncates in Spark, floor agrees),
    // so the totals are hash-exact however partitions reorder the sum.
    "q84_hopping_window" -> QueryDef(
      (s, dir) =>
        table(s, dir, "events")
          .groupBy(window(col("ts"), "2 hours", "1 hour"))
          .agg(count(lit(1)).as("n_events"),
               coalesce(sum(floor(col("value") * 100).cast("long")), lit(0L))
                 .as("value_cents"))
          .select(col("window.start").as("window_start"),
            col("window.end").as("window_end"),
            col("n_events"), col("value_cents"))
          .orderBy("window_start"),
      Some("""WITH b AS (
             |  SELECT date_trunc('hour', ts) AS ws, value FROM events
             |  UNION ALL
             |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, value
             |  FROM events)
             |SELECT ws AS window_start, ws + INTERVAL 2 HOUR AS window_end,
             |  count(*) AS n_events,
             |  CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0)
             |    AS BIGINT) AS value_cents
             |FROM b GROUP BY ws ORDER BY window_start""".stripMargin)),

    // ---- band (range) join ------------------------------------------------
    // [[graft.operators.BandJoin]] as a query: part pairs priced within
    // $1 of each other. Spark would plan the raw |pa-pb|<=1 predicate as
    // a nested-loop; the operator bins prices at the band width and
    // equi-joins on the bin (left side exploded to its 3 candidate bins),
    // re-checking the exact predicate — linear in rows + true matches.
    // The oracle states the naive quadratic predicate directly.
    "q85_band_join" -> QueryDef(
      (s, dir) => {
        val p = table(s, dir, "part")
        val a = p.select(col("p_partkey").as("ka"),
          col("p_retailprice").as("pa"))
        val b = p.select(col("p_partkey").as("kb"),
          col("p_retailprice").as("pb"))
        graft.operators.BandJoin.join(a, b, "pa", "pb", 1.0,
            extraCond = Some(col("ka") < col("kb")))
          .groupBy(floor(col("pa") / 10).cast("long").as("price_bucket"))
          .agg(count(lit(1)).as("n_pairs"),
               count(when(col("ka") % 2 === 0, 1)).as("n_even_left"))
          .orderBy("price_bucket")
      },
      Some("""SELECT CAST(floor(a.p_retailprice / 10) AS BIGINT)
             |    AS price_bucket,
             |  count(*) AS n_pairs,
             |  count(*) FILTER (WHERE a.p_partkey % 2 = 0) AS n_even_left
             |FROM part a JOIN part b
             |  ON abs(a.p_retailprice - b.p_retailprice) <= 1.0
             | AND a.p_partkey < b.p_partkey
             |GROUP BY 1 ORDER BY price_bucket""".stripMargin)),

    // ---- TPC-H Q3 shape: shipping-priority top orders ---------------------
    // The classic selective multi-join: filters on all three inputs reach
    // their scans (PushedFilters), the customer side broadcasts after
    // filtering, orders⋈lineitem shuffles on orderkey, and the top-10
    // runs as TakeOrderedAndProject (no global sort). Tie-break on
    // orderkey so the rounded-revenue ordering is total.
    "q88_tpch_q3_shape" -> QueryDef(
      (s, dir) => {
        val cutoff = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
        val c = table(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        val o = table(s, dir, "orders").filter(col("o_orderdate") < cutoff)
        val l = table(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_orderkey", "o_orderdate")
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate,
             | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY l_orderkey, o_orderdate
             |ORDER BY revenue DESC, o_orderdate, l_orderkey
             |LIMIT 10""".stripMargin)),

    // ---- TPC-H Q5 shape: local-supplier volume per nation -----------------
    // Six-table star: region→nation broadcast down to supplier, the
    // customer-supplier same-nation predicate rides the join, fact-fact
    // on orderkey. Exercises Catalyst's join-order and broadcast
    // decisions across a realistic snowflake.
    "q89_tpch_q5_shape" -> QueryDef(
      (s, dir) => {
        val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
        val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
        val r = broadcast(table(s, dir, "region")
          .filter(col("r_name") === "ASIA"))
        val n = broadcast(table(s, dir, "nation")
          .join(r, col("n_regionkey") === col("r_regionkey")))
        val su = broadcast(table(s, dir, "supplier")
          .join(n, col("s_nationkey") === col("n_nationkey")))
        val c = table(s, dir, "customer")
        val o = table(s, dir, "orders")
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        val l = table(s, dir, "lineitem")
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
          .orderBy(desc("revenue"), asc("n_name"))
      },
      Some("""SELECT n_name,
             | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM customer
             |JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |             AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name""".stripMargin)),

    // ---- time-RANGE window frames -----------------------------------------
    // The sliding-by-time window q27's ROWS frames can't express: each
    // event's trailing 1-hour aggregate via RANGE BETWEEN on integer
    // microseconds (peers at the same timestamp included — identical
    // semantics in both engines), reduced to each user's peak 1-hour
    // burst. One shuffle on user_id; money in integer cents.
    "q93_time_range_frame" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            floor(col("value") * 100).cast("long").as("cents"))
        val w = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-3600000000L, 0)
        ev.withColumn("roll_n", count(lit(1)).over(w))
          .withColumn("roll_cents", sum("cents").over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
               max("roll_n").as("peak_1h_events"),
               max("roll_cents").as("peak_1h_cents"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us,
             |            CAST(floor(value * 100) AS BIGINT) AS cents
             |          FROM events),
             |r AS (SELECT user_id,
             |        count(*) OVER w AS roll_n,
             |        sum(cents) OVER w AS roll_cents
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
             |        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
             |SELECT user_id, count(*) AS n_events,
             |  max(roll_n) AS peak_1h_events,
             |  CAST(max(roll_cents) AS BIGINT) AS peak_1h_cents
             |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- try_* null-on-error functions ------------------------------------
    // The SQL-surface twin of the ingest layer's null-on-error typed
    // conversion (FixedWidth A8): try_cast swallows malformed input,
    // try_divide swallows division by zero — both return null instead of
    // failing the job, which is the only sane contract for dirty data at
    // 100 TB. Inputs are derived deterministically so the oracle replays
    // the identical failure set.
    "q94_try_functions" -> QueryDef(
      (s, dir) =>
        table(s, dir, "documents")
          .select(col("doc_id"))
          .withColumn("str", when(col("doc_id") % 3 === 0,
              concat(lit("x"), col("doc_id")))
            .otherwise(col("doc_id").cast("string")))
          .withColumn("parsed", expr("try_cast(str AS BIGINT)"))
          .withColumn("ratio", expr("try_divide(100, doc_id % 5)"))
          .agg(count(lit(1)).as("n_rows"),
               count(col("parsed")).as("n_parsed"),
               coalesce(sum("parsed"), lit(0L)).as("parsed_sum"),
               count(col("ratio")).as("n_divided"),
               round(sum("ratio"), 2).as("ratio_sum")),
      Some("""SELECT count(*) AS n_rows,
             |  count(p) AS n_parsed,
             |  CAST(coalesce(sum(p), 0) AS BIGINT) AS parsed_sum,
             |  count(r) AS n_divided,
             |  round(sum(r), 2) AS ratio_sum
             |FROM (
             |  SELECT TRY_CAST(CASE WHEN doc_id % 3 = 0
             |           THEN 'x' || doc_id ELSE CAST(doc_id AS VARCHAR) END
             |         AS BIGINT) AS p,
             |    CASE WHEN doc_id % 5 = 0 THEN NULL
             |         ELSE 100.0 / (doc_id % 5) END AS r
             |  FROM documents)""".stripMargin)),

    // ---- map-typed columns ------------------------------------------------
    // MapType end-to-end: JSON props parsed into map<string,bigint>,
    // exploded to (key, value) pairs, aggregated per key — the dynamic-
    // schema path (unknown key set) that struct-typed q23/q29 can't
    // express. The oracle walks the same keys via json_keys.
    "q95_map_explode" -> QueryDef(
      (s, dir) =>
        table(s, dir, "events")
          .select(col("event_id"),
            from_json(col("props"), lit("map<string,bigint>")).as("m"))
          .select(col("event_id"), explode(col("m")))
          .groupBy("key")
          .agg(count(lit(1)).as("n"),
               sum("value").as("value_sum"),
               min("value").as("value_min"),
               max("value").as("value_max"))
          .orderBy("key"),
      Some("""SELECT key, count(*) AS n,
             |  CAST(sum(v) AS BIGINT) AS value_sum,
             |  CAST(min(v) AS BIGINT) AS value_min,
             |  CAST(max(v) AS BIGINT) AS value_max
             |FROM (
             |  SELECT key,
             |    CAST(json_extract(props, '$.' || key) AS BIGINT) AS v
             |  FROM events, unnest(json_keys(props)) t(key))
             |GROUP BY key ORDER BY key""".stripMargin)),

    // ---- multiset set-operations (ALL variants) ---------------------------
    // INTERSECT ALL / EXCEPT ALL keep multiplicities (min / subtract),
    // unlike q17/q18's distinct forms — the semantics that matter when
    // the rows ARE the count (e.g. order events per customer).
    "q96_set_ops_all" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val a = o.filter(col("o_orderstatus") === "O").select("o_custkey")
        val b = o.filter(col("o_orderstatus") === "F").select("o_custkey")
        def agg(df: org.apache.spark.sql.DataFrame, op: String) =
          df.agg(count(lit(1)).as("n"),
              coalesce(sum("o_custkey"), lit(0L)).as("key_sum"))
            .select(lit(op).as("op"), col("n"), col("key_sum"))
        agg(a.intersectAll(b), "intersect_all")
          .unionByName(agg(a.exceptAll(b), "except_all"))
          .orderBy("op")
      },
      Some("""WITH a AS (SELECT o_custkey FROM orders
             |          WHERE o_orderstatus = 'O'),
             |b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
             |ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
             |ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
             |SELECT 'except_all' AS op, count(*) AS n,
             |  CAST(coalesce(sum(o_custkey), 0) AS BIGINT) AS key_sum
             |FROM ea
             |UNION ALL
             |SELECT 'intersect_all', count(*),
             |  CAST(coalesce(sum(o_custkey), 0) AS BIGINT) FROM ia
             |ORDER BY op""".stripMargin)),

    // ---- null ordering semantics ------------------------------------------
    // DESC NULLS FIRST made explicit: engines default differently (Spark
    // DESC puts nulls last, DuckDB puts them first), so portable queries
    // must spell the placement out. Deterministic null injection +
    // event_id tie-break keep the top-20 hash-exact.
    "q97_null_ordering" -> QueryDef(
      (s, dir) =>
        table(s, dir, "events")
          .select(col("event_id"),
            when(col("event_id") % 7 === 0, lit(null))
              .otherwise(col("value")).cast("double").as("v"))
          .orderBy(col("v").desc_nulls_first, col("event_id"))
          .limit(20)
          .select(col("event_id"), round(col("v"), 2).as("v")),
      Some("""SELECT event_id, round(v, 2) AS v FROM (
             |  SELECT event_id,
             |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
             |  FROM events
             |  ORDER BY v DESC NULLS FIRST, event_id LIMIT 20)""".stripMargin)),

    // ---- HLL sketch build + MERGE (re-aggregation) ------------------------
    // The distributed-cardinality pattern q55's flat approx count can't
    // show: per-nation DataSketches HLL sketches built once, then MERGED
    // (hll_union_agg) up to region level without touching the raw data
    // again — how a 100 TB rollup reuses per-partition sketches. DuckDB
    // has no compatible sketch, so (as in q55) the estimate is gated
    // in-query: the oracle pins the exact counts and the within-5%
    // boolean per region.
    "q98_hll_union_rollup" -> QueryDef(
      (s, dir) => {
        val c = table(s, dir, "customer")
        val n = broadcast(table(s, dir, "nation"))
        val base = c.join(n, col("c_nationkey") === col("n_nationkey"))
        val perNation = base.groupBy("n_regionkey", "n_nationkey")
          .agg(expr("hll_sketch_agg(c_custkey)").as("sk"),
               countDistinct("c_custkey").as("exact_n"))
        perNation.groupBy("n_regionkey")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
               sum("exact_n").as("exact_customers"),
               count(lit(1)).as("n_nations"))
          .select(col("n_regionkey").as("region_key"),
            col("n_nations"), col("exact_customers"),
            (abs(col("est") - col("exact_customers"))
              <= col("exact_customers") * 0.05).as("hll_within_5pct"))
          .orderBy("region_key")
      },
      Some("""SELECT n_regionkey AS region_key,
             |  count(DISTINCT n_nationkey) AS n_nations,
             |  count(DISTINCT c_custkey) AS exact_customers,
             |  TRUE AS hll_within_5pct
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_regionkey ORDER BY region_key""".stripMargin)),

    // ---- date-spine gap filling -------------------------------------------
    // Time-series prep: a generated per-nation month spine (sequence +
    // explode — no table holds it) left-joined to order activity, gaps
    // filled with zero so downstream windows see a dense series. The
    // spine generator is the 100 TB-safe dimension: tiny, broadcast,
    // never materialized to storage.
    "q99_date_spine_gapfill" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
          .join(broadcast(table(s, dir, "customer")
            .select("c_custkey", "c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .filter(col("c_nationkey") < 3)
          .select(col("c_nationkey").as("nation"),
            date_trunc("month", col("o_orderdate")).as("mon"),
            col("o_totalprice"))
        val months = o.agg(min("mon").as("lo"), max("mon").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr("interval 1 month"))).as("mon"))
        val nations = o.select("nation").distinct()
        val spine = nations.crossJoin(broadcast(months))
        val act = o.groupBy("nation", "mon")
          .agg(count(lit(1)).as("n_orders"),
               sum(floor(col("o_totalprice") * 100).cast("long"))
                 .as("cents"))
        spine.join(act, Seq("nation", "mon"), "left")
          .select(col("nation"), col("mon"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("cents"), lit(0L)).as("cents"))
          .orderBy("nation", "mon")
      },
      Some("""WITH o AS (
             |  SELECT c_nationkey AS nation,
             |    date_trunc('month', o_orderdate) AS mon, o_totalprice
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  WHERE c_nationkey < 3),
             |bounds AS (SELECT min(mon) AS lo, max(mon) AS hi FROM o),
             |months AS (SELECT unnest(generate_series(lo, hi,
             |             INTERVAL 1 MONTH)) AS mon FROM bounds),
             |spine AS (SELECT nation, mon
             |          FROM (SELECT DISTINCT nation FROM o) CROSS JOIN months),
             |act AS (SELECT nation, mon, count(*) AS n_orders,
             |          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             |            AS BIGINT) AS cents
             |        FROM o GROUP BY 1, 2)
             |SELECT s.nation, s.mon,
             |  coalesce(a.n_orders, 0) AS n_orders,
             |  coalesce(a.cents, 0) AS cents
             |FROM spine s LEFT JOIN act a
             |  ON s.nation = a.nation AND s.mon = a.mon
             |ORDER BY s.nation, s.mon""".stripMargin)),

    // ---- first/last/nth_value window functions ----------------------------
    // The navigation-function family q13/q14's rank/lag don't cover:
    // each user's first, latest, and second event value over the full
    // partition frame (explicit unbounded frame — last_value defaults to
    // a running frame, the classic window gotcha). Event-id tie-break
    // makes the ordering total, money in integer cents.
    "q101_value_windows" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        table(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("us"),
            floor(col("value") * 100).cast("long").as("cents"))
          .withColumn("first_cents",
            first("cents", ignoreNulls = false).over(w))
          .withColumn("last_cents",
            last("cents", ignoreNulls = false).over(w))
          .withColumn("second_cents", nth_value(col("cents"), 2).over(w))
          .groupBy("user_id")
          .agg(max("first_cents").as("first_cents"),
               max("last_cents").as("last_cents"),
               max("second_cents").as("second_cents"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS us,
             |    CAST(floor(value * 100) AS BIGINT) AS cents
             |  FROM events),
             |v AS (SELECT user_id,
             |  first_value(cents) OVER w AS first_cents,
             |  last_value(cents) OVER w AS last_cents,
             |  nth_value(cents, 2) OVER w AS second_cents
             |  FROM e WINDOW w AS (PARTITION BY user_id
             |    ORDER BY us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
             |SELECT user_id, max(first_cents) AS first_cents,
             |  max(last_cents) AS last_cents,
             |  max(second_cents) AS second_cents
             |FROM v GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- relative-rank windows (percent_rank, cume_dist) ------------------
    // The remaining rank-family members: each order's price percentile
    // within its priority class. Both functions are pure rational
    // functions of integer ranks ((rank-1)/(n-1), cume/n), so rounding
    // once at 6 digits is hash-exact; total order via the orderkey
    // tie-break.
    "q102_relative_rank" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        table(s, dir, "orders")
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .filter(col("o_orderkey") % 97 === 0)   // thin, deterministic slice
          .select("o_orderkey", "o_orderpriority", "pr", "cd")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |  round(percent_rank() OVER w, 6) AS pr,
             |  round(cume_dist() OVER w, 6) AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY o_totalprice, o_orderkey)
             |QUALIFY o_orderkey % 97 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- bivariate statistics (corr, covariance, regression) --------------
    // The two-column statistical aggregates q28's univariate stats don't
    // cover: price-vs-quantity correlation, both covariances, and the
    // least-squares line per return flag. Both engines use stable
    // co-moment accumulation; rounding at 6 absorbs the last-ulp
    // differences of the different merge orders.
    "q105_bivariate_stats" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6)
                 .as("price_qty_corr"),
               round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4)
                 .as("covar_p"),
               round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
                 .as("covar_s"),
               round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
                 .as("slope"),
               round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
                 .as("intercept"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             | round(corr(l_quantity, l_extendedprice), 6)
             |   AS price_qty_corr,
             | round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
             | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
             | round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             | round(regr_intercept(l_extendedprice, l_quantity), 4)
             |   AS intercept
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- salted two-stage aggregation (skew-safe agg pattern) -------------
    // The aggregation twin of q73's salted join: a hot low-cardinality key
    // (3 return flags over the whole fact table) first aggregates on
    // (key, salt) so every reducer sees at most 1/16th of a hot key, then
    // a second tiny aggregation combines the partials. The result is
    // IDENTICAL to a plain GROUP BY — which is exactly what the oracle
    // runs — because every aggregate here decomposes over partials (sums
    // of longs, count, min/max). Quantities are integral doubles, floored
    // to long BEFORE summing so partial-order can't drift the total.
    // At 100 TB this is the pattern for any skewed-key aggregate whose
    // map-side combine alone can't tame the hot reducer.
    "q109_salted_twostage_agg" -> QueryDef(
      (s, dir) => {
        val stage1 = table(s, dir, "lineitem")
          .withColumn("__salt", pmod(col("l_orderkey"), lit(16)))
          .groupBy(col("l_returnflag"), col("__salt"))
          .agg(sum(floor(col("l_quantity")).cast("long")).as("sq"),
               count(lit(1)).as("cnt"),
               min("l_extendedprice").as("mn"),
               max("l_extendedprice").as("mx"))
        stage1.groupBy("l_returnflag")
          .agg(sum("sq").as("sum_qty"), sum("cnt").as("n_rows"),
               min("mn").as("min_price"), max("mx").as("max_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             | CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
             |   AS sum_qty,
             | count(*) AS n_rows,
             | min(l_extendedprice) AS min_price,
             | max(l_extendedprice) AS max_price
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- weighted moving average (time-decay smoothing) -------------------
    // Per-user decayed signal over the event stream: fixed power-of-two
    // weights 8/4/2/1 over the last four observations, so every product is
    // exact in double and the ONLY float op whose order could differ — the
    // four-term sum — is written as one deterministic expression, not a
    // window-frame SUM (frame iteration order is engine-internal). Missing
    // history contributes 0, mirroring an EWMA warm-up. One shuffle on
    // user_id; lag frames are O(1) state per row at any scale.
    "q112_weighted_moving_avg" -> QueryDef(
      (s, dir) => {
        // event_id tie-break: same-ts events would otherwise order by
        // shuffle arrival and desync the lags between engines and runs
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        def lg(n: Int) = coalesce(lag(col("value"), n).over(w), lit(0.0))
        table(s, dir, "events")
          .filter(col("user_id") < 100)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn("wma", round(
            (col("value") * 8 + lg(1) * 4 + lg(2) * 2 + lg(3)) / 15, 4))
          .select(col("user_id"), col("event_id"),
            round(col("value"), 4).as("value"), col("wma"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH l AS (
             |  SELECT user_id, event_id, value,
             |    COALESCE(lag(value, 1) OVER w, 0.0) AS l1,
             |    COALESCE(lag(value, 2) OVER w, 0.0) AS l2,
             |    COALESCE(lag(value, 3) OVER w, 0.0) AS l3
             |  FROM events WHERE user_id < 100
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT user_id, event_id, round(value, 4) AS value,
             |  round((value * 8 + l1 * 4 + l2 * 2 + l3) / 15, 4) AS wma
             |FROM l ORDER BY user_id, event_id""".stripMargin)),

    // ---- market-basket co-occurrence --------------------------------------
    // Item-item co-occurrence counts (the recsys/association primitive):
    // parts appearing in the same order pair up via a SELF-EQUI-JOIN on
    // the order key — never a cross join — so candidate volume is
    // sum(k_i^2) over per-order basket sizes, which stays linear-ish when
    // baskets are bounded (TPC-H: <= 7 items). distinct() first collapses
    // repeated (order, part) line items so a pair counts once per order.
    // Top-20 with a total tie-break keeps the output deterministic.
    "q113_cooccurrence_topk" -> QueryDef(
      (s, dir) => {
        coPairCounts(s, dir, capped = false)
          .select(col("pa"), col("pb"), col("n_ab").as("n_orders"))
          .orderBy(desc("n_orders"), col("pa"), col("pb"))
          .limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |            FROM lineitem)
             |SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_orders
             |FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |GROUP BY 1, 2
             |ORDER BY n_orders DESC, pa, pb LIMIT 20""".stripMargin)),

    // ---- interval-overlap join --------------------------------------------
    // Which click windows (5 min) overlap which view windows (10 min) of
    // the same user — the time-interval generalization of q85's scalar
    // band join, via the binned-equi-join rewrite in [[IntervalJoin]]:
    // the right row lands in its start's bin, the left row explodes to
    // the bins its overlap window covers, so every qualifying pair meets
    // in exactly one bin and only the exact predicate re-check runs on
    // candidates. The oracle is the naive inequality join — identical
    // results, quadratically different work.
    "q111_interval_overlap_join" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("ea"),
            unix_micros(col("ts")).as("sa"),
            (unix_micros(col("ts")) + 600000000L).as("ae"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("eb"),
            unix_micros(col("ts")).as("sb"),
            (unix_micros(col("ts")) + 300000000L).as("be"))
        IntervalJoin.overlap(views, clicks, "user_id",
            "sa", "ae", "sb", "be",
            binWidth = 600000000L, maxRightLen = 300000000L)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_overlaps"),
               sum(col("ea") + col("eb")).as("id_sum"))
          .orderBy("user_id")
      },
      Some("""WITH a AS (SELECT user_id, event_id AS ea, epoch_us(ts) AS sa,
             |             epoch_us(ts) + 600000000 AS ae
             |           FROM events WHERE event_type = 'view'),
             |b AS (SELECT user_id, event_id AS eb, epoch_us(ts) AS sb,
             |        epoch_us(ts) + 300000000 AS be
             |      FROM events WHERE event_type = 'click')
             |SELECT user_id, count(*) AS n_overlaps,
             |  CAST(sum(ea + eb) AS BIGINT) AS id_sum
             |FROM a JOIN b USING (user_id)
             |WHERE sa <= be AND sb <= ae
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- retention cohort analysis ----------------------------------------
    // The product-analytics staple: users cohorted by first-activity week,
    // distinct actives per (cohort, week offset). Two shuffles (first-week
    // agg, cohort-cell agg) + one equi-join back on user_id; offsets are
    // INTEGER day-diffs DIV 7, and both engines truncate weeks to ISO
    // Monday, so every cell is exact.
    "q114_retention_cohorts" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
          .select(col("user_id"),
            to_date(date_trunc("week", col("ts"))).as("wk"))
        val first = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
        ev.join(first, "user_id")
          .groupBy(col("cohort_wk"),
            expr("CAST(datediff(wk, cohort_wk) DIV 7 AS BIGINT)")
              .as("week_offset"))
          .agg(countDistinct("user_id").as("n_users"))
          .orderBy("cohort_wk", "week_offset")
      },
      Some("""WITH ev AS (SELECT user_id,
             |              CAST(date_trunc('week', ts) AS DATE) AS wk
             |            FROM events),
             |f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
             |SELECT cohort_wk,
             |  CAST(datediff('day', cohort_wk, wk) // 7 AS BIGINT)
             |    AS week_offset,
             |  count(DISTINCT e.user_id) AS n_users
             |FROM ev e JOIN f USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin)),

    // ---- PageRank (fixed iterations, integer-scaled) ----------------------
    // Graph centrality over the part co-occurrence graph (distinct q113
    // pairs, symmetrized). Three power iterations with damping 0.85, all
    // in SCALED-INTEGER math — contributions are `rank DIV degree`, the
    // damping step is `150000 + (850000 * Σ) DIV 1000000` — so every
    // iteration is exact and the oracle can replay the trajectory as
    // three statically-unrolled CTEs. Each iteration is one equi-join +
    // one aggregation over the edge list (the degree join is precomputed
    // and reused), which is exactly how PageRank shuffles at 100 TB;
    // symmetrized edges mean no dangling-mass term.
    "q115_pagerank_cooccur" -> QueryDef(
      (s, dir) => {
        val pr = coPairsDistinct(s, dir, capped = false)
        val edges = pr.select(col("pa").as("src"), col("pb").as("dst"))
          .unionAll(pr.select(col("pb").as("src"), col("pa").as("dst")))
        // PageRank.rankScaled dispatches on node count: dense driver
        // arrays + shuffle-free treeAggregate up to ~100M nodes, the
        // rank-join + dst-aggregation formulation (distributed rank
        // state) above — both paths exact integer math, equality-spec'd
        // in PageRankSpec.
        graft.operators.PageRank.rankScaled(edges, iters = 3)
          .orderBy(desc("rank_scaled"), asc("pk")).limit(20)
      },
      Some(pagerankCooccurOracle)),

    // ---- PageRank through the distributed rank-join path ------------------
    // q115 with PageRank.rankJoin FORCED (the dispatch takes the
    // driver-state path at this node count): the >100M-node code path
    // runs under the same statically-unrolled oracle, so its integer
    // trajectory is hash-exact on real co-occurrence data, not only
    // PageRankSpec's fixtures.
    "q167_pagerank_rankjoin" -> QueryDef(
      (s, dir) => {
        val pr = coPairsDistinct(s, dir, capped = false)
        val edges = pr.select(col("pa").as("src"), col("pb").as("dst"))
          .unionAll(pr.select(col("pb").as("src"), col("pa").as("dst")))
        // rankJoin caches the edge derivation itself (and releases it)
        graft.operators.PageRank.rankJoin(edges, iters = 3)
          .orderBy(desc("rank_scaled"), asc("pk")).limit(20)
      },
      Some(pagerankCooccurOracle)),

    // ---- ordered string aggregation (listagg) -----------------------------
    // Concatenated group members — the classic report/export helper.
    // Deterministic by construction: collect the DISTINCT set, sort it,
    // then join — never `collect_list` of an unordered shuffle (its order
    // is partition-arrival nondeterminism, the listagg footgun).
    "q116_string_agg" -> QueryDef(
      (s, dir) => {
        val n = table(s, dir, "nation")
        val r = table(s, dir, "region")
        n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name")
          .agg(countDistinct("n_name").as("n_nations"),
               array_join(array_sort(collect_set(col("n_name"))), ",")
                 .as("nations"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, count(DISTINCT n_name) AS n_nations,
             |  array_to_string(list_sort(list(DISTINCT n_name)), ',')
             |    AS nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ---- equi-width histogram ---------------------------------------------
    // Distribution profiling as one linear aggregation: fixed-width price
    // bins (floor of a double division is the same IEEE op in both
    // engines, so bin ids are exact), count + integral mass per bin.
    // Fixed widths beat data-driven bounds at scale — no min/max
    // pre-pass, and bins are stable across partitions, days, and reruns.
    "q117_equiwidth_histogram" -> QueryDef(
      (s, dir) =>
        table(s, dir, "lineitem")
          .groupBy(floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
          .agg(count(lit(1)).as("n"),
               sum(floor(col("l_quantity")).cast("long")).as("qty_mass"))
          .orderBy("bin"),
      Some("""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
             |  count(*) AS n,
             |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
             |    AS qty_mass
             |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin)),

    // ---- triangle counting ------------------------------------------------
    // Clustering-coefficient input over the part co-occurrence graph
    // (bounded to pk < 800 — the filter pushes to both scan sides). The
    // id-ordered edge orientation (pa < pb everywhere) IS the classic
    // triangle optimization: wedges come out a < b < c, so each triangle
    // is found EXACTLY once and the wedge fan-out is bounded by
    // out-degree, not total degree (at 100 TB, orient by degree instead
    // of id for the same effect on skewed graphs). Two equi-joins — one
    // on the wedge pivot, one closing (a, c) against the edge list — and
    // four scalar counts; no cross join anywhere.
    "q124_triangle_count" -> QueryDef(
      (s, dir) => {
        val edges = graft.operators.Materialize(
          coPairsDistinct(s, dir, capped = true))
        val wedges = graft.operators.Materialize(
          edges.as("e1").join(edges.as("e2"),
              col("e1.pb") === col("e2.pa"))
            .select(col("e1.pa").as("a"), col("e1.pb").as("b"),
              col("e2.pb").as("c")))
        val tris = wedges.join(edges,
          col("a") === col("pa") && col("c") === col("pb"))
        val nNodes = edges.select(col("pa").as("x"))
          .unionAll(edges.select(col("pb").as("x")))
          .distinct().agg(count(lit(1)).as("n_nodes"))
        nNodes
          .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
          .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
          .crossJoin(broadcast(tris.agg(count(lit(1)).as("n_triangles"))))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |            FROM lineitem WHERE l_partkey < 800),
             |e AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
             |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
             |wedge AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
             |          FROM e e1 JOIN e e2 ON e1.pb = e2.pa),
             |tri AS (SELECT w.a FROM wedge w
             |        JOIN e ON e.pa = w.a AND e.pb = w.c)
             |SELECT
             |  (SELECT count(*) FROM (SELECT DISTINCT x FROM
             |     (SELECT pa AS x FROM e UNION ALL SELECT pb FROM e)))
             |    AS n_nodes,
             |  (SELECT count(*) FROM e) AS n_edges,
             |  (SELECT count(*) FROM wedge) AS n_wedges,
             |  (SELECT count(*) FROM tri) AS n_triangles""".stripMargin)),

    // ---- robust outlier detection (median / MAD) --------------------------
    // The robust z-score: flag values further than 3 scaled-MADs from
    // their group median (median/MAD shrug off the very outliers that
    // poison mean/stddev fences). Two exact-percentile aggregations and
    // two broadcast joins back onto the stream — the group statistics
    // table is dimension-sized. The median and MAD are rounded to 4
    // places BEFORE the deviation/threshold math so both engines compare
    // literally identical doubles (exact-percentile interpolation is the
    // one place engine ulp could otherwise creep in).
    "q125_mad_outliers" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
          .select(col("event_type"), col("value"))
        val med = ev.groupBy("event_type")
          .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
        // dev feeds both the MAD percentile and the outlier count —
        // cached, the corpus is read twice total (median pass + dev
        // build) instead of four times
        val dev = graft.operators.Materialize(
          ev.join(broadcast(med), "event_type")
            .withColumn("adev", abs(col("value") - col("med"))))
        val mad = dev.groupBy("event_type")
          .agg(round(expr("percentile(adev, 0.5)"), 4).as("mad"))
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
               sum(when(col("adev") > lit(4.4478) * col("mad"), 1L)
                 .otherwise(0L)).as("n_outliers"),
               max("med").as("median_value"),
               max("mad").as("mad_value"))
          .orderBy("event_type")
      },
      Some("""WITH med AS (SELECT event_type,
             |    round(quantile_cont(value, 0.5), 4) AS med
             |  FROM events GROUP BY 1),
             |dev AS (SELECT e.event_type, m.med,
             |          abs(e.value - m.med) AS adev
             |        FROM events e JOIN med m USING (event_type)),
             |mad AS (SELECT event_type,
             |          round(quantile_cont(adev, 0.5), 4) AS mad
             |        FROM dev GROUP BY 1)
             |SELECT event_type, count(*) AS n,
             |  CAST(sum(CASE WHEN adev > 4.4478 * mad THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_outliers,
             |  max(med) AS median_value, max(mad) AS mad_value
             |FROM dev JOIN mad USING (event_type)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- deterministic mergeable quantile sketch --------------------------
    // Approximate grouped quantiles from a REPRODUCIBLE sketch: the
    // custom typed Aggregator [[graft.functions.QuantileSketch]] counts
    // values into fixed log-spaced bins (state = one Long[256] vector),
    // so partial aggregation is exact, merges commute, and the estimate
    // is identical on any partition layout — which is exactly what
    // percentile_approx's order-sensitive GK buffer can't promise, and
    // why this one can be hash-oracled while q55 needs a tolerance gate.
    // Error is bounded by one bin width (~13% relative); n is exact.
    "q129_quantile_sketch" -> QueryDef(
      // the > 0 filter matches the sketch's own domain (non-positive
      // values are ignored by reduce), so `n` and the oracle's row set
      // agree even on data with zero/negative prices
      (s, dir) =>
        table(s, dir, "lineitem")
          .filter(col("l_extendedprice") > 0)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
               graft.functions.QuantileSketch.sketch(col("l_extendedprice"))
                 .as("sk"))
          .select(col("l_returnflag"), col("n"),
            round(col("sk.p50"), 4).as("p50_est"),
            round(col("sk.p95"), 4).as("p95_est"))
          .orderBy("l_returnflag"),
      Some("""WITH b AS (SELECT l_returnflag,
             |    least(255, greatest(0,
             |      CAST(floor(ln(l_extendedprice) * 8) AS INT) + 64)) AS bin
             |  FROM lineitem WHERE l_extendedprice > 0),
             |c AS (SELECT l_returnflag, bin, count(*) AS cnt
             |      FROM b GROUP BY 1, 2),
             |t AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n
             |      FROM c GROUP BY 1),
             |cum AS (SELECT l_returnflag, bin,
             |          sum(cnt) OVER (PARTITION BY l_returnflag
             |            ORDER BY bin) AS cum
             |        FROM c)
             |SELECT cum.l_returnflag, t.n,
             |  round(exp((min(CASE WHEN cum >= (t.n + 1) // 2
             |    THEN bin END) - 64) / 8.0), 4) AS p50_est,
             |  round(exp((min(CASE WHEN cum >= (19 * t.n + 19) // 20
             |    THEN bin END) - 64) / 8.0), 4) AS p95_est
             |FROM cum JOIN t USING (l_returnflag)
             |GROUP BY cum.l_returnflag, t.n
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- BFS levels (bounded multi-hop traversal) -------------------------
    // Three-hop breadth-first expansion from the smallest node of the
    // bounded co-occurrence graph (q124's subgraph) through the dual-path
    // Bfs operator: the edge list stays DISTRIBUTED (one groupBy shuffle
    // builds it), while frontier/visited state dispatches on node count —
    // driver bitsets + one shuffle-free treeAggregate per hop below the
    // gate (this subgraph), a distributed frontier/visited join loop
    // above it — both proven equal by BfsSpec, so the query's safety no
    // longer depends on the l_partkey < 800 subgraph cap by construction.
    // The oracle unrolls the three supersteps as CTEs.
    "q132_bfs_levels" -> QueryDef(
      (s, dir) => {
        graft.operators.Bfs.levels(
            coPairsDistinct(s, dir, capped = true), hops = 3)
          .groupBy("level")
          .agg(count(lit(1)).as("n_nodes"), sum("node").as("node_id_sum"))
          .orderBy("level")
      },
      Some(bfsLevelsOracle)),

    // ---- BFS through the distributed frontier path ------------------------
    // q132 with Bfs.distributedFrontier FORCED (the dispatch takes the
    // driver-bitset path at this node count): the above-the-gate code
    // path runs under the same unrolled-superstep oracle, hash-exact on
    // the real co-occurrence subgraph.
    "q168_bfs_frontier" -> QueryDef(
      (s, dir) => {
        val pairs = coPairsDistinct(s, dir, capped = true)
          .selectExpr("cast(pa as long) as a", "cast(pb as long) as b")
        graft.operators.Bfs.distributedFrontier(pairs, hops = 3)
          .groupBy("level")
          .agg(count(lit(1)).as("n_nodes"), sum("node").as("node_id_sum"))
          .orderBy("level")
      },
      Some(bfsLevelsOracle)),

    // ---- item-item similarity (collaborative filtering) -------------------
    // The classic recommender signal: cosine similarity between items
    // over the orders that contain them — co-occurrence count normalized
    // by per-item order counts. Both inputs come from the same one-shuffle
    // pair/count pipeline (coPairs); the cosine is sqrt/division of exact
    // integers, so both engines produce bit-identical doubles and the
    // global top-20 ordering cannot diverge.
    "q133_item_similarity" -> QueryDef(
      (s, dir) => {
        // pair counts AND per-item order counts both come from the
        // shared co-purchase mirror (one scan per process, not per query)
        val pairCnt = coPairCounts(s, dir, capped = false)
        val itemCnt = coItemCounts(s, dir, capped = false)
        pairCnt
          .join(itemCnt.select(col("pk").as("pa"), col("n").as("na")), "pa")
          .join(itemCnt.select(col("pk").as("pb"), col("n").as("nb")), "pb")
          .withColumn("cosine",
            col("n_ab") / sqrt(col("na") * col("nb")))
          .orderBy(desc("cosine"), col("pa"), col("pb"))
          .limit(20)
          .select(col("pa"), col("pb"), col("n_ab"),
            round(col("cosine"), 4).as("cosine"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |            FROM lineitem),
             |pc AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
             |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |       GROUP BY 1, 2),
             |ic AS (SELECT pk, count(*) AS n FROM li GROUP BY 1)
             |SELECT pa, pb, n_ab,
             |  round(n_ab / sqrt(ia.n * ib.n), 4) AS cosine
             |FROM pc JOIN ic ia ON ia.pk = pa JOIN ic ib ON ib.pk = pb
             |ORDER BY n_ab / sqrt(ia.n * ib.n) DESC, pa, pb
             |LIMIT 20""".stripMargin)),

    // ---- time-series linear interpolation ---------------------------------
    // Gap REPAIR, not gap zero-fill (q99's job): daily integer-cents
    // totals with a simulated sensor outage (every day-of-month % 5 == 0
    // masked), missing points linearly interpolated between their nearest
    // observed neighbors. The neighbor lookup uses the running-count
    // SEGMENT trick — a cumulative count of observed rows keys each gap
    // row to its preceding (and, reversed, following) observation — which
    // needs only plain sum/first windows, no IGNORE NULLS support, and
    // runs as two window passes over the daily series. Interpolation is
    // exact integer math (floor division), so every filled value is
    // hash-comparable. The daily series is one groupBy from the raw
    // events; windows run on the dimension-sized spine.
    "q141_linear_interpolation" -> QueryDef(
      (s, dir) => {
        val daily = table(s, dir, "events")
          .groupBy(to_date(col("ts")).as("d"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val spine = daily.agg(min("d").as("lo"), max("d").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr("interval 1 day"))).as("d"))
        val obs = spine.join(daily, Seq("d"), "left")
          .withColumn("observed",
            when(dayofmonth(col("d")) % 5 =!= 0, col("cents")))
        val wAsc = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wDesc = Window.orderBy(desc("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val seg = obs
          .withColumn("g1", sum(when(col("observed").isNotNull, 1L)
            .otherwise(0L)).over(wAsc))
          .withColumn("g2", sum(when(col("observed").isNotNull, 1L)
            .otherwise(0L)).over(wDesc))
        val wPrev = Window.partitionBy("g1").orderBy("d")
        val wNext = Window.partitionBy("g2").orderBy(desc("d"))
        seg
          .withColumn("pv", first("observed").over(wPrev))
          .withColumn("pd", first("d").over(wPrev))
          .withColumn("nv", first("observed").over(wNext))
          .withColumn("nd", first("d").over(wNext))
          .withColumn("filled",
            when(col("observed").isNotNull, col("observed"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                datediff(col("d"), col("pd")) /
                datediff(col("nd"), col("pd"))))
          .select(col("d"), col("observed").isNull.as("was_missing"),
            floor(col("filled")).cast("long").as("cents_filled"))
          .orderBy("d")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
             |    sum(CAST(floor(value * 100) AS BIGINT)) AS cents
             |  FROM events GROUP BY 1),
             |spine AS (SELECT unnest(generate_series(
             |    (SELECT min(d) FROM daily), (SELECT max(d) FROM daily),
             |    INTERVAL 1 DAY))::DATE AS d),
             |obs AS (SELECT spine.d,
             |    CASE WHEN day(spine.d) % 5 <> 0 THEN daily.cents END
             |      AS observed
             |  FROM spine LEFT JOIN daily ON spine.d = daily.d),
             |seg AS (SELECT *,
             |    sum(CASE WHEN observed IS NOT NULL THEN 1 ELSE 0 END)
             |      OVER (ORDER BY d) AS g1,
             |    sum(CASE WHEN observed IS NOT NULL THEN 1 ELSE 0 END)
             |      OVER (ORDER BY d DESC) AS g2
             |  FROM obs),
             |nb AS (SELECT *,
             |    first_value(observed) OVER (PARTITION BY g1 ORDER BY d)
             |      AS pv,
             |    first_value(d) OVER (PARTITION BY g1 ORDER BY d) AS pd,
             |    first_value(observed) OVER (PARTITION BY g2
             |      ORDER BY d DESC) AS nv,
             |    first_value(d) OVER (PARTITION BY g2 ORDER BY d DESC)
             |      AS nd
             |  FROM seg)
             |SELECT d, observed IS NULL AS was_missing,
             |  CAST(floor(CASE WHEN observed IS NOT NULL THEN observed
             |    ELSE pv + (nv - pv) * datediff('day', pd, d)
             |           * 1.0 / datediff('day', pd, nd) END) AS BIGINT)
             |    AS cents_filled
             |FROM nb ORDER BY d""".stripMargin)),

    // ---- mutual information (feature-dependence audit) --------------------
    // How much does discount tell you about quantity? Joint/marginal
    // histogram over fixed integer bins (no data-driven bounds — stable
    // across partitions and days, the q117 rule), then
    // MI = Σ p(x,y) · ln(p(x,y)/(p(x)p(y))) plus the marginal entropies,
    // all evaluated on the ≤ dozens-of-cells aggregate — one linear scan
    // feeds a dimension-sized frame, and every log argument is an exact
    // integer ratio, identical in both engines.
    "q142_mutual_information" -> QueryDef(
      (s, dir) => {
        val binned = table(s, dir, "lineitem")
          .select(floor(col("l_quantity") / 10).cast("long").as("qb"),
            floor(col("l_discount") * 100 / 2).cast("long").as("db"))
        val joint = graft.operators.Materialize(binned.groupBy("qb", "db")
          .agg(count(lit(1)).as("nxy")))
        val mx = joint.groupBy("qb").agg(sum("nxy").as("nx"))
        val my = joint.groupBy("db").agg(sum("nxy").as("ny"))
        val tot = joint.agg(sum("nxy").as("n"))
        joint.join(broadcast(mx), "qb").join(broadcast(my), "db")
          .crossJoin(broadcast(tot))
          .agg(
            count(lit(1)).as("n_cells"),
            round(sum((col("nxy") * 1.0 / col("n")) *
              log((col("nxy") * 1.0 * col("n")) /
                (col("nx") * 1.0 * col("ny")))), 4).as("mi"),
            round(-sum((col("nxy") * 1.0 / col("n")) *
              log(col("nx") * 1.0 / col("n"))), 4).as("h_x"),
            round(-sum((col("nxy") * 1.0 / col("n")) *
              log(col("ny") * 1.0 / col("n"))), 4).as("h_y"))
      },
      Some("""WITH b AS (SELECT
             |    CAST(floor(l_quantity / 10) AS BIGINT) AS qb,
             |    CAST(floor(l_discount * 100 / 2) AS BIGINT) AS db
             |  FROM lineitem),
             |j AS (SELECT qb, db, count(*) AS nxy FROM b GROUP BY 1, 2),
             |mx AS (SELECT qb, CAST(sum(nxy) AS BIGINT) AS nx
             |       FROM j GROUP BY 1),
             |my AS (SELECT db, CAST(sum(nxy) AS BIGINT) AS ny
             |       FROM j GROUP BY 1),
             |tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM j)
             |SELECT count(*) AS n_cells,
             |  round(sum((nxy * 1.0 / n) *
             |    ln((nxy * 1.0 * n) / (nx * 1.0 * ny))), 4) AS mi,
             |  round(-sum((nxy * 1.0 / n) * ln(nx * 1.0 / n)), 4) AS h_x,
             |  round(-sum((nxy * 1.0 / n) * ln(ny * 1.0 / n)), 4) AS h_y
             |FROM j JOIN mx USING (qb) JOIN my USING (db), tot""".stripMargin)),

    // ---- Poisson bootstrap (distributed resampling) ------------------------
    // Confidence intervals at corpus scale: classic bootstrap resampling
    // needs n draws per replica from the WHOLE dataset — impossible to
    // coordinate distributed — so the scalable form gives every row an
    // independent Poisson(1) weight per replica (the "Poisson bootstrap",
    // the resampling scheme large-scale pipelines actually run). Weights
    // are HASH-seeded (inverse Poisson CDF over md5-derived uniforms,
    // like every sampler in this catalog), so all 8 replicas are rerun-
    // and oracle-reproducible — and ONE md5 per row funds all of them:
    // each replica reads its own 4-hex chunk of the digest (16-bit
    // uniforms, ample for a 6-step CDF), so the whole bootstrap is a
    // single linear pass whose per-row cost is one hash, not one per
    // (row, replica). The CDF thresholds are decimal literals, which
    // both engines parse to identical doubles; the replica means are
    // ratios of exact integer sums. A CI is a percentile over this
    // output's replica means.
    "q146_poisson_bootstrap" -> QueryDef(
      (s, dir) => {
        // all 8 replicas in ONE projection + ONE aggregation: replica b's
        // weight is a conditional expression over its own 4-hex chunk of
        // the digest, summed map-side into 16 partials — no row
        // inflation. The earlier explode(sequence(0,7)) formulation was
        // linear too, but fed the shuffle 8× the fact table for no
        // reason; here shuffle input is 16 longs per partition, and the
        // 8-row output shape is recovered by exploding the SINGLE
        // aggregate row.
        // The CDF compare runs directly on the lowercase-hex chunk: with
        // v = the chunk's value, (v + 0.5)/65536 < t  ⟺  v < t·65536 − 0.5
        // (both transforms are exact: power-of-two multiply/divide only
        // shift the exponent), and fixed-width lowercase hex preserves
        // integer order — so each threshold is ONE string compare against
        // a precomputed 4-hex literal, no conv/division per (row, replica).
        // Bounds: v < 24109 ⟺ u < 0.3678…, etc. The oracle keeps the
        // u-form; identical weights by the equivalence above.
        def w(b: Int): Column = {
          val chunk = substring(col("h"), b * 4 + 1, 4)
          when(chunk < "5e2d", 0L)
            .when(chunk < "bc5b", 1L)
            .when(chunk < "eb71", 2L)
            .when(chunk < "fb24", 3L)
            .when(chunk < "ff10", 4L)
            .otherwise(5L)
        }
        // weights land in a PROJECTION so each is evaluated once per row
        // (16 aggregate expressions referencing w(b) directly would
        // re-run the substring/conv/CASE chain per sum — aggregate
        // expressions don't share subexpressions the way projections do)
        val aggs = (0 until 8).flatMap(b => Seq(
          sum(col(s"w$b")).as(s"n$b"),
          sum(col(s"w$b") * col("cents")).as(s"m$b")))
        table(s, dir, "lineitem")
          .select(floor(col("l_extendedprice") * 100).cast("long")
              .as("cents"),
            md5(concat(lit("bs_"), col("l_orderkey"), lit("_"),
              col("l_linenumber"))).as("h"))
          .select(col("cents") +: (0 until 8).map(b => w(b).as(s"w$b")): _*)
          .agg(aggs.head, aggs.tail: _*)
          .select(explode(array((0 until 8).map(b => struct(
            lit(b).as("b"), col(s"n$b").as("n_drawn"),
            col(s"m$b").as("mass"))): _*)).as("r"))
          .select(col("r.b"), col("r.n_drawn"),
            round(col("r.mass") * 1.0 / col("r.n_drawn") / 100.0, 2)
              .as("mean_price"))
          .orderBy("b")
      },
      Some("""WITH r AS (SELECT
             |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
             |    md5('bs_' || l_orderkey || '_' || l_linenumber) AS h
             |  FROM lineitem),
             |x AS (SELECT cents, b,
             |    (CAST(('0x' || substr(h, CAST(b * 4 + 1 AS INT), 4))
             |       AS BIGINT) + 0.5) / 65536.0 AS u
             |  FROM r CROSS JOIN range(0, 8) t(b)),
             |w AS (SELECT b, cents,
             |    CASE WHEN u < 0.3678794411714423 THEN 0
             |         WHEN u < 0.7357588823428846 THEN 1
             |         WHEN u < 0.9196986029286058 THEN 2
             |         WHEN u < 0.9810118431238462 THEN 3
             |         WHEN u < 0.9963401531726563 THEN 4
             |         ELSE 5 END AS w
             |  FROM x)
             |SELECT CAST(b AS INT) AS b,
             |  CAST(sum(w) AS BIGINT) AS n_drawn,
             |  round(CAST(sum(w * cents) AS BIGINT) * 1.0
             |    / CAST(sum(w) AS BIGINT) / 100.0, 2) AS mean_price
             |FROM w GROUP BY b ORDER BY b""".stripMargin)),

    // ---- Gini coefficient (spend concentration) ---------------------------
    // Inequality of customer spend — the Lorenz-curve summary, computed
    // from the rank formulation G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    // ascending-ranked totals. Everything before the final division is
    // EXACT integer arithmetic (cents totals, a global rank with an
    // id tie-break, i·xᵢ sums), so the only doubles are two exact
    // integers dividing once — per-source output stays dimension-sized.
    "q149_gini_spend" -> QueryDef(
      (s, dir) => {
        val spend = table(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        val w = Window.orderBy("cents", "o_custkey")
        spend.withColumn("i", row_number().over(w).cast("long"))
          .agg(count(lit(1)).as("n_customers"),
               sum(col("i") * col("cents")).as("ranked_mass"),
               sum("cents").as("total_cents"))
          .select(col("n_customers"),
            round(lit(2.0) * col("ranked_mass") /
              (col("n_customers") * col("total_cents")) -
              (col("n_customers") + 1.0) / col("n_customers"), 4)
              .as("gini"))
      },
      Some("""WITH s AS (SELECT o_custkey,
             |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |r AS (SELECT cents, CAST(row_number() OVER (
             |    ORDER BY cents, o_custkey) AS BIGINT) AS i FROM s)
             |SELECT count(*) AS n_customers,
             |  round(2.0 * CAST(sum(i * cents) AS BIGINT) /
             |    (count(*) * CAST(sum(cents) AS BIGINT)) -
             |    (count(*) + 1.0) / count(*), 4) AS gini
             |FROM r""".stripMargin)),

    // ---- Herfindahl index (market concentration) --------------------------
    // Concentration of order volume per market segment: HHI = Σ shareᵢ²
    // over each segment's customers. Shares divide exact integer cents
    // once; the squared-share sum runs over dimension-sized per-customer
    // rows within each segment, rounded before comparison.
    "q150_hhi_concentration" -> QueryDef(
      (s, dir) => {
        val spend = table(s, dir, "orders")
          .join(broadcast(table(s, dir, "customer")
            .select("c_custkey", "c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment", "o_custkey")
          .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        val totals = spend.groupBy("c_mktsegment")
          .agg(sum("cents").as("seg_cents"),
               count(lit(1)).as("n_customers"))
        spend.join(broadcast(totals), "c_mktsegment")
          .groupBy("c_mktsegment")
          .agg(max("n_customers").as("n_customers"),
               round(sum((col("cents") * 1.0 / col("seg_cents")) *
                 (col("cents") * 1.0 / col("seg_cents"))), 6).as("hhi"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH s AS (SELECT c_mktsegment, o_custkey,
             |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |t AS (SELECT c_mktsegment,
             |    CAST(sum(cents) AS BIGINT) AS seg_cents,
             |    count(*) AS n_customers
             |  FROM s GROUP BY 1)
             |SELECT c_mktsegment, max(n_customers) AS n_customers,
             |  round(sum((cents * 1.0 / seg_cents) *
             |    (cents * 1.0 / seg_cents)), 6) AS hhi
             |FROM s JOIN t USING (c_mktsegment)
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- cohort LTV curve -------------------------------------------------
    // Cumulative value per acquisition cohort: users cohorted by first
    // event week (q114's cohorting), per-cell purchase cents, then the
    // RUNNING total along each cohort's week offsets — the
    // lifetime-value curve growth teams read. Cents are exact integers
    // end to end (the cumulative window sums longs), offsets are
    // integer week diffs; one shuffle for the cohort join, one for the
    // cells, a dimension-sized window for the running sum.
    "q152_cohort_ltv" -> QueryDef(
      (s, dir) => {
        val ev = table(s, dir, "events")
          .select(col("user_id"),
            to_date(date_trunc("week", col("ts"))).as("wk"),
            when(col("event_type") === "purchase",
              floor(col("value") * 100).cast("long")).otherwise(0L)
              .as("cents"))
        val first = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
        val cells = ev.join(first, "user_id")
          .groupBy(col("cohort_wk"),
            expr("CAST(datediff(wk, cohort_wk) DIV 7 AS BIGINT)")
              .as("week_offset"))
          .agg(sum("cents").as("cents"))
        val w = Window.partitionBy("cohort_wk").orderBy("week_offset")
        cells.withColumn("cum_cents", sum("cents").over(w))
          .select(col("cohort_wk"), col("week_offset"), col("cents"),
            col("cum_cents"))
          .orderBy("cohort_wk", "week_offset")
      },
      Some("""WITH ev AS (SELECT user_id,
             |    CAST(date_trunc('week', ts) AS DATE) AS wk,
             |    CASE WHEN event_type = 'purchase'
             |      THEN CAST(floor(value * 100) AS BIGINT)
             |      ELSE 0 END AS cents
             |  FROM events),
             |f AS (SELECT user_id, min(wk) AS cohort_wk
             |      FROM ev GROUP BY 1),
             |cells AS (SELECT cohort_wk,
             |    CAST(datediff('day', cohort_wk, wk) // 7 AS BIGINT)
             |      AS week_offset,
             |    CAST(sum(cents) AS BIGINT) AS cents
             |  FROM ev JOIN f USING (user_id)
             |  GROUP BY 1, 2)
             |SELECT cohort_wk, week_offset, cents,
             |  CAST(sum(cents) OVER (PARTITION BY cohort_wk
             |    ORDER BY week_offset) AS BIGINT) AS cum_cents
             |FROM cells ORDER BY cohort_wk, week_offset""".stripMargin)),

    // ---- LATERAL correlated subquery (top-N per group, SQL surface) -------
    // The SQL-standard correlated-table formulation of per-group top-N —
    // Presto/Athena users write this shape constantly, and Spark's
    // DecorrelateInnerQuery turns the correlated ORDER BY ... LIMIT into
    // the same ranked-window plan the DataFrame API builds (no per-row
    // re-execution; one shuffle on the correlation key). Tie-broken total
    // order keeps the LIMIT oracle-exact.
    "q163_lateral_topn" -> QueryDef(
      (s, dir) => {
        table(s, dir, "nation").createOrReplaceTempView("nation_v")
        table(s, dir, "customer").createOrReplaceTempView("customer_v")
        s.sql("""
          SELECT n_name, c.c_name, c.c_acctbal
          FROM nation_v, LATERAL (
            SELECT c_name, c_acctbal FROM customer_v
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 2) c
          ORDER BY n_name, c_acctbal DESC, c_name""")
      },
      Some("""SELECT n_name, c.c_name, c.c_acctbal
             |FROM nation, LATERAL (
             |  SELECT c_name, c_acctbal FROM customer
             |  WHERE c_nationkey = n_nationkey
             |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c
             |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)),

    // ---- distribution windows: ntile + cume_dist --------------------------
    // The remaining ranked-window family members: decile assignment
    // (ntile) and cumulative distribution (cume_dist) over customer spend.
    // Spend totals are exact cents and the window order carries a key
    // tie-break, so decile boundaries are deterministic; the per-decile
    // roll-up keeps output dimension-sized. cume_dist is surfaced as the
    // decile's max (a count ratio — exact in both engines).
    "q164_ntile_cume_dist" -> QueryDef(
      (s, dir) => {
        val spend = table(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        val w = Window.orderBy("cents", "o_custkey")
        spend
          .withColumn("decile", ntile(10).over(w))
          .withColumn("cd", cume_dist().over(w))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_customers"),
               sum("cents").as("cents"),
               round(max("cd"), 4).as("cume_dist_max"))
          .orderBy("decile")
      },
      Some("""WITH s AS (SELECT o_custkey,
             |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |r AS (SELECT cents,
             |    CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS INT)
             |      AS decile,
             |    cume_dist() OVER (ORDER BY cents, o_custkey) AS cd
             |  FROM s)
             |SELECT decile, count(*) AS n_customers,
             |  CAST(sum(cents) AS BIGINT) AS cents,
             |  round(max(cd), 4) AS cume_dist_max
             |FROM r GROUP BY decile ORDER BY decile""".stripMargin)),

    // ---- exponential-decay aggregation (recency weighting) ----------------
    // The recency-weighted engagement score streaming systems keep as
    // state, computed batch-exact: each user event is weighted by
    // 0.9^(events after it), so the latest event weighs 1. Per-term
    // weights are doubles computed identically in both engines
    // (pow of a literal), then floored to scaled longs BEFORE the group
    // sum — integer summation, order-independent under any partitioning.
    // One window pass + one aggregation, both on user_id.
    "q165_exponential_decay" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(desc("ts"), desc("event_id"))
        table(s, dir, "events")
          .withColumn("age", row_number().over(w) - 1)
          .select(col("user_id"),
            floor(col("value") * pow(lit(0.9), col("age")) * 1e6)
              .cast("long").as("term"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
               sum("term").as("decayed_scaled"))
          .select(col("user_id"), col("n_events"),
            round(col("decayed_scaled") * 1.0 / 1e6, 4).as("decayed_value"))
          .orderBy("user_id")
      },
      Some("""WITH aged AS (SELECT user_id, value,
             |    CAST(row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS BIGINT) - 1 AS age
             |  FROM events),
             |terms AS (SELECT user_id,
             |    CAST(floor(value * pow(0.9, age) * 1e6) AS BIGINT) AS term
             |  FROM aged)
             |SELECT user_id, count(*) AS n_events,
             |  round(CAST(sum(term) AS BIGINT) * 1.0 / 1e6, 4)
             |    AS decayed_value
             |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- link prediction: rare-context common neighbors -------------------
    // Which user pairs behave alike? Candidate pairs are enumerated ONLY
    // inside rare contexts — (event_type, hour, value-bucket) cells with
    // 2..8 distinct users — the df-cut rationale from the shingle dedup
    // family applied to a bipartite user–context graph: crowded contexts
    // carry no discriminative signal and are exactly where pair fan-out
    // turns quadratic, so they are cut, and per-cell fan-out is bounded
    // by CAP²=64 whatever the corpus. Pairs are generated MAP-SIDE from
    // one context groupBy (the coPairs shape — sorted user set, i<j
    // combinations), never a self-join. Scores are the two classic
    // common-neighbor indices, exact in integers: neighborhood Jaccard
    // in bp, and the resource-allocation index Σ_w 1/deg(w) over shared
    // contexts as Σ 1000000 DIV ctx_size ppm (Zhou et al. 2009 — the RA
    // index; deg(w) of the shared context node IS its user count). Only
    // pairs with ≥2 shared contexts surface — one shared cell is chance,
    // two is structure — which also bounds the output.
    "q214_linkpred_common_contexts" -> QueryDef(
      (s, dir) => {
        // the rare-cell frame feeds the pair generator once and the
        // degree frame, which is itself joined twice (deg_u/deg_v) —
        // uncached that re-derives the context groupBy from the events
        // scan three times; materialized the scan runs once and the
        // cache is only O(rare cells)
        val grouped = graft.operators.Materialize(
          rareContextUsers(table(s, dir, "events")))
        val deg = grouped.select(explode(col("us")).as("user_id"))
          .groupBy("user_id").agg(count(lit(1)).as("deg"))
        val pairs = contextPairs(grouped)
        pairs.groupBy("u", "v")
          .agg(count(lit(1)).as("common"),
            sum(expr("1000000 DIV ctx_size")).as("ra_ppm"))
          .filter(col("common") >= 2)
          .join(deg.select(col("user_id").as("u"), col("deg").as("deg_u")),
            Seq("u"))
          .join(deg.select(col("user_id").as("v"), col("deg").as("deg_v")),
            Seq("v"))
          .withColumn("jaccard_bp",
            expr("common * 10000 DIV (deg_u + deg_v - common)"))
          .select("u", "v", "common", "deg_u", "deg_v", "jaccard_bp",
            "ra_ppm")
          .orderBy("u", "v")
      },
      Some(s"""WITH $rareContextCtes,
             |deg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS deg
             |        FROM r GROUP BY 1),
             |p AS (SELECT a.user_id AS u, b.user_id AS v,
             |        CAST(count(*) AS BIGINT) AS common,
             |        CAST(sum(1000000 // a.n_users) AS BIGINT) AS ra_ppm
             |      FROM r a JOIN r b ON a.event_type = b.event_type
             |        AND a.hr = b.hr AND a.vb = b.vb
             |        AND a.user_id < b.user_id
             |      GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT p.u, p.v, p.common, du.deg AS deg_u, dv.deg AS deg_v,
             |  CAST(p.common * 10000 // (du.deg + dv.deg - p.common)
             |    AS BIGINT) AS jaccard_bp,
             |  p.ra_ppm
             |FROM p JOIN deg du ON p.u = du.user_id
             |JOIN deg dv ON p.v = dv.user_id
             |ORDER BY u, v""".stripMargin)),

    // ---- label propagation communities ------------------------------------
    // Community detection over the strong-tie graph (q214's pairs with
    // ≥2 shared rare contexts): three SYNCHRONOUS label-propagation
    // rounds with the deterministic update "new label = most frequent
    // neighbor label, ties to the smallest" — the tie-break is what
    // makes LPA replayable at all (textbook LPA randomizes; a
    // distributed engine must not). Each round is ONE shuffle join
    // (symmetrized edges against the current label frame) + one groupBy
    // + a per-node window over a neighbor-label frame bounded by degree
    // — exactly how LPA scales on a 1000-executor cluster, with rounds
    // fixed so the plan is statically unrolled, never iterate-to-
    // convergence (synchronous LPA can oscillate; a fixed horizon is
    // both deterministic and the standard production cut). The oracle
    // replays all three rounds as unrolled CTEs.
    "q215_label_propagation" -> QueryDef(
      (s, dir) => {
        val grouped = rareContextUsers(table(s, dir, "events"))
        val strong = contextPairs(grouped)
          .groupBy("u", "v").agg(count(lit(1)).as("common"))
          .filter(col("common") >= 2)
        val sym = graft.operators.Materialize(
          strong.select(col("u").as("src"), col("v").as("dst"))
            .unionAll(strong.select(col("v").as("src"), col("u").as("dst"))))
        // LAZY round boundaries (round-13 loop rule): the final labels
        // frame is consumed TWICE (sizes + the output join) — uncut, the
        // entire events→pairs→3-round chain re-executed once per
        // consumer (measured: the whole chain ran twice). Each round's
        // cut also keeps the statically-unrolled plan flat; no round
        // pays a driver action of its own.
        var labels = graft.operators.Materialize.lazyCheckpointed(
          sym.select(col("src").as("node")).distinct()
            .withColumn("label", col("node")))
        val w = Window.partitionBy("src").orderBy(desc("c"), asc("label"))
        for (_ <- 1 to 3) {
          labels = graft.operators.Materialize.lazyCheckpointed(sym.as("e")
            .join(labels.as("l"), col("e.dst") === col("l.node"))
            .groupBy(col("e.src").as("src"), col("l.label").as("label"))
            .agg(count(lit(1)).as("c"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("src").as("node"), col("label")))
        }
        val sizes = labels.groupBy("label")
          .agg(count(lit(1)).as("community_size"))
        labels.join(sizes, Seq("label"))
          .select(col("node").as("user_id"), col("label"),
            col("community_size"))
          .orderBy("user_id")
      },
      Some {
        def round(i: Int) =
          s"""c$i AS (SELECT s.src, l.label, count(*) AS c
             |      FROM sym s JOIN l${i - 1} l ON s.dst = l.node
             |      GROUP BY 1, 2),
             |l$i AS (SELECT src AS node, label FROM (
             |        SELECT src, label, row_number() OVER (PARTITION BY src
             |          ORDER BY c DESC, label ASC) AS rn FROM c$i)
             |      WHERE rn = 1)"""
        s"""WITH $rareContextCtes,
           |p AS (SELECT a.user_id AS u, b.user_id AS v
           |      FROM r a JOIN r b ON a.event_type = b.event_type
           |        AND a.hr = b.hr AND a.vb = b.vb
           |        AND a.user_id < b.user_id
           |      GROUP BY 1, 2 HAVING count(*) >= 2),
           |sym AS (SELECT u AS src, v AS dst FROM p
           |        UNION ALL SELECT v, u FROM p),
           |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
           |${round(1)},
           |${round(2)},
           |${round(3)},
           |cs AS (SELECT label, CAST(count(*) AS BIGINT)
           |         AS community_size
           |       FROM l3 GROUP BY 1)
           |SELECT l3.node AS user_id, l3.label, cs.community_size
           |FROM l3 JOIN cs USING (label)
           |ORDER BY user_id""".stripMargin
      }),

    // ---- HITS hubs and authorities ----------------------------------------
    // Kleinberg's HITS on the DIRECTED customer→supplier purchase graph
    // (who buys from whom): hubs are broad buyers, authorities are
    // widely-bought-from suppliers — the two-sided centrality PageRank's
    // single score conflates on bipartite-ish graphs. Two full
    // hub/authority rounds in scaled-integer math: each half-step is one
    // equi-join + one aggregation over the edge list (the same shuffle
    // shape as q115's PageRank — how HITS actually runs at 100 TB), and
    // the usual L2 normalization is replaced by max-normalization to
    // 10⁶ (scores in [0, 10⁶], sums bounded by |V|·10⁶ — no sqrt, no
    // float, so the trajectory replays exactly). The per-step max is a
    // one-row broadcast. Top-10 each side under a total tie-break.
    "q219_hits_hub_authority" -> QueryDef(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val li = table(s, dir, "lineitem")
        val edges = graft.operators.Materialize(
          o.join(li, o("o_orderkey") === li("l_orderkey"))
            .select(col("o_custkey").as("cust"),
              col("l_suppkey").as("supp"))
            .distinct())
        // each half-step consumes its input twice (max + join), so the
        // chain a1→h1→a2→h2 grows the analyzed plan O(2^rounds) unless
        // each round's frame is lineage-cut. Round boundary: the RAW
        // score frame is LAZILY checkpointed first (no driver action —
        // the max-side broadcast build materializes it, the normalizing
        // projection reuses the blocks, so each round's join+aggregation
        // executes ONCE), then the per-round max is a parallel
        // partial aggregation + one-row broadcast crossJoin. The score
        // frame is O(|V|) — it GROWS with the data — so a
        // single-partition max window here would shuffle every node's
        // score to one task per half-step at 100 TB (the round-12
        // spelling this replaces); agg(max) computes the same max with
        // map-side partials. q247/q342 keep the window spelling because
        // their frames are constant-bounded (64 rows / bigram vocab).
        def normalized(df: DataFrame, c: String): DataFrame = {
          val raw = graft.operators.Materialize.lazyCheckpointed(df)
          raw.crossJoin(broadcast(raw.agg(max(col(c)).as("mx"))))
            .withColumn(c, expr(s"$c * 1000000 DIV mx")).drop("mx")
        }
        val h0 = edges.select("cust").distinct()
          .withColumn("h", lit(1000000L))
        val a1 = normalized(edges.join(h0, "cust")
          .groupBy("supp").agg(sum("h").as("a")), "a")
        val h1 = normalized(edges.join(a1, "supp")
          .groupBy("cust").agg(sum("a").as("h")), "h")
        val a2 = normalized(edges.join(h1, "cust")
          .groupBy("supp").agg(sum("h").as("a")), "a")
        val h2 = normalized(edges.join(a2, "supp")
          .groupBy("cust").agg(sum("a").as("h")), "h")
        a2.select(lit("authority").as("side"),
            col("supp").as("node_id"), col("a").as("score_scaled"))
          .orderBy(desc("score_scaled"), asc("node_id")).limit(10)
          .unionAll(
            h2.select(lit("hub").as("side"),
                col("cust").as("node_id"), col("h").as("score_scaled"))
              .orderBy(desc("score_scaled"), asc("node_id")).limit(10))
          .orderBy(col("side"), desc("score_scaled"), asc("node_id"))
      },
      Some("""WITH e AS (SELECT DISTINCT o_custkey AS cust,
             |            l_suppkey AS supp
             |          FROM orders JOIN lineitem
             |            ON o_orderkey = l_orderkey),
             |h0 AS (SELECT DISTINCT cust, CAST(1000000 AS BIGINT) AS h
             |       FROM e),
             |a1r AS (SELECT supp, CAST(sum(h) AS BIGINT) AS a
             |        FROM e JOIN h0 USING (cust) GROUP BY 1),
             |a1 AS (SELECT supp, CAST(a * 1000000 //
             |         (SELECT max(a) FROM a1r) AS BIGINT) AS a FROM a1r),
             |h1r AS (SELECT cust, CAST(sum(a) AS BIGINT) AS h
             |        FROM e JOIN a1 USING (supp) GROUP BY 1),
             |h1 AS (SELECT cust, CAST(h * 1000000 //
             |         (SELECT max(h) FROM h1r) AS BIGINT) AS h FROM h1r),
             |a2r AS (SELECT supp, CAST(sum(h) AS BIGINT) AS a
             |        FROM e JOIN h1 USING (cust) GROUP BY 1),
             |a2 AS (SELECT supp, CAST(a * 1000000 //
             |         (SELECT max(a) FROM a2r) AS BIGINT) AS a FROM a2r),
             |h2r AS (SELECT cust, CAST(sum(a) AS BIGINT) AS h
             |        FROM e JOIN a2 USING (supp) GROUP BY 1),
             |h2 AS (SELECT cust, CAST(h * 1000000 //
             |         (SELECT max(h) FROM h2r) AS BIGINT) AS h FROM h2r),
             |ranked AS (
             |  SELECT 'authority' AS side, supp AS node_id,
             |    a AS score_scaled,
             |    row_number() OVER (ORDER BY a DESC, supp) AS rn
             |  FROM a2
             |  UNION ALL
             |  SELECT 'hub', cust, h,
             |    row_number() OVER (ORDER BY h DESC, cust)
             |  FROM h2)
             |SELECT side, node_id, score_scaled FROM ranked
             |WHERE rn <= 10
             |ORDER BY side, score_scaled DESC, node_id""".stripMargin)),

    // ---- k-core peeling ---------------------------------------------------
    // The density filter graph pipelines run before expensive per-node
    // work: iteratively strip nodes of degree < k until only the k-core
    // survives. k is DATA-DERIVED — the lower-quartile degree (an exact
    // order statistic with a total tie-break), because a fixed absolute
    // k is meaningless across scales: this co-occurrence graph's density
    // moves with sf, and a constant that peels nothing at one scale
    // guts the graph at another (the probe that chose p25 showed
    // exactly that). Three peel rounds, statically unrolled like
    // LPA/BFS: each round is one degree aggregation + two semi-joins,
    // the shuffle shape k-core has at 100 TB; per-round edge frames are
    // materialized once (each feeds a degree agg AND both semi-join
    // sides). The degree frame rides the pushed pk < 800 slice here; at
    // corpus scale the exact order statistic would come from the q129
    // mergeable quantile sketch instead — the peeling itself is
    // slice-free. Fixpoint-or-empty are both legitimate outcomes; the
    // output reports the full trajectory.
    "q223_kcore_peeling" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val e0 = Materialize(coPairsDistinct(s, dir, capped = true))
        def degrees(e: DataFrame): DataFrame =
          e.select(col("pa").as("node"))
            .unionAll(e.select(col("pb").as("node")))
            .groupBy("node").agg(count(lit(1)).as("deg"))
        val d0 = Materialize(degrees(e0))
        val kf = Materialize(d0
          .withColumn("rn", row_number().over(
            Window.orderBy(asc("deg"), asc("node"))))
          .crossJoin(broadcast(d0.agg(count(lit(1)).as("nn"))))
          .filter(col("rn") === expr("(nn + 1) DIV 4 + 1"))
          .select(col("deg").as("k")))
        // each round references its predecessor 4× (degree agg ×2 via
        // the unionAll, plus both semi-join sides) and statsRow re-reads
        // every generation, so the per-round edge frame must be
        // lineage-cut, not just cached — see Materialize.checkpointed
        def peel(e: DataFrame): DataFrame = {
          val alive = degrees(e).crossJoin(broadcast(kf))
            .filter(col("deg") >= col("k")).select("node")
          Materialize.checkpointed(e
            .join(alive.select(col("node").as("pa")), Seq("pa"), "left_semi")
            .join(alive.select(col("node").as("pb")), Seq("pb"), "left_semi")
            .select("pa", "pb"))
        }
        val e1 = peel(e0); val e2 = peel(e1); val e3 = peel(e2)
        def statsRow(r: Int, e: DataFrame): DataFrame =
          degrees(e).agg(count(lit(1)).as("n_nodes"))
            .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
            .crossJoin(broadcast(kf))
            .select(lit(r.toLong).as("round"), col("k"),
              col("n_nodes"), col("n_edges"))
        statsRow(0, e0).unionAll(statsRow(1, e1))
          .unionAll(statsRow(2, e2)).unionAll(statsRow(3, e3))
          .orderBy("round")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
             |            l_partkey AS pk
             |          FROM lineitem WHERE l_partkey < 800),
             |e0 AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
             |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
             |d0 AS (SELECT node, count(*) AS deg FROM (
             |         SELECT pa AS node FROM e0
             |         UNION ALL SELECT pb FROM e0) GROUP BY 1),
             |kf AS (SELECT CAST(deg AS BIGINT) AS k FROM (
             |         SELECT deg, row_number() OVER (ORDER BY deg, node)
             |           AS rn FROM d0)
             |       WHERE rn = (SELECT count(*) + 1 FROM d0) // 4 + 1),
             |a1 AS (SELECT node FROM d0 CROSS JOIN kf WHERE deg >= k),
             |e1 AS (SELECT pa, pb FROM e0
             |       WHERE pa IN (SELECT node FROM a1)
             |         AND pb IN (SELECT node FROM a1)),
             |d1 AS (SELECT node, count(*) AS deg FROM (
             |         SELECT pa AS node FROM e1
             |         UNION ALL SELECT pb FROM e1) GROUP BY 1),
             |a2 AS (SELECT node FROM d1 CROSS JOIN kf WHERE deg >= k),
             |e2 AS (SELECT pa, pb FROM e1
             |       WHERE pa IN (SELECT node FROM a2)
             |         AND pb IN (SELECT node FROM a2)),
             |d2 AS (SELECT node, count(*) AS deg FROM (
             |         SELECT pa AS node FROM e2
             |         UNION ALL SELECT pb FROM e2) GROUP BY 1),
             |a3 AS (SELECT node FROM d2 CROSS JOIN kf WHERE deg >= k),
             |e3 AS (SELECT pa, pb FROM e2
             |       WHERE pa IN (SELECT node FROM a3)
             |         AND pb IN (SELECT node FROM a3)),
             |d3 AS (SELECT node, count(*) AS deg FROM (
             |         SELECT pa AS node FROM e3
             |         UNION ALL SELECT pb FROM e3) GROUP BY 1)
             |SELECT * FROM (
             |  SELECT CAST(0 AS BIGINT) AS round, k,
             |    (SELECT count(*) FROM d0) AS n_nodes,
             |    (SELECT count(*) FROM e0) AS n_edges FROM kf
             |  UNION ALL SELECT 1, k, (SELECT count(*) FROM d1),
             |    (SELECT count(*) FROM e1) FROM kf
             |  UNION ALL SELECT 2, k, (SELECT count(*) FROM d2),
             |    (SELECT count(*) FROM e2) FROM kf
             |  UNION ALL SELECT 3, k, (SELECT count(*) FROM d3),
             |    (SELECT count(*) FROM e3) FROM kf)
             |ORDER BY round""".stripMargin)),

    // ---- recursive CTE: hierarchy walk (WITH RECURSIVE) -------------------
    // The last big ANSI-SQL surface gap the Athena pass-through would
    // accept but the catalog had not exercised: a recursive common table
    // expression. Spark 4's UnionLoop executes it natively (one
    // equi-join per level, frontier-sized intermediate, depth =
    // ⌈log₂ N⌉ ≈ 14 at sf0.1 — never the 100-level guard). The synthetic
    // hierarchy is the implicit binary tree parent(k) = k DIV 2 over
    // contiguous customer keys, so every engine sees the identical
    // edge set with no stored edges needed; each row accumulates its
    // root-to-node path sum in exact cents. At 100 TB the per-level
    // frontier join shuffles on the parent key and the recursion depth
    // stays logarithmic in the key domain — the plan the UNION-ALL
    // unrolled spelling (q132 BFS) builds by hand is produced here by
    // the engine itself.
    "q245_recursive_cte_hierarchy" -> QueryDef(
      (s, dir) => {
        table(s, dir, "customer").createOrReplaceTempView("customer_q245")
        s.sql("""
          WITH RECURSIVE tree AS (
            SELECT c_custkey, 0 AS depth,
                   CAST(floor(c_acctbal * 100) AS BIGINT) AS path_cents
            FROM customer_q245 WHERE c_custkey = 1
            UNION ALL
            SELECT c.c_custkey, t.depth + 1,
                   t.path_cents + CAST(floor(c.c_acctbal * 100) AS BIGINT)
            FROM customer_q245 c JOIN tree t
              ON c.c_custkey DIV 2 = t.c_custkey
            WHERE c.c_custkey > 1
          )
          SELECT depth, count(*) AS n_nodes,
            CAST(min(c_custkey) AS BIGINT) AS min_key,
            CAST(max(c_custkey) AS BIGINT) AS max_key,
            CAST(sum(path_cents) AS BIGINT) AS path_cents
          FROM tree GROUP BY depth ORDER BY depth""")
      },
      Some("""WITH RECURSIVE tree AS (
             |  SELECT c_custkey, 0 AS depth,
             |         CAST(floor(c_acctbal * 100) AS BIGINT) AS path_cents
             |  FROM customer WHERE c_custkey = 1
             |  UNION ALL
             |  SELECT c.c_custkey, t.depth + 1,
             |         t.path_cents + CAST(floor(c.c_acctbal * 100)
             |           AS BIGINT)
             |  FROM customer c JOIN tree t ON c.c_custkey // 2 = t.c_custkey
             |  WHERE c.c_custkey > 1
             |)
             |SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
             |  CAST(min(c_custkey) AS BIGINT) AS min_key,
             |  CAST(max(c_custkey) AS BIGINT) AS max_key,
             |  CAST(sum(path_cents) AS BIGINT) AS path_cents
             |FROM tree GROUP BY depth ORDER BY depth""".stripMargin)),

    // ---- AMS (Alon–Matias–Szegedy) F₂ sketch: self-join size estimate -----
    // The second-moment sketch that estimates self-join size Σ f_k² —
    // the cardinality-estimation primitive joins are costed with — in
    // one constant-width pass: 16 ±1-signed counters (sign = md5 parity
    // of (counter, key), deterministic in both engines), grouped
    // mean-of-4 then median-of-means, estimate-vs-exact error in basis
    // points. The counters are built from the MATERIALIZED distinct-key
    // frequency frame (map-side combine does the heavy lifting; the ×16
    // fan-out touches distinct keys only, never raw rows), so at 100 TB
    // the sketch costs one aggregation plus a distinct-keys × 16
    // map-side explode — no second pass over the fact table, no pair
    // enumeration. Z ≤ total row count → z² ≤ ~4·10¹¹ at sf0.1:
    // int64-exact with 7 orders of headroom.
    "q246_ams_f2_sketch" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val freq = Materialize(table(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("k"))
          .agg(count(lit(1)).as("f")))
        val exact = freq.agg(sum(col("f") * col("f")).as("f2"))
        val counters = freq
          .crossJoin(broadcast(s.range(16).toDF("j")))
          .withColumn("sgn", when(
            graft.functions.TextOps.hash32(concat(lit("ams_"),
              col("j").cast("string"), lit("_"),
              col("k").cast("string"))) % 2 === 0, 1L).otherwise(-1L))
          .groupBy("j").agg(sum(col("sgn") * col("f")).as("z"))
        val grpMeans = counters
          .withColumn("grp", expr("j DIV 4"))
          .groupBy("grp")
          .agg(expr("sum(z * z) DIV 4").as("mean_est"))
        val med = grpMeans
          .agg(array_sort(collect_list(col("mean_est"))).as("ms"))
          .select(expr(
            "(element_at(ms, 2) + element_at(ms, 3)) DIV 2").as("est"))
        grpMeans.crossJoin(broadcast(med)).crossJoin(broadcast(exact))
          .withColumn("err_bp", expr("abs(est - f2) * 10000 DIV f2"))
          .select("grp", "mean_est", "est", "f2", "err_bp")
          .orderBy("grp")
      },
      Some("""WITH f AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT)
             |    AS f FROM lineitem GROUP BY 1),
             |ex AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2 FROM f),
             |c AS (SELECT j, CAST(sum(CASE WHEN
             |      CAST(('0x' || substr(md5('ams_' || j || '_' || k),
             |        1, 8)) AS BIGINT) % 2 = 0 THEN f ELSE -f END)
             |      AS BIGINT) AS z
             |  FROM f CROSS JOIN (SELECT unnest(range(0, 16)) AS j) js
             |  GROUP BY 1),
             |g AS (SELECT j // 4 AS grp,
             |    CAST(sum(z * z) // 4 AS BIGINT) AS mean_est
             |  FROM c GROUP BY 1),
             |med AS (SELECT CAST((ms[2] + ms[3]) // 2 AS BIGINT) AS est
             |  FROM (SELECT list_sort(list(mean_est)) AS ms FROM g))
             |SELECT grp, mean_est, est, f2,
             |  CAST(abs(est - f2) * 10000 // f2 AS BIGINT) AS err_bp
             |FROM g CROSS JOIN med CROSS JOIN ex
             |ORDER BY grp""".stripMargin)),

    // ---- weighted SSSP: bounded-round Bellman-Ford ------------------------
    // Single-source shortest paths on the WEIGHTED co-purchase graph
    // (edge cost 1000 DIV n_ab + 1 — frequently co-bought parts are
    // "closer"), 4 relaxation rounds from the smallest node. Each round
    // is one equi-join of the current distance frame against the
    // distributed edge list plus a min-combine — the textbook distributed
    // Bellman-Ford superstep — with `Materialize.checkpointed` cutting
    // logical lineage between rounds (the q208/q219/q223 lesson: the
    // distance frame is referenced by its own successor). Unreached
    // nodes simply stay absent; 20 nearest (dist, node) reported plus
    // the reached count. At 100 TB the per-round cost is one shuffle on
    // the frontier key — no pair enumeration, no dense matrix.
    "q248_sssp_bellman_ford" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val pc = Materialize(coPairCounts(s, dir, capped = true))
        val e = Materialize(pc
          .select(col("pa").as("u"), col("pb").as("v"),
            expr("1000 DIV n_ab + 1").as("w"))
          .union(pc.select(col("pb"), col("pa"),
            expr("1000 DIV n_ab + 1"))))
        val src = e.agg(min(col("u")).as("node"))
          .select(col("node"), lit(0L).as("d"))
        val d4 = (1 to 4).foldLeft(src) { (dist, _) =>
          Materialize.checkpointed(
            dist.union(
              dist.as("dd").join(e.as("ee"),
                  col("dd.node") === col("ee.u"))
                .select(col("ee.v").as("node"),
                  (col("dd.d") + col("ee.w")).as("d")))
            .groupBy("node").agg(min("d").as("d")))
        }
        val n = d4.agg(count(lit(1)).as("n_reached"))
        d4.crossJoin(broadcast(n))
          .select(col("node"), col("d").as("dist"), col("n_reached"))
          .orderBy("dist", "node").limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |    FROM lineitem WHERE l_partkey < 800),
             |pc AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2),
             |e AS (SELECT pa AS u, pb AS v,
             |    CAST(1000 // n_ab + 1 AS BIGINT) AS w FROM pc
             |  UNION ALL SELECT pb, pa,
             |    CAST(1000 // n_ab + 1 AS BIGINT) FROM pc),
             |d0 AS (SELECT min(u) AS node, CAST(0 AS BIGINT) AS d FROM e),
             |d1 AS (SELECT node, min(d) AS d FROM (
             |  SELECT node, d FROM d0 UNION ALL
             |  SELECT e.v, d0.d + e.w FROM d0 JOIN e ON e.u = d0.node)
             |  GROUP BY 1),
             |d2 AS (SELECT node, min(d) AS d FROM (
             |  SELECT node, d FROM d1 UNION ALL
             |  SELECT e.v, d1.d + e.w FROM d1 JOIN e ON e.u = d1.node)
             |  GROUP BY 1),
             |d3 AS (SELECT node, min(d) AS d FROM (
             |  SELECT node, d FROM d2 UNION ALL
             |  SELECT e.v, d2.d + e.w FROM d2 JOIN e ON e.u = d2.node)
             |  GROUP BY 1),
             |d4 AS (SELECT node, min(d) AS d FROM (
             |  SELECT node, d FROM d3 UNION ALL
             |  SELECT e.v, d3.d + e.w FROM d3 JOIN e ON e.u = d3.node)
             |  GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_reached FROM d4)
             |SELECT node, d AS dist, n_reached FROM d4 CROSS JOIN n
             |ORDER BY dist, node LIMIT 20""".stripMargin)),

    // ---- deterministic random-walk corpus (node2vec-style) ----------------
    // The walk-generation stage graph-embedding training feeds on: 8
    // walks of length 4 from the 8 smallest nodes of the co-purchase
    // graph, each step choosing the neighbor at index
    // hash32("walk_<id>_<step>_<node>") mod degree in the SORTED
    // adjacency list — fully deterministic, so both engines replay the
    // identical trajectories (no RNG anywhere). The adjacency frame is
    // built ONCE (one groupBy into sorted neighbor arrays) and each of
    // the 4 steps is one equi-join of the bounded walk frame against it
    // — at 100 TB that is walks × steps frontier joins against a
    // hash-partitioned adjacency table, the standard shape for
    // distributed walk sampling (DeepWalk/node2vec corpus generation).
    "q250_random_walk_corpus" -> QueryDef(
      (s, dir) => {
        import graft.functions.TextOps.hash32
        val pc = coPairsDistinct(s, dir, capped = true)
        val adj = graft.operators.Materialize(pc
          .select(col("pa").as("u"), col("pb").as("v"))
          .union(pc.select(col("pb"), col("pa")))
          .groupBy("u").agg(array_sort(collect_set("v")).as("nbrs")))
        val seeds = adj.orderBy("u").limit(8)
          .select(row_number().over(Window.orderBy("u")).cast("long")
              .as("walk_id"),
            col("u").as("node"))
          .select(col("walk_id"), lit(0).as("step"), col("node"))
        // frontier chain: each step's frame is lineage-cut and referenced
        // exactly once (the loop rule) — the trajectory is the union of
        // the per-step frontiers, not a self-referencing accumulator
        val frontiers = Seq.newBuilder[DataFrame]
        frontiers += seeds
        var cur = seeds
        for (step <- 1 to 4) {
          cur = graft.operators.Materialize.checkpointed(
            cur.join(adj, cur("node") === adj("u"))
              .withColumn("idx", hash32(concat(lit("walk_"),
                col("walk_id").cast("string"), lit(s"_${step}_"),
                col("node").cast("string")))
                % size(col("nbrs")))
              .select(col("walk_id"), lit(step).as("step"),
                element_at(col("nbrs"), col("idx").cast("int") + 1)
                  .as("node")))
          frontiers += cur
        }
        frontiers.result().reduce(_ union _)
          .select(col("walk_id"), col("step").cast("long").as("step"),
            col("node"))
          .orderBy("walk_id", "step")
      },
      Some {
        def step(r: Int, prev: String): String =
          s"""s$r AS (SELECT walk_id, $r AS step,
             |    nbrs[CAST(CAST(('0x' ${"||"} substr(md5(concat('walk_',
             |      walk_id, '_${r}_', node)), 1, 8)) AS BIGINT)
             |      % len(nbrs) AS INT) + 1] AS node
             |  FROM $prev w JOIN adj ON adj.u = w.node),""".stripMargin
        s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           |    FROM lineitem WHERE l_partkey < 800),
           |pc AS (SELECT a.pk AS pa, b.pk AS pb
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
           |ed AS (SELECT DISTINCT pa AS u, pb AS v FROM pc
           |  UNION SELECT pb, pa FROM pc),
           |adj AS (SELECT u, list(v ORDER BY v) AS nbrs
           |  FROM ed GROUP BY 1),
           |seeds AS (SELECT CAST(row_number() OVER (ORDER BY u)
           |      AS BIGINT) AS walk_id, 0 AS step, u AS node
           |  FROM (SELECT u FROM adj ORDER BY u LIMIT 8)),
           |${step(1, "seeds")}
           |${step(2, "s1")}
           |${step(3, "s2")}
           |${step(4, "s3")}
           |w AS (SELECT * FROM seeds UNION ALL SELECT * FROM s1
           |  UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
           |  UNION ALL SELECT * FROM s4)
           |SELECT walk_id, CAST(step AS BIGINT) AS step, node
           |FROM w ORDER BY walk_id, step""".stripMargin
      }),

    // ---- community modularity audit ---------------------------------------
    // Newman modularity Q = Σ_c [m_c/m − (d_c/2m)²] of the
    // connected-component partition of the co-purchase graph — the
    // quality score community detection is judged by. Communities come
    // from the production ConnectedComponents operator; per community
    // one edge-side semi-aggregation (edges already join endpoints of
    // the same component, so m_c is the component's edge count) and one
    // degree rollup. The contribution is reported in exact micro units
    // via two truncating non-negative divisions — no floats, no
    // engine drift. At 100 TB: CC is the iterative stage (hash-min, the
    // q48/q166 machinery); the modularity pass itself is two linear
    // aggregations. Bounds: d_c ≤ 2m; d_c²·10⁶ ≤ 4m²·10⁶ —
    // int64-exact to m ≈ 1.5·10⁶ edges per component-bearing subgraph,
    // documented alongside the bounded-subgraph cut.
    "q254_community_modularity" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        // the >= 2 co-occurrence support cut keeps only repeated
        // co-purchases — the single-support halo merges everything into
        // one giant component and makes the partition (and Q) vacuous
        val pairs = Materialize(coPairCounts(s, dir, capped = true)
          .filter(col("n_ab") >= 2).select("pa", "pb"))
        val comp = Materialize(graft.operators.ConnectedComponents
          .minLabel(pairs.select(col("pa").as("doc_a"),
            col("pb").as("doc_b"))))
        val m = pairs.agg(count(lit(1)).as("m"))
        val mc = pairs.join(comp.select(col("doc").as("pa"),
            col("label").as("community")), "pa")
          .groupBy("community").agg(count(lit(1)).as("m_c"))
        val deg = pairs.select(col("pa").as("node"))
          .union(pairs.select(col("pb")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val dc = deg.join(comp.select(col("doc").as("node"),
            col("label").as("community")), "node")
          .groupBy("community").agg(sum("deg").as("d_c"),
            count(lit(1)).as("n_nodes"))
        mc.join(dc, "community").crossJoin(broadcast(m))
          .select(col("community"), col("n_nodes"), col("m_c"),
            col("d_c"),
            (expr("m_c * 1000000 DIV m") -
              expr("d_c * d_c * 1000000 DIV (4 * m * m)"))
              .as("q_contrib_micro"))
          .orderBy("community")
      },
      Some("""WITH RECURSIVE
             |li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |    FROM lineitem WHERE l_partkey < 800),
             |pairs AS (SELECT a.pk AS pa, b.pk AS pb
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |edges AS (SELECT pa AS a, pb AS b FROM pairs
             |  UNION ALL SELECT pb, pa FROM pairs),
             |nodes AS (SELECT DISTINCT a AS node FROM edges),
             |reach AS (SELECT node, node AS r FROM nodes
             |  UNION
             |  SELECT e.b AS node, reach.r FROM reach JOIN edges e
             |    ON e.a = reach.node),
             |comp AS (SELECT node, min(r) AS community FROM reach
             |  GROUP BY 1),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
             |mc AS (SELECT community, CAST(count(*) AS BIGINT) AS m_c
             |  FROM pairs JOIN comp ON comp.node = pairs.pa
             |  GROUP BY 1),
             |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
             |  FROM edges GROUP BY 1),
             |dc AS (SELECT community, CAST(sum(deg) AS BIGINT) AS d_c,
             |    CAST(count(*) AS BIGINT) AS n_nodes
             |  FROM deg JOIN comp ON comp.node = deg.node
             |  GROUP BY 1)
             |SELECT mc.community, n_nodes, m_c, d_c,
             |  CAST(m_c * 1000000 // m
             |    - d_c * d_c * 1000000 // (4 * m * m) AS BIGINT)
             |    AS q_contrib_micro
             |FROM mc JOIN dc ON mc.community = dc.community
             |CROSS JOIN m ORDER BY mc.community""".stripMargin)),

    // ---- degree assortativity ---------------------------------------------
    // Pearson correlation of endpoint degrees over the directed edge
    // list (both directions — the standard undirected convention): do
    // high-degree parts co-occur with high-degree parts? The moments
    // (n, Σx, Σxy, Σx², and the x=y symmetry) are EXACT integers both
    // engines hash-match; only the final r is a double, rounded to 4dp
    // on both sides (the q133 cosine discipline). One degree rollup +
    // one endpoint join — linear in edges at any scale.
    "q255_degree_assortativity" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val pairs = Materialize(coPairsDistinct(s, dir, capped = true))
        val deg = Materialize(pairs.select(col("pa").as("node"))
          .union(pairs.select(col("pb")))
          .groupBy("node").agg(count(lit(1)).as("deg")))
        val e = pairs.select(col("pa").as("u"), col("pb").as("v"))
          .union(pairs.select(col("pb"), col("pa")))
        val j = e
          .join(deg.select(col("node").as("u"), col("deg").as("dx")), "u")
          .join(deg.select(col("node").as("v"), col("deg").as("dy")), "v")
        j.agg(count(lit(1)).as("n_dir_edges"),
            sum("dx").as("sx"), sum(expr("dx * dy")).as("sxy"),
            sum(expr("dx * dx")).as("sx2"))
          .withColumn("r", round(
            (col("n_dir_edges") * col("sxy") - col("sx") * col("sx")) /
              (col("n_dir_edges") * col("sx2") - col("sx") * col("sx")),
            4))
          .select("n_dir_edges", "sx", "sxy", "sx2", "r")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
             |    l_partkey AS pk
             |  FROM lineitem WHERE l_partkey < 800),
             |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
             |e AS (SELECT pa AS u, pb AS v FROM pairs
             |  UNION ALL SELECT pb, pa FROM pairs),
             |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
             |  FROM e GROUP BY 1),
             |j AS (SELECT du.deg AS dx, dv.deg AS dy FROM e
             |  JOIN deg du ON du.node = e.u
             |  JOIN deg dv ON dv.node = e.v)
             |SELECT CAST(count(*) AS BIGINT) AS n_dir_edges,
             |  CAST(sum(dx) AS BIGINT) AS sx,
             |  CAST(sum(dx * dy) AS BIGINT) AS sxy,
             |  CAST(sum(dx * dx) AS BIGINT) AS sx2,
             |  round((count(*) * sum(dx * dy) - sum(dx) * sum(dx))
             |    / (count(*) * sum(dx * dx) - sum(dx) * sum(dx)) * 1.0,
             |    4) AS r
             |FROM j""".stripMargin)),

    // ---- join-cardinality estimation audit --------------------------------
    // The System-R estimate every cost-based join reorder rests on —
    // |R ⋈ S| ≈ |R|·|S| / max(d_R, d_S) (uniformity + containment) —
    // audited against the EXACT join size Σ_k f_R(k)·f_S(k) for the
    // schema's three fact-dimension joins. Both numbers come from the
    // per-key frequency frames (one groupBy per side, then a key
    // equi-join of the two count frames — never the join itself), so
    // the audit costs a fraction of the joins it prices. Exact
    // integers throughout; error in bp. This is the q246 AMS sketch's
    // ground-truth counterpart: together they bracket what a planner
    // can know cheaply.
    "q256_join_estimate_audit" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        def audit(nm: String, r: DataFrame, rk: String,
            t: DataFrame, tk: String): DataFrame = {
          // each frequency frame feeds BOTH the totals rollup and the
          // exact-join branch — materialize so each base table is
          // scanned exactly once per audit
          val fR = Materialize(r.groupBy(col(rk).as("k"))
            .agg(count(lit(1)).as("nr")))
          val fS = Materialize(t.groupBy(col(tk).as("k"))
            .agg(count(lit(1)).as("ns")))
          val sR = fR.agg(sum("nr").as("n_left"),
            count(lit(1)).as("d_left"))
          val sS = fS.agg(sum("ns").as("n_right"),
            count(lit(1)).as("d_right"))
          val ex = fR.join(fS, "k")
            .agg(coalesce(sum(expr("nr * ns")), lit(0L))
              .as("exact_rows"))
          sR.crossJoin(broadcast(sS)).crossJoin(broadcast(ex))
            .select(lit(nm).as("join_name"),
              col("n_left"), col("d_left"), col("n_right"),
              col("d_right"), col("exact_rows"),
              expr("n_left * n_right DIV greatest(d_left, d_right)")
                .as("est_rows"))
            .withColumn("err_bp", expr(
              "abs(est_rows - exact_rows) * 10000 DIV exact_rows"))
        }
        audit("li_orders", table(s, dir, "lineitem"), "l_orderkey",
            table(s, dir, "orders"), "o_orderkey")
          .union(audit("li_part", table(s, dir, "lineitem"), "l_partkey",
            table(s, dir, "part"), "p_partkey"))
          .union(audit("orders_cust", table(s, dir, "orders"),
            "o_custkey", table(s, dir, "customer"), "c_custkey"))
          .orderBy("join_name")
      },
      Some {
        def one(nm: String, r: String, rk: String, t: String,
            tk: String): String =
          s"""SELECT '$nm' AS join_name, n_left, d_left, n_right,
             |  d_right, exact_rows,
             |  CAST(n_left * n_right // greatest(d_left, d_right)
             |    AS BIGINT) AS est_rows,
             |  CAST(abs(n_left * n_right // greatest(d_left, d_right)
             |    - exact_rows) * 10000 // exact_rows AS BIGINT) AS err_bp
             |FROM
             |  (SELECT CAST(sum(nr) AS BIGINT) AS n_left,
             |     CAST(count(*) AS BIGINT) AS d_left FROM
             |     (SELECT $rk, count(*) AS nr FROM $r GROUP BY 1)),
             |  (SELECT CAST(sum(ns) AS BIGINT) AS n_right,
             |     CAST(count(*) AS BIGINT) AS d_right FROM
             |     (SELECT $tk, count(*) AS ns FROM $t GROUP BY 1)),
             |  (SELECT CAST(coalesce(sum(nr * ns), 0) AS BIGINT)
             |     AS exact_rows FROM
             |     (SELECT $rk AS k, count(*) AS nr FROM $r GROUP BY 1) a
             |     JOIN (SELECT $tk AS k, count(*) AS ns FROM $t
             |       GROUP BY 1) b USING (k))""".stripMargin
        one("li_orders", "lineitem", "l_orderkey", "orders",
          "o_orderkey") +
          "\nUNION ALL\n" +
          one("li_part", "lineitem", "l_partkey", "part", "p_partkey") +
          "\nUNION ALL\n" +
          one("orders_cust", "orders", "o_custkey", "customer",
            "c_custkey") +
          "\nORDER BY join_name"
      }),

    // ---- local clustering coefficient -------------------------------------
    // Per-node transitivity — the graph feature link-prediction and
    // community models consume: lcc(v) = 2·t(v) / (deg(v)·(deg(v)−1))
    // with t(v) counted through the wedge join (edges e1 ⋈ e2 on the
    // shared endpoint, u < v kills the double count) intersected with
    // the edge set — the q124 triangle machinery extended from one
    // global count to a per-node profile. Σ_incident c_uv = 2·t(v)
    // exactly (each triangle at v touches two incident edges), so lcc
    // lands in exact bp with no floats. Wedge enumeration is Σ deg² —
    // bounded here by the subgraph cut; at corpus scale the standard
    // hub-cap/sampling applies before this operator, not inside it.
    "q257_local_clustering" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val pairs = Materialize(coPairsDistinct(s, dir, capped = true))
        val ed = Materialize(
          pairs.select(col("pa").as("a"), col("pb").as("b"))
            .union(pairs.select(col("pb"), col("pa"))))
        val wedges = ed.as("e1").join(ed.as("e2"),
            col("e1.b") === col("e2.b") && col("e1.a") < col("e2.a"))
          .groupBy(col("e1.a").as("u"), col("e2.a").as("v"))
          .agg(count(lit(1)).as("c"))
        val onEdges = wedges.join(pairs,
          col("u") === col("pa") && col("v") === col("pb"))
        val s2t = onEdges.select(col("u").as("node"), col("c"))
          .union(onEdges.select(col("v"), col("c")))
          .groupBy("node").agg(sum("c").as("s2t"))
        val deg = ed.groupBy(col("a").as("node"))
          .agg(count(lit(1)).as("deg"))
        deg.join(s2t, Seq("node"), "left")
          .filter(col("deg") >= 2)
          .select(col("node"), col("deg"),
            expr("coalesce(s2t, 0) DIV 2").as("triangles"),
            expr("coalesce(s2t, 0) * 10000 DIV (deg * (deg - 1))")
              .as("lcc_bp"))
          .orderBy(desc("lcc_bp"), col("node")).limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok,
             |    l_partkey AS pk
             |  FROM lineitem WHERE l_partkey < 800),
             |pairs AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb
             |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
             |ed AS (SELECT pa AS a, pb AS b FROM pairs
             |  UNION ALL SELECT pb, pa FROM pairs),
             |wedges AS (SELECT e1.a AS u, e2.a AS v,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM ed e1 JOIN ed e2
             |    ON e1.b = e2.b AND e1.a < e2.a
             |  GROUP BY 1, 2),
             |oe AS (SELECT u, v, c FROM wedges
             |  JOIN pairs ON u = pa AND v = pb),
             |s2t AS (SELECT node, CAST(sum(c) AS BIGINT) AS s2t FROM (
             |    SELECT u AS node, c FROM oe
             |    UNION ALL SELECT v, c FROM oe)
             |  GROUP BY 1),
             |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
             |  FROM ed GROUP BY 1)
             |SELECT deg.node, deg,
             |  CAST(coalesce(s2t, 0) // 2 AS BIGINT) AS triangles,
             |  CAST(coalesce(s2t, 0) * 10000 // (deg * (deg - 1))
             |    AS BIGINT) AS lcc_bp
             |FROM deg LEFT JOIN s2t ON deg.node = s2t.node
             |WHERE deg >= 2
             |ORDER BY lcc_bp DESC, deg.node LIMIT 20""".stripMargin)),

    // ---- conjunctive-selectivity independence audit -----------------------
    // The other half of the q256 planner audit: cost models multiply
    // per-predicate selectivities (attribute-value independence); this
    // measures the REAL error of that assumption on one pair of
    // independent predicates (quantity, discount) and one correlated
    // pair (quantity, extendedprice = quantity·unitprice — structurally
    // dependent). ONE scan: every marginal and joint count is a
    // conditional sum in a single aggregation; `stack` reshapes the
    // 1-row frame into the two audit rows without touching the table
    // again. c1·c2 ≤ n² keeps int64 exact past sf100 (n ≈ 6·10⁸).
    "q258_selectivity_independence_audit" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val li = table(s, dir, "lineitem")
        val agg = Materialize(li.agg(
          count(lit(1)).as("n"),
          sum(when(col("l_quantity") < 25, 1L).otherwise(0L)).as("cq"),
          sum(when(col("l_discount") >= 0.05, 1L).otherwise(0L)).as("cd"),
          sum(when(col("l_extendedprice") > 30000, 1L).otherwise(0L))
            .as("cp"),
          sum(when(col("l_quantity") < 25 && col("l_discount") >= 0.05,
            1L).otherwise(0L)).as("cqd"),
          sum(when(col("l_quantity") < 25 &&
            col("l_extendedprice") > 30000, 1L).otherwise(0L)).as("cqp")))
        agg.select(col("n"), expr(
            "stack(2, 'qty_disc', cq, cd, cqd, 'qty_price', cq, cp, cqp)")
            .as(Seq("pred_pair", "c1", "c2", "exact_rows")))
          .select(col("pred_pair"), col("n"), col("c1"), col("c2"),
            col("exact_rows"),
            expr("c1 * c2 DIV n").as("est_rows"))
          .withColumn("err_bp",
            expr("abs(est_rows - exact_rows) * 10000 DIV exact_rows"))
          .orderBy("pred_pair")
      },
      Some("""WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN l_quantity < 25 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS cq,
             |  CAST(sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS cd,
             |  CAST(sum(CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0
             |    END) AS BIGINT) AS cp,
             |  CAST(sum(CASE WHEN l_quantity < 25 AND l_discount >= 0.05
             |    THEN 1 ELSE 0 END) AS BIGINT) AS cqd,
             |  CAST(sum(CASE WHEN l_quantity < 25 AND
             |    l_extendedprice > 30000 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS cqp
             |  FROM lineitem),
             |st AS (
             |  SELECT 'qty_disc' AS pred_pair, n, cq AS c1, cd AS c2,
             |    cqd AS exact_rows FROM a
             |  UNION ALL
             |  SELECT 'qty_price', n, cq, cp, cqp FROM a)
             |SELECT pred_pair, n, c1, c2, exact_rows,
             |  CAST(c1 * c2 // n AS BIGINT) AS est_rows,
             |  CAST(abs(c1 * c2 // n - exact_rows) * 10000 // exact_rows
             |    AS BIGINT) AS err_bp
             |FROM st ORDER BY pred_pair""".stripMargin)),

    // ---- equi-depth histogram selectivity audit ---------------------------
    // Completes the planner-audit triple (q246 sketch, q256 join size,
    // q258 independence): a 16-bucket equi-depth histogram on
    // extendedprice (exact cents — round·100 is the same IEEE op in
    // both engines) priced against three range predicates, estimate =
    // full buckets + uniform-interpolated partial buckets, vs the exact
    // count from the SAME materialized value-frequency frame (the
    // corpus is scanned exactly once; the frame is value-COMPRESSED, so
    // the ordering window runs over distinct values, not rows — at
    // 100 TB pre-bucket values to fixed granularity first, the same
    // compression lever). Bucket of a value = cum_before·16 DIV n:
    // heavy values stay whole (compressed histogram), boundaries are
    // deterministic with no row-level tie-break needed.
    "q259_histogram_selectivity_audit" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val pv = Materialize(table(s, dir, "lineitem")
          .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            .as("v"))
          .groupBy("v").agg(count(lit(1)).as("c")))
        val tot = pv.agg(sum("c").as("n"))
        val w = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val hist = pv
          .withColumn("cumb", sum("c").over(w) - col("c"))
          .crossJoin(broadcast(tot))
          .withColumn("bucket", expr("cumb * 16 DIV n"))
          .groupBy("bucket")
          .agg(min("v").as("bmin"), max("v").as("bmax"),
            sum("c").as("bcnt"))
        val ranges = Seq(
          ("r1_low", 500000L, 2000000L),
          ("r2_mid", 2000000L, 4000000L),
          ("r3_high", 7000000L, 10500000L))
        val rframe = s.createDataFrame(ranges)
          .toDF("range_name", "lo", "hi")
        val est = hist.crossJoin(broadcast(rframe))
          .withColumn("covered", greatest(lit(0L),
            least(col("hi") - 1, col("bmax")) -
              greatest(col("lo"), col("bmin")) + 1))
          .groupBy("range_name", "lo", "hi")
          .agg(sum(expr("bcnt * covered DIV (bmax - bmin + 1)"))
            .as("est_rows"))
        val exact = pv.crossJoin(broadcast(rframe))
          .filter(col("v") >= col("lo") && col("v") < col("hi"))
          .groupBy("range_name")
          .agg(coalesce(sum("c"), lit(0L)).as("exact_rows"))
        est.join(exact, Seq("range_name"))
          .select(col("range_name"), col("lo"), col("hi"),
            col("exact_rows"), col("est_rows"),
            expr("abs(est_rows - exact_rows) * 10000 DIV exact_rows")
              .as("err_bp"))
          .orderBy("range_name")
      },
      Some("""WITH pv AS (SELECT CAST(round(l_extendedprice * 100)
             |    AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pv),
             |cums AS (SELECT v, c,
             |    CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) - c AS BIGINT) AS cumb
             |  FROM pv),
             |hist AS (SELECT cumb * 16 // n AS bucket,
             |    CAST(min(v) AS BIGINT) AS bmin,
             |    CAST(max(v) AS BIGINT) AS bmax,
             |    CAST(sum(c) AS BIGINT) AS bcnt
             |  FROM cums CROSS JOIN tot GROUP BY 1),
             |rg AS (SELECT * FROM (VALUES
             |    ('r1_low', CAST(500000 AS BIGINT),
             |      CAST(2000000 AS BIGINT)),
             |    ('r2_mid', 2000000, 4000000),
             |    ('r3_high', 7000000, 10500000))
             |    AS t(range_name, lo, hi)),
             |est AS (SELECT range_name, lo, hi,
             |    CAST(sum(bcnt * greatest(0, least(hi - 1, bmax)
             |      - greatest(lo, bmin) + 1) // (bmax - bmin + 1))
             |      AS BIGINT) AS est_rows
             |  FROM hist CROSS JOIN rg GROUP BY 1, 2, 3),
             |ex AS (SELECT range_name,
             |    CAST(coalesce(sum(c), 0) AS BIGINT) AS exact_rows
             |  FROM pv CROSS JOIN rg
             |  WHERE v >= lo AND v < hi GROUP BY 1)
             |SELECT range_name, lo, hi, exact_rows, est_rows,
             |  CAST(abs(est_rows - exact_rows) * 10000 // exact_rows
             |    AS BIGINT) AS err_bp
             |FROM est JOIN ex USING (range_name)
             |ORDER BY range_name""".stripMargin)),

    // ---- VARIANT shredding ------------------------------------------------
    // Spark 4's semi-structured VARIANT path: `parse_json` once into the
    // binary variant encoding, then typed `variant_get` extraction — the
    // engine surface that replaces repeated string re-parsing when event
    // payloads are read by many consumers. At 100 TB the win is
    // structural: the variant parse happens once per row in a
    // codegen'd projection and every downstream extraction is a typed
    // binary probe, not a JSON string scan. `try_variant_get` on a
    // missing path documents the null-not-error contract (A8's
    // null-on-error rule applied to the semi-structured column).
    "q264_variant_shred" -> QueryDef(
      (s, dir) =>
        table(s, dir, "events")
          .select(col("event_type"), expr("parse_json(props)").as("v"))
          .select(col("event_type"),
            expr("variant_get(v, '$.k', 'bigint')").as("k"),
            expr("try_variant_get(v, '$.missing', 'bigint')")
              .as("miss"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum("k").as("k_sum"),
            min("k").as("k_min"), max("k").as("k_max"),
            sum(when(col("miss").isNull, 1L).otherwise(0L))
              .as("n_missing"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT)
             |    AS k_sum,
             |  CAST(min(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT)
             |    AS k_min,
             |  CAST(max(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT)
             |    AS k_max,
             |  CAST(sum(CASE WHEN props ->> '$.missing' IS NULL
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- SQL pipe syntax --------------------------------------------------
    // The |> operator-chain SQL surface (Spark 4 / GoogleSQL pipe
    // syntax): the same logical plan as the equivalent nested SELECT —
    // Catalyst parses pipes into ordinary operators, so pushdown,
    // codegen, and AQE all apply unchanged. Verified against the plain
    // ANSI spelling in DuckDB; covers WHERE → AGGREGATE/GROUP BY →
    // post-aggregation WHERE (pipe HAVING) → ORDER BY.
    "q265_pipe_syntax_sql" -> QueryDef(
      (s, dir) => {
        table(s, dir, "lineitem").createOrReplaceTempView("lineitem_pv")
        s.sql("""FROM lineitem_pv
                !|> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
                !|> AGGREGATE count(*) AS n,
                !     CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                !       AS qty,
                !     round(sum(l_extendedprice), 2) AS revenue
                !   GROUP BY l_returnflag, l_linestatus
                !|> WHERE n > 100
                !|> ORDER BY l_returnflag, l_linestatus"""
          .stripMargin('!'))
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             |  round(sum(l_extendedprice), 2) AS revenue
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus HAVING count(*) > 100
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- HyperLogLog register audit (Flajolet et al. 2007) ----------------
    // The from-scratch counterpart of `approx_count_distinct`: a 60-bit
    // md5 hash per key, split into a b-bit register index and a
    // (60-b)-bit suffix whose leading-zero rank feeds the register max;
    // the harmonic-mean estimate is computed EXACTLY in integers by
    // scaling Σ 2^(-M_j) by 2^(R+1) (one int64 shiftleft per register
    // — no float pow anywhere), with alpha in 1e-3 fixed point and the
    // final divide in DECIMAL(38,0)/HUGEINT. Three precisions
    // b ∈ {4,6,8} are audited side by side against the exact distinct
    // count — the register-budget/error trade the q269 CMS width audit
    // makes for frequency sketches, made here for cardinality. Scale
    // shape: keys are reduced to the DISTINCT-key frame first (map-side
    // combine on the corpus scan); the ×3 precision fan-out and the
    // register rollup touch only that frame, and the register frames
    // themselves are 2^b rows — driver-trivial at any corpus size.
    // rho uses length(bin(suffix)) — bin() has no leading zeros in
    // either engine, so R+1-length is the leading-zero rank, exact.
    "q273_hll_register_audit" -> QueryDef(
      (s, dir) => {
        val keys = graft.operators.Materialize(
          table(s, dir, "lineitem").select(col("l_partkey")).distinct()
            .withColumn("h", expr(
              "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15)" +
                ", 16, 10) AS BIGINT)")))
        val ms = Seq(4, 6, 8).map { b =>
          val m = 1 << b; val r = 60 - b
          keys
            .withColumn("b", lit(b)).withColumn("m", lit(m.toLong))
            .withColumn("reg", expr(s"h % $m"))
            .withColumn("sfx", expr(s"h DIV $m"))
            .withColumn("rho", expr(
              s"CASE WHEN sfx = 0 THEN ${r + 1}L " +
                s"ELSE ${r + 1}L - length(bin(sfx)) END"))
        }.reduce(_.unionAll(_))
        val regs = ms.groupBy("b", "m", "reg")
          .agg(max("rho").as("mx"))
        // registers never hit stay 0 → contribute 2^(R+1); emit them by
        // closing the count gap arithmetically (m - hit registers).
        val agg = regs.groupBy("b", "m")
          .agg(count(lit(1)).as("n_hit"),
            sum(expr("shiftleft(CAST(1 AS BIGINT), " +
              "(60 - b + 1) - CAST(mx AS INT))")).as("s_hit"))
          .withColumn("v_empty", col("m") - col("n_hit"))
          .withColumn("s_scaled", expr(
            "s_hit + v_empty * shiftleft(CAST(1 AS BIGINT), 60 - b + 1)"))
          .withColumn("alpha1000", expr(
            "CASE b WHEN 4 THEN 673L WHEN 6 THEN 709L ELSE 718L END"))
          .withColumn("est", expr(
            "CAST(CAST(alpha1000 AS DECIMAL(38,0)) * m * m * " +
              "shiftleft(CAST(1 AS BIGINT), 60 - b + 1) DIV " +
              "(1000 * CAST(s_scaled AS DECIMAL(38,0))) AS BIGINT)"))
        val exact = keys.agg(count(lit(1)).as("exact"))
        agg.join(broadcast(exact))
          .withColumn("err_bp",
            expr("abs(est - exact) * 10000 DIV exact"))
          .select(col("b").cast("long").as("b"), col("m"),
            col("n_hit"), col("v_empty"), col("est"), col("exact"),
            col("err_bp"))
          .orderBy("b")
      },
      Some("""WITH k AS (SELECT DISTINCT l_partkey FROM lineitem),
             |h AS (SELECT CAST(('0x' ||
             |      substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
             |      AS BIGINT) AS h
             |  FROM k),
             |prec AS (SELECT unnest([4, 6, 8]) AS b),
             |x AS (SELECT b, CAST(1 << b AS BIGINT) AS m,
             |    h % (1 << b) AS reg, h // (1 << b) AS sfx
             |  FROM h CROSS JOIN prec),
             |rho AS (SELECT b, m, reg,
             |    CASE WHEN sfx = 0 THEN 60 - b + 1
             |      ELSE 60 - b + 1 - length(bin(sfx)) END AS rho
             |  FROM x),
             |regs AS (SELECT b, m, reg, max(rho) AS mx
             |  FROM rho GROUP BY 1, 2, 3),
             |agg AS (SELECT b, m,
             |    CAST(count(*) AS BIGINT) AS n_hit,
             |    CAST(sum(1::BIGINT << (60 - b + 1 - CAST(mx AS INT)))
             |      AS BIGINT) AS s_hit
             |  FROM regs GROUP BY 1, 2),
             |a2 AS (SELECT *, m - n_hit AS v_empty,
             |    s_hit + (m - n_hit) * (1::BIGINT << (60 - b + 1))
             |      AS s_scaled,
             |    CASE b WHEN 4 THEN 673 WHEN 6 THEN 709
             |      ELSE 718 END AS alpha1000
             |  FROM agg),
             |e AS (SELECT *, CAST(CAST(alpha1000 AS HUGEINT) * m * m *
             |      (1::BIGINT << (60 - b + 1)) //
             |      (1000 * CAST(s_scaled AS HUGEINT)) AS BIGINT) AS est
             |  FROM a2),
             |exact AS (SELECT CAST(count(*) AS BIGINT) AS exact FROM k)
             |SELECT CAST(b AS BIGINT) AS b, m, n_hit, v_empty, est,
             |  exact,
             |  CAST(abs(est - exact) * 10000 // exact AS BIGINT)
             |    AS err_bp
             |FROM e CROSS JOIN exact ORDER BY b""".stripMargin)),

    // ---- SCD type-2 dimension build from a change feed --------------------
    // The slowly-changing-dimension pattern every warehouse ingest needs:
    // the events stream is read as a CDC feed of per-user state changes
    // (state = event_type), collapsed to VERSIONS — a new version opens
    // whenever the state differs from the user's previous event (lag),
    // closes at the next version's open (lead), and the last version per
    // user is current. All window work partitions by user_id (parallel,
    // co-located after one shuffle); durations are exact epoch seconds.
    // Output is the per-bucket rollup of the version table — bounded,
    // deterministic, and sensitive to every boundary rule above (a
    // misplaced lag/lead or tie-break shifts version counts and
    // durations). Tie-break within identical ts: event_id, pinned on
    // both engines.
    "q277_scd2_dimension" -> QueryDef(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = table(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
        val ver = ev
          .withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNull ||
            col("prev") =!= col("event_type"))
        val vw = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val dim = ver
          .withColumn("eff_from", col("ts"))
          .withColumn("eff_to", lead("ts", 1).over(vw))
          .withColumn("is_current",
            when(col("eff_to").isNull, 1L).otherwise(0L))
          .withColumn("dur_s", when(col("eff_to").isNotNull,
            unix_timestamp(col("eff_to")) -
              unix_timestamp(col("eff_from"))).otherwise(0L))
        dim.groupBy(expr("user_id % 16").as("bucket"))
          .agg(countDistinct("user_id").as("n_users"),
            count(lit(1)).as("n_versions"),
            sum("is_current").as("n_current"),
            max("dur_s").as("max_dur_s"),
            sum("dur_s").as("sum_dur_s"))
          .orderBy("bucket")
      },
      Some("""WITH ev AS (SELECT user_id, ts, event_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev
             |  FROM events),
             |ver AS (SELECT user_id, ts, event_id, event_type
             |  FROM ev WHERE prev IS NULL OR prev <> event_type),
             |dim AS (SELECT user_id, ts AS eff_from,
             |    lead(ts) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS eff_to
             |  FROM ver),
             |d2 AS (SELECT user_id,
             |    CASE WHEN eff_to IS NULL THEN 1 ELSE 0 END AS is_current,
             |    CASE WHEN eff_to IS NOT NULL
             |      THEN CAST(floor(epoch(eff_to)) AS BIGINT)
             |         - CAST(floor(epoch(eff_from)) AS BIGINT)
             |      ELSE 0 END AS dur_s
             |  FROM dim)
             |SELECT user_id % 16 AS bucket,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  CAST(count(*) AS BIGINT) AS n_versions,
             |  CAST(sum(is_current) AS BIGINT) AS n_current,
             |  CAST(max(dur_s) AS BIGINT) AS max_dur_s,
             |  CAST(sum(dur_s) AS BIGINT) AS sum_dur_s
             |FROM d2 GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- 2-D skyline (Pareto frontier) ------------------------------------
    // The multi-objective selection operator: parts minimizing retail
    // price while maximizing size — a part is on the skyline iff no
    // other part is ≤ price AND ≥ size with at least one strict. The
    // naive spelling is the O(N²) dominance self-join; this one never
    // builds it: compress to the distinct (price, size) frame, reduce
    // each price level to its max size (per-level groupBy), take the
    // running max over STRICTLY cheaper levels (1-preceding window on
    // the compressed frame — |levels| rows, not |parts|), and a pair
    // survives iff it is its level's max AND beats every cheaper
    // level's max. Equal (price, size) duplicates all survive
    // (dominance requires a strict edge), which the equi-join back to
    // parts preserves. The replay spec runs the brute-force O(N²)
    // definition — two different algorithms, one answer.
    "q278_skyline_pareto" -> QueryDef(
      (s, dir) => {
        val parts = table(s, dir, "part")
          .select(col("p_partkey"),
            expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_c"),
            col("p_size").cast("long").as("size"))
        val lvl = parts.groupBy("price_c").agg(max("size").as("mx"))
        val cum = lvl.withColumn("cmax_prev",
          coalesce(max("mx").over(Window.orderBy("price_c")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(-1L)))
        val sky = cum.filter(col("mx") > col("cmax_prev"))
          .select(col("price_c"), col("mx").as("size"))
        parts.join(sky, Seq("price_c", "size"))
          .select(col("p_partkey"), col("price_c"), col("size"))
          .orderBy("price_c", "p_partkey")
      },
      Some("""WITH p AS (SELECT p_partkey,
             |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
             |    CAST(p_size AS BIGINT) AS size
             |  FROM part),
             |lvl AS (SELECT price_c, max(size) AS mx
             |  FROM p GROUP BY 1),
             |cum AS (SELECT price_c, mx,
             |    COALESCE(max(mx) OVER (ORDER BY price_c
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      -1) AS cmax_prev
             |  FROM lvl),
             |sky AS (SELECT price_c, mx AS size FROM cum
             |  WHERE mx > cmax_prev)
             |SELECT p.p_partkey, p.price_c, p.size
             |FROM p JOIN sky ON p.price_c = sky.price_c
             |  AND p.size = sky.size
             |ORDER BY p.price_c, p.p_partkey""".stripMargin)),

    // ---- zone-map (min/max data-skipping) pruning audit -------------------
    // The lakehouse data-LAYOUT decision, priced: parquet/iceberg scan
    // pruning works off per-file min/max zones, and its effectiveness
    // is entirely a function of how rows were clustered at write time.
    // Two layouts of orders are audited against the same one-month
    // predicate — 'natural' (files cut by insertion order, i.e.
    // o_orderkey) and 'clustered' (files cut after sorting by
    // o_orderdate, what a sort-on-write job produces). For each: files
    // whose zone intersects the range (what the scanner must read),
    // files actually containing matches (hits), false-positive files,
    // rows scanned vs matching, and pruned_bp. Everything computes on
    // the per-FILE zone frame (|files| rows); the clustered layout's
    // global sort stands in for the one-time write-side cluster job.
    // At 100 TB this audit is how you choose the table's sort key.
    "q282_zonemap_pruning_audit" -> QueryDef(
      (s, dir) => {
        val lo = "TIMESTAMP '1996-03-01 00:00:00'"
        val hi = "TIMESTAMP '1996-04-01 00:00:00'"
        val o = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"))
        def audit(withFid: DataFrame, layout: String) = {
          val zones = withFid.groupBy("fid")
            .agg(min("o_orderdate").as("mn"),
              max("o_orderdate").as("mx"),
              count(lit(1)).as("n"),
              sum(expr(s"CASE WHEN o_orderdate >= $lo AND " +
                s"o_orderdate < $hi THEN 1 ELSE 0 END")).as("tc"))
            .withColumn("hit", expr(
              s"CASE WHEN mn < $hi AND mx >= $lo THEN 1 ELSE 0 END"))
          zones.agg(
            lit(layout).as("layout"),
            count(lit(1)).as("files_total"),
            sum("hit").as("files_scanned"),
            sum(expr("CASE WHEN tc > 0 THEN 1 ELSE 0 END"))
              .as("files_true"),
            sum(expr("CASE WHEN hit = 1 AND tc = 0 THEN 1 ELSE 0 END"))
              .as("files_false_pos"),
            sum(expr("CASE WHEN hit = 1 THEN n ELSE 0 END"))
              .as("rows_scanned"),
            sum("tc").as("rows_matching"))
            .withColumn("pruned_bp", expr(
              "(files_total - files_scanned) * 10000 DIV files_total"))
        }
        val natural = audit(
          o.withColumn("fid", expr("o_orderkey DIV 1000")), "natural")
        val clustered = audit(
          o.withColumn("fid", expr(
            "(row_number() OVER (ORDER BY o_orderdate, o_orderkey) - 1)" +
              " DIV 1000")), "clustered")
        clustered.unionAll(natural)
          .select("layout", "files_total", "files_scanned", "files_true",
            "files_false_pos", "rows_scanned", "rows_matching",
            "pruned_bp")
          .orderBy("layout")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderdate FROM orders),
             |nat AS (SELECT o_orderkey // 1000 AS fid, o_orderdate
             |  FROM o),
             |clu AS (SELECT (row_number() OVER (
             |    ORDER BY o_orderdate, o_orderkey) - 1) // 1000 AS fid,
             |    o_orderdate
             |  FROM o),
             |zn AS (SELECT 'natural' AS layout, fid,
             |    min(o_orderdate) AS mn, max(o_orderdate) AS mx,
             |    count(*) AS n,
             |    sum(CASE WHEN o_orderdate >=
             |        TIMESTAMP '1996-03-01 00:00:00'
             |      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
             |      THEN 1 ELSE 0 END) AS tc
             |  FROM nat GROUP BY 2
             |  UNION ALL
             |  SELECT 'clustered', fid, min(o_orderdate),
             |    max(o_orderdate), count(*),
             |    sum(CASE WHEN o_orderdate >=
             |        TIMESTAMP '1996-03-01 00:00:00'
             |      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
             |      THEN 1 ELSE 0 END)
             |  FROM clu GROUP BY 2),
             |z2 AS (SELECT *, CASE WHEN mn <
             |      TIMESTAMP '1996-04-01 00:00:00'
             |    AND mx >= TIMESTAMP '1996-03-01 00:00:00'
             |    THEN 1 ELSE 0 END AS hit
             |  FROM zn)
             |SELECT layout,
             |  CAST(count(*) AS BIGINT) AS files_total,
             |  CAST(sum(hit) AS BIGINT) AS files_scanned,
             |  CAST(sum(CASE WHEN tc > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS files_true,
             |  CAST(sum(CASE WHEN hit = 1 AND tc = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS files_false_pos,
             |  CAST(sum(CASE WHEN hit = 1 THEN n ELSE 0 END) AS BIGINT)
             |    AS rows_scanned,
             |  CAST(sum(tc) AS BIGINT) AS rows_matching,
             |  CAST((count(*) - sum(hit)) * 10000 // count(*) AS BIGINT)
             |    AS pruned_bp
             |FROM z2 GROUP BY layout ORDER BY layout""".stripMargin)),

    // ---- EWMA control chart (exact rational arithmetic) -------------------
    // Drift monitoring for the ingest dashboard: daily event counts
    // smoothed with an α = 1/8 EWMA and flagged where the day's count
    // departs from yesterday's smoothed level by > 3·MAD. The EWMA
    // recursion E_t = (7·E_{t-1} + x_t)/8 is evaluated EXACTLY as the
    // rational N_t / 8^(t-1) via its closed form N_t = x_1·7^(t-1) +
    // Σ_{i≥2} x_i·7^(t-i)·8^(i-2) — a weighted sum over the BOUNDED
    // (t, i≤t) day-pair frame (≤ 30² rows; the only corpus-scale stage
    // is the daily rollup). The 7^k/8^k weight tables are generated as
    // BigInt literals at plan-build time and inlined identically into
    // both engines, so no runtime pow() and no float anywhere;
    // numerators stay under 10^30 for the 30-day horizon (DECIMAL(38)
    // bound documented). MAD is the exact order statistic on the
    // 30-row frame.
    "q284_ewma_control_chart" -> QueryDef(
      (s, dir) => {
        val p7 = (0 to 30).map(k => BigInt(7).pow(k).toString)
        val p8 = (0 to 30).map(k => BigInt(8).pow(k).toString)
        def w(tCol: String, iCol: String) =
          s"CASE WHEN $iCol = 1 THEN ${pick(p7, s"$tCol - 1")} " +
            s"ELSE ${pick(p7, s"$tCol - $iCol")} * " +
            s"${pick(p8, s"$iCol - 2")} END"
        val days = graft.operators.Materialize(table(s, dir, "events")
          .groupBy(expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '2024-01-01') + 1 " +
              "AS BIGINT)").as("t"))
          .agg(count(lit(1)).as("x")))
        // HARD horizon guard (advice): the inlined 7^k/8^k lookup tables
        // cover k = 0..30 only. Past day 31, pick() yields NULL and sum()
        // would drop those weight terms IDENTICALLY in both engines — a
        // silently-degraded "exact" EWMA the hash-compare cannot catch.
        // Fail loudly instead of degrading; widening the horizon means
        // widening the tables (numerators stay < 10^38 up to ~day 44).
        // The guard is TWO-sided (advice): events BEFORE 2024-01-01 give
        // t <= 0, making pick() indexes negative, so the CASE yields NULL
        // and weight terms vanish just as silently as past-horizon ones.
        // getAs[java.lang.Long] (not getLong) so an EMPTY events table
        // reports a clear message instead of an NPE on max(NULL).
        locally {
          val row = days.agg(max("t"), min("t")).collect()(0)
          val maxT = Option(row.getAs[java.lang.Long](0))
          val minT = Option(row.getAs[java.lang.Long](1))
          require(maxT.isDefined && minT.isDefined,
            "q284: events table is empty — no days to chart")
          require(minT.get >= 1L,
            s"q284: events start at day ${minT.get} <= 0 (before " +
              "2024-01-01) — pick() indexes go negative and EWMA weight " +
              "terms would be silently dropped; re-anchor the origin")
          require(maxT.get <= 31L,
            s"q284: events span day ${maxT.get} > 31 from 2024-01-01 — " +
              "the inline 7^k/8^k tables end at k=30; extend the tables " +
              "rather than silently dropping EWMA terms")
        }
        val nf = days.agg(count(lit(1)).as("nd"))
        val med = days
          .withColumn("r", row_number().over(Window.orderBy("x", "t")))
          .join(broadcast(nf))
          .filter(col("r") === expr("(nd + 1) DIV 2"))
          .select(col("x").as("med"))
        val mad = days.crossJoin(broadcast(med))
          .withColumn("d", abs(col("x") - col("med")))
          .withColumn("r", row_number().over(Window.orderBy("d", "t")))
          .join(broadcast(nf))
          .filter(col("r") === expr("(nd + 1) DIV 2"))
          .select(greatest(col("d"), lit(1L)).as("mad"))
        val pairs = days.as("a").join(days.as("b"),
            col("b.t") <= col("a.t"))
          .select(col("a.t").as("t"), col("a.x").as("xt"),
            col("b.t").as("i"), col("b.x").as("xi"))
        val num = pairs
          .withColumn("wgt", expr(w("t", "i")))
          .groupBy("t", "xt")
          .agg(sum(expr("CAST(xi AS DECIMAL(38,0)) * wgt")).as("n_t"))
          .withColumn("ewma", expr(
            s"CAST(n_t DIV ${pick(p8, "t - 1")} AS BIGINT)"))
        val prev = num.select(col("t").as("tp"),
          col("ewma").as("ewma_prev"))
        num.join(prev, col("t") === col("tp") + 1, "left")
          .crossJoin(broadcast(mad))
          .withColumn("flag", expr(
            "CASE WHEN ewma_prev IS NOT NULL AND " +
              "abs(xt - ewma_prev) > 3 * mad THEN 1 ELSE 0 END"))
          .select(col("t"), col("xt").as("x"), col("ewma"),
            coalesce(col("ewma_prev"), lit(-1L)).as("ewma_prev"),
            col("mad"), col("flag"))
          .orderBy("t")
      },
      Some {
        val p7 = (0 to 30).map(k => BigInt(7).pow(k).toString)
        val p8 = (0 to 30).map(k => BigInt(8).pow(k).toString)
        def w(tCol: String, iCol: String) =
          s"CASE WHEN $iCol = 1 THEN ${pickD(p7, s"$tCol - 1")} " +
            s"ELSE ${pickD(p7, s"$tCol - $iCol")} * " +
            s"${pickD(p8, s"$iCol - 2")} END"
        s"""WITH days AS (SELECT
           |    datediff('day', DATE '2024-01-01',
           |      CAST(ts AS DATE)) + 1 AS t,
           |    CAST(count(*) AS BIGINT) AS x
           |  FROM events GROUP BY 1),
           |nf AS (SELECT count(*) AS nd FROM days),
           |rk AS (SELECT days.*, nd, row_number() OVER (ORDER BY x, t)
           |    AS r FROM days CROSS JOIN nf),
           |med AS (SELECT x AS med FROM rk WHERE r = (nd + 1) // 2),
           |dv AS (SELECT days.t, abs(days.x - med.med) AS d
           |  FROM days CROSS JOIN med),
           |rk2 AS (SELECT dv.*, nd, row_number() OVER (ORDER BY d, t)
           |    AS r FROM dv CROSS JOIN nf),
           |mad AS (SELECT greatest(d, 1) AS mad FROM rk2
           |  WHERE r = (nd + 1) // 2),
           |pairs AS (SELECT a.t AS t, a.x AS xt, b.t AS i, b.x AS xi
           |  FROM days a JOIN days b ON b.t <= a.t),
           |num AS (SELECT t, xt,
           |    sum(CAST(xi AS HUGEINT) * ${w("t", "i")}) AS n_t
           |  FROM pairs GROUP BY 1, 2),
           |ew AS (SELECT t, xt,
           |    CAST(n_t // ${pickD(p8, "t - 1")} AS BIGINT) AS ewma
           |  FROM num)
           |SELECT a.t, a.xt AS x, a.ewma,
           |  COALESCE(b.ewma, -1) AS ewma_prev, mad.mad,
           |  CASE WHEN b.ewma IS NOT NULL
           |    AND abs(a.xt - b.ewma) > 3 * mad.mad
           |    THEN 1 ELSE 0 END AS flag
           |FROM ew a LEFT JOIN ew b ON a.t = b.t + 1
           |CROSS JOIN mad
           |ORDER BY a.t""".stripMargin
      }),

    // ---- space-filling-curve layout audit (linear vs Z vs Hilbert) --------
    // q282 priced the 1-D sort key; this prices the 2-D one. Three
    // write-time layouts of the same (part, supplier) point set —
    // column-major linear, Z-order (Morton), and the canonical Hilbert
    // curve — are audited against one rectangle predicate using the
    // same per-file min/max zone logic a lakehouse scanner applies.
    // Both curve keys are PURE INTEGER ARITHMETIC generated once and
    // spelled identically in both engines (bit tests as (x DIV 2^k)%2,
    // the Hilbert (3·rx)^ry as a CASE — no engine bitops, whose XOR
    // spelling differs): Z interleaves 8+8 bits inline; Hilbert unrolls
    // the 8 canonical levels (rx/ry test, quadrant offset s²·t, reflect
    // + swap rotation) as chained projection layers — per-row codegen,
    // one corpus pass for all three keys. Coordinates quantize to the
    // 256×256 grid with non-negative offsets before every DIV. The
    // audit output is the q282 ledger per layout; files cut every 256
    // rows in key order (row_number is the stand-in for the write-side
    // sort; ties within one (key,x,y) cell are interchangeable, so the
    // zone frame is deterministic). At 100 TB this is the clustering
    // decision for every two-column predicate workload.
    "q294_hilbert_layout_audit" -> QueryDef(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_partkey").cast("long").as("pk"),
            col("l_suppkey").cast("long").as("sk"))
        val rng = li.agg(min("pk").as("mnp"), max("pk").as("mxp"),
          min("sk").as("mns"), max("sk").as("mxs"))
        // cell-compress FIRST: the corpus contributes one groupBy to the
        // ≤ 256² cell frame, and the curve keys, the three rank windows,
        // and the file spans all run on cells — rows sharing a cell are
        // interchangeable for zone stats, so file boundaries landing
        // inside a cell are handled exactly by the span arithmetic below
        // round-13: cells has exactly ONE consumer (the curve-key fold),
        // so its eager Materialize paid a full corpus scan + count for
        // nothing (the q267 precedent); curved is consumed by the three
        // audit subtrees but from the ≤256² bounded cell frame — a LAZY
        // lineage cut materializes it inside the first audit's job with
        // no driver action of its own
        val cells =
          li.crossJoin(broadcast(rng))
            .withColumn("x", expr(
              "(pk - mnp) * 255 DIV greatest(mxp - mnp, 1)"))
            .withColumn("y", expr(
              "(sk - mns) * 255 DIV greatest(mxs - mns, 1)"))
            .groupBy("x", "y").agg(count(lit(1)).as("f"))
        val curved = graft.operators.Materialize.lazyCheckpointed(
          (0 until 8).foldLeft(cells
            .withColumn("zd", expr(zOrderExpr("x", "y", "DIV")))
            .withColumn("hx", col("x")).withColumn("hy", col("y"))
            .withColumn("hd", lit(0L))) { (df, k) =>
            val sLvl = 1 << (7 - k)
            val (dN, nx, ny) = hilbertStep("hx", "hy", "hd", sLvl, "DIV")
            df.withColumn("hd2", expr(dN)).withColumn("hx2", expr(nx))
              .withColumn("hy2", expr(ny))
              .drop("hd", "hx", "hy")
              .withColumnRenamed("hd2", "hd")
              .withColumnRenamed("hx2", "hx")
              .withColumnRenamed("hy2", "hy")
          }.select("x", "y", "f", "zd", "hd"))
        def audit(key: Column, layout: String) = {
          val w = Window.orderBy(key, col("x"), col("y"))
          val spans = curved
            .withColumn("cb", coalesce(sum("f").over(
              w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
            .select(col("x"), col("y"), col("f"), col("cb"),
              expr("explode(sequence(cb DIV 256, (cb + f - 1) DIV 256))")
                .as("fid"))
            .withColumn("nn", expr(
              "least((fid + 1) * 256, cb + f) - greatest(fid * 256, cb)"))
          val zones = spans.groupBy("fid")
            .agg(min("x").as("mnx"), max("x").as("mxx"),
              min("y").as("mny"), max("y").as("mxy"),
              sum("nn").as("n"),
              sum(expr("CASE WHEN x BETWEEN 64 AND 159 AND " +
                "y BETWEEN 64 AND 159 THEN nn ELSE 0 END")).as("tc"))
            .withColumn("hit", expr(
              "CASE WHEN mnx <= 159 AND mxx >= 64 AND mny <= 159 " +
                "AND mxy >= 64 THEN 1 ELSE 0 END"))
          zones.agg(lit(layout).as("layout"),
            count(lit(1)).as("files_total"),
            sum("hit").as("files_scanned"),
            sum(expr("CASE WHEN hit = 1 AND tc = 0 THEN 1 ELSE 0 END"))
              .as("files_false_pos"),
            sum(expr("CASE WHEN hit = 1 THEN n ELSE 0 END"))
              .as("rows_scanned"),
            sum("tc").as("rows_matching"))
            .withColumn("pruned_bp", expr(
              "(files_total - files_scanned) * 10000 DIV files_total"))
        }
        audit(expr("x * 256 + y"), "a_linear")
          .unionAll(audit(col("zd"), "b_zorder"))
          .unionAll(audit(col("hd"), "c_hilbert"))
          .select("layout", "files_total", "files_scanned",
            "files_false_pos", "rows_scanned", "rows_matching",
            "pruned_bp")
          .orderBy("layout")
      },
      Some {
        val hilbertCtes = (0 until 8).map { k =>
          val sLvl = 1 << (7 - k)
          val (dN, nx, ny) = hilbertStep(s"hx$k", s"hy$k", s"hd$k",
            sLvl, "//")
          s"""h${k + 1} AS (SELECT x, y, f, zd,
             |    $dN AS hd${k + 1}, $nx AS hx${k + 1},
             |    $ny AS hy${k + 1}
             |  FROM h$k)""".stripMargin
        }.mkString(",\n")
        def auditSql(key: String, layout: String) =
          s"""SELECT '$layout' AS layout, fid,
             |    min(x) AS mnx, max(x) AS mxx,
             |    min(y) AS mny, max(y) AS mxy, sum(nn) AS n,
             |    sum(CASE WHEN x BETWEEN 64 AND 159
             |      AND y BETWEEN 64 AND 159 THEN nn ELSE 0 END) AS tc
             |  FROM (SELECT x, y, cb, f,
             |      least((fid + 1) * 256, cb + f)
             |        - greatest(fid * 256, cb) AS nn, fid
             |    FROM (SELECT x, y, f, cb,
             |        unnest(range(cb // 256, (cb + f - 1) // 256 + 1))
             |          AS fid
             |      FROM (SELECT *, CAST(COALESCE(sum(f) OVER
             |          (ORDER BY $key, x, y
             |           ROWS BETWEEN UNBOUNDED PRECEDING
             |           AND 1 PRECEDING),
             |          0) AS BIGINT) AS cb FROM pts)))
             |  GROUP BY 1, 2""".stripMargin
        s"""WITH li AS (SELECT CAST(l_partkey AS BIGINT) AS pk,
           |    CAST(l_suppkey AS BIGINT) AS sk FROM lineitem),
           |rng AS (SELECT min(pk) AS mnp, max(pk) AS mxp,
           |    min(sk) AS mns, max(sk) AS mxs FROM li),
           |cl AS (SELECT
           |    (pk - mnp) * 255 // greatest(mxp - mnp, 1) AS x,
           |    (sk - mns) * 255 // greatest(mxs - mns, 1) AS y,
           |    CAST(count(*) AS BIGINT) AS f
           |  FROM li CROSS JOIN rng GROUP BY 1, 2),
           |h0 AS (SELECT x, y, f,
           |    ${zOrderExpr("x", "y", "//")} AS zd,
           |    x AS hx0, y AS hy0, CAST(0 AS BIGINT) AS hd0
           |  FROM cl),
           |$hilbertCtes,
           |pts AS (SELECT x, y, f, zd, hd8 AS hd FROM h8),
           |zn AS (${auditSql("x * 256 + y", "a_linear")}
           |  UNION ALL ${auditSql("zd", "b_zorder")}
           |  UNION ALL ${auditSql("hd", "c_hilbert")}),
           |z2 AS (SELECT *, CASE WHEN mnx <= 159 AND mxx >= 64
           |    AND mny <= 159 AND mxy >= 64 THEN 1 ELSE 0 END AS hit
           |  FROM zn)
           |SELECT layout, CAST(count(*) AS BIGINT) AS files_total,
           |  CAST(sum(hit) AS BIGINT) AS files_scanned,
           |  CAST(sum(CASE WHEN hit = 1 AND tc = 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS files_false_pos,
           |  CAST(sum(CASE WHEN hit = 1 THEN n ELSE 0 END) AS BIGINT)
           |    AS rows_scanned,
           |  CAST(sum(tc) AS BIGINT) AS rows_matching,
           |  CAST((count(*) - sum(hit)) * 10000 // count(*) AS BIGINT)
           |    AS pruned_bp
           |FROM z2 GROUP BY layout ORDER BY layout""".stripMargin
      }),

    // ---- correlated LATERAL subquery (per-group top-k surface) ------------
    // The engine-surface row q264/q265 opened, extended to LATERAL:
    // a correlated subquery with its own ORDER BY + LIMIT per outer row
    // — the "top-2 customers per nation" idiom analysts write instead
    // of a window + filter. Spark 4 decorrelates this into the same
    // ranked-window plan (the spec pins that the surface is sugar, like
    // q265's pipes); DuckDB executes its native LATERAL. Balances in
    // exact cents on both sides; total ORDER BY.
    "q295_lateral_topk" -> QueryDef(
      (s, dir) => {
        table(s, dir, "nation").createOrReplaceTempView("nation_pv")
        table(s, dir, "customer")
          .createOrReplaceTempView("customer_pv")
        s.sql("""SELECT n_name, t.c_custkey, t.acctbal_c
                |FROM nation_pv,
                |LATERAL (
                |  SELECT c_custkey,
                |    CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_c
                |  FROM customer_pv
                |  WHERE c_nationkey = n_nationkey
                |  ORDER BY acctbal_c DESC, c_custkey LIMIT 2) t
                |ORDER BY n_name, t.acctbal_c DESC, t.c_custkey"""
          .stripMargin)
      },
      Some("""SELECT n_name, t.c_custkey, t.acctbal_c
             |FROM nation,
             |LATERAL (
             |  SELECT c_custkey,
             |    CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_c
             |  FROM customer
             |  WHERE c_nationkey = n_nationkey
             |  ORDER BY acctbal_c DESC, c_custkey LIMIT 2) t
             |ORDER BY n_name, t.acctbal_c DESC, t.c_custkey"""
        .stripMargin)),

    // ---- SQL-defined scalar function (CREATE FUNCTION … RETURN) -----------
    // The Spark-4 SQL UDF surface: a scalar function DEFINED IN SQL is
    // inlined by the analyzer into the calling plan — codegen-friendly,
    // catalog-managed, and what an Athena-style user writes instead of
    // registering JVM code. graft_bp (the basis-point ratio idiom used
    // throughout this catalog) is defined once and called three times;
    // the DuckDB oracle spells the same arithmetic inline, proving the
    // function boundary adds no semantics. Zero-denominator guarded in
    // the function body itself.
    "q298_sql_udf" -> QueryDef(
      (s, dir) => {
        table(s, dir, "lineitem").createOrReplaceTempView("lineitem_pv")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_bp(
                |  num BIGINT, den BIGINT) RETURNS BIGINT
                |RETURN num * 10000 DIV greatest(den, 1)""".stripMargin)
        s.sql("""SELECT l_returnflag,
                |  count(*) AS n,
                |  graft_bp(CAST(sum(CASE WHEN l_discount > 0.05 THEN 1
                |      ELSE 0 END) AS BIGINT),
                |    CAST(count(*) AS BIGINT)) AS discounted_bp,
                |  graft_bp(CAST(sum(CASE WHEN l_tax > 0.04 THEN 1
                |      ELSE 0 END) AS BIGINT),
                |    CAST(count(*) AS BIGINT)) AS taxed_bp,
                |  graft_bp(CAST(sum(CASE WHEN l_quantity >= 25 THEN 1
                |      ELSE 0 END) AS BIGINT),
                |    CAST(count(*) AS BIGINT)) AS bulk_bp
                |FROM lineitem_pv
                |GROUP BY l_returnflag
                |ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(CAST(sum(CASE WHEN l_discount > 0.05 THEN 1
             |      ELSE 0 END) AS BIGINT) * 10000
             |    // greatest(count(*), 1) AS BIGINT) AS discounted_bp,
             |  CAST(CAST(sum(CASE WHEN l_tax > 0.04 THEN 1
             |      ELSE 0 END) AS BIGINT) * 10000
             |    // greatest(count(*), 1) AS BIGINT) AS taxed_bp,
             |  CAST(CAST(sum(CASE WHEN l_quantity >= 25 THEN 1
             |      ELSE 0 END) AS BIGINT) * 10000
             |    // greatest(count(*), 1) AS BIGINT) AS bulk_bp
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // ---- GROUP BY ALL / ORDER BY ALL surface -------------------------------
    // The analyst-ergonomics surface both engines grew independently:
    // GROUP BY ALL infers the grouping set from the non-aggregate select
    // items, ORDER BY ALL totals the order. The oracle runs the SAME
    // text — the check is that both engines' inference picks the same
    // grouping columns and produces the identical relation.
    "q299_group_by_all" -> QueryDef(
      (s, dir) => {
        table(s, dir, "lineitem").createOrReplaceTempView("lineitem_pv")
        s.sql("""SELECT l_returnflag, l_linestatus,
                |  count(*) AS n,
                |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                |    AS qty
                |FROM lineitem_pv
                |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
                |GROUP BY ALL
                |ORDER BY ALL""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY ALL
             |ORDER BY ALL""".stripMargin)),

    // ---- HLL set algebra (union by register max, ∩ by in/exclusion) -------
    // Why sketches win at 100 TB: two cohorts' HyperLogLogs UNION by a
    // 256-row register max — no re-scan, no shuffle of raw keys — and
    // intersection follows by inclusion–exclusion. This audit builds the
    // q273 integer-exact HLL (b = 8) for the 1995 and 1996 order-placing
    // customer cohorts FROM THE SAME HASH (a sketch algebra requirement),
    // merges registers for the union estimate, derives the intersection
    // estimate, and prices all four against exact counts. The in/exclusion
    // intersection inherits BOTH sketches' absolute errors (they can
    // compound — or partially cancel when the raw estimator's bias is
    // shared, as it is here; the audit reports what actually happens;
    // clamped at 0 from below). One orders pass; everything after runs
    // on ≤ 512 register rows.
    "q300_hll_setops" -> QueryDef(
      (s, dir) => {
        val base = graft.operators.Materialize(table(s, dir, "orders")
          .select(col("o_custkey"),
            expr("year(o_orderdate)").as("yr"))
          .filter(col("yr").isin(1995, 1996))
          .select(expr("CASE WHEN yr = 1995 THEN 'a' ELSE 'b' END")
            .as("st"), col("o_custkey"))
          .distinct()
          .withColumn("h", expr(
            "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 15)" +
              ", 16, 10) AS BIGINT)")))
        val rho = base
          .withColumn("reg", expr("h % 256"))
          .withColumn("sfx", expr("h DIV 256"))
          .withColumn("rho", expr(
            "CASE WHEN sfx = 0 THEN 53L ELSE 53L - length(bin(sfx)) END"))
        val regsPer = graft.operators.Materialize(
          rho.groupBy("st", "reg").agg(max("rho").as("mx")))
        val regsAll = regsPer.unionAll(
          regsPer.groupBy("reg").agg(max("mx").as("mx"))
            .select(lit("u").as("st"), col("reg"), col("mx")))
        val ests = regsAll.groupBy("st")
          .agg(count(lit(1)).as("n_hit"),
            sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - CAST(mx AS INT))"))
              .as("s_hit"))
          .withColumn("s_scaled", expr(
            "s_hit + (256 - n_hit) * shiftleft(CAST(1 AS BIGINT), 53)"))
          .withColumn("est", expr(
            "CAST(CAST(718 AS DECIMAL(38,0)) * 256 * 256 * " +
              "shiftleft(CAST(1 AS BIGINT), 53) DIV " +
              "(1000 * CAST(s_scaled AS DECIMAL(38,0))) AS BIGINT)"))
          .select("st", "est")
        val estRow = ests.agg(
          max(when(col("st") === "a", col("est"))).as("est_a"),
          max(when(col("st") === "b", col("est"))).as("est_b"),
          max(when(col("st") === "u", col("est"))).as("est_u"))
          .withColumn("est_i", expr(
            "greatest(est_a + est_b - est_u, CAST(0 AS BIGINT))"))
        val exact = base.groupBy("o_custkey")
          .agg(count(lit(1)).as("ns"))
          .agg(count(lit(1)).as("exact_u"),
            sum(expr("CASE WHEN ns = 2 THEN 1 ELSE 0 END"))
              .as("exact_i"))
        val exactAb = base.groupBy("st").agg(count(lit(1)).as("n"))
          .agg(max(when(col("st") === "a", col("n"))).as("exact_a"),
            max(when(col("st") === "b", col("n"))).as("exact_b"))
        estRow.crossJoin(broadcast(exact)).crossJoin(broadcast(exactAb))
          .select(col("exact_a"), col("est_a"),
            expr("abs(est_a - exact_a) * 10000 DIV exact_a")
              .as("err_a_bp"),
            col("exact_b"), col("est_b"),
            expr("abs(est_b - exact_b) * 10000 DIV exact_b")
              .as("err_b_bp"),
            col("exact_u"), col("est_u"),
            expr("abs(est_u - exact_u) * 10000 DIV exact_u")
              .as("err_u_bp"),
            col("exact_i"), col("est_i"),
            expr("abs(est_i - exact_i) * 10000 DIV greatest(exact_i, 1)")
              .as("err_i_bp"))
      },
      Some("""WITH base AS (SELECT DISTINCT
             |    CASE WHEN year(o_orderdate) = 1995 THEN 'a'
             |      ELSE 'b' END AS st,
             |    o_custkey
             |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
             |h AS (SELECT st, o_custkey,
             |    CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
             |      1, 15)) AS BIGINT) AS h
             |  FROM base),
             |rho AS (SELECT st, h % 256 AS reg,
             |    CASE WHEN h // 256 = 0 THEN 53
             |      ELSE 53 - length(bin(h // 256)) END AS rho
             |  FROM h),
             |regs AS (SELECT st, reg, max(rho) AS mx
             |  FROM rho GROUP BY 1, 2),
             |regsall AS (SELECT st, reg, mx FROM regs
             |  UNION ALL
             |  SELECT 'u', reg, max(mx) FROM regs GROUP BY 2),
             |ag AS (SELECT st, CAST(count(*) AS BIGINT) AS n_hit,
             |    CAST(sum(1::BIGINT << (53 - CAST(mx AS INT)))
             |      AS BIGINT) AS s_hit
             |  FROM regsall GROUP BY 1),
             |e AS (SELECT st,
             |    CAST(CAST(718 AS HUGEINT) * 256 * 256 *
             |      (1::BIGINT << 53) //
             |      (1000 * CAST(s_hit + (256 - n_hit) *
             |        (1::BIGINT << 53) AS HUGEINT)) AS BIGINT) AS est
             |  FROM ag),
             |er AS (SELECT
             |    max(CASE WHEN st = 'a' THEN est END) AS est_a,
             |    max(CASE WHEN st = 'b' THEN est END) AS est_b,
             |    max(CASE WHEN st = 'u' THEN est END) AS est_u
             |  FROM e),
             |er2 AS (SELECT *,
             |    greatest(est_a + est_b - est_u, 0) AS est_i FROM er),
             |exu AS (SELECT CAST(count(*) AS BIGINT) AS exact_u,
             |    CAST(sum(CASE WHEN ns = 2 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS exact_i
             |  FROM (SELECT o_custkey, count(*) AS ns FROM base
             |        GROUP BY 1)),
             |exab AS (SELECT
             |    max(CASE WHEN st = 'a' THEN n END) AS exact_a,
             |    max(CASE WHEN st = 'b' THEN n END) AS exact_b
             |  FROM (SELECT st, CAST(count(*) AS BIGINT) AS n
             |        FROM base GROUP BY 1))
             |SELECT exact_a, est_a,
             |  CAST(abs(est_a - exact_a) * 10000 // exact_a AS BIGINT)
             |    AS err_a_bp,
             |  exact_b, est_b,
             |  CAST(abs(est_b - exact_b) * 10000 // exact_b AS BIGINT)
             |    AS err_b_bp,
             |  exact_u, est_u,
             |  CAST(abs(est_u - exact_u) * 10000 // exact_u AS BIGINT)
             |    AS err_u_bp,
             |  exact_i, CAST(est_i AS BIGINT) AS est_i,
             |  CAST(abs(est_i - exact_i) * 10000
             |    // greatest(exact_i, 1) AS BIGINT) AS err_i_bp
             |FROM er2 CROSS JOIN exu CROSS JOIN exab""".stripMargin)),

    // ---- observed metrics (CollectMetrics / Observation API) ---------------
    // Pipeline data-quality counters the way a 100 TB job should collect
    // them: `Dataset.observe` piggybacks the aggregates on the SAME pass
    // that does the real work (a CollectMetrics node in the plan — zero
    // extra scans, metrics travel to the driver with task completion),
    // instead of a separate count()/agg() job per counter. Here the
    // "real work" is a filtered export of open-status orders; the
    // observation simultaneously counts total rows, filtered-in rows,
    // revenue dollars, and the priority-1 share OF THE FULL PASS — the
    // numbers a lakehouse ingest job logs to its metrics sink. The
    // result relation is the observed metric row itself, which the
    // oracle recomputes declaratively — proving the piggybacked counters
    // equal the stand-alone aggregation.
    "q319_observed_metrics" -> QueryDef(
      (s, dir) => {
        val obs = new org.apache.spark.sql.Observation()
        val passed = table(s, dir, "orders")
          .observe(obs,
            count(lit(1)).as("n_total"),
            sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L))
              .as("n_open"),
            sum(expr("CAST(floor(o_totalprice) AS BIGINT)"))
              .as("revenue_dollars"),
            sum(when(expr("substring(o_orderpriority, 1, 1) = '1'"),
              1L).otherwise(0L)).as("n_urgent"))
          .filter(col("o_orderstatus") === "O")
        // drive the observed pass with the no-op sink: the metrics are
        // collected as a side effect of the export, not by a second scan
        passed.write.format("noop").mode("overwrite").save()
        val m = obs.get
        import s.implicits._
        Seq((m("n_total").asInstanceOf[Long],
            m("n_open").asInstanceOf[Long],
            m("revenue_dollars").asInstanceOf[Long],
            m("n_urgent").asInstanceOf[Long]))
          .toDF("n_total", "n_open", "revenue_dollars", "n_urgent")
          .withColumn("open_bp",
            expr("n_open * 10000 DIV n_total"))
          .withColumn("urgent_bp",
            expr("n_urgent * 10000 DIV n_total"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_total,
             |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0
             |    END) AS BIGINT) AS n_open,
             |  CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
             |    AS BIGINT) AS revenue_dollars,
             |  CAST(sum(CASE WHEN substr(o_orderpriority, 1, 1) = '1'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
             |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0
             |      END) * 10000 // count(*) AS BIGINT) AS open_bp,
             |  CAST(sum(CASE WHEN substr(o_orderpriority, 1, 1) = '1'
             |    THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT)
             |    AS urgent_bp
             |FROM orders""".stripMargin)),
  )

  /** One canonical Hilbert xy2d level (Wikipedia's loop body) on the
    * 256×256 grid, as three SQL expressions over the incoming (x, y, d)
    * column names: the quadrant offset d += s²·((3·rx) xor ry) with the
    * xor spelled arithmetically (rx,ry ∈ {0,1} ⇒ rx=0 → ry, rx=1 →
    * 3−ry), then the reflect-and-swap rotation. Bit tests are
    * (v DIV s) % 2 so one spelling serves both engines (divOp "DIV" or
    * "//"); reflections keep coordinates in [0, 255], so every DIV runs
    * non-negative.
    */
  private def hilbertStep(x: String, y: String, d: String, sLvl: Int,
      divOp: String): (String, String, String) = {
    val rx = s"((($x) $divOp $sLvl) % 2)"
    val ry = s"((($y) $divOp $sLvl) % 2)"
    val dN = s"($d) + ${sLvl.toLong * sLvl} * " +
      s"(CASE WHEN $rx = 0 THEN $ry ELSE 3 - $ry END)"
    val xRef = s"(CASE WHEN $rx = 1 THEN 255 - ($x) ELSE ($x) END)"
    val yRef = s"(CASE WHEN $rx = 1 THEN 255 - ($y) ELSE ($y) END)"
    val nx = s"(CASE WHEN $ry = 0 THEN $yRef ELSE ($x) END)"
    val ny = s"(CASE WHEN $ry = 0 THEN $xRef ELSE ($y) END)"
    (dN, nx, ny)
  }

  /** 8+8-bit Morton (Z-order) interleave of two [0, 255] coordinates as
    * one arithmetic SQL expression — bit k of x lands at position 2k,
    * bit k of y at 2k+1. Same single spelling for both engines via
    * divOp.
    */
  private def zOrderExpr(x: String, y: String, divOp: String): String =
    (0 until 8).flatMap { k =>
      val px = 1L << (2 * k)
      val py = 1L << (2 * k + 1)
      Seq(s"((($x) $divOp ${1 << k}) % 2) * $px",
        s"((($y) $divOp ${1 << k}) % 2) * $py")
    }.mkString("(", " + ", ")")

  /** Inline a BigInt power table as a nested CASE lookup on an index
    * expression — Spark spelling (DECIMAL(38,0) literals). The tables are
    * tiny (≤ 31 entries) and generated at plan-build time, so both
    * engines evaluate identical exact constants with no runtime pow().
    */
  private def pick(tbl: Seq[String], idx: String): String =
    tbl.zipWithIndex.map { case (v, k) =>
      s"WHEN $k THEN CAST('$v' AS DECIMAL(38,0))"
    }.mkString(s"(CASE ($idx) ", " ", " END)")

  /** DuckDB spelling of [[pick]] (HUGEINT literals). */
  private def pickD(tbl: Seq[String], idx: String): String =
    tbl.zipWithIndex.map { case (v, k) =>
      s"WHEN $k THEN CAST('$v' AS HUGEINT)"
    }.mkString(s"(CASE ($idx) ", " ", " END)")
}
