package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** PageRank power iteration in scaled-integer math — damping 0.85 as
  * `new = 150000 + (850000 * Σ(rank DIV deg)) DIV 1000000` over a
  * symmetrized edge list, so every iteration is exact (no float drift)
  * and a SQL oracle can replay the trajectory as statically-unrolled CTEs.
  *
  * Two execution paths, dispatched on node count, proven equal by
  * PageRankSpec:
  *
  *   - '''driver-state''' (≤ [[DriverNodeLimit]] nodes): node state
  *     (rank, degree) is dimension-sized — parts, not lineitems — so it
  *     lives in dense driver arrays and each power iteration is ONE
  *     shuffle-free `treeAggregate` over the distributed edge list
  *     (partials are |V| longs regardless of |E|), the same state/data
  *     split the k-means operator uses;
  *   - '''rank-join''' (above the gate): ranks live in a distributed
  *     (node, rank) table; each iteration is one equi-join of the edge
  *     list with the rank table plus one dst-aggregation — the GraphX
  *     Pregel plan shape, whose per-iteration state is O(|V|/cluster)
  *     instead of O(|V|/driver). Degrees are joined ONCE onto the edge
  *     list and the result persisted, so iterations reuse one cached
  *     fragment and shuffle only the rank table.
  *
  * The dispatch gate is FREE of extra shuffles: both paths need the
  * degree table, so the gate materializes it once and reads its row
  * count (= node count) — no separate distinct pass just to dispatch.
  *
  * Symmetrized edges mean every node has out-degree ≥ 1 — no dangling
  * mass — and every node receives contributions, so both paths produce a
  * rank for every node.
  */
object PageRank {

  /** Node-count bound for the driver-state path, costed for the
    * EXECUTORS, not just the driver: each treeAggregate task allocates a
    * dense `Array[Long](nV)` partial — 80 MB at the gate — so 32
    * concurrent tasks hold ~2.5 GB of transient accumulators plus the
    * same again in tree-merge traffic, on top of the ~160 MB
    * rank+degree broadcast each iteration. 10M nodes keeps all of that
    * comfortably inside normal executor memory; the old 100M gate was
    * costed only for driver residency and would have meant 800 MB per
    * TASK. The bound also guarantees the scaled-integer update cannot
    * overflow (see the invariant note in driverStateImpl). Above the
    * gate, rank state must be distributed (rank-join path).
    */
  val DriverNodeLimit = 10000000L

  /** @param edges symmetric directed edge list with long columns
    *              (`src`, `dst`) — both orientations of each undirected
    *              edge, already deduplicated
    * @param iters power iterations (each exact in scaled-integer math)
    * @return (pk, rank_scaled) for every node
    */
  def rankScaled(edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = edges.select(col(edges.columns(0)).cast("long").as("src"),
                         col(edges.columns(1)).cast("long").as("dst"))
    // LAZY persists: deg derives from the edge cache, so the single
    // deg.count() action below populates BOTH caches in one pass over
    // the (typically expensive) edge derivation — and that count IS the
    // dispatch probe (deg rows = nodes). No pass exists solely to decide.
    val cached = e.persist(StorageLevel.MEMORY_AND_DISK_SER)
    val deg = cached.groupBy("src").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val nNodes = deg.count()
    val out =
      if (nNodes <= DriverNodeLimit) driverStateImpl(cached, deg, iters)
      else rankJoinImpl(cached, deg, iters)
    // both paths end in state independent of these caches (driver arrays
    // / eager checkpoints), so they can go now
    deg.unpersist(false)
    cached.unpersist(false)
    out
  }

  /** Dense driver arrays + shuffle-free treeAggregate per iteration. */
  private[graft] def driverState(edges: DataFrame, iters: Int): DataFrame = {
    val cached = Materialize(edges)
    val deg = cached.groupBy("src").agg(count(lit(1)).as("deg"))
    val out = driverStateImpl(cached, deg, iters)
    cached.unpersist(false)
    out
  }

  private def driverStateImpl(cached: DataFrame, deg: DataFrame,
                              iters: Int): DataFrame = {
    val s = cached.sparkSession
    import s.implicits._
    // sort driver-side: the node table is dimension-sized, and a DF
    // orderBy before collect would pay a range-partition exchange
    val nodeDeg = deg.as[(Long, Long)].collect().sortBy(_._1)
    val pks = nodeDeg.map(_._1)
    val degs = nodeDeg.map(_._2)
    val nV = pks.length
    // Overflow invariant for the Long update below: total rank mass is
    // conserved-or-shrunk by each damped iteration (Σr' = nV·150000 +
    // 0.85·Σ⌊·⌋ ≤ nV·10⁶ by induction from r₀ = 10⁶), so any single
    // node's aggregate incoming contribution c ≤ Σr ≤ nV·10⁶, and
    // 850000·c stays under Long.MaxValue exactly when nV ≤ ~1.08·10⁷.
    // DriverNodeLimit (10M) sits under that bound, making the driver
    // path provably wrap-free; the guard keeps direct callers honest.
    require(nV <= 10800000,
      s"driver-state PageRank on $nV nodes could overflow the scaled-" +
        "integer update (850000·c > Long.MaxValue); use rankJoin")
    val bcPk = s.sparkContext.broadcast(pks)
    val eRdd = cached.as[(Long, Long)].rdd
      .map { case (src, dst) =>
        (java.util.Arrays.binarySearch(bcPk.value, src),
          java.util.Arrays.binarySearch(bcPk.value, dst))
      }
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    var r = Array.fill(nV)(1000000L)
    for (_ <- 1 to iters) {
      val bcR = s.sparkContext.broadcast(r)
      val bcDeg = s.sparkContext.broadcast(degs)
      val sums = eRdd.treeAggregate(new Array[Long](nV))(
        { case (acc, (si, di)) =>
          acc(di) += bcR.value(si) / bcDeg.value(si); acc },
        { (a, b) =>
          var i = 0; while (i < nV) { a(i) += b(i); i += 1 }; a })
      r = sums.map(c => 150000L + (850000L * c) / 1000000L)
      bcR.destroy(); bcDeg.destroy()
    }
    eRdd.unpersist(false)
    pks.indices.map(i => (pks(i), r(i))).toDF("pk", "rank_scaled")
  }

  /** Distributed rank table; one equi-join + one dst-aggregation per
    * iteration. The per-iteration rank table is LAZILY local-checkpointed
    * so the loop's lineage stays flat while the whole trajectory still
    * executes as one job at the final action.
    */
  private[graft] def rankJoin(edges: DataFrame, iters: Int): DataFrame = {
    val cached = Materialize(edges)
    val deg = cached.groupBy("src").agg(count(lit(1)).as("deg"))
    val out = rankJoinImpl(cached, deg, iters)
    cached.unpersist(false)
    out
  }

  private def rankJoinImpl(cached: DataFrame, deg: DataFrame,
                           iters: Int): DataFrame = {
    // degrees ride along with the edges, joined once and cached — and the
    // cache is hash-partitioned on src at the session shuffle-partition
    // count. While the rank table fits the broadcast threshold AQE
    // broadcasts it and the edge cache is never re-shuffled; once ranks
    // outgrow broadcast (the regime this path exists for), the sort-merge
    // join finds BOTH sides already clustered on the join key (ranks
    // arrive hashed on node from the previous round's dst-aggregation)
    // and inserts no exchange on the O(|E|) side. Either way the only
    // per-iteration shuffle of edge-sized data is the dst-aggregation,
    // whose map-side partials are O(|V|) per partition, not O(|E|)
    val edgeDeg = Materialize(cached.join(deg, "src")
      .repartition(col("src")))
    // LAZY checkpoints for every round but the LAST: each round's rank
    // table is consumed exactly once (the next round's join), so the
    // plan stays flat with the lineage cut at materialization time and
    // the whole trajectory executes as ONE job — the old eager variant
    // paid one driver action per round for no added safety. The FINAL
    // round's checkpoint is EAGER: it is the one action that runs the
    // trajectory, and it must run BEFORE the edgeDeg/caller caches are
    // dropped below — with a fully-lazy chain the caller's eventual
    // action found the caches already unpersisted and recomputed the
    // edge derivation once per iteration (the round-12 regression this
    // ordering fixes).
    var ranks = Materialize.lazyCheckpointed(
      deg.select(col("src").as("node"), lit(1000000L).as("r")))
    for (it <- 1 to iters) {
      // DIV (integral divide) throughout — a float Divide would round
      // where the driver path truncates, and past 2^53 would drift. BOTH
      // the inner sum and the damping multiply run in DECIMAL(38,0): each
      // r DIV deg term fits a Long trivially, but a hub's aggregate
      // incoming contribution c ≤ Σr ≤ nV·10⁶ outgrows a LongType sum
      // (silent non-ANSI wrap at ~9.2e18, i.e. nV ≳ 9.2e12), so the terms
      // are widened to decimal BEFORE summing; 850000·c then cannot wrap
      // either. The one remaining Long boundary is the final rank value
      // itself (r' ≤ 150000 + 0.85·nV·10⁶ outgrows BIGINT only past
      // nV ≈ 1.08e13 — beyond any real graph). DIV on decimals still
      // truncates like the integer twin, so the oracle stays hash-exact
      val next = edgeDeg.join(ranks, edgeDeg("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(expr("CAST(150000 + (CAST(850000 AS DECIMAL(38,0)) *" +
          " sum(CAST(r DIV deg AS DECIMAL(38,0)))) DIV 1000000" +
          " AS BIGINT)").as("r"))
        .select(col("dst").as("node"), col("r"))
      ranks =
        if (it == iters) Materialize.checkpointed(next)
        else Materialize.lazyCheckpointed(next)
    }
    edgeDeg.unpersist(false)
    ranks.select(col("node").as("pk"), col("r").as("rank_scaled"))
  }
}
