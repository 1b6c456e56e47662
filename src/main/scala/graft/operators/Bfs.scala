package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Hop-limited breadth-first search over an undirected edge list, seeded
  * at the minimum node id — (level, node) for every node reached within
  * `hops` supersteps.
  *
  * Two execution paths, dispatched on node count, proven equal by
  * BfsSpec (the ConnectedComponents/PageRank dual-path pattern):
  *
  *   - '''driver-bitset''' (≤ [[DriverNodeLimit]] nodes): the
  *     frontier/visited state is |V| small ints in a driver array,
  *     broadcast into ONE shuffle-free `treeAggregate` over the
  *     distributed edge list per hop (partials are |V| booleans
  *     regardless of |E|). A join-per-superstep formulation pays ~6
  *     exchanges of near-empty data per hop in fixed overhead; this
  *     shape is how Pregel engines actually iterate on bounded vertex
  *     sets;
  *   - '''distributed-frontier''' (above the gate): frontier and visited
  *     are DataFrames; each hop is one equi-join (edges × frontier), one
  *     distinct, and one anti-join against visited — O(|V|/cluster)
  *     state, no driver residency. Frontiers are local-checkpointed so
  *     hop h's plan does not replay hops 1..h-1.
  */
object Bfs {

  /** Node-count bound for the driver-bitset path, costed for the
    * EXECUTORS: each per-hop treeAggregate task allocates an
    * `Array[Boolean](nV)` reach partial (10 MB at the gate, ×32
    * concurrent tasks ≈ 320 MB transient) and every task reads the
    * broadcast sorted node-id array + level array (~120 MB combined at
    * the gate — primitive arrays, not a boxed Map, so the footprint is
    * the arithmetic one). 10M nodes keeps all of that trivial; the old
    * 100M gate under-counted the broadcast (a boxed `Map[Long,Int]` of
    * 100M entries is tens of GB resident, not 5 bytes/node). Kept equal
    * to PageRank's gate for a uniform mental model.
    */
  val DriverNodeLimit = 10000000L

  /** @param pairs undirected edges, two integral id columns (either
    *              orientation, one row per edge)
    * @param hops  number of BFS supersteps from the seed
    * @param driverNodeLimit dispatch gate, parameterized so tests (and
    *              callers with tight drivers) can force the distributed
    *              path
    * @return (level, node): level 0 is the minimum node id in the edge
    *         list; nodes unreached within `hops` are absent
    */
  def levels(pairs: DataFrame, hops: Int,
             driverNodeLimit: Long = DriverNodeLimit): DataFrame = {
    val p = pairs.select(col(pairs.columns(0)).cast("long").as("a"),
                         col(pairs.columns(1)).cast("long").as("b"))
    // cache before the gate: the edge list is typically a derived
    // co-occurrence table, and the gate's node count plus the chosen
    // path both consume it (the PageRank dispatch lesson). LAZY persist —
    // the gate count is the action that populates the cache, so dispatch
    // costs ONE pass over the derivation, not an eager-materialize pass
    // plus a count
    val cached = p.persist(StorageLevel.MEMORY_AND_DISK_SER)
    val nNodes = cached.select(col("a").as("n"))
      .unionAll(cached.select(col("b").as("n"))).distinct()
      .limit((driverNodeLimit + 1).min(Int.MaxValue.toLong).toInt).count()
    val out =
      if (nNodes <= driverNodeLimit) driverBitset(cached, hops)
      else distributedFrontier(cached, hops)
    // driverBitset ends in driver arrays; distributedFrontier's result is
    // built from eager checkpoints — safe to release the input cache
    cached.unpersist(false)
    out
  }

  /** Driver-side frontier state, shuffle-free reach mask per hop. */
  private[graft] def driverBitset(pairs: DataFrame, hops: Int): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val eRdd = pairs.as[(Long, Long)].rdd
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val nodes = eRdd.flatMap(e => Seq(e._1, e._2)).distinct().collect().sorted
    // sorted primitive array + binary search (the PageRank id-index
    // scheme): 8 bytes/node broadcast, vs a boxed Map[Long,Int] whose
    // per-entry overhead is ~10x the payload at gate scale
    val bcNodes = s.sparkContext.broadcast(nodes)
    val level = Array.fill(nodes.length)(-1)
    // nodes is sorted, so index 0 is the min-id seed; an edgeless input
    // yields an empty result, not an out-of-bounds write
    if (nodes.nonEmpty) level(0) = 0
    for (hop <- 1 to hops) {
      val bcLevel = s.sparkContext.broadcast(level)
      // a pair (a, b) reaches b when a is on the current frontier (and
      // vice versa — the graph is undirected); treeAggregate ORs the
      // per-partition reach masks
      val reached = eRdd.treeAggregate(new Array[Boolean](nodes.length))(
        { case (acc, (a, b)) =>
          val ia = java.util.Arrays.binarySearch(bcNodes.value, a)
          val ib = java.util.Arrays.binarySearch(bcNodes.value, b)
          if (bcLevel.value(ia) == hop - 1) acc(ib) = true
          if (bcLevel.value(ib) == hop - 1) acc(ia) = true
          acc },
        { (x, y) =>
          var i = 0
          while (i < x.length) { x(i) = x(i) || y(i); i += 1 }; x })
      reached.indices.foreach { i =>
        if (reached(i) && level(i) < 0) level(i) = hop
      }
      bcLevel.destroy()
    }
    eRdd.unpersist(false)
    nodes.indices.collect { case i if level(i) >= 0 =>
      (level(i), nodes(i))
    }.toSeq.toDF("level", "node")
  }

  /** Distributed frontier/visited tables; one join + one distinct + one
    * anti-join per hop.
    */
  private[graft] def distributedFrontier(pairs: DataFrame,
                                         hops: Int): DataFrame = {
    // hash-partitioned on src once (localCheckpoint carries the physical
    // partitioning into the LogicalRDD): while the frontier fits the
    // broadcast threshold AQE broadcasts it, and once it outgrows that
    // (the regime this path exists for) the per-hop sort-merge join finds
    // the edge side pre-clustered and shuffles only frontier-sized data
    val sym = Materialize.checkpointed(pairs.filter(col("a") =!= col("b"))
      .select(col("a").as("src"), col("b").as("dst"))
      .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src")))
    val seed = pairs
      .agg(least(min(col("a")), min(col("b"))).as("node")).filter(col("node").isNotNull)
      .select(col("node"), lit(0).as("level"))
    var visited = Materialize.checkpointed(seed)
    var frontier = visited
    var hop = 1
    // stop early once the frontier empties — later hops cannot reach
    // anything, and each skipped hop saves three exchanges
    while (hop <= hops && !frontier.isEmpty) {
      frontier = Materialize.checkpointed(sym
        .join(frontier.select(col("node")), sym("src") === col("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(hop).as("level")))
      visited = Materialize.checkpointed(visited.unionAll(frontier))
      hop += 1
    }
    visited.select(col("level"), col("node"))
  }
}
