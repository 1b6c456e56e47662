package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering step
  * that turns verified near-dup pairs into dedup groups (transitive chains
  * A~B, B~C must dedup as one cluster).
  *
  * Three implementations, one contract ((node, min-reachable-id) for every
  * node in the edge list), proven equal by
  * ConnectedComponentsPropertySpec:
  *
  *   - '''driver union-find''' for bounded edge sets (≤ [[DriverEdgeLimit]]):
  *     one collect, no iteration — the common near-dup case, where verified
  *     pairs are a tiny fraction of the corpus;
  *   - '''large-star/small-star contraction''' ([[starContraction]]) — the
  *     distributed default. Each round halves component height by pointing
  *     nodes at their neighborhood minimum, so rounds grow with
  *     '''O(log n)''', independent of graph diameter (Kiveris et al.,
  *     "Connected Components in MapReduce and Beyond", SoCC'14). A 100 TB
  *     crawl with one pathological boilerplate chain converges in ~30
  *     rounds where min-label propagation would need rounds = chain length;
  *   - '''min-label propagation''' ([[minLabelDistributed]]) — the Pregel
  *     pattern kept as an independently-derived witness for the property
  *     spec; rounds = graph diameter, so it is no longer on the dispatch
  *     path.
  *
  * All iterative paths local-checkpoint per round (flat lineage, compact
  * state) and FAIL LOUDLY past their round cap instead of returning a
  * silently-unconverged labeling.
  */
object ConnectedComponents {

  /** Edge-count bound below which the whole graph is labeled driver-side:
    * one collect + union-find instead of diameter-many distributed rounds.
    * Near-dup edge sets are verified-pair survivors — usually a tiny
    * fraction of the corpus — so in practice most runs take this path;
    * the distributed loop remains the path for genuinely large edge sets.
    * The two implementations are proven equal by
    * ConnectedComponentsPropertySpec (min-label == union-find).
    */
  val DriverEdgeLimit = 100000L

  /** @param pairs undirected edges, two integral id columns (one row per edge;
    *              either orientation)
    * @return (node, label) — `label` is the minimum node id reachable from
    *         `node`; isolated nodes (absent from `pairs`) are absent here
    */
  def minLabel(pairs: DataFrame, maxIters: Int = 64): DataFrame = {
    val longPairs = castLong(pairs)
    // cheap job over the (typically Materialized) pairs; a bounded edge
    // set never needs the iterative machinery. Both paths label over
    // long ids so the output schema cannot depend on which path ran.
    if (longPairs.limit((DriverEdgeLimit + 1).toInt).count() <= DriverEdgeLimit)
      driverUnionFind(longPairs)
    else starContraction(pairs, maxIters)
  }

  private def castLong(pairs: DataFrame): DataFrame = {
    // integral ids only: a silent cast("long") over double/decimal ids
    // would TRUNCATE distinct nodes onto each other and fabricate merges
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    pairs.schema.fields.take(2).foreach { f =>
      require(integral.contains(f.dataType),
        s"node id column '${f.name}' must be integral, got ${f.dataType}")
    }
    val Seq(ca, cb) = pairs.columns.toSeq.take(2).map(col)
    pairs.select(ca.cast("long").as("a"), cb.cast("long").as("b"))
  }

  /** Alternating large-star / small-star contraction (Kiveris et al.,
    * SoCC'14) — the O(log n)-round distributed path.
    *
    * State is a canonical parent-edge set `(hi, lo)` with `hi > lo`,
    * distinct, self-loops dropped. Each round:
    *
    *   - '''large-star''': every node u points each STRICTLY LARGER
    *     neighbor v at m(u) = min(Γ(u) ∪ {u}). One symmetrize + groupBy +
    *     join. Output stays canonical (m(u) ≤ u < v).
    *   - '''small-star''': every node u points each smaller-or-equal
    *     neighbor AND ITSELF at the minimum of its smaller neighborhood.
    *     The canonical orientation IS the larger→smaller adjacency, so no
    *     second symmetrize: groupBy(hi) + join.
    *
    * Both operations preserve connectivity (each output edge connects two
    * nodes of the same component; each old edge's endpoints stay linked
    * through m), and the only fixpoints of the composition are disjoint
    * stars rooted at component minima — which is exactly the (node, label)
    * answer. Rounds needed shrink with component HEIGHT, not diameter:
    * a k-chain collapses in O(log k) rounds where min-label needs k.
    *
    * Convergence witness: an unchanged (count, Σhi, Σlo, Σxxhash64) edge
    * fingerprint — decimal sums so nothing wraps — confirmed by an EXACT
    * set compare (`exceptAll` both ways reduces to one direction because
    * counts already match and both sides are distinct). The fingerprint
    * alone would leave a (vanishing) collision chance; the exact compare
    * runs only on the round the fingerprint stabilizes, so its cost is one
    * extra join per RUN, not per round.
    *
    * Per-round shuffle shape at 100 TB: two groupBys + two equi-joins over
    * the shrinking edge set — the same shape as one min-label round, but
    * ~log n rounds total instead of diameter.
    */
  private[graft] def starContraction(pairs: DataFrame,
                                     maxIters: Int = 32): DataFrame = {
    val longPairs = castLong(pairs)
    // node universe: self-loop-only and isolated-in-contraction nodes must
    // still be labeled (with themselves) in the output
    val nodes = Materialize.lazyCheckpointed(longPairs
      .select(col("a").as("node"))
      .unionAll(longPairs.select(col("b").as("node")))
      .distinct())

    var edges = Materialize.lazyCheckpointed(
      longPairs.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("hi"),
                least(col("a"), col("b")).as("lo"))
        .distinct())

    def fingerprint(e: DataFrame): Seq[Any] =
      e.agg(count(lit(1)),
            sum(col("hi").cast("decimal(38,0)")),
            sum(col("lo").cast("decimal(38,0)")),
            sum(xxhash64(col("hi"), col("lo")).cast("decimal(38,0)")))
        .head().toSeq

    var prevFp = fingerprint(edges)
    var converged = prevFp.head == 0L // empty edge set: already stars
    var iter = 0
    while (!converged && iter < maxIters) {
      val prev = edges
      // -- large-star ------------------------------------------------------
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionAll(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lsMin = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(lsMin, "u")
        .filter(col("v") > col("u")) // larger neighbors only
        .select(col("v").as("hi"), col("m").as("lo")) // m ≤ u < v: canonical
        .distinct()
      // -- small-star ------------------------------------------------------
      // canonical (hi, lo) is already the larger→smaller adjacency
      val ssMin = ls.groupBy("hi").agg(min("lo").as("m"))
      val ss = ls.join(ssMin, "hi")
        .select(col("lo").as("node"), col("m"))
        .filter(col("node") =!= col("m")) // the minimum doesn't point at itself
        .unionAll(ssMin.select(col("hi").as("node"), col("m")))
        .select(col("node").as("hi"), col("m").as("lo")) // m ≤ every lo: canonical
        .distinct()
      edges = Materialize.lazyCheckpointed(ss)
      val fp = fingerprint(edges)
      converged = fp == prevFp &&
        (fp.head == 0L ||
          prev.exceptAll(edges).limit(1).count() == 0L) // exact confirm
      prevFp = fp
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge within $maxIters rounds — " +
          "O(log n) bound exceeded, which indicates a bug or adversarial " +
          "input; raise maxIters")
    // converged edge set is disjoint stars (hi = member, lo = component
    // min); nodes absent from it are their own component
    nodes.join(edges, nodes("node") === edges("hi"), "left")
      .select(col("node").as("doc"),
              coalesce(col("lo"), col("node")).as("label"))
  }

  /** The Pregel loop, dispatch-free — spec'd directly so the bounded-graph
    * fast path cannot shadow it from the tests that prove loop ==
    * union-find and the converge-or-raise contract.
    */
  private[graft] def minLabelDistributed(pairs: DataFrame,
                                         maxIters: Int = 64): DataFrame = {
    val longPairs = castLong(pairs)
    val edges = longPairs
      .unionAll(longPairs.select(col("b").as("a"), col("a").as("b")))

    // LAZY checkpoints: the per-round checksum is the action that
    // materializes the round's labels, so each round costs ONE Spark job
    // (an eager checkpoint followed by the checksum aggregate would pay
    // two). Lineage is still cut at materialization, keeping the loop's
    // plans flat.
    var labels = Materialize.lazyCheckpointed(
      edges.select(col("a").as("doc")).distinct()
        .withColumn("label", col("doc")))
    var prevSum = checksum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // one join + one aggregation per round: each node's new label is
      // the min over {its own label} ∪ {its neighbors' labels}, expressed
      // as a union feeding a single min-aggregate — the join-back of a
      // separate neighbor-min table would cost a second shuffle per round
      val contrib = edges
        .join(labels, edges("a") === labels("doc"))
        .select(col("b").as("doc"), col("label"))
        .unionAll(labels)
      labels = Materialize.lazyCheckpointed(
        contrib.groupBy("doc").agg(min("label").as("label")))
      val sumNow = checksum(labels)
      converged = sumNow.compareTo(prevSum) == 0
      prevSum = sumNow
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIters rounds " +
          "(graph diameter exceeds the cap); raise maxIters")
    labels
  }

  /** Bounded-graph path: collect the edge list, label with an iterative
    * union-find whose union rule (larger root points at smaller) makes
    * every root the minimum id of its component — exactly the min-label
    * fixpoint the distributed loop converges to.
    */
  private def driverUnionFind(longPairs: DataFrame): DataFrame = {
    val spark = longPairs.sparkSession
    import spark.implicits._
    val edges = longPairs.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x // path compression, iteratively (deep chains, no stack)
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
      .map(n => (n, find(n)))
      .toDF("doc", "label")
  }

  private def checksum(labels: DataFrame): java.math.BigDecimal = {
    // DECIMAL(38,0): a BIGINT sum wraps silently in non-ANSI mode, which
    // would let a wrapped sum masquerade as "unchanged". A decimal sum
    // does NOT raise in non-ANSI mode either — overflow yields NULL — so
    // the NULL cases must be told apart explicitly: sum is NULL over an
    // empty label set (no near-dup pairs is legal input; treat as 0 and
    // the loop converges immediately), while NULL with rows present means
    // overflow and must fail loudly rather than alias a fake fixpoint.
    // 38 digits cannot overflow for any realistic (label ≤ 2^63) ×
    // (rows ≤ 10^19) input, so the throw is a tripwire, not a code path.
    val row = labels
      .agg(sum(col("label").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n"))
      .head()
    val (s, n) = (row.getDecimal(0), row.getLong(1))
    if (s == null && n > 0)
      throw new ArithmeticException(
        s"label checksum overflowed DECIMAL(38,0) over $n rows — " +
          "convergence witness void")
    if (s == null) java.math.BigDecimal.ZERO else s
  }
}
