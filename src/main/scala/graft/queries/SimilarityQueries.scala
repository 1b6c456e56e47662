package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables.{table, tableParallel}
import graft.fs.NioLocalFs
import graft.functions.FloatVectorDot
import graft.operators.Materialize

/** Embedding similarity + sessionization operators (SURVEY.md §2-C).
  *
  * Scale notes:
  *   - q44 is the *exact* pairwise baseline, capped to a constant-size
  *     slice (quadratic cost must never reach the full corpus — q47 is the
  *     whole-corpus path); q45 broadcasts a small query set against the
  *     full corpus (linear scans, the realistic brute-force shape); q46 is
  *     the IVF scale path: assign once, then probe a few partitions —
  *     candidate set shrinks by ~nlist/nprobe.
  *   - all cosine math is double-promoted sequential folds (VectorOps), so
  *     DuckDB replays it exactly.
  */
object SimilarityQueries {

  /** All vector math goes through the native codegen expression
    * (FloatVectorDot — ~3x the throughput of the zip_with/aggregate fold on
    * pairwise workloads, bit-identical results).
    */
  private def dot(a: Column, b: Column): Column = FloatVectorDot.dot(a, b)
  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** FIXED index cardinalities — deliberately independent of corpus size.
    *
    * A corpus-fraction policy (nlist = N/50, codebook = N/10) makes every
    * ANN broadcast grow O(N): at 1B vectors that is 20M centroids (~10 GB)
    * on the broadcast side and a driver-held centroid array to match —
    * neither survives. Real IVF/PQ fixes these at index-build time
    * (nlist ≈ 2^10–2^16, a 256-entry codebook per subspace) and trains
    * them on a bounded sample, so index state is O(nlist + 256·m)
    * whatever the corpus. The values here are held small enough that the
    * DuckDB oracle — which replays assignment as an n×nlist cross join at
    * the gate SFs — stays tractable; production raises the constants, not
    * the shape.
    */
  val IvfNlist = 64
  val PqCodebookSize = 64
  /** The bounded recall-gate slice (vec_id < 300) uses smaller fixed
    * sizes so its index is neither trivial (every vector a centroid) nor
    * degenerate (one list swallowing the slice).
    */
  val SliceNlist = 8
  val SliceCodebookSize = 32
  /** Rank-block width for q122's within-cluster pair search
    * ([[graft.operators.SkewTools.blockedSelfPairs]]): per-task candidate
    * pairs are ≤ SemDedupBlock² (≈65k 64-dim cosines, ~ms of work)
    * independent of the largest cluster — a skewed centroid that swallows
    * half the corpus costs more TASKS, never a bigger task.
    */
  val SemDedupBlock = 256
  /** Greedy selection depth for q172's MMR re-rank — a constant of the
    * operator, like top-k everywhere else; q172's driver state and
    * broadcast sizes are O(MmrK).
    */
  val MmrK = 10

  /** q178's DCG discount table: rank → floor(1e9 / log2(rank + 1)), the
    * classic log2 position discount as a PRE-COMPUTED literal LUT. Both
    * engines join these identical integer constants (a 10-row broadcast /
    * VALUES list), so neither ever evaluates a transcendental at query
    * time — DCG stays exact integer math and the oracle hash-matches by
    * construction, not by float luck.
    */
  val NdcgDiscounts: Seq[(Long, Long)] = Seq(
    1L -> 1000000000L, 2L -> 630929753L, 3L -> 500000000L,
    4L -> 430676558L, 5L -> 386852807L, 6L -> 356207187L,
    7L -> 333333333L, 8L -> 315464876L, 9L -> 301029995L,
    10L -> 289064826L)

  /** DuckDB VALUES twin of [[NdcgDiscounts]] (BIGINT-cast: an INTEGER
    * gain×disc product would overflow DuckDB's ANSI int32 at gain 3).
    */
  private def ndcgDiscountValues: String =
    NdcgDiscounts.map { case (r, d) => s"($r::BIGINT, $d::BIGINT)" }
      .mkString(", ")

  /** Exactly-k hash-deterministic training sample: order ids by the md5 of
    * their decimal string (DuckDB computes the identical digest over the
    * identical UTF-8 bytes, and hex strings compare identically in both
    * engines) and keep the first k, tie-broken by id. Plans as
    * TakeOrderedAndProject — one scan, O(k) state per task, no shuffle —
    * so drawing the sample costs a linear pass at any corpus size and the
    * result is exactly k rows, never a fraction of N.
    */
  private def hashSample(df: DataFrame, k: Int): DataFrame =
    df.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)

  /** DuckDB twin of [[hashSample]] as an ORDER BY/LIMIT tail. */
  private def hashSampleSql(k: Int): String =
    s"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k"

  /** The q174 greedy farthest-point loop, factored so the coverage audit
    * (q213) selects with EXACTLY the argmax the catalog entry pins: k
    * driver rounds, each one linear pass over the cached candidates
    * against a ≤k-row broadcast, integer floor-micro argmax with vec_id
    * tie-break. Returns (picked (id, vector, ‖v‖²) in pick order, the
    * (rank, id, radius_s) audit rows).
    */
  private def kcenterPicks(s: SparkSession, cand: DataFrame, k: Int)
      : (Vector[(Long, Array[Float], Double)], Vector[(Int, Long, Long)]) = {
    import s.implicits._
    val seed = cand.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("v"), col("vv")).head()
    var picked = Vector((seed.getAs[Long]("vec_id"),
      seed.getAs[Seq[Float]]("v").toArray, seed.getAs[Double]("vv")))
    var out = Vector((1, 0L, 0L))
    for (t <- 2 to k) {
      val sel = broadcast(picked.toDF("svec_id", "sv", "svv"))
      val top = cand.filter(!col("vec_id").isin(picked.map(_._1): _*))
        .crossJoin(sel)
        .groupBy(col("vec_id"))
        .agg(first(col("v")).as("v"), first(col("vv")).as("vv"),
          min(floor((col("vv") - lit(2.0) * dot(col("v"), col("sv"))
            + col("svv")) * lit(1000000)).cast("long")).as("mind_s"))
        .orderBy(desc("mind_s"), asc("vec_id"))
        .limit(1).head()
      out :+= ((t, top.getAs[Long]("vec_id"), top.getAs[Long]("mind_s")))
      picked :+= ((top.getAs[Long]("vec_id"),
        top.getAs[Seq[Float]]("v").toArray, top.getAs[Double]("vv")))
    }
    (picked, out)
  }

  /** q158's recall gate, parameterized on `nlist` so IvfRecallSpec can
    * prove the floors and the hashSample index machinery hold at more
    * than one parameter point (the catalog entry pins SliceNlist; the
    * spec additionally runs a second point). Exact cosine top-10 on the
    * bounded validation slice vs the IVF assign/probe/re-rank pipeline
    * at the given nlist, nprobe = 3.
    */
  private[queries] def ivfRecall(s: SparkSession, dir: String,
                                 nlist: Int): DataFrame = {
    val e = tableParallel(s, dir, "embeddings")
      .filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
              col("nrm").as("qn")))
    val wTop = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("vec_id"))
    val exact = e.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    val cent = broadcast(hashSample(e, nlist)
      .select(col("vec_id").as("cid"), col("v").as("cv")))
    def l2(a: String, b: String) =
      dot(col(a), col(a)) - lit(2.0) * dot(col(a), col(b)) +
        dot(col(b), col(b))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(asc("d2"), asc("cid"))
    val assign = e.join(cent)
      .withColumn("d2", l2("v", "cv"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(asc("d2"), asc("cid"))
    val probe = q.join(cent)
      .withColumn("d2", l2("qv", "cv"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("qv"), col("qn"), col("cid"))
    val ivf = broadcast(probe).join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    exact
      .join(ivf.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
           sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit") * 1.0 / col("n_exact"), 4).as("recall"))
      .orderBy("query_id")
  }

  /** q169's recall gate, parameterized on the per-subspace codebook size
    * for the same reason as [[ivfRecall]]: PqRecallSpec measures the
    * quantization quality at a second codebook point to prove neither
    * the floors nor the hashSample codebook draw are tuned to one
    * constant. Exact scaled-integer L2 top-10 on the bounded slice vs
    * the PQ encode/LUT/ADC pipeline at the given codebook size.
    */
  private[queries] def pqRecall(s: SparkSession, dir: String,
                                codebookSize: Int): DataFrame = {
    val e = tableParallel(s, dir, "embeddings")
      .filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding").as("v"))
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    def d2(a: Column, b: Column): Column =
      dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)
    val wExact = Window.partitionBy("query_id")
      .orderBy(asc("d2s"), asc("vec_id"))
    val exact = e.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("d2s",
        floor(d2(col("qv"), col("v")) * 1e6).cast("long"))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    def subbed(df: org.apache.spark.sql.DataFrame, idCol: String) = df
      .select(col(idCol), explode(sequence(lit(0), lit(7))).as("j"),
        col("v"))
      .select(col(idCol), col("j"),
        slice(col("v"), col("j") * 8 + 1, lit(8)).as("sub"))
    val cents = broadcast(
      subbed(hashSample(e, codebookSize)
        .select(col("vec_id").as("cid"), col("v")), "cid")
        .select(col("cid"), col("j"), col("sub").as("csub")))
    val codes = subbed(e, "vec_id").join(cents, "j")
      .withColumn("d2s", floor(d2(col("sub"), col("csub")) * 1e6)
        .cast("long"))
      .groupBy("vec_id", "j")
      .agg(min(struct(col("d2s"), col("cid"))).as("m"))
      .select(col("vec_id"), col("j"), col("m.cid").as("code"))
    val lut = broadcast(
      subbed(q.select(col("query_id"), col("qv").as("v")), "query_id")
      .join(cents, "j")
      .withColumn("pd2s", floor(d2(col("sub"), col("csub")) * 1e6)
        .cast("long"))
      .select(col("query_id"), col("j"), col("cid").as("code"),
        col("pd2s")))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(asc("adc_d2_scaled"), asc("vec_id"))
    val pq = codes.join(lut, Seq("j", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pd2s").as("adc_d2_scaled"))
      .withColumn("rnk", row_number().over(wAdc))
      .filter(col("rnk") <= 10)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    exact
      .join(pq.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
           sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit") * 1.0 / col("n_exact"), 4).as("recall"))
      .orderBy("query_id")
  }

  /** The IVF-PQ retrieval pipeline (q170's plan), parameterized on the
    * query predicate and the candidate depth `m` so the composed
    * retrieval→selection queries (q179) reuse the IDENTICAL index build,
    * probe, and ADC machinery rather than a re-derivation. Returns
    * (query_id, neighbor_id, adc_d2_scaled, rnk ≤ m). All broadcast sides
    * are fixed-cardinality (IvfNlist coarse centroids, PqCodebookSize·8
    * codebook rows, the query set, the per-query LUT of 3·8·codebook
    * rows); the corpus is touched by the budgeted assign/encode scans
    * only — candidate depth changes the final filter, never the shape.
    */
  /** Per-process parquet mirror of the IVF-PQ INDEX (coarse centroids,
    * PQ codebook, corpus codes) — the fourth staged artifact: exactly
    * the bytes a production ANN service persists once per corpus
    * snapshot and probes from every query. q170 and q179 each rebuilt
    * the full index (sample, coarse-assign the corpus, train the
    * codebook, encode) before probing; now the build runs once per
    * (sfDir, JVM) and both consumers read the artifact. Contents are
    * the exact frames the inline build produced (float/double arrays
    * round-trip parquet bit-exactly; codes are integers), so probe/LUT/
    * ADC results are unchanged.
    */
  private val ivfPqMirror =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ivfPqIndexBase(s: SparkSession, dir: String): String =
    ivfPqMirror.computeIfAbsent(dir, _ => graft.operators.StagedArtifacts.timed(
      s"ivfpq@${new java.io.File(dir).getName}") {
      import graft.functions.DoubleVectorDot
      def ddot(a: Column, b: Column): Column = DoubleVectorDot.dot(a, b)
      def rd2(a: Column, b: Column): Column =
        ddot(a, a) - lit(2.0) * ddot(a, b) + ddot(b, b)
      def fd2(a: String, b: String): Column =
        dot(col(a), col(a)) - lit(2.0) * dot(col(a), col(b)) +
          dot(col(b), col(b))
      def residual(v: Column, c: Column): Column =
        zip_with(v, c, (x, y) => x.cast("double") - y.cast("double"))

      val out = graft.operators.StagedArtifacts.tempDir("graft-ivfpq-")
      val e = tableParallel(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      // coarse centroids (IvfNlist rows) and the corpus assignment are
      // each consumed by TWO downstream paths (assign, and the
      // codebook+encode chains) — cached, the corpus is assigned ONCE
      val coarseM = Materialize(hashSample(e, IvfNlist)
        .select(col("vec_id").as("ccid"), col("v").as("cv")))
      val coarse = broadcast(coarseM)
      NioLocalFs.writer(coarseM.coalesce(1)).mode("overwrite")
        .parquet(s"$out/coarse")

      // coarse assignment + residual, one pass over the corpus
      val wAssign = Window.partitionBy("vec_id")
        .orderBy(asc("cd2s"), asc("ccid"))
      val assign = Materialize(e.join(coarse)
        .withColumn("cd2s", floor(fd2("v", "cv") * 1e6).cast("long"))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("ccid"),
          residual(col("v"), col("cv")).as("rv")))

      // residual subvectors; codebook = the residual subvectors of a
      // FIXED-SIZE hash sample of ids (PqCodebookSize entries per
      // subspace whatever the corpus — never a fraction of N)
      val sub = assign
        .select(col("vec_id"), col("ccid"),
          explode(sequence(lit(0), lit(7))).as("j"), col("rv"))
        .select(col("vec_id"), col("ccid"), col("j"),
          slice(col("rv"), col("j") * 8 + 1, lit(8)).as("rsub"))
      val bookIds = hashSample(e, PqCodebookSize).select(col("vec_id"))
      val bookM = Materialize(
        sub.join(broadcast(bookIds), "vec_id")
          .select(col("vec_id").as("sid"), col("j"),
            col("rsub").as("bsub")))
      val book = broadcast(bookM)
      NioLocalFs.writer(bookM.coalesce(1)).mode("overwrite")
        .parquet(s"$out/book")

      // encode: per (vector, subspace), code = argmin over the codebook
      NioLocalFs.writer(sub.join(book, "j")
        .withColumn("bd2s", floor(rd2(col("rsub"), col("bsub")) * 1e6)
          .cast("long"))
        .groupBy("vec_id", "ccid", "j")
        .agg(min(struct(col("bd2s"), col("sid"))).as("m"))
        .select(col("vec_id"), col("ccid"), col("j"),
          col("m.sid").as("code"))
        .coalesce(2)).mode("overwrite").parquet(s"$out/codes")
      assign.unpersist()
      coarseM.unpersist()
      bookM.unpersist()
      // build-time cardinality gate: consumers re-assert the index
      // bounds with .limit() at read, which would silently select an
      // arbitrary subset of an OVERSIZED artifact — fail loudly here
      // instead, once per JVM, while the build is on the stack
      val nCoarse = s.read.parquet(s"$out/coarse").count()
      require(nCoarse <= IvfNlist,
        s"staged IVF-PQ coarse list has $nCoarse rows > nlist=$IvfNlist")
      val nBook = s.read.parquet(s"$out/book").count()
      require(nBook <= PqCodebookSize * 8,
        s"staged PQ codebook has $nBook rows > ${PqCodebookSize * 8}")
      out
    })

  private def ivfPqTopM(s: SparkSession, dir: String,
                        queryPred: Column, m: Int): DataFrame = {
    import graft.functions.DoubleVectorDot
    def ddot(a: Column, b: Column): Column = DoubleVectorDot.dot(a, b)
    def rd2(a: Column, b: Column): Column =
      ddot(a, a) - lit(2.0) * ddot(a, b) + ddot(b, b)
    def fd2(a: String, b: String): Column =
      dot(col(a), col(a)) - lit(2.0) * dot(col(a), col(b)) +
        dot(col(b), col(b))
    def residual(v: Column, c: Column): Column =
      zip_with(v, c, (x, y) => x.cast("double") - y.cast("double"))

    val base = ivfPqIndexBase(s, dir)
    // the .limit() re-asserts each artifact's index-parameter
    // cardinality bound at plan level (GlobalLimit), keeping the
    // ANN-family fixed-cardinality broadcast invariant provable; the
    // files hold at most that many rows, so it selects everything
    val coarse = broadcast(
      s.read.parquet(s"$base/coarse").limit(IvfNlist.toInt))
    val book = broadcast(
      s.read.parquet(s"$base/book").limit(PqCodebookSize.toInt * 8))
    val codes = s.read.parquet(s"$base/codes")

    val e = tableParallel(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    // queries probe the top-3 coarse lists; LUT is per probed list
    // because residuals are list-relative (q − c changes with c)
    val q = broadcast(e.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv")))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(asc("cd2s"), asc("ccid"))
    val probe = q.join(coarse)
      .withColumn("cd2s", floor(fd2("qv", "cv") * 1e6).cast("long"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 3)
      .select(col("query_id"), col("ccid"),
        residual(col("qv"), col("cv")).as("qrv"))
    val lut = broadcast(probe
      .select(col("query_id"), col("ccid"),
        explode(sequence(lit(0), lit(7))).as("j"), col("qrv"))
      .select(col("query_id"), col("ccid"), col("j"),
        slice(col("qrv"), col("j") * 8 + 1, lit(8)).as("qsub"))
      .join(book, "j")
      .withColumn("pd2s", floor(rd2(col("qsub"), col("bsub")) * 1e6)
        .cast("long"))
      .select(col("query_id"), col("ccid"), col("j"),
        col("sid").as("code"), col("pd2s")))

    // ADC: each candidate in a probed list meets exactly 8 LUT rows
    val wTop = Window.partitionBy("query_id")
      .orderBy(asc("adc_d2_scaled"), asc("vec_id"))
    codes.join(lut, Seq("ccid", "j", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum("pd2s").as("adc_d2_scaled"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= m)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_d2_scaled"), col("rnk"))
  }

  /** DuckDB twin of [[ivfPqTopM]] as a WITH-chain body ending in the
    * `topm` CTE (query_id, neighbor_id, adc_d2_scaled, rnk ≤ m). q170
    * SELECTs from it directly; q179 composes the MMR stages on top.
    */
  private def ivfPqChainSql(queryPred: String, m: Int): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |          FROM embeddings),
       |coarse AS (SELECT vec_id AS ccid, v AS cv FROM e
       |           ${hashSampleSql(IvfNlist)}),
       |assign AS (
       |  SELECT vec_id, ccid,
       |    list_transform(range(1, 65), i -> v[i] - cv[i]) AS rv
       |  FROM (
       |    SELECT e.vec_id, c.ccid, e.v, c.cv,
       |      CAST(row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY CAST(floor((list_dot_product(e.v, e.v)
       |          - 2.0 * list_dot_product(e.v, c.cv)
       |          + list_dot_product(c.cv, c.cv)) * 1e6) AS BIGINT),
       |          c.ccid) AS INT) AS rn
       |    FROM e CROSS JOIN coarse c) WHERE rn = 1),
       |sub AS (SELECT vec_id, ccid, j,
       |          list_slice(rv, j * 8 + 1, j * 8 + 8) AS rsub
       |        FROM assign CROSS JOIN range(0, 8) t(j)),
       |bsel AS (SELECT vec_id FROM e ${hashSampleSql(PqCodebookSize)}),
       |book AS (SELECT vec_id AS sid, j, rsub AS bsub FROM sub
       |         WHERE vec_id IN (SELECT vec_id FROM bsel)),
       |enc AS (
       |  SELECT vec_id, ccid, j, sid AS code FROM (
       |    SELECT s.vec_id, s.ccid, s.j, b.sid,
       |      CAST(row_number() OVER (PARTITION BY s.vec_id, s.j
       |        ORDER BY CAST(floor((list_dot_product(s.rsub, s.rsub)
       |          - 2.0 * list_dot_product(s.rsub, b.bsub)
       |          + list_dot_product(b.bsub, b.bsub)) * 1e6) AS BIGINT),
       |          b.sid) AS INT) AS rn
       |    FROM sub s JOIN book b ON b.j = s.j) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e
       |      WHERE $queryPred),
       |probe AS (
       |  SELECT query_id, ccid,
       |    list_transform(range(1, 65), i -> qv[i] - cv[i]) AS qrv
       |  FROM (
       |    SELECT q.query_id, c.ccid, q.qv, c.cv,
       |      CAST(row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY CAST(floor((list_dot_product(q.qv, q.qv)
       |          - 2.0 * list_dot_product(q.qv, c.cv)
       |          + list_dot_product(c.cv, c.cv)) * 1e6) AS BIGINT),
       |          c.ccid) AS INT) AS rn
       |    FROM q CROSS JOIN coarse c) WHERE rn <= 3),
       |qsub AS (SELECT query_id, ccid, j,
       |           list_slice(qrv, j * 8 + 1, j * 8 + 8) AS qsub
       |         FROM probe CROSS JOIN range(0, 8) t(j)),
       |lut AS (
       |  SELECT s.query_id, s.ccid, s.j, b.sid AS code,
       |    CAST(floor((list_dot_product(s.qsub, s.qsub)
       |      - 2.0 * list_dot_product(s.qsub, b.bsub)
       |      + list_dot_product(b.bsub, b.bsub)) * 1e6) AS BIGINT)
       |      AS pd2s
       |  FROM qsub s JOIN book b ON b.j = s.j),
       |adc AS (
       |  SELECT l.query_id, e.vec_id,
       |    CAST(sum(l.pd2s) AS BIGINT) AS adc_d2_scaled
       |  FROM enc e JOIN lut l
       |    ON l.ccid = e.ccid AND l.j = e.j AND l.code = e.code
       |  WHERE e.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |topm AS (
       |  SELECT query_id, neighbor_id, adc_d2_scaled, rnk FROM (
       |    SELECT query_id, vec_id AS neighbor_id, adc_d2_scaled,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_d2_scaled, vec_id) AS INT) AS rnk
       |    FROM adc)
       |  WHERE rnk <= $m)""".stripMargin

  private val duckNormed =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)""".stripMargin

  /** Oracle unroll budget for q66: must be ≥ the Lloyd convergence count
    * on the CORRECTNESS fixture (sf0.01 with the fixed IvfNlist-sized
    * hash-sample init converges in 3; asserted with margin by
    * KmeansConvergenceSpec). Extra unrolls are no-ops by the fixed-point
    * property, they only cost DuckDB runtime.
    */
  val KmeansOracleUnroll = 20

  /** k-means (integer-space Lloyd) to convergence: iterate
    * assign → retrain until the centroids are identical two rounds in a
    * row (deterministic argmin, so centroid fixed-point == assignment
    * fixed-point), then return the converged per-centroid summary plus
    * the number of retrain iterations executed. Raises if `maxIters`
    * rounds pass without stabilizing — never returns a silently
    * unconverged model.
    *
    * The k centroids (k*64 longs) live DRIVER-side between iterations —
    * the same structure Spark MLlib's KMeans uses (collect centers, then
    * broadcast into the next assignment pass). Each training iteration is
    * ONE shuffle-free treeAggregate job over a cached RDD of primitive
    * vectors (assign + per-centroid partial sums fused in the seqOp;
    * partials are k*dim longs regardless of row count), so per-iteration
    * cost is a single stage, not a chain of AQE query stages. Only the
    * vectors stay distributed, so the shape is unchanged at 100 TB.
    */
  def ivfKmeans(s: SparkSession, dir: String, maxIters: Int = 40)
      : (org.apache.spark.sql.DataFrame, Int) = {
    import graft.functions.LongVectorL2
    import graft.operators.Materialize
    import s.implicits._
    val e = Materialize(tableParallel(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000000).cast("long")).as("vq")))

    def centDf(cents: Seq[(Long, Seq[Long])]) =
      broadcast(cents.toDF("cid", "cq"))

    // argmin as an AGGREGATE, not a window: the centroid side is a
    // broadcast, so the n*k candidate rows exist only inside each map
    // task and min(struct(d2, cid)) collapses them to one row per vector
    // BEFORE any exchange — a window formulation would shuffle and sort
    // all n*k rows per iteration just to pick row_number()=1. Tie-break
    // (lowest cid) matches the struct's lexicographic order.
    def assign(cent: org.apache.spark.sql.DataFrame) =
      e.join(cent)
        .withColumn("d2", LongVectorL2.l2(col("vq"), col("cq")))
        .groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid"))).as("m"),
             min_by(col("vq"), struct(col("d2"), col("cid"))).as("vq"))
        .select(col("vec_id"), col("vq"),
          col("m.cid").as("cid"), col("m.d2").as("d2"))

    // Training iterations run as ONE shuffle-free treeAggregate job each
    // over a cached RDD of primitive long arrays — the exact shape MLlib's
    // KMeans uses. The earlier declarative loop paid 3 AQE query stages
    // per iteration (broadcast join, per-vector argmin shuffle, per-
    // centroid re-agg shuffle); at 16 iterations that fixed overhead — not
    // the arithmetic — was the entire cost. All math is the same integer
    // sequence (long squared-L2 over the common prefix, first-lowest-cid
    // tie-break, per-member long sums, floor(sv * 1.0 / cnt)), so the
    // centroid trajectory — and the oracle's statically-unrolled one — is
    // bit-identical. treeAggregate keeps the reduction distributed at
    // 100 TB: partials are k*dim longs regardless of row count.
    val vecs = e.select(col("vq")).as[Seq[Long]].rdd.map(_.toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

    def retrainRdd(cents: Seq[(Long, Seq[Long])]): Seq[(Long, Seq[Long])] = {
      val k = cents.size
      val cids = cents.map(_._1).toArray
      val bcCents = s.sparkContext.broadcast(cents.map(_._2.toArray).toArray)
      val (sums, counts) = vecs.treeAggregate(
        (Array.ofDim[Long](k, 64), new Array[Long](k)))(
        seqOp = { case (acc, v) =>
          val cs = bcCents.value
          var best = 0; var bestD = Long.MaxValue
          var c = 0
          while (c < k) {
            val cq = cs(c)
            val n = math.min(v.length, cq.length)
            var d2 = 0L; var i = 0
            while (i < n) { val d = v(i) - cq(i); d2 += d * d; i += 1 }
            // strict < over ascending cids == min(struct(d2, cid))
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          val row = acc._1(best)
          var i = 0
          val m = math.min(v.length, 64)
          while (i < m) { row(i) += v(i); i += 1 }
          acc._2(best) += 1
          acc
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var c = 0
          while (c < k) {
            val (r1, r2) = (s1(c), s2(c))
            var i = 0
            while (i < 64) { r1(i) += r2(i); i += 1 }
            n1(c) += n2(c)
            c += 1
          }
          (s1, n1)
        })
      bcCents.destroy()
      // a centroid that captured no members drops out, exactly as a
      // groupBy(cid) over the assignment would omit it
      cids.indices.iterator.filter(counts(_) > 0).map { c =>
        cids(c) -> (0 until 64)
          .map(i => math.floor(sums(c)(i) * 1.0 / counts(c)).toLong)
      }.toSeq.sortBy(_._1)
    }

    // init = the fixed-size hash sample (k = IvfNlist whatever the corpus),
    // so the driver-held model is k·64 longs — a constant — not N/50·64
    var cents = hashSample(e, IvfNlist)
      .select(col("vec_id").as("cid"), col("vq").as("cq"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    var iters = 0
    var stable = false
    while (!stable && iters < maxIters) {
      val next = retrainRdd(cents)
      stable = next == cents
      cents = next
      iters += 1
    }
    vecs.unpersist(false)
    if (!stable)
      throw new IllegalStateException(
        s"k-means did not converge within $maxIters Lloyd iterations")
    val out = assign(centDf(cents))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"), sum("d2").as("total_d2"))
      .orderBy("cid")
    (out, iters)
  }

  /** DuckDB oracle for [[ivfKmeans]]: `unroll` statically-unrolled Lloyd
    * iterations (recursive CTEs cannot hold the retrain aggregate). By the
    * fixed-point property this equals the converged loop whenever
    * `unroll` ≥ the convergence count.
    */
  def kmeansOracleSql(unroll: Int): String = {
    val dist = (cent: String) =>
      s"""SELECT e.vec_id, e.vq, $cent.cid,
         |  list_sum(list_transform(range(1, 65),
         |    d -> (e.vq[d] - $cent.cq[d]) * (e.vq[d] - $cent.cq[d]))) AS d2
         |FROM e CROSS JOIN $cent""".stripMargin
    val argmin = (d: String) =>
      s"""SELECT vec_id, vq, cid, d2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2, cid) AS rn FROM $d) WHERE rn = 1""".stripMargin
    val iterations = (1 to unroll).map { i =>
      s"""d$i AS MATERIALIZED (${dist(s"c${i - 1}")}),
         |a$i AS MATERIALIZED (${argmin(s"d$i")}),
         |comp$i AS MATERIALIZED (SELECT cid, d,
         |    CAST(floor(sum(vq[d]) * 1.0 / count(*)) AS BIGINT) AS cval
         |  FROM a$i, range(1, 65) t(d) GROUP BY cid, d),
         |c$i AS MATERIALIZED (SELECT cid, list(cval ORDER BY d) AS cq FROM comp$i GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding::DOUBLE[],
       |            x -> CAST(floor(x * 1000000) AS BIGINT)) AS vq
       |          FROM embeddings),
       |c0 AS MATERIALIZED (SELECT vec_id AS cid, vq AS cq FROM e ${hashSampleSql(IvfNlist)}),
       |$iterations,
       |df AS MATERIALIZED (${dist(s"c$unroll")}),
       |af AS MATERIALIZED (${argmin("df")})
       |SELECT cid, count(*) AS n_members, CAST(sum(d2) AS BIGINT) AS total_d2
       |FROM af GROUP BY cid ORDER BY cid""".stripMargin
  }

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- exact pairwise near-dup (bounded validation baseline) ------------
    // Pairwise-exact cosine is inherently quadratic, so the shipped entry
    // is EXPLICITLY CAPPED to the `vec_id < 300` slice: a constant-size
    // validation set whatever the corpus size, so no full-corpus cartesian
    // can ever appear in a catalog plan. The cap pushes down to both
    // parquet scans (PushedFilters: LessThan(vec_id, 300)). Use this entry
    // to validate recall of the scale path — q47 (SRP-LSH band join +
    // exact re-check) is the production operator for whole-corpus
    // embedding dedup.
    "q44_embed_neardup_cosine" -> QueryDef(
      (s, dir) => {
        val e = tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding").as("v"))
          .withColumn("nrm", norm(col("v")))
        e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
          .withColumn("cos_sim",
            dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .filter(col("cos_sim") >= 0.4)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
                  round(col("cos_sim"), 4).as("cos_sim"))
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
              |          FROM embeddings WHERE vec_id < 300),
              |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
              |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
              |FROM n a JOIN n b ON a.vec_id < b.vec_id
              |WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
              |ORDER BY vec_a, vec_b""".stripMargin)),

    // ---- brute-force top-k ANN --------------------------------------------
    "q45_ann_topk_bruteforce" -> QueryDef(
      (s, dir) => {
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
          .withColumn("nrm", norm(col("v")))
        val q = broadcast(e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
                  col("nrm").as("qn")))
        val sims = e.join(q, col("vec_id") =!= col("query_id"))
          .withColumn("sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
        val w = Window.partitionBy("query_id")
          .orderBy(desc("sim"), asc("vec_id"))
        sims.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
                  round(col("sim"), 4).as("sim"), col("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH $duckNormed,
              |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
              |      FROM n WHERE vec_id < 5),
              |sims AS (
              |  SELECT q.query_id, c.vec_id AS neighbor_id,
              |    list_dot_product(q.qv, c.v) / (q.qn * c.nrm) AS sim
              |  FROM q JOIN n c ON c.vec_id <> q.query_id),
              |ranked AS (
              |  SELECT query_id, neighbor_id, sim,
              |    CAST(row_number() OVER (PARTITION BY query_id
              |      ORDER BY sim DESC, neighbor_id) AS INT) AS rnk
              |  FROM sims)
              |SELECT query_id, neighbor_id, round(sim, 4) AS sim, rnk
              |FROM ranked WHERE rnk <= 10
              |ORDER BY query_id, rnk""".stripMargin)),

    // ---- IVF-style ANN (the scale path) -----------------------------------
    // "Centroids" are a FIXED-SIZE hash-deterministic sample (IvfNlist ids
    // in md5 order) standing in for trained k-means centers — index state
    // is O(nlist), never a fraction of the corpus; the structure (assign
    // to nearest list, probe nprobe lists, exact re-rank within
    // candidates) is the real IVF dataflow, all equi-joins + windows.
    "q46_ann_ivf" -> QueryDef(
      (s, dir) => {
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        // the centroid table is joined by BOTH the corpus assignment and
        // the query probe — cached, its corpus-wide TakeOrdered sample
        // runs once (IvfNlist rows held)
        val cent = broadcast(Materialize(hashSample(e, IvfNlist)
          .select(col("vec_id").as("cid"), col("v").as("cv"))))

        def l2(a: String, b: String) =
          dot(col(a), col(a)) - lit(2.0) * dot(col(a), col(b)) +
            dot(col(b), col(b))

        val wAssign = Window.partitionBy("vec_id")
          .orderBy(asc("d2"), asc("cid"))
        val assign = e.join(cent)
          .withColumn("d2", l2("v", "cv"))
          .withColumn("rn", row_number().over(wAssign))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("v"), col("cid"))

        val wProbe = Window.partitionBy("query_id")
          .orderBy(asc("d2"), asc("cid"))
        val probe = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
          .join(cent)
          .withColumn("d2", l2("qv", "cv"))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 3)
          .select(col("query_id"), col("qv"), col("cid"))

        val cands = broadcast(probe).join(assign, "cid")
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("sim",
            dot(col("qv"), col("v")) / (norm(col("qv")) * norm(col("v"))))
        val wTop = Window.partitionBy("query_id")
          .orderBy(desc("sim"), asc("vec_id"))
        cands.withColumn("rnk", row_number().over(wTop))
          .filter(col("rnk") <= 10)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
                  round(col("sim"), 4).as("sim"), col("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |cent AS (SELECT vec_id AS cid, v AS cv FROM e ${hashSampleSql(IvfNlist)}),
              |assign AS (
              |  SELECT vec_id, v, cid FROM (
              |    SELECT e.vec_id, e.v, cent.cid,
              |      CAST(row_number() OVER (PARTITION BY e.vec_id ORDER BY
              |        list_dot_product(e.v, e.v)
              |          - 2.0 * list_dot_product(e.v, cent.cv)
              |          + list_dot_product(cent.cv, cent.cv), cent.cid)
              |        AS INT) AS rn
              |    FROM e CROSS JOIN cent) WHERE rn = 1),
              |probe AS (
              |  SELECT query_id, qv, cid FROM (
              |    SELECT q.vec_id AS query_id, q.v AS qv, cent.cid,
              |      CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
              |        list_dot_product(q.v, q.v)
              |          - 2.0 * list_dot_product(q.v, cent.cv)
              |          + list_dot_product(cent.cv, cent.cv), cent.cid)
              |        AS INT) AS rn
              |    FROM (SELECT * FROM e WHERE vec_id < 5) q CROSS JOIN cent)
              |  WHERE rn <= 3),
              |cands AS (
              |  SELECT p.query_id, a.vec_id,
              |    list_dot_product(p.qv, a.v) /
              |      (sqrt(list_dot_product(p.qv, p.qv)) *
              |       sqrt(list_dot_product(a.v, a.v))) AS sim
              |  FROM probe p JOIN assign a ON a.cid = p.cid
              |  WHERE a.vec_id <> p.query_id)
              |SELECT query_id, neighbor_id, sim, rnk FROM (
              |  SELECT query_id, vec_id AS neighbor_id, round(sim, 4) AS sim,
              |    CAST(row_number() OVER (PARTITION BY query_id
              |      ORDER BY sim DESC, vec_id) AS INT) AS rnk
              |  FROM cands)
              |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // ---- trained IVF: one exact k-means (Lloyd) iteration -----------------
    // q46's centroids are a deterministic sample; this entry TRAINS them:
    // Lloyd iterations (assign to nearest centroid, recompute each centroid
    // as its cluster mean) UNTIL ASSIGNMENTS ARE STABLE, converge-or-raise
    // like ConnectedComponents. All arithmetic runs in 1e6-scaled INTEGER
    // space (floor once at input) because integer sums are
    // order-independent — float centroid means would differ between
    // Spark's partial aggregates and DuckDB's sequential fold in the last
    // ulp and desync the oracle. Shapes per iteration: one
    // broadcast-centroid assign pass (linear in n·nlist, the IVF cost) and
    // one (cid, dim) aggregation for the retrain — no driver-side math, no
    // collect. Native LongVectorL2 keeps the distance evaluations in
    // codegen. The oracle unrolls a fixed iteration budget: k-means is a
    // fixed-point iteration (stable assignments reproduce identical
    // centroids), so any unroll ≥ the convergence count yields the
    // identical result the converged loop returns.
    "q66_ivf_kmeans" -> QueryDef(
      (s, dir) => ivfKmeans(s, dir)._1,
      Some(kmeansOracleSql(KmeansOracleUnroll))),

    // ---- signed-random-projection LSH near-dup (the embedding scale path) --
    // 16 deterministic hyperplanes (md5-derived pseudo-randoms, so DuckDB
    // reconstructs the identical planes), banded 4x4 bits: candidate pairs
    // come from an equi-join on (band, 4-bit key) instead of the O(n^2)
    // pairwise scan of q44; survivors get the exact cosine check.
    "q47_embed_lsh_srp" -> QueryDef(
      (s, dir) => {
        import graft.functions.SrpBandKeys
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        // native signature: one loop over (plane, dim) per vector emits the
        // 4 banded 4-bit keys — same md5-derived planes and fold order as
        // the SQL oracle, ~16x fewer interpreted expression evaluations.
        val bands = e.select(col("vec_id"), col("v"),
            posexplode(SrpBandKeys.of(col("v"))))
          .toDF("vec_id", "v", "band_id", "bkey")
        val cand = bands.as("a")
          .join(bands.as("b"),
            col("a.band_id") === col("b.band_id") &&
              col("a.bkey") === col("b.bkey") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
                  col("a.v").as("va"), col("b.v").as("vb"))
          .distinct()
        cand
          .withColumn("cos_sim", dot(col("va"), col("vb")) /
            (norm(col("va")) * norm(col("vb"))))
          .filter(col("cos_sim") >= 0.4)
          .select(col("vec_a"), col("vec_b"),
                  round(col("cos_sim"), 4).as("cos_sim"))
          .orderBy("vec_a", "vec_b")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |planes AS (
             |  SELECT p, list_transform(range(0, 64), d ->
             |    ((CAST(('0x' || substr(md5(p || '_' || d), 1, 8)) AS BIGINT)
             |      % 2001) - 1000) / 1000.0) AS w
             |  FROM range(16) t(p)),
             |sig AS (
             |  SELECT e.vec_id, planes.p,
             |    CASE WHEN list_sum(list_transform(range(1, 65),
             |      d -> v[d] * w[d])) >= 0 THEN 1 ELSE 0 END AS bit
             |  FROM e CROSS JOIN planes),
             |bands AS (
             |  SELECT vec_id, CAST(p // 4 AS INT) AS band_id,
             |    CAST(sum(bit << (p % 4)) AS INT) AS bkey
             |  FROM sig GROUP BY vec_id, p // 4),
             |cand AS (
             |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             |  FROM bands a JOIN bands b
             |    ON a.band_id = b.band_id AND a.bkey = b.bkey
             |    AND a.vec_id < b.vec_id),
             |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
             |SELECT vec_a, vec_b,
             |  round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 4)
             |    AS cos_sim
             |FROM cand
             |JOIN n na ON na.vec_id = vec_a
             |JOIN n nb ON nb.vec_id = vec_b
             |WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= 0.4
             |ORDER BY vec_a, vec_b""".stripMargin)),

    // ---- ANN index quality: LSH recall vs exact ground truth --------------
    // The evaluation operator every approximate index needs: on the same
    // bounded validation slice q44 uses, compute exact cosine pairs
    // (ground truth) and the SRP-LSH pipeline's verified pairs, then
    // measure recall = |LSH ∩ exact| / |exact|. Both pipelines are
    // deterministic, so even this quality metric sits under the exact-hash
    // oracle. The slice keeps the quadratic ground truth constant-size at
    // any corpus scale.
    "q64_lsh_recall" -> QueryDef(
      (s, dir) => {
        import graft.functions.SrpBandKeys
        val e = tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding").as("v"))
          .withColumn("nrm", norm(col("v")))
        val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
          .filter(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
            >= 0.4)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        val bands = e.select(col("vec_id"), col("v"), col("nrm"),
            posexplode(SrpBandKeys.of(col("v"))))
          .toDF("vec_id", "v", "nrm", "band_id", "bkey")
        val lsh = bands.as("a")
          .join(bands.as("b"),
            col("a.band_id") === col("b.band_id") &&
              col("a.bkey") === col("b.bkey") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            col("a.v").as("va"), col("b.v").as("vb"),
            col("a.nrm").as("na"), col("b.nrm").as("nb"))
          .distinct()
          .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= 0.4)
          .select("vec_a", "vec_b")
        val hits = exact
          .join(lsh.withColumn("hit", lit(1)), Seq("vec_a", "vec_b"), "left")
          .agg(count(lit(1)).as("n_exact"),
               sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        val lshCount = lsh.agg(count(lit(1)).as("n_lsh"))
        hits.crossJoin(broadcast(lshCount))
          .select(col("n_exact"), col("n_lsh"), col("n_hit"),
            round(col("n_hit") * 1.0 / col("n_exact"), 4).as("recall"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |          FROM embeddings WHERE vec_id < 300),
             |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
             |exact AS (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
             |  FROM n a JOIN n b ON a.vec_id < b.vec_id
             |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
             |planes AS (
             |  SELECT p, list_transform(range(0, 64), d ->
             |    ((CAST(('0x' || substr(md5(p || '_' || d), 1, 8)) AS BIGINT)
             |      % 2001) - 1000) / 1000.0) AS w
             |  FROM range(16) t(p)),
             |sig AS (
             |  SELECT e.vec_id, planes.p,
             |    CASE WHEN list_sum(list_transform(range(1, 65),
             |      d -> v[d] * w[d])) >= 0 THEN 1 ELSE 0 END AS bit
             |  FROM e CROSS JOIN planes),
             |bands AS (
             |  SELECT vec_id, CAST(p // 4 AS INT) AS band_id,
             |    CAST(sum(bit << (p % 4)) AS INT) AS bkey
             |  FROM sig GROUP BY vec_id, p // 4),
             |cand AS (
             |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             |  FROM bands a JOIN bands b
             |    ON a.band_id = b.band_id AND a.bkey = b.bkey
             |    AND a.vec_id < b.vec_id),
             |lsh AS (
             |  SELECT vec_a, vec_b FROM cand
             |  JOIN n na ON na.vec_id = vec_a
             |  JOIN n nb ON nb.vec_id = vec_b
             |  WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= 0.4),
             |j AS (
             |  SELECT CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END AS hit
             |  FROM exact e LEFT JOIN lsh l
             |    ON l.vec_a = e.vec_a AND l.vec_b = e.vec_b)
             |SELECT count(*) AS n_exact,
             |  (SELECT count(*) FROM lsh) AS n_lsh,
             |  CAST(sum(hit) AS BIGINT) AS n_hit,
             |  round(sum(hit) * 1.0 / count(*), 4) AS recall
             |FROM j""".stripMargin)),

    // ---- ANN index quality: IVF recall@k vs exact ground truth ------------
    // q64's gate for the OTHER approximate path: on the same bounded
    // validation slice, exact cosine top-10 per query (ground truth)
    // versus the IVF pipeline's top-10 (q46's assign/probe/re-rank
    // structure, nlist = SliceNlist, nprobe = 3), per-query recall@10. The
    // slice keeps the quadratic ground truth constant-size at any corpus
    // scale, and both pipelines are deterministic, so nlist/nprobe
    // quality is MEASURED under the exact-hash oracle instead of
    // asserted. IvfRecallSpec additionally pins an aggregate floor so a
    // centroid-scheme regression fails CI, not just the hash.
    "q158_ivf_recall" -> QueryDef(
      (s, dir) => ivfRecall(s, dir, SliceNlist),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |          FROM embeddings WHERE vec_id < 300),
             |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
             |      FROM e),
             |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
             |      FROM n WHERE vec_id < 5),
             |exact AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT q.query_id, c.vec_id AS neighbor_id,
             |      CAST(row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY list_dot_product(q.qv, c.v) / (q.qn * c.nrm)
             |          DESC, c.vec_id) AS INT) AS rnk
             |    FROM q JOIN n c ON c.vec_id <> q.query_id)
             |  WHERE rnk <= 10),
             |cent AS (SELECT vec_id AS cid, v AS cv FROM e
             |         ${hashSampleSql(SliceNlist)}),
             |assign AS (
             |  SELECT vec_id, v, nrm, cid FROM (
             |    SELECT n.vec_id, n.v, n.nrm, cent.cid,
             |      CAST(row_number() OVER (PARTITION BY n.vec_id ORDER BY
             |        list_dot_product(n.v, n.v)
             |          - 2.0 * list_dot_product(n.v, cent.cv)
             |          + list_dot_product(cent.cv, cent.cv), cent.cid)
             |        AS INT) AS rn
             |    FROM n CROSS JOIN cent) WHERE rn = 1),
             |probe AS (
             |  SELECT query_id, qv, qn, cid FROM (
             |    SELECT q.query_id, q.qv, q.qn, cent.cid,
             |      CAST(row_number() OVER (PARTITION BY q.query_id ORDER BY
             |        list_dot_product(q.qv, q.qv)
             |          - 2.0 * list_dot_product(q.qv, cent.cv)
             |          + list_dot_product(cent.cv, cent.cv), cent.cid)
             |        AS INT) AS rn
             |    FROM q CROSS JOIN cent) WHERE rn <= 3),
             |ivf AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT p.query_id, a.vec_id AS neighbor_id,
             |      CAST(row_number() OVER (PARTITION BY p.query_id
             |        ORDER BY list_dot_product(p.qv, a.v) / (p.qn * a.nrm)
             |          DESC, a.vec_id) AS INT) AS rnk
             |    FROM probe p JOIN assign a ON a.cid = p.cid
             |    WHERE a.vec_id <> p.query_id)
             |  WHERE rnk <= 10)
             |SELECT x.query_id, count(*) AS n_exact,
             |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0
             |    END) AS BIGINT) AS n_hit,
             |  round(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0
             |    END) * 1.0 / count(*), 4) AS recall
             |FROM exact x LEFT JOIN ivf i
             |  ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
             |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin)),

    // ---- product-quantization ANN (asymmetric distance computation) -------
    // The memory-bound ANN scale path IVF/LSH don't cover: vectors are
    // compressed to 8 code ids (one per 8-dim subspace, codebook = the
    // FIXED-SIZE hash sample — PqCodebookSize entries per subspace
    // whatever the corpus, the PQ analogue of a trained 256-entry
    // codebook), and queries score candidates via
    // ADC — distance ≈ Σ_j d²(q_subⱼ, codebookⱼ[codeⱼ(x)]) — against an
    // 8-byte code instead of 256 bytes of floats. All three stages are
    // equi-joins against BROADCAST dimension tables (codebooks are
    // O(codebook)×8 rows; the query LUT is nq×8×codebook rows — both
    // constants), so the corpus-side
    // work is one narrow encode pass + one LUT probe — linear, no
    // shuffle of vector payloads. Per-subspace distances are scaled to
    // longs (floor·1e6) before the cross-subspace sum, so ranking is
    // INTEGER math and cannot float-drift between engines.
    "q162_pq_ann_adc" -> QueryDef(
      (s, dir) => {
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        // long-form subvectors: (vec_id, j, sub) for j = 0..7
        def subbed(df: org.apache.spark.sql.DataFrame, idCol: String) = df
          .select(col(idCol), explode(sequence(lit(0), lit(7))).as("j"),
            col("v"))
          .select(col(idCol), col("j"),
            slice(col("v"), col("j") * 8 + 1, lit(8)).as("sub"))
        // the codebook feeds both the corpus encode and the query LUT —
        // cached, its corpus-wide TakeOrdered sample runs once
        val cents = broadcast(Materialize(
          subbed(hashSample(e, PqCodebookSize)
            .select(col("vec_id").as("cid"), col("v")), "cid")
            .select(col("cid"), col("j"), col("sub").as("csub"))))
        def d2(a: Column, b: Column): Column =
          dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)
        // encode: per (vector, subspace), code = argmin_c d²(sub, cent_c)
        val codes = subbed(e, "vec_id").join(cents, "j")
          .withColumn("d2s", floor(d2(col("sub"), col("csub")) * 1e6)
            .cast("long"))
          .groupBy("vec_id", "j")
          .agg(min(struct(col("d2s"), col("cid"))).as("m"))
          .select(col("vec_id"), col("j"), col("m.cid").as("code"))
        // ADC lookup table: query-to-centroid distances per subspace
        val lut = broadcast(
          subbed(e.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("v")), "query_id")
          .join(cents, "j")
          .withColumn("pd2s", floor(d2(col("sub"), col("csub")) * 1e6)
            .cast("long"))
          .select(col("query_id"), col("j"), col("cid").as("code"),
            col("pd2s")))
        val wTop = Window.partitionBy("query_id")
          .orderBy(asc("adc_d2_scaled"), asc("vec_id"))
        codes.join(lut, Seq("j", "code"))
          .filter(col("vec_id") =!= col("query_id"))
          .groupBy("query_id", "vec_id")
          .agg(sum("pd2s").as("adc_d2_scaled"))
          .withColumn("rnk", row_number().over(wTop))
          .filter(col("rnk") <= 10)
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            col("adc_d2_scaled"), col("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |          FROM embeddings),
             |sub AS (SELECT vec_id, j,
             |          list_slice(v, j * 8 + 1, j * 8 + 8) AS sub
             |        FROM e CROSS JOIN range(0, 8) t(j)),
             |csel AS (SELECT vec_id FROM e ${hashSampleSql(PqCodebookSize)}),
             |cents AS (SELECT vec_id AS cid, j, sub FROM sub
             |          WHERE vec_id IN (SELECT vec_id FROM csel)),
             |enc AS (
             |  SELECT vec_id, j, cid AS code FROM (
             |    SELECT s.vec_id, s.j, c.cid,
             |      CAST(row_number() OVER (PARTITION BY s.vec_id, s.j
             |        ORDER BY CAST(floor((list_dot_product(s.sub, s.sub)
             |          - 2.0 * list_dot_product(s.sub, c.sub)
             |          + list_dot_product(c.sub, c.sub)) * 1e6) AS BIGINT),
             |          c.cid) AS INT) AS rn
             |    FROM sub s JOIN cents c ON c.j = s.j) WHERE rn = 1),
             |lut AS (
             |  SELECT q.vec_id AS query_id, q.j, c.cid AS code,
             |    CAST(floor((list_dot_product(q.sub, q.sub)
             |      - 2.0 * list_dot_product(q.sub, c.sub)
             |      + list_dot_product(c.sub, c.sub)) * 1e6) AS BIGINT)
             |      AS pd2s
             |  FROM (SELECT * FROM sub WHERE vec_id < 5) q
             |  JOIN cents c ON c.j = q.j),
             |adc AS (
             |  SELECT l.query_id, e.vec_id,
             |    CAST(sum(l.pd2s) AS BIGINT) AS adc_d2_scaled
             |  FROM enc e JOIN lut l ON l.j = e.j AND l.code = e.code
             |  WHERE e.vec_id <> l.query_id
             |  GROUP BY 1, 2)
             |SELECT query_id, neighbor_id, adc_d2_scaled, rnk FROM (
             |  SELECT query_id, vec_id AS neighbor_id, adc_d2_scaled,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY adc_d2_scaled, vec_id) AS INT) AS rnk
             |  FROM adc)
             |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),

    // ---- ANN index quality: PQ-ADC recall@k vs exact ground truth ---------
    // Completes the recall-gate set (q64 SRP-LSH, q158 IVF): on the same
    // bounded validation slice, exact scaled-integer L2 top-10 per query
    // (the metric ADC approximates — NOT cosine, so the gate measures
    // quantization error, not metric mismatch) versus q162's PQ pipeline
    // restricted to the slice. The slice keeps the quadratic ground truth
    // constant-size at any corpus scale; PqRecallSpec pins an aggregate
    // floor so a codebook regression fails CI, not just the hash.
    "q169_pq_recall" -> QueryDef(
      (s, dir) => pqRecall(s, dir, SliceCodebookSize),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |          FROM embeddings WHERE vec_id < 300),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e
             |      WHERE vec_id < 5),
             |exact AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT q.query_id, c.vec_id AS neighbor_id,
             |      CAST(row_number() OVER (PARTITION BY q.query_id
             |        ORDER BY CAST(floor((list_dot_product(q.qv, q.qv)
             |          - 2.0 * list_dot_product(q.qv, c.v)
             |          + list_dot_product(c.v, c.v)) * 1e6) AS BIGINT),
             |          c.vec_id) AS INT) AS rnk
             |    FROM q JOIN e c ON c.vec_id <> q.query_id)
             |  WHERE rnk <= 10),
             |sub AS (SELECT vec_id, j,
             |          list_slice(v, j * 8 + 1, j * 8 + 8) AS sub
             |        FROM e CROSS JOIN range(0, 8) t(j)),
             |csel AS (SELECT vec_id FROM e ${hashSampleSql(SliceCodebookSize)}),
             |cents AS (SELECT vec_id AS cid, j, sub AS csub FROM sub
             |          WHERE vec_id IN (SELECT vec_id FROM csel)),
             |enc AS (
             |  SELECT vec_id, j, cid AS code FROM (
             |    SELECT s.vec_id, s.j, c.cid,
             |      CAST(row_number() OVER (PARTITION BY s.vec_id, s.j
             |        ORDER BY CAST(floor((list_dot_product(s.sub, s.sub)
             |          - 2.0 * list_dot_product(s.sub, c.csub)
             |          + list_dot_product(c.csub, c.csub)) * 1e6) AS BIGINT),
             |          c.cid) AS INT) AS rn
             |    FROM sub s JOIN cents c ON c.j = s.j) WHERE rn = 1),
             |lut AS (
             |  SELECT q.query_id, s.j, c.cid AS code,
             |    CAST(floor((list_dot_product(s.sub, s.sub)
             |      - 2.0 * list_dot_product(s.sub, c.csub)
             |      + list_dot_product(c.csub, c.csub)) * 1e6) AS BIGINT)
             |      AS pd2s
             |  FROM q
             |  JOIN sub s ON s.vec_id = q.query_id
             |  JOIN cents c ON c.j = s.j),
             |pq AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT l.query_id, e.vec_id AS neighbor_id,
             |      CAST(row_number() OVER (PARTITION BY l.query_id
             |        ORDER BY CAST(sum(l.pd2s) AS BIGINT), e.vec_id)
             |        AS INT) AS rnk
             |    FROM enc e JOIN lut l ON l.j = e.j AND l.code = e.code
             |    WHERE e.vec_id <> l.query_id
             |    GROUP BY l.query_id, e.vec_id)
             |  WHERE rnk <= 10)
             |SELECT x.query_id, count(*) AS n_exact,
             |  CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0
             |    END) AS BIGINT) AS n_hit,
             |  round(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0
             |    END) * 1.0 / count(*), 4) AS recall
             |FROM exact x LEFT JOIN pq p
             |  ON p.query_id = x.query_id AND p.neighbor_id = x.neighbor_id
             |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin)),

    // ---- IVF-PQ: coarse quantizer + PQ on residuals (ADC over probed
    // lists) -----------------------------------------------------------------
    // The composition q46 and q162 each cover half of — and the actual
    // 100 TB ANN design point: a coarse quantizer prunes the corpus to
    // nprobe/nlist of its lists, and product quantization of the
    // RESIDUAL (v − coarse_centroid) — which has far less variance than
    // v itself, so the same codebook budget buys more precision — scores
    // the survivors against an 8-code signature via a broadcast ADC LUT.
    // Residuals are double-precision differences of the float embeddings
    // (bit-identical in both engines: float→double widening is exact,
    // IEEE double subtract is deterministic), subspace distances go
    // through the native DoubleVectorDot expression and are floor-scaled
    // to longs before any ranking, so every argmin/top-k is integer math.
    // Scale shape: coarse assign is corpus × nlist (broadcast dims);
    // encode is corpus × codebook per subspace (broadcast codebook, one
    // narrow pass); the ADC probe touches only the probed lists' codes —
    // all equi-joins, nothing shuffles vector payloads.
    // Quality context (measured at sf0.01, not gated): in-list ADC
    // recall@10 = 0.28 — identical to flat PQ (q169's gated floor),
    // because the synthetic embeddings are isotropic and residual
    // variance reduction needs cluster structure to pay off; end-to-end
    // recall is additionally capped by nprobe/nlist coverage (3/10) on
    // clusterless lists. The gated quality claim for the PQ machinery
    // lives in PqRecallSpec; this query pins the COMPOSITION's plan
    // shape and determinism under the hash oracle.
    "q170_ivfpq_residual_ann" -> QueryDef(
      (s, dir) => ivfPqTopM(s, dir, col("vec_id") < 5, 10)
        .orderBy("query_id", "rnk"),
      Some(s"""WITH ${ivfPqChainSql("vec_id < 5", 10)}
             |SELECT query_id, neighbor_id, adc_d2_scaled, rnk FROM topm
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- composed retrieval → selection pipeline ---------------------------
    // The actual curation pipeline, under ONE oracle: IVF-PQ retrieval
    // ([[ivfPqTopM]], q170's exact index build / probe / ADC machinery)
    // pulls the top-50 candidates for the query vector, their EXACT
    // embeddings are fetched by a broadcast semi-join (the 50-row
    // candidate list is the build side — the corpus scan stays one pass
    // with the id filter pushed), and q172's MMR greedy re-rank selects
    // the k=MmrK relevant-but-diverse winners from them. This pins at
    // plan level that the bounded-candidate interface COMPOSES: every
    // broadcast is O(m + k + index parameters) — candidate ids (m=50),
    // MMR selected set (≤k), coarse centroids, codebook, LUT — and the
    // corpus is touched only by the retrieval stage's budgeted scans
    // plus ONE exact-embedding fetch; the quadratic re-rank runs on m
    // candidates, never the corpus. adc_rnk in the output is the
    // retrieval rank of each selected vector — the audit trail that
    // selection is re-ordering retrieval's candidates, not bypassing
    // them.
    "q179_retrieval_mmr_rerank" -> QueryDef(
      (s, dir) => {
        val topm = Materialize(ivfPqTopM(s, dir, col("vec_id") === 0, 50)
          .select(col("neighbor_id"), col("rnk").as("adc_rnk")))
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"),
            norm(col("embedding")).as("nrm"))
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nrm").as("qnrm")))
        val cand = Materialize(
          e.join(broadcast(topm), col("vec_id") === col("neighbor_id"))
            .crossJoin(qv)
            .select(col("vec_id"), col("adc_rnk"), col("v"), col("nrm"),
              floor(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))
                * lit(1000000)).cast("long").as("rel_s")))
        var picked = Vector.empty[(Long, Array[Float], Double)]
        var out = Vector.empty[(Int, Long, Int, Long)]
        for (t <- 1 to MmrK) {
          val scored =
            if (picked.isEmpty)
              cand.select(col("vec_id"), col("adc_rnk"), col("v"),
                col("nrm"), (col("rel_s") * 7).as("score_s"))
            else {
              import s.implicits._
              val sel = broadcast(picked.toDF("svec_id", "sv", "snrm"))
              cand.filter(!col("vec_id").isin(picked.map(_._1): _*))
                .crossJoin(sel)
                .groupBy(col("vec_id"))
                .agg(first(col("adc_rnk")).as("adc_rnk"),
                  first(col("v")).as("v"), first(col("nrm")).as("nrm"),
                  (first(col("rel_s")) * 7 -
                    max(floor(dot(col("v"), col("sv")) /
                      (col("nrm") * col("snrm")) * lit(1000000))
                      .cast("long")) * 3).as("score_s"))
            }
          val top = scored.orderBy(desc("score_s"), asc("vec_id"))
            .limit(1).head()
          out :+= ((t, top.getAs[Long]("vec_id"),
            top.getAs[Int]("adc_rnk"), top.getAs[Long]("score_s")))
          picked :+= ((top.getAs[Long]("vec_id"),
            top.getAs[Seq[Float]]("v").toArray, top.getAs[Double]("nrm")))
        }
        import s.implicits._
        out.toDF("rnk", "vec_id", "adc_rnk", "score_s").orderBy("rnk")
      },
      Some(retrievalMmrOracleSql(MmrK))),

    // ---- sessionization (batch) -------------------------------------------
    "q50_sessionize" -> QueryDef(
      (s, dir) => {
        val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = table(s, dir, "events")
          .withColumn("gap_us",
            unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wOrd))
          .withColumn("new_session",
            when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1)
              .otherwise(0))
          .withColumn("session_seq",
            sum("new_session").over(
              wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        val sessions = ev.groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n_events"),
               ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
                 / 1000000.0).as("duration_s"))
        sessions.groupBy("n_events")
          .agg(count(lit(1)).as("n_sessions"),
               round(avg("duration_s"), 3).as("avg_duration_s"))
          .orderBy("n_events")
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    epoch_us(ts) - lag(epoch_us(ts)) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             |marked AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1
             |         ELSE 0 END AS new_session
             |  FROM g),
             |numbered AS (
             |  SELECT user_id, ts,
             |    sum(new_session) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS session_seq
             |  FROM marked),
             |sessions AS (
             |  SELECT user_id, session_seq, count(*) AS n_events,
             |    (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0
             |      AS duration_s
             |  FROM numbered GROUP BY user_id, session_seq)
             |SELECT n_events, count(*) AS n_sessions,
             |  round(avg(duration_s), 3) AS avg_duration_s
             |FROM sessions GROUP BY n_events ORDER BY n_events""".stripMargin)),

    // ---- declarative session_window on batch data -------------------------
    // Same gap semantics as q50 but through Spark's built-in session_window
    // (the operator Structured Streaming uses); the oracle replays the
    // merge rule relationally: new session iff gap > 30 min, window end =
    // last event + gap.
    "q52_session_window_batch" -> QueryDef(
      (s, dir) =>
        table(s, dir, "events")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
               round(sum("value"), 2).as("total_value"))
          .select(col("user_id"),
                  col("session_window.start").as("session_start"),
                  col("session_window.end").as("session_end"),
                  col("n_events"), col("total_value"))
          .orderBy("user_id", "session_start"),
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts, value,
             |    epoch_us(ts) - lag(epoch_us(ts)) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             |numbered AS (
             |  SELECT user_id, ts, value,
             |    sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1
             |        ELSE 0 END) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS session_seq
             |  FROM g),
             |sessions AS (
             |  SELECT user_id,
             |    min(ts) AS session_start,
             |    max(ts) + INTERVAL 30 MINUTE AS session_end,
             |    count(*) AS n_events,
             |    round(sum(value), 2) AS total_value
             |  FROM numbered GROUP BY user_id, session_seq)
             |SELECT user_id, session_start, session_end, n_events, total_value
             |FROM sessions ORDER BY user_id, session_start""".stripMargin)),

    // ---- int8 embedding quantization quality ------------------------------
    // The compression step an ANN index applies before sharding: per-vector
    // symmetric int8 quantization (scale = max |x|), then measure what it
    // costs — max element reconstruction error and worst cosine between
    // original and reconstructed vector per bucket. Narrow per-row HOF
    // math; the only aggregates are MIN/MAX, which are order-independent,
    // so the doubles survive any partitioning bit-exactly (no avg-of-
    // doubles drift).
    "q90_int8_quantization" -> QueryDef(
      (s, dir) => {
        val x = transform(col("embedding"), _.cast("double"))
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), x.as("x"))
          .withColumn("scale", array_max(transform(col("x"), a => abs(a))))
          .withColumn("xr", transform(col("x"),
            a => floor(a / col("scale") * 127) * col("scale") / 127))
          .withColumn("err", array_max(zip_with(col("x"), col("xr"),
            (a, b) => abs(a - b))))
          .withColumn("cos",
            aggregate(zip_with(col("x"), col("xr"), _ * _),
              lit(0.0), _ + _) /
            (sqrt(aggregate(transform(col("x"), a => a * a),
              lit(0.0), _ + _)) *
             sqrt(aggregate(transform(col("xr"), a => a * a),
               lit(0.0), _ + _))))
        e.groupBy((col("vec_id") % 8).cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_vecs"),
               round(max("err"), 6).as("max_err"),
               round(min("cos"), 4).as("min_cos"))
          .orderBy("bucket")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
             |q AS (
             |  SELECT vec_id, x,
             |    list_max(list_transform(x, a -> abs(a))) AS scale
             |  FROM e),
             |r AS (
             |  SELECT vec_id, x,
             |    list_transform(x,
             |      a -> floor(a / scale * 127) * scale / 127) AS xr
             |  FROM q),
             |m AS (
             |  SELECT vec_id,
             |    list_max(list_transform(range(1, 65),
             |      i -> abs(x[i] - xr[i]))) AS err,
             |    list_dot_product(x, xr) /
             |      (sqrt(list_dot_product(x, x)) *
             |       sqrt(list_dot_product(xr, xr))) AS cos
             |  FROM r)
             |SELECT CAST(vec_id % 8 AS INT) AS bucket,
             |  count(*) AS n_vecs,
             |  round(max(err), 6) AS max_err,
             |  round(min(cos), 4) AS min_cos
             |FROM m GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- semantic dedup (cluster-blocked cosine, SemDeDup-style) ----------
    // Embedding-space near-duplicate REMOVAL at corpus scale: assign every
    // vector to its nearest coarse centroid (q46's IVF assignment — one
    // broadcast join, linear in n·nlist), then search for duplicates ONLY
    // within a cluster (the SemDeDup blocking: pairwise cost drops from
    // n^2 to ~n^2/nlist, and each cluster's pair join is an equi-join on
    // cid). A vector is dropped when a lower-id cluster-mate sits above
    // the cosine threshold; keep-the-earliest makes the dedup decision
    // deterministic and replayable. Output is per-cluster: size, drops,
    // and the exact id-sum of the survivors.
    "q122_semantic_dedup" -> QueryDef(
      (s, dir) => {
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
        // round-13: the coarse centroid table IS the staged IVF-PQ
        // index's coarse list — the identical hashSample(e, IvfNlist)
        // rows q170/q179 already stage (float arrays round-trip parquet
        // bit-exactly), so the corpus-wide TakeOrdered sample is not
        // re-derived here. The ASSIGNMENT stays inline: this query
        // ranks centroids by the raw double d2 (the SemDeDup spelling)
        // while the index's stored codes rank by the scaled-long
        // floor(d2·1e6) — a different tie-break contract.
        val cent = broadcast(
          s.read.parquet(s"${ivfPqIndexBase(s, dir)}/coarse")
            .limit(IvfNlist.toInt)
            .select(col("ccid").as("cid"), col("cv")))
        def l2(a: String, b: String) =
          dot(col(a), col(a)) - lit(2.0) * dot(col(a), col(b)) +
            dot(col(b), col(b))
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(asc("d2"), asc("cid"))
        val assigned = Materialize(e.join(cent)
          .withColumn("d2", l2("v", "cv"))
          .withColumn("rn", row_number().over(wAssign))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("v"), norm(col("v")).as("nrm"),
            col("cid")))
        // within-cluster pair search through the rank-blocked self-join:
        // identical pair set to a plain cid-equi-join (so the oracle below
        // is untouched), but the shuffle key carries the block ids, so a
        // skewed cluster of size k costs (k/B)² bounded tasks instead of
        // one k²-pair reducer
        val dropped = graft.operators.SkewTools
          .blockedSelfPairs(assigned, "cid", "vec_id", SemDedupBlock)
          .filter(dot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm")) >= 0.4)
          .select(col("b.vec_id").as("vec_id")).distinct()
          .withColumn("is_dup", lit(true))
        assigned.join(dropped, Seq("vec_id"), "left")
          .groupBy("cid")
          .agg(count(lit(1)).as("n_vecs"),
               sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"),
               sum(when(col("is_dup").isNull, col("vec_id"))).as("kept_id_sum"))
          .orderBy("cid")
      },
      Some(s"""WITH $duckNormed,
              |cent AS (SELECT vec_id AS cid, v AS cv FROM e
              |         ${hashSampleSql(IvfNlist)}),
              |assign AS (
              |  SELECT vec_id, v, nrm, cid FROM (
              |    SELECT n.vec_id, n.v, n.nrm, cent.cid,
              |      CAST(row_number() OVER (PARTITION BY n.vec_id ORDER BY
              |        list_dot_product(n.v, n.v)
              |          - 2.0 * list_dot_product(n.v, cent.cv)
              |          + list_dot_product(cent.cv, cent.cv), cent.cid)
              |        AS INT) AS rn
              |    FROM n CROSS JOIN cent) WHERE rn = 1),
              |dropped AS (
              |  SELECT DISTINCT b.vec_id
              |  FROM assign a JOIN assign b
              |    ON a.cid = b.cid AND a.vec_id < b.vec_id
              |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4)
              |SELECT cid, count(*) AS n_vecs,
              |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_dropped,
              |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN a.vec_id END)
              |    AS BIGINT) AS kept_id_sum
              |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
              |GROUP BY cid ORDER BY cid""".stripMargin)),

    // ---- MMR diversified top-k (greedy re-rank) ----------------------------
    // The selection operator retrieval-for-training needs after ANN: pick
    // k results that balance relevance to the query against redundancy
    // with what is ALREADY picked — score(d) = 7·rel(d) − 3·max_{s∈S}
    // sim(d,s) in 0.7/0.3-weighted scaled-long arithmetic (floor(cos·1e6)
    // before the weighted sum, so the greedy argmax is an exact integer
    // comparison and DuckDB replays it bit-for-bit; ties break on vec_id).
    // Execution is k driver-orchestrated rounds — the MLlib-style split
    // q66 uses: driver state is only the k selected vectors (k·64 floats),
    // each round is one linear pass over the cached candidate set
    // (distributed scoring vs a ≤k-row broadcast LocalRelation, then a
    // TakeOrdered(1) argmax), so total cost is O(k·N) with k a constant —
    // the shape is unchanged at any corpus size, and no broadcast side
    // ever exceeds k rows. The greedy loop is inherently sequential
    // (step t's penalty depends on step t−1's pick): k rounds IS the
    // algorithm, not a driver-side shortcut.
    "q172_mmr_diversified_topk" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val e = tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding").as("v"),
            norm(col("embedding")).as("nrm"))
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nrm").as("qnrm")))
        val cand = Materialize(e.filter(col("vec_id") > 0)
          .crossJoin(qv)
          .select(col("vec_id"), col("v"), col("nrm"),
            floor(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))
              * lit(1000000)).cast("long").as("rel_s")))
        var picked = Vector.empty[(Long, Array[Float], Double)]
        var out = Vector.empty[(Int, Long, Long)]
        for (t <- 1 to MmrK) {
          val scored =
            if (picked.isEmpty)
              cand.select(col("vec_id"), col("v"), col("nrm"),
                (col("rel_s") * 7).as("score_s"))
            else {
              import s.implicits._
              val sel = broadcast(picked.toDF("svec_id", "sv", "snrm"))
              cand.filter(!col("vec_id").isin(picked.map(_._1): _*))
                .crossJoin(sel)
                .groupBy(col("vec_id"))
                .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
                  (first(col("rel_s")) * 7 -
                    max(floor(dot(col("v"), col("sv")) /
                      (col("nrm") * col("snrm")) * lit(1000000))
                      .cast("long")) * 3).as("score_s"))
            }
          val top = scored.orderBy(desc("score_s"), asc("vec_id"))
            .limit(1).head()
          out :+= ((t, top.getAs[Long]("vec_id"), top.getAs[Long]("score_s")))
          picked :+= ((top.getAs[Long]("vec_id"),
            top.getAs[Seq[Float]]("v").toArray, top.getAs[Double]("nrm")))
        }
        import s.implicits._
        out.toDF("rnk", "vec_id", "score_s").orderBy("rnk")
      },
      Some(mmrOracleSql(MmrK))),

    // ---- k-center greedy coreset (farthest-point selection) ----------------
    // Coverage-maximizing sample selection: starting from a fixed seed,
    // each round picks the candidate FARTHEST from the already-selected
    // set (max over candidates of min over selected of L2²) — the classic
    // 2-approximation to the k-center objective, and the coreset rule
    // that picks boundary/outlier examples where q172's MMR picks
    // relevant-but-diverse ones. Distances are q170's expansion
    // ‖a‖² − 2a·b + ‖b‖² through the native FloatVectorDot, floor-scaled
    // to longs so each round's argmax is an exact integer comparison the
    // oracle replays bit-for-bit (ties on vec_id). Same execution shape
    // as q172: k driver rounds, each one linear pass over the cached
    // candidates against a ≤k-row broadcast, O(k·N) total with driver
    // state k vectors — unchanged at any corpus size. radius_s (the
    // selected point's min-distance at selection) is non-increasing by
    // construction; its last value is the coverage radius of the coreset.
    "q174_kcenter_coreset" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val cand = Materialize(tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding").as("v"),
            dot(col("embedding"), col("embedding")).as("vv")))
        val (_, out) = kcenterPicks(s, cand, MmrK)
        import s.implicits._
        out.toDF("rnk", "vec_id", "radius_s").orderBy("rnk")
      },
      Some(kcenterOracleSql(MmrK))),

    // ---- coreset coverage audit: k-center vs hash-random -------------------
    // Does the farthest-point coreset actually COVER better than a
    // blind sample of the same budget? The audit a selection pipeline
    // runs before trusting q174's picks: both strategies select k = 10
    // points from the same candidate slice (greedy via the EXACT q174
    // loop, shared in `kcenterPicks`; baseline via the family's
    // hash-deterministic `hashSample` draw), then ONE linear pass per
    // strategy scores every candidate's min-L2² to its nearest selected
    // point through a ≤k-row broadcast — O(k·N) with no corpus
    // self-join, the q174 execution shape. Coverage radius (max of the
    // min-distances) and mean min-distance land as the same
    // floor-micro-scaled exact integers both engines compare; the
    // greedy 2-approximation should and does dominate the random
    // baseline's radius on this fixture (spec-pinned direction).
    "q213_coreset_coverage_audit" -> QueryDef(
      (s, dir) => {
        import graft.operators.Materialize
        val cand = Materialize(tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding").as("v"),
            dot(col("embedding"), col("embedding")).as("vv")))
        val (picked, _) = kcenterPicks(s, cand, MmrK)
        import s.implicits._
        val rand = hashSample(cand, MmrK)
          .select(col("vec_id"), col("v"), col("vv")).collect()
          .map(r => (r.getAs[Long]("vec_id"),
            r.getAs[Seq[Float]]("v").toArray, r.getAs[Double]("vv")))
          .toVector
        def coverage(tag: String,
                     sel: Vector[(Long, Array[Float], Double)]) = {
          val selDf = broadcast(sel.toDF("svec_id", "sv", "svv"))
          cand.crossJoin(selDf)
            .groupBy(col("vec_id"))
            .agg(min(floor((col("vv") - lit(2.0) * dot(col("v"), col("sv"))
              + col("svv")) * lit(1000000)).cast("long")).as("mind_s"))
            .agg(count(lit(1)).as("n_points"),
              max("mind_s").as("radius_s"),
              expr("sum(mind_s) DIV count(1)").as("mean_s"))
            .withColumn("strategy", lit(tag))
        }
        coverage("kcenter", picked).unionByName(coverage("random", rand))
          .select("strategy", "n_points", "radius_s", "mean_s")
          .orderBy("strategy")
      },
      Some(coresetCoverageOracleSql(MmrK))),

    // ---- Johnson–Lindenstrauss projection distortion audit ----------------
    // Random ±1 sign projection 64 → 16 dims (the cheap JL family:
    // E[‖Rx‖²] = m‖x‖², no Gaussian sampling, no float matrix), audited
    // on a pushed bounded slice: per vector pair, the projected L2² over
    // m·(original L2²) in basis points, histogrammed — the evidence a
    // pipeline needs before swapping full embeddings for sketches in its
    // dedup/ANN stages. Everything is exact integers: components quantize
    // to milli-units via the same double→floor on both engines, the sign
    // matrix is a DETERMINISTIC md5-parity function of (j, i) — a
    // constant m×64-row broadcast at any corpus size, no RNG state to
    // ship — and projections/distances are integer sums, so ratios are
    // bit-exact under the oracle. The audit's pair stage is quadratic
    // and therefore slice-bounded (the q159/q200 pattern: the predicate
    // reaches the scan); the projection itself is one equi-join +
    // groupBy, linear in the corpus when applied corpus-wide.
    "q211_jl_projection_audit" -> QueryDef(
      (s, dir) => {
        val m = 16
        val comps = Materialize(tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 100)
          .select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .withColumn("xm",
            floor(col("x").cast("double") * 1000).cast("long"))
          .select("vec_id", "i", "xm"))
        val signs = broadcast(
          s.range(m).toDF("j")
            .crossJoin(s.range(64).toDF("i"))
            .withColumn("sgn", when(
              graft.functions.TextOps.hash32(concat(lit("jl_"),
                col("j").cast("string"), lit("_"),
                col("i").cast("string"))) % 2 === 0, 1L).otherwise(-1L)))
        val proj = Materialize(comps.join(signs, "i")
          .groupBy("vec_id", "j")
          .agg(sum(col("sgn") * col("xm")).as("p")))
        val dOrig = comps.as("a").join(comps.as("b"),
            col("a.i") === col("b.i") && col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
          .agg(sum((col("a.xm") - col("b.xm")) *
            (col("a.xm") - col("b.xm"))).as("d2o"))
        val dProj = proj.as("a").join(proj.as("b"),
            col("a.j") === col("b.j") && col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
          .agg(sum((col("a.p") - col("b.p")) *
            (col("a.p") - col("b.p"))).as("d2p"))
        dOrig.join(dProj, Seq("va", "vb"))
          .filter(col("d2o") > 0)
          .withColumn("ratio_bp", expr(s"d2p * 10000 DIV ($m * d2o)"))
          .withColumn("bucket",
            expr("least(ratio_bp DIV 2500, CAST(7 AS BIGINT))"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_pairs"),
            min("ratio_bp").as("min_ratio_bp"),
            max("ratio_bp").as("max_ratio_bp"))
          .orderBy("bucket")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE vec_id < 100),
             |comps AS (SELECT vec_id, i,
             |    CAST(floor(v[i + 1] * 1000) AS BIGINT) AS xm
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) idx),
             |signs AS (SELECT j, i,
             |    CASE WHEN CAST(('0x' || substr(md5('jl_' || j || '_' || i),
             |      1, 8)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
             |  FROM (SELECT unnest(range(0, 16)) AS j) a
             |  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) b),
             |proj AS (SELECT c.vec_id, s.j,
             |    CAST(sum(s.sgn * c.xm) AS BIGINT) AS p
             |  FROM comps c JOIN signs s ON s.i = c.i GROUP BY 1, 2),
             |do2 AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             |    CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2o
             |  FROM comps a JOIN comps b
             |    ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2),
             |dp2 AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             |    CAST(sum((a.p - b.p) * (a.p - b.p)) AS BIGINT) AS d2p
             |  FROM proj a JOIN proj b
             |    ON a.j = b.j AND a.vec_id < b.vec_id GROUP BY 1, 2),
             |r AS (SELECT d2p * 10000 // (16 * d2o) AS ratio_bp
             |  FROM do2 JOIN dp2 ON do2.va = dp2.va AND do2.vb = dp2.vb
             |  WHERE d2o > 0)
             |SELECT CAST(least(ratio_bp // 2500, 7) AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(min(ratio_bp) AS BIGINT) AS min_ratio_bp,
             |  CAST(max(ratio_bp) AS BIGINT) AS max_ratio_bp
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- kNN label-noise audit --------------------------------------------
    // Confident-learning-style label QA: a point whose k-nearest-neighbor
    // majority label disagrees with its own label is flagged as probable
    // annotation noise. Runs exact on the bounded validation slice — the
    // recall-gate posture (q64/q158/q169): the audit is a fixed-size
    // diagnostic whatever the corpus; the full-corpus sweep is q180,
    // which rides the IVF candidate machinery instead of exact all-pairs.
    // Distances are the q170 expansion through the native dot, floor-
    // scaled so neighbor ranking is exact (ties on neighbor id); the
    // majority vote ties on label asc. Output is per-label point/flag
    // counts — bounded rows, label-stable.
    "q175_knn_label_noise" -> QueryDef(
      (s, dir) => {
        val k = 5
        val e = tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding").as("v"), col("label"),
            dot(col("embedding"), col("embedding")).as("vv"))
        val a = e.select(col("vec_id").as("aid"), col("v").as("av"),
          col("label").as("albl"), col("vv").as("avv"))
        val b = e.select(col("vec_id").as("bid"), col("v").as("bv"),
          col("label").as("blbl"), col("vv").as("bvv"))
        val pairs = a.join(b, col("aid") =!= col("bid"))
          .withColumn("d2s",
            floor((col("avv") - lit(2.0) * dot(col("av"), col("bv"))
              + col("bvv")) * lit(1000000)).cast("long"))
        val wk = Window.partitionBy("aid").orderBy(asc("d2s"), asc("bid"))
        val votes = pairs
          .withColumn("rn", row_number().over(wk))
          .filter(col("rn") <= k)
          .groupBy(col("aid"), col("albl"), col("blbl"))
          .agg(count(lit(1)).as("n"))
        val wv = Window.partitionBy("aid").orderBy(desc("n"), asc("blbl"))
        votes.withColumn("vr", row_number().over(wv))
          .filter(col("vr") === 1)
          .groupBy(col("albl").as("label"))
          .agg(count(lit(1)).as("n_points"),
            sum(when(col("blbl") =!= col("albl"), 1L).otherwise(0L))
              .as("n_flagged"))
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label,
             |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
             |  FROM embeddings WHERE vec_id < 300),
             |p AS (SELECT a.vec_id AS aid, a.label AS albl,
             |        b.vec_id AS bid, b.label AS blbl,
             |        CAST(floor((a.vv - 2 * list_dot_product(a.v, b.v)
             |          + b.vv) * 1000000) AS BIGINT) AS d2s
             |      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
             |k AS (SELECT aid, albl, blbl,
             |        row_number() OVER (PARTITION BY aid
             |          ORDER BY d2s, bid) AS rn
             |      FROM p),
             |v AS (SELECT aid, albl, blbl, count(*) AS n FROM k
             |      WHERE rn <= 5 GROUP BY aid, albl, blbl),
             |pr AS (SELECT aid, albl, blbl AS pred,
             |         row_number() OVER (PARTITION BY aid
             |           ORDER BY n DESC, blbl) AS vr
             |       FROM v)
             |SELECT albl AS label, count(*) AS n_points,
             |  CAST(sum(CASE WHEN pred <> albl THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_flagged
             |FROM pr WHERE vr = 1
             |GROUP BY albl ORDER BY label""".stripMargin)),

    // ---- corpus-wide kNN label-noise sweep (IVF-blocked) -------------------
    // q175's audit at FULL corpus scale: candidate generation rides the
    // IVF coarse quantizer instead of exact all-pairs — each point votes
    // among its k nearest neighbors WITHIN its coarse cell (the standard
    // ANN approximation: same cells that bound q46's probe and q122's
    // semantic dedup). One corpus pass assigns cells against the fixed
    // IvfNlist broadcast; within-cell pairs go through blockedSelfPairs,
    // so per-task candidates are ≤ SemDedupBlock² whatever the cell-size
    // skew — a hot cell costs more tasks, never a bigger task — and the
    // plan contains no all-pairs join anywhere. Distances, neighbor
    // ranking, and majority votes use q175's exact integer tie-breaks
    // (d2s asc / bid asc; n desc / label asc), so the oracle replays the
    // sweep bit-for-bit. Points alone in their cell cast no vote and are
    // excluded, a property the oracle shares by construction.
    "q180_knn_label_noise_sweep" -> QueryDef(
      (s, dir) => {
        import graft.operators.{Materialize, SkewTools}
        val k = 5
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"), col("label"),
            dot(col("embedding"), col("embedding")).as("vv"))
        val coarse = broadcast(Materialize(hashSample(e, IvfNlist)
          .select(col("vec_id").as("ccid"), col("v").as("cv"),
            col("vv").as("cvv"))))
        val wAssign = Window.partitionBy("vec_id")
          .orderBy(asc("cd2s"), asc("ccid"))
        val assign = e.join(coarse)
          .withColumn("cd2s",
            floor((col("vv") - lit(2.0) * dot(col("v"), col("cv"))
              + col("cvv")) * lit(1000000)).cast("long"))
          .withColumn("rn", row_number().over(wAssign))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("v"), col("label"), col("vv"),
            col("ccid"))
        // the directed union below references this frame TWICE (once per
        // direction) and union branches do not share subtrees — without a
        // lineage cut the assignment + blocked pair join executed twice
        // per run (the W10/q281 shape). Lazy cut: no extra driver action;
        // the one output job computes the pair set once (block-level
        // locking dedupes the two branches' reads) and both directions
        // scan the same blocks. Rows identical — the cut only stops the
        // re-execution.
        val once = Materialize.lazyCheckpointed(SkewTools
          .blockedSelfPairs(assign, "ccid", "vec_id", SemDedupBlock)
          .withColumn("d2s",
            floor((col("a.vv") - lit(2.0) * dot(col("a.v"), col("b.v"))
              + col("b.vv")) * lit(1000000)).cast("long"))
          .select(col("a.vec_id").as("aid"), col("a.label").as("albl"),
            col("b.vec_id").as("bid"), col("b.label").as("blbl"),
            col("d2s")))
        val directed = once.unionByName(once.select(
          col("bid").as("aid"), col("blbl").as("albl"),
          col("aid").as("bid"), col("albl").as("blbl"), col("d2s")))
        val wk = Window.partitionBy("aid").orderBy(asc("d2s"), asc("bid"))
        val votes = directed
          .withColumn("rn", row_number().over(wk))
          .filter(col("rn") <= k)
          .groupBy(col("aid"), col("albl"), col("blbl"))
          .agg(count(lit(1)).as("n"))
        val wv = Window.partitionBy("aid").orderBy(desc("n"), asc("blbl"))
        votes.withColumn("vr", row_number().over(wv))
          .filter(col("vr") === 1)
          .groupBy(col("albl").as("label"))
          .agg(count(lit(1)).as("n_points"),
            sum(when(col("blbl") =!= col("albl"), 1L).otherwise(0L))
              .as("n_flagged"))
          .orderBy("label")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label,
             |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
             |  FROM embeddings),
             |cent AS (SELECT vec_id AS ccid, v AS cv, vv AS cvv FROM e
             |         ${hashSampleSql(IvfNlist)}),
             |assign AS (
             |  SELECT vec_id, v, label, vv, ccid FROM (
             |    SELECT e.vec_id, e.v, e.label, e.vv, c.ccid,
             |      CAST(row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY CAST(floor((e.vv
             |          - 2.0 * list_dot_product(e.v, c.cv)
             |          + c.cvv) * 1000000) AS BIGINT), c.ccid) AS INT) AS rn
             |    FROM e CROSS JOIN cent c) WHERE rn = 1),
             |p AS (SELECT a.vec_id AS aid, a.label AS albl,
             |        b.vec_id AS bid, b.label AS blbl,
             |        CAST(floor((a.vv - 2.0 * list_dot_product(a.v, b.v)
             |          + b.vv) * 1000000) AS BIGINT) AS d2s
             |      FROM assign a JOIN assign b
             |        ON a.ccid = b.ccid AND a.vec_id <> b.vec_id),
             |k AS (SELECT aid, albl, blbl,
             |        row_number() OVER (PARTITION BY aid
             |          ORDER BY d2s, bid) AS rn
             |      FROM p),
             |v AS (SELECT aid, albl, blbl, count(*) AS n FROM k
             |      WHERE rn <= 5 GROUP BY aid, albl, blbl),
             |pr AS (SELECT aid, albl, blbl AS pred,
             |         row_number() OVER (PARTITION BY aid
             |           ORDER BY n DESC, blbl) AS vr
             |       FROM v)
             |SELECT albl AS label, count(*) AS n_points,
             |  CAST(sum(CASE WHEN pred <> albl THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_flagged
             |FROM pr WHERE vr = 1
             |GROUP BY albl ORDER BY label""".stripMargin)),

    // ---- embedding class-separability audit -------------------------------
    // The "are these embeddings any good for this labeling" diagnostic
    // that pairs with q175's per-point noise flags: per label, the mean
    // squared distance of members to their label centroid (intra) vs the
    // smallest squared distance to any OTHER label's centroid (inter),
    // and their ratio in per-mille — a Fisher-style separability score.
    // Corpus-wide and linear: components are floor-scaled to longs
    // BEFORE the per-(label,dim) sums (order-independence), the sums
    // accumulate in DECIMAL(38,0) (a 1e12-point label would wrap a
    // long; DuckDB's HUGEINT sum is the exact twin), and the centroid is
    // the integer-divided mean — toward-zero division, which Spark DIV
    // and DuckDB // agree on even for negative sums. Shuffles: one
    // groupBy (label, dim) of 64·|labels| rows, one join back (broadcast
    // — centroids are |labels|·64 rows whatever the corpus), one
    // per-point groupBy. The centroid-pair join is |labels|² rows.
    "q176_class_separability" -> QueryDef(
      (s, dir) => {
        val ex = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")))
          .select(col("vec_id"), col("label"), col("pos"),
            floor(col("col").cast("double") * lit(1000000)).cast("long")
              .as("xs"))
        // Materialize the centroid table (|labels|·64 rows): it is read
        // three times (intra join, both sides of the centroid-pair join) —
        // uncached, each reuse would rescan and re-aggregate the corpus.
        // ex itself is NOT cached: it is 64× the corpus, and its two
        // consumers are two deliberate linear passes (the k-means shape)
        val cent = Materialize(ex.groupBy("label", "pos")
          .agg(sum(col("xs").cast("decimal(38,0)")).as("sx"),
            count(lit(1)).as("n"))
          .select(col("label"), col("pos"),
            expr("CAST(sx DIV n AS BIGINT)").as("cs")))
        val intra = ex.join(broadcast(cent), Seq("label", "pos"))
          .withColumn("d", col("xs") - col("cs"))
          .groupBy("vec_id", "label")
          .agg(sum(col("d") * col("d")).as("d2"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_points"),
            expr("CAST(sum(CAST(d2 AS DECIMAL(38,0))) DIV count(1) " +
              "AS BIGINT)").as("intra_ms"))
        val ca = cent.select(col("label").as("la"), col("pos"),
          col("cs").as("csa"))
        val cb = cent.select(col("label").as("lb"), col("pos"),
          col("cs").as("csb"))
        val inter = ca.join(cb, Seq("pos"))
          .filter(col("la") =!= col("lb"))
          .withColumn("d", col("csa") - col("csb"))
          .groupBy(col("la"), col("lb"))
          .agg(sum(col("d") * col("d")).as("cd2"))
          .groupBy(col("la").as("label"))
          .agg(min("cd2").as("min_inter"))
        intra.join(inter, "label")
          .withColumn("sep_pm",
            expr("min_inter * 1000 DIV GREATEST(intra_ms, 1)"))
          .select(col("label"), col("n_points"), col("intra_ms"),
            col("min_inter"), col("sep_pm"))
          .orderBy("label")
      },
      Some("""WITH ex AS (
             |  SELECT vec_id, label, i AS pos,
             |    CAST(floor(embedding[i]::DOUBLE * 1000000) AS BIGINT) AS xs
             |  FROM embeddings, range(1, 65) t(i)),
             |cent AS (
             |  SELECT label, pos, CAST(sum(xs) // count(*) AS BIGINT) AS cs
             |  FROM ex GROUP BY label, pos),
             |pt AS (
             |  SELECT e.vec_id, e.label,
             |    sum((e.xs - c.cs) * (e.xs - c.cs)) AS d2
             |  FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
             |  GROUP BY e.vec_id, e.label),
             |intra AS (
             |  SELECT label, count(*) AS n_points,
             |    CAST(sum(d2) // count(*) AS BIGINT) AS intra_ms
             |  FROM pt GROUP BY label),
             |inter AS (
             |  SELECT la AS label, CAST(min(cd2) AS BIGINT) AS min_inter
             |  FROM (
             |    SELECT a.label AS la, b.label AS lb,
             |      sum((a.cs - b.cs) * (a.cs - b.cs)) AS cd2
             |    FROM cent a JOIN cent b ON a.pos = b.pos
             |    WHERE a.label <> b.label
             |    GROUP BY a.label, b.label) GROUP BY la)
             |SELECT i.label, i.n_points, i.intra_ms, n.min_inter,
             |  CAST(n.min_inter * 1000 // GREATEST(i.intra_ms, 1)
             |    AS BIGINT) AS sep_pm
             |FROM intra i JOIN inter n ON i.label = n.label
             |ORDER BY i.label""".stripMargin)),

    // ---- hybrid retrieval: reciprocal-rank fusion -------------------------
    // The standard hybrid-search combiner: a dense leg (cosine vs the
    // query embedding) and a sparse lexical leg (query-term frequency in
    // the document text) each produce a top-K list, fused by RRF
    // score = Σ 1/(60 + rank). Each leg is ONE linear pass with O(K)
    // state per task (TakeOrderedAndProject — no shuffle, no global
    // sort), whatever the corpus; the fusion is a full-outer join of two
    // K-row lists. Contributions are the exact integers
    // 1e9 DIV (60 + rank), so the fused ordering never touches a float.
    "q177_rrf_hybrid_fusion" -> QueryDef(
      (s, dir) => {
        val kTop = 20
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"))
          .withColumn("nrm", norm(col("v")))
        val q = broadcast(e.filter(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nrm").as("qnrm")))
        val dense = e.filter(col("vec_id") > 0).join(q)
          .select(col("vec_id"),
            floor(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))
              * lit(1000000)).cast("long").as("ds"))
          .orderBy(desc("ds"), asc("vec_id")).limit(kTop)
        val dr = dense.withColumn("r_dense", row_number()
            .over(Window.orderBy(desc("ds"), asc("vec_id"))).cast("long"))
          .select(col("vec_id").as("id"), col("r_dense"))
        val sparse = table(s, dir, "documents")
          .select(col("doc_id"),
            size(expr("filter(split(text, ' '), " +
              "w -> w = 'hash' OR w = 'scan' OR w = 'table')"))
              .cast("long").as("tf"))
          .filter(col("tf") > 0)
          .orderBy(desc("tf"), asc("doc_id")).limit(kTop)
        val sr = sparse.withColumn("r_sparse", row_number()
            .over(Window.orderBy(desc("tf"), asc("doc_id"))).cast("long"))
          .select(col("doc_id").as("id"), col("r_sparse"))
        dr.join(sr, Seq("id"), "full_outer")
          .withColumn("rrf_s",
            coalesce(expr("1000000000 DIV (60 + r_dense)"), lit(0L)) +
              coalesce(expr("1000000000 DIV (60 + r_sparse)"), lit(0L)))
          .orderBy(desc("rrf_s"), asc("id")).limit(10)
          .select(col("id"), col("r_dense"), col("r_sparse"), col("rrf_s"))
      },
      Some(s"""WITH $duckNormed,
              |q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0),
              |dense AS (SELECT vec_id,
              |    CAST(floor(list_dot_product(v, qv) / (nrm * qnrm)
              |      * 1000000) AS BIGINT) AS ds
              |  FROM n, q WHERE vec_id > 0
              |  ORDER BY ds DESC, vec_id LIMIT 20),
              |dr AS (SELECT vec_id AS id,
              |    CAST(row_number() OVER (ORDER BY ds DESC, vec_id)
              |      AS BIGINT) AS r_dense FROM dense),
              |sparse AS (SELECT doc_id, tf FROM (
              |    SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
              |      w -> w = 'hash' OR w = 'scan' OR w = 'table'))
              |      AS BIGINT) AS tf
              |    FROM documents) WHERE tf > 0
              |  ORDER BY tf DESC, doc_id LIMIT 20),
              |sr AS (SELECT doc_id AS id,
              |    CAST(row_number() OVER (ORDER BY tf DESC, doc_id)
              |      AS BIGINT) AS r_sparse FROM sparse)
              |SELECT COALESCE(dr.id, sr.id) AS id, r_dense, r_sparse,
              |  COALESCE(1000000000 // (60 + r_dense), 0)
              |    + COALESCE(1000000000 // (60 + r_sparse), 0) AS rrf_s
              |FROM dr FULL OUTER JOIN sr ON dr.id = sr.id
              |ORDER BY rrf_s DESC, id LIMIT 10""".stripMargin)),

    // ---- retrieval quality: nDCG@10 over a labeled eval slice -------------
    // The ranking-quality metric that closes the retrieval loop (q45/q46
    // produce rankings, q158/q169 gate recall; this grades ORDER): per
    // query, DCG@10 of the cosine ranking against graded label relevance
    // (same label = gain 3, adjacent label = gain 1, else 0 — the
    // 2^rel − 1 gains), normalized by the ideal ordering of the same
    // pool. The log2 discounts are a 10-row LITERAL LUT of
    // floor(1e9/log2(rank+1)) — both engines join the identical
    // constants, so DCG is exact integer math end-to-end. Eval posture =
    // the recall gates': a FIXED labeled slice (pushed range filter)
    // whatever the corpus; queries are a pushed point slice broadcast at
    // 8 rows. One window shuffle on (query), one 10-row LUT broadcast.
    "q178_ndcg_eval" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val e = tableParallel(s, dir, "embeddings")
        val qs = broadcast(e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            norm(col("embedding")).as("qnrm"), col("label").as("qlbl")))
        val cand = e.filter(col("vec_id") >= 100 && col("vec_id") < 400)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"),
            norm(col("embedding")).as("cnrm"), col("label").as("clbl"))
        // both rankings (actual and ideal) re-read the scored pool;
        // cached, the queries×slice scoring pass runs once
        val scored = Materialize(cand.join(qs)
          .select(col("qid"), col("qlbl"), col("cid"),
            floor(dot(col("cv"), col("qv")) / (col("cnrm") * col("qnrm"))
              * lit(1000000)).cast("long").as("cos_s"),
            when(col("clbl") === col("qlbl"), 3L)
              .when(abs(col("clbl") - col("qlbl")) === 1, 1L)
              .otherwise(0L).as("gain")))
        val disc = broadcast(NdcgDiscounts.toDF("rnk", "disc"))
        val actual = scored.withColumn("rnk", row_number()
            .over(Window.partitionBy("qid")
              .orderBy(desc("cos_s"), asc("cid"))).cast("long"))
          .filter(col("rnk") <= 10).join(disc, "rnk")
          .groupBy("qid", "qlbl")
          .agg(sum(col("gain") * col("disc")).as("dcg_s"))
        val ideal = scored.withColumn("rnk", row_number()
            .over(Window.partitionBy("qid")
              .orderBy(desc("gain"), asc("cid"))).cast("long"))
          .filter(col("rnk") <= 10).join(disc, "rnk")
          .groupBy("qid")
          .agg(sum(col("gain") * col("disc")).as("idcg_s"))
        actual.join(ideal, "qid")
          .select(col("qid"), col("qlbl"), col("dcg_s"), col("idcg_s"),
            expr("dcg_s * 1000 DIV GREATEST(idcg_s, 1)").as("ndcg_pm"))
          .orderBy("qid")
      },
      Some(s"""WITH $duckNormed,
              |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm,
              |        label AS qlbl
              |      FROM (SELECT n.*, e2.label FROM n
              |            JOIN embeddings e2 USING (vec_id))
              |      WHERE vec_id < 8),
              |c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm,
              |        label AS clbl
              |      FROM (SELECT n.*, e2.label FROM n
              |            JOIN embeddings e2 USING (vec_id))
              |      WHERE vec_id >= 100 AND vec_id < 400),
              |disc(rnk, disc) AS (VALUES $ndcgDiscountValues),
              |scored AS (SELECT qid, qlbl, cid,
              |    CAST(floor(list_dot_product(cv, qv) / (cnrm * qnrm)
              |      * 1000000) AS BIGINT) AS cos_s,
              |    CASE WHEN clbl = qlbl THEN 3
              |         WHEN abs(clbl - qlbl) = 1 THEN 1 ELSE 0 END AS gain
              |  FROM c, q),
              |actual AS (SELECT qid, qlbl, sum(gain * disc) AS dcg_s
              |  FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qid
              |          ORDER BY cos_s DESC, cid) AS BIGINT) AS rnk
              |        FROM scored) s JOIN disc USING (rnk)
              |  WHERE rnk <= 10 GROUP BY qid, qlbl),
              |ideal AS (SELECT qid, sum(gain * disc) AS idcg_s
              |  FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qid
              |          ORDER BY gain DESC, cid) AS BIGINT) AS rnk
              |        FROM scored) s JOIN disc USING (rnk)
              |  WHERE rnk <= 10 GROUP BY qid)
              |SELECT a.qid, a.qlbl, CAST(a.dcg_s AS BIGINT) AS dcg_s,
              |  CAST(i.idcg_s AS BIGINT) AS idcg_s,
              |  CAST(a.dcg_s * 1000 // GREATEST(i.idcg_s, 1) AS BIGINT)
              |    AS ndcg_pm
              |FROM actual a JOIN ideal i ON a.qid = i.qid
              |ORDER BY a.qid""".stripMargin)),

    // ---- incremental IVF maintenance audit --------------------------------
    // The index-refresh decision every ANN deployment faces: new vectors
    // keep arriving, re-training on every batch is wasteful, so deltas
    // are assigned to the EXISTING coarse cells and the index is only
    // rebuilt when the audit says the geometry drifted. This operator is
    // that audit: centroids sampled from the BASE corpus (the index as
    // built, before the delta existed), both base and delta assigned to
    // them, and per cell the member growth (basis points) plus the mean
    // quantized L2² of base vs delta members — a delta population that
    // lands farther from its centroids than the base did is the drift
    // signal that triggers re-training (q66's machinery). Shapes: the
    // centroid frame is the fixed-cardinality hashSample broadcast (the
    // plan-invariant contract every ANN entry obeys), each assignment is
    // one narrow linear pass, means accumulate in DECIMAL(38,0) so
    // per-cell d2 sums cannot wrap at any membership. Missing-side cells
    // surface -1 means rather than NULL (exact cross-engine compare).
    // Scan budget 3 (whitelisted like q46/q162/q170): sample pass + the
    // two disjoint pushed assignment slices.
    "q196_ivf_incremental_assign" -> QueryDef(
      (s, dir) => {
        import graft.functions.LongVectorL2
        import org.apache.spark.sql.DataFrame
        val e = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"),
            transform(col("embedding"),
              x => floor(x.cast("double") * 1000000).cast("long")).as("vq"))
        val base = e.filter(col("vec_id") < 400)
        val delta = e.filter(col("vec_id") >= 400)
        // materialized once: both assignment passes broadcast the SAME
        // 64-row cached sample instead of re-running the draw
        val cent = broadcast(graft.operators.Materialize(
          hashSample(base, IvfNlist)
            .select(col("vec_id").as("cid"), col("vq").as("cq"))))
        def perCell(x: DataFrame, n: String, mean: String) = x.join(cent)
          .withColumn("d2", LongVectorL2.l2(col("vq"), col("cq")))
          .groupBy("vec_id")
          .agg(min(struct(col("d2"), col("cid"))).as("m"))
          .select(col("m.cid").as("cid"), col("m.d2").as("d2"))
          .groupBy("cid")
          .agg(count(lit(1)).as(n),
            expr("CAST(sum(CAST(d2 AS DECIMAL(38,0))) DIV count(1) " +
              s"AS BIGINT)").as(mean))
        perCell(base, "n_base", "mean_d2_base")
          .join(perCell(delta, "n_delta", "mean_d2_delta"),
            Seq("cid"), "full_outer")
          .select(col("cid"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"),
            expr("""coalesce(n_delta, CAST(0 AS BIGINT)) * 10000
                   | DIV greatest(coalesce(n_base, CAST(0 AS BIGINT)), 1)"""
              .stripMargin).as("growth_bp"),
            coalesce(col("mean_d2_base"), lit(-1L)).as("mean_d2_base"),
            coalesce(col("mean_d2_delta"), lit(-1L)).as("mean_d2_delta"))
          .orderBy("cid")
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |    list_transform(embedding::DOUBLE[],
              |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS vq
              |  FROM embeddings),
              |base AS (SELECT * FROM e WHERE vec_id < 400),
              |delta AS (SELECT * FROM e WHERE vec_id >= 400),
              |cent AS (SELECT vec_id AS cid, vq AS cq FROM base
              |  ${hashSampleSql(IvfNlist)}),
              |bd AS (SELECT b.vec_id, c.cid,
              |    list_sum(list_transform(range(1, 65),
              |      d -> (b.vq[d] - c.cq[d]) * (b.vq[d] - c.cq[d]))) AS d2
              |  FROM base b CROSS JOIN cent c),
              |ba AS (SELECT cid, d2 FROM (SELECT *, row_number()
              |    OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
              |  FROM bd) WHERE rn = 1),
              |dd AS (SELECT x.vec_id, c.cid,
              |    list_sum(list_transform(range(1, 65),
              |      d -> (x.vq[d] - c.cq[d]) * (x.vq[d] - c.cq[d]))) AS d2
              |  FROM delta x CROSS JOIN cent c),
              |da AS (SELECT cid, d2 FROM (SELECT *, row_number()
              |    OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
              |  FROM dd) WHERE rn = 1),
              |pb AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_base,
              |    CAST(sum(d2) // count(*) AS BIGINT) AS mean_d2_base
              |  FROM ba GROUP BY 1),
              |pd AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_delta,
              |    CAST(sum(d2) // count(*) AS BIGINT) AS mean_d2_delta
              |  FROM da GROUP BY 1)
              |SELECT COALESCE(pb.cid, pd.cid) AS cid,
              |  COALESCE(n_base, 0) AS n_base,
              |  COALESCE(n_delta, 0) AS n_delta,
              |  CAST(COALESCE(n_delta, 0) * 10000
              |    // GREATEST(COALESCE(n_base, 0), 1) AS BIGINT)
              |    AS growth_bp,
              |  COALESCE(mean_d2_base, -1) AS mean_d2_base,
              |  COALESCE(mean_d2_delta, -1) AS mean_d2_delta
              |FROM pb FULL OUTER JOIN pd ON pb.cid = pd.cid
              |ORDER BY cid""".stripMargin)),

    // ---- semi-hard negative mining (triplet construction) -----------------
    // Metric-learning data prep: for each anchor, find its nearest
    // SAME-label positive, then the negatives in the semi-hard band —
    // farther than the positive but within the margin (the FaceNet
    // mining rule: d(a,p) < d(a,n) < d(a,p) + m). Violating ("hard")
    // negatives are counted too; training batches want the band, not the
    // violators. Scale shape: the anchor set is a parameter-sized
    // broadcast (q45's bounded-probe pattern); the corpus projection is
    // cached once and feeds the positive pass and the negative pass (one
    // scan); the negative frame is re-projected NARROW (ids + scaled
    // distances, no vectors) and cached so the band stats and the top-3
    // ranking share one distance computation. All distances are
    // floor-scaled integer micro-units with q175's exact tie-breaks, so
    // the oracle replays the mining decision bit-for-bit.
    "q202_semihard_negatives" -> QueryDef(
      (s, dir) => {
        val margin = 500000L // 0.5 in L2² micro-units
        val e = Materialize(tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").as("v"), col("label"),
            dot(col("embedding"), col("embedding")).as("vv")))
        val anc = broadcast(e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("aid"), col("v").as("av"),
            col("label").as("albl"), col("vv").as("avv")))
        val pairs = e.join(anc, col("vec_id") =!= col("aid"))
          .withColumn("d2s",
            floor((col("avv") - lit(2.0) * dot(col("av"), col("v"))
              + col("vv")) * lit(1000000)).cast("long"))
        val pos = broadcast(pairs.filter(col("label") === col("albl"))
          .groupBy("aid")
          .agg(min(struct(col("d2s"), col("vec_id"))).as("m"))
          .select(col("aid"), col("m.d2s").as("pos_d2s"),
            col("m.vec_id").as("pos_id")))
        val neg = Materialize(pairs.filter(col("label") =!= col("albl"))
          .join(pos, "aid")
          .select(col("aid"), col("vec_id"), col("d2s"),
            col("pos_d2s"), col("pos_id")))
        val semiCond = col("d2s") > col("pos_d2s") &&
          col("d2s") < col("pos_d2s") + margin
        val stats = neg.groupBy("aid").agg(
          sum(when(col("d2s") <= col("pos_d2s"), 1L).otherwise(0L))
            .as("n_hard"),
          sum(when(semiCond, 1L).otherwise(0L)).as("n_semihard"))
        val wr = Window.partitionBy("aid")
          .orderBy(asc("d2s"), asc("vec_id"))
        neg.filter(semiCond)
          .withColumn("rnk", row_number().over(wr))
          .filter(col("rnk") <= 3)
          .join(broadcast(stats), "aid")
          .select(col("aid").as("query_id"), col("pos_id"),
            col("pos_d2s"), col("n_hard"), col("n_semihard"),
            col("vec_id").as("neg_id"), col("d2s").as("neg_d2s"),
            col("rnk"))
          .orderBy("query_id", "rnk")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label,
             |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])
             |    AS vv
             |  FROM embeddings),
             |anc AS (SELECT vec_id AS aid, v AS av, label AS albl,
             |    vv AS avv FROM e WHERE vec_id < 8),
             |p AS (SELECT aid, albl, b.vec_id AS bid, b.label AS blbl,
             |    CAST(floor((avv - 2 * list_dot_product(av, b.v) + b.vv)
             |      * 1000000) AS BIGINT) AS d2s
             |  FROM anc JOIN e b ON b.vec_id <> aid),
             |pos AS (SELECT aid, d2s AS pos_d2s, bid AS pos_id FROM (
             |    SELECT aid, d2s, bid, row_number() OVER (
             |      PARTITION BY aid ORDER BY d2s, bid) AS rn
             |    FROM p WHERE blbl = albl) WHERE rn = 1),
             |neg AS (SELECT p.aid, bid, d2s, pos_d2s, pos_id
             |  FROM p JOIN pos ON p.aid = pos.aid WHERE blbl <> albl),
             |st AS (SELECT aid,
             |    CAST(sum(CASE WHEN d2s <= pos_d2s THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_hard,
             |    CAST(sum(CASE WHEN d2s > pos_d2s
             |      AND d2s < pos_d2s + 500000 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_semihard
             |  FROM neg GROUP BY 1),
             |band AS (SELECT aid, bid, d2s, pos_d2s, pos_id,
             |    CAST(row_number() OVER (PARTITION BY aid
             |      ORDER BY d2s, bid) AS INT) AS rnk
             |  FROM neg
             |  WHERE d2s > pos_d2s AND d2s < pos_d2s + 500000)
             |SELECT s.aid AS query_id, pos_id, pos_d2s, n_hard,
             |  n_semihard, bid AS neg_id, d2s AS neg_d2s, rnk
             |FROM band s JOIN st ON st.aid = s.aid
             |WHERE rnk <= 3
             |ORDER BY query_id, rnk""".stripMargin)),

    // ---- multi-probe LSH: probes for tables -------------------------------
    // The index-memory lever Lv et al. (VLDB'07) introduced: instead of
    // adding hash tables to recover recall, probe the NEIGHBOR buckets
    // of the ones a query lands in. Three strategies over the q47 SRP
    // machinery on the bounded q64 slice, under ONE frame: 4 bands with
    // exact probes (the q47 baseline), 2 bands exact (half the index
    // memory, recall collapses), and 2 bands probing each key plus its
    // four Hamming-1 neighbors (same halved index, 5 probes). Probing is
    // an EXPLODE on the query side only — the stored index is untouched,
    // which is the entire point: at 100 TB the bands table is the
    // persisted/shuffled asset and probe fan-out is a 5× map-side
    // multiplier on the (tiny) probe stream, so candidate generation
    // stays one equi-join either way. Candidate sets are supersets by
    // construction (multi ⊇ single at equal bands), so the recall
    // ordering the spec pins is structural; the oracle replays all three
    // strategies bit-for-bit with recall in integer bp.
    "q217_multiprobe_lsh_recall" -> QueryDef(
      (s, dir) => {
        import graft.functions.SrpBandKeys
        val e = Materialize(tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding").as("v"))
          .withColumn("nrm", norm(col("v"))))
        val exact = Materialize(e.as("a")
          .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
          .filter(dot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm")) >= 0.4)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b")))
        val bands = Materialize(e
          .select(col("vec_id"), posexplode(SrpBandKeys.of(col("v"))))
          .toDF("vec_id", "band_id", "bkey"))
        def strategyRow(name: String, nBands: Int,
                        multi: Boolean): DataFrame = {
          val idx = bands.filter(col("band_id") < nBands)
          val probes =
            if (multi) idx.select(col("vec_id"), col("band_id"),
              explode(expr("array(bkey, bkey ^ 1, bkey ^ 2, bkey ^ 4, " +
                "bkey ^ 8)")).as("bkey"))
            else idx
          // LAZY lineage cut (round-13): cand is consumed twice (the
          // nCand broadcast agg + the verify join) — uncut, the
          // band-collision join + distinct executed twice per strategy
          val cand = Materialize.lazyCheckpointed(probes.as("a")
            .join(idx.as("b"),
              col("a.band_id") === col("b.band_id") &&
                col("a.bkey") === col("b.bkey") &&
                col("a.vec_id") < col("b.vec_id"))
            .select(col("a.vec_id").as("vec_a"),
              col("b.vec_id").as("vec_b"))
            .distinct())
          val ver = cand
            .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"),
              col("nrm").as("na")), Seq("vec_a"))
            .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
              col("nrm").as("nb")), Seq("vec_b"))
            .filter(dot(col("va"), col("vb")) /
              (col("na") * col("nb")) >= 0.4)
            .select("vec_a", "vec_b")
          val nCand = cand.agg(count(lit(1)).as("n_cand"))
          exact
            .join(ver.withColumn("hit", lit(1)),
              Seq("vec_a", "vec_b"), "left")
            .agg(count(lit(1)).as("n_exact"),
              sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
            .crossJoin(broadcast(nCand))
            .select(lit(name).as("strategy"),
              lit(nBands.toLong).as("n_tables"), col("n_cand"),
              col("n_exact"), col("n_hit"),
              expr("n_hit * 10000 DIV n_exact").as("recall_bp"))
        }
        strategyRow("a_single_4band", 4, multi = false)
          .unionAll(strategyRow("b_single_2band", 2, multi = false))
          .unionAll(strategyRow("c_multi_2band", 2, multi = true))
          .orderBy("strategy")
      },
      Some {
        def strategy(tag: String, nBands: Int, multi: Boolean) = {
          val probeSrc =
            if (multi)
              s"""(SELECT vec_id, band_id,
                 |    unnest([bkey, xor(bkey, 1), xor(bkey, 2),
                 |            xor(bkey, 4), xor(bkey, 8)]) AS bkey
                 |  FROM bands WHERE band_id < $nBands)"""
            else s"(SELECT * FROM bands WHERE band_id < $nBands)"
          s"""cand_$tag AS (
             |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             |  FROM $probeSrc a
             |  JOIN bands b ON b.band_id = a.band_id AND b.bkey = a.bkey
             |    AND a.vec_id < b.vec_id
             |  WHERE b.band_id < $nBands),
             |ver_$tag AS (
             |  SELECT vec_a, vec_b FROM cand_$tag
             |  JOIN n na ON na.vec_id = vec_a
             |  JOIN n nb ON nb.vec_id = vec_b
             |  WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm)
             |    >= 0.4),
             |row_$tag AS (
             |  SELECT '$tag' AS strategy, CAST($nBands AS BIGINT)
             |      AS n_tables,
             |    (SELECT count(*) FROM cand_$tag) AS n_cand,
             |    (SELECT count(*) FROM exact) AS n_exact,
             |    (SELECT count(*) FROM exact e JOIN ver_$tag v
             |       ON v.vec_a = e.vec_a AND v.vec_b = e.vec_b)
             |      AS n_hit)"""
        }
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |          FROM embeddings WHERE vec_id < 300),
           |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
           |      FROM e),
           |exact AS (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM n a JOIN n b ON a.vec_id < b.vec_id
           |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4),
           |planes AS (
           |  SELECT p, list_transform(range(0, 64), d ->
           |    ((CAST(('0x' || substr(md5(p || '_' || d), 1, 8)) AS BIGINT)
           |      % 2001) - 1000) / 1000.0) AS w
           |  FROM range(16) t(p)),
           |sig AS (
           |  SELECT e.vec_id, planes.p,
           |    CASE WHEN list_sum(list_transform(range(1, 65),
           |      d -> v[d] * w[d])) >= 0 THEN 1 ELSE 0 END AS bit
           |  FROM e CROSS JOIN planes),
           |bands AS (
           |  SELECT vec_id, CAST(p // 4 AS INT) AS band_id,
           |    CAST(sum(bit << (p % 4)) AS INT) AS bkey
           |  FROM sig GROUP BY vec_id, p // 4),
           |${strategy("a_single_4band", 4, multi = false)},
           |${strategy("b_single_2band", 2, multi = false)},
           |${strategy("c_multi_2band", 2, multi = true)}
           |SELECT strategy, n_tables,
           |  CAST(n_cand AS BIGINT) AS n_cand,
           |  CAST(n_exact AS BIGINT) AS n_exact,
           |  CAST(n_hit AS BIGINT) AS n_hit,
           |  CAST(n_hit * 10000 // n_exact AS BIGINT) AS recall_bp
           |FROM (SELECT * FROM row_a_single_4band
           |  UNION ALL SELECT * FROM row_b_single_2band
           |  UNION ALL SELECT * FROM row_c_multi_2band)
           |ORDER BY strategy""".stripMargin
      }),

    // ---- per-dimension affine int8 quantization audit ---------------------
    // The evidence a pipeline needs before swapping float32 embeddings
    // for int8 (4× memory, SIMD distance kernels): per-DIMENSION min/max
    // affine quantization to 255 levels, reconstruction, and the error
    // accounting. q90 audits the other standard scheme (per-VECTOR
    // symmetric max-abs scaling) through float similarity preservation;
    // this audit decides between them with exact integers — per-dim
    // affine is what feature columns with offset distributions need, and
    // its error envelope is provable, not sampled. All in the q211
    // exact-integer milli-unit space, so
    // both engines replay the identical truncation sequence and the
    // oracle hashes every error value. Per dimension the audit reports
    // the quantized-level range (pinned to [-127, 127] — the int8
    // envelope is the CLAIM being audited), mean/max absolute
    // reconstruction error, and the theoretical step bound
    // range DIV 254 + 1 that max_err can never exceed (spec-pinned, and
    // visible side by side in the output). Scale: one corpus pass
    // explodes components (64 rows/vector), the range frame is a
    // CONSTANT 64-row broadcast whatever the corpus, and quantize +
    // reconstruct + error is a narrow codegen'd projection — the audit
    // costs one scan and one 64-group aggregation at any scale.
    "q231_affine_quant_audit" -> QueryDef(
      (s, dir) => {
        val comps = Materialize(tableParallel(s, dir, "embeddings")
          .select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .withColumn("xm",
            floor(col("x").cast("double") * 1000).cast("long"))
          .select("vec_id", "i", "xm"))
        val rng = comps.groupBy("i")
          .agg(min("xm").as("mn"), max("xm").as("mx"))
          .withColumn("rg", expr("greatest(mx - mn, CAST(1 AS BIGINT))"))
        comps.join(broadcast(rng), "i")
          .withColumn("qv", expr("(xm - mn) * 254 DIV rg - 127"))
          .withColumn("xr", expr("(qv + 127) * rg DIV 254 + mn"))
          .withColumn("err", expr("abs(xm - xr)"))
          .groupBy("i")
          .agg(count(lit(1)).as("n"),
            min("mn").as("mn"), min("mx").as("mx"),
            min("qv").as("min_q"), max("qv").as("max_q"),
            sum("err").as("sum_err_milli"),
            max("err").as("max_err_milli"))
          .withColumn("step_milli",
            expr("greatest(mx - mn, CAST(1 AS BIGINT)) DIV 254 + 1"))
          .withColumn("mean_err_milli", expr("sum_err_milli DIV n"))
          .select("i", "n", "mn", "mx", "min_q", "max_q", "step_milli",
            "mean_err_milli", "max_err_milli", "sum_err_milli")
          .orderBy("i")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |comps AS (SELECT vec_id, i,
             |    CAST(floor(v[i + 1] * 1000) AS BIGINT) AS xm
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) idx),
             |rng AS (SELECT i, min(xm) AS mn, max(xm) AS mx,
             |    greatest(max(xm) - min(xm), 1) AS rg
             |  FROM comps GROUP BY 1),
             |q AS (SELECT c.vec_id, c.i, c.xm, r.mn, r.mx, r.rg,
             |    (c.xm - r.mn) * 254 // r.rg - 127 AS qv
             |  FROM comps c JOIN rng r ON c.i = r.i),
             |x AS (SELECT *, (qv + 127) * rg // 254 + mn AS xr FROM q),
             |er AS (SELECT *, abs(xm - xr) AS err FROM x)
             |SELECT CAST(i AS INT) AS i, CAST(count(*) AS BIGINT) AS n,
             |  CAST(min(mn) AS BIGINT) AS mn, CAST(min(mx) AS BIGINT) AS mx,
             |  CAST(min(qv) AS BIGINT) AS min_q,
             |  CAST(max(qv) AS BIGINT) AS max_q,
             |  CAST(greatest(min(mx) - min(mn), 1) // 254 + 1 AS BIGINT)
             |    AS step_milli,
             |  CAST(sum(err) // count(*) AS BIGINT) AS mean_err_milli,
             |  CAST(max(err) AS BIGINT) AS max_err_milli,
             |  CAST(sum(err) AS BIGINT) AS sum_err_milli
             |FROM er GROUP BY i ORDER BY i""".stripMargin)),

    // ---- Davies–Bouldin cluster-quality audit ------------------------------
    // Is the label clustering (and by proxy any IVF partitioning trained
    // on it) geometrically tight? The Davies–Bouldin index with squared
    // L2 (documented variant — no sqrt keeps every step exact integers):
    // per cluster the scatter S²_i = mean squared distance to the
    // QUANTIZED centroid (components shifted non-negative and floored to
    // milli, centroids floored to micro — both divisions run on
    // non-negative operands, where Spark DIV and DuckDB // agree), then
    // R_ij = (S²_i + S²_j)/d²(c_i, c_j) in basis points and DB_i =
    // max_{j≠i} R_ij (ties → smallest j). Scale shape: ONE linear
    // component pass to the k×64 centroid frame (fixed cardinality —
    // broadcast back for the scatter pass), the pair stage runs on the
    // k²-row centroid frame only, and the argmax window partitions a
    // k²-row frame. Integer widths audited: component deviation for
    // unit-norm inputs is realistically ≤ ~1.2e6 micro (worst case 2e6),
    // so the per-point scatter contribution is ≤ ~9.2e13 (worst 2.56e14)
    // and the int64 sum holds to ~1e5 maximally-spread points per label
    // (~3.6e4 at the absolute worst case) — ample at sf1 (~20k vectors)
    // and bounded by the label cardinality, not the corpus size.
    "q241_davies_bouldin_audit" -> QueryDef(
      (s, dir) => {
        val comps = Materialize(tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .withColumn("xv",
            (floor((col("x").cast("double") + lit(1.0)) * 1000) * 1000)
              .cast("long"))
          .select("vec_id", "label", "i", "xv"))
        val cent = Materialize(comps.groupBy("label", "i")
          .agg(sum("xv").as("sv"), count(lit(1)).as("n"))
          .withColumn("cu", expr("sv DIV n")))
        val s2 = Materialize(comps
          .join(broadcast(cent.select("label", "i", "cu", "n")),
            Seq("label", "i"))
          .withColumn("d2", expr("(xv - cu) * (xv - cu)"))
          .groupBy("label")
          .agg(sum("d2").as("ss"), max("n").as("n"))
          .withColumn("s2q", expr("ss DIV n")))
        val cd = cent.as("a").join(cent.as("b"),
            col("a.i") === col("b.i") &&
              col("a.label") =!= col("b.label"))
          .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
          .agg(sum(expr("(a.cu - b.cu) * (a.cu - b.cu)")).as("d2c"))
        val rw = Window.partitionBy("la")
          .orderBy(col("r_bp").desc, col("lb").asc)
        val top = cd
          .join(broadcast(s2.select(col("label").as("la"),
            col("s2q").as("s2a"), col("n").as("n"))), "la")
          .join(broadcast(s2.select(col("label").as("lb"),
            col("s2q").as("s2b"))), "lb")
          .withColumn("r_bp",
            expr("(s2a + s2b) * 10000 DIV greatest(d2c, 1)"))
          .withColumn("rn", row_number().over(rw))
          .filter(col("rn") === 1)
        val db = top.agg(expr("sum(r_bp) DIV count(1)")
          .as("db_mean_bp"))
        top.crossJoin(broadcast(db))
          .select(col("la").as("label"), col("n"),
            col("s2a").as("s2q"),
            col("lb").as("worst_label"), col("r_bp"), col("db_mean_bp"))
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
             |    embedding::DOUBLE[] AS v FROM embeddings),
             |comps AS (SELECT vec_id, label, i,
             |    CAST(floor((v[i + 1] + 1.0) * 1000) * 1000 AS BIGINT)
             |      AS xv
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) idx),
             |cent AS (SELECT label, i, CAST(sum(xv) AS BIGINT) AS sv,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(xv) // count(*) AS BIGINT) AS cu
             |  FROM comps GROUP BY 1, 2),
             |s2 AS (SELECT c.label,
             |    CAST(sum((c.xv - ct.cu) * (c.xv - ct.cu)) AS BIGINT)
             |      AS ss,
             |    CAST(max(ct.n) AS BIGINT) AS n,
             |    CAST(sum((c.xv - ct.cu) * (c.xv - ct.cu)) // max(ct.n)
             |      AS BIGINT) AS s2q
             |  FROM comps c JOIN cent ct
             |    ON c.label = ct.label AND c.i = ct.i
             |  GROUP BY 1),
             |cd AS (SELECT a.label AS la, b.label AS lb,
             |    CAST(sum((a.cu - b.cu) * (a.cu - b.cu)) AS BIGINT)
             |      AS d2c
             |  FROM cent a JOIN cent b
             |    ON a.i = b.i AND a.label <> b.label
             |  GROUP BY 1, 2),
             |r AS (SELECT la, lb, sa.n, sa.s2q AS s2a, sb.s2q AS s2b,
             |    (sa.s2q + sb.s2q) * 10000 // greatest(d2c, 1) AS r_bp
             |  FROM cd JOIN s2 sa ON cd.la = sa.label
             |    JOIN s2 sb ON cd.lb = sb.label),
             |top AS (SELECT *, row_number() OVER (PARTITION BY la
             |    ORDER BY r_bp DESC, lb ASC) AS rn FROM r),
             |t1 AS (SELECT * FROM top WHERE rn = 1),
             |db AS (SELECT CAST(sum(r_bp) // count(*) AS BIGINT)
             |    AS db_mean_bp FROM t1)
             |SELECT la AS label, n, s2a AS s2q, lb AS worst_label,
             |  CAST(r_bp AS BIGINT) AS r_bp, db_mean_bp
             |FROM t1 CROSS JOIN db ORDER BY label""".stripMargin)),

    // ---- silhouette cluster-quality audit ----------------------------------
    // The point-level counterpart of q241's Davies–Bouldin: per point,
    // a(i) = mean squared L2 to its OWN label's other members, b(i) =
    // min over other labels of the mean squared L2 to that label, and
    // s(i) = (b − a)/max(a, b) in bp — the audit that localizes WHICH
    // points sit on the wrong side of a cluster boundary, where DB only
    // scores whole clusters. Pairwise by construction, so it runs on a
    // pushed bounded slice (the q211/q159 rule: the vec_id < 200
    // predicate reaches the parquet scan; corpus-scale practice is
    // silhouette-on-a-sample). All arithmetic exact integers: the q241
    // micro quantization, per-(point, label) mean via DIV on
    // non-negative sums, and the final ratio sign-split so Spark's
    // truncate-toward-zero DIV and DuckDB's floor // agree on negative
    // s(i). Singleton-label points (no same-label pair in the slice)
    // have undefined a(i) and are excluded, per the standard definition.
    "q244_silhouette_audit" -> QueryDef(
      (s, dir) => {
        val comps = Materialize(tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 200)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .withColumn("xv",
            (floor((col("x").cast("double") + lit(1.0)) * 1000) * 1000)
              .cast("long"))
          .select("vec_id", "label", "i", "xv"))
        val pd = comps.as("a").join(comps.as("b"),
            col("a.i") === col("b.i") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .groupBy(col("a.vec_id").as("va"), col("a.label").as("la"),
            col("b.vec_id").as("vb"), col("b.label").as("lb"))
          .agg(sum(expr("(a.xv - b.xv) * (a.xv - b.xv)")).as("d2"))
        val m = pd.groupBy("va", "la", "lb")
          .agg(expr("sum(d2) DIV count(1)").as("md"))
        val ab = m.groupBy("va", "la")
          .agg(max(when(col("lb") === col("la"), col("md"))).as("ai"),
            min(when(col("lb") =!= col("la"), col("md"))).as("bi"))
          .filter(col("ai").isNotNull && col("bi").isNotNull)
          .withColumn("s_bp", expr(
            """CASE WHEN bi >= ai
              |  THEN (bi - ai) * 10000 DIV greatest(bi, CAST(1 AS BIGINT))
              |  ELSE -((ai - bi) * 10000
              |    DIV greatest(ai, CAST(1 AS BIGINT)))
              |END""".stripMargin))
        ab.groupBy(col("la").as("label"))
          .agg(count(lit(1)).as("n"),
            expr("""CASE WHEN sum(s_bp) >= 0
                   |  THEN sum(s_bp) DIV count(1)
                   |  ELSE -((-sum(s_bp)) DIV count(1)) END"""
              .stripMargin).as("mean_s_bp"),
            min("s_bp").as("min_s_bp"), max("s_bp").as("max_s_bp"))
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
             |    embedding::DOUBLE[] AS v FROM embeddings
             |  WHERE vec_id < 200),
             |comps AS (SELECT vec_id, label, i,
             |    CAST(floor((v[i + 1] + 1.0) * 1000) * 1000 AS BIGINT)
             |      AS xv
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) idx),
             |pd AS (SELECT a.vec_id AS va, a.label AS la,
             |    b.vec_id AS vb, b.label AS lb,
             |    CAST(sum((a.xv - b.xv) * (a.xv - b.xv)) AS BIGINT) AS d2
             |  FROM comps a JOIN comps b
             |    ON a.i = b.i AND a.vec_id <> b.vec_id
             |  GROUP BY 1, 2, 3, 4),
             |m AS (SELECT va, la, lb,
             |    CAST(sum(d2) // count(*) AS BIGINT) AS md
             |  FROM pd GROUP BY 1, 2, 3),
             |ab AS (SELECT va, la,
             |    max(CASE WHEN lb = la THEN md END) AS ai,
             |    min(CASE WHEN lb <> la THEN md END) AS bi
             |  FROM m GROUP BY 1, 2),
             |sv AS (SELECT va, la,
             |    CAST(CASE WHEN bi >= ai
             |      THEN (bi - ai) * 10000 // greatest(bi, 1)
             |      ELSE -((ai - bi) * 10000 // greatest(ai, 1))
             |    END AS BIGINT) AS s_bp
             |  FROM ab WHERE ai IS NOT NULL AND bi IS NOT NULL)
             |SELECT la AS label, CAST(count(*) AS BIGINT) AS n,
             |  CAST(CASE WHEN sum(s_bp) >= 0
             |    THEN sum(s_bp) // count(*)
             |    ELSE -((-sum(s_bp)) // count(*)) END AS BIGINT)
             |    AS mean_s_bp,
             |  CAST(min(s_bp) AS BIGINT) AS min_s_bp,
             |  CAST(max(s_bp) AS BIGINT) AS max_s_bp
             |FROM sv GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- power-iteration PCA: dominant principal direction ----------------
    // The top eigenvector of the embedding covariance WITHOUT ever
    // forming the 64×64 covariance matrix: C·w = Σ_n v_n (v_n · w) / N,
    // so each of the 3 power-iteration rounds is ONE linear pass — a
    // broadcast join of the centered components against the 64-row
    // weight frame for the per-vector score s_n, then a vec_id-equi-join
    // (the components are hash-partitioned by vec_id ONCE at
    // materialization, so every round's join reuses that exchange) and a
    // 64-group aggregation for y = Σ v_n s_n, normalized by max|y| in
    // integer milli fixed-point. All divisions are sign-split so Spark's
    // truncating DIV and DuckDB's flooring // replay the identical
    // sequence. At 100 TB: per round = one shuffle-free broadcast stage
    // + one co-partitioned join + a 64-row result — O(rounds · N) with
    // constant driver state, the matrix-free shape iterative eigen
    // solvers need at scale. Bounds: |centered| ≤ 2000 milli,
    // |s_n| ≤ 64·2000 = 1.28e5, |y_i| ≤ N·2000·1.28e5 ≈ 2.6e12 at
    // sf0.1 — int64-exact with 6 orders of headroom.
    "q247_power_iteration_pca" -> QueryDef(
      (s, dir) => {
        def sd(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) DIV ($d) " +
            s"ELSE -((-($v)) DIV ($d)) END"
        val comps = Materialize(tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding"))
            .as(Seq("i", "x")))
          .withColumn("xm",
            floor(col("x").cast("double") * 1000).cast("long"))
          .select("vec_id", "i", "xm"))
        val mn = comps.groupBy("i")
          .agg(expr(sd("sum(xm)", "count(1)")).as("mi"))
        val cent = Materialize(comps.join(broadcast(mn), "i")
          .withColumn("c", col("xm") - col("mi"))
          .select("vec_id", "i", "c")
          .repartition(col("vec_id")))
        val w0 = s.range(64).toDF("i")
          .withColumn("w", lit(1000L))
        val wT = (1 to 3).foldLeft(w0) { (w, _) =>
          val sN = cent.join(broadcast(w), "i")
            .groupBy("vec_id")
            .agg(expr(sd("sum(c * w)", "1000")).as("s"))
          // max-normalization as a single-partition window over the
          // 64-row y frame (the q342 spelling): the old agg +
          // crossJoin(broadcast) + eager checkpoint cost 2 driver
          // actions per round and ran the round's two corpus joins
          // twice. The LAZY checkpoint cuts lineage with no action of
          // its own — each w is consumed through a broadcast build
          // (plus sF/den at the end), and broadcast builds are separate
          // executions, so an unmaterialized chain would re-run its
          // whole prefix per consumer (O(rounds²))
          Materialize.lazyCheckpointed(cent.join(sN, "vec_id")
            .groupBy("i").agg(sum(expr("c * s")).as("y"))
            .withColumn("m",
              greatest(max(abs(col("y"))).over(
                org.apache.spark.sql.expressions.Window.partitionBy()),
                lit(1L)))
            .select(col("i"), expr(sd("y * 1000", "m")).as("w")))
        }
        val sF = cent.join(broadcast(wT), "i")
          .groupBy("vec_id")
          .agg(expr(sd("sum(c * w)", "1000")).as("s"))
        val num = sF.agg(sum(expr("s * s")).as("ray_num"))
        val den = wT.agg(sum(expr("w * w")).as("ray_den"))
        wT.crossJoin(broadcast(num)).crossJoin(broadcast(den))
          .select(col("i").cast("long").as("i"), col("w").as("w_milli"),
            col("ray_num"), col("ray_den"))
          .orderBy("i")
      },
      Some {
        def sd(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) // ($d) " +
            s"ELSE -((-($v)) // ($d)) END"
        def round(r: Int, prev: String): String =
          s"""s$r AS (SELECT vec_id,
             |    CAST(${sd("sum(c * w)", "1000")} AS BIGINT) AS s
             |  FROM cent JOIN $prev USING (i) GROUP BY 1),
             |y$r AS (SELECT i, CAST(sum(c * s) AS BIGINT) AS y
             |  FROM cent JOIN s$r USING (vec_id) GROUP BY 1),
             |m$r AS (SELECT greatest(max(abs(y)), 1) AS m FROM y$r),
             |w$r AS (SELECT i, CAST(${sd("y * 1000", "m")} AS BIGINT)
             |    AS w FROM y$r CROSS JOIN m$r),""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |  FROM embeddings),
           |comps AS (SELECT vec_id, i,
           |    CAST(floor(v[i + 1] * 1000) AS BIGINT) AS xm
           |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) idx),
           |mn AS (SELECT i, CAST(${sd("sum(xm)", "count(*)")} AS BIGINT)
           |    AS mi FROM comps GROUP BY 1),
           |cent AS (SELECT vec_id, comps.i, xm - mi AS c
           |  FROM comps JOIN mn ON comps.i = mn.i),
           |w0 AS (SELECT i, CAST(1000 AS BIGINT) AS w
           |  FROM (SELECT unnest(range(0, 64)) AS i) idx),
           |${round(1, "w0")}
           |${round(2, "w1")}
           |${round(3, "w2")}
           |sf AS (SELECT vec_id,
           |    CAST(${sd("sum(c * w)", "1000")} AS BIGINT) AS s
           |  FROM cent JOIN w3 USING (i) GROUP BY 1),
           |num AS (SELECT CAST(sum(s * s) AS BIGINT) AS ray_num FROM sf),
           |den AS (SELECT CAST(sum(w * w) AS BIGINT) AS ray_den FROM w3)
           |SELECT CAST(w3.i AS BIGINT) AS i, w3.w AS w_milli,
           |  ray_num, ray_den
           |FROM w3 CROSS JOIN num CROSS JOIN den
           |ORDER BY i""".stripMargin
      }),

    // ---- distributed Lloyd k-means (broadcast-centroid rounds) ------------
    // q66's IVF trainer runs k-means on a constant-size driver sample;
    // this is the FULLY-DISTRIBUTED counterpart the final assignment
    // epochs of a 100 TB clustering job need: k=4 centroids seeded from
    // the 4 smallest vec_ids, 2 Lloyd rounds where each round is ONE
    // linear pass — broadcast the k·64-row centroid frame, per-vector
    // nearest centroid via the encode-argmin trick (min(d2·4 + cid)
    // decodes to the min-distance, min-cid assignment with no second
    // join), then a (cid, i) mean with map-side combine. All in exact
    // milli integers with sign-split division, so both engines replay
    // the identical trajectory. Per-round lineage is cut (loop rule).
    // Output: per-cluster size, inertia, and centroid checksum.
    // Bounds: d2 ≤ 64·2000² = 2.56e8 per pair; ·4+cid < 2³¹; inertia
    // sums N of those — int64-exact with 8 orders of headroom.
    "q249_lloyd_kmeans_rounds" -> QueryDef(
      (s, dir) => {
        def sdiv(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) DIV ($d) " +
            s"ELSE -((-($v)) DIV ($d)) END"
        val comps = Materialize(tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding"))
            .as(Seq("i", "x")))
          .withColumn("xm",
            floor(col("x").cast("double") * 1000).cast("long"))
          .select("vec_id", "i", "xm"))
        val c0 = comps.filter(col("vec_id") < 4)
          .select(col("vec_id").as("cid"), col("i"), col("xm").as("cm"))
        val cT = (1 to 2).foldLeft(c0) { (cent, _) =>
          val enc = comps.join(broadcast(cent), "i")
            .groupBy("vec_id", "cid")
            .agg(sum(expr("(xm - cm) * (xm - cm)")).as("d2"))
            .groupBy("vec_id")
            .agg(min(expr("d2 * 4 + cid")).as("enc"))
            .select(col("vec_id"), expr("enc % 4").as("cid"))
          Materialize.checkpointed(comps.join(enc, "vec_id")
            .groupBy("cid", "i")
            .agg(expr(sdiv("sum(xm)", "count(1)")).as("cm")))
        }
        val fin = comps.join(broadcast(cT), "i")
          .groupBy("vec_id", "cid")
          .agg(sum(expr("(xm - cm) * (xm - cm)")).as("d2"))
          .groupBy("vec_id")
          .agg(min(expr("d2 * 4 + cid")).as("enc"))
          .select(col("vec_id"), expr("enc % 4").as("cid"),
            expr("enc DIV 4").as("d2"))
        val stats = fin.groupBy("cid")
          .agg(count(lit(1)).as("n_members"), sum("d2").as("inertia"))
        val chk = cT.groupBy("cid")
          .agg(sum(expr("cm * (i + 1)")).as("centroid_checksum"))
        stats.join(chk, "cid")
          .select(col("cid"), col("n_members"), col("inertia"),
            col("centroid_checksum"))
          .orderBy("cid")
      },
      Some {
        def sdiv(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) // ($d) " +
            s"ELSE -((-($v)) // ($d)) END"
        def round(r: Int, prev: String): String =
          s"""a$r AS (SELECT vec_id, min(d2 * 4 + cid) AS enc FROM (
             |    SELECT comps.vec_id, c.cid,
             |      CAST(sum((xm - cm) * (xm - cm)) AS BIGINT) AS d2
             |    FROM comps JOIN $prev c ON comps.i = c.i
             |    GROUP BY 1, 2) GROUP BY 1),
             |c$r AS (SELECT enc % 4 AS cid, comps.i,
             |    CAST(${sdiv("sum(xm)", "count(*)")} AS BIGINT) AS cm
             |  FROM comps JOIN a$r ON comps.vec_id = a$r.vec_id
             |  GROUP BY 1, 2),""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |  FROM embeddings),
           |comps AS (SELECT vec_id, i,
           |    CAST(floor(v[i + 1] * 1000) AS BIGINT) AS xm
           |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) idx),
           |c0 AS (SELECT vec_id AS cid, i, xm AS cm FROM comps
           |  WHERE vec_id < 4),
           |${round(1, "c0")}
           |${round(2, "c1")}
           |fin AS (SELECT vec_id, min(d2 * 4 + cid) AS enc FROM (
           |    SELECT comps.vec_id, c.cid,
           |      CAST(sum((xm - cm) * (xm - cm)) AS BIGINT) AS d2
           |    FROM comps JOIN c2 c ON comps.i = c.i
           |    GROUP BY 1, 2) GROUP BY 1),
           |st AS (SELECT enc % 4 AS cid,
           |    CAST(count(*) AS BIGINT) AS n_members,
           |    CAST(sum(enc // 4) AS BIGINT) AS inertia
           |  FROM fin GROUP BY 1),
           |ck AS (SELECT cid, CAST(sum(cm * (i + 1)) AS BIGINT)
           |    AS centroid_checksum
           |  FROM c2 GROUP BY 1)
           |SELECT st.cid, n_members, inertia, centroid_checksum
           |FROM st JOIN ck ON st.cid = ck.cid ORDER BY st.cid"""
          .stripMargin
      }),

    // ---- distributed batch-perceptron training rounds ---------------------
    // The linear-probe trainer the label audits assume a model for:
    // two batch perceptron epochs on the embeddings (y = ±1 on
    // label=0), fully distributed — each epoch is one broadcast-weight
    // linear pass for margins plus one misclassified-masked (i)-rollup
    // for the update, the [[graft.operators.PageRank]] rank-join shape
    // applied to learning. Pure integers: x in exact milli units, unit
    // learning rate, so both engines replay the identical weight
    // trajectory (no float gradient drift). Per-epoch lineage cut
    // (loop rule). Output: per-epoch misclassification count, training
    // accuracy, and weight-norm witnesses. Bounds: |w_i| ≤ N·2000,
    // |margin| ≤ 64·N·2000·2000 ≈ 2.6e11·N — int64-exact past sf100
    // (N = 2e6 → 5e17).
    "q266_perceptron_rounds" -> QueryDef(
      (s, dir) => {
        val comps = Materialize(tableParallel(s, dir, "embeddings")
          .select(col("vec_id"),
            when(col("label") === 0, 1L).otherwise(-1L).as("y"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .withColumn("xm",
            floor(col("x").cast("double") * 1000).cast("long"))
          .select("vec_id", "y", "i", "xm")
          .repartition(col("vec_id")))
        val nf = comps.agg(countDistinct("vec_id").as("n"))
        def margins(w: DataFrame): DataFrame =
          comps.join(broadcast(w), "i")
            .groupBy("vec_id", "y").agg(sum(expr("w * xm")).as("m"))
        // LAZY round boundaries (round-13): each epoch's margins frame
        // is consumed twice (the update's misclassified mask + the
        // stats row) and each weight frame three times (next epoch's
        // broadcast, the next update's join, the stats row) — the
        // lineage cut is required, but the old EAGER
        // Materialize/checkpointed spelling paid one driver action per
        // frame (4 per query) where the final action's own broadcast
        // builds materialize the same bounded frames for free
        def update(w: DataFrame, mg: DataFrame): DataFrame = {
          val mis = mg.filter(expr("y * m <= 0")).select("vec_id")
          val dw = comps.join(mis, "vec_id")
            .groupBy("i").agg(sum(expr("y * xm")).as("dw"))
          Materialize.lazyCheckpointed(w.join(dw, Seq("i"), "left")
            .select(col("i"),
              (col("w") + coalesce(col("dw"), lit(0L))).as("w")))
        }
        val w0 = s.range(64).toDF("i").withColumn("w", lit(0L))
        val mg1 = Materialize.lazyCheckpointed(margins(w0))
        val w1 = update(w0, mg1)
        val mg2 = Materialize.lazyCheckpointed(margins(w1))
        val w2 = update(w1, mg2)
        val mg3 = margins(w2)
        def statsRow(round: Int, mg: DataFrame, w: DataFrame)
            : DataFrame = {
          val ms = mg.agg(
            sum(when(expr("y * m <= 0"), 1L).otherwise(0L))
              .as("n_mis"))
          val ws = w.agg(sum(abs(col("w"))).as("w_l1"),
            max(abs(col("w"))).as("w_linf"))
          ms.crossJoin(broadcast(ws)).crossJoin(broadcast(nf))
            .select(lit(round).as("round"), col("n_mis"),
              expr("(n - n_mis) * 10000 DIV n").as("acc_bp"),
              col("w_l1"), col("w_linf"))
        }
        statsRow(1, mg1, w1)
          .unionAll(statsRow(2, mg2, w2))
          .unionAll(statsRow(3, mg3, w2))
          .orderBy("round")
      },
      Some {
        def epoch(r: Int): String =
          s"""mg$r AS (SELECT vec_id, y,
             |    CAST(sum(w * xm) AS BIGINT) AS m
             |  FROM comps JOIN w${r - 1} USING (i) GROUP BY 1, 2),
             |up$r AS (SELECT i, CAST(sum(y * xm) AS BIGINT) AS dw
             |  FROM comps JOIN (SELECT vec_id FROM mg$r
             |    WHERE y * m <= 0) mis USING (vec_id) GROUP BY 1),
             |w$r AS (SELECT w${r - 1}.i, w${r - 1}.w
             |    + coalesce(dw, 0) AS w
             |  FROM w${r - 1} LEFT JOIN up$r
             |    ON w${r - 1}.i = up$r.i)""".stripMargin
        def row(round: Int, mg: String, w: String): String =
          s"""SELECT $round AS round,
             |  (SELECT CAST(sum(CASE WHEN y * m <= 0 THEN 1 ELSE 0
             |    END) AS BIGINT) FROM $mg) AS n_mis,
             |  CAST((n - (SELECT sum(CASE WHEN y * m <= 0 THEN 1
             |    ELSE 0 END) FROM $mg)) * 10000 // n AS BIGINT)
             |    AS acc_bp,
             |  (SELECT CAST(sum(abs(w)) AS BIGINT) FROM $w) AS w_l1,
             |  (SELECT CAST(max(abs(w)) AS BIGINT) FROM $w) AS w_linf
             |FROM nf""".stripMargin
        s"""WITH e AS (SELECT vec_id,
           |    CASE WHEN label = 0 THEN 1 ELSE -1 END AS y,
           |    embedding::DOUBLE[] AS v FROM embeddings),
           |comps AS (SELECT vec_id, y, i,
           |    CAST(floor(v[i + 1] * 1000) AS BIGINT) AS xm
           |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) idx),
           |nf AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n
           |  FROM comps),
           |w0 AS (SELECT i, CAST(0 AS BIGINT) AS w
           |  FROM (SELECT unnest(range(0, 64)) AS i) idx),
           |${epoch(1)},
           |${epoch(2)},
           |mg3 AS (SELECT vec_id, y, CAST(sum(w * xm) AS BIGINT) AS m
           |  FROM comps JOIN w2 USING (i) GROUP BY 1, 2)
           |${row(1, "mg1", "w1")}
           |UNION ALL
           |${row(2, "mg2", "w2")}
           |UNION ALL
           |${row(3, "mg3", "w2")}
           |ORDER BY round""".stripMargin
      }),

    // ---- ridge regression by normal equations (closed form) ---------------
    // The one-pass linear-model trainer the iterative q266 perceptron
    // complements: predict e[2] from (1, e[0], e[1]) by solving the
    // 3×3 ridge normal equations (XᵀX + λI')b = Xᵀy — I' does not
    // penalize the intercept — with Cramer's rule. 100 TB shape: the
    // ONLY corpus-scale stage is the single aggregation that produces
    // the 9 sufficient moments (map-side combine, one row out); the
    // ×2 λ fan-out, the 3×3 determinants and the divisions all run on
    // that 1-row frame. Features in exact milli fixed point, every
    // determinant product in DECIMAL(38,0)/HUGEINT (worst term
    // n·s11·s22 ≈ 5e22 at sf1 — 15 digits of headroom), coefficient
    // divisions sign-split so truncating DIV and flooring // agree.
    // The λ=0 row is OLS; the λ=5e6 row witnesses shrinkage toward
    // zero on the slope coefficients (spec-pinned).
    "q274_ridge_normal_eq" -> QueryDef(
      (s, dir) => {
        def sd(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) DIV ($d) " +
            s"ELSE -((-($v)) DIV ($d)) END"
        def dec(x: String) = s"CAST($x AS DECIMAL(38,0))"
        // det of [[a,b,c],[d,e,f],[g,h,i]] — entries already DECIMAL
        def det3(a: String, b: String, c: String, d: String, e: String,
            f: String, g: String, h: String, i: String) =
          s"($a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g))"
        val mom = Materialize(tableParallel(s, dir, "embeddings")
          .select(
            floor(expr("embedding[0]").cast("double") * 1000)
              .cast("long").as("x1"),
            floor(expr("embedding[1]").cast("double") * 1000)
              .cast("long").as("x2"),
            floor(expr("embedding[2]").cast("double") * 1000)
              .cast("long").as("y"))
          .agg(count(lit(1)).as("n"),
            sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
            sum(expr("x1 * x1")).as("s11"),
            sum(expr("x2 * x2")).as("s22"),
            sum(expr("x1 * x2")).as("s12"),
            sum(expr("x1 * y")).as("s1y"),
            sum(expr("x2 * y")).as("s2y")))
        val lams = s.range(2).toDF("li")
          .withColumn("lam", expr("li * 5000000"))
        val (nD, s1D, s2D, syD) = (dec("n"), dec("s1"), dec("s2"), dec("sy"))
        val (s12D, s1yD, s2yD) = (dec("s12"), dec("s1y"), dec("s2y"))
        val a11 = dec("s11 + lam"); val a22 = dec("s22 + lam")
        val detA = det3(nD, s1D, s2D, s1D, a11, s12D, s2D, s12D, a22)
        val det0 = det3(syD, s1D, s2D, s1yD, a11, s12D, s2yD, s12D, a22)
        val det1 = det3(nD, syD, s2D, s1D, s1yD, s12D, s2D, s2yD, a22)
        val det2 = det3(nD, s1D, syD, s1D, a11, s1yD, s2D, s12D, s2yD)
        mom.crossJoin(broadcast(lams))
          .withColumn("det", expr(detA))
          .withColumn("b0_micro",
            expr(s"CAST(${sd(s"($det0) * 1000000", "det")} AS BIGINT)"))
          .withColumn("b1_micro",
            expr(s"CAST(${sd(s"($det1) * 1000000", "det")} AS BIGINT)"))
          .withColumn("b2_micro",
            expr(s"CAST(${sd(s"($det2) * 1000000", "det")} AS BIGINT)"))
          .select(col("lam"), col("n"), col("b0_micro"), col("b1_micro"),
            col("b2_micro"))
          .orderBy("lam")
      },
      Some {
        def sd(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) // ($d) " +
            s"ELSE -((-($v)) // ($d)) END"
        def hug(x: String) = s"CAST($x AS HUGEINT)"
        def det3(a: String, b: String, c: String, d: String, e: String,
            f: String, g: String, h: String, i: String) =
          s"($a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g))"
        val (nD, s1D, s2D, syD) = (hug("n"), hug("s1"), hug("s2"), hug("sy"))
        val (s12D, s1yD, s2yD) = (hug("s12"), hug("s1y"), hug("s2y"))
        val a11 = hug("s11 + lam"); val a22 = hug("s22 + lam")
        val detA = det3(nD, s1D, s2D, s1D, a11, s12D, s2D, s12D, a22)
        val det0 = det3(syD, s1D, s2D, s1yD, a11, s12D, s2yD, s12D, a22)
        val det1 = det3(nD, syD, s2D, s1D, s1yD, s12D, s2D, s2yD, a22)
        val det2 = det3(nD, s1D, syD, s1D, a11, s1yD, s2D, s12D, s2yD)
        s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
           |f AS (SELECT CAST(floor(v[1] * 1000) AS BIGINT) AS x1,
           |    CAST(floor(v[2] * 1000) AS BIGINT) AS x2,
           |    CAST(floor(v[3] * 1000) AS BIGINT) AS y
           |  FROM e),
           |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x1) AS BIGINT) AS s1,
           |    CAST(sum(x2) AS BIGINT) AS s2,
           |    CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
           |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
           |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
           |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
           |    CAST(sum(x2 * y) AS BIGINT) AS s2y
           |  FROM f),
           |lams AS (SELECT CAST(unnest([0, 5000000]) AS BIGINT) AS lam),
           |d AS (SELECT lam, n,
           |    $detA AS det,
           |    $det0 AS det0, $det1 AS det1, $det2 AS det2
           |  FROM mom CROSS JOIN lams)
           |SELECT lam, n,
           |  CAST(${sd("det0 * 1000000", "det")} AS BIGINT) AS b0_micro,
           |  CAST(${sd("det1 * 1000000", "det")} AS BIGINT) AS b1_micro,
           |  CAST(${sd("det2 * 1000000", "det")} AS BIGINT) AS b2_micro
           |FROM d ORDER BY lam""".stripMargin
      }),

    // ---- grid-density clustering (distributed DBSCAN shape) ---------------
    // Density clustering the way it distributes: quantize the first two
    // embedding dims to a fixed grid (one linear pass), keep CORE cells
    // (≥ minPts points), connect 8-neighbor core cells by an EQUI-join
    // on precomputed neighbor keys (never a distance cross-join), and
    // label components by min-cell-id transitive closure with 6
    // DOUBLING rounds on the bounded cell graph — 2⁶ = 64 hops, ample
    // for every component diameter this grid produces (the replay
    // spec runs FULL union-find CC and asserts equality, so a
    // pathological snake component that outruns 64 hops fails CI
    // rather than silently mislabeling); each round is a self-join of
    // a few-hundred-row frame, lineage-cut per the loop rule. Points in
    // non-core cells are reported as the lbl = -1 noise row. Grid
    // coords are offset non-negative BEFORE the integer divide so
    // Spark's truncating DIV and DuckDB's flooring // agree.
    "q281_grid_density_clusters" -> QueryDef(
      (s, dir) => {
        val pts = Materialize(tableParallel(s, dir, "embeddings")
          .select(col("vec_id"),
            (floor(expr("embedding[0]").cast("double") * 1000)
              .cast("long") + 1000L).as("xm"),
            (floor(expr("embedding[1]").cast("double") * 1000)
              .cast("long") + 1000L).as("ym"))
          .withColumn("cx", expr("xm DIV 60"))
          .withColumn("cy", expr("ym DIV 60"))
          .withColumn("cell", expr("cx * 1000 + cy"))
          .select("vec_id", "cx", "cy", "cell"))
        val cells = pts.groupBy("cell", "cx", "cy")
          .agg(count(lit(1)).as("cnt"))
        // LAZY lineage cut (round-13): core is consumed by both edge
        // sides and the noise anti-join, but all from cached pts — the
        // first consumer's job materializes the few-hundred-row frame;
        // the old eager Materialize paid a driver action per query
        val core = Materialize.lazyCheckpointed(
          cells.filter(col("cnt") >= 4))
        val edges = core
          .select(col("cell").as("src"), explode(expr(
            "array((cx-1)*1000+cy-1, (cx-1)*1000+cy, (cx-1)*1000+cy+1," +
              " cx*1000+cy-1, cx*1000+cy, cx*1000+cy+1," +
              " (cx+1)*1000+cy-1, (cx+1)*1000+cy, (cx+1)*1000+cy+1)"))
            .as("dst"))
          .join(core.select(col("cell").as("dst")), "dst")
          .select("src", "dst")
        // LAZY round boundaries (round-13): lineage is still cut every
        // doubling round (the loop rule), but no round pays its own
        // driver action — the old EAGER checkpoints cost 7 jobs per
        // query where the final action materializes the bounded
        // few-hundred-row closure frames as it executes. The self-join
        // reads each round's blocks twice within one job; block-level
        // locking dedups the compute.
        val closure = (1 to 6).foldLeft(
          Materialize.lazyCheckpointed(edges)) { (cl, _) =>
          Materialize.lazyCheckpointed(
            cl.as("a").join(cl.as("b"),
                col("a.dst") === col("b.src"))
              .select(col("a.src").as("src"), col("b.dst").as("dst"))
              .unionAll(cl).distinct())
        }
        val lbl = closure.groupBy("src").agg(min("dst").as("lbl"))
        val clustered = pts
          .join(lbl.withColumnRenamed("src", "cell"), "cell")
          .groupBy("lbl")
          .agg(countDistinct("cell").as("n_cells"),
            count(lit(1)).as("n_points"))
        val noise = pts
          .join(core.select("cell"), Seq("cell"), "left_anti")
          .agg(lit(-1L).as("lbl"),
            countDistinct("cell").as("n_cells"),
            count(lit(1)).as("n_points"))
        clustered.unionAll(noise)
          .select("lbl", "n_cells", "n_points")
          .orderBy("lbl")
      },
      Some {
        def cl(t: Int, prev: String) =
          s"""cl$t AS MATERIALIZED (
             |  SELECT DISTINCT a.src, b.dst
             |  FROM $prev a JOIN $prev b ON a.dst = b.src
             |  UNION SELECT src, dst FROM $prev)""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |  FROM embeddings),
           |pts AS (SELECT vec_id,
           |    (CAST(floor(v[1] * 1000) AS BIGINT) + 1000) // 60 AS cx,
           |    (CAST(floor(v[2] * 1000) AS BIGINT) + 1000) // 60 AS cy
           |  FROM e),
           |p2 AS (SELECT vec_id, cx, cy, cx * 1000 + cy AS cell
           |  FROM pts),
           |cells AS (SELECT cell, cx, cy, count(*) AS cnt
           |  FROM p2 GROUP BY 1, 2, 3),
           |core AS MATERIALIZED (SELECT * FROM cells WHERE cnt >= 4),
           |offs AS (SELECT unnest([-1, 0, 1]) AS dx),
           |nbr AS (SELECT c.cell AS src,
           |    (c.cx + o1.dx) * 1000 + (c.cy + o2.dx) AS dst
           |  FROM core c CROSS JOIN offs o1 CROSS JOIN offs o2),
           |cl0 AS MATERIALIZED (SELECT n.src, n.dst FROM nbr n
           |  JOIN core k ON n.dst = k.cell),
           |${cl(1, "cl0")},
           |${cl(2, "cl1")},
           |${cl(3, "cl2")},
           |${cl(4, "cl3")},
           |${cl(5, "cl4")},
           |${cl(6, "cl5")},
           |lbl AS (SELECT src, min(dst) AS lbl FROM cl6 GROUP BY 1),
           |clustered AS (SELECT l.lbl,
           |    CAST(count(DISTINCT p.cell) AS BIGINT) AS n_cells,
           |    CAST(count(*) AS BIGINT) AS n_points
           |  FROM p2 p JOIN lbl l ON p.cell = l.src GROUP BY 1),
           |noise AS (SELECT CAST(-1 AS BIGINT) AS lbl,
           |    CAST(count(DISTINCT p.cell) AS BIGINT) AS n_cells,
           |    CAST(count(*) AS BIGINT) AS n_points
           |  FROM p2 p WHERE p.cell NOT IN (SELECT cell FROM core))
           |SELECT lbl, n_cells, n_points FROM clustered
           |UNION ALL SELECT lbl, n_cells, n_points FROM noise
           |ORDER BY lbl""".stripMargin
      }),

    // ---- k-fold cross-validation by moment subtraction --------------------
    // The distributed-CV insight: a linear model's sufficient statistics
    // are ADDITIVE, so training on "all folds but f" needs no second
    // data pass — per-fold moments from ONE corpus aggregation, each
    // fold's training moments = totals − fold (9 subtractions on a
    // k-row frame), then the q274 Cramer solve per fold and one scoring
    // pass for held-out SSE. Two corpus passes total for the entire
    // k-fold procedure, independent of k — vs the naive k re-trains.
    // Folds are md5-hash-assigned (reproducible, partition-stable);
    // predictions in exact micro fixed point with sign-split rounding;
    // per-fold MSE in micro² units.
    "q283_kfold_cv_moments" -> QueryDef(
      (s, dir) => {
        def sd(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) DIV ($d) " +
            s"ELSE -((-($v)) DIV ($d)) END"
        def dec(x: String) = s"CAST($x AS DECIMAL(38,0))"
        def det3(a: String, b: String, c: String, d: String, e: String,
            f: String, g: String, h: String, i: String) =
          s"($a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g))"
        val rows = Materialize(tableParallel(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8)" +
              ", 16, 10) AS BIGINT) % 4").as("fold"),
            floor(expr("embedding[0]").cast("double") * 1000)
              .cast("long").as("x1"),
            floor(expr("embedding[1]").cast("double") * 1000)
              .cast("long").as("x2"),
            floor(expr("embedding[2]").cast("double") * 1000)
              .cast("long").as("y")))
        val fm = Materialize(rows.groupBy("fold")
          .agg(count(lit(1)).as("n"),
            sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
            sum(expr("x1 * x1")).as("s11"),
            sum(expr("x2 * x2")).as("s22"),
            sum(expr("x1 * x2")).as("s12"),
            sum(expr("x1 * y")).as("s1y"),
            sum(expr("x2 * y")).as("s2y")))
        val tot = fm.agg(sum("n").as("tn"), sum("s1").as("ts1"),
          sum("s2").as("ts2"), sum("sy").as("tsy"),
          sum("s11").as("ts11"), sum("s22").as("ts22"),
          sum("s12").as("ts12"), sum("s1y").as("ts1y"),
          sum("s2y").as("ts2y"))
        val train = fm.crossJoin(broadcast(tot))
          .withColumn("rn", expr("tn - n"))
          .withColumn("r1", expr("ts1 - s1"))
          .withColumn("r2", expr("ts2 - s2"))
          .withColumn("ry", expr("tsy - sy"))
          .withColumn("r11", expr("ts11 - s11"))
          .withColumn("r22", expr("ts22 - s22"))
          .withColumn("r12", expr("ts12 - s12"))
          .withColumn("r1y", expr("ts1y - s1y"))
          .withColumn("r2y", expr("ts2y - s2y"))
        val (nD, s1D, s2D, syD) = (dec("rn"), dec("r1"), dec("r2"),
          dec("ry"))
        val (a11, a22, s12D) = (dec("r11"), dec("r22"), dec("r12"))
        val (s1yD, s2yD) = (dec("r1y"), dec("r2y"))
        val detA = det3(nD, s1D, s2D, s1D, a11, s12D, s2D, s12D, a22)
        val det0 = det3(syD, s1D, s2D, s1yD, a11, s12D, s2yD, s12D, a22)
        val det1 = det3(nD, syD, s2D, s1D, s1yD, s12D, s2D, s2yD, a22)
        val det2 = det3(nD, s1D, syD, s1D, a11, s1yD, s2D, s12D, s2yD)
        val coef = train
          .withColumn("det", expr(detA))
          .withColumn("b0", expr(
            s"CAST(${sd(s"($det0) * 1000000", "det")} AS BIGINT)"))
          .withColumn("b1", expr(
            s"CAST(${sd(s"($det1) * 1000000", "det")} AS BIGINT)"))
          .withColumn("b2", expr(
            s"CAST(${sd(s"($det2) * 1000000", "det")} AS BIGINT)"))
          .select("fold", "n", "b0", "b1", "b2")
        rows.join(broadcast(coef), "fold")
          .withColumn("yhat", expr(
            s"b0 + ${sd("(b1 * x1 + b2 * x2)", "1000")}"))
          .withColumn("resid", expr("y * 1000 - yhat"))
          .groupBy("fold")
          .agg(max("n").as("n_test"), max("b0").as("b0_micro"),
            max("b1").as("b1_micro"), max("b2").as("b2_micro"),
            sum(expr("resid * resid")).as("sse_micro2"))
          .withColumn("mse_micro2", expr("sse_micro2 DIV n_test"))
          .select("fold", "n_test", "b0_micro", "b1_micro", "b2_micro",
            "sse_micro2", "mse_micro2")
          .orderBy("fold")
      },
      Some {
        def sd(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) // ($d) " +
            s"ELSE -((-($v)) // ($d)) END"
        def hug(x: String) = s"CAST($x AS HUGEINT)"
        def det3(a: String, b: String, c: String, d: String, e: String,
            f: String, g: String, h: String, i: String) =
          s"($a*($e*$i - $f*$h) - $b*($d*$i - $f*$g) + $c*($d*$h - $e*$g))"
        val (nD, s1D, s2D, syD) = (hug("rn"), hug("r1"), hug("r2"),
          hug("ry"))
        val (a11, a22, s12D) = (hug("r11"), hug("r22"), hug("r12"))
        val (s1yD, s2yD) = (hug("r1y"), hug("r2y"))
        val detA = det3(nD, s1D, s2D, s1D, a11, s12D, s2D, s12D, a22)
        val det0 = det3(syD, s1D, s2D, s1yD, a11, s12D, s2yD, s12D, a22)
        val det1 = det3(nD, syD, s2D, s1D, s1yD, s12D, s2D, s2yD, a22)
        val det2 = det3(nD, s1D, syD, s1D, a11, s1yD, s2D, s12D, s2yD)
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |  FROM embeddings),
           |r AS (SELECT vec_id,
           |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
           |      AS BIGINT) % 4 AS fold,
           |    CAST(floor(v[1] * 1000) AS BIGINT) AS x1,
           |    CAST(floor(v[2] * 1000) AS BIGINT) AS x2,
           |    CAST(floor(v[3] * 1000) AS BIGINT) AS y
           |  FROM e),
           |fm AS (SELECT fold, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x1) AS BIGINT) AS s1,
           |    CAST(sum(x2) AS BIGINT) AS s2,
           |    CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x1 * x1) AS BIGINT) AS s11,
           |    CAST(sum(x2 * x2) AS BIGINT) AS s22,
           |    CAST(sum(x1 * x2) AS BIGINT) AS s12,
           |    CAST(sum(x1 * y) AS BIGINT) AS s1y,
           |    CAST(sum(x2 * y) AS BIGINT) AS s2y
           |  FROM r GROUP BY 1),
           |tot AS (SELECT sum(n) AS tn, sum(s1) AS ts1, sum(s2) AS ts2,
           |    sum(sy) AS tsy, sum(s11) AS ts11, sum(s22) AS ts22,
           |    sum(s12) AS ts12, sum(s1y) AS ts1y, sum(s2y) AS ts2y
           |  FROM fm),
           |tr AS (SELECT fold, n,
           |    CAST(tn - n AS BIGINT) AS rn,
           |    CAST(ts1 - s1 AS BIGINT) AS r1,
           |    CAST(ts2 - s2 AS BIGINT) AS r2,
           |    CAST(tsy - sy AS BIGINT) AS ry,
           |    CAST(ts11 - s11 AS BIGINT) AS r11,
           |    CAST(ts22 - s22 AS BIGINT) AS r22,
           |    CAST(ts12 - s12 AS BIGINT) AS r12,
           |    CAST(ts1y - s1y AS BIGINT) AS r1y,
           |    CAST(ts2y - s2y AS BIGINT) AS r2y
           |  FROM fm CROSS JOIN tot),
           |coef AS (SELECT fold, n,
           |    CAST(${sd(s"($det0) * 1000000", s"($detA)")} AS BIGINT)
           |      AS b0,
           |    CAST(${sd(s"($det1) * 1000000", s"($detA)")} AS BIGINT)
           |      AS b1,
           |    CAST(${sd(s"($det2) * 1000000", s"($detA)")} AS BIGINT)
           |      AS b2
           |  FROM tr),
           |sc AS (SELECT r.fold, coef.n, coef.b0, coef.b1, coef.b2,
           |    r.y * 1000 - (coef.b0 +
           |      ${sd("(coef.b1 * r.x1 + coef.b2 * r.x2)", "1000")})
           |      AS resid
           |  FROM r JOIN coef ON r.fold = coef.fold)
           |SELECT fold, CAST(max(n) AS BIGINT) AS n_test,
           |  CAST(max(b0) AS BIGINT) AS b0_micro,
           |  CAST(max(b1) AS BIGINT) AS b1_micro,
           |  CAST(max(b2) AS BIGINT) AS b2_micro,
           |  CAST(sum(resid * resid) AS BIGINT) AS sse_micro2,
           |  CAST(sum(resid * resid) // max(n) AS BIGINT) AS mse_micro2
           |FROM sc GROUP BY fold ORDER BY fold""".stripMargin
      }),

    // ---- Johnson–Lindenstrauss projection distortion audit -----------------
    // Does an 8-dim ±1 random projection preserve the 64-dim distances
    // well enough for downstream LSH/ANN? The projection is the LINEAR
    // corpus-scale pass (each milli component feeds 8 sums through a
    // broadcast 512-row sign table — md5-parity signs, so both engines
    // and every rerun agree); the distortion audit then compares
    // ‖pa−pb‖²/8 against ‖a−b‖² on the bounded vec_id < 100 probe slice
    // (the q211/q159 boundedness rule: pairwise work NEVER runs on the
    // corpus). E[‖Δp‖²] = 8·‖Δ‖² for ±1 signs, so ratio_bp centers on
    // 10⁴; the output is the 20-bucket ratio histogram with per-bucket
    // exact mean — the acceptance curve for choosing the projected
    // dimension. All integer: milli components (floor(x·1000) is
    // bit-identical on both engines), int64-safe by width (|Δp_j| ≤
    // 1.28·10⁵ ⇒ Σ_j Δp² ≤ 1.3·10¹¹).
    "q289_jl_distortion" -> QueryDef(
      (s, dir) => {
        val comps = Materialize(tableParallel(s, dir, "embeddings")
          .select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .withColumn("xv",
            floor(col("x").cast("double") * 1000).cast("long"))
          .select("vec_id", "i", "xv"))
        val signs = s.range(0, 64).select(col("id").as("i"))
          .crossJoin(s.range(0, 8).select(col("id").as("j")))
          .withColumn("sgn", expr(
            """CAST(1 - 2 * (CAST(conv(substring(md5(concat(
              |  CAST(i AS STRING), '_', CAST(j AS STRING))), 1, 8),
              |  16, 10) AS BIGINT) % 2) AS BIGINT)""".stripMargin))
        val proj = comps
          .join(broadcast(signs), "i")
          .groupBy("vec_id", "j")
          .agg(sum(expr("sgn * xv")).as("p"))
        val pc = Materialize(proj.filter(col("vec_id") < 100))
        val cc = Materialize(comps.filter(col("vec_id") < 100))
        val d2o = cc.as("a").join(cc.as("b"),
            col("a.i") === col("b.i") &&
              col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
          .agg(sum(expr("(a.xv - b.xv) * (a.xv - b.xv)")).as("d2o"))
        val d2p = pc.as("a").join(pc.as("b"),
            col("a.j") === col("b.j") &&
              col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
          .agg(sum(expr("(a.p - b.p) * (a.p - b.p)")).as("d2p"))
        d2o.join(d2p, Seq("va", "vb"))
          .withColumn("ratio_bp", expr(
            "(d2p DIV 8) * 10000 DIV greatest(d2o, 1)"))
          .withColumn("bucket", expr(
            "least(ratio_bp DIV 1000, CAST(19 AS BIGINT))"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_pairs"),
            min("ratio_bp").as("min_bp"), max("ratio_bp").as("max_bp"),
            expr("sum(ratio_bp) DIV count(1)").as("mean_bp"))
          .orderBy("bucket")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |comps AS (SELECT vec_id, i,
             |    CAST(floor(v[i + 1] * 1000) AS BIGINT) AS xv
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ix),
             |signs AS (SELECT i, j,
             |    CAST(1 - 2 * (CAST(('0x' || substr(md5(
             |      CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)),
             |      1, 8)) AS BIGINT) % 2) AS BIGINT) AS sgn
             |  FROM (SELECT unnest(range(0, 64)) AS i) a
             |  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) b),
             |proj AS (SELECT vec_id, j,
             |    CAST(sum(sgn * xv) AS BIGINT) AS p
             |  FROM comps JOIN signs USING (i) GROUP BY 1, 2),
             |pc AS (SELECT * FROM proj WHERE vec_id < 100),
             |cc AS (SELECT * FROM comps WHERE vec_id < 100),
             |d2o AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             |    CAST(sum((a.xv - b.xv) * (a.xv - b.xv)) AS BIGINT)
             |      AS d2o
             |  FROM cc a JOIN cc b
             |    ON a.i = b.i AND a.vec_id < b.vec_id
             |  GROUP BY 1, 2),
             |d2p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             |    CAST(sum((a.p - b.p) * (a.p - b.p)) AS BIGINT) AS d2p
             |  FROM pc a JOIN pc b
             |    ON a.j = b.j AND a.vec_id < b.vec_id
             |  GROUP BY 1, 2),
             |r AS (SELECT va, vb,
             |    (d2p // 8) * 10000 // greatest(d2o, 1) AS ratio_bp
             |  FROM d2o JOIN d2p USING (va, vb))
             |SELECT least(ratio_bp // 1000, 19) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_pairs,
             |  CAST(min(ratio_bp) AS BIGINT) AS min_bp,
             |  CAST(max(ratio_bp) AS BIGINT) AS max_bp,
             |  CAST(sum(ratio_bp) // count(*) AS BIGINT) AS mean_bp
             |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ---- second principal component by deflation ---------------------------
    // q247 found the dominant covariance eigenvector; real pipelines need
    // the next ones too (2-D layout keys, whitening, the q281 grid's
    // axes). Classic deflation WITHOUT forming the matrix: run the same
    // matrix-free power rounds, but after every multiply remove the
    // first component — v ← y − (y·w / w·w)·w — so the iteration
    // converges to the second eigenvector. PC1 is recomputed with
    // q247's exact 3-round recipe (same trajectory bit-for-bit); PC2
    // starts from a deterministic ±1000 alternating vector (must not be
    // orthogonal to nothing — the deflation handles any pc1 content) and
    // runs 3 deflated rounds. Every round is the q247 shape: one
    // broadcast-w linear pass + one vec_id-co-partitioned join, the
    // orthogonalization itself is a 64-row frame op, per-round lineage
    // cuts. With a close spectrum and bounded rounds either direction
    // may end up with the larger Rayleigh quotient, so the output labels
    // them major/minor by the EXACT cross-multiplied λ comparison and
    // carries both quotients plus the residual pc1·pc2 dot (≈ 0 up to
    // fixed-point truncation; spec-bounded) as witnesses. Sign-split
    // divisions and milli fixed point keep both engines on the
    // identical trajectory.
    "q296_pc2_deflation" -> QueryDef(
      (s, dir) => {
        // the iterate is a 64-long vector — a BOUNDED object that
        // belongs on the driver (exactly how MLlib's power iteration
        // holds it). Each round inlines w as an array literal into ONE
        // codegen'd linear pass (zip_with dot product + 64 aggregate
        // columns), replacing q247's two-shuffle join round; the
        // driver-side normalization/deflation arithmetic replays the
        // oracle's sign-split integer spelling exactly. 6 rounds = 6
        // linear passes over the cached centered-array frame
        // (11 s → the q247-class cost).
        import graft.functions.IntegerMath.sdl
        def arrLit(a: Array[Long]): String =
          a.map(v => s"CAST($v AS BIGINT)").mkString("array(", ", ", ")")
        val compsAgg = tableParallel(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("i", "x")))
          .withColumn("xm",
            floor(col("x").cast("double") * 1000).cast("long"))
          .groupBy("i").agg(sum("xm").as("sx"), count(lit(1)).as("n"))
          .collect().map(r => r.getAs[Int]("i") ->
            sdl(r.getAs[Long]("sx"), r.getAs[Long]("n"))).toMap
        val mean = Array.tabulate(64)(compsAgg(_))
        // LAZY cache (round-13): the centered frame is consumed by 6
        // strictly SEQUENTIAL mult jobs plus the fused Rayleigh job —
        // the first mult materializes the blocks; the old eager
        // Materialize added a driver action that bought nothing
        val carr = Materialize.lazyCheckpointed(
          tableParallel(s, dir, "embeddings")
            .select(expr(
              s"""zip_with(embedding, ${arrLit(mean)}, (x, m) ->
                 | CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) - m)"""
                .stripMargin).as("c")))
        def sCol(w: Array[Long]): String = {
          val dot = s"aggregate(zip_with(c, ${arrLit(w)}, " +
            "(a, b) -> a * b), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
          graft.functions.IntegerMath.sdlSql(dot, "1000")
        }
        def mult(w: Array[Long]): Array[Long] = {
          val row = carr.select(expr(sCol(w)).as("s"), col("c"))
            .agg(sum(expr("c[0] * s")).as("y0"),
              (1 until 64).map(i =>
                sum(expr(s"c[$i] * s")).as(s"y$i")): _*)
            .collect()(0)
          Array.tabulate(64)(row.getLong)
        }
        def normalize(y: Array[Long]): Array[Long] = {
          val m = math.max(y.map(math.abs).max, 1L)
          // v·1000 in BigInt for the same wrap-safety; the quotient is
          // |v|/m·1000 ≤ 1000, so the narrowing back is always exact
          y.map(v => sdl(BigInt(v) * 1000, BigInt(m)).toLong)
        }
        var w = Array.fill(64)(1000L)
        for (_ <- 1 to 3) w = normalize(mult(w))
        var v = Array.tabulate(64)(i =>
          if (i % 2 == 0) 1000L else -1000L)
        for (_ <- 1 to 3) {
          val y = mult(v)
          // deflation arithmetic in BigInt (advice): dn = Σ y_i·w_i and
          // dn·w_i have worst-case magnitude ~1.6e20 > Int64 — a Long
          // spelling would WRAP silently here while the DuckDB twin's
          // BIGINT multiply raises, diverging the trajectories on an
          // adversarial fixture. BigInt is free at 64 elements; the
          // corrected component is asserted back into Int64 range (the
          // oracle's own headroom) before the narrowing.
          val dn = (0 until 64).map(i => BigInt(y(i)) * w(i)).sum
          val dd = (0 until 64).map(i => BigInt(w(i)) * w(i)).sum
          v = normalize(Array.tabulate(64) { i =>
            val c = BigInt(y(i)) - sdl(dn * w(i), dd)
            require(c.isValidLong,
              s"q296 deflation component $i = $c exceeds Int64 — the " +
                "DuckDB twin would raise on this fixture; refusing to wrap")
            c.toLong
          })
        }
        // both Rayleigh numerators in ONE pass over the cached frame
        // (round-13: the two separate jobs each scanned carr fully)
        val rayRow = carr
          .select(expr(sCol(w)).as("sw"), expr(sCol(v)).as("sv"))
          .agg(sum(expr("sw * sw")).as("nw"), sum(expr("sv * sv")).as("nv"))
          .collect()(0)
        val (r1n, r1d) = (rayRow.getLong(0), w.map(x => x * x).sum)
        val (r2n, r2d) = (rayRow.getLong(1), v.map(x => x * x).sum)
        // with a close spectrum and 3 bounded rounds either direction
        // may carry the larger Rayleigh quotient — label major/minor by
        // the exact cross-multiplied comparison (observed here: the
        // deflated direction wins, λ 12.1 vs 10.9 — the constant start
        // overlaps the top eigenvector weakly)
        val swap = BigInt(r1n) * r2d < BigInt(r2n) * r1d
        val (maj, mnr) = if (swap) (v, w) else (w, v)
        val (rMjN, rMjD, rMnN, rMnD) =
          if (swap) (r2n, r2d, r1n, r1d) else (r1n, r1d, r2n, r2d)
        val ortho = (0 until 64).map(i => v(i) * w(i)).sum
        import s.implicits._
        (0 until 64).map(i => (i.toLong, maj(i), mnr(i),
            rMjN, rMjD, rMnN, rMnD, ortho))
          .toDF("i", "w_major_milli", "w_minor_milli", "ray_major_num",
            "ray_major_den", "ray_minor_num", "ray_minor_den",
            "ortho_dot")
          .orderBy("i")
      },
      Some {
        def sd(v: String, d: String) =
          s"CASE WHEN $v >= 0 THEN ($v) // ($d) " +
            s"ELSE -((-($v)) // ($d)) END"
        // DuckDB 1.0 inlines every CTE PER REFERENCE (MATERIALIZED
        // hints are not honored), so a round that reads its predecessor
        // more than once re-executes the whole chain per copy -- the
        // q208 plan-explosion lesson on the oracle side (observed ~40x
        // per round). Each round therefore references its predecessor
        // EXACTLY ONCE: the normalization max and the deflation dots
        // are window-over-() aggregates computed inline, not separate
        // CTEs re-reading the frame.
        def round1(r: Int, prev: String): String =
          s"""s$r AS (SELECT vec_id,
             |    CAST(${sd("sum(c * w)", "1000")} AS BIGINT) AS s
             |  FROM cent JOIN $prev USING (i) GROUP BY 1),
             |w$r AS (SELECT i, CAST(${sd("y * 1000", "m")} AS BIGINT)
             |    AS w
             |  FROM (SELECT i, y, greatest(max(abs(y)) OVER (), 1) AS m
             |    FROM (SELECT i, CAST(sum(c * s) AS BIGINT) AS y
             |      FROM cent JOIN s$r USING (vec_id) GROUP BY 1)))"""
            .stripMargin
        def round2(r: Int, prev: String): String =
          s"""t$r AS (SELECT vec_id,
             |    CAST(${sd("sum(c * w)", "1000")} AS BIGINT) AS s
             |  FROM cent JOIN $prev USING (i) GROUP BY 1),
             |v$r AS (SELECT i, CAST(${sd("y * 1000", "m")} AS BIGINT)
             |    AS w
             |  FROM (SELECT i, y, greatest(max(abs(y)) OVER (), 1) AS m
             |    FROM (SELECT i,
             |        CAST(y - ${sd("dn * p1", "dd")} AS BIGINT) AS y
             |      FROM (SELECT z.i, z.y, p.p1,
             |          CAST(sum(z.y * p.p1) OVER () AS BIGINT) AS dn,
             |          CAST(sum(p.p1 * p.p1) OVER () AS BIGINT) AS dd
             |        FROM (SELECT i, CAST(sum(c * s) AS BIGINT) AS y
             |          FROM cent JOIN t$r USING (vec_id) GROUP BY 1) z
             |        JOIN p USING (i)))))""".stripMargin
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |  FROM embeddings),
           |comps AS MATERIALIZED (SELECT vec_id, i,
           |    CAST(floor(v[i + 1] * 1000) AS BIGINT) AS xm
           |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) idx),
           |mn AS (SELECT i, CAST(${sd("sum(xm)", "count(*)")} AS BIGINT)
           |    AS mi FROM comps GROUP BY 1),
           |cent AS MATERIALIZED (SELECT vec_id, comps.i, xm - mi AS c
           |  FROM comps JOIN mn ON comps.i = mn.i),
           |w0 AS (SELECT i, CAST(1000 AS BIGINT) AS w
           |  FROM (SELECT unnest(range(0, 64)) AS i) idx),
           |${round1(1, "w0")},
           |${round1(2, "w1")},
           |${round1(3, "w2")},
           |p AS (SELECT i, w AS p1 FROM w3),
           |v0 AS (SELECT i, CAST(CASE WHEN i % 2 = 0 THEN 1000
           |    ELSE -1000 END AS BIGINT) AS w
           |  FROM (SELECT unnest(range(0, 64)) AS i) idx),
           |${round2(1, "v0")},
           |${round2(2, "v1")},
           |${round2(3, "v2")},
           |sf1 AS (SELECT vec_id,
           |    CAST(${sd("sum(c * w)", "1000")} AS BIGINT) AS s
           |  FROM cent JOIN w3 USING (i) GROUP BY 1),
           |r1 AS (SELECT CAST(sum(s * s) AS BIGINT) AS ray1_num
           |  FROM sf1),
           |r1d AS (SELECT CAST(sum(w * w) AS BIGINT) AS ray1_den
           |  FROM w3),
           |sf2 AS (SELECT vec_id,
           |    CAST(${sd("sum(c * w)", "1000")} AS BIGINT) AS s
           |  FROM cent JOIN v3 USING (i) GROUP BY 1),
           |r2 AS (SELECT CAST(sum(s * s) AS BIGINT) AS ray2_num
           |  FROM sf2),
           |r2d AS (SELECT CAST(sum(w * w) AS BIGINT) AS ray2_den
           |  FROM v3),
           |od AS (SELECT CAST(sum(v3.w * p1) AS BIGINT) AS ortho_dot
           |  FROM v3 JOIN p USING (i))
           |SELECT CAST(v3.i AS BIGINT) AS i,
           |  CAST(CASE WHEN CAST(ray1_num AS HUGEINT) * ray2_den
           |      < CAST(ray2_num AS HUGEINT) * ray1_den
           |    THEN v3.w ELSE p1 END AS BIGINT) AS w_major_milli,
           |  CAST(CASE WHEN CAST(ray1_num AS HUGEINT) * ray2_den
           |      < CAST(ray2_num AS HUGEINT) * ray1_den
           |    THEN p1 ELSE v3.w END AS BIGINT) AS w_minor_milli,
           |  CAST(CASE WHEN CAST(ray1_num AS HUGEINT) * ray2_den
           |      < CAST(ray2_num AS HUGEINT) * ray1_den
           |    THEN ray2_num ELSE ray1_num END AS BIGINT)
           |    AS ray_major_num,
           |  CAST(CASE WHEN CAST(ray1_num AS HUGEINT) * ray2_den
           |      < CAST(ray2_num AS HUGEINT) * ray1_den
           |    THEN ray2_den ELSE ray1_den END AS BIGINT)
           |    AS ray_major_den,
           |  CAST(CASE WHEN CAST(ray1_num AS HUGEINT) * ray2_den
           |      < CAST(ray2_num AS HUGEINT) * ray1_den
           |    THEN ray1_num ELSE ray2_num END AS BIGINT)
           |    AS ray_minor_num,
           |  CAST(CASE WHEN CAST(ray1_num AS HUGEINT) * ray2_den
           |      < CAST(ray2_num AS HUGEINT) * ray1_den
           |    THEN ray1_den ELSE ray2_den END AS BIGINT)
           |    AS ray_minor_den,
           |  ortho_dot
           |FROM v3 JOIN p USING (i)
           |CROSS JOIN r1 CROSS JOIN r1d CROSS JOIN r2 CROSS JOIN r2d
           |CROSS JOIN od
           |ORDER BY i""".stripMargin
      }),

    // ---- MaxSim late-interaction retrieval (ColBERT shape) ----------------
    // Multi-vector retrieval: each vector is treated as 8 sub-vectors of
    // 8 dims (the token-embedding shape late-interaction models ship),
    // and score(q, d) = Σ_{query slice} max_{doc slice} ⟨q_i, d_j⟩ — the
    // MaxSim operator that beats single-vector dot products on long
    // documents. Scale shape: the query side is a BOUNDED broadcast
    // (5 query docs × 64 components), each corpus component row meets
    // only its own dim-in-slice k (equi-join on k, never a cross), and
    // the max/sum cascade is two grouped aggregations — linear in the
    // corpus with a 5·8 fan-out, the exact cost model of a production
    // late-interaction scorer. Exact milli² integer scores; top-3 per
    // query with deterministic tie-break; self-matches excluded.
    "q305_maxsim_late_interaction" -> QueryDef(
      (s, dir) => {
        // array-form pairwise (the round-12 q322/q323 treatment): one
        // quantized array row per vector, the native MaxSimMilli slice
        // loop per (query, doc) pair — replaces the exploded
        // per-component equi-join on k = i % 8 (a 40× row fan-out into
        // a three-level shuffled aggregation) with a 5-row broadcast
        // nested loop producing scores directly. Integer slice dots are
        // order-free and max/Σ deterministic, so maxsim_milli2 is
        // bit-identical (MaxSimSpec pins native ≡ exploded). The size
        // guard mirrors the exploded form's drop of empty embeddings.
        val vecs = tableParallel(s, dir, "embeddings")
          .filter(size(col("embedding")) > 0)
          .select(col("vec_id"),
            transform(col("embedding"), x =>
              floor(x.cast("double") * 1000).cast("long")).as("xv"))
        val q = broadcast(vecs.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("xv").as("qv")))
        val scores = vecs.crossJoin(q)
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            graft.functions.MaxSimMilli.of(col("qv"), col("xv"))
              .as("maxsim_milli2"))
        scores
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(
              col("maxsim_milli2").desc, col("vec_id").asc)))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("rnk").cast("long").as("rnk"),
            col("vec_id").as("hit_id"), col("maxsim_milli2"))
          .orderBy("qid", "rnk")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings),
             |comps AS (SELECT vec_id, i // 8 AS sl, i % 8 AS k,
             |    CAST(floor(v[i + 1] * 1000) AS BIGINT) AS xv
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ix),
             |qc AS (SELECT vec_id AS qid, sl AS qsl, k, xv AS qv
             |  FROM comps WHERE vec_id < 5),
             |dots AS (SELECT qid, qsl, c.vec_id, c.sl,
             |    CAST(sum(c.xv * qc.qv) AS BIGINT) AS dot
             |  FROM comps c JOIN qc USING (k)
             |  GROUP BY 1, 2, 3, 4),
             |maxd AS (SELECT qid, qsl, vec_id,
             |    CAST(max(dot) AS BIGINT) AS mx
             |  FROM dots GROUP BY 1, 2, 3),
             |sc AS (SELECT qid, vec_id,
             |    CAST(sum(mx) AS BIGINT) AS maxsim_milli2
             |  FROM maxd GROUP BY 1, 2),
             |rk AS (SELECT qid, vec_id, maxsim_milli2,
             |    row_number() OVER (PARTITION BY qid
             |      ORDER BY maxsim_milli2 DESC, vec_id ASC) AS rnk
             |  FROM sc WHERE vec_id <> qid)
             |SELECT qid, CAST(rnk AS BIGINT) AS rnk,
             |  vec_id AS hit_id, maxsim_milli2
             |FROM rk WHERE rnk <= 3
             |ORDER BY qid, rnk""".stripMargin)),

    // ---- ε-ball near-dup transitivity audit ---------------------------------
    // The union-find over-merge question every semantic-dedup pipeline
    // must answer before it clusters: "a ≈ b and b ≈ c" does NOT imply
    // "a ≈ c" for a distance threshold (the triangle inequality only
    // bounds d(a,c) ≤ 2ε), so transitive closure merges documents up to
    // 2ε apart — how often, at which radius? The audit builds the ε-ball
    // graph on the bounded vec_id < 200 probe slice at three
    // SELF-CALIBRATING radii (the exact p5/p10/p20 order statistics of
    // the pairwise squared-distance distribution — data-derived like
    // q223's k, so the audit is meaningful at any scale), counts wedges
    // (x–u–y paths) via the both-ways edge join, and reports the closure
    // fraction: transitivity_bp < 10⁴ is the measured over-merge
    // exposure. All integer milli² distances; pairwise work never leaves
    // the bounded slice (the q159/q211 rule).
    "q307_epsball_transitivity" -> QueryDef(
      (s, dir) => {
        val cc = Materialize(tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 200)
          .select(col("vec_id"),
            posexplode(col("embedding")).as(Seq("i", "x")))
          .withColumn("xv",
            floor(col("x").cast("double") * 1000).cast("long"))
          .select("vec_id", "i", "xv"))
        val pairs = Materialize(cc.as("a").join(cc.as("b"),
            col("a.i") === col("b.i") &&
              col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
          .agg(sum(expr("(a.xv - b.xv) * (a.xv - b.xv)")).as("d2")))
        val np = pairs.agg(count(lit(1)).as("np"))
        // round-13: radii has ONE consumer (the edges broadcast) — lazy
        // cut instead of an eager Materialize action
        val radii = Materialize.lazyCheckpointed(pairs
          .withColumn("rn", row_number().over(
            Window.orderBy(col("d2").asc, col("va").asc,
              col("vb").asc)))
          .crossJoin(broadcast(np))
          .withColumn("pct", expr(
            """CASE WHEN rn = np * 5 DIV 100 THEN 5
              | WHEN rn = np * 10 DIV 100 THEN 10
              | WHEN rn = np * 20 DIV 100 THEN 20 END""".stripMargin))
          .filter(col("pct").isNotNull)
          .select(col("pct").cast("long").as("pct"),
            col("d2").as("r2")))
        // (radii above: single-partition window over the BOUNDED ≤200²/2
        // pair slice — the q247 category, constant at any corpus size)
        val edges = Materialize(pairs.crossJoin(broadcast(radii))
          .filter(col("d2") <= col("r2"))
          .select("pct", "r2", "va", "vb"))
        val dboth = edges.select(col("pct"), col("va").as("u"),
            col("vb").as("v"))
          .unionAll(edges.select(col("pct"), col("vb").as("u"),
            col("va").as("v")))
        val wedges = dboth.as("e1").join(dboth.as("e2"),
            col("e1.pct") === col("e2.pct") &&
              col("e1.u") === col("e2.u") &&
              col("e1.v") < col("e2.v"))
          .select(col("e1.pct").as("pct"), col("e1.v").as("x"),
            col("e2.v").as("y"))
        val closed = wedges.join(
          edges.select(col("pct"), col("va").as("x"),
            col("vb").as("y"), lit(1L).as("hit")),
          Seq("pct", "x", "y"), "left")
        val eCnt = edges.groupBy("pct")
          .agg(max("r2").as("r2_milli2"), count(lit(1)).as("n_edges"))
        closed.groupBy("pct")
          .agg(count(lit(1)).as("n_wedges"),
            sum(coalesce(col("hit"), lit(0L))).as("n_closed"))
          .join(eCnt, "pct")
          .withColumn("transitivity_bp", expr(
            "n_closed * 10000 DIV n_wedges"))
          .select("pct", "r2_milli2", "n_edges", "n_wedges", "n_closed",
            "transitivity_bp")
          .orderBy("pct")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
             |  FROM embeddings WHERE vec_id < 200),
             |cc AS (SELECT vec_id, i,
             |    CAST(floor(v[i + 1] * 1000) AS BIGINT) AS xv
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ix),
             |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             |    CAST(sum((a.xv - b.xv) * (a.xv - b.xv)) AS BIGINT)
             |      AS d2
             |  FROM cc a JOIN cc b
             |    ON a.i = b.i AND a.vec_id < b.vec_id
             |  GROUP BY 1, 2),
             |np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
             |rk AS (SELECT d2, row_number() OVER
             |    (ORDER BY d2 ASC, va ASC, vb ASC) AS rn, np
             |  FROM pairs CROSS JOIN np),
             |radii AS (SELECT CAST(CASE WHEN rn = np * 5 // 100 THEN 5
             |      WHEN rn = np * 10 // 100 THEN 10
             |      WHEN rn = np * 20 // 100 THEN 20 END AS BIGINT)
             |      AS pct,
             |    d2 AS r2
             |  FROM rk
             |  WHERE rn IN (np * 5 // 100, np * 10 // 100,
             |    np * 20 // 100)),
             |edges AS (SELECT pct, r2, va, vb
             |  FROM pairs CROSS JOIN radii WHERE d2 <= r2),
             |dboth AS (SELECT pct, va AS u, vb AS v FROM edges
             |  UNION ALL SELECT pct, vb, va FROM edges),
             |wedges AS (SELECT e1.pct, e1.v AS x, e2.v AS y
             |  FROM dboth e1 JOIN dboth e2
             |    ON e1.pct = e2.pct AND e1.u = e2.u AND e1.v < e2.v),
             |cl AS (SELECT w.pct, w.x, w.y,
             |    CASE WHEN ed.va IS NULL THEN 0 ELSE 1 END AS hit
             |  FROM wedges w LEFT JOIN edges ed
             |    ON w.pct = ed.pct AND w.x = ed.va AND w.y = ed.vb),
             |ec AS (SELECT pct, CAST(max(r2) AS BIGINT) AS r2_milli2,
             |    CAST(count(*) AS BIGINT) AS n_edges
             |  FROM edges GROUP BY 1)
             |SELECT cl.pct, ec.r2_milli2, ec.n_edges,
             |  CAST(count(*) AS BIGINT) AS n_wedges,
             |  CAST(sum(hit) AS BIGINT) AS n_closed,
             |  CAST(sum(hit) * 10000 // count(*) AS BIGINT)
             |    AS transitivity_bp
             |FROM cl JOIN ec ON cl.pct = ec.pct
             |GROUP BY 1, 2, 3 ORDER BY cl.pct""".stripMargin)),

    // ---- minimum spanning tree / single-linkage clustering ------------------
    // Single-linkage agglomerative clustering IS Kruskal's MST: the merge
    // order of components equals the MST edge order, and cutting the
    // tree at a distance threshold yields the clusters. Edge weights are
    // made UNIQUE by packing the (u,v) pair id into the low bits of the
    // quantized squared distance — a unique-weight graph has exactly ONE
    // MST, so ANY correct algorithm must produce the identical edge set.
    // That is the whole verification design: the Spark side runs Kruskal
    // with a union-find over the collected kNN edge list (the corpus-
    // scale stage is candidate generation — the bounded-slice pair join
    // + per-endpoint top-3, the same plan family as q244; at corpus
    // scale the contraction runs distributed via the q166 star-
    // contraction machinery), while the ORACLE replays Kruskal
    // SEQUENTIALLY inside DuckDB with a list_reduce over the
    // weight-sorted edge list carrying the component labeling as its
    // accumulator — two independent implementations that can only agree
    // on the unique answer. The forest identity n_components =
    // n_vertices − n_mst_edges is emitted and implicitly cross-checked.
    "q315_mst_single_linkage" -> QueryDef(
      (s, dir) => {
        val comps = Materialize(tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 200)
          .select(col("vec_id"), posexplode(col("embedding"))
            .as(Seq("i", "x")))
          .withColumn("xv",
            (floor((col("x").cast("double") + lit(1.0)) * 1000) * 1000)
              .cast("long"))
          .select("vec_id", "i", "xv"))
        val pw = Materialize(comps.as("a").join(comps.as("b"),
            col("a.i") === col("b.i") &&
              col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.vec_id").as("u"), col("b.vec_id").as("v"))
          .agg(sum(expr("(a.xv - b.xv) * (a.xv - b.xv)")).as("d2"))
          .withColumn("w",
            expr("(d2 DIV 1000000) * 40000 + u * 200 + v")))
        val dr = pw.select(col("u").as("n"), col("w"))
          .unionAll(pw.select(col("v").as("n"), col("w")))
        val keep = dr.withColumn("r", row_number().over(
            Window.partitionBy("n").orderBy("w")))
          .filter(col("r") <= 3).select("w").distinct()
        val edges = pw.join(keep, Seq("w"))
          .select("u", "v", "w").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._3)
        val nVerts = comps.select("vec_id").distinct().count()
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          r
        }
        val kept = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
        edges.foreach { case (u, v, w) =>
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) {
            parent(math.max(ru, rv)) = math.min(ru, rv)
            kept += ((u, v, w))
          }
        }
        val total = kept.map(_._3).sum
        val nE = kept.size.toLong
        import s.implicits._
        kept.toSeq.map { case (u, v, w) =>
          (u, v, w, total, nE, nVerts, nVerts - nE) }
          .toDF("u", "v", "w", "mst_total", "n_edges", "n_vertices",
            "n_components")
          .orderBy("u", "v")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve
             |  FROM embeddings WHERE vec_id < 200),
             |comps AS (SELECT vec_id, i,
             |    CAST(floor((ve[i + 1] + 1.0) * 1000) * 1000 AS BIGINT)
             |      AS xv
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ix),
             |pw AS (SELECT a.vec_id AS u, b.vec_id AS v,
             |    (sum((a.xv - b.xv) * (a.xv - b.xv)) // 1000000)
             |      * 40000 + a.vec_id * 200 + b.vec_id AS w
             |  FROM comps a JOIN comps b
             |    ON a.i = b.i AND a.vec_id < b.vec_id
             |  GROUP BY 1, 2),
             |dr AS (SELECT u AS n, w FROM pw
             |  UNION ALL SELECT v, w FROM pw),
             |keep AS (SELECT DISTINCT w FROM (SELECT n, w,
             |    row_number() OVER (PARTITION BY n ORDER BY w) AS r
             |  FROM dr) WHERE r <= 3),
             |ed AS (SELECT pw.u, pw.v, pw.w FROM pw
             |  JOIN keep USING (w)),
             |packed AS (SELECT list(struct_pack(
             |    lab := CAST([] AS BIGINT[]),
             |    kept := CAST([] AS BIGINT[]),
             |    u := u, v := v, w := w) ORDER BY w) AS es FROM ed),
             |ini AS (SELECT struct_pack(
             |    lab := list_transform(range(0, 200),
             |      x -> CAST(x AS BIGINT)),
             |    kept := CAST([] AS BIGINT[]),
             |    u := CAST(0 AS BIGINT), v := CAST(0 AS BIGINT),
             |    w := CAST(0 AS BIGINT)) AS i0),
             |red AS (SELECT list_reduce([i0] || es, (acc, x) ->
             |    CASE WHEN acc.lab[CAST(x.u AS INT) + 1]
             |        = acc.lab[CAST(x.v AS INT) + 1]
             |      THEN struct_pack(lab := acc.lab, kept := acc.kept,
             |        u := x.u, v := x.v, w := x.w)
             |      ELSE struct_pack(
             |        lab := list_transform(acc.lab, y ->
             |          CASE WHEN y = greatest(
             |              acc.lab[CAST(x.u AS INT) + 1],
             |              acc.lab[CAST(x.v AS INT) + 1])
             |            THEN least(acc.lab[CAST(x.u AS INT) + 1],
             |              acc.lab[CAST(x.v AS INT) + 1])
             |            ELSE y END),
             |        kept := list_append(acc.kept, x.w),
             |        u := x.u, v := x.v, w := x.w) END) AS fin
             |  FROM packed CROSS JOIN ini),
             |mst AS (SELECT unnest(fin.kept) AS w FROM red),
             |tot AS (SELECT CAST(sum(w) AS BIGINT) AS mst_total,
             |    CAST(count(*) AS BIGINT) AS n_edges FROM mst),
             |nv AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT)
             |    AS n_vertices FROM e)
             |SELECT p.u, p.v, CAST(p.w AS BIGINT) AS w,
             |  tot.mst_total, tot.n_edges,
             |  nv.n_vertices, nv.n_vertices - tot.n_edges
             |    AS n_components
             |FROM pw p JOIN mst USING (w)
             |CROSS JOIN tot CROSS JOIN nv
             |ORDER BY p.u, p.v""".stripMargin)),

    // ---- hubness audit (k-occurrence skew) ----------------------------------
    // The high-dimensional pathology every ANN index inherits: a few
    // points become "hubs" that appear in a disproportionate share of
    // kNN lists while antihubs appear in none — degrading recall
    // uniformity and poisoning kNN label propagation (q175/q215). The
    // k-occurrence count N_k(y) = |{x : y ∈ kNN(x)}| is audited per
    // k ∈ {3,5,10} on the bounded probe slice: antihub count, max N_k,
    // the top-10 hubs' share of all kNN slots (bp), and the skewness of
    // N_k via the float-free split sign(m₃) + m₃²·10⁶/m₂³ (the q286
    // two-stage spelling; mean is exactly k so central moments are pure
    // integers). Points in NOBODY's kNN must re-enter via the left join
    // — dropping them silently understates hubness, the classic bug.
    "q322_hubness_audit" -> QueryDef(
      (s, dir) => {
        // array-form pairwise (round-12): keep each probe vector as ONE
        // quantized array row and evaluate d² with the native
        // LongVectorL2 loop per candidate pair. Replaces the exploded
        // per-dimension self-join (200·199·64 joined rows shuffled into
        // a 2-exchange groupBy) with a broadcast nested-loop over the
        // bounded slice producing the 200·199 pair rows directly —
        // integer sums are order-free, so d2 is bit-identical.
        // size guard (round-12 advice): the old exploded per-dimension
        // join emitted NO pair rows for an empty/null embedding, while
        // the array crossJoin would emit d2 = 0 pairs — unreachable with
        // fixed 64-dim data, but the equivalence must not rest on that
        val vecs = Materialize(tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 200 && size(col("embedding")) > 0)
          .select(col("vec_id"),
            transform(col("embedding"), x =>
              (floor((x.cast("double") + lit(1.0)) * 1000) * 1000)
                .cast("long")).as("xv")))
        val pd = Materialize(vecs.as("a").join(broadcast(vecs.as("b")),
            col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
            graft.functions.LongVectorL2.l2(col("a.xv"), col("b.xv"))
              .as("d2"))
          .withColumn("r", row_number().over(Window.partitionBy("va")
            .orderBy(col("d2"), col("vb")))))
        val ids = vecs.select(col("vec_id").as("vb")).distinct()
        val perK = Seq(3, 5, 10).map { k =>
          // LAZY lineage cut (round-13): nk is consumed twice per k (the
          // hub-top-10 broadcast + the moment aggregation) — uncut, the
          // kNN-count join executed twice per k (6 subtree runs per query)
          val nk = Materialize.lazyCheckpointed(ids.join(
            pd.filter(col("r") <= k).groupBy("vb")
              .agg(count(lit(1)).as("nk")), Seq("vb"), "left")
            .select(col("vb"), coalesce(col("nk"), lit(0L)).as("nk")))
          val hub = nk.orderBy(col("nk").desc, col("vb")).limit(10)
            .agg(sum("nk").as("hub10"))
          nk.agg(
            count(lit(1)).as("n"),
            sum(when(col("nk") === 0, 1L).otherwise(0L))
              .as("antihubs"),
            max("nk").as("max_nk"),
            sum(expr(s"CAST((nk - $k) AS DECIMAL(38,0)) * (nk - $k)"))
              .as("m2"),
            sum(expr(s"CAST((nk - $k) AS DECIMAL(38,0)) * (nk - $k) " +
              s"* (nk - $k)")).as("m3"))
            .withColumn("k", lit(k.toLong))
            .join(broadcast(hub))
            .withColumn("hub_top10_bp", expr(
              s"CAST(CAST(hub10 AS DECIMAL(38,0)) * 10000 " +
                s"DIV ($k * n) AS BIGINT)"))
            .withColumn("skew_sign", expr(
              "CAST(CASE WHEN m3 > 0 THEN 1 WHEN m3 < 0 THEN -1 " +
                "ELSE 0 END AS BIGINT)"))
            .withColumn("skew2_e6", expr(
              "CASE WHEN m2 = 0 THEN CAST(0 AS BIGINT) " +
                "ELSE CAST(m3 * m3 * 1000000 DIV (m2 * m2 * m2) " +
                "AS BIGINT) END"))
            .select("k", "n", "antihubs", "max_nk", "hub_top10_bp",
              "skew_sign", "skew2_e6")
        }
        perK.reduce(_ unionAll _).orderBy("k")
      },
      Some {
        def forK(k: Int): String =
          s"""SELECT CAST($k AS BIGINT) AS k,
             |  CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS antihubs,
             |  CAST(max(nk) AS BIGINT) AS max_nk,
             |  CAST((SELECT CAST(sum(nk) AS HUGEINT) FROM
             |      (SELECT nk FROM nk$k ORDER BY nk DESC, vb LIMIT 10))
             |    * 10000 // ($k * count(*)) AS BIGINT) AS hub_top10_bp,
             |  CAST(CASE WHEN sum(CAST(nk - $k AS HUGEINT)
             |      * (nk - $k) * (nk - $k)) > 0 THEN 1
             |    WHEN sum(CAST(nk - $k AS HUGEINT) * (nk - $k)
             |      * (nk - $k)) < 0 THEN -1 ELSE 0 END AS BIGINT)
             |    AS skew_sign,
             |  CASE WHEN sum(CAST(nk - $k AS HUGEINT) * (nk - $k)) = 0
             |    THEN CAST(0 AS BIGINT)
             |    ELSE CAST(sum(CAST(nk - $k AS HUGEINT) * (nk - $k)
             |        * (nk - $k))
             |      * sum(CAST(nk - $k AS HUGEINT) * (nk - $k)
             |        * (nk - $k)) * 1000000
             |      // (sum(CAST(nk - $k AS HUGEINT) * (nk - $k))
             |        * sum(CAST(nk - $k AS HUGEINT) * (nk - $k))
             |        * sum(CAST(nk - $k AS HUGEINT) * (nk - $k)))
             |      AS BIGINT) END AS skew2_e6
             |FROM nk$k""".stripMargin
        val nks = Seq(3, 5, 10).map(k =>
          s"""nk$k AS (SELECT ids.vb,
             |    COALESCE(cnt.nk, 0) AS nk
             |  FROM ids LEFT JOIN (SELECT vb,
             |      CAST(count(*) AS BIGINT) AS nk
             |    FROM pd WHERE r <= $k GROUP BY 1) cnt
             |    USING (vb))""".stripMargin).mkString(",\n")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ve
           |  FROM embeddings WHERE vec_id < 200),
           |comps AS (SELECT vec_id, i,
           |    CAST(floor((ve[i + 1] + 1.0) * 1000) * 1000 AS BIGINT)
           |      AS xv
           |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i) ix),
           |pd AS (SELECT va, vb, row_number() OVER (PARTITION BY va
           |    ORDER BY d2, vb) AS r
           |  FROM (SELECT a.vec_id AS va, b.vec_id AS vb,
           |      sum((a.xv - b.xv) * (a.xv - b.xv)) AS d2
           |    FROM comps a JOIN comps b
           |      ON a.i = b.i AND a.vec_id <> b.vec_id
           |    GROUP BY 1, 2)),
           |ids AS (SELECT DISTINCT vec_id AS vb FROM e),
           |$nks
           |${Seq(3, 5, 10).map(forK).mkString("\nUNION ALL\n")}
           |ORDER BY k""".stripMargin
      }),

    // ---- mutual-kNN margin mining (bitext-mining shape) ---------------------
    // The LASER/CCMatrix parallel-pair miner: candidate (x, y) pairs
    // across two embedding sets are kept when they are MUTUAL nearest
    // neighbors and scored by the margin criterion — the pair dot
    // relative to the mean of each side's top-k neighborhood dots —
    // which suppresses hubs that are "everyone's nearest neighbor"
    // (exactly the q322 pathology). Sets A/B are the even/odd-label
    // halves of the bounded probe slice; vectors are unit-norm so the
    // milli-quantized integer dot IS the cosine. Both rank directions
    // come from ONE cached cross-set dot frame with two windows; the
    // margin is the sign-split integer 2k·dot·1000 / (Σtopk_x + Σtopk_y)
    // (denominator floored at 1 — an all-negative neighborhood cannot
    // flip the sign). At corpus scale the dot frame is IVF-blocked
    // exactly like q122; the bounded slice keeps the audit exact here.
    "q323_mutual_knn_margin" -> QueryDef(
      (s, dir) => {
        val k = 4
        // array-form pairwise (round-12, the q322 treatment): one
        // quantized array row per vector, native LongVectorDot per
        // cross-set pair — replaces the exploded per-dimension join +
        // 2-exchange groupBy; integer dot is order-free so `d` is
        // bit-identical to the old sum(a.xv * b.xv)
        // size guard: see q322 — empty embeddings must drop out like the
        // old exploded form, not score d = 0
        val vecs = Materialize(tableParallel(s, dir, "embeddings")
          .filter(col("vec_id") < 200 && size(col("embedding")) > 0)
          .select(col("vec_id"), (col("label") % 2).as("side"),
            transform(col("embedding"), x =>
              floor(x.cast("double") * 1000).cast("long")).as("xv")))
        val pd = Materialize(vecs.filter(col("side") === 0).as("a")
          .crossJoin(broadcast(vecs.filter(col("side") === 1).as("b")))
          .select(col("a.vec_id").as("xa"), col("b.vec_id").as("yb"),
            graft.functions.LongVectorDot.dot(col("a.xv"), col("b.xv"))
              .as("d"))
          .withColumn("rb", row_number().over(Window.partitionBy("xa")
            .orderBy(col("d").desc, col("yb"))))
          .withColumn("ra", row_number().over(Window.partitionBy("yb")
            .orderBy(col("d").desc, col("xa")))))
        val sx = pd.filter(col("rb") <= k).groupBy("xa")
          .agg(sum("d").as("sx"))
        val sy = pd.filter(col("ra") <= k).groupBy("yb")
          .agg(sum("d").as("sy"))
        val na = pd.select("xa").distinct().count()
        val nb = pd.select("yb").distinct().count()
        pd.filter(col("ra") === 1 && col("rb") === 1)
          .join(sx, Seq("xa")).join(sy, Seq("yb"))
          .withColumn("margin_milli", expr(
            s"""CASE WHEN d >= 0
               |  THEN (CAST(d AS DECIMAL(38,0)) * ${2 * k} * 1000)
               |    DIV greatest(sx + sy, 1)
               |  ELSE -((CAST(-d AS DECIMAL(38,0)) * ${2 * k} * 1000)
               |    DIV greatest(sx + sy, 1)) END""".stripMargin)
            .cast("long"))
          .select(col("xa"), col("yb"), col("d").as("dot_micro2"),
            col("margin_milli"), lit(na).as("n_a"), lit(nb).as("n_b"))
          .orderBy("xa")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(label % 2 AS BIGINT)
             |    AS side, embedding::DOUBLE[] AS ve
             |  FROM embeddings WHERE vec_id < 200),
             |comps AS (SELECT vec_id, side, i,
             |    CAST(floor(ve[i + 1] * 1000) AS BIGINT) AS xv
             |  FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
             |    ix),
             |pd AS (SELECT xa, yb, d,
             |    row_number() OVER (PARTITION BY xa
             |      ORDER BY d DESC, yb) AS rb,
             |    row_number() OVER (PARTITION BY yb
             |      ORDER BY d DESC, xa) AS ra
             |  FROM (SELECT a.vec_id AS xa, b.vec_id AS yb,
             |      sum(a.xv * b.xv) AS d
             |    FROM comps a JOIN comps b ON a.i = b.i
             |      AND a.side = 0 AND b.side = 1
             |    GROUP BY 1, 2)),
             |sx AS (SELECT xa, sum(d) AS sx FROM pd WHERE rb <= 4
             |  GROUP BY 1),
             |sy AS (SELECT yb, sum(d) AS sy FROM pd WHERE ra <= 4
             |  GROUP BY 1),
             |na AS (SELECT CAST(count(DISTINCT xa) AS BIGINT) AS n_a
             |  FROM pd),
             |nb AS (SELECT CAST(count(DISTINCT yb) AS BIGINT) AS n_b
             |  FROM pd)
             |SELECT pd.xa, pd.yb, CAST(pd.d AS BIGINT) AS dot_micro2,
             |  CAST(CASE WHEN pd.d >= 0
             |    THEN (CAST(pd.d AS HUGEINT) * 8 * 1000)
             |      // greatest(sx.sx + sy.sy, 1)
             |    ELSE -((CAST(-pd.d AS HUGEINT) * 8 * 1000)
             |      // greatest(sx.sx + sy.sy, 1)) END AS BIGINT)
             |    AS margin_milli,
             |  na.n_a, nb.n_b
             |FROM pd JOIN sx USING (xa) JOIN sy USING (yb)
             |CROSS JOIN na CROSS JOIN nb
             |WHERE pd.ra = 1 AND pd.rb = 1
             |ORDER BY xa""".stripMargin)),

    // ---- embedding isotropy audit (participation ratio, no eigens) ----------
    // Anisotropic embedding spaces (mass concentrated in a few
    // directions) degrade every cosine-based operator in this catalog —
    // LSH bucket balance, IVF recall, kNN hubness (q322). The two
    // standard diagnostics are computed here WITHOUT an
    // eigendecomposition, from trace identities on the scaled-integer
    // second-moment matrix C = X^T X:
    //   participation ratio  PR = tr(C)^2 / tr(C^2) in [1, d]
    //     (tr(C^2) = ||C||_F^2 since C is symmetric), and
    //   mean pairwise dot    (||sum x||^2 - sum ||x||^2) / (n(n-1))
    //     relative to the mean self-dot (the anisotropy ratio).
    // 100 TB shape: C's 2080 upper-triangle entries are emitted by a
    // pure map-side pair-explode of each row against itself (the
    // coPairs spelling — no self-join, no shuffle beyond the final
    // 2080-group aggregate), and the trace algebra runs on that bounded
    // frame in DECIMAL(38)/HUGEINT (entries ~1e9, squares ~1e18, sums
    // past int64 by construction). At larger d you'd treeAggregate
    // dense partials instead — a constant change, same plan shape.
    "q332_isotropy_audit" -> QueryDef(
      (s, dir) => {
        val d = 64
        // x_im = floor(x*1000): signed exact integers (q296 scaling;
        // no +1 offset — an offset would fake a giant common component
        // and swamp the anisotropy signal)
        val comps = tableParallel(s, dir, "embeddings")
          .select(col("vec_id"), expr(
            s"""transform(embedding, x ->
               | CAST(floor(CAST(x AS DOUBLE) * 1000)
               |   AS BIGINT))""".stripMargin).as("xm"))
        // upper-triangle (i <= j) products per row, map-side
        val tri = comps.select(explode(expr(
            s"""flatten(transform(xm, (xi, i) ->
               |  transform(slice(xm, i + 1, $d - i), (xj, j) ->
               |    named_struct('i', i, 'j', i + j,
               |      'p', xi * xj))))""".stripMargin)).as("e"))
          .select(col("e.i").as("i"), col("e.j").as("j"),
            col("e.p").as("p"))
        val cmat = tri.groupBy("i", "j")
          .agg(sum(expr("CAST(p AS DECIMAL(38,0))")).as("cij"))
        val traces = cmat.agg(
          sum(when(col("i") === col("j"), col("cij"))
            .otherwise(lit(0))).as("tr_c"),
          sum(expr("CASE WHEN i = j THEN cij * cij " +
            "ELSE 2 * cij * cij END")).as("tr_c2"))
        val sums = comps.agg(
          count(lit(1)).as("n"),
          (sum(expr("aggregate(xm, CAST(0 AS DECIMAL(38,0)), " +
            "(acc, v) -> acc + CAST(v AS DECIMAL(38,0)) * v)"))
            .as("q_self") +:
            (0 until d).map(i =>
              sum(expr(s"xm[$i]")).as(s"sv$i"))): _*)
          .withColumn("s_norm2", expr(
            (0 until d).map(i =>
              s"CAST(sv$i AS DECIMAL(38,0)) * sv$i")
              .mkString(" + ")))
          .select("n", "q_self", "s_norm2")
        traces.join(broadcast(sums))
          .select(col("n").cast("long").as("n"), lit(d.toLong).as("d"),
            col("tr_c").cast("long").as("tr_c"),
            expr("CAST(tr_c2 DIV 1000000 AS BIGINT)")
              .as("tr_c2_millionths"),
            expr("CAST(tr_c * tr_c * 1000 DIV tr_c2 AS BIGINT)")
              .as("pr_milli"),
            expr("CAST(CASE WHEN s_norm2 >= q_self " +
              "THEN (s_norm2 - q_self) * 1000 " +
              "DIV ((n - 1) * CAST(q_self AS DECIMAL(38,0))) " +
              "ELSE -((q_self - s_norm2) * 1000 " +
              "DIV ((n - 1) * CAST(q_self AS DECIMAL(38,0)))) END " +
              "AS BIGINT)").as("aniso_milli"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |    list_transform(embedding::DOUBLE[], x ->
              |      CAST(floor(x * 1000) AS BIGINT)) AS xm
              |  FROM embeddings),
              |tri AS (SELECT u.i AS i, u.j AS j,
              |    CAST(sum(CAST(u.p AS HUGEINT)) AS HUGEINT) AS cij
              |  FROM e, unnest(flatten(list_transform(xm, (xi, i0) ->
              |    list_transform(xm[i0:], (xj, j0) ->
              |      struct_pack(i := i0 - 1, j := i0 + j0 - 2,
              |        p := xi * xj))))) AS t(u)
              |  GROUP BY 1, 2),
              |tr AS (SELECT
              |    sum(CASE WHEN i = j THEN cij ELSE 0 END) AS tr_c,
              |    sum(CASE WHEN i = j THEN cij * cij
              |      ELSE 2 * cij * cij END) AS tr_c2
              |  FROM tri),
              |sv AS (SELECT CAST(count(*) AS BIGINT) AS n,
              |    sum(CAST(list_sum(list_transform(xm, v ->
              |      CAST(v AS HUGEINT) * v)) AS HUGEINT)) AS q_self,
              |    ${(0 until 64).map(i =>
                   s"sum(xm[${i + 1}]) AS sv$i").mkString(",\n    ")}
              |  FROM e),
              |sn AS (SELECT n, q_self,
              |    ${(0 until 64).map(i =>
                   s"CAST(sv$i AS HUGEINT) * sv$i").mkString(" + ")}
              |      AS s_norm2
              |  FROM sv)
              |SELECT n, CAST(64 AS BIGINT) AS d,
              |  CAST(tr_c AS BIGINT) AS tr_c,
              |  CAST(tr_c2 // 1000000 AS BIGINT) AS tr_c2_millionths,
              |  CAST(tr_c * tr_c * 1000 // tr_c2 AS BIGINT) AS pr_milli,
              |  CAST(CASE WHEN s_norm2 >= q_self
              |    THEN (s_norm2 - q_self) * 1000
              |      // ((n - 1) * CAST(q_self AS HUGEINT))
              |    ELSE -((q_self - s_norm2) * 1000
              |      // ((n - 1) * CAST(q_self AS HUGEINT))) END
              |    AS BIGINT) AS aniso_milli
              |FROM tr CROSS JOIN sn""".stripMargin)),
  )

  /** DuckDB twin of the q174 farthest-point loop, unrolled like
    * [[mmrOracleSql]]: stage t computes each remaining candidate's min
    * L2² against sel(t−1) and takes the max with the vec_id tie-break.
    * Every stage CTE is MATERIALIZED for the same inlining reason.
    */
  /** The shared unrolled-greedy-selection CTE block (q174 + q213's
    * coverage audit): candidate slice `e`, then per round the re-score /
    * argmax / accumulate stages, ending with `sel{k}` = the k selected
    * centers. Greedy selection is inherently sequential, so the oracle
    * is the loop spelled out (the kmeansOracleSql technique).
    */
  private def kcenterSelCtes(k: Int): String = {
    val d2 = "c.vv - 2 * list_dot_product(c.v, s.v) + s.vv"
    val base =
      """e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
        |  FROM embeddings WHERE vec_id < 300),
        |sel1 AS MATERIALIZED (SELECT vec_id, v, vv FROM e WHERE vec_id = 0),
        |s1 AS MATERIALIZED (SELECT vec_id, CAST(0 AS BIGINT) AS radius_s
        |       FROM sel1)""".stripMargin
    val stages = (2 to k).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT c.vec_id, c.v, c.vv,
         |    min(CAST(floor(($d2) * 1000000) AS BIGINT)) AS mind_s
         |  FROM e c CROSS JOIN sel${t - 1} s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |  GROUP BY c.vec_id, c.v, c.vv),
         |s$t AS MATERIALIZED (SELECT vec_id, v, vv, mind_s FROM c$t
         |        ORDER BY mind_s DESC, vec_id LIMIT 1),
         |sel$t AS MATERIALIZED (SELECT vec_id, v, vv FROM sel${t - 1}
         |          UNION ALL SELECT vec_id, v, vv FROM s$t)""".stripMargin
    }
    (base +: stages).mkString(",\n")
  }

  private def kcenterOracleSql(k: Int): String = {
    val unions = ("SELECT 1 AS rnk, vec_id, radius_s FROM s1" +:
      (2 to k).map(t =>
        s"SELECT $t AS rnk, vec_id, mind_s AS radius_s FROM s$t").toVector)
      .mkString("\nUNION ALL\n")
    s"WITH ${kcenterSelCtes(k)}\n$unions\nORDER BY rnk"
  }

  /** DuckDB twin of the q213 coverage audit: the q174 selection CTEs
    * verbatim, the hash-deterministic random draw, then one min-distance
    * aggregation per strategy over the identical floor-micro expression.
    */
  private def coresetCoverageOracleSql(k: Int): String = {
    val d2 = "c.vv - 2 * list_dot_product(c.v, s.v) + s.vv"
    def cov(sel: String) =
      s"""SELECT c.vec_id,
         |  min(CAST(floor(($d2) * 1000000) AS BIGINT)) AS mind_s
         |FROM e c CROSS JOIN $sel s GROUP BY 1""".stripMargin
    s"""WITH ${kcenterSelCtes(k)},
       |rand AS MATERIALIZED (SELECT vec_id, v, vv FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k),
       |covk AS (${cov(s"sel$k")}),
       |covr AS (${cov("rand")})
       |SELECT 'kcenter' AS strategy, CAST(count(*) AS BIGINT) AS n_points,
       |  CAST(max(mind_s) AS BIGINT) AS radius_s,
       |  CAST(sum(mind_s) // count(*) AS BIGINT) AS mean_s FROM covk
       |UNION ALL
       |SELECT 'random', CAST(count(*) AS BIGINT),
       |  CAST(max(mind_s) AS BIGINT),
       |  CAST(sum(mind_s) // count(*) AS BIGINT) FROM covr
       |ORDER BY strategy""".stripMargin
  }

  /** DuckDB twin of the q172 greedy loop: the k rounds unrolled as CTE
    * stages (greedy selection is inherently sequential, so the oracle is
    * the loop spelled out — the kmeansOracleSql technique). Stage t
    * re-scores the not-yet-picked candidates against sel(t−1) and takes
    * the same integer argmax with the same vec_id tie-break.
    */
  private def mmrOracleSql(k: Int): String = {
    val base =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings WHERE vec_id < 300),
        |q AS (SELECT v AS qv, nrm AS qnrm FROM e WHERE vec_id = 0),
        |cand AS MATERIALIZED (SELECT vec_id, v, nrm,
        |  CAST(floor(list_dot_product(v, qv) / (nrm * qnrm) * 1000000)
        |    AS BIGINT) AS rel_s
        |  FROM e, q WHERE vec_id > 0),
        |s1 AS MATERIALIZED (SELECT vec_id, v, nrm, 7 * rel_s AS score_s
        |       FROM cand ORDER BY 7 * rel_s DESC, vec_id LIMIT 1),
        |sel1 AS MATERIALIZED (SELECT vec_id, v, nrm FROM s1)""".stripMargin
    // every stage CTE is MATERIALIZED: sel(t) is referenced three times by
    // stage t+1 (scoring join, NOT-IN filter, union chain), and DuckDB
    // inlines un-materialized CTEs — the unrolled chain would otherwise
    // expand exponentially in k (the kmeansOracleSql lesson)
    val stages = (2 to k).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT c.vec_id, c.v, c.nrm,
         |    7 * c.rel_s - 3 * max(CAST(floor(list_dot_product(c.v, s.v)
         |      / (c.nrm * s.nrm) * 1000000) AS BIGINT)) AS score_s
         |  FROM cand c CROSS JOIN sel${t - 1} s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |  GROUP BY c.vec_id, c.v, c.nrm, c.rel_s),
         |s$t AS MATERIALIZED (SELECT vec_id, v, nrm, score_s FROM c$t
         |        ORDER BY score_s DESC, vec_id LIMIT 1),
         |sel$t AS MATERIALIZED (SELECT vec_id, v, nrm FROM sel${t - 1}
         |          UNION ALL SELECT vec_id, v, nrm FROM s$t)""".stripMargin
    }
    val unions = (1 to k)
      .map(t => s"SELECT $t AS rnk, vec_id, score_s FROM s$t")
      .mkString("\nUNION ALL\n")
    (base +: stages).mkString(",\n") + s"\n$unions\nORDER BY rnk"
  }

  /** DuckDB twin of the q179 composed pipeline: [[ivfPqChainSql]]'s
    * retrieval chain (single query, top-50) feeding [[mmrOracleSql]]'s
    * unrolled greedy stages, with the candidate set = the retrieved
    * ids joined back to their exact embeddings. Same MATERIALIZED-CTE
    * discipline — sel(t) is referenced three times by stage t+1.
    */
  private def retrievalMmrOracleSql(k: Int): String = {
    val base =
      s"""WITH ${ivfPqChainSql("vec_id = 0", 50)},
         |qx AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qnrm
         |       FROM e WHERE vec_id = 0),
         |cand AS MATERIALIZED (
         |  SELECT t.neighbor_id AS vec_id, t.rnk AS adc_rnk, e.v,
         |    sqrt(list_dot_product(e.v, e.v)) AS nrm,
         |    CAST(floor(list_dot_product(e.v, qx.qv)
         |      / (sqrt(list_dot_product(e.v, e.v)) * qx.qnrm) * 1000000)
         |      AS BIGINT) AS rel_s
         |  FROM topm t JOIN e ON e.vec_id = t.neighbor_id CROSS JOIN qx),
         |s1 AS MATERIALIZED (SELECT vec_id, adc_rnk, v, nrm,
         |       7 * rel_s AS score_s
         |       FROM cand ORDER BY 7 * rel_s DESC, vec_id LIMIT 1),
         |sel1 AS MATERIALIZED (SELECT vec_id, v, nrm FROM s1)""".stripMargin
    val stages = (2 to k).map { t =>
      s"""c$t AS MATERIALIZED (
         |  SELECT c.vec_id, c.adc_rnk, c.v, c.nrm,
         |    7 * c.rel_s - 3 * max(CAST(floor(list_dot_product(c.v, s.v)
         |      / (c.nrm * s.nrm) * 1000000) AS BIGINT)) AS score_s
         |  FROM cand c CROSS JOIN sel${t - 1} s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |  GROUP BY c.vec_id, c.adc_rnk, c.v, c.nrm, c.rel_s),
         |s$t AS MATERIALIZED (SELECT vec_id, adc_rnk, v, nrm, score_s
         |        FROM c$t ORDER BY score_s DESC, vec_id LIMIT 1),
         |sel$t AS MATERIALIZED (SELECT vec_id, v, nrm FROM sel${t - 1}
         |          UNION ALL SELECT vec_id, v, nrm FROM s$t)""".stripMargin
    }
    val unions = (1 to k)
      .map(t => s"SELECT $t AS rnk, vec_id, adc_rnk, score_s FROM s$t")
      .mkString("\nUNION ALL\n")
    (base +: stages).mkString(",\n") + s"\n$unions\nORDER BY rnk"
  }
}
