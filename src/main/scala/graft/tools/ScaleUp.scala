package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.fs.NioLocalFs

/** Measurement-only helper (round-13 verdict item #8: "produce a real
  * scaling table"): replicate the driver's deterministic sf0.1 testdata
  * M× into a scratch dir so per-query scaling can be probed at a larger
  * SF than the shipped maximum. NOT part of any query/bench/oracle path
  * — the bench keeps computing from `$SPARK_GRAFT_SF_DIR` — and it
  * never writes under /root/testdata (read-only by contract).
  *
  * Each copy k gets disjoint key ranges (key + k·10⁸) so joins stay
  * per-copy-consistent and per-key cardinalities match the source
  * (TPC-style scaling: more keys, same per-key skew). Content that
  * feeds similarity/dedup work is decorrelated per copy — document
  * text letters are rotated by k (different shingles, same token/length
  * structure) and embeddings are cyclically rotated by k dims (different
  * directions, same norms) — so near-dup/ANN work scales like a larger
  * corpus instead of degenerating into 10 identical replicas pairing
  * with each other.
  *
  *   java -cp ... graft.tools.ScaleUp <srcSfDir> <dstDir> <mult>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val mult = args(2).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val OFF = 100000000L

    def write(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until mult).map(k => f(base, k)).reduce(_ unionAll _)
      NioLocalFs.writer(out.repartition(32)).mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      System.err.println(s"[scaleup] $name x$mult done")
    }
    write("region", (df, _) => df)
    write("nation", (df, _) => df)
    write("customer", (df, k) => df.withColumn("c_custkey",
      col("c_custkey") + lit(k * OFF)))
    write("supplier", (df, k) => df.withColumn("s_suppkey",
      col("s_suppkey") + lit(k * OFF)))
    write("part", (df, k) => df.withColumn("p_partkey",
      col("p_partkey") + lit(k * OFF)))
    write("orders", (df, k) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(k * OFF))
      .withColumn("o_custkey", col("o_custkey") + lit(k * OFF)))
    write("lineitem", (df, k) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(k * OFF))
      .withColumn("l_partkey", col("l_partkey") + lit(k * OFF))
      .withColumn("l_suppkey", col("l_suppkey") + lit(k * OFF)))
    write("events", (df, k) => df
      .withColumn("event_id", col("event_id") + lit(k * OFF))
      .withColumn("user_id", col("user_id") + lit(k * OFF)))
    val abc = "abcdefghijklmnopqrstuvwxyz"
    write("documents", (df, k) => {
      val r = k % 26
      val rot = abc.drop(r) + abc.take(r)
      df.withColumn("doc_id", col("doc_id") + lit(k * OFF))
        .withColumn("text",
          translate(col("text"), abc + abc.toUpperCase,
            rot + rot.toUpperCase))
    })
    write("embeddings", (df, k) => {
      val r = k % 64
      val rotated =
        if (r == 0) col("embedding")
        else concat(
          slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      df.withColumn("vec_id", col("vec_id") + lit(k * OFF))
        .withColumn("embedding", rotated)
    })
    spark.stop()
  }
}
