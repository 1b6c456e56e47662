package ncdbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ten parquet tables the catalog entries and the streaming twins read
  * (`graft.Tables.names`), generated in the benchmark's own work directory
  * with the column names, types, value domains and row counts of the
  * repository's sf0.01 test data.
  *
  * Every value is a pure function of the row id, so the tables are the same
  * bytes on every run and the catalog result hashes recorded for them stay
  * valid. The workload seed does not reach these tables.
  */
object TableGen {

  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val LineItems = 60000
  val Events = 10000
  val Users = 150
  val Documents = 500
  val Vectors = 500
  val Dims = 64

  private val Vocabulary = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  /** Uniform pseudo-random non-negative long for (row id, salt). */
  private def h(salt: Int, more: Column*): Column =
    abs(xxhash64((lit(salt) +: col("id") +: more): _*))

  private def pick(values: Seq[String], salt: Int): Column =
    element_at(array(values.map(lit): _*), (h(salt) % values.size).cast("int") + 1)

  private def day(base: String, salt: Int, span: Int): Column =
    (unix_seconds(to_timestamp(lit(base))) + (h(salt) % span) * 86400L)
      .cast("timestamp")

  def write(spark: SparkSession, dir: String): Unit = {
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def ids(n: Int) = spark.range(n)

    save("region", ids(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), col("id").cast("int") + 1).as("r_name")))
    save("nation", ids(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", ids(Customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (h(1) % 25).cast("int").as("c_nationkey"),
      round((h(2) % 1099999 - 99999) / 100.0, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3)
        .as("c_mktsegment")))
    save("supplier", ids(Suppliers).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      (h(4) % 25).cast("int").as("s_nationkey"),
      round((h(5) % 1099999 - 99999) / 100.0, 2).as("s_acctbal")))
    save("part", ids(Parts).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(Seq("small", "large", "red", "blue", "old", "new", "hot", "cold"), 6),
        pick(Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"), 7))
        .as("p_name"),
      concat(lit("Brand#"), h(8) % 25 + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 9)
        .as("p_type"),
      (h(10) % 50 + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")))
    save("orders", ids(Orders).select(col("id").as("o_orderkey"),
      (h(11) % Customers).as("o_custkey"),
      pick(Seq("F", "O", "P"), 12).as("o_orderstatus"),
      round(lit(1000.0) + (h(13) % 49900000) / 100.0, 2).as("o_totalprice"),
      day("1995-01-01 00:00:00", 14, 2400).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15)
        .as("o_orderpriority")))
    val quantity = (h(19) % 50 + 1).cast("double")
    save("lineitem", ids(LineItems).select((h(16) % Orders).as("l_orderkey"),
      (h(17) % Parts).as("l_partkey"),
      (h(18) % Suppliers).as("l_suppkey"),
      (col("id") % 7 + 1).cast("int").as("l_linenumber"),
      quantity.as("l_quantity"),
      round(quantity * (lit(900.0) + (h(17) % Parts % 1000) / 10.0) +
        (h(20) % 100) / 100.0, 2).as("l_extendedprice"),
      ((h(21) % 11) / 100.0).as("l_discount"),
      ((h(22) % 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), 23).as("l_returnflag"),
      pick(Seq("F", "O"), 24).as("l_linestatus"),
      day("1995-01-02 00:00:00", 25, 2500).as("l_shipdate")))
    save("events", ids(Events).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 259200000L +
        h(26) % 259200000L).as("ts"),
      (h(27) % Users).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), 28).as("event_type"),
      round(-log(lit(1.0) - (h(29) % 1000000 + 1) / 1000001.0) * 50.0, 2)
        .as("value"),
      format_string("{\"k\": %d}", h(30) % 100).as("props")))

    // one in twenty documents repeats its predecessor's text plus a
    // marker word, so the dedup entries find real pairs
    val base = when(col("id") % 20 === 7, col("id") - 1).otherwise(col("id"))
    val words = transform(sequence(lit(1), (abs(xxhash64(lit(31), base)) % 80 + 10)
      .cast("int")), i => element_at(array(Vocabulary.map(lit): _*),
      (abs(xxhash64(lit(32), base, i)) % Vocabulary.size).cast("int") + 1))
    val text = concat(array_join(words, " "),
      when(col("id") % 20 === 7, lit(" dup")).otherwise(lit("")))
    save("documents", ids(Documents).select(col("id").as("doc_id"),
      text.as("text"),
      pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), 33).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // unit vectors scattered around one of ten label centres
    val label = (h(34) % 10).cast("int")
    val raw = transform(sequence(lit(0), lit(Dims - 1)), j =>
      (abs(xxhash64(lit(35), col("id"), j)) % 20001 - 10000) / 10000.0 +
        (abs(xxhash64(lit(36), label, j)) % 20001 - 10000) / 10000.0)
    save("embeddings", ids(Vectors).select(col("id").as("vec_id"),
      raw.as("raw"), label.as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label")))
  }
}
