package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Synthesizes the ten input tables the query suite reads, with the column
 * names and types of the sf0.1 test tables and their row counts
 * (lineitem 600k, orders 150k, events 100k, documents 5k, ...). Every
 * value is a hash of (seed, table, row, field), so one seed always yields
 * the same bytes. Values follow the test tables' shapes: uniform keys,
 * two-decimal money, a 40-word vocabulary for document text with a few
 * exact duplicates, 64-dimensional float embeddings.
 */
object SuiteData {
  val Tables: Seq[String] =
    Seq("region", "nation", "supplier", "customer", "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Array("a", "the", "spark", "data", "query", "join", "sort", "hash", "scan", "filter",
    "group", "agg", "window", "stream", "batch", "table", "column", "row", "key", "value", "part", "line",
    "order", "customer", "vector", "merge", "fast", "slow", "big", "small", "plan", "index", "cell", "tile",
    "zone", "grid", "block", "road", "water", "tree")

  private def seg(xs: String*): Column = typedLit(xs.toArray)
  private def pick(arr: Column, n: Int, h: Column): Column = element_at(arr, (pmod(h, lit(n)) + 1).cast("int"))

  /** Writes every table as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    def h(t: Int, f: Int): Column = xxhash64(lit(seed), lit(t), col("id"), lit(f))
    def u(t: Int, f: Int, n: Long): Column = pmod(h(t, f), lit(n))
    def money(t: Int, f: Int, lo: Long, hi: Long): Column = (u(t, f, (hi - lo) * 100) + lo * 100) / 100.0
    def day(t: Int, f: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), u(t, f, days).cast("int")).cast("timestamp_ntz")
    def range(n: Long) = spark.range(0, n, 1, 8)

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(seg("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      "supplier" -> range(1000).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        u(3, 1, 25).cast("int").as("s_nationkey"), money(3, 2, -999, 9999).as("s_acctbal")),
      "customer" -> range(15000).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u(4, 1, 25).cast("int").as("c_nationkey"), money(4, 2, -999, 9999).as("c_acctbal"),
        pick(seg("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 5, h(4, 3)).as("c_mktsegment")),
      "part" -> range(20000).select(col("id").as("p_partkey"),
        concat(pick(seg("large", "small", "hot", "cold", "shiny"), 5, h(5, 1)), lit(" "),
          pick(seg("ring", "bolt", "nut", "gear", "pipe"), 5, h(5, 2))).as("p_name"),
        concat(lit("Brand#"), u(5, 3, 25) + 1).as("p_brand"),
        pick(seg("LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"), 5, h(5, 4)).as("p_type"),
        (u(5, 5, 50) + 1).cast("int").as("p_size"), money(5, 6, 900, 2000).as("p_retailprice")),
      "orders" -> range(150000).select(col("id").as("o_orderkey"),
        u(6, 1, 15000).as("o_custkey"),
        pick(seg("F", "O", "P"), 3, h(6, 2)).as("o_orderstatus"),
        money(6, 3, 800, 500000).as("o_totalprice"),
        day(6, 4, "1995-01-01", 2404).as("o_orderdate"),
        pick(seg("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 5, h(6, 5)).as("o_orderpriority")),
      "lineitem" -> range(600000).select(u(7, 1, 150000).as("l_orderkey"),
        u(7, 2, 20000).as("l_partkey"), u(7, 3, 1000).as("l_suppkey"),
        (u(7, 4, 7) + 1).cast("int").as("l_linenumber"),
        (u(7, 5, 50) + 1).cast("double").as("l_quantity"),
        money(7, 6, 900, 100000).as("l_extendedprice"),
        (u(7, 7, 11) / 100.0).as("l_discount"), (u(7, 8, 9) / 100.0).as("l_tax"),
        pick(seg("A", "N", "R"), 3, h(7, 9)).as("l_returnflag"),
        pick(seg("O", "F"), 2, h(7, 10)).as("l_linestatus"),
        day(7, 11, "1995-01-02", 2498).as("l_shipdate")),
      "events" -> range(100000).select(col("id").as("event_id"),
        (lit(Timestamp2024).cast("timestamp_ntz") +
          make_dt_interval(lit(0), lit(0), lit(0), (col("id") * 25.92 + u(8, 1, 2000) / 100.0).cast("decimal(18,6)")))
          .as("ts"),
        u(8, 2, 1500).as("user_id"),
        pick(seg("click", "view", "purchase", "signup", "error"), 5, h(8, 3)).as("event_type"),
        money(8, 4, 0, 200).as("value"),
        concat(lit("{\"k\": "), u(8, 5, 100), lit("}")).as("props")),
      "documents" -> documents(spark, seed),
      "embeddings" -> range(2000).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), k =>
          ((pmod(xxhash64(lit(seed), lit(10), col("id"), k), lit(20001L)) - 10000) / 50000.0).cast("float"))
          .as("embedding"),
        u(10, 2, 10).cast("int").as("label")))

    tables.foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$dir/$name.parquet") }
  }

  private val Timestamp2024 = "2024-01-01 00:00:00"

  /** 5,000 documents of 8 to 100 words; about 1 in 600 repeats the text of
    * the previous document (exact duplicates for the dedup queries). */
  private def documents(spark: SparkSession, seed: Long): DataFrame = {
    val base = spark.range(0, 5000, 1, 8).toDF("doc_id")
      .withColumn("tid", when(pmod(xxhash64(lit(seed), lit(9), col("doc_id"), lit(0)), lit(600L)) === 0 &&
        col("doc_id") > 0, col("doc_id") - 1).otherwise(col("doc_id")))
    val vocab = typedLit(Vocab)
    val words = transform(
      sequence(lit(1), (pmod(xxhash64(lit(seed), lit(9), col("tid"), lit(1)), lit(93L)) + 8).cast("int")),
      k => element_at(vocab, (pmod(xxhash64(lit(seed), lit(9), col("tid"), k + 1), lit(Vocab.length.toLong)) + 1).cast("int")))
    base.select(col("doc_id"),
        array_join(words, " ").as("text"),
        element_at(typedLit(Array("en", "en", "en", "zh", "de", "fr", "es")),
          (pmod(xxhash64(lit(seed), lit(9), col("doc_id"), lit(2)), lit(7L)) + 1).cast("int")).as("lang"),
        concat(lit("src"), col("doc_id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
