package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id) through xxhash64, so one seed gives byte-identical inputs at any
  * parallelism. The program only ever sees the generated frames. */
object Inputs {

  /** Uniform double in [0, 1) for row `id` and stream `salt`. */
  def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1L << 40)).cast("double") / (1L << 40).toDouble

  /** Uniform integer in [lo, hi]. */
  def ui(seed: Long, salt: Int, lo: Long, hi: Long, id: Column = col("id")): Column =
    (lit(lo) + floor(u(seed, salt, id) * (hi - lo + 1))).cast("long")

  def pick(seed: Long, salt: Int, values: Seq[String], id: Column = col("id")): Column =
    element_at(array(values.map(lit): _*), (ui(seed, salt, 0, values.size - 1, id) + 1).cast("int"))

  private def money(seed: Long, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, salt) * (hi - lo), 2)

  private def ntzDays(seed: Long, salt: Int, from: String, days: Int): Column =
    date_add(to_date(lit(from)), ui(seed, salt, 0, days - 1).cast("int")).cast("timestamp_ntz")

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** `n` words drawn from [[Vocab]], word i keyed by (id, i). */
  def words(seed: Long, salt: Int, n: Column, id: Column = col("id")): Column = {
    val v = array(Vocab.map(lit): _*)
    array_join(transform(sequence(lit(1), n.cast("int")), i =>
      element_at(v, (pmod(xxhash64(id, i, lit(seed), lit(salt)), lit(Vocab.size.toLong)) + 1)
        .cast("int"))), " ")
  }

  /** The tables the gate sweep reads, with the schemas, row counts and
    * value domains of the sf0.1 test tables, written as parquet under `dir`. */
  def writeTables(spark: SparkSession, seed: Long, dir: String): Unit = {
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save("orders", spark.range(150000).select(col("id").as("o_orderkey"),
      ui(seed, 11, 0, 14999).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 13, 1000.0, 500000.0).as("o_totalprice"),
      ntzDays(seed, 14, "1995-01-01", 2404).as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", spark.range(600000).select(
      ui(seed, 16, 0, 149999).as("l_orderkey"),
      ui(seed, 17, 0, 19999).as("l_partkey"),
      ui(seed, 18, 0, 999).as("l_suppkey"),
      ui(seed, 19, 1, 7).cast("int").as("l_linenumber"),
      ui(seed, 20, 1, 50).cast("double").as("l_quantity"),
      money(seed, 21, 900.0, 105000.0).as("l_extendedprice"),
      (ui(seed, 22, 0, 10) / 100.0).as("l_discount"),
      (ui(seed, 23, 0, 8) / 100.0).as("l_tax"),
      pick(seed, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 25, Seq("F", "O")).as("l_linestatus"),
      ntzDays(seed, 26, "1995-01-02", 2555).as("l_shipdate")))
    // events: ts strictly increasing with event_id over 30 days
    val step = 30L * 86400L * 1000000L / 100000L
    save("events", spark.range(100000).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * step + ui(seed, 27, 0, step - 1))
        .cast("timestamp_ntz").as("ts"),
      ui(seed, 28, 0, 1499).as("user_id"),
      pick(seed, 29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - u(seed, 30)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", ui(seed, 31, 0, 99)).as("props")))
    save("documents", documents(spark, seed, 5000))
  }

  /** sf0.1-shaped documents: 10-100 words, 5% of them a copy of another
    * document's words with " dup" appended. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val isDup = u(seed, 40) < 0.05
    val srcId = when(isDup, ui(seed, 41, 0, n - 1)).otherwise(col("id"))
    val text = concat(words(seed, 42, ui(seed, 43, 10, 100, srcId), srcId),
      when(isDup, lit(" dup")).otherwise(lit("")))
    spark.range(n).select(col("id").as("doc_id"), text.as("text"),
      pick(seed, 44, Seq("en", "en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
