package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (row id,
  * seed, salt) through `xxhash64`, so the same seed gives byte-identical
  * inputs whatever the core count or partitioning. Shapes follow the
  * TPC-H-like star schema the program's gate queries read (value ranges,
  * cardinalities and date cut-offs of the `lineitem`, `orders`,
  * `customer`, `events` and `documents` tables). */
object Gen {

  /** Uniform [0, 1) from the row id, the seed and a per-column salt. */
  def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1000000007L)) / 1000000007.0

  private def pick(values: Seq[String], x: Column): Column =
    element_at(array(values.map(lit): _*), (floor(x * values.size) + 1).cast("int"))

  private def epoch(date: String): Long = java.time.LocalDate.parse(date).toEpochDay * 86400L

  private def day(base: String, x: Column, span: Int): Column =
    timestamp_seconds(floor(x * span) * 86400 + epoch(base))

  val ReturnFlags = Seq("A", "N", "R")
  val LineStatus = Seq("F", "O")
  val OrderStatus = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Denormalized lineitem ⋈ orders ⋈ customer: 13 columns, ids [0, n). */
  def wide(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def v(s: Int) = u(seed, s)
    spark.range(0, n, 1, 8).select(
      col("id"),
      (floor(v(1) * 50) + 1).cast("double").as("l_quantity"),
      round((floor(v(1) * 50) + 1) * (v(2) * 1100 + 900), 2).as("l_extendedprice"),
      (floor(v(3) * 11) / 100).as("l_discount"),
      (floor(v(4) * 9) / 100).as("l_tax"),
      pick(ReturnFlags, v(5)).as("l_returnflag"),
      pick(LineStatus, v(6)).as("l_linestatus"),
      day("1995-01-02", v(7), 2500).as("l_shipdate"),
      round(v(8) * 450000 + 850, 2).as("o_totalprice"),
      pick(OrderStatus, v(9)).as("o_orderstatus"),
      pick(Priorities, v(10)).as("o_orderpriority"),
      day("1994-10-01", v(11), 2500).as("o_orderdate"),
      round(v(12) * 10998.98 - 999.99, 2).as("c_acctbal"),
      pick(Segments, v(13)).as("c_mktsegment"))
  }

  /** Columns of [[wide]] that type inference calls numerical (high
    * cardinality doubles) and categorical (strings and low-cardinality
    * doubles), with the value each categorical plant pushes rows to. */
  val WideNumeric = Seq("l_extendedprice", "o_totalprice", "c_acctbal")
  val WideCategorical: Seq[(String, Column)] = Seq(
    "l_quantity" -> lit(1.0), "l_discount" -> lit(0.0), "l_tax" -> lit(0.0),
    "l_returnflag" -> lit("A"), "l_linestatus" -> lit("F"),
    "o_orderstatus" -> lit("F"), "o_orderpriority" -> lit("1-URGENT"),
    "c_mktsegment" -> lit("AUTOMOBILE"))

  /** Orders projection the monitoring loop versions: two numerical
    * columns (so correlation analysis runs), two categorical, one date. */
  def orders(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def v(s: Int) = u(seed, s)
    spark.range(0, n, 1, 8).select(
      col("id"),
      floor(v(20) * n / 10).as("o_custkey"),
      round(v(21) * 450000 + 850, 2).as("o_totalprice"),
      pick(OrderStatus, v(22)).as("o_orderstatus"),
      pick(Priorities, v(23)).as("o_orderpriority"),
      day("1994-10-01", v(24), 2500).as("o_orderdate"))
  }

  /** The three tables the `Report` family reads, in the gate-table layout
    * (`<dir>/<name>.parquet`), straddling the fixed snapshot cut-offs. */
  def reportTables(spark: SparkSession, dir: String, nLineitem: Long,
      nOrders: Long, nEvents: Long, seed: Long): Unit = {
    def v(s: Int) = u(seed, s)
    val li = wide(spark, nLineitem, seed).select("l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    val od = spark.range(0, nOrders, 1, 8).select(
      round(v(31) * 450000 + 850, 2).as("o_totalprice"),
      pick(OrderStatus, v(32)).as("o_orderstatus"),
      pick(Priorities, v(33)).as("o_orderpriority"),
      day("1994-10-01", v(34), 2500).as("o_orderdate"))
    val ev = spark.range(0, nEvents, 1, 8).select(
      col("id").as("event_id"),
      timestamp_seconds(floor(v(41) * 30 * 86400) + epoch("2024-01-01")).as("ts"),
      (floor(v(42) * 5000)).as("user_id"),
      pick(EventTypes, v(43)).as("event_type"),
      round(v(44) * 100, 4).as("value"))
    Seq("lineitem" -> li, "orders" -> od, "events" -> ev).foreach { case (name, df) =>
      df.coalesce(2).write.parquet(s"$dir/$name.parquet")
    }
  }

  private val English = Seq("the", "a", "of", "and", "is", "data", "table", "row",
    "scan", "join", "key", "value", "query", "spark", "batch", "stream", "window",
    "sort", "hash", "merge", "filter", "group", "order", "line", "part", "column",
    "fast", "slow", "big", "small", "agg", "customer", "index", "cache", "plan")
  private val German = Seq("der", "die", "das", "und", "nicht", "daten", "zeile",
    "tabelle", "schnell", "langsam")

  /** Documents corpus: `nDocs` originals (10% German, so the language gate
    * has work), then `nExact` verbatim copies and `nNear` copies with one
    * extra trailing word, each of a seed-chosen original. Doc ids are dense
    * in [0, nDocs + nExact + nNear). */
  def documents(spark: SparkSession, nDocs: Long, nExact: Long, nNear: Long,
      seed: Long): DataFrame = {
    def v(s: Int, id: Column = col("id")) = u(seed, s, id)
    def german(id: Column): Column = v(51, id) < 0.1
    def textOf(id: Column): Column = {
      val len = (floor(v(52, id) * 60) + 20).cast("int")
      val words = transform(sequence(lit(0), len - 1), i =>
        when(german(id), element_at(array(German.map(lit): _*),
            (pmod(xxhash64(id, lit(seed), i), lit(German.size.toLong)) + 1).cast("int")))
          .otherwise(element_at(array(English.map(lit): _*),
            (pmod(xxhash64(id, lit(seed), i), lit(English.size.toLong)) + 1).cast("int"))))
      array_join(words, " ")
    }
    // a copy of a German original is dropped by the language gate with its
    // original; copies of English originals reach exact dedup
    def copyOf(salt: Int): Column = floor(v(salt) * nDocs).cast("long")
    def docs(from: Long, until: Long, origin: Column, suffix: Column) =
      spark.range(from, until, 1, 8).select(col("id"), concat(textOf(origin), suffix).as("text"),
        when(german(origin), lit("de")).otherwise(lit("en")).as("lang"))
    val extraWord = concat(lit(" "), element_at(array(English.map(lit): _*),
      (floor(v(55) * English.size) + 1).cast("int")))
    docs(0, nDocs, col("id"), lit(""))
      .union(docs(nDocs, nDocs + nExact, copyOf(53), lit("")))
      .union(docs(nDocs + nExact, nDocs + nExact + nNear, copyOf(54), extraWord))
      .select(col("id").as("doc_id"), col("text"), col("lang"),
        concat(lit("src"), floor(v(57) * 5).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars"))
  }
}
