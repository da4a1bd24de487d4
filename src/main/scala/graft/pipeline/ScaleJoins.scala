package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{r6, table}

/** Join strategies for the 100 TB posture: skew salting and bucketed
  * co-location. These are the two levers the drift/dedup operators reach
  * for when a shuffle key is pathological at cluster scale — AQE's skew
  * handling covers sort-merge joins automatically, but aggregation-side
  * skew (one hot key's groupBy partition) and repeated co-located joins
  * (fact-to-fact on the same key every run) need explicit treatment.
  */
object ScaleJoins extends graft.OperatorModule {

  /** Salted aggregate-then-merge: two-phase groupBy for skewed keys. Phase
    * one aggregates on (key, salt) — the hot key's rows spread over `n`
    * partitions instead of one straggler — phase two merges the ≤n partial
    * rows per key. Correct for any algebraic aggregate expressed as
    * (partial, merge) pairs; here: count and sum, the building blocks of
    * the drift counts. The salt is derived from a hash of the whole row
    * (deterministic, no rand()), so replays produce identical partials. */
  def saltedCount(df: DataFrame, key: String, n: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.map(col).toSeq: _*), lit(n)))
    salted.groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("partial_cnt"))
      .groupBy(col(key))
      .agg(sum("partial_cnt").as("cnt"))
  }

  /** Write both frames bucketed by the join key into the session warehouse:
    * subsequent equi-joins on that key read co-partitioned buckets and plan
    * NO shuffle exchange — the repeated-join amortization a drift pipeline
    * wants when every run joins the same snapshot tables on the same keys.
    * Returns the two table names to join. */
  def bucketize(spark: SparkSession, a: DataFrame, aName: String,
      b: DataFrame, bName: String, key: String, buckets: Int = 8): (String, String) = {
    a.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(aName)
    b.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(bName)
    (aName, bName)
  }

  // ------------------------------------------------------ skew diagnostic

  /** A key is "hot" when its count exceeds this multiple of the mean. */
  val HotKeyFactor = 10L

  /** Per-key skew report — the measurement that tells you BEFORE a job
    * whether a shuffle key needs [[saltedCount]]/AQE skew handling or can
    * go through a plain groupBy/join: key cardinality, the heaviest key
    * and its share, the max-to-mean skew factor, and the hot-key census
    * (> [[HotKeyFactor]]× the mean). The hot/skew comparisons promote to
    * DOUBLE before multiplying (`cnt·1e0·k` vs `10e0·n`): an int64
    * product form would overflow at exactly the trillion-row scale this
    * diagnostic exists for (cnt·n_keys can pass 2⁶³ long before either
    * factor does), and both engines round doubles identically so the
    * verdict stays cross-engine stable.
    *
    * Scale shape: one map-side-combined groupBy(key) per table; the top
    * key is `orderBy.limit(1)` (TakeOrderedAndProject, no global sort)
    * and the stats/hot passes run on the cardinality-sized counts frame
    * with 1-row broadcasts — nothing driver-side grows with data. */
  def keySkewOf(df: DataFrame, key: String, tableLabel: String): DataFrame = {
    val cnt = df.filter(col(key).isNotNull)
      .groupBy(col(key).cast("string").as("k"))
      .agg(count(lit(1)).as("cnt"))
      .cache() // consumed by the stats agg, the top-1, and the hot census
    val stats = cnt.agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
      max("cnt").as("max_cnt"))
    val top = cnt.orderBy(col("cnt").desc, col("k").asc).limit(1)
      .select(col("k").as("top_key"))
    val hot = cnt.crossJoin(broadcast(stats))
      .filter(expr(s"cnt * 1e0 * n_keys > ${HotKeyFactor}e0 * n_rows"))
      .agg(count(lit(1)).as("hot_keys"))
    stats.crossJoin(broadcast(top)).crossJoin(broadcast(hot))
      .selectExpr(s"'$tableLabel' AS table_name", s"'$key' AS key_column",
        "n_rows", "n_keys", "max_cnt AS max_count",
        "ROUND(max_cnt * n_keys * 1e0 / n_rows, 6) AS skew_factor",
        "top_key", "ROUND(max_cnt * 1e0 / n_rows, 6) AS top_share",
        "hot_keys",
        s"max_cnt * 1e0 * n_keys > ${HotKeyFactor}e0 * n_rows AS skewed")
  }

  /** The shuffle keys the engine's own operators group or join on. */
  private val skewTargets: Seq[(String, String)] = Seq(
    "lineitem" -> "l_orderkey", "orders" -> "o_custkey",
    "documents" -> "source", "events" -> "event_type")

  def keySkew(spark: SparkSession, dir: String): DataFrame =
    skewTargets.map { case (t, k) => keySkewOf(table(spark, dir, t), k, t) }
      .reduce(_ unionAll _).orderBy("table_name", "key_column")

  def keySkewSql: String = {
    val blocks = skewTargets.zipWithIndex.map { case ((t, k), i) =>
      val (c, s, tp, h) = (s"c$i", s"s$i", s"t$i", s"h$i")
      val ctes =
        s"$c AS (SELECT CAST($k AS VARCHAR) AS k, COUNT(*) AS cnt " +
          s"FROM $t WHERE $k IS NOT NULL GROUP BY 1), " +
          s"$s AS (SELECT SUM(cnt)::BIGINT AS n_rows, COUNT(*) AS n_keys, " +
          s"MAX(cnt) AS max_cnt FROM $c), " +
          s"$tp AS (SELECT k AS top_key FROM $c ORDER BY cnt DESC, k ASC LIMIT 1), " +
          s"$h AS (SELECT COUNT(*) AS hot_keys FROM $c, $s " +
          s"WHERE cnt * 1e0 * n_keys > ${HotKeyFactor}e0 * n_rows)"
      val sel =
        s"SELECT '$t' AS table_name, '$k' AS key_column, n_rows, n_keys, " +
          "max_cnt AS max_count, " +
          "ROUND(max_cnt * n_keys * 1e0 / n_rows, 6) AS skew_factor, " +
          "top_key, ROUND(max_cnt * 1e0 / n_rows, 6) AS top_share, hot_keys, " +
          s"max_cnt * 1e0 * n_keys > ${HotKeyFactor}e0 * n_rows AS skewed " +
          s"FROM $s, $tp, $h"
      (ctes, sel)
    }
    "WITH " + blocks.map(_._1).mkString(", ") +
      " SELECT * FROM (" + blocks.map(_._2).mkString(" UNION ALL ") +
      ") u ORDER BY table_name, key_column"
  }

  /** Shipdate cutoff for the star-join instance (predicate-pushdown bait:
    * it must reach the parquet scan as a PushedFilter). */
  val StarCutoff = "1997-01-01"

  /** The bread-and-butter warehouse star join (TPC-H-Q5 shape): revenue
    * per (region, nation) via lineitem ⋈ supplier ⋈ nation ⋈ region. The
    * 100 TB plan this encodes: every dimension side is explicitly
    * `broadcast()` (a three-level BroadcastHashJoin chain — the fact table
    * is never shuffled for a join), the shipdate predicate and 3-column
    * projection push into the parquet scan, and the only exchange in the
    * whole plan is the final (region, nation)-keyed aggregation over
    * map-side partials. Revenue accumulates in DECIMAL(18,4) (the q1
    * lesson). Plan shape spec-audited: 3 broadcast joins, 0 sort-merge
    * joins, PushedFilters on l_shipdate, pruned ReadSchema. */
  def starRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(StarCutoff).cast("timestamp"))
      .select("l_suppkey", "l_extendedprice", "l_discount")
    li.join(broadcast(table(spark, dir, "supplier").select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(table(spark, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(spark, dir, "region").select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(
        count(lit(1)).as("n_lineitems"),
        r6(sum((col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))))
          .cast("double")).as("revenue"),
        // DECIMAL partials + one final division (not avg over raw doubles:
        // partial-sum order is partition-dependent and the oracle hash sits
        // one ulp from a ROUND boundary — the q1/tail exactness contract)
        sum(col("l_discount").cast("decimal(18,6)")).as("sum_disc_dec"))
      .selectExpr("region", "nation", "n_lineitems", "revenue",
        "ROUND(CAST(sum_disc_dec AS DOUBLE) / n_lineitems, 6) AS avg_discount")
      .orderBy("region", "nation")
  }

  def starRevenueSql: String =
    s"""SELECT r_name AS region, n_name AS nation, COUNT(*) AS n_lineitems,
       |ROUND(CAST(SUM(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))) AS DOUBLE), 6) AS revenue,
       |ROUND(CAST(SUM(l_discount::DECIMAL(18,6)) AS DOUBLE) / COUNT(*), 6) AS avg_discount
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE l_shipdate >= TIMESTAMP '$StarCutoff'
       |GROUP BY 1, 2 ORDER BY region, nation""".stripMargin.replace("\n", " ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "key_skew" -> ((s, d) => keySkew(s, d)),
    "star_revenue" -> ((s, d) => starRevenue(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "key_skew" -> keySkewSql,
    "star_revenue" -> starRevenueSql,
  )
}
