package graft.drift

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level snapshot reconciliation (CDC-style diff) — the complement of
  * the engine's distributional drift: instead of "did the DISTRIBUTION
  * move", answer "which KEYS were added / removed / changed between two
  * snapshots", the question a pipeline asks before trusting an incremental
  * load. The reference compares snapshots only statistically
  * (/root/reference/data_drift_detector.py:53-54 loads two versions and
  * diffs aggregates); a key-grain diff is the missing audit primitive.
  *
  * Two shapes:
  *  - [[diff]] — the general API for two arbitrary frames: one full-outer
  *    join on the key (shuffle co-partitioned on both sides, AQE-skew-safe)
  *    with null-safe per-column comparison. This is the form for two
  *    physically separate snapshots.
  *  - [[snapshotDiffQuery]] — the fixture instance, where "current" is a
  *    SUPERSET of "reference" (orders before a cutoff vs all orders, at
  *    customer grain). When both states derive from one fact stream the
  *    full-outer join collapses to a SINGLE conditional aggregation —
  *    one scan, one shuffle on the key, zero joins — which is the 100 TB
  *    plan you want whenever the snapshots share storage (e.g. a
  *    date-partitioned fact table read twice by version predicate).
  */
object SnapshotDiff extends graft.OperatorModule {

  /** General two-frame diff at `key` grain: per key, `status` in
    * {added, removed, changed, unchanged} plus one `<col>_changed` flag per
    * compared column (null-safe: NULL vs non-NULL counts as changed).
    * Columns in `cols` must exist on both frames. */
  def diff(ref: DataFrame, curr: DataFrame, key: Seq[String], cols: Seq[String]): DataFrame = {
    val r = ref.select((key ++ cols).map(col): _*).withColumn("__in_ref", lit(1))
    val c = curr.select((key ++ cols).map(col): _*).withColumn("__in_curr", lit(1))
    val renamedR = cols.foldLeft(r)((df, n) => df.withColumnRenamed(n, s"__ref_$n"))
    val renamedC = cols.foldLeft(c)((df, n) => df.withColumnRenamed(n, s"__curr_$n"))
    val joined = renamedR.join(renamedC, key, "full_outer")
    val status = when(col("__in_ref").isNull, "added")
      .when(col("__in_curr").isNull, "removed")
      .when(cols.map(n => !(col(s"__ref_$n") <=> col(s"__curr_$n")))
        .reduceOption(_ || _).getOrElse(lit(false)), "changed")
      .otherwise("unchanged")
    joined.select(
      key.map(col) ++ Seq(status.as("status")) ++
        cols.map(n => (!(col(s"__ref_$n") <=> col(s"__curr_$n"))).as(s"${n}_changed")): _*)
  }

  /** Customer-grain reconciliation of the orders snapshot pair. State per
    * customer: order count, exact DECIMAL spend, last order date — computed
    * for both snapshots in ONE conditional aggregation over a single scan
    * (curr ⊇ ref, so `when(refPred, …)` carves out the reference state).
    * Rolled up per diff status with per-column change counts.
    *
    * Exactness: spend stays DECIMAL(18,4) through every sum and the final
    * added-spend subtraction — associativity-free, so both engines agree at
    * any scale — with ONE cast to double at the end (the q1 lesson). */
  def snapshotDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    val refPred: Column = splits.ordersRef
    val st = table(spark, dir, "orders").groupBy("o_custkey").agg(
      sum(when(refPred, 1L).otherwise(0L)).as("ref_n"),
      count(lit(1)).as("curr_n"),
      sum(when(refPred, col("o_totalprice").cast("decimal(18,4)"))).as("ref_spend"),
      sum(col("o_totalprice").cast("decimal(18,4)")).as("curr_spend"),
      max(when(refPred, col("o_orderdate"))).as("ref_last"),
      max(col("o_orderdate")).as("curr_last"))
    st.withColumn("status",
        when(col("ref_n") === 0, "added")
          .when(col("ref_n") === col("curr_n"), "unchanged")
          .otherwise("changed"))
      .groupBy("status").agg(
        count(lit(1)).as("n_customers"),
        sum(when(col("curr_n") =!= col("ref_n"), 1L).otherwise(0L)).as("n_orders_changed"),
        sum(when(!(col("curr_spend") <=> col("ref_spend")), 1L).otherwise(0L)).as("n_spend_changed"),
        sum(when(!(col("curr_last") <=> col("ref_last")), 1L).otherwise(0L)).as("n_last_date_changed"),
        sum(col("curr_n") - col("ref_n")).as("n_new_orders"),
        sum(col("curr_spend") - coalesce(col("ref_spend"), lit(0).cast("decimal(18,4)")))
          .cast("double").as("added_spend"))
      .orderBy("status")
  }

  def snapshotDiffSql: String = {
    val refPred = splits.ordersRefSql
    s"""WITH st AS (SELECT o_custkey,
       |  SUM(CASE WHEN $refPred THEN 1 ELSE 0 END)::BIGINT AS ref_n,
       |  COUNT(*) AS curr_n,
       |  SUM(CASE WHEN $refPred THEN o_totalprice::DECIMAL(18,4) END) AS ref_spend,
       |  SUM(o_totalprice::DECIMAL(18,4)) AS curr_spend,
       |  MAX(CASE WHEN $refPred THEN o_orderdate END) AS ref_last,
       |  MAX(o_orderdate) AS curr_last
       |  FROM orders GROUP BY 1),
       |cls AS (SELECT *, CASE WHEN ref_n = 0 THEN 'added'
       |  WHEN ref_n = curr_n THEN 'unchanged' ELSE 'changed' END AS status FROM st)
       |SELECT status, COUNT(*) AS n_customers,
       |  SUM(CASE WHEN curr_n <> ref_n THEN 1 ELSE 0 END)::BIGINT AS n_orders_changed,
       |  SUM(CASE WHEN curr_spend IS DISTINCT FROM ref_spend THEN 1 ELSE 0 END)::BIGINT AS n_spend_changed,
       |  SUM(CASE WHEN curr_last IS DISTINCT FROM ref_last THEN 1 ELSE 0 END)::BIGINT AS n_last_date_changed,
       |  SUM(curr_n - ref_n)::BIGINT AS n_new_orders,
       |  CAST(SUM(curr_spend - COALESCE(ref_spend, 0::DECIMAL(18,4))) AS DOUBLE) AS added_spend
       |FROM cls GROUP BY 1 ORDER BY status""".stripMargin.replace("\n", " ")
  }

  /** SCD2 (type-2 slowly-changing-dimension) history builder: compress a
    * change stream into effective-dated dimension rows — the warehouse step
    * that turns CDC feeds into point-in-time-joinable history (the thing
    * [[graft.pipeline.AsofJoin]] then consumes). Instance: per customer, the
    * history of their order status over the o_orderdate sequence.
    *
    * Plan shape: ONE key exchange total — change detection (`lag`), the
    * closing `lead`, and the `row_number` version all share the same
    * (o_custkey)×(o_orderdate, o_orderkey) window spec, so Catalyst plans a
    * single shuffle + sort feeding stacked Window operators (the second
    * pair runs on the FILTERED change rows — strictly smaller). No
    * self-join, no second scan. The o_orderkey tiebreak makes same-date
    * transitions deterministic in both engines. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev_status", lag("o_orderstatus", 1).over(w))
      .filter(col("prev_status").isNull || col("prev_status") =!= col("o_orderstatus"))
      .withColumn("valid_to_ts", lead("o_orderdate", 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .select(col("o_custkey"),
        col("o_orderstatus").as("status"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd").as("valid_to"),
        col("version"),
        col("valid_to_ts").isNull.as("is_current"))
      .orderBy("o_custkey", "version")
  }

  def scd2HistorySql: String =
    """WITH seq AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |  LAG(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_status
      |  FROM orders),
      |chg AS (SELECT * FROM seq WHERE prev_status IS NULL OR prev_status <> o_orderstatus),
      |v AS (SELECT o_custkey, o_orderstatus AS status, o_orderdate,
      |  LEAD(o_orderdate) OVER w AS valid_to_ts, ROW_NUMBER() OVER w AS version FROM chg
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
      |SELECT o_custkey, status, strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
      |  strftime(valid_to_ts, '%Y-%m-%d') AS valid_to, version, valid_to_ts IS NULL AS is_current
      |FROM v ORDER BY o_custkey, version""".stripMargin.replace("\n", " ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "snapshot_diff" -> ((s, d) => snapshotDiffQuery(s, d)),
    "scd2_history" -> ((s, d) => scd2History(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "snapshot_diff" -> snapshotDiffSql,
    "scd2_history" -> scd2HistorySql,
  )
}
