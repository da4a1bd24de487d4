package graft.drift

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flat result consolidation + run summaries — reference O39/O40
  * (/root/reference/result_handler.py, data_drift_detector.py).
  *
  * The flat result schema is `(column_name, column_type, dimension_id,
  * drift_score, drift_severity)` rows from every analyzer family
  * (result_handler.py:14-21), and the summaries are the severity histogram +
  * average score (result_handler.py:75-120), the per-dimension summaries
  * (result_handler.py:122-141), the top-dimensions-by-drift ranking
  * (result_handler.py:143-167) and the top-5 drifted columns
  * (result_handler.py:105-107). Everything stays in-plan; the union of
  * analyzer outputs is a cheap union of already-tiny aggregates.
  *
  * The scoring DAG (numeric O13 + categorical O19) is the expensive part, so
  * the flat frame is memoized per (session, dir) and Spark-cached: every
  * summary in the family aggregates the SAME cached frame instead of
  * re-executing the scoring pipelines (round-2 verdict: drift_summary was
  * paying the whole DAG again on top of drift_results).
  *
  * `approx = true` memoizes the [[graft.plans.SketchModeRewrite.sketched]]
  * form of each cached frame (the 100 TB path: percentiles on the mergeable
  * sketch); `false` keeps the exact form the DuckDB oracle reproduces.
  */
object Report extends graft.OperatorModule {

  /** Unified flat drift-result rows: numeric O13 scores + categorical O19
    * scores, one row per (table, column). */
  def driftResults(spark: SparkSession, dir: String): DataFrame =
    flatResults(spark, dir).orderBy("table_name", "column_name")

  /** The unordered flat frame — what the memo CACHES: a Sort directly
    * under a cache materialization executes the whole scoring DAG twice
    * (the range partitioner's sampling pass, then the sort pass), so the
    * cache holds the unsorted union and consumers order the few-dozen-row
    * cached frame instead (round 12: drift_results executor CPU ~halved). */
  private def flatResults(spark: SparkSession, dir: String): DataFrame = {
    val num = NumericDrift.driftScoreFrame(spark, dir)
      .selectExpr("table_name", "column_name", "column_type", "dimension_id",
        "drift_score", "drift_severity")
    val cat = CategoricalDrift.categoricalDriftFrame(spark, dir)
      .selectExpr("table_name", "column_name", "'categorical' AS column_type",
        "'all' AS dimension_id", "drift_score", "drift_severity")
    num.union(cat)
  }

  def driftResultsSql: String =
    s"SELECT table_name, column_name, column_type, dimension_id, drift_score, drift_severity " +
      s"FROM (${NumericDrift.driftScoreSql}) n UNION ALL " +
      "SELECT table_name, column_name, 'categorical' AS column_type, 'all' AS dimension_id, " +
      s"drift_score, drift_severity FROM (${CategoricalDrift.categoricalDriftSql}) c " +
      "ORDER BY table_name, column_name"

  // ------------------------------------------------- shared cached frames

  private type Memo = java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Boolean), DataFrame]

  private val memo = new Memo()

  /** The memo root: `build`'s frame — sketched when `approx` — cached once
    * per (session, dir, approx). */
  private def memoized(m: Memo, spark: SparkSession, dir: String, approx: Boolean)(
      build: => DataFrame): DataFrame =
    m.computeIfAbsent((spark, dir, approx), _ =>
      (if (approx) graft.plans.SketchModeRewrite.sketched(build) else build).cache())

  /** [[driftResults]] memoized per (session, dir) and Spark-cached (the
    * frame is column-count-sized, a few dozen rows). Every summary below
    * consumes this, so one run of the scoring DAG feeds the whole report
    * family.
    *
    * Assumes the data under `dir` is immutable for the session's lifetime
    * (true for versioned snapshot directories, the engine's input contract);
    * if a dir is rewritten in-place, call [[invalidate]] first or the memo
    * serves stale results. */
  def driftResultsCached(spark: SparkSession, dir: String,
      approx: Boolean = false): DataFrame =
    flatCached(spark, dir, approx).orderBy("table_name", "column_name")

  /** The raw memoized+cached unordered frame ([[flatResults]]) — the
    * summaries and the dimensional union consume this directly (their
    * aggregates are order-insensitive and a sort under the dimensional
    * cache would re-trigger the double-execution the split avoids). */
  private def flatCached(spark: SparkSession, dir: String,
      approx: Boolean): DataFrame =
    memoized(memo, spark, dir, approx)(flatResults(spark, dir))

  /** Drop the memoized frames for (session, dir): unpersists the Spark cache
    * and releases the retained references. Call when data under `dir`
    * changed, or when a session is being torn down. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    for (approx <- Seq(false, true)) {
      Option(memo.remove((spark, dir, approx))).foreach(_.unpersist())
      Option(dimMemo.remove((spark, dir, approx))).foreach(_.unpersist())
    }

  /** [[invalidate]] for every memoized entry. */
  def invalidateAll(): Unit = {
    memo.values.forEach(df => df.unpersist()); memo.clear()
    dimMemo.values.forEach(df => df.unpersist()); dimMemo.clear()
  }

  private val dimMemo = new Memo()

  /** Flat results EXTENDED with per-dimension-slice rows (main.py:129-141's
    * dimensional analysis): one row per eligible (dimension, category) group
    * with `dimension_id = '<dim>=<category>'` and the O33 group verdict
    * score. This is the frame the reference's dimensional summaries run
    * over. Memoized+cached like [[driftResultsCached]]. */
  def dimensionalResults(spark: SparkSession, dir: String,
      approx: Boolean = false): DataFrame =
    memoized(dimMemo, spark, dir, approx) {
      val groups = GroupDrift.groupDriftVerdictFrame(spark, dir).selectExpr(
        "table_name", "dimension AS column_name", "'group' AS column_type",
        "CONCAT(dimension, '=', category) AS dimension_id",
        "overall_drift_score AS drift_score",
        s"${severitySql("overall_drift_score")} AS drift_severity")
      // the cached flat frame is already sketched; the rewrite leaves it
      // as it is, so the union still reads that cache
      flatCached(spark, dir, approx).union(groups)
    }

  private def dimensionalResultsSql: String = {
    val flat = driftResultsSql.stripSuffix(" ORDER BY table_name, column_name")
    val groups = GroupDrift.groupDriftVerdictSql
      .stripSuffix(" ORDER BY table_name, dimension, category")
    s"$flat UNION ALL SELECT table_name, dimension AS column_name, " +
      "'group' AS column_type, CONCAT(dimension, '=', category) AS dimension_id, " +
      "overall_drift_score AS drift_score, " +
      s"${severitySql("overall_drift_score")} AS drift_severity FROM ($groups) g"
  }

  // ------------------------------------------------- O39 get_drift_summary

  /** O39 get_drift_summary: severity histogram + average drift score. */
  private val summaryFinal: Seq[String] = Seq(
    "COUNT(*) AS total_columns_analyzed",
    "ROUND(AVG(drift_score), 6) AS average_drift_score",
    "SUM(CASE WHEN drift_severity = 'None' THEN 1 ELSE 0 END) AS n_none",
    "SUM(CASE WHEN drift_severity = 'Low' THEN 1 ELSE 0 END) AS n_low",
    "SUM(CASE WHEN drift_severity = 'Medium' THEN 1 ELSE 0 END) AS n_medium",
    "SUM(CASE WHEN drift_severity = 'High' THEN 1 ELSE 0 END) AS n_high",
    "SUM(CASE WHEN drift_severity = 'Critical' THEN 1 ELSE 0 END) AS n_critical")

  private val summaryCast: Seq[String] = Seq(
    "total_columns_analyzed", "average_drift_score",
    "CAST(n_none AS BIGINT) AS n_none", "CAST(n_low AS BIGINT) AS n_low",
    "CAST(n_medium AS BIGINT) AS n_medium", "CAST(n_high AS BIGINT) AS n_high",
    "CAST(n_critical AS BIGINT) AS n_critical")

  def driftSummary(spark: SparkSession, dir: String,
      approx: Boolean = false): DataFrame =
    flatCached(spark, dir, approx)
      .agg(expr(summaryFinal.head), summaryFinal.tail.map(expr): _*)
      .selectExpr("'all' AS dimension_id" +: summaryCast: _*)

  def driftSummarySql: String =
    s"SELECT ${("dimension_id" +: summaryCast).mkString(", ")} FROM " +
      s"(SELECT 'all' AS dimension_id, ${summaryFinal.mkString(", ")} FROM (${driftResultsSql.stripSuffix(" ORDER BY table_name, column_name")}) r) s"

  // ------------------------------------- O39 get_dimensional_summaries

  /** Per-dimension summaries (result_handler.py:122-141): one
    * severity-histogram row per distinct dimension_id, including 'all'. */
  def dimensionalSummary(spark: SparkSession, dir: String,
      approx: Boolean = false): DataFrame =
    dimensionalResults(spark, dir, approx)
      .groupBy("dimension_id")
      .agg(expr(summaryFinal.head), summaryFinal.tail.map(expr): _*)
      .selectExpr("dimension_id" +: summaryCast: _*)
      .orderBy("dimension_id")

  def dimensionalSummarySql: String =
    s"SELECT ${("dimension_id" +: summaryCast).mkString(", ")} FROM " +
      s"(SELECT dimension_id, ${summaryFinal.mkString(", ")} FROM ($dimensionalResultsSql) r " +
      "GROUP BY dimension_id) s ORDER BY dimension_id"

  // ------------------------------------- O39 get_top_dimensions_by_drift

  /** Top-5 dimension slices by average drift (result_handler.py:143-167),
    * 'all' excluded, severity of the average attached. Deviation: a
    * deterministic tie-break on dimension_id (the reference sorts by score
    * alone, which is nondeterministic under ties). */
  def topDimensions(spark: SparkSession, dir: String,
      approx: Boolean = false): DataFrame =
    dimensionalResults(spark, dir, approx)
      .filter(col("dimension_id") =!= "all")
      .groupBy("dimension_id")
      .agg(round(avg("drift_score"), 6).as("avg_drift_score"),
        count(lit(1)).as("column_count"))
      .selectExpr("dimension_id", "avg_drift_score",
        "CAST(column_count AS BIGINT) AS column_count",
        s"${severitySql("avg_drift_score")} AS severity")
      .orderBy(col("avg_drift_score").desc, col("dimension_id").asc)
      .limit(5)

  def topDimensionsSql: String =
    "SELECT dimension_id, avg_drift_score, column_count, " +
      s"${severitySql("avg_drift_score")} AS severity FROM " +
      "(SELECT dimension_id, ROUND(AVG(drift_score), 6) AS avg_drift_score, " +
      s"COUNT(*)::BIGINT AS column_count FROM ($dimensionalResultsSql) r " +
      "WHERE dimension_id <> 'all' GROUP BY dimension_id) s " +
      "ORDER BY avg_drift_score DESC, dimension_id ASC LIMIT 5"

  // ------------------------------------------- O39 top-5 drifted columns

  /** Top-5 drifted columns (result_handler.py:105-107), deterministic
    * tie-break on (column, table). */
  def topDriftedColumns(spark: SparkSession, dir: String,
      approx: Boolean = false): DataFrame =
    flatCached(spark, dir, approx)
      .orderBy(col("drift_score").desc, col("column_name").asc, col("table_name").asc)
      .limit(5)
      .select("table_name", "column_name", "drift_score", "drift_severity")

  def topDriftedColumnsSql: String =
    "SELECT table_name, column_name, drift_score, drift_severity FROM " +
      s"(${driftResultsSql.stripSuffix(" ORDER BY table_name, column_name")}) r " +
      "ORDER BY drift_score DESC, column_name ASC, table_name ASC LIMIT 5"

  // ----------------------------------------------------------------- API

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "drift_results" -> ((s, d) => driftResultsCached(s, d)),
    "drift_summary" -> ((s, d) => driftSummary(s, d)),
    "dimensional_summary" -> ((s, d) => dimensionalSummary(s, d)),
    "top_dimensions" -> ((s, d) => topDimensions(s, d)),
    "top_drifted_columns" -> ((s, d) => topDriftedColumns(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "drift_results" -> driftResultsSql,
    "drift_summary" -> driftSummarySql,
    "dimensional_summary" -> dimensionalSummarySql,
    "top_dimensions" -> topDimensionsSql,
    "top_drifted_columns" -> topDriftedColumnsSql,
  )
}
