package graft.drift

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{splits => S}

/** Numeric column statistics + drift (reference operators O11–O14, O20, O21,
  * O24, O36 — SURVEY.md §2.b; semantics from
  * /root/reference/numerical_analyzer.py, distribution_analyzer.py,
  * rare_event_analyzer.py).
  *
  * Scale design: every per-column statistic for a snapshot pair is computed in
  * ONE `groupBy("side")` aggregation over a single scan — the reference runs
  * ~5 Spark jobs per column per frame (numerical_analyzer.py:124-143); we run
  * one job for all columns of a table, with map-side partial aggregation, so
  * the cost at 100 TB is one scan + a 2-row shuffle. The drift math is then a
  * join of two 1-row-per-column frames (broadcast, no shuffle).
  *
  * The final drift arithmetic is expressed as SQL strings shared verbatim
  * with the DuckDB oracle (`selectExpr` on the Spark side), so the two
  * engines cannot diverge on formula details.
  */
object NumericDrift extends graft.OperatorModule {

  // ---------------------------------------------------------------- stats

  /** Full-table per-column stats over several tables (O11). */
  private val statsTables: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "orders" -> Seq("o_totalprice"),
    "customer" -> Seq("c_acctbal"),
    "supplier" -> Seq("s_acctbal"),
    "part" -> Seq("p_retailprice", "p_size"),
    "events" -> Seq("value"),
  )

  // the DOUBLE cast leaves exact percentiles unchanged and lets sketch
  // mode reach integral columns too (graft.plans.SketchModeRewrite)
  private def statAggs(c: String): Seq[Column] = Seq(
    count(lit(1)).as(s"${c}__total"),
    count(col(c)).as(s"${c}__nonnull"),
    avg(col(c)).as(s"${c}__mean"),
    stddev(col(c)).as(s"${c}__std"),
    min(col(c)).cast("double").as(s"${c}__min"),
    max(col(c)).cast("double").as(s"${c}__max"),
    expr(s"percentile(CAST($c AS DOUBLE), array(0.25, 0.5, 0.75))")
      .cast("array<double>").as(s"${c}__pct"),
  )

  /** Unpivot the wide agg row into (table_name, column_name, stats...) rows. */
  private def stackStats(tableName: String, cols: Seq[String]): String = {
    val rows = cols.map { c =>
      s"'$tableName', '$c', ${c}__total, ${c}__nonnull, ${c}__mean, ${c}__std, " +
        s"${c}__min, ${c}__max, ${c}__pct[0], ${c}__pct[1], ${c}__pct[2]"
    }.mkString(", ")
    s"stack(${cols.size}, $rows) as " +
      "(table_name, column_name, n_total, n_nonnull, mean, std, vmin, vmax, p25, p50, p75)"
  }

  /** Exact percentiles, so DuckDB's `quantile_cont` reproduces values
    * bit-for-bit; sketch mode swaps in the mergeable sketch at scale. */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val longs = statsTables.map { case (t, cols) =>
      val aggs = cols.flatMap(statAggs)
      table(spark, dir, t).agg(aggs.head, aggs.tail: _*).select(expr(stackStats(t, cols)))
    }
    longs.reduce(_ unionAll _)
      .selectExpr(
        "table_name", "column_name",
        "n_total", "n_total - n_nonnull AS n_null",
        "round(mean, 6) AS mean", "round(std, 6) AS std",
        "round(vmin, 6) AS vmin", "round(vmax, 6) AS vmax",
        "round(p25, 6) AS p25", "round(p50, 6) AS p50", "round(p75, 6) AS p75")
      .orderBy("table_name", "column_name")
  }

  def statsSql: String = {
    val selects = statsTables.flatMap { case (t, cols) =>
      cols.map { c =>
        s"SELECT '$t' AS table_name, '$c' AS column_name, COUNT(*) AS n_total, " +
          s"COUNT(*) - COUNT($c) AS n_null, ROUND(AVG($c), 6) AS mean, " +
          s"ROUND(STDDEV($c), 6) AS std, ROUND(MIN($c)::DOUBLE, 6) AS vmin, " +
          s"ROUND(MAX($c)::DOUBLE, 6) AS vmax, ROUND(quantile_cont($c, 0.25), 6) AS p25, " +
          s"ROUND(quantile_cont($c, 0.5), 6) AS p50, ROUND(quantile_cont($c, 0.75), 6) AS p75 " +
          s"FROM $t"
      }
    }
    selects.mkString("", " UNION ALL ", " ORDER BY table_name, column_name")
  }

  // ------------------------------------------------------------- ref/curr

  /** One-pass per-side stats for a split table, long format:
    * (table_name, column_name, side, n_total, n_nonnull, mean, std, vmin,
    * vmax, p25, p50, p75, p95, p99, p01, p05). */
  private def sideStatsLong(spark: SparkSession, dir: String, sp: S.NumSplit): DataFrame =
    sideStatsFrom(withSide(table(spark, dir, sp.tableName), sp.ref), sp.tableName, sp.cols)

  /** Same one-pass stats over any side-tagged frame (generic pair entry).
    * Exact `percentile` so DuckDB can reproduce values; sketch mode
    * (graft.plans.SketchModeRewrite) swaps in `percentile_approx` — the
    * reference's own choice (numerical_analyzer.py:306-307, rel. err 0.01)
    * — at [[SketchAccuracy]]. The DOUBLE cast leaves the exact value
    * unchanged and lets the sketch reach integral columns. */
  private def sideStatsFrom(tagged: DataFrame, tableName: String,
      cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__total"),
        count(col(c)).as(s"${c}__nonnull"),
        avg(col(c)).as(s"${c}__mean"),
        stddev(col(c)).as(s"${c}__std"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        expr(s"percentile(CAST($c AS DOUBLE), array(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99))")
          .cast("array<double>").as(s"${c}__pct"),
      )
    }
    val rows = cols.map { c =>
      s"'$tableName', '$c', ${c}__total, ${c}__nonnull, ${c}__mean, ${c}__std, " +
        s"${c}__min, ${c}__max, ${c}__pct[0], ${c}__pct[1], ${c}__pct[2], ${c}__pct[3], " +
        s"${c}__pct[4], ${c}__pct[5], ${c}__pct[6]"
    }.mkString(", ")
    tagged
      .groupBy(col("side")).agg(aggs.head, aggs.tail: _*)
      .select(col("side"), expr(s"stack(${cols.size}, $rows) as " +
        "(table_name, column_name, n_total, n_nonnull, mean, std, vmin, vmax, " +
        "p01, p05, p25, p50, p75, p95, p99)"))
  }

  // ------------------------------------------- profile-once, diff-many

  /** Per-snapshot numeric profile — the persistable artifact of the
    * whylogs/Deequ-style workflow: at 100 TB each snapshot is scanned
    * ONCE on arrival (under sketch mode every stat is a fixed-size
    * mergeable sketch) and every later drift comparison runs
    * profile-vs-profile on KB-sized frames, never rescanning raw data.
    * Schema = exactly the per-column stat row the drift DAG consumes
    * ([[driftFromProfiles]] is spec-pinned equal to [[driftForPair]],
    * including through a parquet round-trip). */
  def profileOf(df: DataFrame, cols: Seq[String], label: String = "snapshot"): DataFrame =
    sideStatsFrom(df.select(cols.map(col): _*).withColumn("side", lit("p")),
      label, cols).drop("side")

  def writeProfile(profile: DataFrame, path: String): Unit =
    profile.coalesce(1).write.mode("overwrite").parquet(path)

  def readProfile(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** O12 drift metrics from two precomputed [[profileOf]] frames. The
    * profiles must carry the same `label` (table_name keys the pivot —
    * a column present in only one profile is dropped, the same
    * schema-drift rule [[pivotSides]] applies to live pairs). */
  def driftFromProfiles(refProfile: DataFrame, currProfile: DataFrame): DataFrame =
    pivotSides(refProfile.withColumn("side", lit("ref"))
        .unionByName(currProfile.withColumn("side", lit("curr"))))
      .selectExpr(driftStage1: _*)
      .selectExpr(driftStage2: _*)
      .selectExpr(driftStage3: _*)
      .orderBy("table_name", "column_name")

  /** Tag + union two snapshots on their common requested columns. */
  private[drift] def tagPair(ref: DataFrame, curr: DataFrame, cols: Seq[String]): DataFrame =
    ref.select(cols.map(col): _*).withColumn("side", lit("ref"))
      .unionByName(curr.select(cols.map(col): _*).withColumn("side", lit("curr")))

  /** Generic O11/O12 drift metrics for an arbitrary snapshot pair. */
  def driftForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    pivotSides(sideStatsFrom(tagPair(ref, curr, cols), label, cols))
      .selectExpr(driftStage1: _*)
      .selectExpr(driftStage2: _*)
      .selectExpr(driftStage3: _*)
      .orderBy("column_name")

  /** Generic O13 drift score (without the O14 outlier components) for an
    * arbitrary snapshot pair. */
  def scoreForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame = {
    val piv = pivotSides(sideStatsFrom(tagPair(ref, curr, cols), label, cols))
      .withColumn("ref_n_out", lit(null).cast("long"))
      .withColumn("ref_n_ext", lit(null).cast("long"))
      .withColumn("curr_n_out", lit(null).cast("long"))
      .withColumn("curr_n_ext", lit(null).cast("long"))
    piv.selectExpr(scoreStage: _*).selectExpr(scoreFinal: _*).orderBy("column_name")
  }

  /** Generic O20 quantile shifts for an arbitrary snapshot pair. */
  def quantileShiftsForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame = {
    val rows = shiftQs.map { case (q, c) => s"'$q', ref_$c, curr_$c" }.mkString(", ")
    pivotSides(sideStatsFrom(tagPair(ref, curr, cols), label, cols))
      .select(col("table_name"), col("column_name"),
        expr(s"stack(${shiftQs.size}, $rows) as (quantile, ref_value, curr_value)"))
      .selectExpr("table_name", "column_name", "quantile",
        "ROUND(ref_value, 6) AS ref_value", "ROUND(curr_value, 6) AS curr_value",
        "ROUND(ABS(curr_value - ref_value), 6) AS abs_diff",
        "ROUND(CASE WHEN ref_value <> 0 THEN ABS((curr_value - ref_value) / ref_value) " +
          "WHEN curr_value <> 0 THEN ABS(curr_value - ref_value) / GREATEST(ABS(curr_value), 1e-10) " +
          "ELSE 0.0 END, 6) AS rel_diff")
      .orderBy("column_name", "quantile")
  }

  /** Generic O21 shape drift for an arbitrary snapshot pair. */
  def shapesForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame = {
    val tagged = tagPair(ref, curr, cols)
    val aggs = cols.flatMap { c =>
      Seq(skewness(col(c)).as(s"${c}__skew"), kurtosis(col(c)).as(s"${c}__kurt"))
    }
    val rows = cols.map(c => s"'$label', '$c', ${c}__skew, ${c}__kurt").mkString(", ")
    val long = tagged.groupBy(col("side")).agg(aggs.head, aggs.tail: _*)
      .select(col("side"), expr(s"stack(${cols.size}, $rows) as (table_name, column_name, skew, kurt)"))
    pivotShapes(long)
      .selectExpr(shapeFinal: _*)
      .orderBy("column_name")
  }

  /** Generic O36 z-score outlier drift for an arbitrary snapshot pair —
    * every column in one stats pass + one counting pass. */
  def zOutliersForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame = {
    val long = zOutliersLong(tagPair(ref, curr, cols), label, cols)
    pivotZ(long).selectExpr(zFinal: _*).orderBy("column_name")
  }

  /** SQL mirror of [[sideStatsLong]] for all numeric splits (a UNION ALL CTE
    * body named `sides`). */
  private def sideStatsLongSql: String =
    S.numeric.flatMap { sp =>
      sp.cols.map { c =>
        s"SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
          s"'${sp.tableName}' AS table_name, '$c' AS column_name, " +
          s"COUNT(*) AS n_total, COUNT($c) AS n_nonnull, AVG($c) AS mean, " +
          s"STDDEV($c) AS std, MIN($c)::DOUBLE AS vmin, MAX($c)::DOUBLE AS vmax, " +
          s"quantile_cont($c, 0.01) AS p01, quantile_cont($c, 0.05) AS p05, " +
          s"quantile_cont($c, 0.25) AS p25, quantile_cont($c, 0.5) AS p50, " +
          s"quantile_cont($c, 0.75) AS p75, quantile_cont($c, 0.95) AS p95, " +
          s"quantile_cont($c, 0.99) AS p99 FROM ${sp.tableName} GROUP BY 1, 2, 3"
      }
    }.mkString(" UNION ALL ")

  private val sideStatCols = Seq("n_total", "n_nonnull", "mean", "std", "vmin",
    "vmax", "p01", "p05", "p25", "p50", "p75", "p95", "p99")

  /** Pivot the long side stats into one row per column with ref_/curr_
    * prefixes (Spark side — a tiny broadcast self-join). */
  /** Pivot via conditional aggregation, NOT a ref/curr self-join: a
    * self-join would duplicate the whole upstream aggregation pipeline and
    * scan every table twice (verified with .explain — 2x ReadSchema per
    * table before this form). */
  private def pivotSides(longDf: DataFrame): DataFrame = {
    val aggs = sideStatCols.flatMap { c => Seq(
      max(when(col("side") === "ref", col(c))).as(s"ref_$c"),
      max(when(col("side") === "curr", col(c))).as(s"curr_$c")) }
    longDf.groupBy("table_name", "column_name").agg(aggs.head, aggs.tail: _*)
      // drop columns missing on either side (schema drift between snapshots)
      .filter(col("ref_n_total").isNotNull && col("curr_n_total").isNotNull)
  }

  /** SQL mirror of [[pivotSides]] given CTE `sides`. */
  private def pivotSidesSql: String = {
    val aggs = sideStatCols.flatMap { c => Seq(
      s"MAX(CASE WHEN side = 'ref' THEN $c END) AS ref_$c",
      s"MAX(CASE WHEN side = 'curr' THEN $c END) AS curr_$c") }.mkString(", ")
    s"SELECT * FROM (SELECT table_name, column_name, $aggs FROM sides GROUP BY 1, 2) p " +
      "WHERE ref_n_total IS NOT NULL AND curr_n_total IS NOT NULL"
  }

  // ------------------------------------------- O11/O12 drift metrics query

  /** Stage-1 derived quantities (shared SQL text, Spark `selectExpr` +
    * DuckDB). Semantics: /root/reference/numerical_analyzer.py:194-276. */
  private val driftStage1: Seq[String] = {
    val derived = Seq(
      "ref_p75 - ref_p25 AS ref_iqr", "curr_p75 - curr_p25 AS curr_iqr",
      "ref_vmax - ref_vmin AS ref_range", "curr_vmax - curr_vmin AS curr_range",
      "(ref_n_total - ref_n_nonnull) * 1e0 / ref_n_total AS ref_null_prop",
      "(curr_n_total - curr_n_nonnull) * 1e0 / curr_n_total AS curr_null_prop")
    Seq("*") ++ derived
  }

  private val driftStats = Seq("mean" -> "mean", "median" -> "p50",
    "std_dev" -> "std", "min" -> "vmin", "max" -> "vmax", "iqr" -> "iqr",
    "range" -> "range")

  private val driftStage2: Seq[String] = {
    val diffs = driftStats.flatMap { case (name, c) =>
      Seq(
        s"curr_$c - ref_$c AS ${name}_abs_diff",
        s"${relDiffSql(s"ref_$c", s"curr_$c")} AS ${name}_rel_diff")
    }
    Seq("table_name", "column_name",
      "ref_mean", "curr_mean", "ref_p50", "curr_p50", "ref_std", "curr_std",
      "ref_vmin", "curr_vmin", "ref_vmax", "curr_vmax", "ref_iqr", "curr_iqr",
      "ref_range", "curr_range", "ref_null_prop", "curr_null_prop",
      "curr_null_prop - ref_null_prop AS null_diff") ++ diffs
  }

  /** Weighted drift score + detection (standard-profile defaults,
    * /root/reference/numerical_analyzer.py:30-36,69-76,253-260). */
  private val driftStage3: Seq[String] = {
    val score = "LEAST(1.0, 0.25 * ABS(mean_rel_diff) + 0.2 * ABS(median_rel_diff) + " +
      "0.15 * ABS(std_dev_rel_diff) + 0.15 * ABS(iqr_rel_diff) + " +
      "0.1 * ABS(null_diff) + 0.15 * ABS(range_rel_diff))"
    val conds = Seq(
      "ABS(mean_rel_diff) > 0.05" -> "mean",
      "ABS(median_rel_diff) > 0.05" -> "median",
      "ABS(std_dev_rel_diff) > 0.1" -> "std_dev",
      "ABS(iqr_rel_diff) > 0.1" -> "iqr",
      "ABS(null_diff) > 0.005" -> "null_proportion",
      "ABS(range_rel_diff) > 0.1" -> "range")
    val causes = conds.map { case (cond, name) => s"CASE WHEN $cond THEN '$name' END" }
      .mkString("CONCAT_WS(',', ", ", ", ")")
    Seq("table_name", "column_name") ++
      Seq("ref_mean", "curr_mean", "ref_p50", "curr_p50", "ref_std", "curr_std",
        "ref_iqr", "curr_iqr", "ref_range", "curr_range", "ref_null_prop",
        "curr_null_prop", "null_diff").map(c => s"ROUND($c, 6) AS $c") ++
      driftStats.flatMap { case (n, _) =>
        Seq(s"ROUND(${n}_abs_diff, 6) AS ${n}_abs_diff", s"ROUND(${n}_rel_diff, 6) AS ${n}_rel_diff") } ++
      Seq(
        s"ROUND($score, 6) AS drift_score",
        s"(${conds.map(_._1).mkString(" OR ")}) AS drift_detected",
        s"$causes AS drift_causes",
        s"${severitySql(s"$score")} AS drift_severity")
  }

  def drift(spark: SparkSession, dir: String): DataFrame = {
    val long = S.numeric.map(sideStatsLong(spark, dir, _)).reduce(_ unionAll _)
    pivotSides(long)
      .selectExpr(driftStage1: _*)
      .selectExpr(driftStage2: _*)
      .selectExpr(driftStage3: _*)
      .orderBy("table_name", "column_name")
  }

  def driftSql: String =
    s"WITH sides AS ($sideStatsLongSql), piv AS ($pivotSidesSql), " +
      s"st1 AS (SELECT ${driftStage1.mkString(", ")} FROM piv), " +
      s"st2 AS (SELECT ${driftStage2.mkString(", ")} FROM st1) " +
      s"SELECT ${driftStage3.mkString(", ")} FROM st2 ORDER BY table_name, column_name"

  // ------------------------------------------- per-metric audit rows

  /** (metric_checked, ref col, curr col, diff col, standard-profile
    * threshold) for the per-metric audit shape. */
  private val auditMetrics: Seq[(String, String, String, String, Double)] = Seq(
    ("mean", "ref_mean", "curr_mean", "mean_rel_diff", 0.05),
    ("median", "ref_p50", "curr_p50", "median_rel_diff", 0.05),
    ("std_dev", "ref_std", "curr_std", "std_dev_rel_diff", 0.1),
    ("iqr", "ref_iqr", "curr_iqr", "iqr_rel_diff", 0.1),
    ("range", "ref_range", "curr_range", "range_rel_diff", 0.1),
    ("null_proportion", "ref_null_prop", "curr_null_prop", "null_diff", 0.005))

  private val auditFinal: Seq[String] = Seq(
    "table_name", "column_name", "'numerical' AS analysis_type",
    "'all' AS dimension_slice", "metric_checked",
    "ROUND(reference_value, 6) AS reference_value",
    "ROUND(current_value, 6) AS current_value",
    "ROUND(diff_value, 6) AS diff_value", "threshold_value",
    "(ABS(diff_value) > threshold_value) AS drift_detected")

  /** Per-metric audit rows — the shape `result_handler.consolidate_results`
    * (result_handler.py:170-204) DECLARES but cannot produce: the reference
    * builds 10-field rows against its 6-field schema and crashes
    * (SURVEY.md §8.6). This is that table done right: one row per
    * (column, metric) with reference/current values, the diff, the
    * standard-profile threshold and the per-metric drift flag — derived
    * from the same one-pass O12 stats, so it costs no extra scan. */
  def metricAudit(spark: SparkSession, dir: String): DataFrame = {
    val rows = auditMetrics.map { case (n, r, c, d, t) =>
      s"'$n', CAST($r AS DOUBLE), CAST($c AS DOUBLE), CAST($d AS DOUBLE), CAST($t AS DOUBLE)"
    }.mkString(", ")
    val long = S.numeric.map(sideStatsLong(spark, dir, _)).reduce(_ unionAll _)
    pivotSides(long)
      .selectExpr(driftStage1: _*)
      .selectExpr(driftStage2: _*)
      .select(col("table_name"), col("column_name"),
        expr(s"stack(${auditMetrics.size}, $rows) as " +
          "(metric_checked, reference_value, current_value, diff_value, threshold_value)"))
      .selectExpr(auditFinal: _*)
      .orderBy("table_name", "column_name", "metric_checked")
  }

  def metricAuditSql: String = {
    val per = auditMetrics.map { case (n, r, c, d, t) =>
      s"SELECT table_name, column_name, '$n' AS metric_checked, " +
        s"CAST($r AS DOUBLE) AS reference_value, CAST($c AS DOUBLE) AS current_value, " +
        s"CAST($d AS DOUBLE) AS diff_value, CAST($t AS DOUBLE) AS threshold_value FROM st2"
    }.mkString(" UNION ALL ")
    s"WITH sides AS ($sideStatsLongSql), piv AS ($pivotSidesSql), " +
      s"st1 AS (SELECT ${driftStage1.mkString(", ")} FROM piv), " +
      s"st2 AS (SELECT ${driftStage2.mkString(", ")} FROM st1), " +
      s"longm AS ($per) SELECT ${auditFinal.mkString(", ")} FROM longm " +
      "ORDER BY table_name, column_name, metric_checked"
  }

  // ------------------------------------------------ O13/O14 flat drift score

  /** Outlier/extreme counts against reference IQR bounds (O14) — one extra
    * pass per table, bounds broadcast from the stats row (no collect). */
  private def outlierCounts(spark: SparkSession, dir: String, sp: S.NumSplit,
      longStats0: DataFrame = null): DataFrame = {
    val df = withSide(table(spark, dir, sp.tableName), sp.ref)
    // one wide 1-row frame of all columns' reference IQR bounds, broadcast
    // onto ONE counting scan for every column (the per-column variant would
    // rescan the table len(cols) times)
    val longStats = Option(longStats0).getOrElse(sideStatsLong(spark, dir, sp))
    val boundsWide = longStats.filter(col("side") === "ref")
      .groupBy().agg(
        sp.cols.flatMap(c => Seq(
          max(when(col("column_name") === c, col("p25"))).as(s"${c}__q1"),
          max(when(col("column_name") === c, col("p75"))).as(s"${c}__q3"))).head,
        sp.cols.flatMap(c => Seq(
          max(when(col("column_name") === c, col("p25"))).as(s"${c}__q1"),
          max(when(col("column_name") === c, col("p75"))).as(s"${c}__q3"))).tail: _*)
    val aggs = sp.cols.flatMap { c =>
      def outPred(mult: Double) =
        s"$c IS NOT NULL AND ($c < ${c}__q1 - (${c}__q3 - ${c}__q1) * $mult OR " +
          s"$c > ${c}__q3 + (${c}__q3 - ${c}__q1) * $mult)"
      Seq(
        expr(s"SUM(CASE WHEN ${outPred(1.5)} THEN 1 ELSE 0 END)").cast("long").as(s"${c}__out"),
        expr(s"SUM(CASE WHEN ${outPred(3.0)} THEN 1 ELSE 0 END)").cast("long").as(s"${c}__ext"))
    }
    val rows = sp.cols.map(c => s"'${sp.tableName}', '$c', ${c}__out, ${c}__ext").mkString(", ")
    df.crossJoin(broadcast(boundsWide))
      .groupBy("side").agg(aggs.head, aggs.tail: _*)
      .select(col("side"), expr(s"stack(${sp.cols.size}, $rows) as (table_name, column_name, n_out, n_ext)"))
      .select(col("table_name"), col("column_name"), col("side"), col("n_out"), col("n_ext"))
  }

  private def outlierCountsSql: String =
    S.numeric.flatMap { sp =>
      sp.cols.map { c =>
        s"SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
          s"'${sp.tableName}' AS table_name, '$c' AS column_name, " +
          s"SUM(CASE WHEN $c IS NOT NULL AND ($c < b.ref_q1 - 1.5 * (b.ref_q3 - b.ref_q1) " +
          s"OR $c > b.ref_q3 + 1.5 * (b.ref_q3 - b.ref_q1)) THEN 1 ELSE 0 END)::BIGINT AS n_out, " +
          s"SUM(CASE WHEN $c IS NOT NULL AND ($c < b.ref_q1 - 3.0 * (b.ref_q3 - b.ref_q1) " +
          s"OR $c > b.ref_q3 + 3.0 * (b.ref_q3 - b.ref_q1)) THEN 1 ELSE 0 END)::BIGINT AS n_ext " +
          s"FROM ${sp.tableName}, (SELECT quantile_cont($c, 0.25) AS ref_q1, " +
          s"quantile_cont($c, 0.75) AS ref_q3 FROM ${sp.tableName} WHERE ${sp.refSql}) b " +
          s"GROUP BY 1, 2, 3"
      }
    }.mkString(" UNION ALL ")

  /** Drift-score components, shared SQL. Exact semantics of
    * /root/reference/numerical_analyzer.py:278-559 (calculate_drift_scores
    * with detect_outliers=true), with one documented deviation: exact
    * `percentile` instead of `percentile_approx(·,0.01)` so the DuckDB oracle
    * can reproduce values bit-for-bit.
    *
    * NB two reference quirks preserved deliberately: "count" is the NON-null
    * count (F.count(col)), so null_fraction = nulls/nonnull; and the outlier
    * rate denominator is count − null_count = nonnull − nulls. */
  private val scoreStage: Seq[String] = {
    val e = "1e-10"
    val comps = Seq(
      "c_null" -> ("ABS((CASE WHEN curr_n_nonnull > 0 THEN (curr_n_total - curr_n_nonnull) * 1e0 / curr_n_nonnull ELSE 0 END) - " +
        "(CASE WHEN ref_n_nonnull > 0 THEN (ref_n_total - ref_n_nonnull) * 1e0 / ref_n_nonnull ELSE 0 END))"),
      "c_mean" -> s"LEAST(ABS(curr_mean - ref_mean) / GREATEST(ref_std, $e), 1.0)",
      "c_std" -> (s"CASE WHEN curr_std > $e THEN " +
        s"LEAST(ABS(LN(curr_std / GREATEST(ref_std, $e))) / LN(2), 1.0) END"),
      "c_med" -> s"LEAST(ABS(curr_p50 - ref_p50) / GREATEST(ref_std, $e), 1.0)",
      "c_range" -> (s"CASE WHEN ABS(ref_vmax - ref_vmin) > $e AND curr_vmax - curr_vmin > $e THEN " +
        s"LEAST(ABS(LN((curr_vmax - curr_vmin + $e) / (ref_vmax - ref_vmin + $e))) / LN(2), 1.0) " +
        s"WHEN ABS(ref_vmax - ref_vmin) <= $e AND ABS(curr_vmax - curr_vmin) > $e THEN 1.0 END"),
      "c_iqr" -> (s"CASE WHEN ABS(ref_p75 - ref_p25) > $e THEN " +
        s"(CASE WHEN curr_p75 - curr_p25 > $e THEN " +
        s"LEAST(ABS(LN((curr_p75 - curr_p25 + $e) / (ref_p75 - ref_p25 + $e))) / LN(2), 1.0) " +
        s"ELSE 1.0 END) END"),
      "c_p95" -> s"CASE WHEN ref_std > $e THEN LEAST(ABS(curr_p95 - ref_p95) / ref_std, 1.0) END",
      "c_p99" -> s"CASE WHEN ref_std > $e THEN LEAST(ABS(curr_p99 - ref_p99) / ref_std, 1.0) END",
      "c_out" -> (s"CASE WHEN ref_p75 - ref_p25 > $e THEN LEAST(ABS(" +
        "curr_n_out * 1e0 / (curr_n_nonnull - (curr_n_total - curr_n_nonnull)) - " +
        "ref_n_out * 1e0 / (ref_n_nonnull - (ref_n_total - ref_n_nonnull))) * 10, 1.0) END"),
      "c_ext" -> (s"CASE WHEN ref_p75 - ref_p25 > $e THEN LEAST(ABS(" +
        "curr_n_ext * 1e0 / (curr_n_nonnull - (curr_n_total - curr_n_nonnull)) - " +
        "ref_n_ext * 1e0 / (ref_n_nonnull - (ref_n_total - ref_n_nonnull))) * 20, 1.0) END"),
    )
    Seq("table_name", "column_name") ++ comps.map { case (n, sql) => s"$sql AS $n" }
  }

  private val scoreFinal: Seq[String] = {
    val names = Seq("c_null", "c_mean", "c_std", "c_med", "c_range", "c_iqr",
      "c_p95", "c_p99", "c_out", "c_ext")
    val total = names.map(n => s"COALESCE($n, 0)").mkString(" + ")
    val cnt = names.map(n => s"(CASE WHEN $n IS NOT NULL THEN 1 ELSE 0 END)").mkString(" + ")
    Seq("table_name", "column_name", "'numerical' AS column_type", "'all' AS dimension_id",
      s"ROUND(GREATEST(0.0, LEAST(1.0, ($total) / ($cnt))), 6) AS drift_score",
      s"${severitySql(s"GREATEST(0.0, LEAST(1.0, ($total) / ($cnt)))")} AS drift_severity") ++
      names.map(n => s"ROUND($n, 6) AS $n")
  }

  def driftScore(spark: SparkSession, dir: String): DataFrame =
    driftScoreFrame(spark, dir).orderBy("table_name", "column_name")

  /** [[driftScore]] without the final sort — the form Report's memoized
    * union caches: a Sort directly under a cache materialization executes
    * its child TWICE (the range partitioner's sampling pass plus the sort
    * pass), so the cached consumer stack sorts on top of the tiny cached
    * frame instead. */
  private[drift] def driftScoreFrame(spark: SparkSession, dir: String): DataFrame = {
    // UNCACHED per-side stats (r17): they feed both the score pivot and
    // the outlier bounds, but a registered-cold cache gets STAMPEDED by
    // the plan's concurrent broadcast futures (each consumer recomputes
    // blocks and all but one are discarded), while uncached the shared
    // subtree dedupes at its exchange (ReusedExchange) and only the cheap
    // 2-group final agg runs per consumer. Measured on the bench row that
    // re-registers fresh caches every run: numeric_drift_score cost MORE
    // (4.7 s) than the SUPERSET drift_results row (3.6 s), whose memoized
    // frame runs cache-free after clearCache.
    val longs = S.numeric.map(sp => sp -> sideStatsLong(spark, dir, sp)).toMap
    val long = S.numeric.map(longs).reduce(_ unionAll _)
    val outs = S.numeric.map(sp => outlierCounts(spark, dir, sp, longs(sp))).reduce(_ unionAll _)
    def outSide(s: String) = outs.filter(col("side") === s).drop("side")
      .withColumnRenamed("n_out", s"${s}_n_out").withColumnRenamed("n_ext", s"${s}_n_ext")
    pivotSides(long)
      .join(outSide("ref"), Seq("table_name", "column_name"))
      .join(outSide("curr"), Seq("table_name", "column_name"))
      .selectExpr(scoreStage: _*)
      .selectExpr(scoreFinal: _*)
  }

  def driftScoreSql: String =
    s"WITH sides AS ($sideStatsLongSql), piv AS ($pivotSidesSql), " +
      s"outs AS ($outlierCountsSql), " +
      "outp AS (SELECT r.table_name, r.table_name tn, r.column_name, r.n_out AS ref_n_out, " +
      "r.n_ext AS ref_n_ext, c.n_out AS curr_n_out, c.n_ext AS curr_n_ext FROM " +
      "(SELECT * FROM outs WHERE side = 'ref') r JOIN (SELECT * FROM outs WHERE side = 'curr') c " +
      "ON r.table_name = c.table_name AND r.column_name = c.column_name), " +
      "joined AS (SELECT piv.*, outp.ref_n_out, outp.ref_n_ext, outp.curr_n_out, outp.curr_n_ext " +
      "FROM piv JOIN outp ON piv.table_name = outp.tn AND piv.column_name = outp.column_name), " +
      s"st AS (SELECT ${scoreStage.mkString(", ")} FROM joined) " +
      s"SELECT ${scoreFinal.mkString(", ")} FROM st ORDER BY table_name, column_name"

  // --------------------------------------------------- O20 quantile shifts

  private val shiftQs = Seq("0.01" -> "p01", "0.05" -> "p05", "0.25" -> "p25",
    "0.5" -> "p50", "0.75" -> "p75", "0.95" -> "p95", "0.99" -> "p99")

  /** Per-quantile shifts with the distribution-analyzer zero rule
    * (/root/reference/distribution_analyzer.py:83-151). */
  def quantileShifts(spark: SparkSession, dir: String): DataFrame = {
    val long = S.numeric.map(sideStatsLong(spark, dir, _)).reduce(_ unionAll _)
    val rows = shiftQs.map { case (q, c) =>
      s"'$q', ref_$c, curr_$c"
    }.mkString(", ")
    pivotSides(long)
      .select(col("table_name"), col("column_name"),
        expr(s"stack(${shiftQs.size}, $rows) as (quantile, ref_value, curr_value)"))
      .selectExpr("table_name", "column_name", "quantile",
        "ROUND(ref_value, 6) AS ref_value", "ROUND(curr_value, 6) AS curr_value",
        "ROUND(ABS(curr_value - ref_value), 6) AS abs_diff",
        "ROUND(CASE WHEN ref_value <> 0 THEN ABS((curr_value - ref_value) / ref_value) " +
          "WHEN curr_value <> 0 THEN ABS(curr_value - ref_value) / GREATEST(ABS(curr_value), 1e-10) " +
          "ELSE 0.0 END, 6) AS rel_diff")
      .orderBy("table_name", "column_name", "quantile")
  }

  def quantileShiftsSql: String = {
    val un = shiftQs.map { case (q, c) =>
      s"SELECT table_name, column_name, '$q' AS quantile, ref_$c AS ref_value, curr_$c AS curr_value FROM piv"
    }.mkString(" UNION ALL ")
    s"WITH sides AS ($sideStatsLongSql), piv AS ($pivotSidesSql), longq AS ($un) " +
      "SELECT table_name, column_name, quantile, ROUND(ref_value, 6) AS ref_value, " +
      "ROUND(curr_value, 6) AS curr_value, ROUND(ABS(curr_value - ref_value), 6) AS abs_diff, " +
      "ROUND(CASE WHEN ref_value <> 0 THEN ABS((curr_value - ref_value) / ref_value) " +
      "WHEN curr_value <> 0 THEN ABS(curr_value - ref_value) / GREATEST(ABS(curr_value), 1e-10) " +
      "ELSE 0.0 END, 6) AS rel_diff " +
      "FROM longq ORDER BY table_name, column_name, quantile"
  }

  // ------------------------------------------------- O21 shape drift

  private val shapeFinal: Seq[String] = Seq(
    "table_name", "column_name",
    "ROUND(ref_skew, 6) AS ref_skewness", "ROUND(curr_skew, 6) AS curr_skewness",
    "ROUND(ABS(curr_skew - ref_skew), 6) AS skew_diff",
    "ROUND(ref_kurt, 6) AS ref_kurtosis", "ROUND(curr_kurt, 6) AS curr_kurtosis",
    "ROUND(ABS(curr_kurt - ref_kurt), 6) AS kurt_diff",
    "CASE WHEN ABS(curr_skew - ref_skew) > 0.5 THEN " +
      "(CASE WHEN curr_skew > ref_skew THEN 'more_right_skewed' ELSE 'more_left_skewed' END) " +
      "ELSE 'none' END AS skew_change",
    "CASE WHEN ABS(curr_kurt - ref_kurt) > 1.0 THEN " +
      "(CASE WHEN curr_kurt > ref_kurt THEN 'more_outliers' ELSE 'fewer_outliers' END) " +
      "ELSE 'none' END AS kurt_change")

  /** Skewness/kurtosis drift (/root/reference/distribution_analyzer.py:153-227).
    * Spark's built-in `skewness`/`kurtosis` are population (biased) moments;
    * the oracle computes the identical definition via two-pass central
    * moments (DuckDB's built-ins use the sample-corrected formulas, which
    * would NOT match). */
  def shapes(spark: SparkSession, dir: String): DataFrame = {
    val per = S.numeric.map { sp =>
      val aggs = sp.cols.flatMap { c =>
        Seq(skewness(col(c)).as(s"${c}__skew"), kurtosis(col(c)).as(s"${c}__kurt"))
      }
      val rows = sp.cols.map(c => s"'${sp.tableName}', '$c', ${c}__skew, ${c}__kurt").mkString(", ")
      withSide(table(spark, dir, sp.tableName), sp.ref)
        .groupBy(col("side")).agg(aggs.head, aggs.tail: _*)
        .select(col("side"), expr(s"stack(${sp.cols.size}, $rows) as (table_name, column_name, skew, kurt)"))
    }
    val long = per.reduce(_ unionAll _)
    pivotShapes(long)
      .selectExpr(shapeFinal: _*)
      .orderBy("table_name", "column_name")
  }

  private def pivotShapes(long: DataFrame): DataFrame =
    long.groupBy("table_name", "column_name").agg(
      max(when(col("side") === "ref", col("skew"))).as("ref_skew"),
      max(when(col("side") === "ref", col("kurt"))).as("ref_kurt"),
      max(when(col("side") === "curr", col("skew"))).as("curr_skew"),
      max(when(col("side") === "curr", col("kurt"))).as("curr_kurt"))

  def shapesSql: String = {
    val moments = S.numeric.flatMap { sp =>
      sp.cols.map { c =>
        s"SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
          s"'${sp.tableName}' AS table_name, '$c' AS column_name, " +
          s"AVG(POW($c - mu, 2)) AS m2, AVG(POW($c - mu, 3)) AS m3, AVG(POW($c - mu, 4)) AS m4 " +
          s"FROM ${sp.tableName}, (SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS mside, " +
          s"AVG($c) AS mu FROM ${sp.tableName} GROUP BY 1) m " +
          s"WHERE (CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END) = m.mside GROUP BY 1, 2, 3"
      }
    }.mkString(" UNION ALL ")
    s"WITH moments AS ($moments), " +
      "sk AS (SELECT side, table_name, column_name, m3 / POW(m2, 1.5) AS skew, " +
      "m4 / (m2 * m2) - 3 AS kurt FROM moments), " +
      "piv AS (SELECT table_name, column_name, " +
      "MAX(CASE WHEN side = 'ref' THEN skew END) AS ref_skew, " +
      "MAX(CASE WHEN side = 'ref' THEN kurt END) AS ref_kurt, " +
      "MAX(CASE WHEN side = 'curr' THEN skew END) AS curr_skew, " +
      "MAX(CASE WHEN side = 'curr' THEN kurt END) AS curr_kurt FROM sk GROUP BY 1, 2) " +
      s"SELECT ${shapeFinal.mkString(", ")} FROM piv ORDER BY table_name, column_name"
  }

  // ----------------------------------------------------- O24 histogram

  private val histCols: Seq[(String, String, Column, String)] = Seq(
    ("lineitem", "l_extendedprice", S.lineitemRef, S.lineitemRefSql),
    ("orders", "o_totalprice", S.ordersRef, S.ordersRefSql))

  /** 10-bin histogram per snapshot side. Replaces the reference's RDD
    * `histogram(10)` escape hatch (/root/reference/distribution_analyzer.py:
    * 440-449) with SQL binning over global min/max — bins identical across
    * sides, whole plan stays in Tungsten codegen. */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val per = histCols.map { case (t, c, ref, _) =>
      val df = withSide(table(spark, dir, t), ref)
      val bounds = table(spark, dir, t).agg(
        min(col(c)).cast("double").as("lo"), max(col(c)).cast("double").as("hi"))
      df.select(col("side"), col(c).cast("double").as("x"))
        .crossJoin(broadcast(bounds))
        .select(col("side"), col("x"), col("lo"),
          ((col("hi") - col("lo")) / 10.0).as("w"))
        .where(col("x").isNotNull)
        // w=0 (constant column) → bin 0 in BOTH engines: Spark's x/0 is
        // NaN→null while DuckDB's FLOOR(inf) clamps to 9 via LEAST
        .select(col("side"),
          when(col("w") === 0.0, lit(0))
            .otherwise(least(floor((col("x") - col("lo")) / col("w")), lit(9))).cast("int").as("bin"),
          col("lo"), col("w"))
        .groupBy("bin")
        .agg(first("lo").as("lo"), first("w").as("w"),
          sum(when(col("side") === "ref", 1L).otherwise(0L)).as("ref_cnt"),
          sum(when(col("side") === "curr", 1L).otherwise(0L)).as("curr_cnt"))
        .select(lit(t).as("table_name"), lit(c).as("column_name"), col("bin"),
          r6(col("lo") + col("bin") * col("w")).as("bin_lo"),
          r6(col("lo") + (col("bin") + 1) * col("w")).as("bin_hi"),
          col("ref_cnt"), col("curr_cnt"))
    }
    per.reduce(_ unionAll _).orderBy("table_name", "column_name", "bin")
  }

  /** Generic O24 10-bin histogram for an arbitrary snapshot pair (the nested
    * report's distribution summaries,
    * /root/reference/distribution_analyzer.py:429-481): one counting scan
    * per column, bounds broadcast, full 0..9 bin spine emitted (zero-count
    * bins included, matching the reference's RDD `histogram(10)` which also
    * emits empty bins).
    *
    * Deviation: the reference bins each side independently with that side's
    * own min/max (`distribution_analyzer.py:440-449`), so its ref/curr bin
    * edges disagree whenever the ranges differ and the two histograms are
    * not directly comparable. Here both sides share edges from the combined
    * min/max — bin k means the same value range on both sides, which is
    * what a drift comparison needs. Outputs differ from the reference
    * whenever ref/curr ranges differ. */
  def histogramForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame = {
    val tagged = tagPair(ref, curr, cols)
    val per = cols.map { c =>
      val bounds = tagged.agg(
        min(col(c)).cast("double").as("lo"), max(col(c)).cast("double").as("hi"))
      val counts = tagged.select(col("side"), col(c).cast("double").as("x"))
        .crossJoin(broadcast(bounds))
        .select(col("side"), col("x"), col("lo"),
          ((col("hi") - col("lo")) / 10.0).as("w"))
        .where(col("x").isNotNull)
        .select(col("side"),
          when(col("w") === 0.0, lit(0))
            .otherwise(least(floor((col("x") - col("lo")) / col("w")), lit(9))).cast("int").as("bin"))
        .groupBy("bin")
        .agg(
          sum(when(col("side") === "ref", 1L).otherwise(0L)).as("ref_cnt"),
          sum(when(col("side") === "curr", 1L).otherwise(0L)).as("curr_cnt"))
      // all-10-bins spine (empty on an all-null column, like the RDD path)
      val spine = bounds.where(col("lo").isNotNull)
        .select(explode(sequence(lit(0), lit(9))).as("bin"),
          col("lo"), ((col("hi") - col("lo")) / 10.0).as("w"))
      spine.join(counts, Seq("bin"), "left")
        .select(lit(label).as("table_name"), lit(c).as("column_name"), col("bin"),
          r6(col("lo") + col("bin") * col("w")).as("bin_lo"),
          r6(col("lo") + (col("bin") + 1) * col("w")).as("bin_hi"),
          coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
          coalesce(col("curr_cnt"), lit(0L)).as("curr_cnt"))
    }
    per.reduce(_ unionAll _).orderBy("table_name", "column_name", "bin")
  }

  def histogramSql: String =
    histCols.map { case (t, c, _, refSql) =>
      val bin = s"CASE WHEN b.w = 0 THEN 0 ELSE LEAST(FLOOR(($c - b.lo) / b.w), 9) END"
      s"SELECT '$t' AS table_name, '$c' AS column_name, " +
        s"($bin)::INT AS bin, " +
        s"ROUND(b.lo + ($bin) * b.w, 6) AS bin_lo, " +
        s"ROUND(b.lo + (($bin) + 1) * b.w, 6) AS bin_hi, " +
        s"SUM(CASE WHEN $refSql THEN 1 ELSE 0 END)::BIGINT AS ref_cnt, " +
        s"SUM(CASE WHEN $refSql THEN 0 ELSE 1 END)::BIGINT AS curr_cnt " +
        s"FROM $t, (SELECT MIN($c)::DOUBLE AS lo, (MAX($c)::DOUBLE - MIN($c)::DOUBLE) / 10.0 AS w FROM $t) b " +
        s"WHERE $c IS NOT NULL GROUP BY 1, 2, 3, 4, 5"
    }.mkString("", " UNION ALL ", " ORDER BY table_name, column_name, bin")

  // ----------------------------------------------------- O36 z-outliers

  /** Z-score outlier drift: current frame judged by REFERENCE mean/std
    * (/root/reference/rare_event_analyzer.py:115-185). Deviation: rows are
    * always emitted with a `significant` flag (the reference silently drops
    * insignificant columns). */
  def zOutliers(spark: SparkSession, dir: String): DataFrame = {
    val per = S.numeric.map { sp =>
      zOutliersLong(withSide(table(spark, dir, sp.tableName), sp.ref), sp.tableName, sp.cols)
    }
    val long = per.reduce(_ unionAll _)
    pivotZ(long).selectExpr(zFinal: _*).orderBy("table_name", "column_name")
  }

  /** All columns' z-outlier counts in TWO jobs per table: one agg for every
    * column's reference mean/std (a 1-row broadcast), one counting pass with
    * a conditional sum per column — instead of a scan pair per column. */
  private def zOutliersLong(tagged: DataFrame, tableName: String, cols: Seq[String]): DataFrame = {
    val statAggs = cols.flatMap { c =>
      Seq(avg(col(c)).as(s"${c}__mean"), stddev(col(c)).as(s"${c}__std"))
    }
    val refStats = tagged.filter(col("side") === "ref").agg(statAggs.head, statAggs.tail: _*)
    val cntAggs = count(lit(1)).as("n") +: cols.map { c =>
      // NULLIF-style std guard: constant column (std = 0) must yield zero
      // outliers in BOTH engines — Spark ANSI would throw DIVIDE_BY_ZERO,
      // DuckDB would return inf and count everything
      val safeStd = when(col(s"${c}__std") === 0.0, lit(null)).otherwise(col(s"${c}__std"))
      sum(when(abs((col(c).cast("double") - col(s"${c}__mean")) / safeStd) > 3.0, 1L)
        .otherwise(0L)).as(s"${c}__out")
    }
    val rows = cols.map(c => s"'$tableName', '$c', n, ${c}__out").mkString(", ")
    tagged.crossJoin(broadcast(refStats))
      .groupBy("side").agg(cntAggs.head, cntAggs.tail: _*)
      .select(col("side"), expr(s"stack(${cols.size}, $rows) as (table_name, column_name, n, n_out)"))
      .select(col("table_name"), col("column_name"), col("side"), col("n"), col("n_out"))
  }

  private def pivotZ(long: DataFrame): DataFrame =
    long.groupBy("table_name", "column_name").agg(
      max(when(col("side") === "ref", col("n"))).as("ref_n"),
      max(when(col("side") === "ref", col("n_out"))).as("ref_out"),
      max(when(col("side") === "curr", col("n"))).as("curr_n"),
      max(when(col("side") === "curr", col("n_out"))).as("curr_out"))

  private val zFinal: Seq[String] = {
    val refRatio = "ref_out * 1e0 / ref_n"
    val currRatio = "curr_out * 1e0 / curr_n"
    val rel = s"CASE WHEN $refRatio > 0 THEN ($currRatio - $refRatio) / $refRatio " +
      s"WHEN $currRatio > 0 THEN 1.0 ELSE 0.0 END"
    Seq("table_name", "column_name",
      "ref_out AS ref_outlier_count", "curr_out AS curr_outlier_count",
      s"ROUND($refRatio, 6) AS ref_outlier_ratio", s"ROUND($currRatio, 6) AS curr_outlier_ratio",
      s"ROUND($rel, 6) AS rel_change",
      s"(ABS($rel) >= 0.3 OR ABS($currRatio - $refRatio) >= 0.01) AS significant",
      s"CASE WHEN ABS($rel) >= 1.0 OR ABS($currRatio - $refRatio) >= 0.05 THEN 'high' ELSE 'medium' END AS severity")
  }

  def zOutliersSql: String = {
    val un = S.numeric.flatMap { sp =>
      sp.cols.map { c =>
        s"SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
          s"'${sp.tableName}' AS table_name, '$c' AS column_name, COUNT(*) AS n, " +
          s"SUM(CASE WHEN ABS(($c - m.ref_mean) / NULLIF(m.ref_std, 0)) > 3.0 THEN 1 ELSE 0 END)::BIGINT AS n_out " +
          s"FROM ${sp.tableName}, (SELECT AVG($c) AS ref_mean, STDDEV($c) AS ref_std " +
          s"FROM ${sp.tableName} WHERE ${sp.refSql}) m GROUP BY 1, 2, 3"
      }
    }.mkString(" UNION ALL ")
    s"WITH long AS ($un), piv AS (SELECT table_name, column_name, " +
      "MAX(CASE WHEN side = 'ref' THEN n END) AS ref_n, " +
      "MAX(CASE WHEN side = 'ref' THEN n_out END) AS ref_out, " +
      "MAX(CASE WHEN side = 'curr' THEN n END) AS curr_n, " +
      "MAX(CASE WHEN side = 'curr' THEN n_out END) AS curr_out FROM long GROUP BY 1, 2) " +
      s"SELECT ${zFinal.mkString(", ")} FROM piv ORDER BY table_name, column_name"
  }

  // ----------------------------------------------------------------- API

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "numeric_stats" -> ((s, d) => stats(s, d)),
    "numeric_drift" -> ((s, d) => drift(s, d)),
    "metric_audit" -> ((s, d) => metricAudit(s, d)),
    "numeric_drift_score" -> ((s, d) => driftScore(s, d)),
    "quantile_shifts" -> ((s, d) => quantileShifts(s, d)),
    "dist_shapes" -> ((s, d) => shapes(s, d)),
    "histogram" -> ((s, d) => histogram(s, d)),
    "z_outliers" -> ((s, d) => zOutliers(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "numeric_stats" -> statsSql,
    "numeric_drift" -> driftSql,
    "metric_audit" -> metricAuditSql,
    "numeric_drift_score" -> driftScoreSql,
    "quantile_shifts" -> quantileShiftsSql,
    "dist_shapes" -> shapesSql,
    "histogram" -> histogramSql,
    "z_outliers" -> zOutliersSql,
  )
}
