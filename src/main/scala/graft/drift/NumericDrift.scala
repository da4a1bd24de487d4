package graft.drift

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{splits => S}

/** Numeric column statistics + drift (reference operators O11–O14, O20, O21,
  * O24, O36 — SURVEY.md §2.b; semantics from
  * /root/reference/numerical_analyzer.py, distribution_analyzer.py,
  * rare_event_analyzer.py).
  *
  * Scale design: every family reads one shape, the column rows of a
  * side-tagged frame ([[columnRows]] of its [[sideProfile]]): one row per
  * column with `column_name` and both sides' statistics as
  * `ref_<stat>`/`curr_<stat>` (counts, moments, min/max and exact
  * percentiles). The profile is one `groupBy("side")` aggregate over a
  * single scan (the reference runs ~5 Spark jobs per column per frame,
  * numerical_analyzer.py:124-143); [[columnRows]] holds the one pivot of
  * its sides, so no reader pivots them. Each
  * family is one private `…Of(rows)` over those rows; the gate
  * queries apply it to the rows of `withSide(table, split.ref)` for each
  * table split and union the results, stacking only the statistics the
  * family reads so column pruning drops the rest of the aggregate; the pair
  * functions apply it to [[pairProfile]]; `DriftDetector.detectDrift`
  * collects the pair's rows once and applies every family to them. The two
  * families that count rows against constants, z-outliers and histograms,
  * make one row pass against the rows [[widened]] into one broadcast row.
  * So a family's job count does not grow with the column count, and at
  * 100 TB a family costs one scan (two where it needs constants first) and
  * a shuffle of partial aggregates. The `<c>__<stat>` field names of the
  * profile and of [[widened]] rows are private to this object.
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

  /** Each table's [[profileOf]] row. Exact percentiles, so DuckDB's
    * `quantile_cont` reproduces values bit-for-bit; sketch mode swaps in the
    * mergeable sketch at scale. */
  def stats(spark: SparkSession, dir: String): DataFrame =
    statsTables.map { case (t, cols) => profileOf(table(spark, dir, t), cols, t) }
      .reduce(_ unionAll _)
      .selectExpr(
        "table_name", "column_name",
        "n_total", "n_total - n_nonnull AS n_null",
        "round(mean, 6) AS mean", "round(std, 6) AS std",
        "round(vmin, 6) AS vmin", "round(vmax, 6) AS vmax",
        "round(p25, 6) AS p25", "round(p50, 6) AS p50", "round(p75, 6) AS p75")
      .orderBy("table_name", "column_name")

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

  // ------------------------------------------------------ numeric profile

  /** The profile's exact percentiles: (level, statistic name). */
  private val shiftQs = Seq("0.01" -> "p01", "0.05" -> "p05", "0.25" -> "p25",
    "0.5" -> "p50", "0.75" -> "p75", "0.95" -> "p95", "0.99" -> "p99")

  /** The statistics the O11/O12 consumers read. */
  private val sideStatCols = Seq("n_total", "n_nonnull", "mean", "std", "vmin", "vmax") ++
    shiftQs.map(_._2)

  /** The statistics of shapes, of bin edges and of the z-outlier pass. */
  private val shapeStats = Seq("skew", "kurt")
  private[drift] val edgeStats = Seq("vmin", "vmax")
  private val zStats = Seq("mean", "std")

  /** Every statistic of the profile. */
  private val profileStats = sideStatCols ++ shapeStats

  /** The name `<c>__<name>` of a field of a profile or a [[widened]] row;
    * these names are private to this object. */
  private def fieldName(c: String, name: String): String = s"${c}__$name"

  /** [[fieldName]] as SQL text: how the constant passes of this object and
    * of DistanceDrift read a [[widened]] row. */
  private[drift] def field(c: String, name: String): String = sqlIdent(fieldName(c, name))

  /** Column `c`'s profile aggregates, named `<c>__<stat>`; every one but the
    * counts a DOUBLE. Exact `percentile` so DuckDB can reproduce values;
    * sketch mode (graft.plans.SketchModeRewrite) swaps in
    * `percentile_approx` — the reference's own choice
    * (numerical_analyzer.py:306-307) — at [[SketchAccuracy]].
    * `skewness`/`kurtosis` are population moments. */
  private def profileAggs(c: String): Seq[Column] = {
    val x = col(sqlIdent(c))
    Seq(
      count(lit(1)).as(fieldName(c, "n_total")),
      count(x).as(fieldName(c, "n_nonnull")),
      avg(x).cast("double").as(fieldName(c, "mean")),
      stddev(x).as(fieldName(c, "std")),
      min(x).cast("double").as(fieldName(c, "vmin")),
      max(x).cast("double").as(fieldName(c, "vmax")),
      expr(s"percentile(CAST(${sqlIdent(c)} AS DOUBLE), array(${shiftQs.map(_._1).mkString(", ")}))")
        .cast("array<double>").as(fieldName(c, "pct")),
      skewness(x).as(fieldName(c, "skew")),
      kurtosis(x).as(fieldName(c, "kurt")))
  }

  /** The numeric profile of a side-tagged frame: one row per side present,
    * `side` and every column's `<c>__<stat>` fields, from one
    * `groupBy("side")` over one scan. */
  private[drift] def sideProfile(tagged: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(profileAggs)
    tagged.groupBy(col("side")).agg(aggs.head, aggs.tail: _*)
  }

  /** `stats` of a profile, one row per column and side: the profile's `side`
    * (when it has one), `table_name` (`label`), `column_name` and `stats`. */
  private def stacked(profile: DataFrame, label: String, cols: Seq[String],
      stats: Seq[String]): DataFrame = {
    val rows = cols.map(c => (Seq(sqlStr(label), sqlStr(c)) ++ stats.map(s =>
      shiftQs.indexWhere(_._2 == s) match {
        case -1 => field(c, s)
        case i => s"${field(c, "pct")}[$i]"
      })).mkString(", "))
    profile.select(profile.columns.filter(_ == "side").map(col) :+
      expr(s"stack(${cols.size}, ${rows.mkString(", ")}) AS " +
        s"(table_name, column_name, ${stats.mkString(", ")})"): _*)
  }

  /** The one shaping step of a profile: one row per column of `cols`, with
    * `table_name` (`label`), `column_name` and `ref_<stat>`/`curr_<stat>`
    * for `n_total` and each of `stats` — the stacked per-side rows pivoted
    * by conditional aggregation, not a ref/curr self-join, which would plan
    * the profile twice. Only those fields are referenced, so column pruning
    * drops every other aggregate. A profile has at most one row per side, so
    * the pivot runs in one partition and plans no exchange of its own. A
    * column one side lacks keeps its row, NULL on that side; a profile of no
    * rows has no row. */
  private[drift] def columnRows(profile: DataFrame, label: String, cols: Seq[String],
      stats: Seq[String]): DataFrame = {
    val all = ("n_total" +: stats).distinct
    val aggs = all.flatMap(s => Seq("ref", "curr").map(side =>
      max(when(col("side") === side, col(s))).as(s"${side}_$s")))
    stacked(profile.coalesce(1), label, cols, all)
      .groupBy("table_name", "column_name").agg(aggs.head, aggs.tail: _*)
  }

  /** [[columnRows]] of a side-tagged frame's [[sideProfile]]. */
  private[drift] def rowsOf(tagged: DataFrame, label: String, cols: Seq[String],
      stats: Seq[String]): DataFrame =
    columnRows(sideProfile(tagged, cols), label, cols, stats)

  /** The column rows of a snapshot pair, through `tagPair`; with every
    * statistic, the frame `DriftDetector.detectDrift` collects once. */
  private[graft] def pairProfile(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      stats: Seq[String] = profileStats, label: String = "pair"): DataFrame =
    rowsOf(tagPair(ref, curr, cols), label, cols, stats)

  /** The rows of the columns both sides have. */
  private def pairedRows(rows: DataFrame): DataFrame =
    rows.where(col("ref_n_total").isNotNull && col("curr_n_total").isNotNull)

  /** The statistics `stats` of every column row as ONE wide row with fields
    * `<c>__<stat>` ([[field]]): the constants a row pass broadcasts. */
  private[drift] def widened(rows: DataFrame, cols: Seq[String], stats: Seq[String]): DataFrame = {
    val aggs = for (c <- cols; s <- stats)
      yield max(when(col("column_name") === c, col(s))).as(fieldName(c, s))
    rows.agg(aggs.head, aggs.tail: _*)
  }

  /** A row pass over a tagged frame against one broadcast row of
    * `constants`: per side and column, the rows (`n_total`) and the sum of
    * each indicator `counts(c)` names, as [[columnRows]]. */
  private def countedRows(tagged: DataFrame, constants: DataFrame, label: String, cols: Seq[String])(
      counts: String => Seq[(String, Column)]): DataFrame = {
    val aggs = for (c <- cols; (n, one) <- ("n_total" -> lit(1L)) +: counts(c))
      yield sum(one).as(fieldName(c, n))
    val perSide = tagged.crossJoin(broadcast(constants)).groupBy(col("side")).agg(aggs.head, aggs.tail: _*)
    columnRows(perSide, label, cols, counts(cols.head).map(_._1))
  }

  /** Each column's bin edges shared by both sides, one row per column:
    * `lo` is the minimum over both sides and `w` the cell width
    * (max − min) / bins. NULL for a column without a non-null value. */
  private[drift] def edgeRows(rows: DataFrame, bins: Int): DataFrame = {
    val lo = least(col("ref_vmin"), col("curr_vmin"))
    rows.select(col("column_name"), lo.as("lo"),
      ((greatest(col("ref_vmax"), col("curr_vmax")) - lo) / bins).as("w"))
  }

  // ------------------------------------------- profile-once, diff-many

  /** Per-snapshot numeric profile — the persistable artifact of the
    * whylogs/Deequ-style workflow: at 100 TB each snapshot is scanned
    * ONCE on arrival (under sketch mode every stat is a fixed-size
    * mergeable sketch) and every later drift comparison runs
    * profile-vs-profile on KB-sized frames, never rescanning raw data.
    * One row per column: (table_name, column_name, the O11/O12 statistics)
    * ([[driftFromProfiles]] is spec-pinned equal to [[driftForPair]],
    * including through a parquet round-trip). One global aggregate, so an
    * empty snapshot still has one `n_total = 0` row per column. */
  def profileOf(df: DataFrame, cols: Seq[String], label: String = "snapshot"): DataFrame = {
    val aggs = cols.flatMap(profileAggs)
    stacked(df.select(cols.map(col): _*).agg(aggs.head, aggs.tail: _*), label, cols, sideStatCols)
  }

  def writeProfile(profile: DataFrame, path: String): Unit =
    profile.coalesce(1).write.mode("overwrite").parquet(path)

  def readProfile(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** O12 drift metrics from two precomputed [[profileOf]] frames. The
    * profiles must carry the same `label` (table_name and column_name key
    * the join — a column present in only one profile is dropped, the same
    * schema-drift rule [[pairedRows]] applies to live pairs). A column
    * without rows on one side (an empty snapshot's `n_total = 0` row) is
    * dropped too, as [[driftForPair]] drops it when a side has no rows. */
  def driftFromProfiles(refProfile: DataFrame, currProfile: DataFrame): DataFrame = {
    def side(profile: DataFrame, s: String) = profile.filter(col("n_total") > 0).select(
      col("table_name") +: col("column_name") +: sideStatCols.map(c => col(c).as(s"${s}_$c")): _*)
    driftStages(side(refProfile, "ref")
        .join(side(currProfile, "curr"), Seq("table_name", "column_name")))
      .orderBy("table_name", "column_name")
  }

  /** SQL mirror of the column statistics over every numeric split, one row
    * per (side, column) (a UNION ALL CTE body named `sides`). */
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

  /** SQL mirror of [[pairedRows]] over [[columnRows]] given CTE `sides`. */
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

  /** The first two stages over paired rows: per-column values and
    * differences. */
  private def diffsOf(paired: DataFrame): DataFrame =
    paired.selectExpr(driftStage1: _*).selectExpr(driftStage2: _*)

  /** O11/O12 drift metrics of paired rows: the three shared-text stages. */
  private def driftStages(paired: DataFrame): DataFrame =
    diffsOf(paired).selectExpr(driftStage3: _*)

  private def driftOf(rows: DataFrame): DataFrame = driftStages(pairedRows(rows))

  /** `of` applied to the column rows, with statistics `stats`, of each
    * numeric table split. */
  private def overSplitRows(spark: SparkSession, dir: String, stats: Seq[String])(
      of: DataFrame => DataFrame): DataFrame =
    overNumericSplits(spark, dir)((tagged, label, cols) => of(rowsOf(tagged, label, cols, stats)))

  def drift(spark: SparkSession, dir: String): DataFrame =
    overSplitRows(spark, dir, sideStatCols)(driftOf).orderBy("table_name", "column_name")

  /** Generic O11/O12 drift metrics for an arbitrary snapshot pair. */
  def driftForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    driftOfPair(pairProfile(ref, curr, cols, sideStatCols, label))

  /** [[driftForPair]] of a pair's [[pairProfile]] rows. */
  private[graft] def driftOfPair(rows: DataFrame): DataFrame = driftOf(rows).orderBy("column_name")

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
    diffsOf(overSplitRows(spark, dir, sideStatCols)(pairedRows))
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

  /** Outlier/extreme counts against reference IQR bounds (O14) for every
    * column of a tagged frame, as column rows (`ref_n_out`, `ref_n_ext`,
    * `curr_n_out`, `curr_n_ext`) from one counting pass. */
  private def outlierCounts(tagged: DataFrame, rows: DataFrame, label: String,
      cols: Seq[String]): DataFrame =
    countedRows(tagged, widened(rows, cols, Seq("ref_p25", "ref_p75")), label, cols) { c =>
      val (q1, q3) = (field(c, "ref_p25"), field(c, "ref_p75"))
      def outside(mult: Double) = expr(s"CASE WHEN $c IS NOT NULL AND ($c < $q1 - ($q3 - $q1) * $mult " +
        s"OR $c > $q3 + ($q3 - $q1) * $mult) THEN 1 ELSE 0 END").cast("long")
      Seq("n_out" -> outside(1.5), "n_ext" -> outside(3.0))
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
  private[drift] def driftScoreFrame(spark: SparkSession, dir: String): DataFrame =
    overNumericSplits(spark, dir)(scoreOf)

  /** O13/O14 score of every column of a tagged frame. The column rows feed
    * both the scored rows and the outlier bounds, and stay uncached: the
    * shared subtree dedupes at its exchange (ReusedExchange), so only the
    * one-row final aggregate runs per consumer, where a cache registered
    * cold would be filled by each of the plan's concurrent broadcast
    * consumers at once. */
  private def scoreOf(tagged: DataFrame, label: String, cols: Seq[String]): DataFrame = {
    val rows = rowsOf(tagged, label, cols, sideStatCols)
    val outs = outlierCounts(tagged, rows, label, cols).select("column_name", "ref_n_out",
      "ref_n_ext", "curr_n_out", "curr_n_ext")
    scoreStages(pairedRows(rows).join(outs, Seq("column_name")))
  }

  private def scoreStages(joined: DataFrame): DataFrame =
    joined.selectExpr(scoreStage: _*).selectExpr(scoreFinal: _*)

  /** Generic O13 drift score for an arbitrary snapshot pair, without the O14
    * outlier components. */
  def scoreForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    scoreStages(pairedRows(pairProfile(ref, curr, cols, sideStatCols, label)).select(col("*") +:
        Seq("ref_n_out", "ref_n_ext", "curr_n_out", "curr_n_ext").map(lit(null).cast("long").as(_)): _*))
      .orderBy("column_name")

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

  /** Per-quantile shifts with the distribution-analyzer zero rule
    * (/root/reference/distribution_analyzer.py:83-151). */
  def quantileShifts(spark: SparkSession, dir: String): DataFrame =
    overSplitRows(spark, dir, shiftQs.map(_._2))(quantileShiftsOf)
      .orderBy("table_name", "column_name", "quantile")

  /** Generic O20 quantile shifts for an arbitrary snapshot pair. */
  def quantileShiftsForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    quantileShiftsOfPair(pairProfile(ref, curr, cols, shiftQs.map(_._2), label))

  /** [[quantileShiftsForPair]] of a pair's [[pairProfile]] rows. */
  private[graft] def quantileShiftsOfPair(rows: DataFrame): DataFrame =
    quantileShiftsOf(rows).orderBy("column_name", "quantile")

  private def quantileShiftsOf(rows: DataFrame): DataFrame = {
    val stacked = shiftQs.map { case (q, c) => s"'$q', ref_$c, curr_$c" }.mkString(", ")
    pairedRows(rows)
      .select(col("table_name"), col("column_name"),
        expr(s"stack(${shiftQs.size}, $stacked) as (quantile, ref_value, curr_value)"))
      .selectExpr("table_name", "column_name", "quantile",
        "ROUND(ref_value, 6) AS ref_value", "ROUND(curr_value, 6) AS curr_value",
        "ROUND(ABS(curr_value - ref_value), 6) AS abs_diff",
        "ROUND(CASE WHEN ref_value <> 0 THEN ABS((curr_value - ref_value) / ref_value) " +
          "WHEN curr_value <> 0 THEN ABS(curr_value - ref_value) / GREATEST(ABS(curr_value), 1e-10) " +
          "ELSE 0.0 END, 6) AS rel_diff")
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
  def shapes(spark: SparkSession, dir: String): DataFrame =
    overSplitRows(spark, dir, shapeStats)(shapesOf).orderBy("table_name", "column_name")

  /** Generic O21 shape drift for an arbitrary snapshot pair. */
  def shapesForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    shapesOfPair(pairProfile(ref, curr, cols, shapeStats, label))

  /** [[shapesForPair]] of a pair's [[pairProfile]] rows. */
  private[graft] def shapesOfPair(rows: DataFrame): DataFrame =
    shapesOf(rows).orderBy("column_name")

  /** Every column row, a column one side lacks included (its fields on that
    * side are NULL). */
  private def shapesOf(rows: DataFrame): DataFrame = rows.selectExpr(shapeFinal: _*)

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

  /** The histogram gate's columns: one per split table. */
  private[graft] val histSplits: Seq[S.NumSplit] = Seq(
    S.numeric.head.copy(cols = Seq("l_extendedprice")),
    S.numeric.find(_.tableName == "orders").get)

  /** 10-bin histogram per snapshot side, non-empty bins only. Replaces the
    * reference's RDD `histogram(10)` escape hatch
    * (/root/reference/distribution_analyzer.py:440-449) with SQL binning
    * over the whole table's min/max — bins identical across sides, whole
    * plan stays in Tungsten codegen. */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    histSplits.map { sp =>
      val tagged = withSide(table(spark, dir, sp.tableName), sp.ref)
      histogramOf(tagged, rowsOf(tagged, sp.tableName, sp.cols, edgeStats), sp.tableName, sp.cols)
    }.reduce(_ unionAll _)
      .filter(col("ref_cnt") + col("curr_cnt") > 0)
      .orderBy("table_name", "column_name", "bin")

  /** Generic O24 10-bin histogram for an arbitrary snapshot pair (the nested
    * report's distribution summaries,
    * /root/reference/distribution_analyzer.py:429-481), with the full 0..9
    * bin spine (zero-count bins included, matching the reference's RDD
    * `histogram(10)` which also emits empty bins).
    *
    * Deviation: the reference bins each side independently with that side's
    * own min/max (`distribution_analyzer.py:440-449`), so its ref/curr bin
    * edges disagree whenever the ranges differ and the two histograms are
    * not directly comparable. Here both sides share edges from the combined
    * min/max — bin k means the same value range on both sides, which is
    * what a drift comparison needs. Outputs differ from the reference
    * whenever ref/curr ranges differ. */
  def histogramForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    histogramOfPair(tagPair(ref, curr, cols), pairProfile(ref, curr, cols, edgeStats, label),
      cols, label)

  /** [[histogramForPair]] of a tagged pair and its [[pairProfile]] rows. */
  private[drift] def histogramOfPair(tagged: DataFrame, rows: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    histogramOf(tagged, rows, label, cols).orderBy("table_name", "column_name", "bin")

  /** Every column's histogram in one stacked pass: the bin edges shared by
    * both sides ([[edgeRows]] of the column rows, broadcast as one wide
    * row), one groupBy(column_name, bin), and a join onto the 0..9 spine of
    * each column with a non-null value. A constant column (w = 0) falls
    * wholly in bin 0 in both engines. */
  private def histogramOf(tagged: DataFrame, rows: DataFrame, label: String,
      cols: Seq[String]): DataFrame = {
    val counts = DistanceDrift.binnedCells(tagged, rows, cols, 10)
      .groupBy("column_name", "bin").agg(
        sum(when(col("side") === "ref", 1L).otherwise(0L)).as("ref_cnt"),
        sum(when(col("side") === "curr", 1L).otherwise(0L)).as("curr_cnt"))
    val spine = edgeRows(rows, 10).where(col("lo").isNotNull)
      .select(col("column_name"), explode(sequence(lit(0), lit(9))).as("bin"), col("lo"), col("w"))
    spine.join(counts, Seq("column_name", "bin"), "left")
      .select(lit(label).as("table_name"), col("column_name"), col("bin"),
        r6(col("lo") + col("bin") * col("w")).as("bin_lo"),
        r6(col("lo") + (col("bin") + 1) * col("w")).as("bin_hi"),
        coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
        coalesce(col("curr_cnt"), lit(0L)).as("curr_cnt"))
  }

  def histogramSql: String =
    (for (sp <- histSplits; c <- sp.cols) yield {
      val (t, refSql) = (sp.tableName, sp.refSql)
      val bin = s"CASE WHEN b.w = 0 THEN 0 ELSE LEAST(FLOOR(($c - b.lo) / b.w), 9) END"
      s"SELECT '$t' AS table_name, '$c' AS column_name, " +
        s"($bin)::INT AS bin, " +
        s"ROUND(b.lo + ($bin) * b.w, 6) AS bin_lo, " +
        s"ROUND(b.lo + (($bin) + 1) * b.w, 6) AS bin_hi, " +
        s"SUM(CASE WHEN $refSql THEN 1 ELSE 0 END)::BIGINT AS ref_cnt, " +
        s"SUM(CASE WHEN $refSql THEN 0 ELSE 1 END)::BIGINT AS curr_cnt " +
        s"FROM $t, (SELECT MIN($c)::DOUBLE AS lo, (MAX($c)::DOUBLE - MIN($c)::DOUBLE) / 10.0 AS w FROM $t) b " +
        s"WHERE $c IS NOT NULL GROUP BY 1, 2, 3, 4, 5"
    }).mkString("", " UNION ALL ", " ORDER BY table_name, column_name, bin")

  // ----------------------------------------------------- O36 z-outliers

  /** Z-score outlier drift: current frame judged by REFERENCE mean/std
    * (/root/reference/rare_event_analyzer.py:115-185). Deviation: rows are
    * always emitted with a `significant` flag (the reference silently drops
    * insignificant columns). */
  def zOutliers(spark: SparkSession, dir: String): DataFrame =
    overNumericSplits(spark, dir)((tagged, label, cols) =>
      zOutliersOf(tagged, rowsOf(tagged, label, cols, zStats), label, cols))
      .orderBy("table_name", "column_name")

  /** Generic O36 z-score outlier drift for an arbitrary snapshot pair. */
  def zOutliersForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    zOutliersOfPair(tagPair(ref, curr, cols), pairProfile(ref, curr, cols, zStats, label),
      cols, label)

  /** [[zOutliersForPair]] of a tagged pair and its [[pairProfile]] rows. */
  private[drift] def zOutliersOfPair(tagged: DataFrame, rows: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    zOutliersOf(tagged, rows, label, cols).orderBy("column_name")

  /** All columns' z-outlier counts in one counting pass, against every
    * column's reference mean/std (NULL when the reference side has no rows)
    * — instead of a scan pair per column. */
  private def zOutliersOf(tagged: DataFrame, rows: DataFrame, label: String,
      cols: Seq[String]): DataFrame =
    countedRows(tagged, widened(rows, cols, Seq("ref_mean", "ref_std")), label, cols) { c =>
      // NULLIF-style std guard: constant column (std = 0) must yield zero
      // outliers in BOTH engines — Spark ANSI would throw DIVIDE_BY_ZERO,
      // DuckDB would return inf and count everything
      val (mean, std) = (expr(field(c, "ref_mean")), expr(field(c, "ref_std")))
      val safeStd = when(std === 0.0, lit(null)).otherwise(std)
      Seq("out" -> when(abs((col(c).cast("double") - mean) / safeStd) > 3.0, 1L).otherwise(0L))
    }.select(col("table_name"), col("column_name"), col("ref_n_total").as("ref_n"),
        col("ref_out"), col("curr_n_total").as("curr_n"), col("curr_out"))
      .selectExpr(zFinal: _*)

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
