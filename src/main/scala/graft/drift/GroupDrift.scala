package graft.drift

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.drift.{splits => S}

/** Group (dimension-slice) drift — reference O32/O33/O34 (SURVEY.md §2.b;
  * semantics from /root/reference/group_analyzer.py).
  *
  * Scale design: the reference is the job-count explosion center — per
  * dimension it collects top-20 categories, then per category runs two
  * `filter(dim === cat)` frames and 3-6 jobs per metric column: O(dims ×
  * 20 × cols) Spark jobs (group_analyzer.py:64-102, 206-447). Here the
  * verdict stacks the rows once per dimension and aggregates every
  * (dimension, category) at once, and stacks the categorical metrics once
  * per (dimension, metric) pair for one value-count aggregate: a fixed
  * number of shuffles whatever the number of dimensions, categories or
  * metrics. At 100 TB that is the difference between ~hundreds of scans
  * and two.
  */
object GroupDrift extends graft.OperatorModule {

  case class GroupSpec(tableName: String, dim: String, numMetrics: Seq[String],
      catMetrics: Seq[String], ref: Column, refSql: String)

  val specs: Seq[GroupSpec] = Seq(
    GroupSpec("lineitem", "l_returnflag", Seq("l_extendedprice", "l_quantity"),
      Seq("l_linestatus"), S.lineitemRef, S.lineitemRefSql),
    GroupSpec("orders", "o_orderpriority", Seq("o_totalprice"),
      Seq("o_orderstatus"), S.ordersRef, S.ordersRefSql),
  )

  val MinGroupRows = 20 // group_analyzer.py:72
  val TopCategories = 20 // group_analyzer.py:58

  // ------------------------------------------------------ eligibility (O34)

  /** Eligibility (O34) as a rank window over aggregated rows that carry
    * (ref_n, curr_n): ≥20 rows on both sides, top 20 by combined count
    * (deterministic tie-break on category). A self-join would plan a second,
    * differently pruned scan that exchange reuse cannot merge. A category's
    * rows share a dense rank; a NULL category holds its slot but is dropped,
    * as the oracle's join on category drops it. Ranks run within each
    * group of the `by` columns. */
  private def keepEligible(rows: DataFrame, by: String*): DataFrame =
    rows.filter(col("ref_n") >= MinGroupRows && col("curr_n") >= MinGroupRows)
      .withColumn("__rk", dense_rank().over(Window.partitionBy(by.map(col): _*)
        .orderBy((col("ref_n") + col("curr_n")).desc, col("category").asc)))
      .filter(col("__rk") <= TopCategories && col("category").isNotNull)
      .drop("__rk")

  private def eligibleSql(sp: GroupSpec): String =
    "SELECT category, ref_n, curr_n FROM (SELECT *, ROW_NUMBER() OVER " +
      "(ORDER BY ref_n + curr_n DESC, category ASC) AS rk FROM " +
      "(SELECT category, COALESCE(MAX(CASE WHEN side = 'ref' THEN n END), 0)::BIGINT AS ref_n, " +
      "COALESCE(MAX(CASE WHEN side = 'curr' THEN n END), 0)::BIGINT AS curr_n FROM " +
      s"(SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
      s"CAST(${sp.dim} AS VARCHAR) AS category, COUNT(*) AS n FROM ${sp.tableName} GROUP BY 1, 2) c " +
      s"GROUP BY category) p WHERE ref_n >= $MinGroupRows AND curr_n >= $MinGroupRows) r " +
      s"WHERE rk <= $TopCategories"

  // --------------------------------------------- numeric group metrics (O32)

  /** Exact median of the SQL expression `e`; the DOUBLE cast leaves it
    * unchanged and lets sketch mode reach integral metrics too. */
  private def median(e: String): Column = expr(s"percentile(CAST($e AS DOUBLE), 0.5)")

  /** Per-(category, metric) side stats, pivoted. Nulls coalesced to 0 as the
    * reference does post-collect (group_analyzer.py:311-333). */
  private def numPivot(spark: SparkSession, dir: String, sp: GroupSpec): DataFrame = {
    val aggs = count(lit(1)).as("n") +: sp.numMetrics.flatMap { m =>
      Seq(
        sum(when(col(m).isNull, 1L).otherwise(0L)).as(s"${m}__nulls"),
        coalesce(avg(col(m)), lit(0.0)).as(s"${m}__mean"),
        coalesce(stddev(col(m)), lit(0.0)).as(s"${m}__std"),
        coalesce(min(col(m)).cast("double"), lit(0.0)).as(s"${m}__min"),
        coalesce(max(col(m)).cast("double"), lit(0.0)).as(s"${m}__max"),
        coalesce(median(m), lit(0.0)).as(s"${m}__med"))
    }
    val rows = sp.numMetrics.map { m =>
      s"'$m', ${m}__nulls, ${m}__mean, ${m}__std, ${m}__min, ${m}__max, ${m}__med"
    }.mkString(", ")
    val long = withSide(table(spark, dir, sp.tableName), sp.ref)
      .groupBy(col("side"), col(sp.dim).cast("string").as("category"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("side"), col("category"), col("n"),
        expr(s"stack(${sp.numMetrics.size}, $rows) as (metric, nulls, mean, std, vmin, vmax, med)"))
    val statCols = Seq("n", "nulls", "mean", "std", "vmin", "vmax", "med")
    val names = Map("vmin" -> "min", "vmax" -> "max")
    val pivAggs = statCols.flatMap { c => Seq(
      max(when(col("side") === "ref", col(c))).as(s"ref_${names.getOrElse(c, c)}"),
      max(when(col("side") === "curr", col(c))).as(s"curr_${names.getOrElse(c, c)}")) }
    long.groupBy("category", "metric").agg(pivAggs.head, pivAggs.tail: _*)
      .filter(col("ref_n").isNotNull && col("curr_n").isNotNull)
  }

  private def numPivotSql(sp: GroupSpec): String = {
    val un = sp.numMetrics.map { m =>
      s"SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
        s"CAST(${sp.dim} AS VARCHAR) AS category, '$m' AS metric, COUNT(*) AS n, " +
        s"SUM(CASE WHEN $m IS NULL THEN 1 ELSE 0 END)::BIGINT AS nulls, " +
        s"COALESCE(AVG($m), 0.0) AS mean, COALESCE(STDDEV($m), 0.0) AS std, " +
        s"COALESCE(MIN($m)::DOUBLE, 0.0) AS vmin, COALESCE(MAX($m)::DOUBLE, 0.0) AS vmax, " +
        s"COALESCE(quantile_cont($m, 0.5), 0.0) AS med FROM ${sp.tableName} GROUP BY 1, 2, 3"
    }.mkString(" UNION ALL ")
    val piv = Seq("n", "nulls", "mean", "std", "vmin", "vmax", "med").flatMap { c =>
      val out = Map("vmin" -> "min", "vmax" -> "max").getOrElse(c, c)
      Seq(s"MAX(CASE WHEN side = 'ref' THEN $c END) AS ref_$out",
        s"MAX(CASE WHEN side = 'curr' THEN $c END) AS curr_$out") }.mkString(", ")
    s"SELECT * FROM (SELECT category, metric, $piv FROM ($un) x GROUP BY 1, 2) p " +
      "WHERE ref_n IS NOT NULL AND curr_n IS NOT NULL"
  }

  /** Shared final select: pct changes use the group-analyzer zero rule. */
  private val numFinal: Seq[String] = Seq(
    "table_name", "dimension", "category", "metric",
    "ref_n AS ref_count", "curr_n AS curr_count",
    "ROUND(ref_mean, 6) AS ref_mean", "ROUND(curr_mean, 6) AS curr_mean",
    s"ROUND(${pctChangeSql("ref_mean", "curr_mean")}, 6) AS mean_pct_change",
    "ROUND(ref_std, 6) AS ref_stddev", "ROUND(curr_std, 6) AS curr_stddev",
    s"ROUND(${pctChangeSql("ref_std", "curr_std")}, 6) AS stddev_pct_change",
    "ROUND(ref_med, 6) AS ref_median", "ROUND(curr_med, 6) AS curr_median",
    s"ROUND(${pctChangeSql("ref_med", "curr_med")}, 6) AS median_pct_change",
    "ROUND(ref_max - ref_min, 6) AS ref_range", "ROUND(curr_max - curr_min, 6) AS curr_range",
    s"ROUND(${pctChangeSql("(ref_max - ref_min)", "(curr_max - curr_min)")}, 6) AS range_pct_change",
    "ROUND(ABS(curr_nulls * 1e0 / curr_n - ref_nulls * 1e0 / ref_n), 6) AS null_drift")

  /** Exact group medians, so DuckDB's `quantile_cont` reproduces values;
    * sketch mode swaps in the mergeable sketch at scale. */
  def groupNumericMetrics(spark: SparkSession, dir: String): DataFrame = {
    val per = specs.map { sp =>
      // every metric row of a category carries the category's side counts
      keepEligible(numPivot(spark, dir, sp))
        .select(lit(sp.tableName).as("table_name"), lit(sp.dim).as("dimension"), col("*"))
        .selectExpr(numFinal: _*)
    }
    per.reduce(_ union _).orderBy("table_name", "dimension", "category", "metric")
  }

  def groupNumericMetricsSql: String = {
    val per = specs.map { sp =>
      s"SELECT ${numFinal.mkString(", ")} FROM " +
        s"(SELECT '${sp.tableName}' AS table_name, '${sp.dim}' AS dimension, np.* FROM " +
        s"(${numPivotSql(sp)}) np JOIN (${eligibleSql(sp)}) e ON np.category = e.category) z"
    }
    per.mkString("", " UNION ALL ", " ORDER BY table_name, dimension, category, metric")
  }

  // ----------------------------------------- categorical group metrics (O32)

  /** Per-(category, cat-metric): top-10 value frequency tables per side
    * (freq over ALL group rows incl. nulls — window normalization in the
    * reference, group_analyzer.py:378-387), then common/new/disappeared and
    * avg frequency drift. */
  /** Per-(side, category, value) counts for one categorical metric — the
    * ONE scan every downstream frame of the categorical family (top-10
    * frequency pivot, eligibility counts, null census) derives from. */
  private def vcFrame(spark: SparkSession, dir: String, sp: GroupSpec, m: String): DataFrame =
    withSide(table(spark, dir, sp.tableName), sp.ref)
      .groupBy(col("side"), col(sp.dim).cast("string").as("category"), col(m).cast("string").as("v"))
      .agg(count(lit(1)).as("cnt"))

  /** Top-10 value frequencies per (category, v), plus each side's row count. */
  private def catPivot(vc: DataFrame): DataFrame = {
    val w = Window.partitionBy("side", "category")
    val top = vc
      .withColumn("n", sum("cnt").over(w))
      .withColumn("freq", col("cnt") / col("n"))
      .withColumn("rk", row_number().over(w.orderBy(col("cnt").desc, col("v").asc)))
      .filter(col("rk") <= 10)
    top.groupBy("category", "v").agg(
      max(when(col("side") === "ref", col("freq"))).as("p"),
      max(when(col("side") === "curr", col("freq"))).as("q"),
      max(when(col("side") === "ref", col("n"))).as("ref_n"),
      max(when(col("side") === "curr", col("n"))).as("curr_n"))
  }

  private def catPivotSql(sp: GroupSpec, m: String): String =
    "SELECT category, v, MAX(CASE WHEN side = 'ref' THEN freq END) AS p, " +
      "MAX(CASE WHEN side = 'curr' THEN freq END) AS q FROM " +
      "(SELECT *, cnt * 1e0 / SUM(cnt) OVER (PARTITION BY side, category) AS freq, " +
      "ROW_NUMBER() OVER (PARTITION BY side, category ORDER BY cnt DESC, v ASC) AS rk FROM " +
      s"(SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
      s"CAST(${sp.dim} AS VARCHAR) AS category, CAST($m AS VARCHAR) AS v, COUNT(*) AS cnt " +
      s"FROM ${sp.tableName} GROUP BY 1, 2, 3) vc) t WHERE rk <= 10 GROUP BY category, v"

  private val catAggs: Seq[String] = Seq(
    "SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS ref_distinct",
    "SUM(CASE WHEN q IS NOT NULL THEN 1 ELSE 0 END) AS curr_distinct",
    "SUM(CASE WHEN p IS NOT NULL AND q IS NOT NULL THEN 1 ELSE 0 END) AS common_count",
    "SUM(CASE WHEN q IS NOT NULL AND p IS NULL THEN 1 ELSE 0 END) AS new_count",
    "SUM(CASE WHEN p IS NOT NULL AND q IS NULL THEN 1 ELSE 0 END) AS disappeared_count",
    "CASE WHEN SUM(CASE WHEN p IS NOT NULL AND q IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN " +
      "SUM(CASE WHEN p IS NOT NULL AND q IS NOT NULL THEN ABS(q - p) ELSE 0 END) / " +
      "SUM(CASE WHEN p IS NOT NULL AND q IS NOT NULL THEN 1 ELSE 0 END) ELSE 1.0 END AS avg_freq_drift")

  private val catFinal: Seq[String] = Seq(
    "table_name", "dimension", "category", "metric",
    "CAST(ref_distinct AS BIGINT) AS ref_distinct", "CAST(curr_distinct AS BIGINT) AS curr_distinct",
    s"ROUND(${pctChangeSql("ref_distinct", "curr_distinct")}, 6) AS distinct_pct_change",
    "CAST(common_count AS BIGINT) AS common_count", "CAST(new_count AS BIGINT) AS new_count",
    "CAST(disappeared_count AS BIGINT) AS disappeared_count",
    "ROUND(avg_freq_drift, 6) AS avg_freq_drift")

  def groupCatMetrics(spark: SparkSession, dir: String): DataFrame = {
    val per = for (sp <- specs; m <- sp.catMetrics) yield {
      keepEligible(catPivot(vcFrame(spark, dir, sp, m)).groupBy("category")
          .agg(max("ref_n").as("ref_n"), (max("curr_n").as("curr_n") +: catAggs.map(expr)): _*))
        .select(lit(sp.tableName).as("table_name"), lit(sp.dim).as("dimension"),
          lit(m).as("metric"), col("*"))
        .selectExpr(catFinal: _*)
    }
    per.reduce(_ union _).orderBy("table_name", "dimension", "category", "metric")
  }

  def groupCatMetricsSql: String = {
    val per = for (sp <- specs; m <- sp.catMetrics) yield
      s"SELECT ${catFinal.mkString(", ")} FROM " +
        s"(SELECT '${sp.tableName}' AS table_name, '${sp.dim}' AS dimension, '$m' AS metric, cp.* FROM " +
        s"(SELECT category, ${catAggs.mkString(", ")} FROM (${catPivotSql(sp, m)}) d GROUP BY category) cp " +
        s"JOIN (${eligibleSql(sp)}) e ON cp.category = e.category) z"
    per.mkString("", " UNION ALL ", " ORDER BY table_name, dimension, category, metric")
  }

  // ------------------------------------------------ group drift verdict (O33)

  /** Component rows per eligible category: kind ∈ null|mean|std|median|freq
    * feed the score (mean of components, capped at 1); row_pct and
    * distinct_pct only feed the detection rule (group_analyzer.py:449-514). */
  private def componentsSql(sp: GroupSpec): String = {
    val numComps =
      s"SELECT category, 'null' AS kind, ABS(curr_nulls * 1e0 / curr_n - ref_nulls * 1e0 / ref_n) AS value " +
        s"FROM np UNION ALL " +
        s"SELECT category, 'mean', ABS(${pctChangeSql("ref_mean", "curr_mean")}) FROM np UNION ALL " +
        s"SELECT category, 'std', ABS(${pctChangeSql("ref_std", "curr_std")}) FROM np UNION ALL " +
        s"SELECT category, 'median', ABS(${pctChangeSql("ref_med", "curr_med")}) FROM np"
    val catComps = sp.catMetrics.map { m =>
      s"SELECT category, 'null' AS kind, ABS(curr_nulls * 1e0 / curr_n - ref_nulls * 1e0 / ref_n) AS value FROM cn_$m " +
        s"UNION ALL SELECT category, 'freq', avg_freq_drift FROM cm_$m " +
        s"UNION ALL SELECT category, 'distinct_pct', ABS(${pctChangeSql("ref_distinct", "curr_distinct")}) FROM cm_$m"
    }.mkString(" UNION ALL ")
    val rowComp = s"SELECT category, 'row_pct' AS kind, ${pctChangeSql("ref_n", "curr_n")} AS value FROM e"
    s"$numComps UNION ALL $catComps UNION ALL $rowComp"
  }

  /** Null counts of a categorical metric per group (needed for its null
    * component — the reference computes null_counts for every metric column
    * regardless of type, group_analyzer.py:263-281). */
  private def catNullsSql(sp: GroupSpec, m: String): String =
    "SELECT r.category, r.n AS ref_n, r.nulls AS ref_nulls, c.n AS curr_n, c.nulls AS curr_nulls FROM " +
      s"(SELECT CAST(${sp.dim} AS VARCHAR) AS category, COUNT(*) AS n, " +
      s"SUM(CASE WHEN $m IS NULL THEN 1 ELSE 0 END) AS nulls FROM ${sp.tableName} WHERE ${sp.refSql} GROUP BY 1) r " +
      // COALESCE so NULL-predicate rows land on curr, matching withSide
      s"JOIN (SELECT CAST(${sp.dim} AS VARCHAR) AS category, COUNT(*) AS n, " +
      s"SUM(CASE WHEN $m IS NULL THEN 1 ELSE 0 END) AS nulls FROM ${sp.tableName} " +
      s"WHERE NOT COALESCE(${sp.refSql}, FALSE) GROUP BY 1) c " +
      "ON r.category = c.category"

  private val verdictAggs: Seq[String] = Seq(
    "LEAST(1.0, AVG(CASE WHEN kind IN ('null', 'mean', 'std', 'median', 'freq') THEN value END)) AS overall_drift_score",
    "SUM(CASE WHEN (kind = 'null' AND value > 0.05) OR (kind = 'mean' AND value > 0.1) OR " +
      "(kind = 'std' AND value > 0.2) OR (kind = 'median' AND value > 0.1) OR " +
      "(kind = 'freq' AND value > 0.1) THEN 1 ELSE 0 END) AS n_metrics_with_drift",
    "MAX(CASE WHEN kind = 'row_pct' THEN value END) AS row_pct_change",
    "MAX(CASE WHEN kind = 'null' THEN value ELSE 0 END) AS max_null_drift",
    "MAX(CASE WHEN kind = 'mean' THEN value ELSE 0 END) AS max_mean_change",
    "MAX(CASE WHEN kind = 'median' THEN value ELSE 0 END) AS max_median_change",
    "MAX(CASE WHEN kind = 'freq' THEN value ELSE 0 END) AS max_freq_drift",
    "MAX(CASE WHEN kind = 'distinct_pct' THEN value ELSE 0 END) AS max_distinct_pct")

  private val verdictFinal: Seq[String] = Seq(
    "table_name", "dimension", "category",
    "ROUND(overall_drift_score, 6) AS overall_drift_score",
    "CAST(n_metrics_with_drift AS BIGINT) AS n_metrics_with_drift",
    "ROUND(row_pct_change, 6) AS row_pct_change",
    "(overall_drift_score >= 0.1 OR n_metrics_with_drift >= 3 OR ABS(row_pct_change) >= 0.25 OR " +
      "max_null_drift >= 0.1 OR max_mean_change >= 0.2 OR max_median_change >= 0.2 OR " +
      "max_freq_drift >= 0.15 OR max_distinct_pct >= 0.25) AS drift_detected")

  def groupDriftVerdict(spark: SparkSession, dir: String): DataFrame =
    groupDriftVerdictFrame(spark, dir)
      .orderBy("table_name", "dimension", "category")

  /** [[groupDriftVerdict]] without the final sort (see
    * NumericDrift.driftScoreFrame for why Report's cache wants it). */
  private[drift] def groupDriftVerdictFrame(spark: SparkSession, dir: String): DataFrame =
    specs.map(sp => verdictOf(withSide(table(spark, dir, sp.tableName), sp.ref),
        Seq(sp.dim), sp.numMetrics, sp.catMetrics, sp.tableName).drop("dim_ix"))
      .reduce(_ union _)

  /** O33 verdict rows of every dimension of `dims` over a side-tagged frame,
    * keyed by `dim_ix`, the dimension's index in `dims`. A dimension's metrics
    * are `numMetrics` and the `catMetrics` other than itself. Two stacked
    * aggregates feed every dimension and metric at once: one per (dimension,
    * category) with side-conditional numeric stats, which also ranks
    * eligibility, and one per (dimension, category, metric, value) with both
    * sides' counts, whose window gives the totals and top-10 ranks. The
    * exchanges are therefore the same whatever the number of dimensions or
    * metrics. Every division is guarded: eligible categories have ≥20 rows
    * on each side. */
  private def verdictOf(tagged: DataFrame, dims: Seq[String], numMetrics: Seq[String],
      catMetrics: Seq[String], label: String): DataFrame = {
    val sides = Seq("ref", "curr")
    def onSide(s: String, c: Column): Column = when(col("side") === s, c)
    def stackOf(rows: Seq[String], as: String): String =
      s"stack(${rows.size}, ${rows.mkString(", ")}) AS ($as)"
    def dimRow(d: String, i: Int) = s"$i, ${sqlStr(d)}, CAST(${sqlIdent(d)} AS STRING)"

    // per (dimension, category): row counts and every numeric metric's stats
    val numAggs = sides.map(s => count(onSide(s, lit(1))).as(s"${s}_n")) ++
      numMetrics.zipWithIndex.flatMap { case (m, j) => sides.flatMap { s =>
        Seq(
          sum(when(col("side") === s && col(m).isNull, 1L).otherwise(0L)).as(s"${s}_nulls_$j"),
          coalesce(avg(onSide(s, col(m))), lit(0.0)).as(s"${s}_mean_$j"),
          coalesce(stddev(onSide(s, col(m))), lit(0.0)).as(s"${s}_std_$j"),
          coalesce(median(s"CASE WHEN side = '$s' THEN ${sqlIdent(m)} END"), lit(0.0))
            .as(s"${s}_med_$j"))
      } }
    val eligible = keepEligible(tagged
      .select((col("side") +: numMetrics.map(col)) :+
        expr(stackOf(dims.zipWithIndex.map((dimRow _).tupled), "dim_ix, dimension, category")): _*)
      .groupBy("dim_ix", "dimension", "category").agg(numAggs.head, numAggs.tail: _*), "dim_ix")
    val numComps = numMetrics.indices.flatMap { j => Seq(
        "null" -> s"ABS(curr_nulls_$j * 1e0 / curr_n - ref_nulls_$j * 1e0 / ref_n)",
        "mean" -> s"ABS(${pctChangeSql(s"ref_mean_$j", s"curr_mean_$j")})",
        "std" -> s"ABS(${pctChangeSql(s"ref_std_$j", s"curr_std_$j")})",
        "median" -> s"ABS(${pctChangeSql(s"ref_med_$j", s"curr_med_$j")})")
      } :+ ("row_pct" -> pctChangeSql("ref_n", "curr_n"))
    val comps = eligible.selectExpr("dim_ix", "dimension", "category",
      stackOf(numComps.map { case (k, e) => s"'$k', CAST($e AS DOUBLE)" }, "kind, value"))

    // per (dimension, category, metric, value): both sides' counts, then the
    // category's totals and each side's top-10 frequencies (over all rows
    // incl. nulls, group_analyzer.py:378-387) in one window
    val catRows = for ((d, i) <- dims.zipWithIndex; m <- catMetrics if m != d)
      yield s"${dimRow(d, i)}, ${sqlStr(m)}, CAST(${sqlIdent(m)} AS STRING)"
    val catComps = if (catRows.isEmpty) None else Some {
      val w = Window.partitionBy("dim_ix", "dimension", "category", "metric")
      def top10(s: String): Column = {
        val cnt = col(s"${s}_cnt")
        when(cnt > 0 && row_number().over(w.orderBy(cnt.desc, col("v").asc)) <= 10,
          cnt / sum(cnt).over(w))
      }
      def nulls(s: String) = sum(when(col("v").isNull, col(s"${s}_cnt")).otherwise(0L)).as(s"${s}_nulls")
      val catAggExprs = Seq(max("ref_n").as("ref_n"), max("curr_n").as("curr_n"),
        nulls("ref"), nulls("curr")) ++ catAggs.map(expr)
      tagged.select(col("side"), expr(stackOf(catRows, "dim_ix, dimension, category, metric, v")))
        .groupBy("dim_ix", "dimension", "category", "metric", "v")
        .agg(count(onSide("ref", lit(1))).as("ref_cnt"), count(onSide("curr", lit(1))).as("curr_cnt"))
        .select(col("*"), top10("ref").as("p"), top10("curr").as("q"),
          sum("ref_cnt").over(w).as("ref_n"), sum("curr_cnt").over(w).as("curr_n"))
        .groupBy("dim_ix", "dimension", "category", "metric")
        .agg(catAggExprs.head, catAggExprs.tail: _*)
        .filter(col("ref_n") >= MinGroupRows && col("curr_n") >= MinGroupRows)
        .selectExpr("dim_ix", "dimension", "category", stackOf(Seq(
          "'null', ABS(curr_nulls * 1e0 / curr_n - ref_nulls * 1e0 / ref_n)",
          "'freq', CAST(avg_freq_drift AS DOUBLE)",
          s"'distinct_pct', CAST(ABS(${pctChangeSql("ref_distinct", "curr_distinct")}) AS DOUBLE)"),
          "kind, value"))
    }

    // categories outside the top 20 carry no row_pct component and drop
    (comps +: catComps.toSeq).reduce(_ union _)
      .groupBy("dim_ix", "dimension", "category")
      .agg(verdictAggs.map(expr).head, verdictAggs.map(expr).tail: _*)
      .filter(col("row_pct_change").isNotNull)
      .withColumn("table_name", lit(label))
      .selectExpr("dim_ix" +: verdictFinal: _*)
  }

  def groupDriftVerdictSql: String = {
    val per = specs.map { sp =>
      val catCtes = sp.catMetrics.flatMap { m =>
        Seq(s"cn_$m AS (${catNullsSql(sp, m)})",
          s"cm_$m AS (SELECT category, ${catAggs.mkString(", ")} FROM (${catPivotSql(sp, m)}) d GROUP BY category)")
      }.mkString(", ")
      s"SELECT ${verdictFinal.mkString(", ")} FROM " +
        s"(SELECT '${sp.tableName}' AS table_name, '${sp.dim}' AS dimension, v.* FROM " +
        s"(WITH np AS (${numPivotSql(sp)}), e AS (${eligibleSql(sp)}), $catCtes " +
        s"SELECT category, ${verdictAggs.mkString(", ")} FROM " +
        s"(SELECT comps.* FROM (${componentsSql(sp)}) comps JOIN e ON comps.category = e.category) j " +
        "GROUP BY category) v) z"
    }
    per.mkString("", " UNION ALL ", " ORDER BY table_name, dimension, category")
  }

  // ------------------------------------------------- generic pair entry

  /** Generic O32/O33 for an arbitrary snapshot pair: per-category verdicts
    * of every dimension of `dims` from one call of the gate's verdict
    * function, in dimension order, then category. */
  def verdictForPair(ref: DataFrame, curr: DataFrame, dims: Seq[String],
      numMetrics: Seq[String], catMetrics: Seq[String]): DataFrame =
    verdictOf(NumericDrift.tagPair(ref, curr, (dims ++ numMetrics ++ catMetrics).distinct),
        dims, numMetrics, catMetrics, "pair")
      .orderBy("dim_ix", "category").drop("dim_ix")

  /** [[verdictForPair]] over one dimension. */
  def forPair(ref: DataFrame, curr: DataFrame, dim: String,
      numMetrics: Seq[String], catMetrics: Seq[String]): DataFrame =
    verdictForPair(ref, curr, Seq(dim), numMetrics, catMetrics)

  // ------------------------------------- one-pass multi-dim slices (O32+)

  /** Tables with EVERY split dimension aggregated in one pass. */
  case class SliceSpec(tableName: String, dims: Seq[String],
      metrics: Seq[String], ref: Column, refSql: String)

  val sliceSpecs: Seq[SliceSpec] = Seq(
    SliceSpec("lineitem", Seq("l_returnflag", "l_linestatus"),
      Seq("l_extendedprice", "l_quantity"), S.lineitemRef, S.lineitemRefSql),
    SliceSpec("orders", Seq("o_orderstatus", "o_orderpriority"),
      Seq("o_totalprice"), S.ordersRef, S.ordersRefSql),
  )

  /** Multi-dimension group slices via GROUPING SETS: per table, EVERY
    * dimension's per-(side, category) counts and metric sums aggregate in a
    * SINGLE job — one scan, one Expand, ONE exchange — where the
    * one-groupBy-per-dimension shape pays a full scan+shuffle per
    * dimension. At 100 TB with d dimensions this is a d× scan reduction;
    * the reference's dimension_id design (demo_notebook.py:64,
    * result_handler.py:42) is exactly this fan-out.
    *
    * Exactness contract (round 8, the CORRECTNESS_r07 lesson): metric
    * values quantize per row into integer units of 10^-quantScale
    * ([[microTermSql]] — cents for the TPC-H prices, their native
    * precision) and accumulate in DECIMAL(38,0); sums, means and
    * pct-changes reach DOUBLE only through shared IEEE text
    * ([[microToDoubleSql]] + [[pr6Sql]]). Round 7's DECIMAL(32,6) sums
    * were hash-red on the driver: CAST(scaled decimal AS DOUBLE) is an
    * engine-private two-step whose ÷10^scale strategy differs across
    * DuckDB versions, and this query was also the only one in the whole
    * surface emitting raw DECIMAL output columns (a second cross-engine
    * render hazard). Scale-0 units have neither problem. Headroom: cent
    * sums are ~1e12 at sf0.1 — under 2⁵³ through ~sf800. */
  def groupSlices(spark: SparkSession, dir: String): DataFrame =
    sliceSpecs.map(sp =>
        sliceAgg(withSide(table(spark, dir, sp.tableName), sp.ref),
          sp.dims, sp.metrics, sp.tableName, quantScale = 2))
      .reduce(_ unionByName _)
      .orderBy("table_name", "dimension", "category", "metric")

  /** Library form of [[groupSlices]] for an arbitrary snapshot pair:
    * every dimension aggregated through one grouping-sets pass.
    * `quantScale` sets the metric quantization (half-up at 10^-scale);
    * per-value magnitude must stay below ~9.2e18 / 10^scale (Spark's
    * FLOOR saturates past Long.Max) — 9.2e12 at the default 6. */
  def groupSlicesForPair(ref: DataFrame, curr: DataFrame, dims: Seq[String],
      metrics: Seq[String], label: String = "pair",
      quantScale: Int = 6): DataFrame =
    sliceAgg(NumericDrift.tagPair(ref, curr, (dims ++ metrics).distinct),
        dims, metrics, label, quantScale)
      .orderBy("table_name", "dimension", "category", "metric")

  private def sliceAgg(tagged: DataFrame, dims: Seq[String],
      metrics: Seq[String], label: String, quantScale: Int): DataFrame = {
    require(dims.nonEmpty && metrics.nonEmpty,
      "group slices need at least one dimension and one metric")
    val aggs = (count(lit(1)).as("n") +:
      metrics.map(m => sum(expr(microTermSql(s"CAST($m AS DOUBLE)", quantScale)))
        .as(s"__sum_$m"))) ++
      dims.map(d => grouping(col(d)).as(s"__g_$d"))
    val gs = tagged
      .groupingSets(dims.map(d => Seq(col("side"), col(d))),
        (col("side") +: dims.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    // recover (dimension, category) from the grouping markers: exactly
    // one dim per grouping set is live (its marker is 0). A NULL value in
    // the live dim stays a NULL category — the marker, not the NULL,
    // identifies the set, so null-valued groups survive unambiguously.
    val dimCase = dims.map(d => s"WHEN __g_$d = 0 THEN '$d'")
      .mkString("CASE ", " ", " END")
    val catCase = dims.map(d => s"WHEN __g_$d = 0 THEN CAST($d AS STRING)")
      .mkString("CASE ", " ", " END")
    val stacked = gs.selectExpr(Seq("side", s"$dimCase AS dimension",
        s"$catCase AS category", "n") ++
        Seq(s"stack(${metrics.size}, " +
          metrics.map(m => s"'$m', __sum_$m").mkString(", ") +
          ") AS (metric, msum)"): _*)
    stacked.groupBy("dimension", "category", "metric").agg(
        max(when(col("side") === "ref", col("n"))).as("ref_n"),
        max(when(col("side") === "curr", col("n"))).as("curr_n"),
        max(when(col("side") === "ref", col("msum"))).as("ref_sum0"),
        max(when(col("side") === "curr", col("msum"))).as("curr_sum0"))
      .where(expr(sliceWhere))
      // the family's TopCategories cap, per dimension: a high-cardinality
      // dim through groupSlicesForPair must not fan out to full category
      // cardinality (the window runs on the aggregated slice frame, keyed
      // by dimension — never on raw rows)
      .withColumn("__rk", row_number().over(
        Window.partitionBy("dimension", "metric")
          .orderBy((col("ref_n") + col("curr_n")).desc, col("category").asc)))
      .where(col("__rk") <= TopCategories).drop("__rk")
      .select(lit(label).as("table_name"), col("*"))
      .selectExpr(sliceFinal(quantScale): _*)
  }

  /** Shared final text (Spark selectExpr ≡ DuckDB): counts, sums, means
    * and pct-change all derived from the exact integer-unit accumulators
    * by shared IEEE text — no scaled-decimal cast, no decimal outputs. */
  private def sliceFinal(quantScale: Int): Seq[String] = {
    val rs = microToDoubleSql("ref_sum0", quantScale)
    val cs = microToDoubleSql("curr_sum0", quantScale)
    val rm = s"($rs / ref_n)"
    val cm = s"($cs / curr_n)"
    Seq("table_name", "dimension", "category", "metric",
      "ref_n", "curr_n",
      pr6Sql(rs) + " AS ref_sum",
      pr6Sql(cs) + " AS curr_sum",
      pr6Sql(rm) + " AS ref_mean",
      pr6Sql(cm) + " AS curr_mean",
      pr6Sql(pctChangeSql(rm, cm)) + " AS mean_pct_change")
  }

  private def sliceWhere: String =
    s"ref_n >= $MinGroupRows AND curr_n >= $MinGroupRows"

  def groupSlicesSql: String = {
    val per = sliceSpecs.map { sp =>
      val dimCase = sp.dims.map(d => s"WHEN g_$d = 0 THEN '$d'")
        .mkString("CASE ", " ", " END")
      val catCase = sp.dims.map(d => s"WHEN g_$d = 0 THEN CAST($d AS VARCHAR)")
        .mkString("CASE ", " ", " END")
      val inner = s"SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
        sp.dims.mkString(", ") + ", " +
        sp.dims.map(d => s"GROUPING($d) AS g_$d").mkString(", ") + ", " +
        "COUNT(*) AS n, " +
        sp.metrics.map(m =>
          s"SUM(${microTermSql(s"CAST($m AS DOUBLE)", 2)}) AS sum_$m").mkString(", ") +
        s" FROM ${sp.tableName} GROUP BY GROUPING SETS " +
        sp.dims.map(d => s"(side, $d)").mkString("(", ", ", ")")
      val unpiv = sp.metrics.map(m =>
        s"SELECT side, $dimCase AS dimension, $catCase AS category, " +
          s"'$m' AS metric, n, sum_$m AS msum FROM gsets").mkString(" UNION ALL ")
      s"SELECT ${sliceFinal(2).mkString(", ")} FROM " +
        s"(WITH gsets AS ($inner) " +
        // NULLS FIRST on the tie-break mirrors Spark's ASC default
        "SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY dimension, metric " +
        "ORDER BY ref_n + curr_n DESC, category ASC NULLS FIRST) AS rk FROM " +
        s"(SELECT '${sp.tableName}' AS table_name, dimension, category, metric, " +
        "MAX(CASE WHEN side = 'ref' THEN n END) AS ref_n, " +
        "MAX(CASE WHEN side = 'curr' THEN n END) AS curr_n, " +
        "MAX(CASE WHEN side = 'ref' THEN msum END) AS ref_sum0, " +
        "MAX(CASE WHEN side = 'curr' THEN msum END) AS curr_sum0 " +
        s"FROM ($unpiv) u GROUP BY 1, 2, 3, 4) p0 WHERE $sliceWhere) rked " +
        s"WHERE rk <= $TopCategories) piv"
    }
    s"SELECT * FROM (${per.mkString(" UNION ALL ")}) q " +
      "ORDER BY table_name, dimension, category, metric"
  }

  // ----------------------------------------------------------------- API

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "group_numeric_metrics" -> ((s, d) => groupNumericMetrics(s, d)),
    "group_cat_metrics" -> ((s, d) => groupCatMetrics(s, d)),
    "group_drift" -> ((s, d) => groupDriftVerdict(s, d)),
    "group_slices" -> ((s, d) => groupSlices(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "group_numeric_metrics" -> groupNumericMetricsSql,
    "group_cat_metrics" -> groupCatMetricsSql,
    "group_drift" -> groupDriftVerdictSql,
    "group_slices" -> groupSlicesSql,
  )
}
