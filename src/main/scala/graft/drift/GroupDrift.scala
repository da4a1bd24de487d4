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
  * 20 × cols) Spark jobs (group_analyzer.py:64-102, 206-447). Here each
  * dimension is ONE `groupBy(side, dim)` aggregation computing every metric
  * for every category at once, plus one `groupBy(side, dim, value)` for the
  * categorical frequency tables — two shuffles per dimension total,
  * independent of category count. At 100 TB that is the difference between
  * ~hundreds of scans and two.
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

  /** Eligibility tail over an already-aggregated (category, ref_n, curr_n)
    * frame: ≥20 rows in BOTH frames, top-20 by combined count
    * (deterministic tie-break on category). The counts frame is derived
    * from the aggregation that computes the metrics (numPivot's n / the
    * categorical value-count frame), never from a second groupBy of the
    * raw rows. */
  private def eligibleFromCounts(counts: DataFrame): DataFrame =
    counts
      .filter(col("ref_n") >= MinGroupRows && col("curr_n") >= MinGroupRows)
      // orderBy.limit plans TakeOrderedAndProject — distributed top-k, not a
      // single-partition rank window over every category
      .orderBy((col("ref_n") + col("curr_n")).desc, col("category").asc)
      .limit(TopCategories)

  /** [[eligibleFromCounts]] as a rank window over aggregated rows that
    * carry (ref_n, curr_n): a self-join would plan a second, differently
    * pruned scan that exchange reuse cannot merge. A category's rows share
    * a dense rank; a NULL category holds its slot but is dropped, as the
    * join on category drops it. */
  private def keepEligible(rows: DataFrame): DataFrame =
    rows.filter(col("ref_n") >= MinGroupRows && col("curr_n") >= MinGroupRows)
      .withColumn("__rk", dense_rank().over(
        Window.orderBy((col("ref_n") + col("curr_n")).desc, col("category").asc)))
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

  /** Exact median of metric `m`; the DOUBLE cast leaves it unchanged and
    * lets sketch mode reach integral metrics too. */
  private def median(m: String): Column = expr(s"percentile(CAST($m AS DOUBLE), 0.5)")

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

  /** Per-category (ref_n, curr_n) derived from the pivoted metrics frame —
    * every metric row of a category carries the same side counts. */
  private def countsFromNumPivot(np: DataFrame): DataFrame =
    np.groupBy("category").agg(
      coalesce(max("ref_n"), lit(0L)).as("ref_n"),
      coalesce(max("curr_n"), lit(0L)).as("curr_n"))

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

  /** Per-category (ref_n, curr_n) row counts recovered from the value-count
    * frame (the v groups partition the rows, nulls included). */
  private def countsFromVc(vc: DataFrame): DataFrame =
    vc.groupBy("category").agg(
      coalesce(sum(when(col("side") === "ref", col("cnt"))), lit(0L)).as("ref_n"),
      coalesce(sum(when(col("side") === "curr", col("cnt"))), lit(0L)).as("curr_n"))

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
  private[drift] def groupDriftVerdictFrame(spark: SparkSession, dir: String): DataFrame = {
    val per = specs.map { sp =>
      // UNCACHED (r17): np feeds the numeric component projections, whose
      // shared exchange dedupes (ReusedExchange), while a fresh
      // registered-cold cache got stampeded by the concurrent consumers
      // (see NumericDrift.driftScoreFrame). Eligibility ranks np's own rows
      // (keepEligible): a second aggregate for the counts would be pruned
      // differently and scan the table again. Every metric row of an
      // eligible category repeats its row_pct component, which only MAX
      // reads; categories without one are not eligible and drop after the
      // verdict aggregate, as the oracle's join drops them.
      val np = keepEligible(numPivot(spark, dir, sp))
      val numComps = Seq(
        ("null", "ABS(curr_nulls * 1e0 / curr_n - ref_nulls * 1e0 / ref_n)"),
        ("mean", s"ABS(${pctChangeSql("ref_mean", "curr_mean")})"),
        ("std", s"ABS(${pctChangeSql("ref_std", "curr_std")})"),
        ("median", s"ABS(${pctChangeSql("ref_med", "curr_med")})"),
        ("row_pct", pctChangeSql("ref_n", "curr_n")))
        .map { case (k, e) => np.selectExpr("category", s"'$k' AS kind", s"$e AS value") }
        .reduce(_ union _)
      val catComps = sp.catMetrics.map { m =>
        // one scan for the whole categorical side: the frequency pivot AND
        // the null census both derive from the shared value-count frame
        // (the v-null group IS the null count); uncached — see np above
        val vc = vcFrame(spark, dir, sp, m)
        val cm = catPivot(vc)
          .groupBy("category").agg(catAggs.map(expr).head, catAggs.map(expr).tail: _*)
        val cn = vc.groupBy("category").agg(
            sum(when(col("side") === "ref", col("cnt"))).as("ref_n"),
            sum(when(col("side") === "ref", when(col("v").isNull, col("cnt")).otherwise(0L))).as("ref_nulls"),
            sum(when(col("side") === "curr", col("cnt"))).as("curr_n"),
            sum(when(col("side") === "curr", when(col("v").isNull, col("cnt")).otherwise(0L))).as("curr_nulls"))
        cn.selectExpr("category", "'null' AS kind",
            "ABS(curr_nulls * 1e0 / curr_n - ref_nulls * 1e0 / ref_n) AS value")
          .union(cm.selectExpr("category", "'freq' AS kind", "avg_freq_drift AS value"))
          .union(cm.selectExpr("category", "'distinct_pct' AS kind",
            s"ABS(${pctChangeSql("ref_distinct", "curr_distinct")}) AS value"))
      }.reduce(_ union _)
      numComps.union(catComps)
        .groupBy("category").agg(verdictAggs.map(expr).head, verdictAggs.map(expr).tail: _*)
        .filter(col("row_pct_change").isNotNull)
        .select(lit(sp.tableName).as("table_name"), lit(sp.dim).as("dimension"), col("*"))
        .selectExpr(verdictFinal: _*)
    }
    per.reduce(_ union _)
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

  /** Generic O32/O33 for an arbitrary snapshot pair: per-category verdict
    * over one dimension. Same two-shuffles-per-dimension plan as the query
    * path. */
  def forPair(ref: DataFrame, curr: DataFrame, dim: String,
      numMetrics: Seq[String], catMetrics: Seq[String],
      scope: Option[CacheScope] = None): DataFrame = {
    // a monitoring loop passes a CacheScope so the cached pivot/value-count
    // frames (new plans per call — fresh data) are releasable; without one
    // they stay Spark-cached for the session (one-shot process semantics)
    def cached(df: DataFrame): DataFrame = scope.fold(df.cache())(_.cached(df))
    val allCols = (Seq(dim) ++ numMetrics ++ catMetrics).distinct
    val tagged = NumericDrift.tagPair(ref, curr, allCols)

    // same one-scan discipline as the query path: the numeric pivot and
    // the per-metric value-count frames are the ONLY scans of the pair;
    // eligibility and null censuses derive from those cached aggregates
    // (caching the tagged pair itself would pin a corpus-sized frame)
    val npOpt = if (numMetrics.isEmpty) None else Some {
      val aggs = count(lit(1)).as("n") +: numMetrics.flatMap { m =>
        Seq(
          sum(when(col(m).isNull, 1L).otherwise(0L)).as(s"${m}__nulls"),
          coalesce(avg(col(m)), lit(0.0)).as(s"${m}__mean"),
          coalesce(stddev(col(m)), lit(0.0)).as(s"${m}__std"),
          coalesce(median(m), lit(0.0)).as(s"${m}__med"))
      }
      val rows = numMetrics.map { m =>
        s"'$m', ${m}__nulls, ${m}__mean, ${m}__std, ${m}__med"
      }.mkString(", ")
      val long = tagged
        .groupBy(col("side"), col(dim).cast("string").as("category"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("side"), col("category"), col("n"),
          expr(s"stack(${numMetrics.size}, $rows) as (metric, nulls, mean, std, med)"))
      val pivAggs = Seq("n", "nulls", "mean", "std", "med").flatMap { c => Seq(
        max(when(col("side") === "ref", col(c))).as(s"ref_$c"),
        max(when(col("side") === "curr", col(c))).as(s"curr_$c")) }
      cached(long.groupBy("category", "metric").agg(pivAggs.head, pivAggs.tail: _*)
        .filter(col("ref_n").isNotNull && col("curr_n").isNotNull))
    }
    val vcs = catMetrics.filterNot(_ == dim).map { m =>
      m -> cached(tagged
        .groupBy(col("side"), col(dim).cast("string").as("category"), col(m).cast("string").as("v"))
        .agg(count(lit(1)).as("cnt")))
    }

    val counts = npOpt.map(countsFromNumPivot)
      .orElse(vcs.headOption.map { case (_, vc) => countsFromVc(vc) })
      .getOrElse(tagged
        .groupBy(col("side"), col(dim).cast("string").as("category"))
        .agg(count(lit(1)).as("n"))
        .groupBy("category").agg(
          coalesce(max(when(col("side") === "ref", col("n"))), lit(0L)).as("ref_n"),
          coalesce(max(when(col("side") === "curr", col("n"))), lit(0L)).as("curr_n")))
    val elig = eligibleFromCounts(counts)

    val numComps = npOpt.toSeq.flatMap { piv =>
      Seq(
        ("null", "ABS(curr_nulls * 1e0 / curr_n - ref_nulls * 1e0 / ref_n)"),
        ("mean", s"ABS(${pctChangeSql("ref_mean", "curr_mean")})"),
        ("std", s"ABS(${pctChangeSql("ref_std", "curr_std")})"),
        ("median", s"ABS(${pctChangeSql("ref_med", "curr_med")})"))
        .map { case (k, e) => piv.selectExpr("category", s"'$k' AS kind", s"$e AS value") }
    }

    val catComps = vcs.flatMap { case (_, vc) =>
      val cm = catPivot(vc)
        .groupBy("category").agg(catAggs.map(expr).head, catAggs.map(expr).tail: _*)
      val cn = vc.groupBy("category").agg(
          sum(when(col("side") === "ref", col("cnt"))).as("ref_n"),
          sum(when(col("side") === "ref", when(col("v").isNull, col("cnt")).otherwise(0L))).as("ref_nulls"),
          sum(when(col("side") === "curr", col("cnt"))).as("curr_n"),
          sum(when(col("side") === "curr", when(col("v").isNull, col("cnt")).otherwise(0L))).as("curr_nulls"))
        .filter(col("ref_n").isNotNull && col("curr_n").isNotNull)
      Seq(
        cn.selectExpr("category", "'null' AS kind",
          "ABS(curr_nulls * 1e0 / curr_n - ref_nulls * 1e0 / ref_n) AS value"),
        cm.selectExpr("category", "'freq' AS kind", "avg_freq_drift AS value"),
        cm.selectExpr("category", "'distinct_pct' AS kind",
          s"ABS(${pctChangeSql("ref_distinct", "curr_distinct")}) AS value"))
    }

    val rowComp = elig.selectExpr("category", "'row_pct' AS kind",
      s"${pctChangeSql("ref_n", "curr_n")} AS value")
    (numComps ++ catComps :+ rowComp).reduce(_ union _)
      .join(elig.select("category"), "category")
      .groupBy("category").agg(verdictAggs.map(expr).head, verdictAggs.map(expr).tail: _*)
      .select(lit("pair").as("table_name"), lit(dim).as("dimension"), col("*"))
      .selectExpr(verdictFinal: _*)
      .orderBy("category")
  }

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
