package graft.drift

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust-statistics drift operators, extending the engine's outlier and
  * association families:
  *
  *  - [[madOutliers]] — median/MAD outlier drift, the robust sibling of the
  *    mean/std z-score screen (`NumericDrift.zOutliers`, reference
  *    rare_event_analyzer.py:82-134). A z-screen's own mean and std are
  *    dragged by the outliers it hunts; median ± k·1.4826·MAD is the
  *    standard breakdown-resistant gate (50% contamination tolerance), so
  *    the two screens disagreeing is itself a drift signal.
  *  - [[mutualInfo]] — mutual information + normalized MI between
  *    categorical column pairs per snapshot, the information-theoretic
  *    complement of the chi²/Cramérs-V association drift
  *    (CategoricalDrift / DistanceDrift): chi² asks "is there dependence",
  *    MI measures HOW MUCH in nats, and NMI ∈ [0,1] makes the ref→curr
  *    comparison scale-free.
  *
  * Scale shape: madOutliers is three aggregation passes per table (ref
  * medians → ref MADs → tagged outlier counts), each a single scan with
  * map-side partial aggregation and 1-row broadcast joins carrying the
  * fitted stats — the z_outliers pattern, nothing driver-side. mutualInfo
  * runs entirely on the (side, x, y) count frame — cardinality-sized, not
  * row-sized — after one partial-aggregated scan.
  */
object RobustDrift extends graft.OperatorModule {

  import graft.drift.{splits => S}

  /** MAD multiplier: 1.4826 ≈ 1/Φ⁻¹(3/4) makes MAD a consistent σ
    * estimator under normality, so k=3 matches the z-screen's 3σ gate. */
  val MadK = 3.0
  private val MadScale = MadK * 1.4826 // one double product, embedded in both engines

  /** Exact-double literal for shared SQL: CAST of the shortest round-trip
    * repr, so DuckDB parses the IDENTICAL double Spark folds. */
  private def dlit(v: Double): String = s"CAST('$v' AS DOUBLE)"

  /** Median/MAD outlier drift per numeric column: fit median + MAD on the
    * REFERENCE side, gate both sides at |x − med| > k·1.4826·MAD, compare
    * outlier rates. Sketch mode swaps both exact percentile passes for the
    * fixed-size mergeable sketch (the 100 TB path). */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    require(S.numeric.nonEmpty, "no numeric splits configured")
    val perTable = S.numeric.map { sp =>
      val tagged = withSide(table(spark, dir, sp.tableName), sp.ref)
      val med = tagged.filter(col("side") === "ref").agg(
        expr(s"percentile(${sp.cols.head}, 0.5)").as(s"med_${sp.cols.head}"),
        sp.cols.tail.map(c => expr(s"percentile($c, 0.5)").as(s"med_$c")): _*)
      val withMed = tagged.crossJoin(broadcast(med))
      val mad = withMed.filter(col("side") === "ref").agg(
        expr(s"percentile(abs(${sp.cols.head} - med_${sp.cols.head}), 0.5)").as(s"mad_${sp.cols.head}"),
        sp.cols.tail.map(c => expr(s"percentile(abs($c - med_$c), 0.5)").as(s"mad_$c")): _*)
      val aggs = sp.cols.flatMap { c =>
        val out = abs(col(c) - col(s"med_$c")) > lit(MadScale) * col(s"mad_$c")
        Seq(
          sum(when(col("side") === "ref" && col(c).isNotNull, 1L).otherwise(0L)).as(s"n_ref_$c"),
          sum(when(col("side") === "curr" && col(c).isNotNull, 1L).otherwise(0L)).as(s"n_curr_$c"),
          sum(when(col("side") === "ref" && out, 1L).otherwise(0L)).as(s"out_ref_$c"),
          sum(when(col("side") === "curr" && out, 1L).otherwise(0L)).as(s"out_curr_$c"),
          max(col(s"med_$c")).as(s"m_$c"),
          max(col(s"mad_$c")).as(s"d_$c"))
      }
      val one = withMed.crossJoin(broadcast(mad)).agg(aggs.head, aggs.tail: _*)
      val stack = s"stack(${sp.cols.size}, " + sp.cols.map(c =>
        s"'$c', m_$c, d_$c, n_ref_$c, out_ref_$c, n_curr_$c, out_curr_$c").mkString(", ") +
        ") AS (column_name, ref_median_raw, ref_mad_raw, ref_n, ref_outliers, curr_n, curr_outliers)"
      one.selectExpr(s"'${sp.tableName}' AS table_name", stack)
    }
    perTable.reduce(_ unionByName _).selectExpr(madFinalCols: _*)
      .orderBy("table_name", "column_name")
  }

  /** Final projection — IDENTICAL text in Spark selectExpr and DuckDB.
    * Rates guard the empty/all-NULL side: 0/0 is Spark NULL but DuckDB
    * NaN, so an unguarded division would split the engines. */
  private val refRate = "CASE WHEN ref_n = 0 THEN 0e0 ELSE ref_outliers * 1e0 / ref_n END"
  private val currRate = "CASE WHEN curr_n = 0 THEN 0e0 ELSE curr_outliers * 1e0 / curr_n END"
  private def madFinalCols: Seq[String] = Seq(
    "table_name", "column_name",
    "ROUND(ref_median_raw, 6) AS ref_median",
    "ROUND(ref_mad_raw, 6) AS ref_mad",
    "ref_n", "ref_outliers", "curr_n", "curr_outliers",
    s"ROUND($refRate, 6) AS ref_outlier_rate",
    s"ROUND($currRate, 6) AS curr_outlier_rate",
    s"ROUND(${relDiffSql(s"($refRate)", s"($currRate)")}, 6) AS outlier_rate_change")

  def madOutliersSql: String = {
    val ctes = S.numeric.map { sp =>
      val t = sp.tableName
      val medSel = sp.cols.map(c => s"quantile_cont($c, 0.5) AS med_$c").mkString(", ")
      val madSel = sp.cols.map(c => s"quantile_cont(ABS($c - med_$c), 0.5) AS mad_$c").mkString(", ")
      s"base_$t AS (SELECT *, CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side FROM $t), " +
        s"med_$t AS (SELECT $medSel FROM base_$t WHERE side = 'ref'), " +
        s"mad_$t AS (SELECT $madSel FROM base_$t, med_$t WHERE side = 'ref')"
    }.mkString(", ")
    val branches = S.numeric.flatMap { sp =>
      val t = sp.tableName
      sp.cols.map { c =>
        s"SELECT '$t' AS table_name, '$c' AS column_name, " +
          s"MAX(med_$c) AS ref_median_raw, MAX(mad_$c) AS ref_mad_raw, " +
          s"SUM(CASE WHEN side = 'ref' AND $c IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS ref_n, " +
          s"SUM(CASE WHEN side = 'ref' AND ABS($c - med_$c) > ${dlit(MadScale)} * mad_$c THEN 1 ELSE 0 END)::BIGINT AS ref_outliers, " +
          s"SUM(CASE WHEN side = 'curr' AND $c IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS curr_n, " +
          s"SUM(CASE WHEN side = 'curr' AND ABS($c - med_$c) > ${dlit(MadScale)} * mad_$c THEN 1 ELSE 0 END)::BIGINT AS curr_outliers " +
          s"FROM base_$t, med_$t, mad_$t"
      }
    }.mkString(" UNION ALL ")
    s"WITH $ctes SELECT ${madFinalCols.mkString(", ")} FROM ($branches) rows_ " +
      "ORDER BY table_name, column_name"
  }

  // -------------------------------------------------- mutual information

  /** The categorical pairs with ≥2 columns on one table (events has one). */
  private def miPairs: Seq[(String, String, String, Column, String)] =
    S.categorical.filter(_.cols.size >= 2).map { sp =>
      (sp.tableName, sp.cols(0), sp.cols(1), sp.ref, sp.refSql)
    }

  /** MI and NMI per categorical pair and snapshot side. All probabilities
    * are exact-integer ratios (cnt/n of longs — both engines compute the
    * identical IEEE quotient); only the final ≤|X×Y|-term sums are
    * order-sensitive, absorbed by the uniform 6-decimal rounding. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    require(miPairs.nonEmpty, "no table in the split config has >= 2 categorical columns")
    val rows = miPairs.map { case (t, cx, cy, ref, _) =>
      val cnt = withSide(table(spark, dir, t), ref)
        .groupBy("side", cx, cy).agg(count(lit(1)).as("cnt"))
      val enr = cnt.select(col("side"), col("cnt"),
        sum("cnt").over(Window.partitionBy("side")).as("n"),
        sum("cnt").over(Window.partitionBy("side", cx)).as("cx_cnt"),
        sum("cnt").over(Window.partitionBy("side", cy)).as("cy_cnt"))
      val mi = enr.groupBy("side").agg(
        sum(expr("(cnt * 1e0 / n) * ln((cnt * 1e0 / n) / ((cx_cnt * 1e0 / n) * (cy_cnt * 1e0 / n)))")).as("mi"))
      def entropy(c: String, alias: String) = cnt
        .groupBy(col("side"), col(c)).agg(sum("cnt").as("m"))
        .select(col("side"), col("m"), sum("m").over(Window.partitionBy("side")).as("n"))
        .groupBy("side").agg(sum(expr("-(m * 1e0 / n) * ln(m * 1e0 / n)")).as(alias))
      mi.join(entropy(cx, "hx"), "side").join(entropy(cy, "hy"), "side")
        .agg(
          max(when(col("side") === "ref", col("mi"))).as("ref_mi_raw"),
          max(when(col("side") === "curr", col("mi"))).as("curr_mi_raw"),
          max(when(col("side") === "ref", col("hx"))).as("ref_hx"),
          max(when(col("side") === "ref", col("hy"))).as("ref_hy"),
          max(when(col("side") === "curr", col("hx"))).as("curr_hx"),
          max(when(col("side") === "curr", col("hy"))).as("curr_hy"))
        .select(lit(t).as("table_name"), lit(cx).as("col_x"), lit(cy).as("col_y"),
          col("ref_mi_raw"), col("curr_mi_raw"),
          col("ref_hx"), col("ref_hy"), col("curr_hx"), col("curr_hy"))
    }
    rows.reduce(_ unionByName _).selectExpr(miFinalCols: _*).orderBy("table_name")
  }

  private def miFinalCols: Seq[String] = Seq(
    "table_name", "col_x", "col_y",
    "ROUND(ref_mi_raw, 6) AS ref_mi",
    "ROUND(curr_mi_raw, 6) AS curr_mi",
    "ROUND(CASE WHEN LEAST(ref_hx, ref_hy) > 0 THEN ref_mi_raw / LEAST(ref_hx, ref_hy) ELSE 0e0 END, 6) AS ref_nmi",
    "ROUND(CASE WHEN LEAST(curr_hx, curr_hy) > 0 THEN curr_mi_raw / LEAST(curr_hx, curr_hy) ELSE 0e0 END, 6) AS curr_nmi",
    s"ROUND(${relDiffSql("ref_mi_raw", "curr_mi_raw")}, 6) AS mi_change")

  def mutualInfoSql: String = {
    val ctes = miPairs.map { case (t, cx, cy, _, refSql) =>
      s"cnt_$t AS (SELECT CASE WHEN $refSql THEN 'ref' ELSE 'curr' END AS side, " +
        s"$cx, $cy, COUNT(*) AS cnt FROM $t GROUP BY 1, 2, 3), " +
        s"enr_$t AS (SELECT side, cnt, SUM(cnt) OVER (PARTITION BY side) AS n, " +
        s"SUM(cnt) OVER (PARTITION BY side, $cx) AS cx_cnt, " +
        s"SUM(cnt) OVER (PARTITION BY side, $cy) AS cy_cnt FROM cnt_$t), " +
        s"mi_$t AS (SELECT side, SUM((cnt * 1e0 / n) * LN((cnt * 1e0 / n) / ((cx_cnt * 1e0 / n) * (cy_cnt * 1e0 / n)))) AS mi FROM enr_$t GROUP BY 1), " +
        s"hx_$t AS (SELECT side, SUM(-(m * 1e0 / n) * LN(m * 1e0 / n)) AS hx FROM " +
        s"(SELECT side, m, SUM(m) OVER (PARTITION BY side) AS n FROM " +
        s"(SELECT side, $cx, SUM(cnt) AS m FROM cnt_$t GROUP BY 1, 2) a) b GROUP BY 1), " +
        s"hy_$t AS (SELECT side, SUM(-(m * 1e0 / n) * LN(m * 1e0 / n)) AS hy FROM " +
        s"(SELECT side, m, SUM(m) OVER (PARTITION BY side) AS n FROM " +
        s"(SELECT side, $cy, SUM(cnt) AS m FROM cnt_$t GROUP BY 1, 2) a) b GROUP BY 1), " +
        s"row_$t AS (SELECT '$t' AS table_name, '$cx' AS col_x, '$cy' AS col_y, " +
        "MAX(CASE WHEN j.side = 'ref' THEN mi END) AS ref_mi_raw, " +
        "MAX(CASE WHEN j.side = 'curr' THEN mi END) AS curr_mi_raw, " +
        "MAX(CASE WHEN j.side = 'ref' THEN hx END) AS ref_hx, " +
        "MAX(CASE WHEN j.side = 'ref' THEN hy END) AS ref_hy, " +
        "MAX(CASE WHEN j.side = 'curr' THEN hx END) AS curr_hx, " +
        "MAX(CASE WHEN j.side = 'curr' THEN hy END) AS curr_hy " +
        s"FROM mi_$t j JOIN hx_$t USING (side) JOIN hy_$t USING (side))"
    }.mkString(", ")
    val body = miPairs.map { case (t, _, _, _, _) => s"SELECT * FROM row_$t" }.mkString(" UNION ALL ")
    s"WITH $ctes SELECT ${miFinalCols.mkString(", ")} FROM ($body) rows_ ORDER BY table_name"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mad_outliers" -> ((s, d) => madOutliers(s, d)),
    "mutual_info" -> ((s, d) => mutualInfo(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "mad_outliers" -> madOutliersSql,
    "mutual_info" -> mutualInfoSql,
  )
}
