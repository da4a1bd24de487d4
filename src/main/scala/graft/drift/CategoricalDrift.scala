package graft.drift

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.drift.{splits => S}

/** Categorical distribution + drift operators (reference O15–O19, O22, O23,
  * O34, O35 — SURVEY.md §2.b; semantics from
  * /root/reference/categorical_analyzer.py, distribution_analyzer.py,
  * rare_event_analyzer.py).
  *
  * Scale design: the reference collects value counts to the driver and does
  * Python math (categorical_analyzer.py:323-335). Here every step — counts,
  * ref↔curr alignment, JS/χ² term sums — stays distributed, and every
  * column of a table goes through ONE stacked `groupBy(column_name, value)`
  * (map-side combined), so the exchanges do not grow with the column count.
  * Nothing driver-side except the final tiny result. Top-20 truncation (a
  * reference SEMANTIC, not just perf — SURVEY.md §8.9) is a rank-filter
  * with a deterministic (count desc, value asc) tie-break so Spark and the
  * DuckDB oracle agree.
  */
object CategoricalDrift extends graft.OperatorModule {

  /** Standard-profile defaults (/root/reference/categorical_analyzer.py:32-35). */
  val CategoryThreshold = 0.03
  val ChiSquarePValue = 0.05
  val NullThreshold = 0.005

  private def sideCountsSql(sp: S.CatSplit, c: String, nonNull: Boolean): String = {
    val where = if (nonNull) s"WHERE $c IS NOT NULL " else ""
    s"SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
      s"CAST($c AS VARCHAR) AS value, COUNT(*) AS cnt FROM ${sp.tableName} ${where}GROUP BY 1, 2"
  }

  // ---------------------------------------------------------- the census
  //
  // Every categorical query here, gate or pair, is a projection of ONE frame
  // per call — the census — plus a fixed handful of groupBy/window passes
  // keyed by column, so a call runs the same exchanges for 2 columns as for
  // 200, and each statistic has one implementation, a private `…Of(cen, …)`,
  // which the gate queries apply to the census of each table split, the
  // pair functions to that of `tagPair(ref, curr, cols)`, and
  // `DriftDetector.detectDrift` to its pair's [[localPairCensus]].
  //
  // Shape: one row per distinct (column_name, value) of the pair, the null
  // group kept, with `ref_cnt`/`curr_cnt` and, on every row, the column's
  // per-side rows (`ref_n`/`curr_n`) and non-null rows (`ref_nn`/`curr_nn`);
  // no reader re-aggregates the totals. It is bounded by the distinct values
  // of the (sampled) pair, the only bound of a string column. No consumer
  // filters the census on `value`: the filter would push below the census
  // aggregate and plan a second scan instead of reusing its exchange.

  /** Per-(column_name, value) counts of a side-tagged frame, null group kept:
    * `ref_cnt`/`curr_cnt` on one row. One stack, one groupBy. */
  private def censusCounts(tagged: DataFrame, cols: Seq[String]): DataFrame = {
    val rows = cols.map(c => s"${sqlStr(c)}, CAST(${sqlIdent(c)} AS STRING)").mkString(", ")
    tagged.select(col("side"), expr(s"stack(${cols.size}, $rows) AS (column_name, value)"))
      .groupBy("column_name", "value").agg(
        count(when(col("side") === "ref", 1)).as("ref_cnt"),
        count(when(col("side") === "curr", 1)).as("curr_cnt"))
  }

  /** The census totals: (field, the count it sums, over non-null values only). */
  private val totals = Seq(("ref_n", "ref_cnt", false), ("curr_n", "curr_cnt", false),
    ("ref_nn", "ref_cnt", true), ("curr_nn", "curr_cnt", true))

  /** The census of a side-tagged frame: the [[censusCounts]], and a
    * groupBy(column_name) over them, broadcast back, gives the [[totals]] —
    * no window keyed by column alone, so the values of a high-cardinality
    * column stay spread over tasks. A left join, so a reader that reads no
    * total plans none. */
  private[drift] def census(tagged: DataFrame, cols: Seq[String]): DataFrame = {
    // never false; the join infers it on the totals side, so stating it on
    // both sides keeps their counts one plan, which a scan of a file source
    // then runs once (the reused exchange PlanAuditSpec's scan pins see)
    val counts = censusCounts(tagged, cols).where(col("column_name").isNotNull)
    val sums = totals.map { case (n, cnt, nonNull) =>
      sum(if (nonNull) when(col("value").isNotNull, col(cnt)).otherwise(0L) else col(cnt)).as(n)
    }
    counts.join(broadcast(counts.groupBy("column_name").agg(sums.head, sums.tail: _*)),
      Seq("column_name"), "left")
  }

  /** The [[census]] of a snapshot pair, through `tagPair`. */
  private[drift] def pairCensus(ref: DataFrame, curr: DataFrame, cols: Seq[String]): DataFrame =
    census(tagPair(ref, curr, cols), cols)

  /** The [[census]] of a snapshot pair as a [[localFrame]], the copy
    * `DriftDetector.detectDrift` collects once: the [[totals]] are summed
    * over the collected counts, since over a cached pair Spark does not
    * reuse the counts' exchange for the totals side of [[census]]'s join. */
  private[graft] def localPairCensus(ref: DataFrame, curr: DataFrame, cols: Seq[String]): DataFrame = {
    val counts = censusCounts(tagPair(ref, curr, cols), cols)
    val rows = counts.collect().toSeq
    val sums = rows.groupBy(_.getAs[String]("column_name")).map { case (c, rs) =>
      c -> Row.fromSeq(totals.map { case (_, cnt, nonNull) =>
        rs.filter(r => !nonNull || r.getAs[String]("value") != null).map(_.getAs[Long](cnt)).sum }) }
    localFrame(counts.sparkSession, rows.map(r => Row.merge(r, sums(r.getAs[String]("column_name")))),
      totals.foldLeft(counts.schema)((st, t) => st.add(t._1, LongType)))
  }

  /** The census of each categorical split of the gate tables. */
  private[drift] def splitCensus(spark: SparkSession, dir: String, sp: S.CatSplit): DataFrame =
    census(withSide(table(spark, dir, sp.tableName), sp.ref), sp.cols)

  /** The census plus each side's top-20 probabilities over its non-null
    * values: `p`/`q` are NULL outside that side's top 20 (by count desc,
    * value asc). Each side's top 20 is ranked per (column, side), so the
    * rank is limited before its exchange and no task sorts a whole column,
    * and is broadcast back onto the census rows. */
  private def top20Rows(cen: DataFrame): DataFrame = {
    // the null group drops out through `cnt`, not through a `value` filter
    val top = cen
      .select(col("column_name"), col("value"), expr("stack(2, " +
        "'ref', CASE WHEN value IS NOT NULL THEN ref_cnt END, " +
        "'curr', CASE WHEN value IS NOT NULL THEN curr_cnt END) AS (side, cnt)"))
      .filter(col("cnt") > 0)
      .withColumn("rk", row_number().over(
        Window.partitionBy("column_name", "side").orderBy(col("cnt").desc, col("value").asc)))
      .filter(col("rk") <= 20)
      .groupBy("column_name", "value").agg(
        max(col("side") === "ref").as("ref_top"), max(col("side") === "curr").as("curr_top"))
    cen.join(broadcast(top), Seq("column_name", "value"), "left")
      .selectExpr("*", "CASE WHEN ref_top THEN ref_cnt * 1e0 / ref_nn END AS p",
        "CASE WHEN curr_top THEN curr_cnt * 1e0 / curr_nn END AS q")
  }

  /** One row per column of a census, in one groupBy(column_name):
    *   - the top-20 JS divergence (O17 as called by O19), the top-20
    *     supports' sizes (`ref_k`, `curr_k`), overlap (`common_k`,
    *     `new_k`, `missing_k`) and entropies;
    *   - each side's distinct non-null values;
    *   - χ² and its dof over the non-null values, each side's non-null
    *     total as its sum;
    *   - the totals and each side's null proportion.
    * Consumers select what they read and column pruning drops the rest. A
    * column with no non-null value keeps the NULL divergence its empty
    * top-20 sum gives, and a side without rows the NULL null proportion. */
  private def columnStats(cen: DataFrame): DataFrame = {
    def entropy(p: String) = coalesce(sum(expr(s"-$p * log2($p)")), lit(0.0))
    def distinct(cnt: String) = count(when(col("value").isNotNull && col(cnt) > 0, 1))
    top20Rows(cen).selectExpr("*", "ref_nn AS ref_sum", "curr_nn AS curr_sum")
      .selectExpr("*", s"CASE WHEN value IS NOT NULL THEN $chiCellSql END AS cell")
      .groupBy("column_name")
      .agg(expr(s"CASE WHEN COUNT(p) + COUNT(q) > 0 THEN SQRT(($jsKlPm + $jsKlQm) / 2) END")
          .as("js_divergence"),
        count(col("p")).as("ref_k"), count(col("q")).as("curr_k"),
        count(when(col("p").isNotNull && col("q").isNotNull, 1)).as("common_k"),
        count(when(col("q").isNotNull && col("p").isNull, 1)).as("new_k"),
        count(when(col("p").isNotNull && col("q").isNull, 1)).as("missing_k"),
        entropy("p").as("ref_entropy"), entropy("q").as("curr_entropy"),
        distinct("ref_cnt").as("ref_distinct"), distinct("curr_cnt").as("curr_distinct"),
        expr(chiSumSql).as("chi_square"), (count(col("value")) - 1).as("dof"),
        max("ref_n").as("ref_n"), max("curr_n").as("curr_n"),
        max("ref_nn").as("ref_nn"), max("curr_nn").as("curr_nn"))
      .selectExpr("*", "CASE WHEN ref_n > 0 THEN (ref_n - ref_nn) * 1e0 / ref_n END AS ref_null_prop",
        "CASE WHEN curr_n > 0 THEN (curr_n - curr_nn) * 1e0 / curr_n END AS curr_null_prop")
  }

  /** Per-value counts and frequencies over all rows, absent side → NULL. */
  private def freqPivotOf(cen: DataFrame): DataFrame =
    cen.selectExpr("column_name", "value",
      "CASE WHEN ref_cnt > 0 THEN ref_cnt END AS ref_cnt0",
      "CASE WHEN curr_cnt > 0 THEN curr_cnt END AS curr_cnt0",
      "CASE WHEN ref_cnt > 0 THEN ref_cnt * 1e0 / ref_n END AS ref_freq0",
      "CASE WHEN curr_cnt > 0 THEN curr_cnt * 1e0 / curr_n END AS curr_freq0")

  private val pivotCountsSql =
    "SELECT value, COALESCE(SUM(CASE WHEN side = 'ref' THEN cnt END), 0)::BIGINT AS ref_cnt, " +
      "COALESCE(SUM(CASE WHEN side = 'curr' THEN cnt END), 0)::BIGINT AS curr_cnt " +
      "FROM cnts GROUP BY value"

  // ----------------------------------------------- value_counts (O15 base)

  /** Per-side value counts + relative frequency over non-null rows. */
  def valueCounts(spark: SparkSession, dir: String): DataFrame = {
    val per = S.categorical.map { sp =>
      splitCensus(spark, dir, sp)
        .select(col("column_name"), col("value"), expr("stack(2, " +
          "'ref', CASE WHEN value IS NOT NULL THEN ref_cnt END, ref_nn, " +
          "'curr', CASE WHEN value IS NOT NULL THEN curr_cnt END, curr_nn) AS (side, cnt, total)"))
        .filter(col("cnt") > 0)
        .select(lit(sp.tableName).as("table_name"), col("column_name"),
          col("side"), col("value"), col("cnt"),
          r6(col("cnt") / col("total")).as("freq"))
    }
    per.reduce(_ union _).orderBy("table_name", "column_name", "side", "value")
  }

  def valueCountsSql: String = {
    val per = for (sp <- S.categorical; c <- sp.cols) yield
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, side, value, cnt, " +
        "ROUND(cnt * 1e0 / SUM(cnt) OVER (PARTITION BY side), 6) AS freq " +
        s"FROM (${sideCountsSql(sp, c, nonNull = true)}) t"
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name, side, value")
  }

  // -------------------------------------------- topk_entropy (O15 profile)

  /** Full-table distribution profile: null stats, distinct count, top-20
    * entropy. The entropy is over the TOP-20 probabilities only (probs need
    * not sum to 1) — a reference semantic preserved deliberately
    * (/root/reference/categorical_analyzer.py:151-167, SURVEY.md §8.9). */
  private val profileTables: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq("l_returnflag", "l_linestatus"),
    "orders" -> Seq("o_orderstatus", "o_orderpriority"),
    "customer" -> Seq("c_mktsegment"),
    "nation" -> Seq("n_name"),
    "part" -> Seq("p_brand"),
    "events" -> Seq("event_type"),
    "documents" -> Seq("lang", "source"),
  )

  def topkEntropy(spark: SparkSession, dir: String, approx: Boolean = false): DataFrame = {
    val per = profileTables.map { case (t, cols) =>
      val rows = cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ")
      // uncached: the base profile and the entropy branch share the count
      // exchange (ReusedExchange) — see NumericDrift.driftScoreFrame
      val cnts = table(spark, dir, t)
        .select(expr(s"stack(${cols.size}, $rows) as (column_name, value)"))
        .groupBy("column_name", "value").agg(count(lit(1)).as("cnt"))
      // exact: distinct_count = group count over the cnts frame. Scale path
      // (approx=true, the bench surface): an id-like profiled column makes
      // every per-value group survive into `cnts` only for the top-20 rank,
      // while the DISTINCT COUNT comes from approx_count_distinct's
      // fixed-size HLL sketch in ONE raw-table agg — no cardinality-sized
      // frame feeds the base profile (same flip as token_stats' vocabulary).
      val base =
        if (!approx) cnts.groupBy("column_name").agg(
          sum("cnt").as("n_total"),
          coalesce(sum(when(col("value").isNull, col("cnt"))), lit(0L)).as("n_null"),
          count(when(col("value").isNotNull, 1)).as("distinct_count"))
        else {
          val aggs = count(lit(1)).as("n_total") +: cols.flatMap { c =>
            Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__null"),
              approx_count_distinct(col(c)).as(s"${c}__dc"))
          }
          val stackRows = cols.map(c => s"'$c', ${c}__null, ${c}__dc").mkString(", ")
          table(spark, dir, t).agg(aggs.head, aggs.tail: _*)
            .select(col("n_total"),
              expr(s"stack(${cols.size}, $stackRows) as (column_name, n_null, distinct_count)"))
            .select(col("column_name"), col("n_total"), col("n_null"), col("distinct_count"))
            // the global agg always returns one row; drop it for an EMPTY
            // table so the approx surface matches the exact branch's shape
            // (whose groupBy yields no rows) instead of emitting phantom
            // (n_total=0, n_null=NULL) columns
            .filter(col("n_total") > 0)
        }
      val entropy = cnts.filter(col("value").isNotNull)
        .withColumn("rk", row_number().over(
          Window.partitionBy("column_name").orderBy(col("cnt").desc, col("value").asc)))
        .filter(col("rk") <= 20)
        .join(base.select(col("column_name"), (col("n_total") - col("n_null")).as("nn")), "column_name")
        .groupBy("column_name")
        .agg(coalesce(sum(expr("-(cnt * 1e0 / nn) * log2(cnt * 1e0 / nn)")), lit(0.0)).as("entropy"))
      base.join(entropy, Seq("column_name"), "left")
        .select(lit(t).as("table_name"), col("column_name"),
          col("n_total"), col("n_null"),
          r6(col("n_null") * 1e0 / col("n_total")).as("null_proportion"),
          col("distinct_count"),
          r6(coalesce(col("entropy"), lit(0.0))).as("entropy_top20"))
    }
    per.reduce(_ union _).orderBy("table_name", "column_name")
  }

  def topkEntropySql: String = {
    val per = for ((t, cols) <- profileTables; c <- cols) yield
      s"SELECT '$t' AS table_name, '$c' AS column_name, b.n_total, b.n_null, " +
        "ROUND(b.n_null * 1e0 / b.n_total, 6) AS null_proportion, d.distinct_count, " +
        "ROUND(e.entropy, 6) AS entropy_top20 FROM " +
        s"(SELECT COUNT(*) AS n_total, SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null FROM $t) b, " +
        s"(SELECT COUNT(*) AS distinct_count FROM (SELECT $c FROM $t WHERE $c IS NOT NULL GROUP BY 1) x) d, " +
        "(SELECT COALESCE(SUM(-(cnt * 1e0 / nn) * LOG2(cnt * 1e0 / nn)), 0.0) AS entropy FROM " +
        s"(SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, value ASC) AS rk FROM " +
        s"(SELECT CAST($c AS VARCHAR) AS value, COUNT(*) AS cnt FROM $t WHERE $c IS NOT NULL GROUP BY 1) vc) r, " +
        s"(SELECT COUNT($c) AS nn FROM $t) n WHERE r.rk <= 20) e"
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name")
  }

  // ------------------------------- dist_diff + category_changes (O16/O17)

  private def top20DistsSql(sp: S.CatSplit, c: String): String =
    s"SELECT value, MAX(CASE WHEN side = 'ref' THEN prob END) AS p, " +
      "MAX(CASE WHEN side = 'curr' THEN prob END) AS q FROM " +
      "(SELECT side, value, cnt * 1e0 / SUM(cnt) OVER (PARTITION BY side) AS prob, " +
      "ROW_NUMBER() OVER (PARTITION BY side ORDER BY cnt DESC, value ASC) AS rk " +
      s"FROM (${sideCountsSql(sp, c, nonNull = true)}) t) r WHERE rk <= 20 GROUP BY value"

  /** O16 distribution-diff summary per split column (top-20 supports). */
  def distDiff(spark: SparkSession, dir: String): DataFrame =
    S.categorical.map { sp =>
      columnStats(splitCensus(spark, dir, sp))
        .select(lit(sp.tableName).as("table_name"), col("*"))
        .selectExpr(distDiffFinal: _*)
    }.reduce(_ union _).orderBy("table_name", "column_name")

  private val distDiffFinal: Seq[String] = Seq(
    "table_name", "column_name",
    "curr_k - common_k AS new_categories_count",
    "ROUND((curr_k - common_k) * 1e0 / NULLIF(ref_k, 0), 6) AS new_categories_ratio",
    "ref_k - common_k AS missing_categories_count",
    "ROUND((ref_k - common_k) * 1e0 / NULLIF(ref_k, 0), 6) AS missing_categories_ratio",
    "common_k AS common_categories_count",
    "ROUND(curr_null_prop - ref_null_prop, 6) AS null_proportion_diff",
    "ROUND(ref_entropy, 6) AS ref_entropy", "ROUND(curr_entropy, 6) AS curr_entropy",
    "ROUND(curr_entropy - ref_entropy, 6) AS entropy_diff",
    "ROUND(CASE WHEN ref_entropy > 0 THEN (curr_entropy - ref_entropy) / ref_entropy ELSE 0 END, 6) AS entropy_rel_diff",
    "curr_distinct - ref_distinct AS distinct_count_diff",
    "ROUND(CASE WHEN ref_distinct > 0 THEN (curr_distinct - ref_distinct) * 1e0 / ref_distinct ELSE 0 END, 6) AS distinct_count_rel_diff")

  def distDiffSql: String = {
    val per = for (sp <- S.categorical; c <- sp.cols) yield {
      val inner =
        s"(SELECT SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS ref_k, " +
          "SUM(CASE WHEN q IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS curr_k, " +
          "SUM(CASE WHEN p IS NOT NULL AND q IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS common_k, " +
          "COALESCE(SUM(CASE WHEN p IS NOT NULL THEN -p * LOG2(p) END), 0.0) AS ref_entropy, " +
          "COALESCE(SUM(CASE WHEN q IS NOT NULL THEN -q * LOG2(q) END), 0.0) AS curr_entropy " +
          s"FROM (${top20DistsSql(sp, c)}) d) s, " +
          "(SELECT COALESCE(MAX(CASE WHEN side = 'ref' THEN k END), 0)::BIGINT AS ref_distinct, " +
          "COALESCE(MAX(CASE WHEN side = 'curr' THEN k END), 0)::BIGINT AS curr_distinct FROM " +
          s"(SELECT side, COUNT(*) AS k FROM (${sideCountsSql(sp, c, nonNull = true)}) cc GROUP BY side) kk) dd, " +
          "(SELECT MAX(CASE WHEN side = 'ref' THEN nl * 1e0 / n END) AS ref_null_prop, " +
          "MAX(CASE WHEN side = 'curr' THEN nl * 1e0 / n END) AS curr_null_prop FROM " +
          s"(SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, COUNT(*) AS n, " +
          s"SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS nl FROM ${sp.tableName} GROUP BY 1) nn) np"
      s"SELECT ${distDiffFinal.mkString(", ")} FROM " +
        s"(SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, * FROM $inner) z"
    }
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name")
  }

  /** O16 per-common-category changes, top-10 by |abs_diff| (deterministic
    * tie-break on category). */
  def categoryChanges(spark: SparkSession, dir: String): DataFrame = {
    val per = S.categorical.map { sp =>
      top20Rows(splitCensus(spark, dir, sp))
        .filter(col("p").isNotNull && col("q").isNotNull)
        .selectExpr("column_name", "value AS category", "p AS ref_prob", "q AS curr_prob",
          "q - p AS abs_diff",
          "CASE WHEN p > 0 THEN (q - p) / p WHEN q > 0 THEN 1.0 ELSE 0.0 END AS rel_diff")
        .withColumn("rk", row_number().over(
          Window.partitionBy("column_name").orderBy(abs(col("abs_diff")).desc, col("category").asc)))
        .filter(col("rk") <= 10)
        .select(lit(sp.tableName).as("table_name"), col("column_name"),
          col("category"), r6(col("ref_prob")).as("ref_prob"), r6(col("curr_prob")).as("curr_prob"),
          r6(col("abs_diff")).as("abs_diff"), r6(col("rel_diff")).as("rel_diff"), col("rk"))
    }
    per.reduce(_ union _).orderBy("table_name", "column_name", "rk")
  }

  def categoryChangesSql: String = {
    val per = for (sp <- S.categorical; c <- sp.cols) yield
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, category, " +
        "ROUND(ref_prob, 6) AS ref_prob, ROUND(curr_prob, 6) AS curr_prob, " +
        "ROUND(abs_diff, 6) AS abs_diff, ROUND(rel_diff, 6) AS rel_diff, rk FROM " +
        "(SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(abs_diff) DESC, category ASC) AS rk FROM " +
        "(SELECT value AS category, p AS ref_prob, q AS curr_prob, q - p AS abs_diff, " +
        "CASE WHEN p > 0 THEN (q - p) / p WHEN q > 0 THEN 1.0 ELSE 0.0 END AS rel_diff " +
        s"FROM (${top20DistsSql(sp, c)}) d WHERE p IS NOT NULL AND q IS NOT NULL) x) y WHERE rk <= 10"
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name, rk")
  }

  // --------------------------------------------------- js_full (O22)

  /** Full-support JS distance (frequencies over ALL rows incl. the null
    * group — /root/reference/distribution_analyzer.py:229-319). */
  def jsFull(spark: SparkSession, dir: String): DataFrame =
    S.categorical.map(sp => jsFullOf(splitCensus(spark, dir, sp), sp.tableName, 0.1))
      .reduce(_ union _).orderBy("table_name", "column_name")

  /** O22 per column of a census: the full-support distributions, in one
    * groupBy(column_name). */
  private def jsFullOf(cen: DataFrame, label: String, threshold: Double): DataFrame =
    cen.selectExpr("column_name",
        "CASE WHEN ref_cnt > 0 THEN ref_cnt * 1e0 / ref_n END AS p",
        "CASE WHEN curr_cnt > 0 THEN curr_cnt * 1e0 / curr_n END AS q")
      .groupBy("column_name")
      .agg(expr(s"SQRT(($jsKlPm + $jsKlQm) / 2)").as("js_distance"),
        sum(when(col("p").isNull, 1).otherwise(0)).as("new_values_count"),
        sum(when(col("q").isNull, 1).otherwise(0)).as("disappeared_values_count"))
      .select(lit(label).as("table_name"), col("column_name"),
        r6(col("js_distance")).as("js_distance"),
        (col("js_distance") > threshold).as("significant_change"),
        col("new_values_count").cast("long"), col("disappeared_values_count").cast("long"))

  private val jsKlPm =
    "SUM(CASE WHEN COALESCE(p, 0) > 0 AND (COALESCE(p, 0) + COALESCE(q, 0)) > 0 " +
      "THEN COALESCE(p, 0) * LOG2(COALESCE(p, 0) / ((COALESCE(p, 0) + COALESCE(q, 0)) / 2)) ELSE 0 END)"
  private val jsKlQm =
    "SUM(CASE WHEN COALESCE(q, 0) > 0 AND (COALESCE(p, 0) + COALESCE(q, 0)) > 0 " +
      "THEN COALESCE(q, 0) * LOG2(COALESCE(q, 0) / ((COALESCE(p, 0) + COALESCE(q, 0)) / 2)) ELSE 0 END)"

  def jsFullSql: String = {
    val per = for (sp <- S.categorical; c <- sp.cols) yield
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, " +
        s"ROUND(SQRT(($jsKlPm + $jsKlQm) / 2), 6) AS js_distance, " +
        s"(SQRT(($jsKlPm + $jsKlQm) / 2) > 0.1) AS significant_change, " +
        "SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END)::BIGINT AS new_values_count, " +
        "SUM(CASE WHEN q IS NULL THEN 1 ELSE 0 END)::BIGINT AS disappeared_values_count FROM " +
        "(SELECT value, MAX(CASE WHEN side = 'ref' THEN prob END) AS p, " +
        "MAX(CASE WHEN side = 'curr' THEN prob END) AS q FROM " +
        "(SELECT side, value, cnt * 1e0 / SUM(cnt) OVER (PARTITION BY side) AS prob " +
        s"FROM (${sideCountsSql(sp, c, nonNull = false)}) t) f GROUP BY value) d"
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name")
  }

  /** Generic O22 full-support JS distance for an arbitrary snapshot pair
    * (the nested report's categorical distribution module,
    * /root/reference/distribution_analyzer.py:229-319), from one census. */
  def jsFullForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair", threshold: Double = 0.1): DataFrame =
    jsFullOfPair(pairCensus(ref, curr, cols), label, threshold)

  /** [[jsFullForPair]] of a pair's [[pairCensus]]. */
  private[drift] def jsFullOfPair(cen: DataFrame, label: String = "pair",
      threshold: Double = 0.1): DataFrame =
    jsFullOf(cen, label, threshold).orderBy("column_name")

  /** O22 top increased/decreased values over the FULL support (frequencies
    * over all rows incl. nulls): top-5 each way per column
    * (/root/reference/distribution_analyzer.py:287-299). */
  def topMovers(spark: SparkSession, dir: String): DataFrame = {
    val per = S.categorical.map { sp =>
      val dists = freqPivotOf(splitCensus(spark, dir, sp))
        .filter(col("ref_freq0").isNotNull && col("curr_freq0").isNotNull)
        .withColumn("diff", col("curr_freq0") - col("ref_freq0"))
      val inc = dists.filter(col("diff") > 0)
        .withColumn("rk", row_number().over(
          Window.partitionBy("column_name").orderBy(col("diff").desc, col("value").asc)))
        .filter(col("rk") <= 5).withColumn("direction", lit("increased"))
      val dec = dists.filter(col("diff") < 0)
        .withColumn("rk", row_number().over(
          Window.partitionBy("column_name").orderBy(col("diff").asc, col("value").asc)))
        .filter(col("rk") <= 5).withColumn("direction", lit("decreased"))
      inc.union(dec)
        .select(lit(sp.tableName).as("table_name"), col("column_name"),
          col("direction"), col("rk"), col("value"), r6(abs(col("diff"))).as("abs_prob_change"))
    }
    per.reduce(_ union _).orderBy("table_name", "column_name", "direction", "rk")
  }

  def topMoversSql: String = {
    val per = for (sp <- S.categorical; c <- sp.cols) yield {
      val dists = "SELECT value, MAX(CASE WHEN side = 'ref' THEN prob END) AS p, " +
        "MAX(CASE WHEN side = 'curr' THEN prob END) AS q FROM " +
        "(SELECT side, value, cnt * 1e0 / SUM(cnt) OVER (PARTITION BY side) AS prob " +
        s"FROM (${sideCountsSql(sp, c, nonNull = false)}) t) f GROUP BY value"
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, direction, rk, value, " +
        "ROUND(ABS(diff), 6) AS abs_prob_change FROM " +
        "(SELECT value, diff, 'increased' AS direction, " +
        "ROW_NUMBER() OVER (ORDER BY diff DESC, value ASC) AS rk FROM " +
        s"(SELECT value, q - p AS diff FROM ($dists) d WHERE p IS NOT NULL AND q IS NOT NULL) x WHERE diff > 0 " +
        "UNION ALL SELECT value, diff, 'decreased', " +
        "ROW_NUMBER() OVER (ORDER BY diff ASC, value ASC) FROM " +
        s"(SELECT value, q - p AS diff FROM ($dists) d2 WHERE p IS NOT NULL AND q IS NOT NULL) y WHERE diff < 0) m " +
        "WHERE rk <= 5"
    }
    s"SELECT * FROM (${per.mkString(" UNION ALL ")}) u ORDER BY table_name, column_name, direction, rk"
  }

  // --------------------------------------------------- chi_square (O18)

  /** χ² homogeneity statistic + the reference's banded p-value approximation
    * (/root/reference/categorical_analyzer.py:305-437), fully distributed. */
  private val chiCv =
    "CASE WHEN dof > 10 THEN dof + SQRT(2.0 * dof) WHEN dof = 1 THEN 3.84 WHEN dof = 2 THEN 5.99 " +
      "WHEN dof = 3 THEN 7.81 WHEN dof = 4 THEN 9.49 WHEN dof = 5 THEN 11.07 WHEN dof = 6 THEN 12.59 " +
      "WHEN dof = 7 THEN 14.07 WHEN dof = 8 THEN 15.51 WHEN dof = 9 THEN 16.92 WHEN dof = 10 THEN 18.31 " +
      "ELSE 3.84 END"

  /** The reference's banded χ² p-value of `chi_square` and `dof`. */
  private val chiBandSql = "CASE WHEN chi_square < 0.001 THEN 1.0 " +
    s"WHEN chi_square > 3 * ($chiCv) THEN 0.001 WHEN chi_square > 2 * ($chiCv) THEN 0.01 " +
    s"WHEN chi_square > ($chiCv) THEN 0.05 " +
    s"ELSE LEAST(1.0, GREATEST(0.05, 1.0 - (chi_square / ($chiCv)) * 0.95)) END"

  private val chiFinal: Seq[String] = Seq(
    "table_name", "column_name", pr6Sql("chi_square") + " AS chi_square", "dof",
    pr6Sql(chiBandSql) + " AS p_value")

  // χ² exactness contract: the cell term is built ONLY from IEEE
  // correctly-rounded ops on exact integer counts (CAST-to-double, *, -, /;
  // no POW — Math.pow/std::pow are 1-ulp loose and engine-specific), the
  // per-column sum is an exact micro-unit integer SUM (microSumDoubleSql —
  // commutative, so partial-agg order and any engine's fold internals are
  // irrelevant; χ² ≤ N keeps the scaled sum far under 2⁵³), and the final
  // rounding is the floor-based pr6Sql — so the whole statistic is
  // bit-identical across Spark and any DuckDB version.
  private val chiExpRef =
    "((CAST(ref_sum AS DOUBLE) * CAST(ref_cnt + curr_cnt AS DOUBLE)) / CAST(ref_sum + curr_sum AS DOUBLE))"
  private val chiExpCurr =
    "((CAST(curr_sum AS DOUBLE) * CAST(ref_cnt + curr_cnt AS DOUBLE)) / CAST(ref_sum + curr_sum AS DOUBLE))"
  private val chiCellSql =
    s"CASE WHEN $chiExpRef >= 5 AND $chiExpCurr >= 5 THEN " +
      s"((CAST(ref_cnt AS DOUBLE) - $chiExpRef) * (CAST(ref_cnt AS DOUBLE) - $chiExpRef)) / $chiExpRef + " +
      s"((CAST(curr_cnt AS DOUBLE) - $chiExpCurr) * (CAST(curr_cnt AS DOUBLE) - $chiExpCurr)) / $chiExpCurr " +
      "ELSE 0e0 END"
  // ONE definition of the exact-sum contract, shared text on both engines
  private val chiSumSql = microSumDoubleSql("cell")

  /** Lanczos log-gamma (g=7, n=9 — the standard public coefficients). */
  private def logGamma(x: Double): Double = {
    val g = Array(
      0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    if (x < 0.5)
      math.log(math.Pi / math.sin(math.Pi * x)) - logGamma(1.0 - x)
    else {
      val z = x - 1.0
      var a = g(0)
      for (i <- 1 until 9) a += g(i) / (z + i)
      val t = z + 7.5
      0.5 * math.log(2 * math.Pi) + (z + 0.5) * math.log(t) - t + math.log(a)
    }
  }

  /** Regularized upper incomplete gamma Q(a, x): series for the lower tail
    * when x < a+1, modified-Lentz continued fraction otherwise (the
    * textbook split — each converges fast on its side). */
  private[graft] def gammaQ(a: Double, x: Double): Double = {
    require(a > 0 && x >= 0, s"gammaQ($a, $x)")
    if (x == 0) return 1.0
    val gln = logGamma(a)
    // both expansions need O(sqrt(a)) terms in the worst case (x near a);
    // a fixed cap would silently return an unconverged value for
    // thousand-dof inputs, so the budget scales and exhaustion THROWS
    val itMax = math.min(1000L + (10 * math.sqrt(a)).toLong, Int.MaxValue.toLong).toInt
    if (x < a + 1.0) {
      var ap = a; var sum = 1.0 / a; var del = sum; var n = 0
      while (n < itMax && math.abs(del) > math.abs(sum) * 1e-15) {
        ap += 1; del *= x / ap; sum += del; n += 1
      }
      if (math.abs(del) > math.abs(sum) * 1e-15)
        throw new IllegalStateException(s"gammaQ($a, $x): series not converged in $itMax terms")
      1.0 - sum * math.exp(-x + a * math.log(x) - gln)
    } else {
      val FPMIN = 1e-300
      var b = x + 1.0 - a; var c = 1.0 / FPMIN; var d = 1.0 / b; var h = d
      var i = 1; var done = false
      while (i <= itMax && !done) {
        val an = -i * (i - a)
        b += 2.0
        d = an * d + b; if (math.abs(d) < FPMIN) d = FPMIN
        c = b + an / c; if (math.abs(c) < FPMIN) c = FPMIN
        d = 1.0 / d
        val del = d * c
        h *= del
        if (math.abs(del - 1.0) < 1e-15) done = true
        i += 1
      }
      if (!done)
        throw new IllegalStateException(s"gammaQ($a, $x): continued fraction not converged in $itMax terms")
      math.exp(-x + a * math.log(x) - gln) * h
    }
  }

  /** Exact χ² survival function P[X > chi] = Q(dof/2, chi/2). */
  private[graft] def chi2PValue(chi: Double, dof: Long): Double =
    if (dof <= 0 || chi <= 0) 1.0 else gammaQ(dof / 2.0, chi / 2.0)

  private val pExact = udf((chi: Double, dof: Long) => chi2PValue(chi, dof))

  /** `exactPValue = false` (default, the oracle surface) keeps the
    * reference's banded p-value table verbatim — the bands ARE the contract
    * (categorical_analyzer.py:395-437). `exactPValue = true` swaps in the
    * true survival function via [[chi2PValue]]; DriftMathSpec pins it to
    * the bands' critical values (each cv row is the exact 0.05 quantile). */
  def chiSquare(spark: SparkSession, dir: String, exactPValue: Boolean = false): DataFrame = {
    val per = S.categorical.map { sp =>
      val base = columnStats(splitCensus(spark, dir, sp))
        .select(lit(sp.tableName).as("table_name"), col("column_name"),
          col("chi_square"), col("dof"))
      if (exactPValue)
        base.select(col("table_name"), col("column_name"),
          r6(col("chi_square")).as("chi_square"), col("dof"),
          r6(pExact(col("chi_square"), col("dof"))).as("p_value"))
      else base.selectExpr(chiFinal: _*)
    }
    per.reduce(_ union _).orderBy("table_name", "column_name")
  }

  def chiSquareSql: String = {
    val per = for (sp <- S.categorical; c <- sp.cols) yield
      s"SELECT ${chiFinal.mkString(", ")} FROM (" +
        s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, " +
        s"$chiSumSql AS chi_square, " +
        "COUNT(*) - 1 AS dof FROM " +
        s"(SELECT value, $chiCellSql AS cell FROM " +
        s"(WITH cnts AS (${sideCountsSql(sp, c, nonNull = true)}) $pivotCountsSql) piv, " +
        s"(WITH cnts AS (${sideCountsSql(sp, c, nonNull = true)}) " +
        "SELECT SUM(CASE WHEN side = 'ref' THEN cnt ELSE 0 END) AS ref_sum, " +
        "SUM(CASE WHEN side = 'curr' THEN cnt ELSE 0 END) AS curr_sum FROM cnts) tot) e) z"
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name")
  }

  // ------------------------------------------- categorical_drift (O19)

  /** O19 verdict + weighted score, assembled from the O15/O17/O18 pieces. A
    * NULL term (a side without rows or without a non-null value has no JS
    * divergence, null difference or category ratio) scores 0 and detects
    * nothing: `LEAST` skips NULL arguments, so an unguarded NULL term would
    * score its full weight. */
  private val o19Final: Seq[String] = {
    val chiScore = "CASE WHEN p_value <= 0.001 THEN 1.0 WHEN p_value <= 0.01 THEN 0.8 " +
      "WHEN p_value <= 0.05 THEN 0.6 WHEN p_value <= 0.1 THEN 0.3 ELSE 0.0 END"
    val score = s"LEAST(1.0, 0.4 * LEAST(1.0, COALESCE(js_divergence, 0) * 4) + 0.3 * ($chiScore) + " +
      "0.1 * LEAST(1.0, COALESCE(ABS(null_diff), 0) * 10) + " +
      "0.2 * LEAST(1.0, COALESCE(GREATEST(new_ratio, missing_ratio), 0) * 2))"
    val conds = Seq(
      s"js_divergence > $CategoryThreshold" -> "distribution_change",
      s"p_value < $ChiSquarePValue" -> "statistical_significance",
      s"ABS(null_diff) > $NullThreshold" -> "null_proportion",
      s"new_ratio > $CategoryThreshold" -> "new_categories",
      s"missing_ratio > $CategoryThreshold" -> "missing_categories")
    val causes = conds.map { case (cond, n) => s"CASE WHEN $cond THEN '$n' END" }
      .mkString("CONCAT_WS(',', ", ", ", ")")
    Seq("table_name", "column_name",
      "ROUND(js_divergence, 6) AS js_divergence", "ROUND(p_value, 6) AS chi_p_value",
      "ROUND(null_diff, 6) AS null_proportion_diff",
      "ROUND(new_ratio, 6) AS new_categories_ratio", "ROUND(missing_ratio, 6) AS missing_categories_ratio",
      s"COALESCE(${conds.map(_._1).mkString(" OR ")}, false) AS drift_detected",
      s"$causes AS drift_causes",
      s"ROUND($score, 6) AS drift_score",
      s"${severitySql(score)} AS drift_severity")
  }

  def categoricalDrift(spark: SparkSession, dir: String): DataFrame =
    categoricalDriftFrame(spark, dir).orderBy("table_name", "column_name")

  /** [[categoricalDrift]] without the final sort (see
    * NumericDrift.driftScoreFrame for why Report's cache wants it). */
  private[drift] def categoricalDriftFrame(spark: SparkSession, dir: String): DataFrame =
    S.categorical.map(sp => categoricalDriftOf(splitCensus(spark, dir, sp), sp.tableName, false))
      .reduce(_ union _)

  /** O19 per column of a census: a projection of [[columnStats]]. */
  private def categoricalDriftOf(cen: DataFrame, label: String, exactPValue: Boolean): DataFrame = {
    val pValue = if (exactPValue) pExact(col("chi_square"), col("dof")) else expr(chiBandSql)
    columnStats(cen).select(lit(label).as("table_name"), col("column_name"),
        col("js_divergence"), pValue.as("p_value"),
        (col("curr_null_prop") - col("ref_null_prop")).as("null_diff"),
        expr("new_k * 1e0 / NULLIF(ref_k, 0)").as("new_ratio"),
        expr("missing_k * 1e0 / NULLIF(ref_k, 0)").as("missing_ratio"))
      .selectExpr(o19Final: _*)
  }

  def categoricalDriftSql: String = {
    val per = for (sp <- S.categorical; c <- sp.cols) yield {
      val jsSub = s"(SELECT SQRT(($jsKlPm + $jsKlQm) / 2) AS js_divergence, " +
        "SUM(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS ref_k, " +
        "SUM(CASE WHEN q IS NOT NULL AND p IS NULL THEN 1 ELSE 0 END) AS new_k, " +
        "SUM(CASE WHEN p IS NOT NULL AND q IS NULL THEN 1 ELSE 0 END) AS missing_k " +
        s"FROM (${top20DistsSql(sp, c)}) d) js"
      val chiSub = s"(SELECT $chiBandSql AS p_value FROM " +
        s"(SELECT $chiSumSql AS chi_square, " +
        "COUNT(*) - 1 AS dof FROM " +
        s"(SELECT value, $chiCellSql AS cell FROM " +
        s"(WITH cnts AS (${sideCountsSql(sp, c, nonNull = true)}) $pivotCountsSql) piv, " +
        s"(WITH cnts AS (${sideCountsSql(sp, c, nonNull = true)}) " +
        "SELECT SUM(CASE WHEN side = 'ref' THEN cnt ELSE 0 END) AS ref_sum, " +
        "SUM(CASE WHEN side = 'curr' THEN cnt ELSE 0 END) AS curr_sum FROM cnts) tot) e) x) chi"
      val nullSub = "(SELECT MAX(CASE WHEN side = 'ref' THEN nl * 1e0 / n END) AS ref_null_prop, " +
        "MAX(CASE WHEN side = 'curr' THEN nl * 1e0 / n END) AS curr_null_prop FROM " +
        s"(SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, COUNT(*) AS n, " +
        s"SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS nl FROM ${sp.tableName} GROUP BY 1) nn) np"
      s"SELECT ${o19Final.mkString(", ")} FROM " +
        s"(SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, js.js_divergence, chi.p_value, " +
        "np.curr_null_prop - np.ref_null_prop AS null_diff, " +
        "js.new_k * 1e0 / NULLIF(js.ref_k, 0) AS new_ratio, js.missing_k * 1e0 / NULLIF(js.ref_k, 0) AS missing_ratio " +
        s"FROM $jsSub, $chiSub, $nullSub) z"
    }
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name")
  }

  /** Generic O19 categorical drift for an arbitrary snapshot pair, from one
    * census of every column. */
  def categoricalDriftForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair", exactPValue: Boolean = false): DataFrame =
    categoricalDriftOfPair(pairCensus(ref, curr, cols), label, exactPValue)

  /** [[categoricalDriftForPair]] of a pair's [[pairCensus]]. */
  private[drift] def categoricalDriftOfPair(cen: DataFrame, label: String = "pair",
      exactPValue: Boolean = false): DataFrame =
    categoricalDriftOf(cen, label, exactPValue).orderBy("column_name")

  /** Generic O35 rare-category changes for an arbitrary snapshot pair, from
    * one census of every column. */
  def rareCategoriesForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair", minCount: Int = 10, maxFreq: Double = 0.01): DataFrame =
    rareCategoriesOfPair(pairCensus(ref, curr, cols), label, minCount, maxFreq)

  /** [[rareCategoriesForPair]] of a pair's [[pairCensus]]. */
  private[graft] def rareCategoriesOfPair(cen: DataFrame, label: String = "pair",
      minCount: Int = 10, maxFreq: Double = 0.01): DataFrame =
    rareCategoriesOf(cen, label, minCount, maxFreq)
      .orderBy(when(col("severity") === "high", 0).otherwise(1),
        abs(col("rel_change")).desc, col("column_name"), col("category"))

  // ------------------------------------------- rare values (O23) + (O35)

  /** (table, column, rareThreshold) for O23; high-cardinality columns so the
    * rare-frequency band is populated. */
  private[graft] val rareCols: Seq[(S.CatSplit, String, Double)] = Seq(
    (S.categorical.head.copy(cols = Seq("l_partkey")), "l_partkey", 0.0005),
    (S.categorical.find(_.tableName == "orders").get.copy(cols = Seq("o_custkey")), "o_custkey", 0.0005))

  private def freqPivotSql(sp: S.CatSplit, c: String): String =
    "SELECT value, MAX(CASE WHEN side = 'ref' THEN cnt END) AS ref_cnt0, " +
      "MAX(CASE WHEN side = 'curr' THEN cnt END) AS curr_cnt0, " +
      "MAX(CASE WHEN side = 'ref' THEN freq END) AS ref_freq0, " +
      "MAX(CASE WHEN side = 'curr' THEN freq END) AS curr_freq0 FROM " +
      "(SELECT side, value, cnt, cnt * 1e0 / SUM(cnt) OVER (PARTITION BY side) AS freq " +
      s"FROM (${sideCountsSql(sp, c, nonNull = false)}) t) f GROUP BY value"

  /** O23 per-column rare-value census summary. `rare` = freq ≤ threshold in
    * that side's distribution; new_rare/disappeared_rare only count values
    * PRESENT in the other side (distribution_analyzer.py:366-377). */
  def rareValueSummary(spark: SparkSession, dir: String): DataFrame = {
    val per = rareCols.map { case (sp, c, thr) =>
      freqPivotOf(splitCensus(spark, dir, sp))
        .agg(
          sum(when(col("ref_freq0") <= thr, 1).otherwise(0)).as("ref_rare_count"),
          sum(when(col("curr_freq0") <= thr, 1).otherwise(0)).as("curr_rare_count"),
          sum(when(col("curr_freq0") <= thr && !(col("ref_freq0") <= thr) && col("ref_freq0").isNotNull, 1)
            .otherwise(0)).as("new_rare_count"),
          sum(when(col("ref_freq0") <= thr && !(col("curr_freq0") <= thr) && col("curr_freq0").isNotNull, 1)
            .otherwise(0)).as("disappeared_rare_count"))
        .select(lit(sp.tableName).as("table_name"), lit(c).as("column_name"),
          col("ref_rare_count").cast("long"), col("curr_rare_count").cast("long"),
          (col("curr_rare_count") - col("ref_rare_count")).cast("long").as("rare_count_change"),
          col("new_rare_count").cast("long"), col("disappeared_rare_count").cast("long"))
    }
    per.reduce(_ union _).orderBy("table_name", "column_name")
  }

  def rareValueSummarySql: String = {
    val per = rareCols.map { case (sp, c, thr) =>
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, " +
        s"SUM(CASE WHEN ref_freq0 <= $thr THEN 1 ELSE 0 END)::BIGINT AS ref_rare_count, " +
        s"SUM(CASE WHEN curr_freq0 <= $thr THEN 1 ELSE 0 END)::BIGINT AS curr_rare_count, " +
        s"(SUM(CASE WHEN curr_freq0 <= $thr THEN 1 ELSE 0 END) - SUM(CASE WHEN ref_freq0 <= $thr THEN 1 ELSE 0 END))::BIGINT AS rare_count_change, " +
        s"SUM(CASE WHEN curr_freq0 <= $thr AND NOT (ref_freq0 <= $thr) AND ref_freq0 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS new_rare_count, " +
        s"SUM(CASE WHEN ref_freq0 <= $thr AND NOT (curr_freq0 <= $thr) AND curr_freq0 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS disappeared_rare_count " +
        s"FROM (${freqPivotSql(sp, c)}) p"
    }
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name")
  }

  /** O23 per-value rare-value changes: new_rare (rare now, present but not
    * rare before) and disappeared_rare (rare before, present but not rare
    * now) with prev/curr freq + count
    * (/root/reference/distribution_analyzer.py:366-401). */
  def rareValueChanges(spark: SparkSession, dir: String): DataFrame =
    rareCols.map { case (sp, _, thr) =>
        rareValueChangesOf(splitCensus(spark, dir, sp), sp.tableName, thr)
      }.reduce(_ union _).orderBy("table_name", "column_name", "change_type", "value")

  /** O23 per column of a census: a projection and a filter of its rows. */
  private def rareValueChangesOf(cen: DataFrame, label: String, thr: Double): DataFrame =
    freqPivotOf(cen)
      .selectExpr("column_name", "value",
        s"CASE WHEN curr_freq0 <= $thr AND NOT (ref_freq0 <= $thr) AND ref_freq0 IS NOT NULL THEN 'new_rare' " +
          s"WHEN ref_freq0 <= $thr AND NOT (curr_freq0 <= $thr) AND curr_freq0 IS NOT NULL THEN 'disappeared_rare' END AS change_type",
        "COALESCE(ref_freq0, 0) AS prev_freq", "COALESCE(curr_freq0, 0) AS curr_freq",
        "COALESCE(ref_cnt0, 0) AS prev_count", "COALESCE(curr_cnt0, 0) AS curr_count")
      .filter(col("change_type").isNotNull)
      .select(lit(label).as("table_name"), col("column_name"),
        col("change_type"), col("value"),
        r6(col("prev_freq")).as("prev_freq"), r6(col("curr_freq")).as("curr_freq"),
        col("prev_count"), col("curr_count"))

  def rareValueChangesSql: String = {
    val per = rareCols.map { case (sp, c, thr) =>
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, change_type, value, " +
        "ROUND(prev_freq, 6) AS prev_freq, ROUND(curr_freq, 6) AS curr_freq, prev_count, curr_count FROM " +
        "(SELECT value, " +
        s"CASE WHEN curr_freq0 <= $thr AND NOT (ref_freq0 <= $thr) AND ref_freq0 IS NOT NULL THEN 'new_rare' " +
        s"WHEN ref_freq0 <= $thr AND NOT (curr_freq0 <= $thr) AND curr_freq0 IS NOT NULL THEN 'disappeared_rare' END AS change_type, " +
        "COALESCE(ref_freq0, 0) AS prev_freq, COALESCE(curr_freq0, 0) AS curr_freq, " +
        "COALESCE(ref_cnt0, 0)::BIGINT AS prev_count, COALESCE(curr_cnt0, 0)::BIGINT AS curr_count " +
        s"FROM (${freqPivotSql(sp, c)}) p) z WHERE change_type IS NOT NULL"
    }
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name, change_type, value")
  }

  /** Generic O23 per-value rare-value changes for an arbitrary snapshot pair
    * (the nested report's rare-value module,
    * /root/reference/distribution_analyzer.py:366-401), from one census. */
  def rareValueChangesForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair", thr: Double = 0.01): DataFrame =
    rareValueChangesOfPair(pairCensus(ref, curr, cols), label, thr)

  /** [[rareValueChangesForPair]] of a pair's [[pairCensus]]. */
  private[graft] def rareValueChangesOfPair(cen: DataFrame, label: String = "pair",
      thr: Double = 0.01): DataFrame =
    rareValueChangesOf(cen, label, thr).orderBy("table_name", "column_name", "change_type", "value")

  /** O35 rare-category change detection (full port of
    * /root/reference/rare_event_analyzer.py:12-113). */
  private val o35Final: Seq[String] = {
    val rel = "CASE WHEN ref_cnt > 0 THEN (curr_cnt - ref_cnt) * 1e0 / ref_cnt " +
      "WHEN curr_cnt > 0 THEN 1.0 ELSE 0.0 END"
    Seq("table_name", "column_name", "value AS category",
      "ref_cnt AS ref_count", "curr_cnt AS curr_count",
      "ROUND(ref_freq, 6) AS ref_freq", "ROUND(curr_freq, 6) AS curr_freq",
      s"ROUND($rel, 6) AS rel_change",
      s"CASE WHEN ref_cnt = 0 THEN 'new_rare_category' WHEN curr_cnt = 0 THEN 'disappeared_rare_category' " +
        s"WHEN ($rel) > 0 THEN 'increased_rare_category' ELSE 'decreased_rare_category' END AS change_type",
      s"CASE WHEN ref_cnt = 0 OR curr_cnt = 0 THEN 'high' " +
        s"WHEN ($rel) > 0 THEN (CASE WHEN ($rel) > 1.0 THEN 'high' ELSE 'medium' END) " +
        s"ELSE (CASE WHEN ABS($rel) > 0.5 THEN 'high' ELSE 'medium' END) END AS severity")
  }

  def rareCategories(spark: SparkSession, dir: String): DataFrame =
    rareCols.map { case (sp, _, _) =>
        rareCategoriesOf(splitCensus(spark, dir, sp), sp.tableName, minCount = 10, maxFreq = 0.01)
      }.reduce(_ union _)
      .orderBy(when(col("severity") === "high", 0).otherwise(1),
        abs(col("rel_change")).desc, col("table_name"), col("column_name"), col("category"))

  /** O35 per column of a census: a projection and filters of its rows. */
  private def rareCategoriesOf(cen: DataFrame, label: String, minCount: Int,
      maxFreq: Double): DataFrame =
    freqPivotOf(cen)
      .selectExpr("column_name", "value",
        "COALESCE(ref_cnt0, 0) AS ref_cnt", "COALESCE(curr_cnt0, 0) AS curr_cnt",
        "COALESCE(ref_freq0, 0) AS ref_freq", "COALESCE(curr_freq0, 0) AS curr_freq")
      .filter(expr(s"((ref_freq <= $maxFreq AND ref_cnt >= $minCount) OR " +
        s"(curr_freq <= $maxFreq AND curr_cnt >= $minCount))"))
      .filter(expr("ABS(CASE WHEN ref_cnt > 0 THEN (curr_cnt - ref_cnt) * 1e0 / ref_cnt " +
        "WHEN curr_cnt > 0 THEN 1.0 ELSE 0.0 END) >= 0.3 OR ref_cnt = 0 OR curr_cnt = 0"))
      .filter(col("value").isNotNull)
      .select(lit(label).as("table_name"), col("*"))
      .selectExpr(o35Final: _*)

  def rareCategoriesSql: String = {
    val minCount = 10
    val maxFreq = 0.01
    val rel = "CASE WHEN ref_cnt > 0 THEN (curr_cnt - ref_cnt) * 1e0 / ref_cnt " +
      "WHEN curr_cnt > 0 THEN 1.0 ELSE 0.0 END"
    val per = rareCols.map { case (sp, c, _) =>
      s"SELECT ${o35Final.mkString(", ")} FROM " +
        s"(SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, value, " +
        "COALESCE(ref_cnt0, 0) AS ref_cnt, COALESCE(curr_cnt0, 0) AS curr_cnt, " +
        "COALESCE(ref_freq0, 0) AS ref_freq, COALESCE(curr_freq0, 0) AS curr_freq " +
        s"FROM (${freqPivotSql(sp, c)}) p) z " +
        s"WHERE ((ref_freq <= $maxFreq AND ref_cnt >= $minCount) OR (curr_freq <= $maxFreq AND curr_cnt >= $minCount)) " +
        s"AND (ABS($rel) >= 0.3 OR ref_cnt = 0 OR curr_cnt = 0) AND value IS NOT NULL"
    }
    s"SELECT * FROM (${per.mkString(" UNION ALL ")}) u " +
      "ORDER BY CASE WHEN severity = 'high' THEN 0 ELSE 1 END, ABS(rel_change) DESC, table_name, column_name, category"
  }

  // ------------------------------------------------- top-N combined (O34)

  /** O34: top-N categories by ref_count + curr_count, fully distributed
    * (the reference collects both sides and sorts in Python —
    * /root/reference/group_analyzer.py:167-204). */
  def topCombined(spark: SparkSession, dir: String): DataFrame = {
    val per = S.categorical.map { sp =>
      splitCensus(spark, dir, sp)
        .withColumn("combined", col("ref_cnt") + col("curr_cnt"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("column_name").orderBy(col("combined").desc, col("value").asc)))
        .filter(col("rk") <= 20)
        .select(lit(sp.tableName).as("table_name"), col("column_name"),
          col("rk"), col("value"), col("ref_cnt"), col("curr_cnt"), col("combined"))
    }
    per.reduce(_ union _).orderBy("table_name", "column_name", "rk")
  }

  def topCombinedSql: String = {
    val per = for (sp <- S.categorical; c <- sp.cols) yield
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, rk, value, ref_cnt, curr_cnt, combined FROM " +
        "(SELECT *, ref_cnt + curr_cnt AS combined, " +
        "ROW_NUMBER() OVER (ORDER BY ref_cnt + curr_cnt DESC, value ASC) AS rk FROM " +
        s"(WITH cnts AS (${sideCountsSql(sp, c, nonNull = false)}) $pivotCountsSql) p) r WHERE rk <= 20"
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name, rk")
  }

  // ----------------------------------------------------------------- API

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "value_counts" -> ((s, d) => valueCounts(s, d)),
    "topk_entropy" -> ((s, d) => topkEntropy(s, d)),
    "dist_diff" -> ((s, d) => distDiff(s, d)),
    "category_changes" -> ((s, d) => categoryChanges(s, d)),
    "js_full" -> ((s, d) => jsFull(s, d)),
    "top_movers" -> ((s, d) => topMovers(s, d)),
    "chi_square" -> ((s, d) => chiSquare(s, d)),
    "categorical_drift" -> ((s, d) => categoricalDrift(s, d)),
    "rare_value_summary" -> ((s, d) => rareValueSummary(s, d)),
    "rare_value_changes" -> ((s, d) => rareValueChanges(s, d)),
    "rare_categories" -> ((s, d) => rareCategories(s, d)),
    "top_combined" -> ((s, d) => topCombined(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "value_counts" -> valueCountsSql,
    "topk_entropy" -> topkEntropySql,
    "dist_diff" -> distDiffSql,
    "category_changes" -> categoryChangesSql,
    "js_full" -> jsFullSql,
    "top_movers" -> topMoversSql,
    "chi_square" -> chiSquareSql,
    "categorical_drift" -> categoricalDriftSql,
    "rare_value_summary" -> rareValueSummarySql,
    "rare_value_changes" -> rareValueChangesSql,
    "rare_categories" -> rareCategoriesSql,
    "top_combined" -> topCombinedSql,
  )
}
