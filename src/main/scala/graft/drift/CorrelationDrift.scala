package graft.drift

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{splits => S}

/** Correlation drift operators (reference O25–O31 — SURVEY.md §2.b;
  * semantics from /root/reference/correlation_analyzer.py).
  *
  * Scale design: the reference assembles a Vector column and runs
  * `ml.stat.Correlation` (one ML job per frame, correlation_analyzer.py:
  * 336-370) or a `df.stat.corr` job PER PAIR (:263-276). Here all n(n−1)/2
  * pairwise correlations for BOTH snapshots are computed by a single
  * `groupBy("side")` aggregation of `corr(a,b)` expressions — one scan, one
  * 2-row shuffle, whole-stage codegen, and the identical SQL runs in DuckDB.
  * Pairs are keyed as (col1, col2) columns, not the reference's ambiguous
  * "col1_col2" string (defect §8.4 of SURVEY.md).
  */
object CorrelationDrift extends graft.OperatorModule {

  val CorrelationThreshold = 0.7        // standard profile
  val CorrelationChangeThreshold = 0.2  // standard profile
  val GroupCorrChangeThreshold = 0.3
  val RelationshipChangeThreshold = 0.3

  private[graft] val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val pairs: Seq[(String, String)] =
    corrCols.combinations(2).map(p => (p(0), p(1))).toSeq

  /** Per-side correlations of every column pair of a tagged frame, long:
    * (side, col1, col2, corr), from one groupBy(side). */
  private def pairCorrs(tagged: DataFrame, cols: Seq[String]): DataFrame = {
    val prs = cols.combinations(2).map(p => (p(0), p(1))).toSeq
    val aggs = prs.zipWithIndex.map { case ((a, b), i) => corr(col(a), col(b)).as(s"c$i") }
    val rows = prs.zipWithIndex.map { case ((a, b), i) => s"'$a', '$b', c$i" }.mkString(", ")
    tagged.groupBy(col("side")).agg(aggs.head, aggs.tail: _*)
      .select(col("side"), expr(s"stack(${prs.size}, $rows) as (col1, col2, corr)"))
  }

  /** [[pairCorrs]] of the lineitem split. */
  private def sidePairCorrs(spark: SparkSession, dir: String): DataFrame =
    pairCorrs(withSide(table(spark, dir, "lineitem"), S.lineitemRef), corrCols)

  private def sidePairCorrsSql: String =
    pairs.map { case (a, b) =>
      s"SELECT CASE WHEN ${S.lineitemRefSql} THEN 'ref' ELSE 'curr' END AS side, " +
        s"'$a' AS col1, '$b' AS col2, CORR($a, $b) AS corr FROM lineitem GROUP BY 1, 2, 3"
    }.mkString(" UNION ALL ")

  /** Conditional-aggregation pivot of the per-side correlations: one scan,
    * where a ref/curr self-join would plan the upstream aggregate twice. */
  private def pivotPairs(long: DataFrame): DataFrame =
    long.groupBy("col1", "col2").agg(
      coalesce(max(when(col("side") === "ref", col("corr"))), lit(0.0)).as("ref_corr"),
      coalesce(max(when(col("side") === "curr", col("corr"))), lit(0.0)).as("curr_corr"))

  private val pivotPairsSql =
    "SELECT col1, col2, COALESCE(MAX(CASE WHEN side = 'ref' THEN corr END), 0.0) AS ref_corr, " +
      "COALESCE(MAX(CASE WHEN side = 'curr' THEN corr END), 0.0) AS curr_corr " +
      "FROM pc GROUP BY col1, col2"

  // ------------------------------------------------- corr_matrix (O25)

  /** Generic O25 for an arbitrary snapshot pair (orchestrator entry). */
  def forPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      config: DriftConfig = DriftConfig()): DataFrame =
    pivotPairs(pairCorrs(tagPair(ref, curr, cols), cols))
      .selectExpr(corrFinalFor(config.correlationChangeThreshold, config.correlationThreshold): _*)
      .orderBy("col1", "col2")

  private def corrFinalFor(chg: Double, strong: Double): Seq[String] = Seq(
    "col1", "col2",
    "ROUND(ref_corr, 6) AS ref_correlation", "ROUND(curr_corr, 6) AS curr_correlation",
    "ROUND(ABS(curr_corr - ref_corr), 6) AS abs_change",
    s"(ABS(curr_corr - ref_corr) >= $chg) AS significant_shift",
    "CASE WHEN ABS(curr_corr) < ABS(ref_corr) THEN 'weaker' ELSE 'stronger' END AS change_type",
    s"(ABS(ref_corr) < $strong AND ABS(curr_corr) >= $strong) AS new_strong",
    s"(ABS(ref_corr) >= $strong AND ABS(curr_corr) < $strong) AS disappeared_strong")

  private val corrFinal: Seq[String] = corrFinalFor(CorrelationChangeThreshold, CorrelationThreshold)

  def corrMatrix(spark: SparkSession, dir: String): DataFrame =
    pivotPairs(sidePairCorrs(spark, dir)).selectExpr(corrFinal: _*).orderBy("col1", "col2")

  def corrMatrixSql: String =
    s"WITH pc AS ($sidePairCorrsSql), piv AS ($pivotPairsSql) " +
      s"SELECT ${corrFinal.mkString(", ")} FROM piv ORDER BY col1, col2"

  // ------------------------------------------- feature_importance (O27)

  /** |corr(predictor, target)| as importance; rank shift between snapshots.
    * Ranks use (importance desc, column asc) — a deterministic version of
    * the reference's stable Python sort. */
  private[graft] val fiTarget = "l_extendedprice"
  private[graft] val fiPredictors = Seq("l_quantity", "l_discount", "l_tax")

  def featureImportance(spark: SparkSession, dir: String): DataFrame =
    featureImportanceOf(withSide(table(spark, dir, "lineitem"), S.lineitemRef), fiTarget, fiPredictors)
      .orderBy("column_name")

  /** Generic O27 for an arbitrary snapshot pair. */
  def featureImportanceForPair(ref: DataFrame, curr: DataFrame, target: String,
      predictors: Seq[String]): DataFrame =
    featureImportanceOf(tagPair(ref, curr, (predictors :+ target).distinct), target, predictors)
      .orderBy("column_name")

  /** O27 over a tagged frame: every predictor's |corr| with the target from
    * one groupBy(side), ranked per side. */
  private def featureImportanceOf(tagged: DataFrame, target: String,
      predictors: Seq[String]): DataFrame = {
    val aggs = predictors.zipWithIndex.map { case (p, i) => corr(col(p), col(target)).as(s"c$i") }
    val rows = predictors.zipWithIndex.map { case (p, i) => s"'$p', c$i" }.mkString(", ")
    val long = tagged
      .groupBy(col("side")).agg(aggs.head, aggs.tail: _*)
      .select(col("side"), expr(s"stack(${predictors.size}, $rows) as (column_name, corr)"))
      .select(col("side"), col("column_name"), abs(coalesce(col("corr"), lit(0.0))).as("importance"))
    val ranked = long.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("side")
        .orderBy(col("importance").desc, col("column_name").asc)))
    ranked.groupBy("column_name").agg(
        max(when(col("side") === "ref", col("importance"))).as("ref_importance"),
        max(when(col("side") === "ref", col("rk"))).as("ref_rank"),
        max(when(col("side") === "curr", col("importance"))).as("curr_importance"),
        max(when(col("side") === "curr", col("rk"))).as("curr_rank"))
      .selectExpr(fiFinal(target): _*)
  }

  private def fiFinal(target: String): Seq[String] = Seq(
    s"'$target' AS target_column", "column_name",
    "ROUND(ref_importance, 6) AS ref_importance", "ROUND(curr_importance, 6) AS curr_importance",
    "ROUND(ABS(curr_importance - ref_importance), 6) AS abs_change",
    "ROUND(ABS(curr_importance - ref_importance) / GREATEST(ref_importance, 0.01), 6) AS rel_change",
    "CASE WHEN curr_importance > ref_importance THEN 'increased' ELSE 'decreased' END AS change_type",
    "ref_rank", "curr_rank", "ref_rank - curr_rank AS rank_shift",
    "(ABS(ref_rank - curr_rank) >= 2) AS significant_rank_shift")

  def featureImportanceSql: String = {
    val un = fiPredictors.map { p =>
      s"SELECT CASE WHEN ${S.lineitemRefSql} THEN 'ref' ELSE 'curr' END AS side, " +
        s"'$p' AS column_name, ABS(COALESCE(CORR($p, $fiTarget), 0.0)) AS importance " +
        "FROM lineitem GROUP BY 1, 2"
    }.mkString(" UNION ALL ")
    s"WITH long AS ($un), ranked AS (SELECT *, ROW_NUMBER() OVER " +
      "(PARTITION BY side ORDER BY importance DESC, column_name ASC) AS rk FROM long), " +
      "piv AS (SELECT column_name, MAX(CASE WHEN side = 'ref' THEN importance END) AS ref_importance, " +
      "MAX(CASE WHEN side = 'ref' THEN rk END) AS ref_rank, " +
      "MAX(CASE WHEN side = 'curr' THEN importance END) AS curr_importance, " +
      "MAX(CASE WHEN side = 'curr' THEN rk END) AS curr_rank FROM ranked GROUP BY 1) " +
      s"SELECT ${fiFinal(fiTarget).mkString(", ")} FROM piv ORDER BY column_name"
  }

  // --------------------------------------- correlation structure (O30)

  /** Mean |Δcorr| across all pairs (the reference's "eigenvalue" check is
    * actually mean abs diff — correlation_analyzer.py:747-805). */
  private val structFinal: Seq[String] = Seq(
    "ROUND(avg_abs_change, 6) AS avg_correlation_change",
    "n_pairs",
    "(avg_abs_change >= 0.2) AS structure_changed")

  def corrStructure(spark: SparkSession, dir: String): DataFrame =
    pivotPairs(sidePairCorrs(spark, dir))
      .agg(avg(abs(col("curr_corr") - col("ref_corr"))).as("avg_abs_change"),
        count(lit(1)).as("n_pairs"))
      .selectExpr(structFinal: _*)

  def corrStructureSql: String =
    s"WITH pc AS ($sidePairCorrsSql), piv AS ($pivotPairsSql), " +
      "s AS (SELECT AVG(ABS(curr_corr - ref_corr)) AS avg_abs_change, COUNT(*) AS n_pairs FROM piv) " +
      s"SELECT ${structFinal.mkString(", ")} FROM s"

  // --------------------------------------- key relationships (O31)

  private val keyCol = "l_partkey"

  def keyRelationships(spark: SparkSession, dir: String): DataFrame = {
    val aggs = corrCols.zipWithIndex.map { case (t, i) =>
      corr(col(keyCol).cast("double"), col(t).cast("double")).as(s"c$i") }
    val rows = corrCols.zipWithIndex.map { case (t, i) => s"'$t', c$i" }.mkString(", ")
    val long = withSide(table(spark, dir, "lineitem"), S.lineitemRef)
      .groupBy(col("side")).agg(aggs.head, aggs.tail: _*)
      .select(col("side"), expr(s"stack(${corrCols.size}, $rows) as (target_column, corr)"))
    long.groupBy("target_column").agg(
        coalesce(max(when(col("side") === "ref", col("corr"))), lit(0.0)).as("ref_corr"),
        coalesce(max(when(col("side") === "curr", col("corr"))), lit(0.0)).as("curr_corr"))
      .selectExpr(
        s"'$keyCol' AS key_column", "target_column",
        "ROUND(ref_corr, 6) AS ref_correlation", "ROUND(curr_corr, 6) AS curr_correlation",
        "ROUND(ABS(curr_corr - ref_corr), 6) AS abs_change",
        s"(ABS(curr_corr - ref_corr) >= $RelationshipChangeThreshold) AS significant_change")
      .orderBy("target_column")
  }

  def keyRelationshipsSql: String = {
    val un = corrCols.map { t =>
      s"SELECT CASE WHEN ${S.lineitemRefSql} THEN 'ref' ELSE 'curr' END AS side, " +
        s"'$t' AS target_column, COALESCE(CORR(CAST($keyCol AS DOUBLE), CAST($t AS DOUBLE)), 0.0) AS corr " +
        "FROM lineitem GROUP BY 1, 2"
    }.mkString(" UNION ALL ")
    s"WITH long AS ($un), piv AS (SELECT target_column, " +
      "COALESCE(MAX(CASE WHEN side = 'ref' THEN corr END), 0.0) AS ref_corr, " +
      "COALESCE(MAX(CASE WHEN side = 'curr' THEN corr END), 0.0) AS curr_corr FROM long GROUP BY 1) " +
      s"SELECT '$keyCol' AS key_column, target_column, ROUND(ref_corr, 6) AS ref_correlation, " +
      "ROUND(curr_corr, 6) AS curr_correlation, ROUND(ABS(curr_corr - ref_corr), 6) AS abs_change, " +
      s"(ABS(curr_corr - ref_corr) >= $RelationshipChangeThreshold) AS significant_change " +
      "FROM piv ORDER BY target_column"
  }

  // --------------------------------------- per-group correlations (O26)

  /** Per-dimension-category pair correlations: the reference filters per
    * category and runs a matrix job each (correlation_analyzer.py:128-234);
    * here ONE `groupBy(side, dim)` computes every category × pair corr in a
    * single pass. Categories need ≥30 rows in both frames. */
  private val groupDim = "l_returnflag"

  def groupCorrelations(spark: SparkSession, dir: String): DataFrame =
    groupCorrelationsOf(withSide(table(spark, dir, "lineitem"), S.lineitemRef), Seq(groupDim),
        corrCols, 30, GroupCorrChangeThreshold)
      .drop("dim_ix").orderBy("category", "col1", "col2")

  def groupCorrelationsSql: String = {
    val un = pairs.map { case (a, b) =>
      s"SELECT CASE WHEN ${S.lineitemRefSql} THEN 'ref' ELSE 'curr' END AS side, " +
        s"CAST($groupDim AS VARCHAR) AS category, '$a' AS col1, '$b' AS col2, " +
        s"COUNT(*) AS n, CORR($a, $b) AS corr FROM lineitem GROUP BY 1, 2, 3, 4"
    }.mkString(" UNION ALL ")
    s"WITH long AS ($un), piv AS (SELECT category, col1, col2, " +
      "MAX(CASE WHEN side = 'ref' THEN n END) AS ref_n, " +
      "COALESCE(MAX(CASE WHEN side = 'ref' THEN corr END), 0.0) AS ref_corr, " +
      "MAX(CASE WHEN side = 'curr' THEN n END) AS curr_n, " +
      "COALESCE(MAX(CASE WHEN side = 'curr' THEN corr END), 0.0) AS curr_corr " +
      "FROM long GROUP BY 1, 2, 3) " +
      s"SELECT '$groupDim' AS dimension, category, col1, col2, ROUND(ref_corr, 6) AS ref_correlation, " +
      "ROUND(curr_corr, 6) AS curr_correlation, ROUND(ABS(curr_corr - ref_corr), 6) AS abs_change, " +
      s"(ABS(curr_corr - ref_corr) >= $GroupCorrChangeThreshold) AS significant_shift " +
      "FROM piv WHERE ref_n >= 30 AND curr_n >= 30 ORDER BY category, col1, col2"
  }

  /** Generic O26: per-category pair correlations over a dimension for an
    * arbitrary snapshot pair — one groupBy(side, dim) pass. */
  def groupCorrelationsForPair(ref: DataFrame, curr: DataFrame, dim: String,
      cols: Seq[String], minRows: Int = 30, threshold: Double = GroupCorrChangeThreshold): DataFrame =
    groupCorrelationsForDims(ref, curr, Seq(dim), cols, minRows, threshold)

  /** [[groupCorrelationsForPair]] over every dimension of `dims` in one
    * pass, in dimension order, then category and pair. */
  private[drift] def groupCorrelationsForDims(ref: DataFrame, curr: DataFrame, dims: Seq[String],
      cols: Seq[String], minRows: Int = 30, threshold: Double = GroupCorrChangeThreshold): DataFrame =
    groupCorrelationsOf(tagPair(ref, curr, (dims ++ cols).distinct), dims, cols,
        minRows, threshold)
      .orderBy("dim_ix", "category", "col1", "col2").drop("dim_ix")

  /** O26 over a side-tagged frame: every dimension of `dims` is stacked as
    * (dim_ix, dimension, category), `dim_ix` being its index in `dims`, so
    * one groupBy(side, dim_ix, category) computes every dimension × category
    * × pair corr. A category needs `minRows` rows on both sides. */
  private def groupCorrelationsOf(tagged: DataFrame, dims: Seq[String], cols: Seq[String],
      minRows: Int, threshold: Double): DataFrame = {
    val prs = cols.combinations(2).map(p => (p(0), p(1))).toSeq
    val aggs = count(lit(1)).as("n") +:
      prs.zipWithIndex.map { case ((a, b), i) => corr(col(a), col(b)).as(s"c$i") }
    val rows = prs.zipWithIndex.map { case ((a, b), i) => s"'$a', '$b', c$i" }.mkString(", ")
    val dimRows = dims.zipWithIndex.map((GroupDrift.dimRow _).tupled).mkString(", ")
    val long = tagged
      .select((col("side") +: cols.map(col)) :+
        expr(s"stack(${dims.size}, $dimRows) AS (dim_ix, dimension, category)"): _*)
      .groupBy("side", "dim_ix", "dimension", "category")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("side"), col("dim_ix"), col("dimension"), col("category"), col("n"),
        expr(s"stack(${prs.size}, $rows) as (col1, col2, corr)"))
    long.groupBy("dim_ix", "dimension", "category", "col1", "col2").agg(
        max(when(col("side") === "ref", col("n"))).as("ref_n"),
        coalesce(max(when(col("side") === "ref", col("corr"))), lit(0.0)).as("ref_corr"),
        max(when(col("side") === "curr", col("n"))).as("curr_n"),
        coalesce(max(when(col("side") === "curr", col("corr"))), lit(0.0)).as("curr_corr"))
      .filter(col("ref_n") >= minRows && col("curr_n") >= minRows)
      .selectExpr("dim_ix", "dimension", "category", "col1", "col2",
        "ROUND(ref_corr, 6) AS ref_correlation", "ROUND(curr_corr, 6) AS curr_correlation",
        "ROUND(ABS(curr_corr - ref_corr), 6) AS abs_change",
        s"(ABS(curr_corr - ref_corr) >= $threshold) AS significant_shift")
  }

  /** O29 valid-column screen: keep columns whose non-null ratio is ≥
    * `minRatio` in BOTH frames — read from the pair's numeric profile, one
    * aggregation over the tagged pair (the reference batches the agg then
    * collects per column in a loop, correlation_analyzer.py:643-663). A
    * frame without rows has no ratio, so it keeps no column. */
  def validColumns(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      minRatio: Double = 0.7): Seq[String] =
    if (cols.isEmpty) Seq.empty
    else validColumnsOf(NumericDrift.pairProfile(ref, curr, cols, Seq("n_nonnull")), cols, minRatio)

  /** [[validColumns]] of a pair's numeric column rows
    * (NumericDrift.pairProfile), in `cols` order. */
  private[graft] def validColumnsOf(rows: DataFrame, cols: Seq[String],
      minRatio: Double = 0.7): Seq[String] = {
    val valid = nonNullRatiosOf(rows)
      .filter(col("ref_ratio") >= minRatio && col("curr_ratio") >= minRatio)
      .select("column_name").collect().map(_.getString(0)).toSet
    cols.filter(valid)
  }

  /** Each column's non-null ratio per side, from its row's counts; NULL on a
    * side without rows. */
  private def nonNullRatiosOf(rows: DataFrame): DataFrame =
    rows.select(col("table_name"), col("column_name"),
      (col("ref_n_nonnull") * 1e0 / col("ref_n_total")).as("ref_ratio"),
      (col("curr_n_nonnull") * 1e0 / col("curr_n_total")).as("curr_ratio"))

  // --------------------------------- connected components (O28, driver-side)

  /** BFS connected components over the |corr| ≥ threshold adjacency — driver
    * side over a tiny collected matrix, as in the reference (which calls an
    * undefined helper, SURVEY.md §8.5 — fixed here). Component id = the
    * lexicographically smallest member. */
  def correlationComponents(corrs: Map[(String, String), Double], cols: Seq[String],
      threshold: Double = CorrelationThreshold): Map[String, String] = {
    val adj = cols.map { c =>
      c -> cols.filter(o => o != c && math.abs(
        corrs.getOrElse((c, o), corrs.getOrElse((o, c), 0.0))) >= threshold).toSet
    }.toMap
    val comp = scala.collection.mutable.Map[String, String]()
    for (start <- cols.sorted if !comp.contains(start)) {
      val seen = scala.collection.mutable.Set(start)
      val queue = scala.collection.mutable.Queue(start)
      while (queue.nonEmpty) {
        val c = queue.dequeue()
        for (n <- adj(c) if !seen(n)) { seen += n; queue += n }
      }
      val id = seen.min
      seen.foreach(m => comp(m) = id)
    }
    comp.toMap
  }

  /** O28 as a query: per side, each column's component id at |corr| ≥ 0.1
    * (low threshold so the weakly-correlated TPC-H columns form a
    * nontrivial component). The driver-side BFS runs over a ≤(pairs)-row
    * collected matrix; the DuckDB oracle reproduces the same min-label
    * components with a recursive-CTE transitive closure. */
  def componentsQuery(spark: SparkSession, dir: String): DataFrame = {
    val long = sidePairCorrs(spark, dir).collect()
    val bySide = long.groupBy(_.getString(0))
    val rows = for {
      (side, rws) <- bySide.toSeq.sortBy(_._1)
      corrs = rws.map(r => (r.getString(1), r.getString(2)) -> (if (r.isNullAt(3)) 0.0 else r.getDouble(3))).toMap
      (colName, compId) <- correlationComponents(corrs, corrCols, 0.1).toSeq.sortBy(_._1)
    } yield (side, colName, compId)
    import spark.implicits._
    rows.toDF("side", "column_name", "component_id").orderBy("side", "column_name")
  }

  /** DuckDB mirror of [[componentsQuery]]: transitive closure of the
    * |corr| ≥ 0.1 adjacency per side (recursive CTE with set-union
    * semantics, so it terminates), then component id = lexicographically
    * smallest reachable node — exactly the BFS's `seen.min` labeling. */
  def componentsSql: String = {
    val nodeRows = corrCols.map(c => s"SELECT '$c' AS node").mkString(" UNION ALL ")
    s"WITH RECURSIVE pc AS ($sidePairCorrsSql), " +
      s"sides AS (SELECT DISTINCT side FROM pc), " +
      s"nodes AS (SELECT side, node FROM sides, ($nodeRows) n), " +
      "edges AS (SELECT side, col1 AS a, col2 AS b FROM pc WHERE ABS(COALESCE(corr, 0)) >= 0.1 " +
      "UNION SELECT side, col2, col1 FROM pc WHERE ABS(COALESCE(corr, 0)) >= 0.1), " +
      "reach(side, src, dst) AS (SELECT side, node, node FROM nodes " +
      "UNION SELECT r.side, r.src, e.b FROM reach r JOIN edges e ON e.side = r.side AND e.a = r.dst) " +
      "SELECT side, src AS column_name, MIN(dst) AS component_id FROM reach " +
      "GROUP BY side, src ORDER BY side, column_name"
  }

  // ----------------------------------------------------------------- API

  /** O29 as a query: the null-ratio screen over every numeric split column
    * — the counts of each split's numeric profile, ONE conditional
    * aggregation per table over the tagged pair (the reference loops a count
    * per column, correlation_analyzer.py:643-663), emitting both frames'
    * non-null ratios and the ≥0.7-in-both verdict. */
  def validColumnsQuery(spark: SparkSession, dir: String): DataFrame =
    overNumericSplits(spark, dir) { (tagged, label, cols) =>
      nonNullRatiosOf(NumericDrift.rowsOf(tagged, label, cols, Seq("n_nonnull")))
    }.selectExpr("table_name", "column_name",
        "ROUND(ref_ratio, 6) AS ref_nonnull_ratio",
        "ROUND(curr_ratio, 6) AS curr_nonnull_ratio",
        "(ref_ratio >= 0.7 AND curr_ratio >= 0.7) AS valid")
      .orderBy("table_name", "column_name")

  def validColumnsSql: String = {
    val per = for (sp <- S.numeric; c <- sp.cols) yield
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, " +
        "MAX(CASE WHEN side = 'ref' THEN nn * 1e0 / n END) AS ref_ratio, " +
        "MAX(CASE WHEN side = 'curr' THEN nn * 1e0 / n END) AS curr_ratio FROM " +
        s"(SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
        s"COUNT(*) AS n, COUNT($c) AS nn FROM ${sp.tableName} GROUP BY 1) t GROUP BY 1, 2"
    s"SELECT table_name, column_name, ROUND(ref_ratio, 6) AS ref_nonnull_ratio, " +
      "ROUND(curr_ratio, 6) AS curr_nonnull_ratio, " +
      "(ref_ratio >= 0.7 AND curr_ratio >= 0.7) AS valid FROM " +
      per.mkString("(", " UNION ALL ", ") u ORDER BY table_name, column_name")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corr_matrix" -> ((s, d) => corrMatrix(s, d)),
    "feature_importance" -> ((s, d) => featureImportance(s, d)),
    "corr_structure" -> ((s, d) => corrStructure(s, d)),
    "key_relationships" -> ((s, d) => keyRelationships(s, d)),
    "group_correlations" -> ((s, d) => groupCorrelations(s, d)),
    "corr_components" -> ((s, d) => componentsQuery(s, d)),
    "valid_columns" -> ((s, d) => validColumnsQuery(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "corr_matrix" -> corrMatrixSql,
    "feature_importance" -> featureImportanceSql,
    "corr_structure" -> corrStructureSql,
    "key_relationships" -> keyRelationshipsSql,
    "group_correlations" -> groupCorrelationsSql,
    "corr_components" -> componentsSql,
    "valid_columns" -> validColumnsSql,
  )
}
