package graft.drift

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.drift.{splits => S}

/** Distribution-distance drift metrics beyond the reference's own surface
  * (the reference stops at JS divergence + χ² bands,
  * /root/reference/categorical_analyzer.py:323-437 and
  * distribution_analyzer.py:305-427). These four are the industry-standard
  * complements a drift service is expected to expose:
  *
  *   - PSI (population stability index) over a shared-edge 10-bin histogram
  *   - Two-sample Kolmogorov–Smirnov statistic with the asymptotic
  *     α=0.05 critical value
  *   - Wasserstein-1 (earth mover) distance, raw and range-normalized
  *   - Cramér's V effect size for the side×category contingency
  *
  * Scale design: everything is built from two long frames per table —
  * (side, column_name, x) for numerics, and for categoricals the
  * [[CategoricalDrift]] census (column_name, value, ref_cnt, curr_cnt) —
  * each produced by ONE stack + one map-side-combined groupBy per table,
  * so a k-column table costs one scan regardless of k. The ECDF windows are
  * partitioned per column and run on the DISTINCT-value frame, not raw
  * rows; the `approx` path first snaps values onto a [[EdfBins]]-cell
  * grid (shared edges from one bounds agg, broadcast) so the per-column
  * window input is ≤ [[EdfBins]] rows at ANY corpus size — that is the
  * 100 TB surface, wired in `SparkEntry.benchQueries`. It is a different
  * algorithm, not a swapped aggregate, so it keeps its own flag instead
  * of riding sketch mode (graft.plans.SketchModeRewrite).
  *
  * Each family is one private `…Of` function of a side-tagged frame: the
  * gate queries apply it to `withSide(table, split.ref)` for each table
  * split, and the `…ForPair` functions to `tagPair(ref, curr, cols)`.
  */
object DistanceDrift extends graft.OperatorModule {

  /** PSI industry bands (Siddiqi, "Credit Risk Scorecards", ch. 10). */
  val PsiModerate = 0.1
  val PsiSignificant = 0.25

  /** Proportion floor for empty-bin smoothing — the conventional 1e-4. */
  val PsiEps = 1e-4

  /** KS asymptotic critical coefficient c(α) at α = 0.05. */
  val KsCoeff = 1.358

  /** Grid cells for the approximate (bench/scale) ECDF path. */
  val EdfBins = 10000

  // -------------------------------------------------- long-frame builders

  /** (side, column_name, x) for every numeric column of a tagged frame in
    * one stack — one scan per table for any number of columns. */
  private def numericLong(tagged: DataFrame, cols: Seq[String]): DataFrame = {
    val rows = cols.map(c => s"'$c', CAST($c AS DOUBLE)").mkString(", ")
    tagged.select(col("side"), expr(s"stack(${cols.size}, $rows) as (column_name, x)"))
      .filter(col("x").isNotNull)
  }

  /** (side, column_name, lo, w, bin) for every non-null value of every
    * column, in one stack over the tagged rows and one broadcast row of the
    * edges shared by both sides: [[NumericDrift.edgeRows]] of the numeric
    * column rows `rows` (`ref_vmin`, `curr_vmin`, `ref_vmax`, `curr_vmax`
    * per column, [[NumericDrift.columnRows]]), so `lo` is the column's
    * minimum over both sides and `w` the cell width (max − min) / bins, and
    * `bin` ∈ [0, bins) is the value's cell. Bin k means the same value range
    * on ref and curr — the property PSI requires and the reference's
    * per-side-range histograms lack (SURVEY.md §8;
    * distribution_analyzer.py:440-449). A constant column (w = 0) falls
    * wholly in bin 0. */
  private[drift] def binnedCells(tagged: DataFrame, rows: DataFrame, cols: Seq[String],
      bins: Int): DataFrame = {
    val edges = NumericDrift.widened(NumericDrift.edgeRows(rows, bins), cols, Seq("lo", "w"))
    val stacked = cols.map(c => s"'$c', CAST($c AS DOUBLE), " +
      s"${NumericDrift.field(c, "lo")}, ${NumericDrift.field(c, "w")}").mkString(", ")
    tagged.crossJoin(broadcast(edges))
      .select(col("side"), expr(s"stack(${cols.size}, $stacked) as (column_name, x, lo, w)"))
      .filter(col("x").isNotNull)
      .select(col("side"), col("column_name"), col("lo"), col("w"),
        when(col("w") === 0.0, lit(0))
          .otherwise(least(floor((col("x") - col("lo")) / col("w")), lit(bins - 1)))
          .cast("int").as("bin"))
  }

  /** The [[numericLong]] frame with x snapped to the left edge of its
    * [[binnedCells]] cell; a constant column maps wholly to its lone edge. */
  private def binnedLong(tagged: DataFrame, cols: Seq[String], bins: Int): DataFrame =
    binnedCells(tagged, NumericDrift.rowsOf(tagged, "", cols, NumericDrift.edgeStats), cols, bins)
      .select(col("side"), col("column_name"),
        when(col("w") === 0.0, col("lo")).otherwise(col("lo") + col("bin") * col("w")).as("x"))

  /** SQL mirror of one [[numericLong]] / [[binnedLong]] branch. */
  private def longBranchSql(sp: S.NumSplit, c: String): String =
    s"SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
      s"'${sp.tableName}' AS table_name, '$c' AS column_name, CAST($c AS DOUBLE) AS x " +
      s"FROM ${sp.tableName} WHERE $c IS NOT NULL"

  private def binnedBranchSql(sp: S.NumSplit, c: String, bins: Int): String =
    s"SELECT CASE WHEN ${sp.refSql} THEN 'ref' ELSE 'curr' END AS side, " +
      s"'${sp.tableName}' AS table_name, '$c' AS column_name, " +
      s"CASE WHEN b.w = 0 THEN b.lo ELSE b.lo + LEAST(FLOOR((CAST($c AS DOUBLE) - b.lo) / b.w), ${bins - 1}) * b.w END AS x " +
      s"FROM ${sp.tableName}, (SELECT MIN($c)::DOUBLE AS lo, " +
      s"(MAX($c)::DOUBLE - MIN($c)::DOUBLE) / $bins AS w FROM ${sp.tableName}) b " +
      s"WHERE $c IS NOT NULL"

  // ------------------------------------------------------------------ PSI

  /** PSI per column from a (side, column_name, x)-binned long frame:
    * Σ (p_curr − p_ref) · ln(p_curr / p_ref) over shared-edge bins, both
    * proportions floored at [[PsiEps]] so one-sided-empty bins contribute
    * a finite penalty and both-empty bins contribute zero. */
  private def psiFromLong(long: DataFrame, label: String): DataFrame = {
    val cnt = long.groupBy("column_name", "x").agg(
      sum(when(col("side") === "ref", 1L).otherwise(0L)).as("rc"),
      sum(when(col("side") === "curr", 1L).otherwise(0L)).as("cc"))
    val wAll = Window.partitionBy("column_name")
    cnt
      .withColumn("pr", greatest(col("rc") * lit(1.0) / sum("rc").over(wAll), lit(PsiEps)))
      .withColumn("pc", greatest(col("cc") * lit(1.0) / sum("cc").over(wAll), lit(PsiEps)))
      .groupBy("column_name")
      .agg(sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))).as("psi_raw"))
      .select(lit(label).as("table_name"), col("column_name"),
        r6(col("psi_raw")).as("psi"),
        when(col("psi_raw") < PsiModerate, "stable")
          .when(col("psi_raw") < PsiSignificant, "moderate")
          .otherwise("significant").as("band"))
  }

  /** PSI for every numeric split column: 10 shared-edge bins per column,
    * one scan + one small shuffle per table. */
  def psi(spark: SparkSession, dir: String): DataFrame =
    overNumericSplits(spark, dir)(psiOf).orderBy("table_name", "column_name")

  /** PSI for an arbitrary snapshot pair (library surface). */
  def psiForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    psiOf(tagPair(ref, curr, cols), label, cols).orderBy("table_name", "column_name")

  private def psiOf(tagged: DataFrame, label: String, cols: Seq[String]): DataFrame =
    psiFromLong(binnedLong(tagged, cols, 10), label)

  def psiSql: String = {
    val branches = S.numeric.flatMap(sp => sp.cols.map(binnedBranchSql(sp, _, 10)))
      .mkString(" UNION ALL ")
    s"WITH long AS ($branches), cnt AS (SELECT table_name, column_name, x, " +
      "SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)::BIGINT AS rc, " +
      "SUM(CASE WHEN side = 'curr' THEN 1 ELSE 0 END)::BIGINT AS cc " +
      "FROM long GROUP BY 1, 2, 3), p AS (SELECT table_name, column_name, " +
      s"GREATEST(rc * 1e0 / SUM(rc) OVER (PARTITION BY table_name, column_name), $PsiEps) AS pr, " +
      s"GREATEST(cc * 1e0 / SUM(cc) OVER (PARTITION BY table_name, column_name), $PsiEps) AS pc " +
      "FROM cnt), agg AS (SELECT table_name, column_name, " +
      "SUM((pc - pr) * LN(pc / pr)) AS psi_raw FROM p GROUP BY 1, 2) " +
      "SELECT table_name, column_name, ROUND(psi_raw, 6) AS psi, " +
      s"CASE WHEN psi_raw < $PsiModerate THEN 'stable' " +
      s"WHEN psi_raw < $PsiSignificant THEN 'moderate' ELSE 'significant' END AS band " +
      "FROM agg ORDER BY table_name, column_name"
  }

  // ------------------------------------------------------- ECDF (KS / W1)

  /** Per-distinct-value ECDF frame: F_ref, F_curr, side totals, and the gap
    * to the next value (null on the last row — its interval contributes
    * nothing to the W1 integral). The windows are per-column over the
    * distinct-value frame (the groupBy collapsed raw rows first); with
    * `approx` the input is grid-snapped so the frame is ≤ [[EdfBins]] rows
    * per column no matter the corpus size. */
  private def edfFromLong(long: DataFrame): DataFrame = {
    val cnt = long.groupBy("column_name", "x").agg(
      sum(when(col("side") === "ref", 1L).otherwise(0L)).as("rc"),
      sum(when(col("side") === "curr", 1L).otherwise(0L)).as("cc"))
    val wOrd = Window.partitionBy("column_name").orderBy("x")
    val wAll = Window.partitionBy("column_name")
    cnt
      .withColumn("nr", sum("rc").over(wAll))
      .withColumn("nc", sum("cc").over(wAll))
      .withColumn("fr", sum("rc").over(wOrd) * lit(1.0) / col("nr"))
      .withColumn("fc", sum("cc").over(wOrd) * lit(1.0) / col("nc"))
      .withColumn("dx", lead("x", 1).over(wOrd) - col("x"))
  }

  private def edfOf(tagged: DataFrame, cols: Seq[String], approx: Boolean): DataFrame =
    edfFromLong(if (approx) binnedLong(tagged, cols, EdfBins) else numericLong(tagged, cols))

  /** Shared ECDF CTE text over the exact long branches. */
  private def edfSqlCtes: String = {
    val branches = S.numeric.flatMap(sp => sp.cols.map(longBranchSql(sp, _)))
      .mkString(" UNION ALL ")
    s"WITH long AS ($branches), cnt AS (SELECT table_name, column_name, x, " +
      "SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)::BIGINT AS rc, " +
      "SUM(CASE WHEN side = 'curr' THEN 1 ELSE 0 END)::BIGINT AS cc " +
      "FROM long GROUP BY 1, 2, 3), edf AS (SELECT table_name, column_name, x, " +
      "SUM(rc) OVER (PARTITION BY table_name, column_name) AS nr, " +
      "SUM(cc) OVER (PARTITION BY table_name, column_name) AS nc, " +
      "SUM(rc) OVER (PARTITION BY table_name, column_name ORDER BY x) * 1e0 / " +
      "SUM(rc) OVER (PARTITION BY table_name, column_name) AS fr, " +
      "SUM(cc) OVER (PARTITION BY table_name, column_name ORDER BY x) * 1e0 / " +
      "SUM(cc) OVER (PARTITION BY table_name, column_name) AS fc, " +
      "LEAD(x) OVER (PARTITION BY table_name, column_name ORDER BY x) - x AS dx " +
      "FROM cnt)"
  }

  /** Two-sample KS: D = sup |F_ref − F_curr|, with the asymptotic α=0.05
    * decision D > c(α)·√((n_ref+n_curr)/(n_ref·n_curr)). */
  def ksTest(spark: SparkSession, dir: String, approx: Boolean = false): DataFrame =
    overNumericSplits(spark, dir)(ksOf(_, _, _, approx)).orderBy("table_name", "column_name")

  def ksForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    ksOf(tagPair(ref, curr, cols), label, cols, approx = false)
      .orderBy("table_name", "column_name")

  private def ksOf(tagged: DataFrame, label: String, cols: Seq[String],
      approx: Boolean): DataFrame = {
    val crit = lit(KsCoeff) * sqrt((col("nr") + col("nc")) * lit(1.0) / (col("nr") * col("nc")))
    edfOf(tagged, cols, approx)
      .groupBy("column_name").agg(
        max(abs(col("fr") - col("fc"))).as("ks_raw"),
        first("nr").as("nr"), first("nc").as("nc"))
      .select(lit(label).as("table_name"), col("column_name"),
        r6(col("ks_raw")).as("ks_stat"), r6(crit).as("ks_crit"),
        (col("ks_raw") > crit).as("drifted"))
  }

  def ksTestSql: String =
    s"$edfSqlCtes, agg AS (SELECT table_name, column_name, " +
      "MAX(ABS(fr - fc)) AS ks_raw, MAX(nr) AS nr, MAX(nc) AS nc " +
      "FROM edf GROUP BY 1, 2) " +
      "SELECT table_name, column_name, ROUND(ks_raw, 6) AS ks_stat, " +
      s"ROUND($KsCoeff * SQRT((nr + nc) * 1e0 / (nr * nc)), 6) AS ks_crit, " +
      s"ks_raw > $KsCoeff * SQRT((nr + nc) * 1e0 / (nr * nc)) AS drifted " +
      "FROM agg ORDER BY table_name, column_name"

  /** Wasserstein-1 (earth mover): ∫|F_ref − F_curr| dx as the exact sum
    * over ECDF steps, plus the range-normalized form (comparable across
    * columns of different units). */
  def wasserstein(spark: SparkSession, dir: String, approx: Boolean = false): DataFrame =
    overNumericSplits(spark, dir)(wassersteinOf(_, _, _, approx)).orderBy("table_name", "column_name")

  def wassersteinForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    wassersteinOf(tagPair(ref, curr, cols), label, cols, approx = false)
      .orderBy("table_name", "column_name")

  private def wassersteinOf(tagged: DataFrame, label: String, cols: Seq[String],
      approx: Boolean): DataFrame =
    edfOf(tagged, cols, approx)
      .groupBy("column_name").agg(
        coalesce(sum(abs(col("fr") - col("fc")) * col("dx")), lit(0.0)).as("w1"),
        (max("x") - min("x")).as("range"))
      .select(lit(label).as("table_name"), col("column_name"),
        r6(col("w1")).as("wasserstein"),
        r6(when(col("range") === 0.0, lit(0.0)).otherwise(col("w1") / col("range")))
          .as("wasserstein_norm"))

  def wassersteinSql: String =
    s"$edfSqlCtes, agg AS (SELECT table_name, column_name, " +
      "COALESCE(SUM(ABS(fr - fc) * dx), 0e0) AS w1, MAX(x) - MIN(x) AS r " +
      "FROM edf GROUP BY 1, 2) " +
      "SELECT table_name, column_name, ROUND(w1, 6) AS wasserstein, " +
      "ROUND(CASE WHEN r = 0 THEN 0e0 ELSE w1 / r END, 6) AS wasserstein_norm " +
      "FROM agg ORDER BY table_name, column_name"

  // ------------------------------------------------------------ Cramér's V

  /** Cramér's V for the side×category contingency of each categorical
    * split column: V = √(χ² / (N·min(r−1, k−1))) with r = 2 sides, so
    * V = √(χ² / N) whenever the column has ≥ 2 categories (a 1-category
    * column has χ² = 0 and V = 0). Unlike the reference-parity
    * [[CategoricalDrift.chiSquare]], every cell contributes (no
    * expected≥5 exclusion): this is the textbook effect size, not the
    * banded test. Effect bands follow Cohen's conventions for df* = 1. */
  def cramersV(spark: SparkSession, dir: String): DataFrame =
    S.categorical.map { sp =>
      cramersVCore(CategoricalDrift.splitCensus(spark, dir, sp), sp.tableName)
        .selectExpr(cramersIntFinal: _*)
    }.reduce(_ unionAll _).orderBy("table_name", "column_name")

  /** Float-surface variant (χ², V, both pr6-rounded), spec-only: the float
    * finalization is not bit-stable across DuckDB versions, so the GATE row
    * ([[cramersV]]) emits only exact integers (chi2_micro +
    * integer-threshold effect) and the float finalization is probed
    * separately on literal inputs ([[EngineProbe]]). DistanceDriftSpec
    * pins this surface against a JVM twin. */
  def cramersVFull(spark: SparkSession, dir: String): DataFrame =
    S.categorical.map(sp => cramersVOf(CategoricalDrift.splitCensus(spark, dir, sp), sp.tableName))
      .reduce(_ unionAll _).orderBy("table_name", "column_name")

  def cramersVForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    cramersVOf(CategoricalDrift.pairCensus(ref, curr, cols), label)
      .orderBy("table_name", "column_name")

  /** Per-cell χ² contribution from EXACT integer counts (rc, cc, rs, cs) —
    * built only from IEEE correctly-rounded ops (CAST-to-double of exact
    * ints, *, -, /), no POW (Math.pow/std::pow are 1-ulp-loose and differ),
    * so both engines produce the bit-identical double per cell. Same text
    * is evaluated by Spark (selectExpr) and DuckDB. */
  private val chiTermSql: String = {
    val er = "(CAST(rs AS DOUBLE) * CAST(rc + cc AS DOUBLE)) / CAST(rs + cs AS DOUBLE)"
    val ec = "(CAST(cs AS DOUBLE) * CAST(rc + cc AS DOUBLE)) / CAST(rs + cs AS DOUBLE)"
    // zero-expected guard (one side entirely empty → er or ec = 0): the
    // unguarded term is NaN/Inf, which violates microTermSql's finiteness
    // precondition AND diverges cross-engine (Spark FLOOR maps NaN→0,
    // DuckDB errors casting NaN to DECIMAL). A side with zero rows
    // contributes χ² = 0, matching CategoricalDrift's guarded cell.
    "CASE WHEN rs > 0 AND cs > 0 THEN " +
      s"((CAST(rc AS DOUBLE) - $er) * (CAST(rc AS DOUBLE) - $er)) / ($er) + " +
      s"((CAST(cc AS DOUBLE) - $ec) * (CAST(cc AS DOUBLE) - $ec)) / ($ec) " +
      "ELSE 0e0 END"
  }

  /** chi2 back to DOUBLE from the exact micro-unit sum — shared text. */
  private[graft] val chi2RawSql: String = microToDoubleSql("chi2_u")

  /** v from (k, chi2_u, n) — identical text both engines; SQRT is IEEE
    * correctly-rounded, so bit-identical on bit-identical input. */
  private[graft] val vRawSql: String =
    s"CASE WHEN k < 2 THEN 0e0 ELSE SQRT($chi2RawSql / CAST(n AS DOUBLE)) END"

  private[graft] def effectSql(v: String): String =
    s"CASE WHEN $v < 0.1 THEN 'negligible' WHEN $v < 0.3 THEN 'small' " +
      s"WHEN $v < 0.5 THEN 'medium' ELSE 'large' END"

  /** Integer-only gate projection. Effect bands by EXACT integer
    * comparison: v < t ⇔ chi2/n < t² ⇔ chi2_u < t²·10⁶·n, and
    * t²·10⁶ ∈ {10⁴, 9·10⁴, 25·10⁴} for Cohen's 0.1/0.3/0.5 — so the
    * verdict needs no sqrt and no float at all (and is exact where the
    * float path could mis-band a value within 1 ulp of a threshold).
    * Headroom: chi2_u ≤ 10⁶·N and 25·10⁴·N stay far below 2⁶³ at any
    * plausible N. */
  private val cramersIntFinal: Seq[String] = {
    def band(tSq: Long) = s"CAST(chi2_u AS BIGINT) < $tSq * CAST(n AS BIGINT)"
    Seq("table_name", "column_name",
      "CAST(n AS BIGINT) AS n_total",
      "CAST(k - 1 AS BIGINT) AS dof",
      "CAST(chi2_u AS BIGINT) AS chi2_micro",
      s"CASE WHEN k < 2 THEN 'negligible' WHEN ${band(10000L)} THEN 'negligible' " +
        s"WHEN ${band(90000L)} THEN 'small' WHEN ${band(250000L)} THEN 'medium' " +
        "ELSE 'large' END AS effect")
  }

  private def cramersVOf(cen: DataFrame, label: String): DataFrame =
    cramersVCore(cen, label)
      .select(col("table_name"), col("column_name"),
        col("n").as("n_total"), (col("k") - 1).as("dof"),
        expr(pr6Sql(chi2RawSql)).as("chi2"),
        expr(pr6Sql("v_raw")).as("cramers_v"),
        expr(effectSql("v_raw")).as("effect"))

  /** Shared contingency core over the non-null values of a census: exact
    * integer marginals + the micro-unit χ² sum, plus the derived float
    * v_raw (used only by the full surface). A column without a non-null
    * value has no contingency and no row. */
  private def cramersVCore(cen: DataFrame, label: String): DataFrame =
    // χ² accumulates as an exact micro-unit integer sum (microSumSql): each
    // per-cell term quantizes half-up at 6 dp into DECIMAL(38,0) and the SUM
    // is commutative integer arithmetic, so partial-agg order is irrelevant
    // on any engine. Headroom: χ² ≤ N, so the micro-sum stays < 2⁵³ through
    // ~sf1000.
    cen.selectExpr("value", "column_name", "ref_cnt AS rc", "curr_cnt AS cc",
        "ref_nn AS rs", "curr_nn AS cs")
      .withColumn("term", expr(s"CASE WHEN value IS NOT NULL THEN $chiTermSql END"))
      .groupBy("column_name").agg(
        first("rs").as("rs"), first("cs").as("cs"), count(col("value")).as("k"),
        expr(microSumSql("term")).as("chi2_u"))
      .filter(col("k") > 0)
      .withColumn("n", col("rs") + col("cs"))
      .withColumn("v_raw", expr(vRawSql))
      .withColumn("table_name", lit(label))

  def cramersVSql: String = {
    val branches = S.categorical.flatMap(sp => sp.cols.map { c =>
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, " +
        s"CAST($c AS VARCHAR) AS value, " +
        s"SUM(CASE WHEN ${sp.refSql} THEN 1 ELSE 0 END)::BIGINT AS rc, " +
        s"SUM(CASE WHEN ${sp.refSql} THEN 0 ELSE 1 END)::BIGINT AS cc " +
        s"FROM ${sp.tableName} WHERE $c IS NOT NULL GROUP BY 1, 2, 3"
    }).mkString(" UNION ALL ")
    // mirrors cramersVCore op-for-op: same chiTermSql text, the same exact
    // micro-unit integer SUM (microSumSql — commutative, no fold-order
    // assumption), then the INTEGER-ONLY final projection (cramersIntFinal)
    s"WITH piv AS ($branches), sums AS (SELECT table_name, column_name, " +
      "SUM(rc) AS rs, SUM(cc) AS cs, COUNT(*) AS k FROM piv GROUP BY 1, 2), " +
      "terms AS (SELECT p.table_name, p.column_name, p.value, s.rs, s.cs, s.k, " +
      s"p.rc AS rc, p.cc AS cc, $chiTermSql AS term " +
      "FROM piv p JOIN sums s ON p.table_name = s.table_name AND p.column_name = s.column_name), " +
      "agg AS (SELECT table_name, column_name, MAX(rs) AS rs, MAX(cs) AS cs, MAX(k) AS k, " +
      s"${microSumSql("term")} AS chi2_u FROM terms GROUP BY 1, 2), " +
      "fin AS (SELECT table_name, column_name, rs + cs AS n, k, chi2_u FROM agg) " +
      s"SELECT ${cramersIntFinal.mkString(", ")} " +
      "FROM fin ORDER BY table_name, column_name"
  }

  // ------------------------------------------- bounded f-divergence trio

  /** Alert line for Hellinger distance — the conventional default in
    * open-source drift monitors. */
  val HellingerThreshold = 0.1

  /** Total-variation / Hellinger / smoothed-KL per categorical column over
    * the UNION support of the two sides' relative frequencies — the three
    * bounded-or-floored f-divergences a drift service exposes next to JS
    * and χ²:
    *
    *   - TVD = ½ Σ|p−q| — the worst-case probability-mass error, the
    *     metric a downstream sampling ratio actually degrades by
    *   - Hellinger = √(½ Σ(√p−√q)²) ∈ [0,1] — symmetric, square-root
    *     sensitive to small-mass categories where TVD is linear
    *   - KL(ref‖curr) floored at [[PsiEps]] per side (the same convention
    *     [[psi]] uses), because the raw KL is infinite the moment one
    *     category vanishes — the floor converts "vanished" into a large
    *     finite penalty
    *
    * Same scale shape as [[cramersV]]: one stack + one map-side-combined
    * groupBy per table; every later frame is category-cardinality-sized. */
  def catDistances(spark: SparkSession, dir: String): DataFrame =
    S.categorical.map(sp => catDistancesOf(CategoricalDrift.splitCensus(spark, dir, sp), sp.tableName))
      .reduce(_ unionAll _).orderBy("table_name", "column_name")

  def catDistancesForPair(ref: DataFrame, curr: DataFrame, cols: Seq[String],
      label: String = "pair"): DataFrame =
    catDistancesOf(CategoricalDrift.pairCensus(ref, curr, cols), label)
      .orderBy("table_name", "column_name")

  /** The trio over the non-null values of a census; a column without a
    * non-null value has no row. */
  private def catDistancesOf(cen: DataFrame, label: String): DataFrame =
    cen.selectExpr("column_name", "value",
        "CASE WHEN value IS NOT NULL THEN ref_cnt * 1e0 / ref_nn END AS p",
        "CASE WHEN value IS NOT NULL THEN curr_cnt * 1e0 / curr_nn END AS q")
      .groupBy("column_name").agg(
        (sum(abs(col("p") - col("q"))) / 2).as("tvd_raw"),
        sqrt(sum(pow(sqrt(col("p")) - sqrt(col("q")), 2)) / 2).as("hel_raw"),
        sum(greatest(col("p"), lit(PsiEps)) *
          log(greatest(col("p"), lit(PsiEps)) / greatest(col("q"), lit(PsiEps))))
          .as("kl_raw"),
        count(col("value")).as("k"))
      .filter(col("k") > 0)
      .select(lit(label).as("table_name"), col("column_name"),
        r6(col("tvd_raw")).as("tvd"), r6(col("hel_raw")).as("hellinger"),
        r6(col("kl_raw")).as("kl_ref_curr"),
        (col("hel_raw") > HellingerThreshold).as("drifted"))

  def catDistancesSql: String = {
    val branches = S.categorical.flatMap(sp => sp.cols.map { c =>
      s"SELECT '${sp.tableName}' AS table_name, '$c' AS column_name, " +
        s"CAST($c AS VARCHAR) AS value, " +
        s"SUM(CASE WHEN ${sp.refSql} THEN 1 ELSE 0 END)::BIGINT AS rc, " +
        s"SUM(CASE WHEN ${sp.refSql} THEN 0 ELSE 1 END)::BIGINT AS cc " +
        s"FROM ${sp.tableName} WHERE $c IS NOT NULL GROUP BY 1, 2, 3"
    }).mkString(" UNION ALL ")
    s"WITH piv AS ($branches), sums AS (SELECT table_name, column_name, " +
      "SUM(rc) AS rs, SUM(cc) AS cs FROM piv GROUP BY 1, 2), " +
      "pq AS (SELECT p.table_name, p.column_name, " +
      "p.rc * 1e0 / s.rs AS p, p.cc * 1e0 / s.cs AS q " +
      "FROM piv p JOIN sums s ON p.table_name = s.table_name AND p.column_name = s.column_name), " +
      "agg AS (SELECT table_name, column_name, " +
      "SUM(ABS(p - q)) / 2 AS tvd_raw, " +
      "SQRT(SUM(POW(SQRT(p) - SQRT(q), 2)) / 2) AS hel_raw, " +
      s"SUM(GREATEST(p, $PsiEps) * LN(GREATEST(p, $PsiEps) / GREATEST(q, $PsiEps))) AS kl_raw " +
      "FROM pq GROUP BY 1, 2) " +
      "SELECT table_name, column_name, ROUND(tvd_raw, 6) AS tvd, " +
      "ROUND(hel_raw, 6) AS hellinger, ROUND(kl_raw, 6) AS kl_ref_curr, " +
      s"hel_raw > $HellingerThreshold AS drifted " +
      "FROM agg ORDER BY table_name, column_name"
  }

  // ----------------------------------------------------------------- API

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "psi" -> ((s, d) => psi(s, d)),
    "ks_test" -> ((s, d) => ksTest(s, d)),
    "wasserstein" -> ((s, d) => wasserstein(s, d)),
    "cramers_v" -> ((s, d) => cramersV(s, d)),
    "cat_distances" -> ((s, d) => catDistances(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "psi" -> psiSql,
    "ks_test" -> ksTestSql,
    "wasserstein" -> wassersteinSql,
    "cramers_v" -> cramersVSql,
    "cat_distances" -> catDistancesSql,
  )
}
