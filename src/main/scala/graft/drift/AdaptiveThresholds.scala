package graft.drift

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{splits => S}

/** Adaptive drift thresholds — reference O38
  * (/root/reference/adaptive_threshold.py). Base thresholds scaled by
  * dataset size bands × schema-complexity bands × per-column volatility /
  * cardinality / null-ratio bands; plus CV- and entropy-interpolated
  * per-column thresholds. The reference's categorical-volatility branch is
  * dead code (`float.log()` AttributeError swallowed to 1.0 —
  * SURVEY.md §8.3); we preserve the OBSERVABLE behavior: categorical
  * volatility factor = 1.0.
  *
  * Scale design: all probes for one table run in one aggregation pass; the
  * banding is a CASE expression evaluated in-plan (shared with the oracle),
  * not driver-side Python over collect()ed stats.
  */
object AdaptiveThresholds extends graft.OperatorModule {

  val BaseNumerical = 0.1
  val BaseCategorical = 0.05

  /** Size bands (adaptive_threshold.py:53-75) over min(ref_n, curr_n). */
  val sizeFactorSql: String =
    "CASE WHEN least_n < 100 THEN 2.0 WHEN least_n < 1000 THEN 1.5 " +
      "WHEN least_n < 10000 THEN 1.2 WHEN least_n < 100000 THEN 1.0 " +
      "WHEN least_n < 1000000 THEN 0.8 ELSE 0.6 END"

  /** Complexity bands (adaptive_threshold.py:77-99) over column count. */
  def complexityFactor(nCols: Int): Double =
    if (nCols < 10) 0.9 else if (nCols < 50) 1.0 else if (nCols < 100) 1.1 else 1.2

  // ------------------------------------------------------ global thresholds

  private case class Tbl(name: String, nCols: Int, refSql: String,
      ref: org.apache.spark.sql.Column)
  private val tbls = Seq(
    Tbl("lineitem", 11, S.lineitemRefSql, S.lineitemRef),
    Tbl("orders", 6, S.ordersRefSql, S.ordersRef),
    Tbl("events", 6, S.eventsRefSql, S.eventsRef))

  private def globalFinal(cf: Double): Seq[String] = Seq(
    "table_name", "ref_n", "curr_n",
    s"ROUND(CAST(($sizeFactorSql) AS DOUBLE), 6) AS size_factor",
    s"CAST($cf AS DOUBLE) AS complexity_factor",
    s"ROUND(CAST($BaseNumerical * ($sizeFactorSql) * $cf AS DOUBLE), 6) AS adjusted_numerical_threshold",
    s"ROUND(CAST($BaseCategorical * ($sizeFactorSql) * $cf AS DOUBLE), 6) AS adjusted_categorical_threshold")

  def globalQuery(spark: SparkSession, dir: String): DataFrame = {
    val per = tbls.map { t =>
      withSide(table(spark, dir, t.name), t.ref)
        .groupBy("side").agg(count(lit(1)).as("n"))
        .groupBy().agg(
          max(when(col("side") === "ref", col("n"))).as("ref_n"),
          max(when(col("side") === "curr", col("n"))).as("curr_n"))
        .select(lit(t.name).as("table_name"), col("ref_n"), col("curr_n"),
          least(col("ref_n"), col("curr_n")).as("least_n"))
        .selectExpr(globalFinal(complexityFactor(t.nCols)): _*)
    }
    per.reduce(_ union _).orderBy("table_name")
  }

  def globalSql: String = {
    val per = tbls.map { t =>
      s"SELECT ${globalFinal(complexityFactor(t.nCols)).mkString(", ")} FROM " +
        s"(SELECT '${t.name}' AS table_name, ref_n, curr_n, LEAST(ref_n, curr_n) AS least_n FROM " +
        s"(SELECT SUM(CASE WHEN ${t.refSql} THEN 1 ELSE 0 END)::BIGINT AS ref_n, " +
        s"SUM(CASE WHEN ${t.refSql} THEN 0 ELSE 1 END)::BIGINT AS curr_n FROM ${t.name}) c) z"
    }
    per.mkString("", " UNION ALL ", " ORDER BY table_name")
  }

  // ---------------------------------------- O38 sample-size adjustment

  /** Sample-size threshold factor (adaptive_threshold.py:523-556): smaller
    * samples get looser thresholds (variance grows ∝ 1/√n). Identity (1.0)
    * when not sampling (full_size == 0 or sample ≥ full); 2.0 below a 1%
    * ratio; 0.5 at ≥ 50%; linear in √ratio between. The reference defines
    * this as a standalone static utility and never calls it from the
    * detector; here it is also wired into `DriftDetector.detectDrift`
    * (threshold scaling when `sampleSize` actually truncates the frame).
    *
    * Reference quirk preserved (adaptive_threshold.py:547-549): a ≥50%
    * sample returns min_factor 0.5 — TIGHTER than the unsampled 1.0 — so
    * the formula is non-monotone at the sample == full boundary
    * (PropertySpec pins both the quirk and in-regime monotonicity). */
  def sampleSizeFactor(sampleSize: Long, fullSize: Long,
      minFactor: Double = 0.5, maxFactor: Double = 2.0): Double =
    if (fullSize == 0L || sampleSize >= fullSize) 1.0
    else {
      val ratio = sampleSize.toDouble / fullSize
      if (ratio <= 0.01) maxFactor
      else if (ratio >= 0.5) minFactor
      else minFactor + (maxFactor - minFactor) * (1.0 - math.sqrt(ratio / 0.5))
    }

  /** adjust_threshold_for_sample_size(threshold, sample, full). */
  def adjustThresholdForSampleSize(threshold: Double, sampleSize: Long,
      fullSize: Long): Double = threshold * sampleSizeFactor(sampleSize, fullSize)

  /** SQL twin of [[sampleSizeFactor]] (shared by the Spark plan and the
    * DuckDB oracle). */
  def sampleFactorSql(sampleN: String, fullN: String): String =
    s"CASE WHEN $fullN = 0 OR $sampleN >= $fullN THEN 1.0 " +
      s"WHEN $sampleN * 1e0 / $fullN <= 0.01 THEN 2.0 " +
      s"WHEN $sampleN * 1e0 / $fullN >= 0.5 THEN 0.5 " +
      s"ELSE 0.5 + (2.0 - 0.5) * (1.0 - SQRT($sampleN * 1e0 / $fullN / 0.5)) END"

  /** Cap applied by the `adaptive_sampled` query: small enough that the
    * testdata tables land in different factor bands. */
  val SampleCap = 5000L

  private def sampledFinal(cf: Double): Seq[String] = {
    val sf = sampleFactorSql(s"LEAST($SampleCap, ref_n)", "ref_n")
    Seq("table_name", "ref_n",
      s"CAST(LEAST($SampleCap, ref_n) AS BIGINT) AS sample_n",
      s"ROUND(CAST(($sf) AS DOUBLE), 6) AS sample_factor",
      s"ROUND(CAST($BaseNumerical * ($sizeFactorSql) * $cf * ($sf) AS DOUBLE), 6) AS sampled_numerical_threshold",
      s"ROUND(CAST($BaseCategorical * ($sizeFactorSql) * $cf * ($sf) AS DOUBLE), 6) AS sampled_categorical_threshold")
  }

  /** Per-table thresholds under a `SampleCap`-row sampling budget: the
    * global adjusted thresholds × the sample-size factor computed from the
    * reference-frame row count. */
  def sampledQuery(spark: SparkSession, dir: String): DataFrame = {
    val per = tbls.map { t =>
      withSide(table(spark, dir, t.name), t.ref)
        .groupBy("side").agg(count(lit(1)).as("n"))
        .groupBy().agg(
          max(when(col("side") === "ref", col("n"))).as("ref_n"),
          max(when(col("side") === "curr", col("n"))).as("curr_n"))
        .select(lit(t.name).as("table_name"), col("ref_n"), col("curr_n"),
          least(col("ref_n"), col("curr_n")).as("least_n"))
        .selectExpr(sampledFinal(complexityFactor(t.nCols)): _*)
    }
    per.reduce(_ union _).orderBy("table_name")
  }

  def sampledSql: String = {
    val per = tbls.map { t =>
      s"SELECT ${sampledFinal(complexityFactor(t.nCols)).mkString(", ")} FROM " +
        s"(SELECT '${t.name}' AS table_name, ref_n, curr_n, LEAST(ref_n, curr_n) AS least_n FROM " +
        s"(SELECT SUM(CASE WHEN ${t.refSql} THEN 1 ELSE 0 END)::BIGINT AS ref_n, " +
        s"SUM(CASE WHEN ${t.refSql} THEN 0 ELSE 1 END)::BIGINT AS curr_n FROM ${t.name}) c) z"
    }
    per.mkString("", " UNION ALL ", " ORDER BY table_name")
  }

  // -------------------------------------------------- per-column thresholds

  /** Volatility (CV) bands for numeric columns (adaptive_threshold.py:
    * 195-219); computed on the REFERENCE frame. mean==0 → 1.5. */
  val volatilitySql: String =
    "CASE WHEN mean = 0 THEN 1.5 WHEN ABS(std / mean) < 0.1 THEN 0.8 " +
      "WHEN ABS(std / mean) < 0.5 THEN 1.0 WHEN ABS(std / mean) < 1.0 THEN 1.2 ELSE 1.5 END"

  /** Cardinality bands (adaptive_threshold.py:252-286): distinct/total on
    * the full column (distinct includes the null value, total = all rows). */
  val cardinalitySql: String =
    "CASE WHEN card_ratio < 0.01 THEN 0.8 WHEN card_ratio < 0.1 THEN 0.9 " +
      "WHEN card_ratio < 0.5 THEN 1.0 WHEN card_ratio < 0.9 THEN 1.2 ELSE 1.5 END"

  /** Null-ratio bands (adaptive_threshold.py:288-323). */
  val nullFactorSql: String =
    "CASE WHEN null_ratio < 0.01 THEN 0.9 WHEN null_ratio < 0.1 THEN 1.0 " +
      "WHEN null_ratio < 0.3 THEN 1.1 WHEN null_ratio < 0.5 THEN 1.3 ELSE 1.5 END"

  /** CV-interpolated numeric threshold (adaptive_threshold.py:358-410). */
  val cvThresholdSql: String =
    "CASE WHEN mean = 0 OR std IS NULL THEN 0.2 " +
      "WHEN ABS(std / mean) < 0.1 THEN 0.05 WHEN ABS(std / mean) > 1.0 THEN 0.5 " +
      "ELSE 0.05 + (0.5 - 0.05) * (ABS(std / mean) - 0.1) / 0.9 END"

  private val colSpecs: Seq[(String, String, String, org.apache.spark.sql.Column, Boolean)] = Seq(
    // (table, column, refSql, refCol, isNumeric — per O4 on the raw schema)
    ("lineitem", "l_quantity", S.lineitemRefSql, S.lineitemRef, true),
    ("lineitem", "l_extendedprice", S.lineitemRefSql, S.lineitemRef, true),
    ("lineitem", "l_returnflag", S.lineitemRefSql, S.lineitemRef, false),
    ("orders", "o_totalprice", S.ordersRefSql, S.ordersRef, true),
    ("orders", "o_orderpriority", S.ordersRefSql, S.ordersRef, false),
  )

  /** Entropy-interpolated categorical threshold
    * (adaptive_threshold.py:412-481): natural-log entropy over the full
    * value distribution (null group included, probs over all rows),
    * normalized by ln(distinct incl. null); uniform → min 0.05,
    * concentrated → max 0.5, linear in between; degenerate → base 0.2. */
  val entropyThresholdSql: String =
    "CASE WHEN max_ent IS NULL OR max_ent = 0 THEN 0.2 " +
      "WHEN ent / max_ent > 0.8 THEN 0.05 WHEN ent / max_ent < 0.3 THEN 0.5 " +
      "ELSE 0.5 - (0.5 - 0.05) * (ent / max_ent - 0.3) / 0.5 END"

  private def colFinal(isNum: Boolean, sizeF: String, compF: Double): Seq[String] = {
    val vol = if (isNum) volatilitySql else "1.0" // dead categorical branch → 1.0
    val base = if (isNum) BaseNumerical else BaseCategorical
    Seq("table_name", "column_name",
      s"'${if (isNum) "numerical" else "categorical"}' AS column_type",
      s"ROUND(CAST(($vol) AS DOUBLE), 6) AS volatility_factor",
      s"ROUND(CAST(($cardinalitySql) AS DOUBLE), 6) AS cardinality_factor",
      s"ROUND(CAST(($nullFactorSql) AS DOUBLE), 6) AS null_factor",
      s"ROUND(CAST($base * ($sizeF) * $compF * ($vol) * ($cardinalitySql) * ($nullFactorSql) AS DOUBLE), 6) AS threshold") ++
      (if (isNum) Seq(s"ROUND(CAST(($cvThresholdSql) AS DOUBLE), 6) AS cv_threshold")
       else Seq("CAST(NULL AS DOUBLE) AS cv_threshold")) ++
      (if (isNum) Seq("CAST(NULL AS DOUBLE) AS entropy_threshold")
       else Seq(s"ROUND(CAST(($entropyThresholdSql) AS DOUBLE), 6) AS entropy_threshold"))
  }

  def columnQuery(spark: SparkSession, dir: String): DataFrame = {
    val per = colSpecs.map { case (t, c, _, refCol, isNum) =>
      val df = table(spark, dir, t)
      val nCols = df.schema.fields.length
      val ref = df.filter(refCol)
      val curr = df.filter(!refCol)
      // probes on the reference frame (adaptive_threshold.py:136-140)
      val probe = ref.agg(
        coalesce(avg(col(c).cast("double")), lit(0.0)).as("mean0"),
        coalesce(stddev(col(c).cast("double")), lit(0.0)).as("std0"),
        countDistinct(col(c)).as("d_nonnull"),
        max(when(col(c).isNull, 1).otherwise(0)).as("has_null"),
        count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("nulls"))
      val sizes = withSide(df, refCol).groupBy("side").agg(count(lit(1)).as("sn"))
        .groupBy().agg(
          max(when(col("side") === "ref", col("sn"))).as("ref_n"),
          max(when(col("side") === "curr", col("sn"))).as("curr_n"))
      val entropy =
        if (isNum) ref.limit(1).agg(lit(null).cast("double").as("ent"), lit(null).cast("double").as("max_ent"))
        else {
          val vc = ref.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          val total = ref.count()
          vc.agg(
            (-sum(col("cnt") * 1e0 / total * log(col("cnt") * 1e0 / total))).as("ent"),
            log(count(lit(1)).cast("double")).as("max_ent"))
        }
      probe.crossJoin(sizes).crossJoin(broadcast(entropy))
        .select(lit(t).as("table_name"), lit(c).as("column_name"),
          col("mean0").as("mean"), col("std0").as("std"),
          ((col("d_nonnull") + col("has_null")) * 1e0 / col("n")).as("card_ratio"),
          (col("nulls") * 1e0 / col("n")).as("null_ratio"),
          least(col("ref_n"), col("curr_n")).as("least_n"),
          col("ent"), col("max_ent"))
        .selectExpr(colFinal(isNum, sizeFactorSql, complexityFactor(nCols)): _*)
    }
    per.reduce(_ union _).orderBy("table_name", "column_name")
  }

  def columnSql: String = {
    val nColsOf = Map("lineitem" -> 11, "orders" -> 6)
    val per = colSpecs.map { case (t, c, refSql, _, isNum) =>
      val numProbe = if (isNum)
        s"COALESCE(AVG(CAST($c AS DOUBLE)), 0.0) AS mean, COALESCE(STDDEV(CAST($c AS DOUBLE)), 0.0) AS std"
      else "0.0 AS mean, 0.0 AS std"
      val entSub = if (isNum) "SELECT CAST(NULL AS DOUBLE) AS ent, CAST(NULL AS DOUBLE) AS max_ent"
        else s"SELECT -SUM(cnt * 1e0 / tot * LN(cnt * 1e0 / tot)) AS ent, LN(COUNT(*) * 1e0) AS max_ent FROM " +
          s"(SELECT COUNT(*) AS cnt FROM $t WHERE $refSql GROUP BY $c) g, " +
          s"(SELECT COUNT(*) AS tot FROM $t WHERE $refSql) x GROUP BY tot"
      s"SELECT ${colFinal(isNum, sizeFactorSql, complexityFactor(nColsOf(t))).mkString(", ")} FROM " +
        s"(SELECT '$t' AS table_name, '$c' AS column_name, p.mean, p.std, p.card_ratio, p.null_ratio, " +
        "LEAST(s.ref_n, s.curr_n) AS least_n, e.ent, e.max_ent FROM " +
        s"(SELECT $numProbe, " +
        s"(COUNT(DISTINCT $c) + MAX(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)) * 1e0 / COUNT(*) AS card_ratio, " +
        s"SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) * 1e0 / COUNT(*) AS null_ratio " +
        s"FROM $t WHERE $refSql) p, " +
        s"(SELECT SUM(CASE WHEN $refSql THEN 1 ELSE 0 END)::BIGINT AS ref_n, " +
        s"SUM(CASE WHEN $refSql THEN 0 ELSE 1 END)::BIGINT AS curr_n FROM $t) s, ($entSub) e) z"
    }
    per.mkString("", " UNION ALL ", " ORDER BY table_name, column_name")
  }

  // ----------------------------------------------------------------- API

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "adaptive_global" -> ((s, d) => globalQuery(s, d)),
    "adaptive_columns" -> ((s, d) => columnQuery(s, d)),
    "adaptive_sampled" -> ((s, d) => sampledQuery(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "adaptive_global" -> globalSql,
    "adaptive_columns" -> columnSql,
    "adaptive_sampled" -> sampledSql,
  )
}
