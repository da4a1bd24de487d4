package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{table, pr6Sql}

/** Re-identification risk audits for training-data releases: k-anonymity
  * and l-diversity over configured quasi-identifier (QI) sets.
  *
  * [[TextAnalysis]]'s `pii_scan` finds DIRECT identifiers (emails, phone
  * numbers) by regex; this module audits the complementary risk — rows
  * that are unique (or near-unique) on a COMBINATION of innocuous columns
  * (Sweeney's k-anonymity; Machanavajjhala's l-diversity for sensitive-
  * attribute disclosure within an equivalence class). A corpus release
  * pipeline runs both before shipping: `pii_scan` says "redact this
  * value", `k_anonymity` says "this column combination isolates
  * individuals even with values redacted".
  *
  *  - `k_anonymity`: one row per QI set — the dataset's k value (minimum
  *    equivalence-class size), singleton classes, and the share of rows in
  *    classes below the k=[[KThreshold]] alert line.
  *  - `k_anon_bands`: the class-size histogram behind that verdict, dense
  *    over the five standard bands.
  *  - `l_diversity`: per QI set, the diversity of a sensitive attribute
  *    within each class — classes where every row shares one sensitive
  *    value (homogeneous: l = 1) leak the attribute even at k ≥ threshold,
  *    so the audit reports min l overall AND min l restricted to classes
  *    that already pass the k line (`min_l_at_k`).
  *
  * Cross-engine determinism: every statistic is an exact integer count
  * (class sizes, distinct-sensitive counts, band totals); the only doubles
  * are final shares of two integer counts through [[graft.drift.pr6Sql]].
  * Continuous QI/sensitive columns are bucketed by FLOOR(x / step) — one
  * IEEE division + floor on identical text, so both engines group on
  * identical keys. Date keys use the engine-idiomatic day/month rendering
  * verified by `probe_datetime`/`probe_ts_scan` (same VALUES contract).
  *
  * Scale shape: one scan per QI set with a map-side-combined count per QI
  * key — the canonical heavy-hitter aggregation; the class frame (one row
  * per distinct QI combination) is the largest intermediate and everything
  * after it is a tiny rollup. `COUNT(DISTINCT sensitive)` per class is
  * bounded by the sensitive bucket cardinality, so its expand stays
  * partial-agg friendly. Nothing row-sized crosses a second exchange. */
object Privacy extends graft.OperatorModule {

  /** Alert line: classes smaller than this are "at risk" and the release
    * k value should be at least this (Sweeney's conventional k = 5). */
  val KThreshold = 5

  /** Alert line on within-class sensitive diversity (l ≥ 2 = no class is
    * homogeneous in the sensitive attribute). */
  val LThreshold = 2

  /** One audited quasi-identifier set. QI key expressions are given per
    * engine only where date rendering differs; bucket arithmetic is
    * shared text. `sensitive` is the l-diversity attribute (bucketed,
    * shared text) and `sensitiveName` its reported label. */
  final case class QiSpec(
      name: String,
      tableName: String,
      qiSpark: Seq[String],
      qiDuck: Seq[String],
      sensitive: String,
      sensitiveName: String)

  /** The shipped audit configuration: one QI set per snapshot table.
    * Buckets are coarse on purpose — the audit asks "does even a coarse
    * profile isolate rows", the strictest useful form of the question. */
  val QiSets: Seq[QiSpec] = Seq(
    QiSpec("customer_profile", "customer",
      qiSpark = Seq("c_nationkey", "CAST(FLOOR(c_acctbal / 1000e0) AS BIGINT)"),
      qiDuck = Seq("c_nationkey", "CAST(FLOOR(c_acctbal / 1000e0) AS BIGINT)"),
      sensitive = "c_mktsegment",
      sensitiveName = "c_mktsegment"),
    QiSpec("order_history", "orders",
      qiSpark = Seq("o_orderstatus", "o_orderpriority",
        "date_format(date_trunc('MONTH', o_orderdate), 'yyyy-MM')"),
      qiDuck = Seq("o_orderstatus", "o_orderpriority",
        "strftime(date_trunc('month', o_orderdate), '%Y-%m')"),
      sensitive = "CAST(FLOOR(o_totalprice / 50000e0) AS BIGINT)",
      sensitiveName = "o_totalprice_50k_bucket"),
    QiSpec("event_trace", "events",
      qiSpark = Seq("event_type",
        "date_format(date_trunc('DAY', ts), 'yyyy-MM-dd')"),
      qiDuck = Seq("event_type",
        "strftime(date_trunc('day', ts), '%Y-%m-%d')"),
      sensitive = "CAST(FLOOR(value / 10e0) AS BIGINT)",
      sensitiveName = "value_decabucket"))

  /** Class-size histogram bands (boundaries shared text in both engines). */
  private val bandExpr: String =
    "CASE WHEN sz = 1 THEN '1' WHEN sz < 5 THEN '2-4' WHEN sz < 10 THEN '5-9' " +
      "WHEN sz < 100 THEN '10-99' ELSE '100+' END"
  private val bandNames = Seq("1", "2-4", "5-9", "10-99", "100+")

  /** Equivalence-class frame for one QI set: one row per distinct QI
    * combination with its size and distinct-sensitive count. */
  private def classFrame(spark: SparkSession, dir: String, q: QiSpec): DataFrame =
    table(spark, dir, q.tableName)
      .selectExpr((q.qiSpark.zipWithIndex.map { case (e, i) => s"$e AS qi$i" } :+
        s"${q.sensitive} AS sens"): _*)
      .groupBy(q.qiSpark.indices.map(i => col(s"qi$i")): _*)
      .agg(count(lit(1)).as("sz"), countDistinct(col("sens")).as("l"))

  private def classCte(q: QiSpec): String =
    s"SELECT ${q.qiDuck.zipWithIndex.map { case (e, i) => s"$e AS qi$i" }.mkString(", ")}, " +
      s"COUNT(*) AS sz, COUNT(DISTINCT ${q.sensitive}) AS l " +
      s"FROM ${q.tableName} GROUP BY ${q.qiDuck.indices.map(i => s"qi$i").mkString(", ")}"

  // ---------------------------------------------------------- k_anonymity

  private val kFinal: Seq[String] = Seq(
    "qi_set", "table_name",
    "CAST(n_rows AS BIGINT) AS n_rows",
    "CAST(n_classes AS BIGINT) AS n_classes",
    "CAST(k_anon AS BIGINT) AS k_anonymity",
    "CAST(singletons AS BIGINT) AS singleton_classes",
    "CAST(below_k AS BIGINT) AS rows_below_k",
    pr6Sql("CAST(below_k AS DOUBLE) / CAST(n_rows AS DOUBLE)") + " AS at_risk_share",
    s"k_anon >= $KThreshold AS k_ok")

  /** Shared rollup text over a class frame (sz per class). */
  private val kAggExprs: Seq[String] = Seq(
    "SUM(sz) AS n_rows",
    "COUNT(*) AS n_classes",
    "MIN(sz) AS k_anon",
    "SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS singletons",
    s"SUM(CASE WHEN sz < $KThreshold THEN sz ELSE 0 END) AS below_k")

  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    QiSets.map { q =>
      classFrame(spark, dir, q)
        .agg(expr(kAggExprs.head), kAggExprs.tail.map(expr): _*)
        .selectExpr(s"'${q.name}' AS qi_set" +: s"'${q.tableName}' AS table_name" +: kFinal.drop(2): _*)
    }.reduce(_ unionByName _).orderBy("qi_set")

  def kAnonymitySql: String =
    QiSets.map { q =>
      s"SELECT '${q.name}' AS qi_set, '${q.tableName}' AS table_name, " +
        s"${kFinal.drop(2).mkString(", ")} FROM " +
        s"(SELECT ${kAggExprs.mkString(", ")} FROM (${classCte(q)}) c) a"
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY qi_set")

  // --------------------------------------------------------- k_anon_trend

  /** Per-day k-anonymity trend over the event stream — the BATCH TWIN of
    * [[graft.streaming.StreamingPrivacy.kAnonymityMonitor]]: each calendar
    * day's ingest is audited as its own release slice (QI = the
    * event_trace bucketing minus the day itself, which is the slice key),
    * so a release feed can see WHEN the at-risk share spiked rather than
    * one corpus-wide verdict. Same rollup text as [[kAnonymity]]
    * ([[kAggExprs]] / [[kFinal]]), one more grouping key.
    *
    * Determinism: integer class math throughout, every integer output
    * CAST to BIGINT in shared text (the round-10 rule — a bare SUM output
    * is HUGEINT in DuckDB), the only double one pr6 share of two exact
    * counts, and the day rendering is the probe_ts_scan-verified pair.
    * Scale shape: one scan, one map-side-combined count per
    * (day × QI class) key, then a days-sized rollup. */
  /** The event_trace QI bucketing minus the day slice key — shared verbatim
    * by the batch trend and the streaming monitor's replay gate
    * ([[graft.streaming.StreamingReplay]]), so both audit identical classes. */
  private[graft] val TrendQiSpark: Seq[String] =
    Seq("event_type", "CAST(FLOOR(value / 10e0) AS BIGINT)")

  /** Per-day rollup from a (day, sz) class frame to the k_anon_trend
    * projection — the [[kAggExprs]]/[[kFinal]] text with `day` as the extra
    * grouping key, shared by [[kAnonTrend]] and the streaming replay gate
    * (whose closed windows' per-class rows ARE that day's class frame). */
  private[graft] def kTrendRollupFromClasses(classes: DataFrame): DataFrame =
    classes.groupBy("day").agg(expr(kAggExprs.head), kAggExprs.tail.map(expr): _*)
      .selectExpr("day" +: kFinal.drop(2): _*)
      .orderBy("day")

  def kAnonTrend(spark: SparkSession, dir: String): DataFrame =
    kTrendRollupFromClasses(
      table(spark, dir, "events")
        .selectExpr("date_format(date_trunc('DAY', ts), 'yyyy-MM-dd') AS day" +:
          TrendQiSpark.zipWithIndex.map { case (e, i) => s"$e AS qi$i" }: _*)
        .groupBy("day", "qi0", "qi1").agg(count(lit(1)).as("sz")))

  def kAnonTrendSql: String =
    s"SELECT day, ${kFinal.drop(2).mkString(", ")} FROM (" +
      s"SELECT day, ${kAggExprs.mkString(", ")} FROM (" +
      "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, " +
      "event_type AS qi0, CAST(FLOOR(value / 10e0) AS BIGINT) AS qi1, " +
      "COUNT(*) AS sz FROM events GROUP BY 1, 2, 3) c GROUP BY day) a " +
      "ORDER BY day"

  // --------------------------------------------------------- k_anon_bands

  private val bandFinal: Seq[String] = Seq(
    "qi_set", "band",
    "CAST(n_classes AS BIGINT) AS n_classes",
    "CAST(n_rows AS BIGINT) AS n_rows")

  def kAnonBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = QiSets.map { q =>
      classFrame(spark, dir, q)
        .selectExpr(s"'${q.name}' AS qi_set", s"$bandExpr AS band", "sz")
        .groupBy("qi_set", "band")
        .agg(count(lit(1)).as("n_classes"), sum("sz").as("n_rows"))
    }.reduce(_ unionByName _)
    val spine = QiSets.flatMap(q => bandNames.map(b => (q.name, b)))
      .toDF("qi_set", "band")
    spine.join(bands, Seq("qi_set", "band"), "left")
      .na.fill(0L, Seq("n_classes", "n_rows"))
      .selectExpr(bandFinal: _*)
      .orderBy("qi_set", "band")
  }

  def kAnonBandsSql: String = {
    val perSet = QiSets.map { q =>
      s"SELECT '${q.name}' AS qi_set, $bandExpr AS band, COUNT(*) AS n_classes, " +
        s"SUM(sz) AS n_rows FROM (${classCte(q)}) c GROUP BY 1, 2"
    }.mkString(" UNION ALL ")
    val spineVals = QiSets.flatMap(q => bandNames.map(b => s"('${q.name}', '$b')"))
      .mkString(", ")
    s"WITH obs AS ($perSet), spine AS (SELECT * FROM (VALUES $spineVals) " +
      "AS t(qi_set, band)), dense AS (SELECT s.qi_set, s.band, " +
      "COALESCE(o.n_classes, 0) AS n_classes, COALESCE(o.n_rows, 0) AS n_rows " +
      "FROM spine s LEFT JOIN obs o ON s.qi_set = o.qi_set AND s.band = o.band) " +
      s"SELECT ${bandFinal.mkString(", ")} FROM dense ORDER BY qi_set, band"
  }

  // --------------------------------------------------------- k_anon_worst

  /** Rows returned per QI set by the drill-down. */
  val WorstN = 10

  /** Composite QI rendering for the drill-down: every shipped QI bucket is
    * a string or an exact integer (never a raw double), so CAST→STRING is
    * identical text AND identical formatting on both engines; NULL buckets
    * render as the empty field.
    *
    * DISPLAY/TIE-BREAK ONLY: the rendering is ambiguous for data where a
    * qi value is itself '' or contains '|' (a '' field and a NULL field
    * read the same), so no audit GROUPS on it — classes are always formed
    * on the raw qi columns ([[classFrame]], [[tCloseness]]); this string
    * labels the already-formed class in [[kAnonWorst]]'s output and
    * orders ties deterministically. */
  private def qiKeyExpr(q: QiSpec): String =
    s"concat_ws('|', ${q.qiDuck.indices
      .map(i => s"COALESCE(CAST(qi$i AS STRING), '')").mkString(", ")})"

  /** The actionable output of the audit — the [[WorstN]] smallest
    * equivalence classes per QI set WITH their quasi-identifier values:
    * exactly the profiles to generalize, coarsen, or suppress before
    * release (the drill-down to [[kAnonymity]]'s verdict, the same split
    * as `constraint_check` → `constraint_violations`). Deterministic
    * tie-break on the rendered QI key; top-k per set plans as
    * TakeOrderedAndProject, so only WorstN rows leave each branch. */
  def kAnonWorst(spark: SparkSession, dir: String): DataFrame =
    QiSets.map { q =>
      classFrame(spark, dir, q)
        .selectExpr(s"'${q.name}' AS qi_set", s"${qiKeyExpr(q)} AS qi_key",
          "CAST(sz AS BIGINT) AS class_size")
        .orderBy(col("class_size").asc, col("qi_key").asc)
        .limit(WorstN)
    }.reduce(_ unionByName _).orderBy("qi_set", "class_size", "qi_key")

  def kAnonWorstSql: String =
    QiSets.map { q =>
      s"SELECT * FROM (SELECT '${q.name}' AS qi_set, ${qiKeyExpr(q)} AS qi_key, " +
        s"CAST(sz AS BIGINT) AS class_size FROM (${classCte(q)}) c " +
        s"ORDER BY class_size ASC, qi_key ASC LIMIT $WorstN)"
    }.mkString("SELECT qi_set, qi_key, class_size FROM (", " UNION ALL ",
      ") ORDER BY qi_set, class_size, qi_key")

  // ---------------------------------------------------------- l_diversity

  private val lFinal: Seq[String] = Seq(
    "qi_set", "table_name", "sensitive_attr",
    "CAST(n_classes AS BIGINT) AS n_classes",
    "CAST(min_l AS BIGINT) AS min_l",
    "CAST(min_l_at_k AS BIGINT) AS min_l_at_k",
    "CAST(hom_classes AS BIGINT) AS homogeneous_classes",
    "CAST(hom_rows AS BIGINT) AS homogeneous_rows",
    pr6Sql("CAST(hom_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)") + " AS homogeneous_share",
    s"min_l >= $LThreshold AS l_ok")

  /** Shared rollup text over a class frame (sz, l per class). `min_l_at_k`
    * is the diversity floor among classes already past the k line — 0 when
    * no class reaches it (COALESCE keeps the engines' empty-MIN
    * conventions out of the output). */
  private val lAggExprs: Seq[String] = Seq(
    "SUM(sz) AS n_rows",
    "COUNT(*) AS n_classes",
    "MIN(l) AS min_l",
    s"COALESCE(MIN(CASE WHEN sz >= $KThreshold THEN l END), 0) AS min_l_at_k",
    "SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS hom_classes",
    "SUM(CASE WHEN l = 1 THEN sz ELSE 0 END) AS hom_rows")

  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    QiSets.map { q =>
      classFrame(spark, dir, q)
        .agg(expr(lAggExprs.head), lAggExprs.tail.map(expr): _*)
        .selectExpr(s"'${q.name}' AS qi_set" +: s"'${q.tableName}' AS table_name" +:
          s"'${q.sensitiveName}' AS sensitive_attr" +: lFinal.drop(3): _*)
    }.reduce(_ unionByName _).orderBy("qi_set")

  def lDiversitySql: String =
    QiSets.map { q =>
      s"SELECT '${q.name}' AS qi_set, '${q.tableName}' AS table_name, " +
        s"'${q.sensitiveName}' AS sensitive_attr, ${lFinal.drop(3).mkString(", ")} FROM " +
        s"(SELECT ${lAggExprs.mkString(", ")} FROM (${classCte(q)}) c) a"
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY qi_set")

  // ---------------------------------------------------------- t_closeness

  /** Alert line on the per-class sensitive-distribution distance (Li et
    * al.'s t-closeness; TVD as the distance, the categorical choice). */
  val TThreshold = 0.2

  /** Third of the privacy triad: l-diversity only counts DISTINCT
    * sensitive values per class — a class can be "diverse" yet still leak
    * by SKEW (99% one salary bucket). t-closeness bounds the total
    * variation distance between each class's sensitive distribution and
    * the global one; the audit reports the worst class per QI set and how
    * many classes sit above the t = [[TThreshold]] line.
    *
    * Determinism: per-(class, sensitive) and global counts are exact
    * integers; each class's TVD folds over only its OBSERVED sensitive
    * values via the identity TVD_c = 0.5·Σ_observed(|p_cs − p_gs| − p_gs)
    * + 0.5 (the unobserved values' |0 − p_gs| mass is the complement),
    * with the shared-text terms micro-quantized and summed as exact
    * integers ([[graft.drift.microSumDoubleSql]]); per-class TVDs pass
    * through [[graft.drift.pr6Sql]] BEFORE the max/threshold comparisons,
    * so both engines compare identical bits. Classes group on the RAW qi
    * columns — the same keys [[classFrame]] groups on (round 10: the
    * earlier rendered-[[qiKeyExpr]] grouping could merge classes on data
    * where a qi value is itself '' or contains '|', making this audit
    * disagree with k_anonymity's class counts). NULL qi buckets are fine
    * as GROUP BY keys (both engines group NULLs together); the class
    * total comes from a qi-partitioned window SUM rather than a self-join
    * precisely so no NULL ever meets an equi-join. Rows with a NULL
    * sensitive value are excluded: the audit is over the disclosed
    * attribute's distribution.
    *
    * Scale shape: one count per (class, sensitive) key — same exchange
    * class as the k-anonymity count — then a broadcast-sized global
    * distribution joined back and one tiny per-class fold. */
  private def tFinal: Seq[String] = Seq(
    "qi_set", "table_name", "sensitive_attr",
    "CAST(n_classes AS BIGINT) AS n_classes",
    "max_t AS max_t",
    "CAST(above_t AS BIGINT) AS classes_above_t",
    s"max_t <= ${TThreshold}e0 AS t_ok")

  /** Shared per-row term text: |p_cs − p_gs| − p_gs from exact counts. */
  private val tTermSql: String = {
    val pcs = "CAST(n_cs AS DOUBLE) / CAST(n_c AS DOUBLE)"
    val pgs = "CAST(n_s AS DOUBLE) / CAST(n_tot AS DOUBLE)"
    s"ABS(($pcs) - ($pgs)) - ($pgs)"
  }

  private def tvdSql: String =
    graft.drift.pr6Sql(s"0.5e0 * (${graft.drift.microSumDoubleSql(tTermSql)}) + 0.5e0")

  def tCloseness(spark: SparkSession, dir: String): DataFrame =
    QiSets.map { q =>
      val qiCols = q.qiSpark.indices.map(i => col(s"qi$i"))
      val base = table(spark, dir, q.tableName)
        .selectExpr((q.qiSpark.zipWithIndex.map { case (e, i) => s"$e AS qi$i" } :+
          s"${q.sensitive} AS sens"): _*)
        .filter(col("sens").isNotNull)
      val cs = base.groupBy(qiCols :+ col("sens"): _*).agg(count(lit(1)).as("n_cs"))
      // class total as a window over the (class, sensitive) counts: exact
      // integer sum, and NULL qi buckets stay in their class without ever
      // hitting an equi-join
      val cw = cs.withColumn("n_c", sum("n_cs").over(
        org.apache.spark.sql.expressions.Window.partitionBy(qiCols: _*)))
      val g = cs.groupBy("sens").agg(sum("n_cs").as("n_s"))
      val tot = g.agg(sum("n_s").as("n_tot"))
      val perClass = cw.join(broadcast(g), "sens")
        .crossJoin(broadcast(tot))
        .groupBy(qiCols: _*).agg(expr(tvdSql).as("t_c"))
      perClass.agg(count(lit(1)).as("n_classes"), max("t_c").as("max_t"),
        sum(expr(s"CASE WHEN t_c > ${TThreshold}e0 THEN 1 ELSE 0 END")).as("above_t"))
        .selectExpr(s"'${q.name}' AS qi_set" +: s"'${q.tableName}' AS table_name" +:
          s"'${q.sensitiveName}' AS sensitive_attr" +: tFinal.drop(3): _*)
    }.reduce(_ unionByName _).orderBy("qi_set")

  def tClosenessSql: String =
    QiSets.map { q =>
      val qis = q.qiDuck.indices.map(i => s"qi$i").mkString(", ")
      s"SELECT '${q.name}' AS qi_set, '${q.tableName}' AS table_name, " +
        s"'${q.sensitiveName}' AS sensitive_attr, ${tFinal.drop(3).mkString(", ")} FROM (" +
        s"WITH base AS (SELECT $qis, sens FROM " +
        s"(SELECT ${q.qiDuck.zipWithIndex.map { case (e, i) => s"$e AS qi$i" }.mkString(", ")}, " +
        s"${q.sensitive} AS sens FROM ${q.tableName}) raw WHERE sens IS NOT NULL), " +
        s"cs AS (SELECT $qis, sens, COUNT(*) AS n_cs FROM base GROUP BY $qis, sens), " +
        s"cw AS (SELECT *, SUM(n_cs) OVER (PARTITION BY $qis) AS n_c FROM cs), " +
        "g AS (SELECT sens, SUM(n_cs) AS n_s FROM cs GROUP BY 1), " +
        "tot AS (SELECT SUM(n_s) AS n_tot FROM g), " +
        s"j AS (SELECT $qis, cw.n_cs, cw.n_c, g.n_s, tot.n_tot FROM cw " +
        "JOIN g USING (sens) CROSS JOIN tot), " +
        s"pc AS (SELECT $qis, $tvdSql AS t_c FROM j GROUP BY $qis) " +
        "SELECT COUNT(*) AS n_classes, MAX(t_c) AS max_t, " +
        s"SUM(CASE WHEN t_c > ${TThreshold}e0 THEN 1 ELSE 0 END) AS above_t FROM pc) a"
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY qi_set")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_anonymity" -> ((s, d) => kAnonymity(s, d)),
    "k_anon_bands" -> ((s, d) => kAnonBands(s, d)),
    "k_anon_trend" -> ((s, d) => kAnonTrend(s, d)),
    "k_anon_worst" -> ((s, d) => kAnonWorst(s, d)),
    "l_diversity" -> ((s, d) => lDiversity(s, d)),
    "t_closeness" -> ((s, d) => tCloseness(s, d)))

  def oracles: Map[String, String] = Map(
    "k_anonymity" -> kAnonymitySql,
    "k_anon_bands" -> kAnonBandsSql,
    "k_anon_trend" -> kAnonTrendSql,
    "k_anon_worst" -> kAnonWorstSql,
    "l_diversity" -> lDiversitySql,
    "t_closeness" -> tClosenessSql)
}
