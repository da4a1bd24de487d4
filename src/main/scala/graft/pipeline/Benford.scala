package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{table, pr6Sql, microSumDoubleSql}

/** Benford's-law conformance for monetary/positive-magnitude columns: the
  * classic first-significant-digit test used for fraud and data-quality
  * screening (naturally occurring multi-scale amounts follow
  * P(d) = log10(1 + 1/d); fabricated, truncated, or synthetic-uniform
  * amounts do not). `benford_check` reports the full observed-vs-expected
  * digit distribution; `benford_verdict` rolls each column up to its total
  * variation distance with a pass flag. On the synthetic fixtures every
  * audited column FAILS (TVD ≈ 0.24–0.27 vs the 0.1 alert line) — which is
  * the method working: uniform generators are exactly what it detects.
  *
  * Cross-engine determinism: the first digit comes from the STRING head of
  * FLOOR(ABS(x)) cast to BIGINT (integer-to-text is exact in both engines —
  * no log10/pow on data), the nine Benford expectations are JVM-computed
  * literals embedded in shared SQL text, and the TVD sums its nine |obs−exp|
  * terms as exact micro-unit integers ([[graft.drift.microSumDoubleSql]] —
  * commutative, no fold-order assumption; terms are ≤ 1 so the scaled sum
  * is ≤ 9e6, nowhere near 2⁵³). Rows with |x| < 1 or NULL are excluded
  * (no leading significant digit in the integer part).
  *
  * Scale shape: one scan per audited table, exact partial-agg'd counts per
  * (column, digit) — 9 groups per column — then arithmetic on a 27-row
  * frame. Nothing corpus-sized survives the first aggregation. */
object Benford extends graft.OperatorModule {

  /** (table, column) pairs audited by the shipped queries. */
  val Columns: Seq[(String, String)] = Seq(
    ("customer", "c_acctbal"),
    ("lineitem", "l_extendedprice"),
    ("orders", "o_totalprice"))

  /** Alert line on total variation distance from Benford. */
  val TvdThreshold = 0.1

  /** First significant digit of the integer part, as shared SQL text. */
  private def digitExpr(c: String): String =
    s"CAST(SUBSTRING(CAST(CAST(FLOOR(ABS($c)) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"

  /** P(digit) literals computed once on the JVM and embedded as identical
    * text in both engines — no engine-side transcendentals. */
  private val pExpCase: String = (1 to 9)
    .map(d => s"WHEN digit = $d THEN ${math.log10(1.0 + 1.0 / d)}e0")
    .mkString("CASE ", " ", " ELSE 0e0 END")

  /** Observed digit counts per audited column, dense over digits 1–9. */
  private def digitCounts(spark: SparkSession, dir: String): DataFrame = {
    val obs = Columns.map { case (t, c) =>
      table(spark, dir, t)
        .filter(expr(s"$c IS NOT NULL AND ABS($c) >= 1e0"))
        .select(lit(t).as("table_name"), lit(c).as("column_name"),
          expr(digitExpr(c)).as("digit"))
        .groupBy("table_name", "column_name", "digit")
        .agg(count(lit(1)).as("n_d"))
    }.reduce(_ unionByName _)
    val spine = spark.sql(
      Columns.map { case (t, c) => s"('$t', '$c')" }
        .mkString("SELECT table_name, column_name, digit FROM (VALUES ",
          ", ", ") AS cols(table_name, column_name)") +
        // BIGINT to match the extracted digit's type (and the oracle's)
        " CROSS JOIN (SELECT CAST(digit AS BIGINT) AS digit FROM " +
        "(SELECT explode(sequence(1, 9)) AS digit)) d")
    spine.join(obs, Seq("table_name", "column_name", "digit"), "left")
      .na.fill(0L, Seq("n_d"))
  }

  /** Shared per-digit projection text (identical in the DuckDB twin). */
  private val checkFinal: Seq[String] = Seq(
    "table_name", "column_name", "digit", "CAST(n_d AS BIGINT) AS n_d",
    pr6Sql("CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)") + " AS p_observed",
    pr6Sql(pExpCase) + " AS p_benford",
    pr6Sql(s"(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)) - ($pExpCase)") + " AS deviation")

  def benfordCheck(spark: SparkSession, dir: String): DataFrame = {
    val dense = digitCounts(spark, dir)
    val totals = dense.groupBy("table_name", "column_name")
      .agg(sum("n_d").as("n"))
    dense.join(totals, Seq("table_name", "column_name"))
      .selectExpr(checkFinal: _*)
      .orderBy("table_name", "column_name", "digit")
  }

  /** Per-column TVD verdict; the nine |obs − exp| terms sum as exact
    * micro-unit integers on both engines. */
  private def verdictFinal(fold: String): Seq[String] = Seq(
    "table_name", "column_name", "CAST(n AS BIGINT) AS n",
    pr6Sql(s"0.5e0 * ($fold)") + " AS tvd",
    s"${pr6Sql(s"0.5e0 * ($fold)")} <= ${TvdThreshold}e0 AS benford_ok")

  def benfordVerdict(spark: SparkSession, dir: String): DataFrame = {
    val dense = digitCounts(spark, dir)
      .withColumn("n", sum("n_d").over(
        org.apache.spark.sql.expressions.Window.partitionBy("table_name", "column_name")))
      .withColumn("term", expr(
        s"ABS((CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)) - ($pExpCase))"))
    dense.groupBy("table_name", "column_name", "n")
      .agg(expr(microSumDoubleSql("term")).as("fold"))
      .selectExpr(verdictFinal("fold"): _*)
      .orderBy("table_name", "column_name")
  }

  /** DuckDB CTE mirroring [[digitCounts]] (dense digit spine). */
  private def digitCountsCte: String = {
    val branches = Columns.map { case (t, c) =>
      s"SELECT '$t' AS table_name, '$c' AS column_name, ${digitExpr(c)} AS digit, " +
        s"COUNT(*) AS n_d FROM $t WHERE $c IS NOT NULL AND ABS($c) >= 1e0 GROUP BY 3"
    }
    "WITH obs AS (" + branches.mkString(" UNION ALL ") + "), " +
      "spine AS (SELECT table_name, column_name, d.digit FROM (VALUES " +
      Columns.map { case (t, c) => s"('$t', '$c')" }.mkString(", ") +
      ") AS cols(table_name, column_name) CROSS JOIN " +
      "(SELECT CAST(UNNEST(range(1, 10)) AS BIGINT) AS digit) d), " +
      "dense AS (SELECT s.table_name, s.column_name, s.digit, " +
      "COALESCE(o.n_d, 0) AS n_d FROM spine s LEFT JOIN obs o " +
      "ON s.table_name = o.table_name AND s.column_name = o.column_name " +
      "AND s.digit = o.digit)"

  }

  def benfordCheckSql: String =
    s"$digitCountsCte, totals AS (SELECT table_name, column_name, " +
      "SUM(n_d) AS n FROM dense GROUP BY 1, 2) " +
      s"SELECT ${checkFinal.mkString(", ")} FROM dense JOIN totals USING (table_name, column_name) " +
      "ORDER BY table_name, column_name, digit"

  def benfordVerdictSql: String =
    s"$digitCountsCte, wn AS (SELECT table_name, column_name, digit, n_d, " +
      "SUM(n_d) OVER (PARTITION BY table_name, column_name) AS n FROM dense), " +
      "wt AS (SELECT table_name, column_name, digit, n, " +
      s"ABS((CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE)) - ($pExpCase)) AS term FROM wn), " +
      "agg AS (SELECT table_name, column_name, n, " +
      s"${microSumDoubleSql("term")} AS fold FROM wt GROUP BY 1, 2, 3) " +
      s"SELECT ${verdictFinal("fold").mkString(", ")} FROM agg " +
      "ORDER BY table_name, column_name"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "benford_check" -> ((s, d) => benfordCheck(s, d)),
    "benford_verdict" -> ((s, d) => benfordVerdict(s, d)))

  def oracles: Map[String, String] = Map(
    "benford_check" -> benfordCheckSql,
    "benford_verdict" -> benfordVerdictSql)
}
