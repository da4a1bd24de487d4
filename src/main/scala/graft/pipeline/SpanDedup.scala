package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.drift.table

/** Substring-level duplication — the signal document-level dedup can't see
  * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  * Better": training corpora carry huge numbers of long substrings repeated
  * across otherwise-distinct documents — boilerplate, licenses, templated
  * text — and models memorize them). The paper builds a single suffix
  * array, which doesn't distribute; the standard cluster approximation is
  * fixed-length token windows: every [[SpanTokens]]-token sliding window is
  * a span, and a span occurring in ≥ 2 distinct documents marks all its
  * occurrences as duplicated text.
  *
  * Shape, and why it scales: spans never pair up (no O(df²) join like
  * exact Jaccard) — occurrences reduce to per-(span, doc) counts [one
  * shuffle, map-side partial agg], the distinct-doc spread is a window over
  * the span key on that ALREADY-REDUCED frame [second shuffle, rows =
  * distinct (span, doc) pairs, not occurrences], and per-doc stats are one
  * more keyed agg. Hot spans (the whole point of the query) cost one row
  * per document they appear in, not df² pairs.
  */
object SpanDedup extends graft.OperatorModule {

  /** Window length in whitespace tokens. The paper dedups ≥ 50-token
    * substrings on web corpora; the synthetic corpus's docs run ~50 tokens
    * total, so the default is sized to produce signal there (the mechanism
    * is length-independent — production would raise it). */
  val SpanTokens = 8

  /** Top-k for the hottest-spans query. */
  val TopSpans = 20

  /** Per-(span, doc) occurrence counts over an arbitrary (doc_id, text)
    * frame: positions are NOT distinct-ed (a span repeated inside one doc is
    * duplicated text too); `n_occ` keeps every occurrence while the frame
    * stays one row per (span, doc). */
  private[pipeline] def spanDocsOf(docs: DataFrame, k: Int = SpanTokens): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $k), i -> array_join(slice(w, i + 1, $k), ' '))")).as("sp"))
      .groupBy("sp", "doc_id").agg(count(lit(1)).as("n_occ"))

  /** DuckDB mirror of [[spanDocsOf]] over relation `rel` (1-based lists,
    * exclusive range end). */
  private[pipeline] def spanDocsSqlFrom(rel: String, k: Int = SpanTokens): String =
    s"SELECT sp, doc_id, COUNT(*) AS n_occ FROM (SELECT doc_id, " +
      s"unnest(list_transform(range(1, len(w) - $k + 2), i -> array_to_string(w[i:i+$k-1], ' '))) AS sp " +
      s"FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM $rel) t " +
      s"WHERE len(w) >= $k) s GROUP BY 1, 2"

  /** Per-doc duplicated-text stats: of a doc's `n_spans` window positions,
    * how many lie in a span some OTHER document also contains
    * (`n_dup_spans`, fraction `dup_span_frac`). Docs shorter than
    * [[SpanTokens]] tokens surface with 0 spans and NULL fraction. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val spread = spanDocsOf(docs.select("doc_id", "text"))
      .withColumn("n_docs", count(lit(1)).over(Window.partitionBy("sp")))
    val perDoc = spread.groupBy("doc_id").agg(
      sum("n_occ").as("n_spans"),
      sum(when(col("n_docs") >= 2, col("n_occ")).otherwise(0L)).as("n_dup_spans"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "COALESCE(n_spans, CAST(0 AS BIGINT)) AS n_spans",
        "COALESCE(n_dup_spans, CAST(0 AS BIGINT)) AS n_dup_spans",
        "CASE WHEN n_spans IS NOT NULL THEN ROUND(n_dup_spans * 1e0 / n_spans, 6) END AS dup_span_frac")
      .orderBy("doc_id")
  }

  def dupSpansSql: String =
    s"WITH sd AS (${spanDocsSqlFrom("documents")}), " +
      "spread AS (SELECT doc_id, n_occ, COUNT(*) OVER (PARTITION BY sp) AS n_docs FROM sd), " +
      "per_doc AS (SELECT doc_id, SUM(n_occ)::BIGINT AS n_spans, " +
      "SUM(CASE WHEN n_docs >= 2 THEN n_occ ELSE 0 END)::BIGINT AS n_dup_spans " +
      "FROM spread GROUP BY 1) " +
      "SELECT d.doc_id, COALESCE(n_spans, 0)::BIGINT AS n_spans, " +
      "COALESCE(n_dup_spans, 0)::BIGINT AS n_dup_spans, " +
      "CASE WHEN n_spans IS NOT NULL THEN ROUND(n_dup_spans * 1e0 / n_spans, 6) END AS dup_span_frac " +
      "FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id ORDER BY d.doc_id"

  /** The [[TopSpans]] most widely duplicated spans — the boilerplate a
    * curation pass would strip. Deterministic order: doc spread, then total
    * occurrences, then the span text itself; top-k plans as
    * TakeOrderedAndProject (no global sort — see PlanAuditSpec). */
  def topDupSpans(spark: SparkSession, dir: String): DataFrame =
    spanDocsOf(table(spark, dir, "documents").select("doc_id", "text"))
      .groupBy("sp").agg(
        count(lit(1)).as("n_docs"),
        sum("n_occ").as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("sp"))
      .limit(TopSpans)

  def topDupSpansSql: String =
    s"WITH sd AS (${spanDocsSqlFrom("documents")}) " +
      "SELECT sp, COUNT(*) AS n_docs, SUM(n_occ)::BIGINT AS n_occ FROM sd GROUP BY 1 " +
      s"HAVING COUNT(*) >= 2 ORDER BY n_docs DESC, n_occ DESC, sp LIMIT $TopSpans"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dup_spans" -> ((s, d) => dupSpans(s, d)),
    "top_dup_spans" -> ((s, d) => topDupSpans(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "dup_spans" -> dupSpansSql,
    "top_dup_spans" -> topDupSpansSql,
  )
}
