package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{r6, table}

/** Embedding-space distribution drift over the `embeddings` table — the
  * vector-column counterpart of the numeric drift family: has the corpus'
  * embedding distribution moved between two snapshots? (The reference has
  * no embedding surface at all; this extends the engine for the
  * training-data pipeline, where a shifted embedding distribution means
  * the upstream encoder or corpus mix changed.)
  *
  * Snapshot pair: `vec_id % 2 = 0` → ref, else curr — the same
  * deterministic, SQL-expressible split idiom as FIXTURES.md §B.
  *
  * Scale design: ONE posexplode scan → groupBy(dim) with side-conditional
  * aggregates. The shuffled frame is (dims × 2) partial-agg rows per
  * partition — dimension count (64 here, ≤ a few thousand in practice) is
  * the bound, never the corpus size. The per-dim frame then folds into a
  * 1-row summary (centroid cosine/L2) with a second tiny agg. No driver
  * collect, no pairwise products.
  */
object EmbeddingDrift extends graft.OperatorModule {

  /** |z| above which a dimension's mean shift counts as drifted (two-sample
    * z test at ≈95%). */
  val ZThreshold = 2.0

  /** Per-dimension long frame (side, dim, v) — one scan. */
  private def dimLong(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(when(pmod(col("vec_id"), lit(2)) === 0, "ref").otherwise("curr").as("side"),
        posexplode(col("embedding").cast("array<double>")))
      .toDF("side", "dim", "v")

  /** Per-dim side stats: means, sample variances, counts, and the
    * two-sample z for the mean shift (0 when both variances are 0). */
  private def dimStats(spark: SparkSession, dir: String): DataFrame =
    dimLong(spark, dir).groupBy("dim").agg(
      avg(when(col("side") === "ref", col("v"))).as("mr"),
      avg(when(col("side") === "curr", col("v"))).as("mc"),
      var_samp(when(col("side") === "ref", col("v"))).as("vr"),
      var_samp(when(col("side") === "curr", col("v"))).as("vc"),
      count(when(col("side") === "ref", col("v"))).as("nr"),
      count(when(col("side") === "curr", col("v"))).as("nc"))
      .withColumn("se", sqrt(col("vr") / col("nr") + col("vc") / col("nc")))
      .withColumn("z", when(col("se") === 0.0, lit(0.0))
        .otherwise((col("mc") - col("mr")) / col("se")))

  /** Per-dimension mean shift: 64 rows (dim, means, shift, z, drifted). */
  def dimShift(spark: SparkSession, dir: String): DataFrame =
    dimStats(spark, dir)
      .select(col("dim"), r6(col("mr")).as("ref_mean"), r6(col("mc")).as("curr_mean"),
        r6(col("mc") - col("mr")).as("shift"), r6(col("z")).as("z"),
        (abs(col("z")) > ZThreshold).as("drifted"))
      .orderBy("dim")

  /** 1-row corpus summary: snapshot sizes, cosine between the two centroid
    * vectors, centroid L2 distance, the two centroid norms, and how many
    * dimensions shifted significantly. */
  def drift(spark: SparkSession, dir: String): DataFrame = {
    val sizes = table(spark, dir, "embeddings").agg(
      sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_ref"),
      sum(when(pmod(col("vec_id"), lit(2)) === 0, 0L).otherwise(1L)).as("n_curr"))
    val agg = dimStats(spark, dir).agg(
      sum(col("mr") * col("mc")).as("dot"),
      sum(col("mr") * col("mr")).as("sr"),
      sum(col("mc") * col("mc")).as("sc"),
      sum(pow(col("mr") - col("mc"), 2)).as("sqdist"),
      sum(when(abs(col("z")) > ZThreshold, 1L).otherwise(0L)).as("n_drifted_dims"))
    sizes.crossJoin(agg).select(
      col("n_ref"), col("n_curr"),
      r6(col("dot") / (sqrt(col("sr")) * sqrt(col("sc")))).as("centroid_cosine"),
      r6(sqrt(col("sqdist"))).as("centroid_l2"),
      r6(sqrt(col("sr"))).as("ref_centroid_norm"),
      r6(sqrt(col("sc"))).as("curr_centroid_norm"),
      col("n_drifted_dims"))
  }

  /** Shared DuckDB CTEs: the zipped unnest (generate_subscripts pairs with
    * unnest positionally) mirrors posexplode; `- 1` aligns DuckDB's 1-based
    * subscripts with Spark's 0-based pos. */
  private val dimStatsSql: String =
    "WITH lv AS (SELECT CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'curr' END AS side, " +
      "generate_subscripts(embedding, 1) - 1 AS dim, UNNEST(embedding)::DOUBLE AS v FROM embeddings), " +
      "dims AS (SELECT dim, " +
      "AVG(CASE WHEN side = 'ref' THEN v END) AS mr, " +
      "AVG(CASE WHEN side = 'curr' THEN v END) AS mc, " +
      "VAR_SAMP(CASE WHEN side = 'ref' THEN v END) AS vr, " +
      "VAR_SAMP(CASE WHEN side = 'curr' THEN v END) AS vc, " +
      "COUNT(CASE WHEN side = 'ref' THEN v END) AS nr, " +
      "COUNT(CASE WHEN side = 'curr' THEN v END) AS nc FROM lv GROUP BY 1), " +
      "zs AS (SELECT dim, mr, mc, " +
      "CASE WHEN SQRT(vr / nr + vc / nc) = 0 THEN 0e0 " +
      "ELSE (mc - mr) / SQRT(vr / nr + vc / nc) END AS z FROM dims)"

  def dimShiftSql: String =
    s"$dimStatsSql SELECT dim, ROUND(mr, 6) AS ref_mean, ROUND(mc, 6) AS curr_mean, " +
      "ROUND(mc - mr, 6) AS shift, ROUND(z, 6) AS z, " +
      s"ABS(z) > $ZThreshold AS drifted FROM zs ORDER BY dim"

  def driftSql: String =
    s"$dimStatsSql, agg AS (SELECT SUM(mr * mc) AS dot, SUM(mr * mr) AS sr, " +
      "SUM(mc * mc) AS sc, SUM(POW(mr - mc, 2)) AS sqdist, " +
      s"SUM(CASE WHEN ABS(z) > $ZThreshold THEN 1 ELSE 0 END)::BIGINT AS n_drifted_dims FROM zs), " +
      "sizes AS (SELECT SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ref, " +
      "SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS n_curr FROM embeddings) " +
      "SELECT n_ref, n_curr, ROUND(dot / (SQRT(sr) * SQRT(sc)), 6) AS centroid_cosine, " +
      "ROUND(SQRT(sqdist), 6) AS centroid_l2, ROUND(SQRT(sr), 6) AS ref_centroid_norm, " +
      "ROUND(SQRT(sc), 6) AS curr_centroid_norm, n_drifted_dims FROM sizes, agg"

  /** Vector-table data-quality audit — the checks a pipeline runs BEFORE
    * trusting an embedding delivery, per label partition: cardinality,
    * degenerate vectors (zero norm — a failed encode; NaN components — a
    * numerical blowup upstream; wrong dimensionality — a schema break),
    * and the norm distribution (count/mean/p50/p95 — a collapsed or
    * exploding norm distribution is the classic silent encoder
    * regression). One scan; per-vector signals are in-row HOF folds
    * (zero explode); the rollup is label-cardinality-sized. Sketch mode
    * swaps exact `percentile` for the sketch (the 100 TB path).
    * Norm mean accumulates in DECIMAL (exact) with one final division. */
  /** A NaN-component norm is NaN, which the two engines order and cast
    * DIFFERENTLY (Spark's non-ANSI NaN→DECIMAL is NULL, DuckDB's errors;
    * percentile sorts NaN largest in Spark, not in DuckDB) — so every
    * distribution stat runs on `norm_clean` = NULL for NaN/missing rows
    * (NULL skips sums and percentiles identically in both engines), with
    * its own `n_scored` denominator. NULL embeddings (a failed encode —
    * the most basic delivery defect) get their own census column; they
    * must never pass as a clean bill of health. */
  def embeddingAudit(spark: SparkSession, dir: String): DataFrame = {
    val modalDim = 64 // the corpus contract; violations are counted, not dropped
    table(spark, dir, "embeddings")
      .selectExpr("label", "CAST(size(embedding) AS BIGINT) AS dim",
        "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .selectExpr("label", "dim", "v IS NULL AS is_null",
        "CASE WHEN v IS NOT NULL THEN SQRT(aggregate(v, 0e0, (acc, x) -> acc + x * x)) END AS norm",
        "CASE WHEN v IS NOT NULL THEN EXISTS(v, x -> isnan(x)) ELSE FALSE END AS has_nan")
      .selectExpr("label", "dim", "is_null", "has_nan",
        "CASE WHEN NOT has_nan THEN norm END AS norm_clean")
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("is_null"), 1L).otherwise(0L)).as("n_null"),
        sum(when(!col("is_null") && col("dim") =!= modalDim, 1L).otherwise(0L)).as("n_bad_dim"),
        sum(when(col("has_nan"), 1L).otherwise(0L)).as("n_nan"),
        sum(when(col("norm_clean") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        count(col("norm_clean")).as("n_scored"),
        sum(col("norm_clean").cast("decimal(28,8)")).as("sum_norm_dec"),
        expr("percentile(norm_clean, 0.5e0) AS p50_norm_raw"),
        expr("percentile(norm_clean, 0.95e0) AS p95_norm_raw"))
      .selectExpr("label", "n_vecs", "n_null", "n_bad_dim", "n_nan", "n_zero_norm", "n_scored",
        "CASE WHEN n_scored > 0 THEN ROUND(CAST(sum_norm_dec AS DOUBLE) / n_scored, 6) END AS mean_norm",
        "ROUND(p50_norm_raw, 6) AS p50_norm",
        "ROUND(p95_norm_raw, 6) AS p95_norm")
      .orderBy("label")
  }

  def embeddingAuditSql: String =
    """WITH per0 AS (SELECT label, len(embedding)::BIGINT AS dim, embedding IS NULL AS is_null,
      |  CASE WHEN embedding IS NOT NULL THEN SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) END AS norm,
      |  CASE WHEN embedding IS NOT NULL THEN len(list_filter(embedding::DOUBLE[], x -> isnan(x))) > 0 ELSE FALSE END AS has_nan
      |  FROM embeddings),
      |per AS (SELECT *, CASE WHEN NOT has_nan THEN norm END AS norm_clean FROM per0)
      |SELECT label, COUNT(*) AS n_vecs,
      |  SUM(CASE WHEN is_null THEN 1 ELSE 0 END)::BIGINT AS n_null,
      |  SUM(CASE WHEN NOT is_null AND dim <> 64 THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
      |  SUM(CASE WHEN has_nan THEN 1 ELSE 0 END)::BIGINT AS n_nan,
      |  SUM(CASE WHEN norm_clean = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_norm,
      |  COUNT(norm_clean) AS n_scored,
      |  CASE WHEN COUNT(norm_clean) > 0 THEN ROUND(CAST(SUM(norm_clean::DECIMAL(28,8)) AS DOUBLE) / COUNT(norm_clean), 6) END AS mean_norm,
      |  ROUND(quantile_cont(norm_clean, 0.5e0), 6) AS p50_norm,
      |  ROUND(quantile_cont(norm_clean, 0.95e0), 6) AS p95_norm
      |FROM per GROUP BY 1 ORDER BY label""".stripMargin.replace("\n", " ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embedding_drift" -> ((s, d) => drift(s, d)),
    "embedding_dim_shift" -> ((s, d) => dimShift(s, d)),
    "embedding_audit" -> ((s, d) => embeddingAudit(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "embedding_drift" -> driftSql,
    "embedding_dim_shift" -> dimShiftSql,
    "embedding_audit" -> embeddingAuditSql,
  )
}
