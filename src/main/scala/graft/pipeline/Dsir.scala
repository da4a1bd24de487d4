package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{r6, table}

/** Data-selection importance weights over hashed n-gram features — the
  * DSIR recipe (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling"): fit two bag-of-hashed-unigram distributions —
  * a trusted TARGET feed and the RAW corpus — and weight every document
  * by its average per-token log-likelihood ratio ln(p_target/p_raw). A
  * feed whose documents score high looks like the target and is worth
  * upsampling; a negative average marks content the target distribution
  * disfavors. (The reference has no data-selection surface; this extends
  * the engine for the training-data pipeline.)
  *
  * Features are lowercase whitespace unigrams hashed to [[NumBuckets]]
  * buckets by the first 2 hex chars of md5 — the same cross-engine hash
  * idiom as [[DataSplit]] (Spark md5 over UTF-8 bytes == DuckDB md5), so
  * the bucket assignment replays exactly in the oracle. Both
  * distributions are add-0.5 smoothed so unseen buckets stay finite.
  *
  * Scale: the model is a [[NumBuckets]]-row frame — fit with one
  * explode + groupBy(bucket) scan, then joined back BY BROADCAST in the
  * scoring pass (the [[LmScore]] shape: model tiny and broadcast, corpus
  * streamed, no shuffle of raw tokens except the per-doc combine).
  * Per-doc weights reduce by (doc, source) partial aggs; the per-source
  * rollup is a 20-row frame.
  */
object Dsir extends graft.OperatorModule {

  /** 16² buckets from 2 hex chars — plenty for a unigram sketch at this
    * corpus size; raise to 4 chars (65k) for a 100 TB fit. */
  val NumBuckets = 256

  /** The trusted feed the weights are fit toward. */
  val TargetSource = "src0"

  /** (doc_id, source, bucket) — one row per token occurrence. */
  private def tokenBuckets(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), col("source"),
        substring(md5(col("w").cast("binary")), 1, 2).as("bucket"))

  /** The 256-row model: per-bucket target and raw token counts with
    * add-0.5 smoothing, as log-ratio weights. */
  private def bucketModel(tokens: DataFrame): DataFrame = {
    val counts = tokens.groupBy("bucket").agg(
      sum(when(col("source") === TargetSource, 1L).otherwise(0L)).as("tc"),
      count(lit(1)).as("rc"))
    val totals = counts.agg(sum("tc").as("tn"), sum("rc").as("rn"))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        log(((col("tc") + 0.5) / (col("tn") + 0.5 * NumBuckets)) /
          ((col("rc") + 0.5) / (col("rn") + 0.5 * NumBuckets))).as("logratio"))
  }

  /** Per-source average document weight (avg over docs of the doc's mean
    * per-token log ratio): 20 rows, target feed necessarily on top. */
  def sourceWeights(spark: SparkSession, dir: String): DataFrame = {
    val tokens = tokenBuckets(spark, dir)
    val docW = tokens.join(broadcast(bucketModel(tokens)), "bucket")
      .groupBy("doc_id", "source").agg(avg("logratio").as("doc_weight"))
    docW.groupBy("source").agg(
      count(lit(1)).as("n_docs"), r6(avg("doc_weight")).as("avg_weight"))
      .orderBy("source")
  }

  private val tokensSql: String =
    "SELECT doc_id, source, substring(md5(w), 1, 2) AS bucket FROM " +
      "(SELECT doc_id, source, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w " +
      "FROM documents) t WHERE length(w) > 0"

  def sourceWeightsSql: String =
    s"WITH tok AS ($tokensSql), cnt AS (SELECT bucket, " +
      s"SUM(CASE WHEN source = '$TargetSource' THEN 1 ELSE 0 END)::BIGINT AS tc, " +
      "COUNT(*) AS rc FROM tok GROUP BY 1), " +
      "tot AS (SELECT SUM(tc) AS tn, SUM(rc) AS rn FROM cnt), " +
      // 5e-1, not 0.5: a bare decimal literal would drag the whole ratio
      // into DECIMAL arithmetic in DuckDB while Spark computes in double
      "model AS (SELECT bucket, LN(((tc + 5e-1) / (tn + 5e-1 * " + NumBuckets + ")) / " +
      s"((rc + 5e-1) / (rn + 5e-1 * $NumBuckets))) AS logratio FROM cnt, tot), " +
      "docw AS (SELECT doc_id, source, AVG(logratio) AS doc_weight " +
      "FROM tok JOIN model USING (bucket) GROUP BY 1, 2) " +
      "SELECT source, COUNT(*) AS n_docs, ROUND(AVG(doc_weight), 6) AS avg_weight " +
      "FROM docw GROUP BY 1 ORDER BY 1"

  // -------------------------------------------------- vocabulary drift

  /** JS-distance alert line — the reference's own `js_distance_threshold`
    * default (/root/reference/config_generator.py:59-101). */
  val JsThreshold = 0.1

  /** Feed-level vocabulary divergence: Jensen-Shannon distance between
    * each source's hashed-unigram bucket distribution and the whole
    * corpus's — the monitoring complement of [[sourceWeights]] (DSIR
    * scores documents against a trusted target; this flags which FEED's
    * vocabulary walked away from the corpus norm, e.g. a crawl source
    * that silently switched language or turned into boilerplate).
    *
    * The union-support JS sum folds the source-absent buckets into a
    * closed form: for p=0 the pair term is q·log2(2q/q) = q, so
    * JS = ½·Σ_present(p·log2(2p/(p+q)) + q·log2(2q/(p+q))) + ½·(1−Σ_present q)
    * — no bucket×source cross join, the aggregation frame stays
    * (source × present-buckets)-sized. Scale: one explode scan →
    * (source, bucket) partial agg; the model-side joins are all
    * broadcast ([[NumBuckets]]- and source-count-sized). */
  def vocabDivergence(spark: SparkSession, dir: String): DataFrame = {
    val sb = tokenBuckets(spark, dir).groupBy("source", "bucket")
      .agg(count(lit(1)).as("sc"))
    val gb = sb.groupBy("bucket").agg(sum("sc").as("gc"))
    val st = sb.groupBy("source").agg(sum("sc").as("ns"))
    val tot = gb.agg(sum("gc").as("nn"))
    sb.join(broadcast(gb), "bucket")
      .join(broadcast(st), "source")
      .crossJoin(broadcast(tot))
      .selectExpr("source", "ns",
        "sc * 1e0 / ns AS p", "gc * 1e0 / nn AS q")
      .groupBy("source").agg(
        max("ns").as("n_tokens"), count(lit(1)).as("n_buckets"),
        sum(expr("p * log2(2 * p / (p + q)) + q * log2(2 * q / (p + q))")).as("t1"),
        sum("q").as("cov"))
      .selectExpr("source", "n_tokens", "n_buckets",
        "ROUND(SQRT(GREATEST(0.5 * t1 + 0.5 * (1 - cov), 0e0)), 6) AS js_distance",
        s"SQRT(GREATEST(0.5 * t1 + 0.5 * (1 - cov), 0e0)) > $JsThreshold AS drifted")
      .orderBy("source")
  }

  def vocabDivergenceSql: String =
    s"WITH tok AS ($tokensSql), " +
      "sb AS (SELECT source, bucket, COUNT(*) AS sc FROM tok GROUP BY 1, 2), " +
      "gb AS (SELECT bucket, SUM(sc) AS gc FROM sb GROUP BY 1), " +
      "st AS (SELECT source, SUM(sc) AS ns FROM sb GROUP BY 1), " +
      "tot AS (SELECT SUM(gc) AS nn FROM gb), " +
      "terms AS (SELECT s.source, t.ns, s.sc * 1e0 / t.ns AS p, g.gc * 1e0 / o.nn AS q " +
      "FROM sb s JOIN gb g USING (bucket) JOIN st t USING (source), tot o), " +
      "agg AS (SELECT source, MAX(ns)::BIGINT AS n_tokens, COUNT(*) AS n_buckets, " +
      "SUM(p * log2(2 * p / (p + q)) + q * log2(2 * q / (p + q))) AS t1, " +
      "SUM(q) AS cov FROM terms GROUP BY 1) " +
      "SELECT source, n_tokens, n_buckets, " +
      "ROUND(SQRT(GREATEST(0.5 * t1 + 0.5 * (1 - cov), 0e0)), 6) AS js_distance, " +
      s"SQRT(GREATEST(0.5 * t1 + 0.5 * (1 - cov), 0e0)) > $JsThreshold AS drifted " +
      "FROM agg ORDER BY source"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsir_weights" -> ((s, d) => sourceWeights(s, d)),
    "vocab_divergence" -> ((s, d) => vocabDivergence(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "dsir_weights" -> sourceWeightsSql,
    "vocab_divergence" -> vocabDivergenceSql,
  )
}
