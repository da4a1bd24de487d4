package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.drift.table

/** Deterministic stratified train/val/test assignment — the split step of
  * a training-data pipeline. Both paths draw a seedless md5 coin per doc
  * (no `rand()`/`randomSplit`: a rerun reproduces the split bit-for-bit).
  *
  * Two paths, same coin (the [[TextAnalysis.balancedMix]] pattern):
  *   - EXACT (default, oracle-checked): rank docs per source by md5 order
  *     and cut at floor(0.8n)/floor(0.9n) — proportions are exact per
  *     source (stratified). The rank window sorts each source inside one
  *     task; fine until a source is a crawl dump. Quantile cuts move as a
  *     source grows, so this is the frozen-corpus variant.
  *   - `approx = true` (bench/100 TB path): md5-bucket mod 100 per row —
  *     no sort, no window, embarrassingly parallel, per-source proportions
  *     binomial around 80/10/10. Membership is a pure function of doc_id,
  *     so growing the corpus NEVER moves an existing doc across the
  *     train/eval boundary — the property an incremental crawl needs.
  *
  * Output is the per-source audit a pipeline gate reads: counts per split
  * plus per-split doc_id checksums, so the oracle verifies the exact
  * assignment, not just its shape.
  */
object DataSplit extends graft.OperatorModule {

  val TrainFrac = 0.8
  val ValFrac = 0.1 // val cut = TrainFrac + ValFrac

  /** Per-doc split assignment over any (doc_id, source, …) frame —
    * (doc_id, source, split). This is the frame a pipeline writes
    * partitioned by `split`; [[dataSplit]] is its audit rollup. */
  def assignSplits(docs: DataFrame, approx: Boolean = false): DataFrame = {
    val assigned =
      if (approx) docs
        .withColumn("u", expr(
          "CAST(conv(substring(md5(cast(cast(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
        .withColumn("split", expr(
          "CASE WHEN u % 100 < 80 THEN 'train' WHEN u % 100 < 90 THEN 'val' ELSE 'test' END"))
      else docs
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(expr("md5(cast(cast(doc_id AS STRING) AS BINARY))"), col("doc_id"))))
        .join(docs.groupBy("source").agg(count(lit(1)).as("n")), "source")
        .withColumn("split", expr(
          s"CASE WHEN rk <= floor(n * ${TrainFrac}e0) THEN 'train' " +
            s"WHEN rk <= floor(n * ${TrainFrac + ValFrac}e0) THEN 'val' ELSE 'test' END"))
    assigned.select("doc_id", "source", "split")
  }

  def dataSplit(spark: SparkSession, dir: String, approx: Boolean = false): DataFrame = {
    val docs = table(spark, dir, "documents").select("doc_id", "source")
    assignSplits(docs, approx).groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
        coalesce(sum(when(col("split") === "train", col("doc_id"))), lit(0L)).as("train_id_sum"),
        coalesce(sum(when(col("split") === "val", col("doc_id"))), lit(0L)).as("val_id_sum"),
        coalesce(sum(when(col("split") === "test", col("doc_id"))), lit(0L)).as("test_id_sum"))
      .orderBy("source")
  }

  def dataSplitSql: String =
    "WITH r AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source " +
      "ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk, " +
      "COUNT(*) OVER (PARTITION BY source) AS n FROM documents), " +
      "a AS (SELECT doc_id, source, " +
      s"CASE WHEN rk <= floor(n * ${TrainFrac}e0) THEN 'train' " +
      s"WHEN rk <= floor(n * ${TrainFrac + ValFrac}e0) THEN 'val' ELSE 'test' END AS split FROM r) " +
      "SELECT source, COUNT(*) AS n_docs, " +
      "SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT AS n_train, " +
      "SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)::BIGINT AS n_val, " +
      "SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)::BIGINT AS n_test, " +
      "COALESCE(SUM(CASE WHEN split = 'train' THEN doc_id END), 0)::BIGINT AS train_id_sum, " +
      "COALESCE(SUM(CASE WHEN split = 'val' THEN doc_id END), 0)::BIGINT AS val_id_sum, " +
      "COALESCE(SUM(CASE WHEN split = 'test' THEN doc_id END), 0)::BIGINT AS test_id_sum " +
      "FROM a GROUP BY 1 ORDER BY 1"

  /** Split-leakage audit — the contamination mode a split alone cannot
    * prevent: documents with IDENTICAL text landing on both sides of the
    * train/eval boundary (the id-keyed coin sends exact duplicates to
    * independent splits, so any dedup miss becomes eval leakage). Reports,
    * per source, the duplicate-text groups and how many straddle splits,
    * plus the leaked doc count — the number a pipeline gate asserts is 0
    * after its dedup stage ran. One md5 aggregation over the assigned
    * frame; the near-dup analogue is the same audit run on
    * [[Dedup.neardupClusters]] cluster ids instead of md5. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select("doc_id", "source", "text")
    val assigned = assignSplits(docs).join(docs, Seq("doc_id", "source"))
    val groups = assigned.groupBy(col("source"), md5(col("text")).as("h")).agg(
      count(lit(1)).as("n"),
      countDistinct(col("split")).as("n_splits"))
    groups.groupBy("source").agg(
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_dup_groups"),
        sum(when(col("n") >= 2 && col("n_splits") >= 2, 1L).otherwise(0L)).as("n_leaky_groups"),
        coalesce(sum(when(col("n") >= 2 && col("n_splits") >= 2, col("n"))), lit(0L)).as("n_leaked_docs"))
      .orderBy("source")
  }

  def splitLeakageSql: String =
    "WITH r AS (SELECT doc_id, source, text, ROW_NUMBER() OVER (PARTITION BY source " +
      "ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk, " +
      "COUNT(*) OVER (PARTITION BY source) AS n FROM documents), " +
      "a AS (SELECT source, text, " +
      s"CASE WHEN rk <= floor(n * ${TrainFrac}e0) THEN 'train' " +
      s"WHEN rk <= floor(n * ${TrainFrac + ValFrac}e0) THEN 'val' ELSE 'test' END AS split FROM r), " +
      "g AS (SELECT source, md5(text) AS h, COUNT(*) AS n, " +
      "COUNT(DISTINCT split) AS n_splits FROM a GROUP BY 1, 2) " +
      "SELECT source, " +
      "SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_groups, " +
      "SUM(CASE WHEN n >= 2 AND n_splits >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_leaky_groups, " +
      "COALESCE(SUM(CASE WHEN n >= 2 AND n_splits >= 2 THEN n END), 0)::BIGINT AS n_leaked_docs " +
      "FROM g GROUP BY 1 ORDER BY 1"

  /** [[splitLeakage]]'s NEAR-dup analogue — the realistic leakage mode:
    * verified MinHash-LSH clusters ([[Dedup.neardupComponents]]) whose
    * members land on both sides of the boundary. One row, corpus-wide
    * (clusters cross sources, so a per-source cut would double-count):
    * near-dup clusters of size ≥ 2, those straddling ≥ 2 splits, and the
    * docs inside straddling clusters. Cost = the cluster computation
    * (banded LSH + min-label CC) + one split join — the split side is the
    * cheap half. */
  def splitLeakageNeardup(spark: SparkSession, dir: String,
      precomputed: Option[DataFrame] = None): DataFrame = {
    val docs = table(spark, dir, "documents").select("doc_id", "source", "text")
    // `precomputed`: a persisted [[Dedup.writeClusters]] artifact over the
    // same corpus — the deployment path (cluster once, audit many); when
    // absent the clusters are derived inline (the oracle/bench path)
    val clusters = precomputed.getOrElse(
      Dedup.neardupComponents(docs.select("doc_id", "text")))
    clusters.join(assignSplits(docs).select("doc_id", "split"), "doc_id")
      .groupBy("cluster_id").agg(
        count(lit(1)).as("n"),
        countDistinct(col("split")).as("n_splits"))
      .agg(
        sum(when(col("n") >= 2, 1L).otherwise(0L)).as("n_neardup_clusters"),
        sum(when(col("n") >= 2 && col("n_splits") >= 2, 1L).otherwise(0L)).as("n_leaky_clusters"),
        coalesce(sum(when(col("n") >= 2 && col("n_splits") >= 2, col("n"))), lit(0L)).as("n_leaked_docs"))
  }

  def splitLeakageNeardupSql: String =
    s"WITH RECURSIVE ${Dedup.minhashPairsCtes("documents")}, " +
      s"nd_edges AS (SELECT doc_a AS src, doc_b AS dst FROM nd_pairs WHERE jaccard >= ${Dedup.JaccardThreshold} " +
      s"UNION SELECT doc_b, doc_a FROM nd_pairs WHERE jaccard >= ${Dedup.JaccardThreshold}), " +
      "reach(src, dst) AS (SELECT doc_id, doc_id FROM documents " +
      "UNION SELECT r.src, e.dst FROM reach r JOIN nd_edges e ON e.src = r.dst), " +
      "clus AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src), " +
      "r2 AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY source " +
      "ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk, " +
      "COUNT(*) OVER (PARTITION BY source) AS n FROM documents), " +
      "a AS (SELECT doc_id, " +
      s"CASE WHEN rk <= floor(n * ${TrainFrac}e0) THEN 'train' " +
      s"WHEN rk <= floor(n * ${TrainFrac + ValFrac}e0) THEN 'val' ELSE 'test' END AS split FROM r2), " +
      "g AS (SELECT cluster_id, COUNT(*) AS n, COUNT(DISTINCT split) AS n_splits " +
      "FROM clus JOIN a ON clus.doc_id = a.doc_id GROUP BY 1) " +
      "SELECT SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_neardup_clusters, " +
      "SUM(CASE WHEN n >= 2 AND n_splits >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_leaky_clusters, " +
      "COALESCE(SUM(CASE WHEN n >= 2 AND n_splits >= 2 THEN n END), 0)::BIGINT AS n_leaked_docs FROM g"

  // --------------------------------------------- weighted sampling (A-Res)

  /** Sample size for the weighted-sample query. */
  val SampleK = 100

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    * each doc draws key = ln(u)/w from a per-doc uniform u and weight
    * w = n_chars; the k LARGEST keys are the sample — every doc's
    * inclusion probability is proportional to its weight, with no
    * replacement bookkeeping and no sequential pass. The u is the
    * DETERMINISTIC md5 draw this module already splits on — the first 8
    * hex digits as a full 32-bit integer (a narrower arithmetic mix would
    * collapse the draw space and correlate congruent doc_ids on a
    * billion-doc corpus), so reruns and the oracle reproduce the sample
    * bit-for-bit; keys round to 10 decimals before ranking (id tiebreak)
    * so libm's last-ulp `ln` divergence can't flip a rank. Plan: one
    * scan → TakeOrderedAndProject's per-partition heaps — the distributed
    * top-k IS the sampler; nothing sorts globally at any scale. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .selectExpr("doc_id", "source", "n_chars",
        "CAST(conv(substring(md5(cast(cast(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) AS h")
      .selectExpr("doc_id", "source", "n_chars",
        "ROUND(LN((h + 1) / 4294967296e0) / GREATEST(n_chars, 1), 10) AS sample_key")
      .orderBy(col("sample_key").desc, col("doc_id"))
      .limit(SampleK)

  def weightedSampleSql: String =
    s"""WITH keyed AS (SELECT doc_id, source, n_chars,
       |  ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h FROM documents)
       |SELECT doc_id, source, n_chars,
       |  ROUND(LN((h + 1) / 4294967296e0) / GREATEST(n_chars, 1), 10) AS sample_key
       |FROM keyed ORDER BY sample_key DESC, doc_id LIMIT $SampleK"""
      .stripMargin.replace("\n", " ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "weighted_sample" -> ((s, d) => weightedSample(s, d)),
    "data_split" -> ((s, d) => dataSplit(s, d)),
    "split_leakage" -> ((s, d) => splitLeakage(s, d)),
    "split_leakage_neardup" -> ((s, d) => splitLeakageNeardup(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "weighted_sample" -> weightedSampleSql,
    "data_split" -> dataSplitSql,
    "split_leakage" -> splitLeakageSql,
    "split_leakage_neardup" -> splitLeakageNeardupSql,
  )
}
