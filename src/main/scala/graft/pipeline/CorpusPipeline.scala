package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{CacheScope, table}

/** Production composition of the corpus-curation operators — the
  * training-data analogue of [[graft.drift.DriftDetector]]: one call runs
  * the quality funnel, computes the corpus-wide near-dup artifact ONCE
  * (persisted via [[Dedup.writeClusters]]), audits split leakage by
  * CONSUMING that artifact instead of re-deriving the LSH+CC pipeline, and
  * buckets the corpus by LM perplexity.
  *
  * This is the deployment shape the per-query bench can't show: the
  * cluster frame is the expensive stage and every consumer reads it back.
  * At 100 TB the artifact is a (2 longs)-per-doc parquet that any number
  * of downstream audits join by doc_id.
  */
object CorpusPipeline {

  case class CorpusReport(
      nDocs: Long, nLangKept: Long, nQualityKept: Long,
      nDedupKept: Long, nNeardupKept: Long,
      nClusters: Long, nLeakyClusters: Long, nLeakedDocs: Long,
      pplBuckets: Map[String, Long],
      clustersPath: String,
      nContainmentPairs: Long = 0L)

  /** Run the full curation sweep over `dir`'s documents corpus, persisting
    * the near-dup artifact under `workDir`. Every output is materialized
    * into the report, so the stages' cached frames (gated docs, LM scores)
    * and the component rounds' localCheckpoint blocks live only for this
    * call: one [[CacheScope.using]] releases them, and leaves caches the
    * caller made untouched. */
  def run(spark: SparkSession, dir: String, workDir: String): CorpusReport =
    CacheScope.using(spark)(runStages(spark, dir, workDir, _))

  private def runStages(spark: SparkSession, dir: String, workDir: String,
      scope: CacheScope): CorpusReport = {
    // 1. gate funnel (lang -> quality -> exact dedup -> fuzzy dedup), per
    //    source; summed here for the corpus headline
    val funnel = TextAnalysis.corpusPrepNeardup(spark, dir, Some(scope)).collect()
    def sumCol(c: String): Long = funnel.map(_.getAs[Long](c)).sum

    // 2. the artifact: corpus-wide clusters, computed once, written once
    val clustersPath = s"$workDir/neardup_clusters.parquet"
    Dedup.writeClusters(
      Dedup.neardupComponents(table(spark, dir, "documents").select("doc_id", "text"),
        scope = Some(scope)),
      clustersPath)
    val artifact = Dedup.readClusters(spark, clustersPath)
    val nClusters = artifact.filter(col("cluster_id") === col("doc_id")).count()

    // 3. leakage audit CONSUMING the artifact (no recompute)
    val leak = DataSplit.splitLeakageNeardup(spark, dir,
      precomputed = Some(artifact)).collect()(0)

    // 4. asymmetric near-dup sweep: containment (quote-expansion) pairs the
    //    symmetric Jaccard stages above structurally miss — a curation
    //    report without this count under-states the duplication surface
    val nContainment = Dedup.containmentPairs(spark, dir, scope = Some(scope)).count()

    // 5. quality sampling artifact: perplexity tercile buckets
    val buckets = LmScore.lmPplBuckets(spark, dir, scope = Some(scope)).collect()
      .groupBy(_.getAs[String]("bucket"))
      .map { case (b, rs) => b -> rs.map(_.getAs[Long]("n_docs")).sum }

    CorpusReport(
      nDocs = sumCol("n_docs"), nLangKept = sumCol("n_lang_kept"),
      nQualityKept = sumCol("n_quality_kept"), nDedupKept = sumCol("n_dedup_kept"),
      nNeardupKept = sumCol("n_neardup_kept"),
      nClusters = nClusters,
      nLeakyClusters = leak.getAs[Long]("n_leaky_clusters"),
      nLeakedDocs = leak.getAs[Long]("n_leaked_docs"),
      pplBuckets = buckets,
      clustersPath = clustersPath,
      nContainmentPairs = nContainment)
  }
}
