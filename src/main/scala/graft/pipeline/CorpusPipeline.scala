package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.drift.{CacheScope, CallPool, table}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

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
    * the near-dup artifact under `workDir`.
    *
    * Four stage chains read only the corpus, not each other, so they run
    * concurrently on a thread pool made for this call, as wide as the
    * context's `defaultParallelism` (at most one thread per chain): the
    * funnel, the artifact (components, then write, read back, count and the
    * leakage audit that consumes it, in that order), the containment sweep
    * and the perplexity buckets. The report equals the one a sequential run
    * gives. Every job the call submits carries a `corpus:<stage>` job
    * description: `corpus:funnel`, `corpus:neardup_artifact`,
    * `corpus:containment`, `corpus:ppl_buckets`. A stage that throws cancels
    * the other stages' jobs and waits for them to end, and then its own
    * exception propagates.
    *
    * Every output is materialized into the report, so the stages' cached
    * frames (gated docs, LM scores) and the component rounds'
    * localCheckpoint blocks live only for this call: one
    * [[CacheScope.using]] releases them once no stage runs, and leaves
    * caches the caller made untouched. */
  def run(spark: SparkSession, dir: String, workDir: String): CorpusReport =
    CacheScope.using(spark)(runStages(spark, dir, workDir, _))

  /** The independent stage chains: the pool width bound. */
  private val Stages = 4

  private def runStages(spark: SparkSession, dir: String, workDir: String,
      scope: CacheScope): CorpusReport = {
    val sc = spark.sparkContext
    val clustersPath = s"$workDir/neardup_clusters.parquet"
    CallPool.using(sc, math.min(Stages, sc.defaultParallelism)) { pool =>
      // 1. gate funnel (lang -> quality -> exact dedup -> fuzzy dedup), per
      //    source; summed below for the corpus headline
      val funnelF = pool.submit("corpus:funnel")(
        TextAnalysis.corpusPrepNeardup(spark, dir, Some(scope)).collect())

      // 2. the artifact: corpus-wide clusters, computed once, written once;
      // 3. then the leakage audit CONSUMING the artifact (no recompute)
      val artifactF = pool.submit("corpus:neardup_artifact") {
        Dedup.writeClusters(
          Dedup.neardupComponents(table(spark, dir, "documents").select("doc_id", "text"),
            scope = Some(scope)),
          clustersPath)
        val artifact = Dedup.readClusters(spark, clustersPath)
        val nClusters = artifact.filter(col("cluster_id") === col("doc_id")).count()
        val leak = DataSplit.splitLeakageNeardup(spark, dir,
          precomputed = Some(artifact)).collect()(0)
        (nClusters, leak)
      }

      // 4. asymmetric near-dup sweep: containment (quote-expansion) pairs the
      //    symmetric Jaccard stages above structurally miss — a curation
      //    report without this count under-states the duplication surface
      val containmentF = pool.submit("corpus:containment")(
        Dedup.containmentPairs(spark, dir, scope = Some(scope)).count())

      // 5. quality sampling artifact: perplexity tercile buckets
      val bucketsF = pool.submit("corpus:ppl_buckets")(
        LmScore.lmPplBuckets(spark, dir, scope = Some(scope)).collect()
          .groupBy(_.getAs[String]("bucket"))
          .map { case (b, rs) => b -> rs.map(_.getAs[Long]("n_docs")).sum })

      // the first stage to fail ends the wait, and CallPool.using cancels
      // and drains the others before the exception reaches the scope
      def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)
      implicit val ec: ExecutionContext = ExecutionContext.parasitic
      await(Future.sequence(Seq(funnelF, artifactF, containmentF, bucketsF)))
      val funnel = await(funnelF)
      def sumCol(c: String): Long = funnel.map(_.getAs[Long](c)).sum
      val (nClusters, leak) = await(artifactF)
      CorpusReport(
        nDocs = sumCol("n_docs"), nLangKept = sumCol("n_lang_kept"),
        nQualityKept = sumCol("n_quality_kept"), nDedupKept = sumCol("n_dedup_kept"),
        nNeardupKept = sumCol("n_neardup_kept"),
        nClusters = nClusters,
        nLeakyClusters = leak.getAs[Long]("n_leaky_clusters"),
        nLeakedDocs = leak.getAs[Long]("n_leaked_docs"),
        pplBuckets = await(bucketsF),
        clustersPath = clustersPath,
        nContainmentPairs = await(containmentF))
    }
  }
}
