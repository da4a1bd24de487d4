package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift._
import graft.pipeline._

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * Each entry in [[queries]] is one operator of the rebuilt engine
  * (SURVEY.md §2.b inventory + training-pipeline extensions), evaluated over
  * the driver testdata at `sfDir`; [[oracleSql]] carries the equivalent
  * DuckDB SQL over the same parquet tables. Column names and row order are
  * aligned between both engines and all floating outputs are rounded to 6
  * decimals for stable hash comparison.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): TPC-H-Q1-style
    * pricing summary — one scan, partial-agg-friendly, whole-stage codegen. */
  def entry(spark: SparkSession): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum("l_extendedprice").as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        avg("l_quantity").as("avg_qty"),
        avg("l_extendedprice").as("avg_price"),
        avg("l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // The monetary SUMs reach ~5·10⁹ at sf0.1, where 6-decimal precision
  // exceeds double's 16 significant digits and the engines' different
  // partial-sum orders diverge in the last ulp. Accumulating in
  // DECIMAL(18,4) is EXACT (associativity-free), so both engines produce
  // the identical value at any scale; one final cast to double is then
  // deterministic. The AVGs stay double: their magnitude (≤10⁵) leaves
  // 10+ guard digits at 6 decimals.
  private def q1(s: SparkSession, dir: String): DataFrame =
    drift.table(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        drift.r6(sum(col("l_quantity").cast("decimal(18,4)")).cast("double")).as("sum_qty"),
        drift.r6(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")).as("sum_base_price"),
        drift.r6(sum((col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))).cast("double")).as("sum_disc_price"),
        drift.r6(avg("l_quantity")).as("avg_qty"),
        drift.r6(avg("l_extendedprice")).as("avg_price"),
        drift.r6(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q1Sql =
    "SELECT l_returnflag, l_linestatus, " +
      "ROUND(CAST(SUM(l_quantity::DECIMAL(18,4)) AS DOUBLE), 6) AS sum_qty, " +
      "ROUND(CAST(SUM(l_extendedprice::DECIMAL(18,4)) AS DOUBLE), 6) AS sum_base_price, " +
      "ROUND(CAST(SUM(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))) AS DOUBLE), 6) AS sum_disc_price, " +
      "ROUND(AVG(l_quantity), 6) AS avg_qty, ROUND(AVG(l_extendedprice), 6) AS avg_price, " +
      "ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*) AS count_order " +
      "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"

  /** Every gate module: its operators ([[queries]]) and their DuckDB twins
    * ([[oracleSql]]) both come from this one list, so the two maps cannot
    * drift apart. */
  private val modules: Seq[OperatorModule] = Seq(
    PricingSummary, NumericDrift, DistanceDrift, JsonDrift, CategoricalDrift,
    CorrelationDrift, GroupDrift, SchemaOps, AdaptiveThresholds, TimelineDrift,
    RobustDrift, PcaAnomaly, Report, Dedup, Similarity, TextAnalysis, Sessions,
    EventAnalytics, RangeJoin, SnapshotDiff, AsofJoin, LmScore, SpanDedup,
    DataSplit, Multimodal, EmbeddingDrift, Dsir, ScaleJoins, Packing, Layout,
    EntityResolution, Retrieval, MarketBasket, Constraints, Benford,
    CorpusDesign, Privacy, EngineProbe, Orchestrated,
    graft.streaming.StreamingReplay)

  private object PricingSummary extends OperatorModule {
    def queries: Map[String, (SparkSession, String) => DataFrame] =
      Map("q1_pricing_summary" -> (q1 _))
    def oracles: Map[String, String] = Map("q1_pricing_summary" -> q1Sql)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** The operators whose 100 TB path only swaps exact `percentile` /
    * `COUNT(DISTINCT x)` for their mergeable sketches: the bench runs them
    * under sketch mode ([[graft.plans.SketchModeRewrite]]). */
  private[graft] val SketchedOnBench = Seq(
    "numeric_stats", "token_stats", "type_inference", "lm_ppl_buckets",
    "quality_ensemble", "source_quality_drift", "numeric_drift", "metric_audit",
    "numeric_drift_score", "quantile_shifts", "mad_outliers", "rfm_segments",
    "conversion_lag", "revenue_concentration", "embedding_audit",
    "group_numeric_metrics", "group_drift", "orchestrated_report")

  /** The benchmark surface: the same operators on their 100 TB path. Verify
    * keeps the exact forms so the DuckDB oracle reproduces values
    * bit-for-bit; the approx-vs-exact specs pin how closely the bench forms
    * track them.
    *  - [[SketchedOnBench]]: `during` covers the aggregates an operator
    *    collects while building its frame (a percentile fit replayed as
    *    literals, a type probe, a drift report), `sketched` the plan the
    *    bench runs later.
    *  - The explicit overrides are operators whose scale path is a
    *    different algorithm, not a swapped aggregate, so they keep a flag. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.plans.SketchModeRewrite.{during, sketched}
    val exact = queries
    exact ++ SketchedOnBench.map(k => k -> { (s: SparkSession, d: String) =>
      during(s)(sketched(exact(k)(s, d)))
    }) ++ Map[String, (SparkSession, String) => DataFrame](
      // hash-threshold keep instead of the per-source rank window
      "corpus_balance" -> ((s, d) => TextAnalysis.balancedMix(s, d, approx = true)),
      // md5-bucket per row instead of the per-source rank window
      "data_split" -> ((s, d) => DataSplit.dataSplit(s, d, approx = true)),
      // the distinct count from one raw-table HLL agg, so no
      // cardinality-sized frame feeds the base profile
      "topk_entropy" -> ((s, d) => CategoricalDrift.topkEntropy(s, d, approx = true)),
      // the per-source rollup switches canonical doc-ordered folds (which
      // collect per-source doc lists — oracle-exact but driver-sized) to
      // plain map-side-combined SUMs
      "doc_entropy" -> ((s, d) => TextAnalysis.docEntropy(s, d, approx = true)),
      // the ECDF windows run on a grid-snapped frame (≤10k rows/column)
      // instead of the raw distinct-value frame
      "ks_test" -> ((s, d) => DistanceDrift.ksTest(s, d, approx = true)),
      "wasserstein" -> ((s, d) => DistanceDrift.wasserstein(s, d, approx = true)),
      // HLL sketches straight off the raw scan: the (user, day) universe is
      // never shuffled (sketches merge map-side)
      "active_users" -> ((s, d) => EventAnalytics.activeUsers(s, d, approx = true)),
      // uniqueness/FK-coverage distinct counts via HLL sketches of the key
      // TUPLE — multi-column distincts the sketch-mode rule leaves exact;
      // approx-vs-exact pinned in ConstraintsSpec
      "constraint_check" -> ((s, d) => Constraints.constraintCheck(s, d, approx = true)),
      // the report family shares one memoized scoring DAG; at scale that DAG
      // is memoized in its sketched form
      "drift_results" -> ((s, d) => Report.driftResultsCached(s, d, approx = true)),
      "drift_summary" -> ((s, d) => Report.driftSummary(s, d, approx = true)),
      "dimensional_summary" -> ((s, d) => Report.dimensionalSummary(s, d, approx = true)),
      "top_dimensions" -> ((s, d) => Report.topDimensions(s, d, approx = true)),
      "top_drifted_columns" -> ((s, d) => Report.topDriftedColumns(s, d, approx = true)),
    )
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted keys get a weaker rows-only check. */
  def oracleSql: Map[String, String] = modules.flatMap(_.oracles).toMap
}

/** One registry entry of [[SparkEntry]]: a module's gate operators, each a
  * frame over the testdata at `dir`, and their DuckDB twins by key. */
trait OperatorModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
