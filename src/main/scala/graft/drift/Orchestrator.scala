package graft.drift

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** User-facing drift-detection API — reference O1–O3, O40, O42
  * (/root/reference/data_loader.py, data_drift_detector.py,
  * config_generator.py). A user of the reference calls
  * `run_data_drift_detection(config)`; here the equivalent is
  * `DriftDetector(spark).detectDrift(ref, curr, config)` over any two
  * snapshot DataFrames obtained from a [[SnapshotSource]].
  */

/** Profile-driven configuration (config_generator.py:25-104 defaults).
  * Thresholds per profile: (summary, standard, deep_dive). */
case class DriftConfig(
    profile: String = "standard",
    includeColumns: Seq[String] = Seq.empty,
    excludeColumns: Seq[String] = Seq.empty,
    customColumnTypes: Map[String, String] = Map.empty,
    groupColumns: Seq[String] = Seq.empty,
    targetColumn: Option[String] = None,
    sampleSize: Long = 100000L,
    analyzeCorrelations: Boolean = true,
    analyzeGroups: Boolean = true,
    // profile-driven module flags: None = the selected profile's own default
    // (config_generator.py:59-60,80-81,100-101); Some(_) = explicit override
    analyzeDistributionsFlag: Option[Boolean] = None,
    detectRareEventsFlag: Option[Boolean] = None,
    genDistributionSummariesFlag: Option[Boolean] = None,
    // O38 sample-size adjustment (adaptive_threshold.py:523-556): >1 loosens
    // every drift threshold when the analyzers run on a truncated sample.
    // Set by DriftDetector.detectDrift via AdaptiveThresholds.sampleSizeFactor;
    // strength cuts (correlationThreshold) and the chi² p-value are exempt.
    thresholdScale: Double = 1.0,
    // opt-in TRUE chi² survival function (regularized upper incomplete
    // gamma) in place of the reference's banded p-value approximation
    // (categorical_analyzer.py:395-437). Default false: the bands are the
    // reference parity contract and the oracle surface.
    exactChiPValue: Boolean = false) {

  private def pick(summary: Double, standard: Double, deep: Double): Double =
    profile match {
      case "summary" => summary
      case "deep_dive" => deep
      case _ => standard
    }

  private def pickFlag(summary: Boolean, standard: Boolean, deep: Boolean): Boolean =
    profile match {
      case "summary" => summary
      case "deep_dive" => deep
      case _ => standard
    }

  /** summary profile skips the distribution module entirely
    * (config_generator.py:59 `analyze_distributions: False`). */
  def analyzeDistributions: Boolean =
    analyzeDistributionsFlag.getOrElse(pickFlag(false, true, true))
  /** summary: off (config_generator.py:60); standard/deep_dive: on
    * (config_generator.py:80,100). */
  def detectRareEvents: Boolean =
    detectRareEventsFlag.getOrElse(pickFlag(false, true, true))
  /** histogram summaries are deep_dive-only
    * (config_generator.py:81 False, :101 True; distribution_analyzer.py:58
    * defaults absent → False). */
  def genDistributionSummaries: Boolean =
    genDistributionSummariesFlag.getOrElse(pickFlag(false, false, true))

  // numerical thresholds (config_generator.py:40-103), × sample-size scale
  def meanThreshold: Double = pick(0.1, 0.05, 0.03) * thresholdScale
  def medianThreshold: Double = pick(0.1, 0.05, 0.03) * thresholdScale
  def stdThreshold: Double = pick(0.2, 0.1, 0.05) * thresholdScale
  def iqrThreshold: Double = pick(0.2, 0.1, 0.05) * thresholdScale
  def numericNullThreshold: Double = pick(0.01, 0.005, 0.001) * thresholdScale
  def rangeThreshold: Double = pick(0.2, 0.1, 0.05) * thresholdScale
  // categorical
  def categoryThreshold: Double = pick(0.05, 0.03, 0.01) * thresholdScale
  def chiSquarePValue: Double = pick(0.01, 0.05, 0.05)
  def categoricalNullThreshold: Double = pick(0.01, 0.005, 0.001) * thresholdScale
  // correlation
  def correlationThreshold: Double = pick(0.7, 0.7, 0.6)
  def correlationChangeThreshold: Double = pick(0.3, 0.2, 0.15) * thresholdScale
  def jsDistanceThreshold: Double = pick(0.1, 0.1, 0.05) * thresholdScale
  def rareValueThreshold: Double = pick(0.01, 0.01, 0.005)
}

/** Versioned-snapshot abstraction (O1/O2). The reference reads Delta with
  * `versionAsOf` time travel (data_loader.py:24); this environment has no
  * Delta jars, so the provided impls are parquet-based. A Delta impl is the
  * same trait with `format("delta").option("versionAsOf", v)`. `load` is
  * lazy: unlike the reference (data_loader.py:30-33) it neither reads nor
  * caches; [[DriftDetector.detectDrift]] owns and releases the pair's cache. */
trait SnapshotSource {
  def load(spark: SparkSession, version: Long): DataFrame
  def latestVersion(spark: SparkSession): Long
}

/** Delta Lake time-travel source — the reference's only ingestion path
  * (/root/reference/data_loader.py:24 `versionAsOf`; :56-59
  * `DESCRIBE HISTORY` for the latest version). Uses only the generic
  * DataFrameReader/SQL surface, so it compiles without Delta jars; at
  * runtime it needs `delta-spark` on the classpath and the Delta
  * SparkSessionExtensions (both absent in this zero-egress environment —
  * the resolution attempt and exact failure are recorded in README.md).
  * DeltaSourceSpec asserts the graceful failure path here and the code
  * path is exercised for real on any Delta-enabled deployment. */
class DeltaSource(path: String) extends SnapshotSource {
  def load(spark: SparkSession, version: Long): DataFrame =
    spark.read.format("delta").option("versionAsOf", version).load(path)
  def latestVersion(spark: SparkSession): Long =
    spark.sql(s"DESCRIBE HISTORY delta.`$path`")
      .agg(org.apache.spark.sql.functions.max("version")).collect()(0).getLong(0)
}

/** One parquet directory per version: `<root>/v<N>/`. */
class ParquetDirSource(root: String) extends SnapshotSource {
  def load(spark: SparkSession, version: Long): DataFrame =
    spark.read.parquet(s"$root/v$version")
  def latestVersion(spark: SparkSession): Long = {
    val versions = Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("v\\d+")).map(_.drop(1).toLong)
    require(versions.nonEmpty, s"no v<N> version directories in $root")
    versions.max
  }
}

/** Versioned parquet table with a commit manifest — the reference's Delta
  * lifecycle (versioned write → `versionAsOf` / timestamp time travel →
  * latest-version lookup, /root/reference/data_loader.py:24,56-59) on
  * plain parquet, for deployments without Delta jars (this environment).
  *
  * Commit protocol (single writer): data lands in `<root>/_tmp_v<N>/`,
  * is atomically renamed to `<root>/v<N>/`, and only then does the
  * rewritten `_manifest` (one `<version>\t<commitMillis>` line per
  * commit) replace the old one via atomic move. Readers resolve versions
  * ONLY through the manifest, so a torn or in-flight write — a stray
  * `v<N>` directory, a leftover `_tmp_v<N>` — is invisible until its
  * manifest line lands, mirroring how a Delta log makes data files
  * visible. `timestampAsOf` follows Delta's rule: the newest version
  * committed at or before the requested instant. */
class VersionedParquetTable(root: String) extends SnapshotSource {
  private val manifestPath = java.nio.file.Paths.get(root, "_manifest")

  /** (version, commitMillis) pairs, oldest first; empty for a new table. */
  def history(): Seq[(Long, Long)] =
    if (!java.nio.file.Files.exists(manifestPath)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(manifestPath).asScala.toSeq
        .filter(_.nonEmpty).map { line =>
          val Array(v, ts) = line.split('\t'); (v.toLong, ts.toLong)
        }
    }

  def load(spark: SparkSession, version: Long): DataFrame = {
    require(history().exists(_._1 == version),
      s"version $version is not committed in $root (manifest has ${history().map(_._1).mkString(",")})")
    spark.read.parquet(s"$root/v$version")
  }

  def latestVersion(spark: SparkSession): Long = {
    val h = history()
    require(h.nonEmpty, s"no committed versions in $root")
    h.map(_._1).max
  }

  /** Newest version committed at or before `tsMillis` (Delta's
    * `timestampAsOf` rule). Ties on the commit instant (two commits in
    * the same millisecond) resolve to the NEWEST version — `maxBy` on
    * the timestamp alone would return the oldest-first history's first
    * maximal element, silently reading a superseded snapshot. */
  def versionAsOfTimestamp(tsMillis: Long): Long = {
    val eligible = history().filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no version committed at or before $tsMillis in $root")
    eligible.maxBy { case (v, ts) => (ts, v) }._1
  }

  /** Write `df` as the next version; returns the new version number.
    * `nowMillis` is injectable for deterministic tests. */
  def commit(df: DataFrame, nowMillis: Long = System.currentTimeMillis()): Long = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    Files.createDirectories(Paths.get(root))
    val h = history()
    val next = if (h.isEmpty) 0L else h.map(_._1).max + 1L
    df.write.mode("overwrite").parquet(s"$root/_tmp_v$next")
    // the manifest is the commit point: a v<next> dir without a manifest
    // entry is a TORN previous commit (crashed between the data move and
    // the manifest replace) — delete it, or this and every later commit
    // would wedge on FileAlreadyExistsException
    val target = Paths.get(s"$root/v$next")
    if (Files.exists(target)) {
      import scala.jdk.CollectionConverters._
      Files.walk(target).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    Files.move(Paths.get(s"$root/_tmp_v$next"), target,
      StandardCopyOption.ATOMIC_MOVE)
    val tmpManifest = Paths.get(root, "_manifest.tmp")
    val lines = (h :+ (next, nowMillis)).map { case (v, ts) => s"$v\t$ts" }
    Files.writeString(tmpManifest, lines.mkString("\n") + "\n")
    Files.move(tmpManifest, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }
}

/** Deterministic ≤n-row sample (O3, data_loader.py:67-90 — defined but
  * never wired in the reference, SURVEY.md §8.8; wired here for real). */
object Sampling {
  def sample(df: DataFrame, n: Long, seed: Long = 42L): DataFrame =
    sampleWithTotal(df, n, seed)._1

  /** Same, but also returns the pre-sampling row count so the caller can
    * derive the O38 sample-size threshold factor without a second count. */
  def sampleWithTotal(df: DataFrame, n: Long, seed: Long = 42L): (DataFrame, Long) = {
    val total = df.count()
    if (total <= n) (df, total)
    else (df.sample(withReplacement = false, math.min(1.0, n.toDouble / total * 1.2), seed).limit(n.toInt), total)
  }
}

// ------------------------------------------------------------ report model

case class NumericColumnDrift(column: String, refMean: Double, currMean: Double,
    meanRelDiff: Double, medianRelDiff: Double, stdRelDiff: Double,
    iqrRelDiff: Double, rangeRelDiff: Double, nullDiff: Double,
    driftScore: Double, driftDetected: Boolean, driftCauses: Seq[String])

case class CategoricalColumnDrift(column: String, jsDivergence: Double,
    chiPValue: Double, nullDiff: Double, newCategoriesRatio: Double,
    missingCategoriesRatio: Double, driftScore: Double, driftDetected: Boolean,
    driftCauses: Seq[String])

case class DriftReport(
    schemaChanges: Seq[SchemaOps.SchemaChange],
    columnTypes: Map[String, String],
    numeric: Seq[NumericColumnDrift],
    categorical: Seq[CategoricalColumnDrift],
    quantileShifts: DataFrame,
    shapes: DataFrame,
    jsFull: DataFrame,
    rareValueChanges: DataFrame,
    histograms: DataFrame,
    zOutliers: DataFrame,
    correlationChanges: DataFrame,
    rareCategories: DataFrame,
    groupDrift: DataFrame,
    groupCorrelations: DataFrame,
    featureImportance: DataFrame,
    errors: Seq[String],
    driftDetected: Boolean,
    assessment: String,
    recommendations: Seq[String],
    executionTimeSec: Double)

/** O40 orchestrator: run every analyzer family over a snapshot pair per the
  * config flags and assemble the nested report. The pair is profiled once,
  * into two local frames: the numeric column rows
  * ([[NumericDrift.pairProfile]], one row per column with both sides'
  * statistics) and the categorical census ([[CategoricalDrift.localPairCensus]],
  * one row per (column, value) with both sides' counts and the column's
  * totals). The numeric verdict, quantile shifts, shapes, the O29 column
  * screen, rare values and rare categories only project, filter, stack or
  * sort them; the categorical verdict and full JS aggregate the census per
  * column; z-outliers and histograms make one row pass against constants
  * from the numeric rows; the group-drift verdict and the correlation
  * families read the rows. Each family's job count does not grow with the
  * column count (GoldenDriftSpec pins this; SURVEY.md §4.2 anti-patterns 1
  * and 2), and the functions it applies to the profile are the ones the
  * gate queries apply to each table split's profile. */
class DriftDetector(spark: SparkSession) {

  /** Config-file entry point, the reference's
    * `run_data_drift_detection(config_path)` shape
    * (data_drift_detector.py:423-435): load both snapshot versions from the
    * configured table path, run the analyzers, optionally persist flat
    * results to the configured output table. */
  def detectDrift(configPath: String): DriftReport =
    detectDrift(ConfigReader.readFile(configPath))

  def detectDrift(run: ConfigReader.DriftRun): DriftReport = {
    val source = run.tableFormat match {
      case "parquet_dir" => new ParquetDirSource(run.tablePath)
      case "versioned_parquet" => new VersionedParquetTable(run.tablePath)
      case "delta" => new DeltaSource(run.tablePath)
      case other => throw new IllegalArgumentException(
        s"unknown table_format '$other' (expected parquet_dir | versioned_parquet | delta)")
    }
    detectDrift(source, run.refVersion, run.currVersion, run)
  }

  /** Version-pair drift over any [[SnapshotSource]] — the reference's
    * "compare version N against N−1 of the SAME table" flow
    * (data_loader.py:24) with the source pluggable: a manifest-committed
    * [[VersionedParquetTable]] here, Delta on a deployment that has it.
    * Pass `currVersion = -1` to resolve the source's latest version (O2). */
  def detectDrift(source: SnapshotSource, refVersion: Long, currVersion: Long,
      run: ConfigReader.DriftRun): DriftReport = {
    val currV = if (currVersion < 0) source.latestVersion(spark) else currVersion
    val ref = source.load(spark, refVersion)
    val curr = source.load(spark, currV)
    val report = detectDrift(ref, curr, run.config)
    run.outputTable.foreach(out => CallPool.described(spark.sparkContext, "drift:write_results")(
      Results.writeResults(spark, report, out)))
    report
  }

  /** Every analyzer family over the pair. The caches it creates are released
    * on return; the report's frames are local copies that hold no blocks.
    *
    * Once both sides of the pair are cached and filled, the profile phase,
    * the numeric and categorical verdict passes and the eleven analyzer
    * families run concurrently on a thread pool made for this call, as wide
    * as the context's `defaultParallelism` and never wider than 13.
    * The pool takes the group-drift verdict, the two profile tasks and the
    * group correlations first, then the tasks that read the profile; a task
    * waits only on tasks submitted before it. The local profile copies are
    * bounded by the pair's column count (numeric) and by its distinct
    * values (categorical). The report equals the one a sequential run
    * gives: frames, verdicts, and `errors` in family order, whatever order
    * the families finish in. Every job the call submits carries a
    * `drift:<family>` job description (`drift:sampling`,
    * `drift:type_inference`, `drift:profile`, `drift:numeric`,
    * `drift:shapes`, …). A family that fails is reported in `errors`; a
    * verdict pass that throws — or whose profile throws — cancels the jobs
    * of the other tasks and waits for them to end, and then its own
    * exception propagates. */
  def detectDrift(refIn: DataFrame, currIn: DataFrame,
      configIn: DriftConfig = DriftConfig()): DriftReport =
    CacheScope.using(spark)(detect(refIn, currIn, configIn, _))

  /** The two verdict passes and the eleven families: the pool width bound. */
  private val FanOut = 13

  private def detect(refIn: DataFrame, currIn: DataFrame, configIn: DriftConfig,
      scope: CacheScope): DriftReport = {
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    // every family re-reads the pair, so it is cached once and filled here,
    // before the families fan out; with sampling on, the sampling count
    // (which also drives the O38 factor) is what fills each cache
    def sampled(df: DataFrame): (DataFrame, Long) = {
      val cached = scope.cached(df)
      if (configIn.sampleSize > 0) Sampling.sampleWithTotal(cached, configIn.sampleSize)
      else (cached, cached.count())
    }
    val ((ref, refTotal), (curr, _)) =
      CallPool.described(sc, "drift:sampling")((sampled(refIn), sampled(currIn)))
    // O38 sample-size adjustment: when sampling truncated the reference
    // frame, loosen the drift thresholds by the 1/√ratio-shaped factor
    // (adaptive_threshold.py:523-556 — defined there, wired here)
    val config =
      if (configIn.sampleSize > 0 && refTotal > configIn.sampleSize)
        configIn.copy(thresholdScale = configIn.thresholdScale *
          AdaptiveThresholds.sampleSizeFactor(configIn.sampleSize, refTotal))
      else configIn

    // 1. schema diff (driver-side)
    val schemaChanges = SchemaOps.diff(ref.schema, curr.schema)

    // 2. semantic types on common columns (+ config overrides); a column whose
    // current type has no cast to its reference type (tagPair) is in schemaChanges only
    val common = ref.columns.toSeq.intersect(curr.columns.toSeq).filter { c =>
      val (r, t) = (ref.schema(c).dataType, curr.schema(c).dataType)
      widens(r, t) || Cast.canTryCast(t, r)
    }.filter(c => config.includeColumns.isEmpty || config.includeColumns.contains(c))
      .filterNot(config.excludeColumns.contains)
    // infer only the columns the config does NOT pin: an override wins
    // unconditionally, so inferring a pinned column is a wasted aggregate
    // over the reference frame (a fully-pinned config — the orchestrated
    // gate row's shape — skips the inference job entirely)
    val toInfer = common.filterNot(config.customColumnTypes.contains)
    val inferred = if (toInfer.isEmpty) Map.empty[String, String]
      else CallPool.described(sc, "drift:type_inference")(
        TypeInference.infer(ref.select(toInfer.map(col): _*)))
    val types = inferred ++ config.customColumnTypes.filter { case (k, _) => common.contains(k) }
    val numericCols = common.filter(c => types(c) == "numerical")
    val catCols = common.filter(c => types(c) == "categorical")

    // 3.–5. the profile phase, the verdict passes and the families only read
    // the filled pair, so they run concurrently on a pool made for this call
    val width = math.min(FanOut, sc.defaultParallelism)
    val (numeric, categorical, results) = CallPool.using(sc, width) { pool =>
      val empty = spark.emptyDataFrame
      // a task waits only on tasks submitted before it, so a pool of any
      // width drains in submission order
      def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)
      // each family isolated per the reference's graceful-error policy (never
      // fail the whole run; SURVEY.md §4.1): collecting the tiny family result
      // forces it on the pool thread, where a runtime failure is caught (plans
      // are lazy)
      def safe(family: String, enabled: Boolean)(body: => DataFrame): Future[FamilyResult] =
        if (!enabled) Future.successful(FamilyResult(empty, Seq.empty, None))
        else pool.submit(s"drift:$family") {
          try {
            val df = body
            val rows = df.collectAsList()
            FamilyResult(spark.createDataFrame(rows, df.schema), rows.asScala.toSeq, None)
          } catch {
            case scala.util.control.NonFatal(e) =>
              FamilyResult(empty, Seq.empty, Some(s"$family: ${e.getMessage}"))
          }
        }
      def profile(enabled: Boolean)(body: => DataFrame): Future[DataFrame] =
        if (!enabled) Future.successful(empty) else pool.submit("drift:profile")(body)

      // group analysis (O32/O33): configured dims, else first ≤3 categorical
      // columns as the reference defaults (data_drift_detector.py:168-175)
      val groupDims =
        (if (config.groupColumns.nonEmpty) config.groupColumns.filter(catCols.contains)
         else catCols.take(3))
      val correlationsOn = config.analyzeCorrelations && numericCols.size >= 2
      // feature-importance drift (O27) when a numeric target is configured
      val target = config.targetColumn.filter(t => numericCols.contains(t) && numericCols.size >= 2)

      // first the group-drift verdict, which reads the rows longest, and the
      // pair profile every later task reads: the numeric column rows and the
      // categorical census, each collected into a local frame once
      val groupsF = safe("group_drift", config.analyzeGroups && groupDims.nonEmpty)(
        GroupDrift.verdictForPair(ref, curr, groupDims, numericCols, catCols))
      val numRowsF = profile(numericCols.nonEmpty)(
        localCopy(NumericDrift.pairProfile(ref, curr, numericCols)))
      val censusF = profile(catCols.nonEmpty)(CategoricalDrift.localPairCensus(ref, curr, catCols))
      def numRows = await(numRowsF)
      def cen = await(censusF)
      // O29 screen: drop columns with non-null ratio < 0.7 in either frame;
      // projected once, by whichever correlation family reads it first
      lazy val corrCols = CorrelationDrift.validColumnsOf(numRows, numericCols)
      // O26: per-category correlations over the first ≤3 group dimensions,
      // matching the reference's group_columns[:3] loop
      // (correlation_analyzer.py:163-171) — one pass for all of them
      val groupCorrF = safe("group_correlations",
        config.analyzeGroups && groupDims.nonEmpty && correlationsOn)(
        if (corrCols.size >= 2)
          CorrelationDrift.groupCorrelationsForDims(ref, curr, groupDims.take(3), corrCols)
        else empty)

      // 3. numeric drift (O12 metrics + verdicts); a profile that fails
      // fails this pass with the profile's own exception
      val numericF = pool.submit("drift:numeric") {
        if (numericCols.isEmpty) Seq.empty
        else NumericDrift.driftOfPair(numRows).collect().toSeq.map { r =>
          NumericColumnDrift(
            r.getAs[String]("column_name"),
            r.getAs[Double]("ref_mean"), r.getAs[Double]("curr_mean"),
            r.getAs[Double]("mean_rel_diff"), r.getAs[Double]("median_rel_diff"),
            r.getAs[Double]("std_dev_rel_diff"), r.getAs[Double]("iqr_rel_diff"),
            r.getAs[Double]("range_rel_diff"), r.getAs[Double]("null_diff"),
            r.getAs[Double]("drift_score"), r.getAs[Boolean]("drift_detected"),
            Option(r.getAs[String]("drift_causes")).filter(_.nonEmpty)
              .map(_.split(",").toSeq).getOrElse(Seq.empty))
        }
      }

      // 4. categorical drift (O19)
      val categoricalF = pool.submit("drift:categorical") {
        if (catCols.isEmpty) Seq.empty
        else CategoricalDrift.categoricalDriftOfPair(cen,
          exactPValue = config.exactChiPValue).collect().toSeq.map { r =>
          CategoricalColumnDrift(
            r.getAs[String]("column_name"),
            r.getAs[Double]("js_divergence"), r.getAs[Double]("chi_p_value"),
            r.getAs[Double]("null_proportion_diff"),
            r.getAs[Double]("new_categories_ratio"), r.getAs[Double]("missing_categories_ratio"),
            r.getAs[Double]("drift_score"), r.getAs[Boolean]("drift_detected"),
            Option(r.getAs[String]("drift_causes")).filter(_.nonEmpty)
              .map(_.split(",").toSeq).getOrElse(Seq.empty))
        }
      }

      // 5. distribution module (O20/O21), correlations (O25/O26), rare events
      // (O35/O36); z-outliers and histograms count the rows against the
      // profile's constants
      lazy val numTagged = tagPair(ref, curr, numericCols)
      val quantilesF = safe("quantile_shifts", config.analyzeDistributions && numericCols.nonEmpty)(
        NumericDrift.quantileShiftsOfPair(numRows))
      val shapesF = safe("shapes", config.analyzeDistributions && numericCols.nonEmpty)(
        NumericDrift.shapesOfPair(numRows))
      // categorical half of the distribution module
      // (data_drift_detector.py:117-143 → distribution_analyzer.py:10-81):
      // full-support JS per categorical column, rare-value census, and the
      // opt-in histogram summaries
      val jsFullF = safe("js_full", config.analyzeDistributions && catCols.nonEmpty)(
        CategoricalDrift.jsFullOfPair(cen, threshold = config.jsDistanceThreshold))
      val rareValuesF = safe("rare_value_changes",
        config.analyzeDistributions && config.detectRareEvents && catCols.nonEmpty)(
        CategoricalDrift.rareValueChangesOfPair(cen, thr = config.rareValueThreshold))
      val histogramsF = safe("histograms",
        config.analyzeDistributions && config.genDistributionSummaries && numericCols.nonEmpty)(
        NumericDrift.histogramOfPair(numTagged, numRows, numericCols))
      val zOutF = safe("z_outliers", config.detectRareEvents && numericCols.nonEmpty)(
        NumericDrift.zOutliersOfPair(numTagged, numRows, numericCols))
      val corrF = safe("correlations", correlationsOn)(
        if (corrCols.size >= 2) CorrelationDrift.forPair(ref, curr, corrCols, config) else empty)
      val rareF = safe("rare_categories", config.detectRareEvents && catCols.nonEmpty)(
        CategoricalDrift.rareCategoriesOfPair(cen, maxFreq = config.rareValueThreshold))
      val featureImportanceF = safe("feature_importance", target.isDefined)(
        CorrelationDrift.featureImportanceForPair(ref, curr, target.get,
          numericCols.filterNot(target.contains)))

      // a verdict pass that throws ends the call here: CallPool.using cancels
      // and drains the other tasks before the exception reaches the scope
      (await(numericF), await(categoricalF),
        Seq(quantilesF, shapesF, jsFullF, rareValuesF, histogramsF, zOutF, corrF, rareF, groupsF,
          groupCorrF, featureImportanceF).map(await))
    }
    val Seq(quantiles, shapes, jsFull, rareValues, histograms, zOut, corr, rare, groups,
      groupCorr, featureImportance) = results

    // 6. assessment + recommendations (data_drift_detector.py:286-421)
    val numDriftCols = numeric.filter(_.driftDetected).map(_.column)
    val catDriftCols = categorical.filter(_.driftDetected).map(_.column)
    // the three counts read the rows each family already collected
    val corrShifts = corr.rows.count(_.getAs[Any]("significant_shift") == true)
    // distribution drift flips the overall verdict but not the severity
    // count, matching data_drift_detector.py:125-142
    val numDistDrift = shapes.rows.count(r => Seq("skew_change", "kurt_change")
      .exists { c => val v = r.getAs[String](c); v != null && v != "none" })
    val catDistDrift = jsFull.rows.count(_.getAs[Any]("significant_change") == true)

    val driftCount = numDriftCols.size + catDriftCols.size + corrShifts
    val severity = if (driftCount > 10) "high" else if (driftCount > 5) "medium" else "low"
    val assessment = (severity match {
      case "high" => "Significant data drift detected across multiple dimensions and metrics."
      case "medium" => "Moderate data drift detected in several columns and relationships."
      case _ => "Minor data drift detected in a few columns or metrics."
    }) + s" Severity: ${severity.toUpperCase}"

    val driftDetected = numDriftCols.nonEmpty || catDriftCols.nonEmpty || corrShifts > 0 ||
      numDistDrift > 0 || catDistDrift > 0
    def listOf(cols: Seq[String]) =
      cols.take(3).mkString(", ") + (if (cols.size > 3) "..." else "")
    val recommendations = Seq(
      if (schemaChanges.exists(c => c.changeType == "added" || c.changeType == "removed"))
        Some("Review schema changes. Schema evolution may require updates to downstream processes.")
      else None,
      if (numDriftCols.nonEmpty)
        Some(s"Investigate numerical drift in ${numDriftCols.size} columns: ${listOf(numDriftCols)}")
      else None,
      if (catDriftCols.nonEmpty)
        Some(s"Investigate categorical drift in ${catDriftCols.size} columns: ${listOf(catDriftCols)}")
      else None,
      if (corrShifts > 0)
        Some("Previously strong correlations have shifted. Validate feature importance in models.")
      else None,
      if (driftDetected)
        Some("Consider monitoring affected columns more frequently to establish trends.")
      else None,
    ).flatten

    DriftReport(schemaChanges, types, numeric, categorical, quantiles.frame, shapes.frame,
      jsFull.frame, rareValues.frame, histograms.frame, zOut.frame, corr.frame, rare.frame,
      groups.frame, groupCorr.frame, featureImportance.frame, results.flatMap(_.error),
      driftDetected, assessment, recommendations, (System.nanoTime() - t0) / 1e9)
  }
}

/** One analyzer family's outcome: its collected rows, also as a local frame
  * that holds no cache blocks, or the failure `DriftReport.errors` lists. */
private final case class FamilyResult(frame: DataFrame, rows: Seq[Row], error: Option[String])

/** O40 end-to-end GATE surface: one oracle-checked query that runs the
  * full [[DriftDetector]] orchestration (sample → infer/override types →
  * numeric O12 + categorical O19 analyzers → assessment,
  * /root/reference/data_drift_detector.py:29-244, example.py:89-156) over
  * the standard lineitem snapshot split and serializes the flat report.
  *
  * Oracle equivalence: [[NumericDrift.driftForPair]] and
  * [[CategoricalDrift.categoricalDriftForPair]] evaluate the SAME stage
  * text as the gate queries `numeric_drift` / `categorical_drift`, so the
  * DuckDB twin is those queries' own oracle SQL filtered to lineitem,
  * plus the assessment row recomputed from the per-column verdicts
  * (data_drift_detector.py:286-320 severity bands). Distribution /
  * correlation / group modules are exercised by their own 40+ gate rows
  * and disabled here so the oracle stays the composition of ALREADY
  * HASH-GREEN texts — this row checks the ORCHESTRATION (config
  * plumbing, type routing, verdict assembly), not new math. Sampling is
  * off (sampleSize = 0): the oracle sees every row, and the sampled path
  * is pinned by the `adaptive_sampled` gate row + GoldenDriftSpec. */
object Orchestrated extends graft.OperatorModule {

  private val NumCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val CatCols = Seq("l_returnflag", "l_linestatus")

  /** The O12 median/IQR percentiles are exact, as the oracle reproduces
    * them; sketch mode runs them on the mergeable sketch at scale. */
  def orchestratedReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, dir, "lineitem")
    // mirror withSide's CASE semantics: pred-true → ref, false OR NULL → curr
    val ref = li.filter(splits.lineitemRef)
    val curr = li.filter(!coalesce(splits.lineitemRef, lit(false)))
    val cfg = DriftConfig(
      sampleSize = 0, analyzeCorrelations = false, analyzeGroups = false,
      analyzeDistributionsFlag = Some(false), detectRareEventsFlag = Some(false),
      includeColumns = NumCols ++ CatCols,
      customColumnTypes =
        NumCols.map(_ -> "numerical").toMap ++ CatCols.map(_ -> "categorical").toMap)
    val rep = new DriftDetector(spark).detectDrift(ref, curr, cfg)
    val k = rep.numeric.count(_.driftDetected) + rep.categorical.count(_.driftDetected)
    val rows =
      rep.numeric.map(n =>
        ("numeric", n.column, n.driftScore, n.driftDetected, n.driftCauses.mkString(","))) ++
      rep.categorical.map(c =>
        ("categorical", c.column, c.driftScore, c.driftDetected, c.driftCauses.mkString(","))) :+
      (("assessment", "_overall", k.toDouble, rep.driftDetected, rep.assessment))
    rows.toDF("family", "column_name", "score", "detected", "detail")
      .orderBy("family", "column_name")
  }

  def orchestratedReportSql: String = {
    val assessment =
      "CASE WHEN k > 10 THEN 'Significant data drift detected across multiple dimensions and metrics. Severity: HIGH' " +
        "WHEN k > 5 THEN 'Moderate data drift detected in several columns and relationships. Severity: MEDIUM' " +
        "ELSE 'Minor data drift detected in a few columns or metrics. Severity: LOW' END"
    s"WITH nd AS (${NumericDrift.driftSql}), cd AS (${CategoricalDrift.categoricalDriftSql}), " +
      "base AS (" +
      "SELECT 'numeric' AS family, column_name, drift_score AS score, " +
      "drift_detected AS detected, COALESCE(drift_causes, '') AS detail " +
      "FROM nd WHERE table_name = 'lineitem' UNION ALL " +
      "SELECT 'categorical', column_name, drift_score, drift_detected, " +
      "COALESCE(drift_causes, '') FROM cd WHERE table_name = 'lineitem'), " +
      "agg AS (SELECT COUNT(CASE WHEN detected THEN 1 END) AS k, " +
      "BOOL_OR(detected) AS any_drift FROM base) " +
      "SELECT family, column_name, score, detected, detail FROM " +
      "(SELECT family, column_name, score, detected, detail FROM base UNION ALL " +
      s"SELECT 'assessment', '_overall', CAST(k AS DOUBLE), COALESCE(any_drift, FALSE), $assessment FROM agg) " +
      "ORDER BY family, column_name"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("orchestrated_report" -> ((s, d) => orchestratedReport(s, d)))

  def oracles: Map[String, String] =
    Map("orchestrated_report" -> orchestratedReportSql)
}
