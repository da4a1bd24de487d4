package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Measure
import graft.drift._
import graft.pipeline.{CorpusPipeline, DataSplit, Dedup, LmScore, TextAnalysis}

/** One product-shaped workload: seeded input generation, the op a user
  * repeats, the op's output check, and (traced runs) a replay of the
  * module calls a composite op makes internally. */
abstract class Workload(val spark: SparkSession, val seed: Long, val t: Tracer) {
  type Out
  protected val rng = new scala.util.Random(seed)

  /** Generate this workload's inputs under `dir` (timed as set-up). */
  def setup(dir: Path): Unit
  /** Point the ops at the inputs one [[setup]] made. */
  def bind(dir: Path, work: Path): Unit
  /** Ops made before the timed ones and left out of the timings: 1 for
    * a workload whose users repeat the op in a long-lived session, 0 for
    * a batch job whose users pay the JIT and code-generation warm-up on
    * every run. */
  def warmupOps: Int = 0
  /** Untimed preparation before each op (e.g. a cold Spark cache). */
  def beforeOp(): Unit = ()
  def op(i: Int): Out
  /** Failure reasons for one op's output; empty means it passed. */
  def check(out: Out): Seq[String]
  /** A deliberately wrong copy of an output, for the self-test. */
  def corrupt(out: Out): Out
  /** Untimed clean-up after each op's check. */
  def afterOp(): Unit = ()
  /** Rows of the two snapshots one op compares (0 when not a drift op). */
  def snapshotRows: Long = 0L
  /** Traced runs only: the module calls the op's composite makes. */
  def replay(): Unit = ()
  /** Traced runs only: calls into modules no listed workload's op reaches,
    * measured once; failure reasons of their checks. */
  def sideCalls(): Seq[String] = Nil
  /** Untimed checks made once per run; failure reasons. */
  def runChecks(): Seq[String] = Nil
  /** Ops over deliberately dirty inputs, run after the timed loop:
    * (attempted, failure reasons per failed probe). */
  def probes(): (Int, Seq[String]) = (0, Nil)
  /** Written-bytes of the program's results sink, if it has one. */
  def sinkBytes: Long = 0L

  protected def rows(p: Path): Long = spark.read.parquet(p.toString).count()
}

object Workload {
  val Names = Seq("snapshot_report", "monitor_loop", "corpus_curation", "report_family")

  def apply(name: String, spark: SparkSession, seed: Long, t: Tracer): Workload = name match {
    case "snapshot_report" => new SnapshotReport(spark, seed, t)
    case "monitor_loop" => new MonitorLoop(spark, seed, t)
    case "corpus_curation" => new CorpusCuration(spark, seed, t)
    case "report_family" => new ReportFamily(spark, seed, t)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected ${Names.mkString(" | ")})")
  }

  /** One query for the runner's DuckDB comparison: `sql` run over views
    * of every `<name>.parquet` table under `dir` must give `rows`. */
  def writeOracle(file: Path, dir: String, sql: String, columns: Seq[String],
      rows: Seq[Seq[Any]]): Unit = {
    Files.createDirectories(file.getParent)
    Files.writeString(file, Json.obj(Seq(
      "dir" -> Json.str(dir),
      "columns" -> Json.arr(columns.map(Json.str)),
      "rows" -> Json.arr(rows.map(r => Json.arr(r.map(Json.value)))),
      "sql" -> Json.str(sql))))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** The checks a drift report must pass: no family errors, every score
    * in [0, 1], every numerical statistic finite, and both planted columns
    * flagged. */
  def checkReport(r: DriftReport, plantedNum: String, plantedCat: String): Seq[String] = {
    val scores = r.numeric.map(n => n.column -> n.driftScore) ++
      r.categorical.map(c => c.column -> c.driftScore)
    val stats = r.numeric.flatMap(n => Seq("ref_mean" -> n.refMean, "curr_mean" -> n.currMean,
      "mean_rel_diff" -> n.meanRelDiff, "median_rel_diff" -> n.medianRelDiff,
      "std_rel_diff" -> n.stdRelDiff, "iqr_rel_diff" -> n.iqrRelDiff,
      "range_rel_diff" -> n.rangeRelDiff, "null_diff" -> n.nullDiff)
      .map { case (k, v) => (n.column, k, v) })
    r.errors.map(e => s"report error: ${e.take(200)}") ++
      scores.collect { case (c, s) if !(s >= 0.0 && s <= 1.0) =>
        s"score of $c is $s: ${(r.numeric.filter(_.column == c) ++ r.categorical.filter(_.column == c)).mkString}"
      } ++
      stats.collect { case (c, k, v) if v.isNaN || v.isInfinite => s"$k of $c is $v" } ++
      (if (r.numeric.exists(n => n.column == plantedNum && n.driftDetected)) Nil
       else Seq(s"planted numeric drift in $plantedNum not flagged: ${r.numeric.find(_.column == plantedNum)}")) ++
      (if (r.categorical.exists(c => c.column == plantedCat && c.driftDetected)) Nil
       else Seq(s"planted categorical drift in $plantedCat not flagged: ${r.categorical.find(_.column == plantedCat)}"))
  }

  /** Rows one report appends to the results sink. */
  def reportRows(r: DriftReport): Long =
    r.numeric.size + r.categorical.size +
      (if (r.groupDrift.columns.contains("overall_drift_score")) r.groupDrift.count() else 0L)

  def corruptReport(r: DriftReport): DriftReport =
    r.copy(numeric = r.numeric.updated(0, r.numeric.head.copy(driftScore = Double.NaN)))

  /** The family calls `detectDrift` makes for versions (refV, currV) of
    * `table` under the default config, each forced with `Measure.exec`:
    * the same sampled pair, columns and config-derived arguments. */
  def replayDetectDrift(spark: SparkSession, t: Tracer, table: VersionedParquetTable,
      refV: Long, currV: Long): Unit = {
    val cfg0 = DriftConfig()
    val refIn = t("Orchestrator", "VersionedParquetTable.load")(table.load(spark, refV))
    val currIn = t("Orchestrator", "VersionedParquetTable.load")(table.load(spark, currV))
    val (ref, refTotal) = t("Orchestrator", "Sampling.sampleWithTotal")(
      Sampling.sampleWithTotal(refIn, cfg0.sampleSize))
    val (curr, _) = t("Orchestrator", "Sampling.sampleWithTotal")(
      Sampling.sampleWithTotal(currIn, cfg0.sampleSize))
    val cfg = if (refTotal > cfg0.sampleSize)
      cfg0.copy(thresholdScale = AdaptiveThresholds.sampleSizeFactor(cfg0.sampleSize, refTotal))
      else cfg0
    val common = ref.columns.toSeq.intersect(curr.columns.toSeq)
    val types = t("TypeInference", "TypeInference.infer")(
      TypeInference.infer(ref.select(common.map(col): _*)))
    val num = common.filter(c => types(c) == "numerical")
    val cat = common.filter(c => types(c) == "categorical")
    def run(module: String, call: String)(df: => DataFrame): Unit =
      t(module, call)(Measure.exec(df))
    if (num.nonEmpty) {
      run("NumericDrift", "NumericDrift.driftForPair")(NumericDrift.driftForPair(ref, curr, num))
      run("NumericDrift", "NumericDrift.quantileShiftsForPair")(
        NumericDrift.quantileShiftsForPair(ref, curr, num))
      run("NumericDrift", "NumericDrift.shapesForPair")(NumericDrift.shapesForPair(ref, curr, num))
      run("NumericDrift", "NumericDrift.zOutliersForPair")(NumericDrift.zOutliersForPair(ref, curr, num))
    }
    if (cat.nonEmpty) {
      run("CategoricalDrift", "CategoricalDrift.categoricalDriftForPair")(
        CategoricalDrift.categoricalDriftForPair(ref, curr, cat))
      run("CategoricalDrift", "CategoricalDrift.jsFullForPair")(
        CategoricalDrift.jsFullForPair(ref, curr, cat, threshold = cfg.jsDistanceThreshold))
      run("CategoricalDrift", "CategoricalDrift.rareValueChangesForPair")(
        CategoricalDrift.rareValueChangesForPair(ref, curr, cat, thr = cfg.rareValueThreshold))
      run("CategoricalDrift", "CategoricalDrift.rareCategoriesForPair")(
        CategoricalDrift.rareCategoriesForPair(ref, curr, cat, maxFreq = cfg.rareValueThreshold))
    }
    val corrCols = if (num.size < 2) Seq.empty[String]
      else t("CorrelationDrift", "CorrelationDrift.validColumns")(
        CorrelationDrift.validColumns(ref, curr, num))
    if (corrCols.size >= 2)
      run("CorrelationDrift", "CorrelationDrift.forPair")(CorrelationDrift.forPair(ref, curr, corrCols, cfg))
    val dims = cat.take(3)
    dims.foreach(d => run("GroupDrift", "GroupDrift.forPair")(
      GroupDrift.forPair(ref, curr, d, num, cat.filterNot(_ == d))))
    if (corrCols.size >= 2) dims.foreach(d =>
      run("CorrelationDrift", "CorrelationDrift.groupCorrelationsForPair")(
        CorrelationDrift.groupCorrelationsForPair(ref, curr, d, corrCols)))
    spark.catalog.clearCache()
  }
}

/** Shared by the two drift workloads: a parquet results sink whose row
  * count must grow by exactly one report per op. */
trait ResultsSink { self: Workload =>
  protected var sink: Path = _
  private var before = 0L
  protected def sinkRows: Long = if (Files.exists(sink)) rows(sink) else 0L
  protected def markSink(): Unit = before = sinkRows
  protected def checkSink(r: DriftReport): Seq[String] = {
    val grew = sinkRows - before
    val want = Workload.reportRows(r)
    if (grew == want) Nil else Seq(s"results sink grew by $grew rows, report has $want")
  }
  override def sinkBytes: Long = Workload.dirBytes(sink)
}

/** The paper's workflow: two committed versions of a wide mixed-type
  * table, drift report from a cold cache, results appended. */
final class SnapshotReport(spark: SparkSession, seed: Long, t: Tracer)
    extends Workload(spark, seed, t) with ResultsSink {
  type Out = DriftReport
  val BaseRows = 24000L
  private val plantedNum = Gen.WideNumeric(rng.nextInt(Gen.WideNumeric.size))
  private val (plantedCat, plantValue) = Gen.WideCategorical(rng.nextInt(Gen.WideCategorical.size))
  private var table: VersionedParquetTable = _
  private var nRows = 0L

  def setup(dir: Path): Unit = {
    val base = Gen.wide(spark, BaseRows, seed)
    val tbl = new VersionedParquetTable(dir.resolve("table").toString)
    tbl.commit(base.filter(Gen.u(seed, 100) < 0.5).drop("id"))
    tbl.commit(base.filter(Gen.u(seed, 101) < 0.5)
      .withColumn(plantedNum, col(plantedNum) * 1.3)
      .withColumn(plantedCat, when(Gen.u(seed, 102) < 0.35, plantValue)
        .otherwise(col(plantedCat)))
      .drop("id"))
  }

  def bind(dir: Path, work: Path): Unit = {
    table = new VersionedParquetTable(dir.resolve("table").toString)
    sink = work.resolve("results")
    nRows = rows(dir.resolve("table/v0")) + rows(dir.resolve("table/v1"))
  }

  override def snapshotRows: Long = nRows
  override def beforeOp(): Unit = { spark.catalog.clearCache(); markSink() }

  def op(i: Int): DriftReport = {
    val ref = t("Orchestrator", "VersionedParquetTable.load")(table.load(spark, 0))
    val curr = t("Orchestrator", "VersionedParquetTable.load")(table.load(spark, 1))
    val report = t("Orchestrator", "DriftDetector.detectDrift")(
      new DriftDetector(spark).detectDrift(ref, curr, DriftConfig()))
    t("Results", "Results.writeResults")(Results.writeResults(spark, report, sink.toString))
    report
  }

  def check(r: DriftReport): Seq[String] =
    Workload.checkReport(r, plantedNum, plantedCat) ++ checkSink(r)
  def corrupt(r: DriftReport): DriftReport = Workload.corruptReport(r)

  override def replay(): Unit = {
    spark.catalog.clearCache()
    Workload.replayDetectDrift(spark, t, table, 0, 1)
  }
}

/** A long-lived monitoring session: commit the next version of a small
  * table, compare it with the previous one, append the results. */
final class MonitorLoop(spark: SparkSession, seed: Long, t: Tracer)
    extends Workload(spark, seed, t) with ResultsSink {
  type Out = DriftReport
  val BaseRows = 30000L
  val plantedNum = "o_totalprice"
  private val plantedCat = Seq("o_orderstatus", "o_orderpriority")(rng.nextInt(2))
  private val plantValues = if (plantedCat == "o_orderstatus") ("F", "P") else ("1-URGENT", "5-LOW")
  private var base: Path = _
  private var table: VersionedParquetTable = _
  private var tableDir: Path = _

  /** Version k: a seeded 30% sample; the price scales by 1.2 per version
    * and the planted categorical column swings between two skews, so
    * every consecutive pair carries drift in both planted columns. */
  private def version(basePath: Path, k: Int): DataFrame =
    spark.read.parquet(basePath.toString)
      .filter(Gen.u(seed, 200 + k) < 0.3)
      .withColumn(plantedNum, round(col(plantedNum) * math.pow(1.2, k), 2))
      .withColumn(plantedCat, when(Gen.u(seed, 300 + k) < 0.4,
        lit(if (k % 2 == 0) plantValues._1 else plantValues._2)).otherwise(col(plantedCat)))
      .drop("id")

  def setup(dir: Path): Unit = {
    Gen.orders(spark, BaseRows, seed).write.parquet(dir.resolve("base").toString)
    new VersionedParquetTable(dir.resolve("table").toString).commit(version(dir.resolve("base"), 0))
  }

  def bind(dir: Path, work: Path): Unit = {
    base = dir.resolve("base")
    tableDir = dir.resolve("table")
    table = new VersionedParquetTable(tableDir.toString)
    sink = work.resolve("results")
  }

  override def snapshotRows: Long = {
    val v = table.latestVersion(spark)
    rows(tableDir.resolve(s"v$v")) + rows(tableDir.resolve(s"v${v - 1}"))
  }
  override def beforeOp(): Unit = markSink()

  override def warmupOps: Int = 1

  private def compare(prev: Long, v: Long): DriftReport =
    new DriftDetector(spark).detectDrift(table, prev, v,
      ConfigReader.DriftRun(tableDir.toString, prev, v, Some(sink.toString), DriftConfig(),
        "versioned_parquet"))

  def op(i: Int): DriftReport = {
    val v = t("Orchestrator", "VersionedParquetTable.commit")(table.commit(version(base, i)))
    t("Orchestrator", "DriftDetector.detectDrift")(compare(v - 1, v))
  }

  def check(r: DriftReport): Seq[String] =
    Workload.checkReport(r, plantedNum, plantedCat) ++ checkSink(r)
  def corrupt(r: DriftReport): DriftReport = Workload.corruptReport(r)

  override def replay(): Unit = {
    val last = table.latestVersion(spark)
    Workload.replayDetectDrift(spark, t, table, last - 1, last)
  }

  /** Two versions real tables produce: the price column retyped to
    * string, and 0.1% of prices NaN or ±Infinity. Each is compared with
    * the last clean version and checked like a timed op. */
  override def probes(): (Int, Seq[String]) = {
    val last = table.latestVersion(spark)
    val k = last.toInt + 1
    val x = Gen.u(seed, 400, col(plantedNum))
    val dirty = Seq(
      "retyped" -> version(base, k).withColumn(plantedNum, col(plantedNum).cast("string")),
      "non-finite" -> version(base, k).withColumn(plantedNum,
        when(x < 0.0005, lit(Double.NaN))
          .when(x < 0.00075, lit(Double.PositiveInfinity))
          .when(x < 0.001, lit(Double.NegativeInfinity))
          .otherwise(col(plantedNum))))
    val failures = dirty.flatMap { case (label, df) =>
      markSink()
      val why = try {
        val r = compare(last, table.commit(df))
        check(r)
      } catch {
        case scala.util.control.NonFatal(e) =>
          Seq(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      if (why.isEmpty) None else Some(s"$label: ${why.mkString("; ")}")
    }
    (dirty.size, failures)
  }
}

/** The LLM-data layer: the corpus-curation sweep into a fresh work dir. */
final class CorpusCuration(spark: SparkSession, seed: Long, t: Tracer)
    extends Workload(spark, seed, t) {
  type Out = CorpusPipeline.CorpusReport
  val Docs = 400L
  val ExactCopies = 40L
  val NearCopies = 40L
  private var dir: Path = _
  private var work: Path = _
  private var opDir: Path = _
  private var n = 0
  private var last: Option[CorpusPipeline.CorpusReport] = None

  def setup(d: Path): Unit =
    Gen.documents(spark, Docs, ExactCopies, NearCopies, seed).coalesce(2)
      .write.parquet(d.resolve("documents.parquet").toString)

  def bind(d: Path, w: Path): Unit = { dir = d; work = w }

  override def beforeOp(): Unit = { n += 1; opDir = work.resolve(s"curation-$n") }

  def op(i: Int): CorpusPipeline.CorpusReport = {
    val r = t("CorpusPipeline", "CorpusPipeline.run")(
      CorpusPipeline.run(spark, dir.toString, opDir.toString))
    last = Some(r)
    r
  }

  def check(r: CorpusPipeline.CorpusReport): Seq[String] = {
    val funnel = Seq(r.nDocs, r.nLangKept, r.nQualityKept, r.nDedupKept, r.nNeardupKept)
    val total = Docs + ExactCopies + NearCopies
    (if (funnel.zip(funnel.tail).forall { case (a, b) => a >= b }) Nil
     else Seq(s"funnel not monotone: ${funnel.mkString(" > ")}")) ++
      (if (r.nDocs == total) Nil else Seq(s"funnel saw ${r.nDocs} docs of $total")) ++
      (if (r.nDedupKept < r.nQualityKept) Nil
       else Seq(s"exact dedup removed nothing: ${r.nQualityKept} docs in, ${r.nDedupKept} kept")) ++
      (if (r.nNeardupKept < r.nDedupKept) Nil else Seq("no planted near-duplicate removed")) ++
      (if (Files.exists(Paths.get(r.clustersPath))) Nil else Seq("near-dup artifact missing"))
  }

  def corrupt(r: CorpusPipeline.CorpusReport): CorpusPipeline.CorpusReport =
    r.copy(nDedupKept = r.nQualityKept)

  /** The funnel counts up to exact dedup, for the runner to compare with
    * the same gates in the program's DuckDB mirror ([[TextAnalysis.prepDocsSql]])
    * and a distinct count of the survivors' texts. The near-dup stage's
    * mirror is left out: its recursive closure takes about 20 s in DuckDB. */
  override def runChecks(): Seq[String] = last match {
    case None => Nil
    case Some(r) =>
      Workload.writeOracle(work.resolve("oracle/corpus_funnel.json"), dir.toString,
        "SELECT COUNT(*) AS n_docs, SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END)::BIGINT AS n_lang_kept, " +
          "SUM(CASE WHEN qual_ok THEN 1 ELSE 0 END)::BIGINT AS n_quality_kept, " +
          "COUNT(DISTINCT CASE WHEN qual_ok THEN md5(text) END) AS n_dedup_kept " +
          s"FROM (${TextAnalysis.prepDocsSql}) g",
        Seq("n_docs", "n_lang_kept", "n_quality_kept", "n_dedup_kept"),
        Seq(Seq(r.nDocs, r.nLangKept, r.nQualityKept, r.nDedupKept)))
      Nil
  }

  override def afterOp(): Unit = Measure.deleteRecursively(opDir)

  /** The stage calls `CorpusPipeline.run` composes, with one cache scope
    * released at the end as the pipeline does. */
  override def replay(): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val scope = new CacheScope
    val d = dir.toString
    val clusters = work.resolve("replay-clusters").toString
    try {
      t("TextAnalysis", "TextAnalysis.corpusPrepNeardup")(
        Measure.exec(TextAnalysis.corpusPrepNeardup(spark, d, Some(scope))))
      t("Dedup", "Dedup.neardupComponents+writeClusters")(Dedup.writeClusters(
        Dedup.neardupComponents(table(spark, d, "documents").select("doc_id", "text"),
          scope = Some(scope)), clusters))
      val artifact = t("Dedup", "Dedup.readClusters")(Dedup.readClusters(spark, clusters))
      t("DataSplit", "DataSplit.splitLeakageNeardup")(
        Measure.exec(DataSplit.splitLeakageNeardup(spark, d, precomputed = Some(artifact))))
      t("Dedup", "Dedup.containmentPairs")(
        Measure.exec(Dedup.containmentPairs(spark, d, scope = Some(scope))))
      t("LmScore", "LmScore.lmPplBuckets")(
        Measure.exec(LmScore.lmPplBuckets(spark, d, scope = Some(scope))))
    } finally {
      scope.release()
      spark.sparkContext.getPersistentRDDs.filterNot { case (id, _) => before(id) }
        .values.foreach(_.unpersist(blocking = true))
      Measure.deleteRecursively(Paths.get(clusters))
    }
  }

  /** The `Report` surfaces: one `report_family` op over its own
    * generated tables, with that workload's output check. Its exact-form
    * oracle check is left out (about 25 s); `report_family` runs make it.
    * Of the listed workloads' traced runs, this one has the most room
    * under the run time limit. */
  override def sideCalls(): Seq[String] = {
    val report = new ReportFamily(spark, seed, t)
    val d = work.resolve("report-input")
    report.setup(d)
    report.bind(d, work)
    report.beforeOp()
    report.check(report.op(0))
  }
}

/** The memoized report surfaces over a gate-layout table dir, each op
  * from an empty memo and a cold cache. */
final class ReportFamily(spark: SparkSession, seed: Long, t: Tracer)
    extends Workload(spark, seed, t) {
  type Out = Map[String, Array[Row]]
  val LineitemRows = 12000L
  val OrdersRows = 3000L
  val EventsRows = 2000L
  private var dir: String = _
  private var oracleDir: Path = _

  def setup(d: Path): Unit =
    Gen.reportTables(spark, d.toString, LineitemRows, OrdersRows, EventsRows, seed)

  def bind(d: Path, work: Path): Unit = { dir = d.toString; oracleDir = work.resolve("oracle") }

  override def warmupOps: Int = 1
  override def beforeOp(): Unit = { Report.invalidateAll(); spark.catalog.clearCache() }

  def op(i: Int): Map[String, Array[Row]] = {
    def call(name: String)(df: => DataFrame) = name -> t("Report", s"Report.$name")(df.collect())
    Map(
      call("driftResultsCached")(Report.driftResultsCached(spark, dir, approx = true)),
      call("driftSummary")(Report.driftSummary(spark, dir, approx = true)),
      call("dimensionalSummary")(Report.dimensionalSummary(spark, dir, approx = true)),
      call("topDimensions")(Report.topDimensions(spark, dir, approx = true)),
      call("topDriftedColumns")(Report.topDriftedColumns(spark, dir, approx = true)))
  }

  private val Severities = Seq("n_none", "n_low", "n_medium", "n_high", "n_critical")

  def check(out: Map[String, Array[Row]]): Seq[String] = {
    val results = out("driftResultsCached")
    val summary = out("driftSummary")
    def histogramOk(r: Row) =
      Severities.map(r.getAs[Long]).sum == r.getAs[Long]("total_columns_analyzed")
    (if (summary.length == 1 && histogramOk(summary.head)) Nil
     else Seq(s"severity counts do not sum to total_columns_analyzed: ${summary.mkString}")) ++
      (if (summary.headOption.exists(_.getAs[Long]("total_columns_analyzed") == results.length)) Nil
       else Seq(s"summary total differs from ${results.length} result rows")) ++
      out("dimensionalSummary").filterNot(histogramOk).map(r => s"dimension histogram off: $r") ++
      results.map(_.getAs[Double]("drift_score")).filterNot(s => s >= 0.0 && s <= 1.0)
        .map(s => s"drift score $s outside [0, 1]") ++
      (if (out("topDriftedColumns").length == math.min(5, results.length)) Nil
       else Seq("top drifted columns is not the top 5"))
  }

  def corrupt(out: Map[String, Array[Row]]): Map[String, Array[Row]] = {
    val r = out("driftSummary").head
    val bumped = Row.fromSeq(r.schema.fieldNames.toSeq.map(f =>
      if (f == "n_none") r.getAs[Long](f) + 1 else r.getAs[Any](f)))
    out.updated("driftSummary", Array(new org.apache.spark.sql.catalyst.expressions
      .GenericRowWithSchema(bumped.toSeq.toArray, r.schema): Row))
  }

  /** The exact (oracle) forms, written for the DuckDB comparison that the
    * runner makes against `Report.oracles` over the same dir. */
  override def runChecks(): Seq[String] = {
    Report.invalidateAll()
    Report.queries.foreach { case (name, q) =>
      val df = q(spark, dir)
      Workload.writeOracle(oracleDir.resolve(s"$name.json"), dir, Report.oracles(name),
        df.columns.toSeq, df.collect().toSeq.map(_.toSeq))
    }
    Report.invalidateAll()
    Nil
  }
}
