package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Determinism contract (so per-query numbers are
  * comparable across rounds): queries run in sorted-name order, every input
  * table is touched once up front (first-touch parquet I/O and scan codegen
  * don't land on whichever query happens to run first), and each query gets
  * one untimed warm-up execution — with the Dataset cache cleared between
  * runs so the timed run re-executes the full plan (warm JIT + page cache,
  * cold Spark cache).
  *
  * Load-noise rejection: each query is TIMED [[TimedRuns]] times and the
  * per-query MINIMUM is reported. A busy host can only inflate a wall-clock
  * sample, never deflate it, so min-of-n converges on the true cost of the
  * plan while mean/single-shot numbers are hostage to whatever else the
  * machine ran that second (round 4's driver artifact recorded 3-13×
  * phantom regressions on byte-identical code for exactly this reason).
  *
  * Artifact note: the five report-family queries (drift_results,
  * drift_summary, dimensional_summary, top_dimensions, top_drifted_columns)
  * share one memoized scoring DAG in production; clearCache() between timed
  * runs makes each re-pay that DAG, so their SUM overstates a real run's
  * report cost ~4-5× by harness construction. The prod-family section
  * measures the deployment shape instead — and (round 11) with the same
  * warm-up + min-of-N discipline as the per-query loop, because its r10
  * single-shot numbers were load-hostage (21.0 s recorded vs 13.9 s idle
  * on unchanged code).
  *
  * Execution action (round 15): [[exec]] iterates the final physical
  * plan's rows instead of `df.count()`. count() rewrites the query to a
  * grouping-less COUNT whose column pruning can legally DELETE the work
  * being measured: a projection-final query degrades to a row-count scan,
  * and a 1-row-report query whose flags come from unique-key left joins
  * loses those joins to join elimination (round 15 caught
  * incremental_dedup reading 0.1 s CPU for a full LSH pipeline after a
  * report-shape refactor — the harness, not the query, was wrong).
  * toRdd-iteration computes EVERY output column, costs nothing extra for
  * the agg-final majority, and raises only the rows count() was
  * under-measuring. */
object Bench {

  /** Timed executions per query; the minimum is reported. */
  val TimedRuns = 3

  /** Force full evaluation of every output column ([[Measure.exec]], never
    * `.count()`, which lets join elimination drop the work measured). */
  private def exec(df: org.apache.spark.sql.DataFrame): Unit = Measure.exec(df)

  /** Timed executions per PROD FAMILY (each family run re-pays its whole
    * shared DAG, so it costs several per-query runs; 2 timed runs + the
    * warm-up already reject load spikes the way min-of-3 does for the
    * cheap per-query loop). */
  val ProdTimedRuns = 2

  /** Load-invariant second signal (round-11 verdict item 3): per-query
    * executor CPU time + shuffle-write + spill bytes from task metrics,
    * accumulated by the SHARED [[Measure.TaskMetricsListener]] and
    * attributed per run by the shared no-task-in-flight drain
    * ([[Measure.drained]]) — one implementation for both mains. Wall is
    * hostage to host load; CPU is not, and shuffle bytes make the 100 TB
    * story checkable row-by-row (a family whose shuffle grows
    * super-linearly with SF is a scale-killer no wall ratio shows). */
  private type TaskMetricsListener = Measure.TaskMetricsListener
  private def drained(l: TaskMetricsListener): (Long, Long, Long) =
    Measure.drained(l)

  /** One measured execution: wall seconds plus the run's task-metric
    * deltas (cpu seconds, shuffle-write MB, spill MB). */
  private case class RunMetrics(wall: Double, cpu: Double,
      shuffleMb: Double, spillMb: Double)

  /** Min-wall run with MEDIAN-cpu substitution (round-13 verdict item 1):
    * reporting the min-wall run's cpu whole let run selection shape the
    * cpu signal — the r13 artifact recorded a 2.1× dedup_quality "cpu
    * regression" that was one noisy run happening to also be the
    * fastest-wall one. Wall keeps min-of-n (load can only inflate wall);
    * cpu takes the median across the same runs (robust to one outlier in
    * either direction); shuffle/spill are plan-deterministic, so the
    * min-wall run's values stand. */
  private def minWallMedianCpu(runs: Seq[RunMetrics]): RunMetrics =
    runs.minBy(_.wall).copy(cpu = Measure.medianOf(runs.map(_.cpu)))

  private def measured(listener: TaskMetricsListener)(body: => Unit): RunMetrics = {
    val (c0, sh0, sp0) = drained(listener)
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val (c1, sh1, sp1) = drained(listener)
    RunMetrics(wall, (c1 - c0) / 1e9, (sh1 - sh0) / 1e6, (sp1 - sp0) / 1e6)
  }

  /** JVM heap pools for the peak-memory headroom figure: local[N] runs
    * driver AND executors in this one JVM, so the summed pool peaks bound
    * the whole engine's footprint for a run. Sum-of-pool-peaks is a slight
    * upper bound (pools peak at different instants) — fine for a headroom
    * metric. */
  private val heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.isValid)
  }
  private def resetPeaks(): Unit =
    heapPools.foreach(p => try p.resetPeakUsage() catch { case _: Throwable => () })
  private def peakMb(): Double =
    math.round(heapPools.map(_.getPeakUsage.getUsed).sum / 1e5) / 10.0
  /** Max SINGLE-pool peak (round-14 verdict item 7): the summed-pool
    * figure overcounts the instantaneous footprint (pools peak at
    * different moments — the 65.6 GB ensemble_family row reads as an OOM
    * risk it isn't); the largest single pool is a tighter lower layer.
    * True instantaneous footprint lies between the two. */
  private def peakPoolMb(): Double =
    math.round(heapPools.map(_.getPeakUsage.getUsed).max / 1e5) / 10.0

  /** Fixed-work CPU calibration (round-12 verdict item 4): the r12 driver
    * artifact proved executor CPU itself inflates ~17% under load ~11 on
    * 32 cpus (SMT/cache pressure), so "cpu holds under load" is only true
    * to ±20%. This times ONE deterministic single-thread xorshift loop
    * (min of 5 after a JIT warm-up — min rejects transient spikes but
    * keeps sustained contention, which is exactly the regime signal);
    * a judge divides a loaded run's calib_ms by the committed idle value
    * to normalize cpu_total_sec before calling anything a regression. */
  private def calibMs(): Double = {
    var sink = 0L
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink ^= x // keep the loop observable
      (System.nanoTime() - t0) / 1e6
    }
    once() // JIT warm-up, untimed
    val v = (1 to 5).map(_ => once()).min
    if (sink == 42L) System.err.println("[bench] calib sink")
    math.round(v * 10) / 10.0
  }

  /** PARALLEL fixed-work anchor (round-14 verdict item 1 / what's-wrong
    * #1): the r14 driver artifact proved a 1-thread calib loop is
    * structurally blind to the regime that matters — at load 6.46 both
    * single-thread anchors read ≈ the 106 ms idle value while PARALLEL
    * executor CPU inflated +86% (ambient threads share SMT siblings and
    * cache with OUR 32 executor threads, not with one pinned loop that
    * mostly gets a core to itself). This runs `threads` copies of the
    * same xorshift loop concurrently — the executor-pool contention shape
    * — and reports the wall for ALL to finish, min of 3 after a warm-up
    * round. Idle on this host it reads ≈ the 1-thread anchor (the 32
    * cpus issue the pure-ALU loop with no visible SMT penalty; committed
    * reference [[IdleCalibPar32Ms]]) — and it is SENSITIVE where the
    * 1-thread loop is blind: at ambient load ~1 round-15 probes already
    * read it at 2–5× idle while calib1 sat at 107 ms, the regime
    * signature that inflated the r14 artifact's parallel executor CPU
    * +86% past two clean 1-thread anchors. */
  private def calibParMs(threads: Int, runs: Int = 3, warmup: Boolean = true,
      settleMs: Long = 300): Double = {
    // quiesce the JVM first: the END anchor runs inside a process that
    // just churned an 8 GB heap for ~15 minutes, and concurrent GC
    // threads steal exactly the cores the anchor measures — the first
    // r15 idle run read end 185 ms vs start 133 ms (a 1.39x "drift")
    // from GC alone and self-flagged contamination. One explicit full
    // GC + settle beat before timing removes that artifact while
    // leaving AMBIENT contention — the thing the anchor exists to see —
    // untouched.
    System.gc()
    Thread.sleep(settleMs)
    val sink = new java.util.concurrent.atomic.AtomicLong
    def once(): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { _ =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L
          var i = 0
          while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
          sink.addAndGet(x): Unit
        })
      }
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    if (warmup) once() // warm-up round, untimed
    val v = (1 to runs).map(_ => once()).min
    if (sink.get == 42L) System.err.println("[bench] calib sink")
    math.round(v * 10) / 10.0
  }

  /** Per-SEGMENT anchor cadence (round-16 verdict item 2): the start/end
    * anchor pair bounds the whole run's regime window, so ONE noisy
    * interval poisons the entire artifact's cpu layer (it has now eaten
    * two rounds of 32-core totals). A single-shot parallel anchor after
    * every [[SegmentQueries]] queries stamps WHICH slice of the run the
    * drift covers — the cpu layer of the other segments stays readable.
    * Single-shot (min-of-1, short settle) because a segment anchor is a
    * locator, not a gate: a transient spike IS the signal here, and the
    * global gate still keys on the quiesced min-of-3 start/end pair. Runs
    * outside every timed region; costs ~1 s per segment of process wall,
    * nothing of any recorded number. */
  val SegmentQueries = 32

  /** Committed idle reference for [[calibParMs]] at 32 threads on this
    * 32-cpu container, measured IN-BENCH with the GC-quiesced anchors
    * (r15 final idle runs: start anchors 116.7 / 120.3 ms at loads
    * 0.23 / 0.28, matching the ~116 ms bare-JVM probe; before the
    * quiesce the in-process anchor read ~130 and the END anchor up to
    * 185 from concurrent GC alone). Host-specific by construction — the
    * bench only runs in this container; re-measure if the image changes.
    * Used by the contamination gate below, NOT for normalizing
    * numbers. */
  val IdleCalibPar32Ms = 118.0

  /** Bound on the pre-measurement idle wait (round-15 verdict item 3):
    * the contamination gate made a loaded-host artifact DETECTABLE, but
    * the driver's committed record should be LIKELY-clean — so before any
    * measurement (calibration anchors included) the bench polls the 1-min
    * load every 15 s until it drops below the gate's own 2.0 threshold,
    * giving up after this bound and proceeding (the gate still stamps the
    * run honestly). The time actually waited is recorded in the artifact
    * (`idle_wait_sec`) so a reader sees whether the wait was exercised. */
  val IdleWaitMaxMs = 600000L

  def main(args: Array[String]): Unit = {
    val idleWaitSec = {
      val t0 = System.nanoTime()
      def load(): Double = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      while (load() >= 2.0 && (System.nanoTime() - t0) < IdleWaitMaxMs * 1e6)
        Thread.sleep(15000)
      math.round((System.nanoTime() - t0) / 1e8) / 10.0
    }
    // ambient 1-min load, sampled BEFORE any work starts (but AFTER the
    // bounded idle wait — the gate judges the state the run actually
    // began in): sampled at the end it mostly measures this bench's own
    // 32 threads (observed: a faster run reading a HIGHER end-load than a
    // slower one), which is useless for explaining cross-run variance.
    // -1.0 if unavailable.
    val load1mStart = {
      val l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      math.round(l * 100.0) / 100.0
    }
    val calib = calibMs() // before any Spark work: measures the host, not us
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the parallel anchor runs at the EXECUTOR-POOL width — that is the
    // contention regime the artifact's cpu layer lives in
    val calibThreads = try cpus.toInt catch { case _: Throwable => 4 }
    val calibPar = calibParMs(calibThreads)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-touch every input: globbed from disk, not hardcoded, so a query
    // over a future table can't silently break the determinism contract
    Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
      .foreach { p =>
        try spark.read.parquet(p).count()
        catch { case _: Throwable => () }
      }
    // local-iteration subset (e.g. the 10x scale probes); the driver sets
    // no SPARK_GRAFT_ONLY, so the recorded artifact always covers the
    // full surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // a typo'd SPARK_GRAFT_ONLY would otherwise emit an empty artifact
    // indistinguishable from a (suspiciously fast) valid run
    val unknown = only.diff(SparkEntry.benchQueries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown SPARK_GRAFT_ONLY names: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val listener = new Measure.TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val peaks = scala.collection.mutable.LinkedHashMap[String, Double]()
    val peaksPool = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per-segment anchors, keyed by the LAST query of each segment (the
    // anchor bounds the regime of the queries since the previous key)
    val segAnchors = scala.collection.mutable.LinkedHashMap[String, Double]()
    val benchRoster = SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    val results = benchRoster.zipWithIndex.map { case ((name, fn), idx) =>
      // a run whose build or execution throws must NOT be recorded as a
      // near-zero timing (round-15 review: a broken query read as a large
      // speedup — the phantom class this harness exists to kill); failed
      // runs poison the query's row to the prod families' -1 sentinel
      var failed = false
      def once(): RunMetrics = measured(listener) {
        try { exec(fn(spark, sfDir)) } catch { case _: Throwable => failed = true }
      }
      resetPeaks() // per-query peak-heap headroom (covers warm-up + timed)
      once() // warm-up (JIT + OS page cache)
      failed = false // a flaky warm-up doesn't poison measured runs
      // min-wall wall + MEDIAN cpu across the runs (see minWallMedianCpu)
      val runs = (1 to TimedRuns).map { _ =>
        spark.catalog.clearCache() // each timed run must pay the full plan
        once()
      }
      val timed = if (failed) RunMetrics(-1.0, -1.0, -1.0, -1.0)
        else minWallMedianCpu(runs)
      spark.catalog.clearCache()
      peaks(name) = peakMb()
      peaksPool(name) = peakPoolMb()
      // segment boundary: one-shot anchor, outside every timed region (the
      // final partial segment is covered by the end anchor instead)
      if ((idx + 1) % SegmentQueries == 0 && idx + 1 < benchRoster.size)
        segAnchors(name) = calibParMs(calibThreads, runs = 1, warmup = false,
          settleMs = 150)
      name -> timed
    }
    // ---- production-shape section (skipped for SPARK_GRAFT_ONLY subsets):
    // the families whose bench numbers re-pay a shared DAG per query,
    // measured the way a deployment runs them — one memoized/persisted
    // artifact feeding every consumer (round-6 verdict item 7).
    //
    // Round 11: each family now gets the SAME load-noise treatment as the
    // per-query loop — one untimed warm-up, then min-of-[[ProdTimedRuns]]
    // timed runs with the cache/memo/artifact state reset BEFORE each run
    // (so every timed run honestly re-pays the full family DAG) and
    // per-run artifacts cleaned up after. The r10 artifact recorded
    // report_family at 21.0 s where an idle host measures 13.9 s on
    // byte-identical code: a single-shot number is hostage to whatever
    // else the machine ran that minute, and min-of-N is the fix that
    // already killed that phantom class for the per-query loop (round 4).
    // each family is failure-isolated (-1 marker) the same way the
    // per-query loop swallows a bad query: one broken prod path must never
    // discard the per-query timings already measured
    // cleanup sits in a finally so a body that throws mid-run can't leak
    // its per-run artifact dir for the rest of the process
    def familyMin(reset: => Unit)(body: => Unit)(cleanup: => Unit): RunMetrics =
      try {
        reset; try body finally cleanup // warm-up (JIT + page cache), untimed
        minWallMedianCpu((1 to ProdTimedRuns).map { _ =>
          reset
          try measured(listener)(body) finally cleanup // the finally runs untimed
        })
      } catch { case _: Throwable => RunMetrics(-1.0, -1.0, -1.0, -1.0) }
    val prodPeaks = scala.collection.mutable.LinkedHashMap[String, Double]()
    val prodPeaksPool = scala.collection.mutable.LinkedHashMap[String, Double]()
    def prodFamily(name: String)(reset: => Unit)(body: => Unit)(
        cleanup: => Unit): (String, RunMetrics) = {
      resetPeaks()
      val t = familyMin(reset)(body)(cleanup)
      prodPeaks(name) = peakMb()
      prodPeaksPool(name) = peakPoolMb()
      name -> t
    }
    val prod: Seq[(String, RunMetrics)] = if (only.nonEmpty) Seq.empty else try {
      // one memoized scoring DAG feeds all five report surfaces
      val report = prodFamily("report_family") {
        spark.catalog.clearCache(); graft.drift.Report.invalidateAll()
      } {
        Seq("drift_results", "drift_summary", "dimensional_summary",
          "top_dimensions", "top_drifted_columns")
          .foreach(n => exec(SparkEntry.benchQueries(n)(spark, sfDir)))
      } {}
      // LSH clustering runs once, is persisted, and the leakage audit
      // consumes the artifact; a FRESH artifact dir per run so each timed
      // run pays the real write+read+audit, with per-run cleanup untimed
      var tmp: java.nio.file.Path = null
      def rmTmp(): Unit =
        if (tmp != null) Measure.deleteRecursively(tmp)
      val neardup = prodFamily("neardup_artifact") {
        spark.catalog.clearCache()
        tmp = java.nio.file.Files.createTempDirectory("graft-bench-prod")
      } {
        graft.pipeline.Dedup.writeClusters(
          graft.pipeline.Dedup.neardupClusters(spark, sfDir), s"$tmp/clusters")
        val art = graft.pipeline.Dedup.readClusters(spark, s"$tmp/clusters")
        exec(graft.pipeline.DataSplit.splitLeakageNeardup(spark, sfDir,
          precomputed = Some(art)))
      } { rmTmp() }
      // the corpus is LM-scored once; per-doc, per-source and ppl-bucket
      // surfaces all aggregate the shared cached frame (tercile fit on the
      // sketch, as the bench's lm_ppl_buckets row)
      val lm = prodFamily("lm_family") { spark.catalog.clearCache() } {
        graft.plans.SketchModeRewrite.during(spark)(
          graft.pipeline.LmScore.lmFamilyShared(spark, sfDir)).foreach(exec)
      } {}
      // the per-doc quality-ensemble frame scores once; the per-source
      // rollup and the snapshot-drift monitor aggregate the cached frame
      val ensemble = prodFamily("ensemble_family") { spark.catalog.clearCache() } {
        graft.plans.SketchModeRewrite.during(spark)(
          graft.pipeline.TextAnalysis.ensembleFamilyShared(spark, sfDir)).foreach(exec)
      } {}
      // the IVF index is built once on ingest and every search joins the
      // artifact (build + one query-many-shaped search per run; fresh
      // artifact dir per run so each timed run pays the real write+read)
      var ivfTmp: java.nio.file.Path = null
      def rmIvf(): Unit =
        if (ivfTmp != null) Measure.deleteRecursively(ivfTmp)
      val annIndex = prodFamily("ann_index_artifact") {
        spark.catalog.clearCache()
        ivfTmp = java.nio.file.Files.createTempDirectory("graft-bench-ivf")
      } {
        graft.pipeline.Similarity.writeIvfIndex(spark, sfDir, s"$ivfTmp/ivf")
        exec(graft.pipeline.Similarity.ivfTopKFromIndex(spark, sfDir, s"$ivfTmp/ivf"))
      } { rmIvf() }
      spark.catalog.clearCache()
      Seq(report, neardup, lm, ensemble, annIndex)
    } catch {
      case _: Throwable => Seq("prod_failed" -> RunMetrics(-1.0, -1.0, -1.0, -1.0))
    }
    // SECOND calibration anchor, after all measured work (round-14
    // adjudication of the r13 "cpu doubling": a host-regime shift that
    // arrives MID-RUN inflates every task's executor CPU — SMT sharing
    // counts CPU while the core runs at half speed — while min-of-N wall
    // rejects it and a start-only calib/loadavg never sees it. The r13
    // artifact's cpu layer read +65% on identical code, identical wall,
    // identical start-calib; an idle re-run reproduced r12's values
    // exactly. calib_ms vs calib_ms_end bounds the regime WINDOW of the
    // run: if they disagree, or either is far from the committed idle
    // anchor, the cpu layer is regime-contaminated and only wall/shuffle
    // are trustworthy.)
    val calibEnd = calibMs()
    val calibParEnd = calibParMs(calibThreads)
    // Contamination gate (round-14 what's-wrong #1): the r14 driver
    // artifact shipped with cpu_total_sec +86% at load 6.46 while BOTH
    // 1-thread anchors read clean — the artifact's own note disqualified
    // it, but nothing in the JSON said so up front. The gate stamps
    // contaminated=true (with reasons) when the run started on a loaded
    // host, when the parallel anchors drifted across the run (mid-run
    // regime shift), or when either parallel anchor is far above the
    // committed idle reference (sustained contention the load sample can
    // miss). A contaminated artifact's wall/shuffle layers remain
    // trustworthy (min-of-N + plan-determinism); its cpu layer is not.
    // segment drift (round-16 verdict item 2): a segment anchor far above
    // the run's own cleanest parallel reading marks the slice of queries
    // since the previous anchor as regime-contaminated — the reason names
    // the slice, so the rest of the artifact's cpu layer stays readable
    // instead of one noisy interval poisoning the whole run.
    val segBase = (Seq(calibPar, calibParEnd) ++ segAnchors.values).min
    val segDrifted = segAnchors.filter(_._2 > segBase * 1.5)
    val contamReasons = Seq(
      (load1mStart > 2.0) -> s"load1m_start $load1mStart > 2.0",
      (calibPar.max(calibParEnd) > calibPar.min(calibParEnd) * 1.5) ->
        s"parallel anchors drifted ${calibPar} -> ${calibParEnd} ms",
      // the absolute-reference comparison is only meaningful at the
      // width the reference was measured at (round-15 review: a 4-thread
      // anchor mostly gets free cores and reads near the 32-thread idle
      // value even under load the 32-wide executor pool feels)
      (calibThreads == 32 &&
        calibPar.min(calibParEnd) > IdleCalibPar32Ms * 1.5) ->
        s"both parallel anchors > 1.5x idle reference $IdleCalibPar32Ms ms",
      segDrifted.nonEmpty ->
        segDrifted.map { case (q, v) => s"..$q $v ms" }
          .mkString("segment anchors drifted (cpu suspect only up to the named query): ", ", ", "")
    ).collect { case (true, r) => r }
    val contaminated = contamReasons.nonEmpty
    val contamJson = s""""contaminated":$contaminated,"contaminated_why":""" +
      contamReasons.mkString("\"", "; ", "\"")
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    def jsonPairs(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def walls(rs: Seq[(String, RunMetrics)]) = rs.map { case (k, m) => k -> m.wall }
    val qs = jsonPairs(walls(results))
    // failed queries carry the -1 sentinel (see the per-query loop); they
    // stay visible in the per-query map but must not SUBTRACT from the
    // totals a judge compares across rounds
    val ok = results.filter(_._2.wall >= 0.0)
    val total = if (ok.nonEmpty) ok.map(_._2.wall).sum else 0.0
    val cpuTotal = r3(if (ok.nonEmpty) ok.map(_._2.cpu).sum else 0.0)
    // explicit failure roster in the COMPACT artifact (round-15 ADVICE:
    // failed queries were excluded from the totals but only the detail
    // file carried the -1 sentinels — a cross-round judge comparing
    // compact totals could read a broken query as a speedup, the phantom
    // class this harness exists to kill)
    val failedJson = (results ++ prod).filter(_._2.wall < 0.0).map(_._1)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val top5 = jsonPairs(walls(results.sortBy(-_._2.wall).take(5)))
    // peak-heap headroom (round-10 verdict item 5): the worst single
    // query's summed-pool peak + per-family peaks; per-query map in the
    // detail artifact. In the 128 GiB sandbox this is the number that says
    // whether the plan shapes leave memory headroom, not just wall-clock
    // headroom, for the 10x scale step.
    val peakMax = if (peaks.nonEmpty) peaks.values.max else -1.0
    // The compact note must stay SHORT: the driver archives only a
    // 2000-char stdout tail (incl. an sbt-style prefix and a trailing
    // build line), and the r15 review measured the previous long-form
    // note pushing the whole line to ~2018 chars — head-truncating away
    // the leading metric fields. Full methodology lives in the DETAIL
    // note (below) and BENCH_DETAIL_HEAD.json; the compact line carries
    // only what a reader needs to not misread the numbers. A guard
    // before println enforces the budget.
    val note = "min-wall of " + TimedRuns + " runs/query; r15 ACTION CHANGE: " +
      "rows iterated via toRdd, not count() (count pruning deleted work on " +
      "projection-final rows) - totals step up vs r14 by harness honesty. " +
      "cpu_sec=median across runs; calib_par_ms=all-thread anchor (1-thread " +
      "one is blind to parallel-cpu inflation, r14); contaminated=true => " +
      "cpu layer untrustworthy, wall/shuffle stay usable. r16: bounded " +
      "idle-wait (up to 600s for load1m<2, idle_wait_sec) precedes all " +
      "measurement; failed=[] lists -1-sentinel rows. r17: calib_seg_ms " +
      "stamps a 1-shot parallel anchor per 32 queries; drifted segments " +
      "named in contaminated_why. Full notes: " +
      "target/bench_detail.json + BENCH_DETAIL_HEAD.json"
    // ambient load context (see load1mStart above): round 9 recorded a 38%
    // per-query "regression" on byte-identical code that was pure host
    // load (min-of-3 rejects spikes, not sustained load) — the artifact
    // now carries the context needed to read its own numbers, and
    // cpu_total_sec is the load-invariant cross-check.
    val segJson = jsonPairs(segAnchors.toSeq)
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""queries_run":${results.size},"failed":$failedJson,""" +
      s""""load1m_start":$load1mStart,"idle_wait_sec":$idleWaitSec,""" +
      s""""cpu_total_sec":$cpuTotal,"calib_ms":$calib,"calib_ms_end":$calibEnd,""" +
      s""""calib_par_ms":$calibPar,"calib_par_ms_end":$calibParEnd,""" +
      s""""calib_seg_ms":$segJson,""" +
      s""""calib_threads":$calibThreads,"calib_abs_gate":${calibThreads == 32},$contamJson,""" +
      s""""peak_heap_mb":$peakMax,"top5":$top5,"prod":${jsonPairs(walls(prod))},""" +
      s""""prod_peak_mb":${jsonPairs(prodPeaks.toSeq)},"note":"$note"}"""
    def metricMap(f: RunMetrics => Double)(rs: Seq[(String, RunMetrics)]) =
      jsonPairs(rs.map { case (k, m) => k -> r3(f(m)) })
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""load1m_start":$load1mStart,"idle_wait_sec":$idleWaitSec,""" +
      s""""failed":$failedJson,""" +
      s""""cpu_total_sec":$cpuTotal,"calib_ms":$calib,""" +
      s""""calib_ms_end":$calibEnd,"calib_par_ms":$calibPar,""" +
      s""""calib_par_ms_end":$calibParEnd,"calib_seg_ms":$segJson,""" +
      s""""calib_threads":$calibThreads,"calib_abs_gate":${calibThreads == 32},$contamJson,""" +
      s""""queries":$qs,"cpu_sec":${metricMap(_.cpu)(results)},""" +
      s""""shuffle_mb":${metricMap(_.shuffleMb)(results)},""" +
      s""""spill_mb":${metricMap(_.spillMb)(results)},""" +
      s""""prod":${jsonPairs(walls(prod))},"prod_cpu_sec":${metricMap(_.cpu)(prod)},""" +
      s""""prod_shuffle_mb":${metricMap(_.shuffleMb)(prod)},""" +
      s""""peaks_mb":${jsonPairs(peaks.toSeq)},"pool_peaks_mb":${jsonPairs(peaksPool.toSeq)},""" +
      s""""prod_peak_mb":${jsonPairs(prodPeaks.toSeq)},""" +
      s""""prod_pool_peak_mb":${jsonPairs(prodPeaksPool.toSeq)},"note":"$note"}"""
    // stdout carries EXACTLY ONE compact JSON line: the driver archives only
    // a 2000-char stdout tail, and every BENCH_r1..r6 artifact came back
    // parsed:null because the 5 KB per-query line overflowed that window.
    // The full map goes to stderr and to a detail file instead.
    System.err.println(detail)
    // only full runs persist the detail artifact — a SPARK_GRAFT_ONLY
    // subset run must not clobber the last full run's per-query map
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_detail.json"), detail + "\n")
      catch { case _: Throwable => () }
    // Hard budget on the stdout line (round-15 review finding: the r15
    // long-form note grew the line to ~2018 chars and the archived tail
    // would have clipped the LEADING metric fields). 1800 leaves ~200
    // chars of slack for the archiver's own prefix/suffix lines. If a
    // future field pushes past it, drop the note (it is fully present in
    // the detail artifact) rather than ship an unparseable artifact.
    val out = if (compact.length <= 1800) compact
      else compact.replace("\"note\":\"" + note + "\"",
        "\"note\":\"see target/bench_detail.json\"")
    if (out.length > 1800)
      System.err.println(s"[bench] compact line still ${out.length} chars after note drop")
    println(out)
    spark.stop()
  }
}
