package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.Measure
import graft.drift.Report

/** One benchmark run: start a session, set a workload up, run its op in a
  * closed loop with one client for the requested seconds, check every
  * output, and print one JSON line of measurements.
  *
  * A workload whose op is repeated in a long-lived session first makes
  * warm-up ops ([[Workload.warmupOps]]), which fill the JIT and Spark's
  * code cache: they are checked and counted, but left out of the timings.
  * Timed ops follow until `--seconds` have passed and at least one timed
  * op passed (or three timed ops failed).
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <n> --work <dir> [--out <dir>] [--plant-wrong <op>]
  *
  * `--work` is scratch space the caller deletes afterwards; `--out`
  * receives the span dump of a traced run; `--plant-wrong k` corrupts the
  * k-th timed op's output before its check (the failure-accounting
  * self-test). */
object Main {
  val SetupRepeats = 3

  val Modules = Seq("Orchestrator", "TypeInference", "NumericDrift", "CategoricalDrift",
    "CorrelationDrift", "GroupDrift", "Results", "Report", "TextAnalysis", "Dedup",
    "DataSplit", "LmScore", "CorpusPipeline")
  val Writers = Set("Orchestrator", "Results", "Dedup")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val cores = need("cores").toInt
    val work = Paths.get(need("work")).toAbsolutePath
    val out = opt.get("out").map(Paths.get(_).toAbsolutePath)
    val plant = opt.get("plant-wrong").map(_.toInt).getOrElse(0)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val line = run(spark, workload, seed, seconds, trace, work, out, plant, sessionS)
      println(line)
    } finally spark.stop()
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
  private def mb(bytes: Double) = bytes / (1024.0 * 1024.0)

  /** Heap in use after a full collection, in bytes. */
  private def heapAfterGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Option[Path], plant: Int, sessionS: Double): String = {
    val sc = spark.sparkContext
    val cpu = new Measure.TaskMetricsListener
    val ledger = new SpanListener
    sc.addSparkListener(cpu)
    sc.addSparkListener(ledger)
    val tracer = new Tracer(sc, trace)
    val w = Workload(name, spark, seed, tracer)

    // set-up: generate the inputs several times, keep the first copy
    val inputs = (1 to SetupRepeats).map(j => work.resolve(s"input-$j"))
    val setupTimes = inputs.map { d =>
      val s = System.nanoTime(); w.setup(d); secs(s)
    }
    inputs.tail.foreach(Measure.deleteRecursively)
    w.bind(inputs.head, work)

    val rddsBefore = sc.getPersistentRDDs.keySet
    val heapBefore = heapAfterGc()

    case class OpResult(i: Int, warmup: Boolean, wallS: Double, cpuS: Double,
        writtenBytes: Long, sinkBytes: Long, snapshotRows: Long, failure: Seq[String])
    val ops = ArrayBuffer[OpResult]()
    def runOp(i: Int): Unit = {
      val warmup = i <= w.warmupOps
      w.beforeOp()
      tracer.op = i
      val (cpu0, _, _) = Measure.drained(cpu)
      val written0 = ledger.total.outputBytes.get
      val sink0 = w.sinkBytes
      val s = System.nanoTime()
      val result = try Right(tracer("Session", "op")(w.op(i))) catch {
        case scala.util.control.NonFatal(e) => Left(e)
      }
      val wall = secs(s)
      val (cpu1, _, _) = Measure.drained(cpu)
      val failure = result match {
        case Left(e) =>
          Seq(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        case Right(o) =>
          val planted = plant > 0 && i - w.warmupOps == plant
          try w.check(if (planted) w.corrupt(o) else o) catch {
            case scala.util.control.NonFatal(e) => Seq(s"check threw $e")
          }
      }
      val rows = if (trace && failure.isEmpty) w.snapshotRows else 0L
      ops += OpResult(i, warmup, wall, (cpu1 - cpu0) / 1e9, ledger.total.outputBytes.get - written0,
        w.sinkBytes - sink0, rows, failure)
      failure.foreach(f => System.err.println(s"[perfbench] op $i failed: $f"))
      w.afterOp()
    }
    (1 to w.warmupOps).foreach(runOp)
    // past --seconds, keep going until a timed op passes, but stop after
    // three timed ops all failed so a broken program still ends the run
    val loop = System.nanoTime()
    def timed = ops.toSeq.filterNot(_.warmup)
    while (secs(loop) < seconds || (!timed.exists(_.failure.isEmpty) && timed.size < 3))
      runOp(ops.size + 1)

    // leak and retention census BEFORE any clean-up
    val leaked = (sc.getPersistentRDDs.keySet -- rddsBefore).size
    val retainedMb = mb((heapAfterGc() - heapBefore).toDouble)

    // the replay, the side calls and the dirty-input probes cost several
    // ops' time, so only the traced run, which reports their figures,
    // makes them
    if (trace) { tracer.op = Tracer.ReplayOp; w.replay() }
    val sideFailures = if (trace) { tracer.op = Tracer.SideOp; w.sideCalls() } else Nil
    val runFailures = w.runChecks() ++ sideFailures
    runFailures.foreach(f => System.err.println(s"[perfbench] run check failed: $f"))
    val (probesRun, probeFailures) = if (trace) w.probes() else (0, Nil)
    probeFailures.foreach(f => System.err.println(s"[perfbench] dirty probe failed: $f"))

    Report.invalidateAll()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Measure.drained(cpu)

    val passed = ops.toSeq.filter(o => !o.warmup && o.failure.isEmpty)
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Measure.medianOf(xs)
    val failedShare = ops.count(_.failure.nonEmpty).toDouble / ops.size
    val e2e = Seq(
      "setup_s" -> (sessionS + med(setupTimes)),
      "op_p50_s" -> med(passed.map(_.wallS)),
      "cpu_per_op_s" -> med(passed.map(_.cpuS)),
      "retained_mb" -> retainedMb,
      "leaked_rdds" -> leaked.toDouble,
      "written_mb_per_op" -> mb(med(passed.map(_.writtenBytes.toDouble))),
      "failed_share" -> failedShare)

    val layers = if (!trace) Seq.empty[(String, Double)] else {
      val spans = tracer.spans.toSeq
      val passedIds = passed.map(_.i).toSet
      // per module: per-op sums over its spans, median over passed timed
      // ops; a module the ops never call directly takes its figures from
      // the replay or the side calls
      def perOp(module: String, f: Seq[Span] => Double): Double = {
        val mine = spans.filter(_.module == module)
        val fromOps = mine.filter(s => passedIds(s.op))
        if (fromOps.nonEmpty) med(passed.map(o => f(fromOps.filter(_.op == o.i))))
        else { val r = mine.filter(_.op < 0); if (r.isEmpty) 0.0 else f(r) }
      }
      def sum(f: (Span, Counters) => Double)(ss: Seq[Span]) =
        ss.map(s => f(s, ledger.of(s.id))).sum
      val perModule = Modules.flatMap { m =>
        Seq(
          "wall_s" -> sum((s, _) => s.wallNs / 1e9) _,
          "driver_s" -> sum((s, c) => Tracer.driverMs(s, c) / 1e3) _,
          "cpu_s" -> sum((_, c) => c.cpuNs.get / 1e9) _,
          "jobs" -> sum((_, c) => c.jobs.get.toDouble) _,
          "tasks" -> sum((_, c) => c.tasks.get.toDouble) _,
          "shuffle_mb" -> sum((_, c) => mb(c.shuffleBytes.get.toDouble)) _,
          "input_records" -> sum((_, c) => c.inputRecords.get.toDouble) _,
          "gc_s" -> sum((_, c) => c.gcMs.get / 1e3) _,
        ).map { case (k, f) => s"$m.$k" -> perOp(m, f) } ++
          (if (Writers(m)) {
            // the results sink is measured on disk: on monitor_loop its
            // append runs inside detectDrift, out of reach of a Results span
            val written = if (m == "Results" && w.sinkBytes > 0) mb(med(passed.map(_.sinkBytes.toDouble)))
              else perOp(m, sum((_, c) => mb(c.outputBytes.get.toDouble)))
            Seq(s"$m.written_mb" -> written)
          } else Nil)
      }
      val readsPerRow = {
        val reads = passed.map { o =>
          val r = spans.filter(s => s.op == o.i && s.module == "Orchestrator" &&
            !s.call.endsWith(".commit")).map(s => ledger.of(s.id).inputRecords.get).sum
          if (o.snapshotRows > 0) r.toDouble / o.snapshotRows else 0.0
        }
        med(reads)
      }
      // share of the composite's wall that the replayed calls account for
      // (the replay's own snapshot loads are not part of the composite)
      def replayShare(call: String): Double = {
        val composite = med(passed.map(o => spans.filter(s => s.op == o.i && s.call == call)
          .map(_.wallNs / 1e9).sum))
        val replayed = spans.filter(s => s.op == Tracer.ReplayOp && !s.call.endsWith(".load"))
          .map(_.wallNs / 1e9).sum
        if (replayed == 0 || !(composite > 0)) 0.0 else replayed / composite
      }
      val opMed = med(passed.map(_.wallS))
      perModule ++ Seq(
        "Orchestrator.reads_per_input_row" -> (if (readsPerRow.isNaN) 0.0 else readsPerRow),
        "Orchestrator.replay_share" -> replayShare("DriftDetector.detectDrift"),
        "CorpusPipeline.replay_share" -> replayShare("CorpusPipeline.run"),
        "Session.op_p50_s" -> opMed,
        "Session.retained_mb" -> retainedMb,
        "Session.leaked_rdds" -> leaked.toDouble,
        "Session.written_mb_per_op" -> mb(med(passed.map(_.writtenBytes.toDouble))),
        "Session.failed_share" -> failedShare,
        "Session.dirty_failed" -> probeFailures.size.toDouble)
    }

    out.foreach { dir => if (trace) writeSpans(dir, tracer.spans.toSeq, ledger) }
    val correct = ops.forall(_.failure.isEmpty) && runFailures.isEmpty
    Json.obj(Seq(
      "workload" -> Json.str(name),
      "seed" -> seed.toString,
      "correct" -> correct.toString,
      "attempted" -> ops.size.toString,
      "failed" -> ops.count(_.failure.nonEmpty).toString,
      "warmup_ops" -> w.warmupOps.toString,
      "op_walls_s" -> Json.arr(ops.map(o => Json.num(o.wallS)).toSeq),
      "failures" -> Json.arr((ops.flatMap(o => o.failure.map(f => s"op ${o.i}: $f")) ++
        runFailures).map(Json.str).toSeq),
      "dirty_probes" -> Json.obj(Seq("attempted" -> probesRun.toString,
        "failures" -> Json.arr(probeFailures.map(Json.str)))),
      "setup_runs_s" -> Json.arr(setupTimes.map(Json.num)),
      "session_start_s" -> Json.num(sessionS),
      "host" -> Json.obj(Seq("cores" -> sc.defaultParallelism.toString,
        "heap_max_mb" -> Json.num(mb(Runtime.getRuntime.maxMemory.toDouble)),
        "spark" -> Json.str(spark.version),
        "java" -> Json.str(System.getProperty("java.version")))),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })))
  }

  private def writeSpans(dir: Path, spans: Seq[Span], ledger: SpanListener): Unit = {
    Files.createDirectories(dir)
    val lines = spans.sortBy(_.id).map { s =>
      val c = ledger.of(s.id)
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "module" -> Json.str(s.module), "call" -> Json.str(s.call),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_s" -> Json.num(s.wallNs / 1e9), "driver_s" -> Json.num(Tracer.driverMs(s, c) / 1e3),
        "jobs" -> c.jobs.get.toString, "tasks" -> c.tasks.get.toString,
        "cpu_s" -> Json.num(c.cpuNs.get / 1e9), "shuffle_bytes" -> c.shuffleBytes.get.toString,
        "input_records" -> c.inputRecords.get.toString,
        "output_bytes" -> c.outputBytes.get.toString, "gc_ms" -> c.gcMs.get.toString))
    }
    Files.writeString(dir.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
  }
}
