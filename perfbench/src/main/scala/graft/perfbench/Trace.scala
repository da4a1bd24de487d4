package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task counters summed over some set of tasks. */
final class Counters {
  val jobs, tasks, cpuNs, shuffleBytes, inputRecords, outputBytes, gcMs = new AtomicLong
  // (launch, finish) epoch-ms of every task, for the driver-only share of a span
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
}

/** Attributes Spark work to the benchmark's own calls. Every job submitted
  * while a span is open carries the span id as a thread-local property;
  * the listener maps the job's stages to that span and sums each task's
  * metrics into it. A second, span-less total covers everything, so the
  * untraced run gets whole-op written bytes from the same listener. */
final class SpanListener extends SparkListener {
  val total = new Counters
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()

  def of(span: Long): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key))).foreach { s =>
      val span = s.toLong
      of(span).jobs.incrementAndGet()
      e.stageIds.foreach(st => stageSpan.putIfAbsent(st, span))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).map(_.longValue)
    val targets = Seq(total) ++ span.map(of)
    val m = e.taskMetrics
    targets.foreach { c =>
      c.tasks.incrementAndGet()
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }
    span.foreach(of(_).intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime)))
  }
}

/** One timed call into a module, or one op (module "Session").
  * Times are epoch milliseconds for overlap with task intervals, plus
  * nanosecond durations for the wall figures. */
final case class Span(id: Long, module: String, call: String, parent: Long, op: Int,
    startMs: Long, endMs: Long, wallNs: Long)

/** In-memory span recorder. Disabled, it runs the body and records
  * nothing, so the untraced run pays no per-call cost. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var current = 0L
  private var nextId = 1L
  var op = 0

  def apply[T](module: String, call: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      current = id
      sc.setLocalProperty(Tracer.Key, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, module, call, parent, op, startMs,
          System.currentTimeMillis(), System.nanoTime() - t0)
        current = parent
        sc.setLocalProperty(Tracer.Key, if (parent == 0) null else parent.toString)
      }
    }
}

object Tracer {
  val Key = "perfbench.span"
  /** Op ids of spans made outside the timed ops: the replay of a
    * composite's module calls, and side calls into modules the op does
    * not reach. */
  val ReplayOp = -1
  val SideOp = -2

  /** Span wall minus the part of it some task of the span was running. */
  def driverMs(s: Span, c: Counters): Long = {
    val iv = c.intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    math.max(0L, (s.endMs - s.startMs) - covered)
  }
}
