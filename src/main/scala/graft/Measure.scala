package graft

import org.apache.spark.sql.DataFrame

/** ONE implementation of the measurement plumbing every benchmark shares
  * ([[Bench]] and the product benchmark): the task-metrics listener, the
  * drain discipline and the execution action. A second hand-kept copy drifts:
  * a fix to one would leave the other measuring with the old semantics. */
private[graft] object Measure {

  /** Force full evaluation of every output column without a driver
    * collect: iterate the executed plan's row RDD. `df.count()` is NOT a
    * benchmark action — its grouping-less rewrite lets column pruning and
    * unique-key left-join elimination legally delete the work being
    * measured (PlanAuditSpec pins the Spark behavior). */
  def exec(df: DataFrame): Unit = {
    df.queryExecution.toRdd.foreach(_ => ()): Unit
  }

  /** Median of a sample, for any sample size — ONE implementation for the
    * min-wall/median-cpu reduction the benchmarks report. */
  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Recursive delete with a CLOSED walk stream and a LOUD failure —
    * round-15 ADVICE: the mains' fixture cleanups leaked the Files.walk
    * stream and swallowed Throwable, so a partial delete (an open
    * handle) left multi-hundred-MB decade fixtures in /tmp with no
    * diagnostic, the very accumulation the cleanup was added to stop. */
  def deleteRecursively(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    } catch {
      case t: Throwable =>
        System.err.println(s"[measure] cleanup of $root failed: $t")
    }

  /** Per-task executor CPU / shuffle-write / spill accumulation plus the
    * started/ended task balance the drain keys on. */
  final class TaskMetricsListener extends org.apache.spark.scheduler.SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val spillBytes = new java.util.concurrent.atomic.AtomicLong
    // submitted/completed task counts: the drain treats the bus as
    // settled only when no task is in flight, not merely when one poll
    // beat was quiet (a loaded host can stall a straggler's task-end
    // event past any fixed quiet window — r12 ADVICE item)
    val started = new java.util.concurrent.atomic.AtomicLong
    val ended = new java.util.concurrent.atomic.AtomicLong
    override def onTaskStart(
        t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
      started.incrementAndGet()
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      ended.incrementAndGet()
    }
    def snapshot: (Long, Long, Long) = (cpuNs.get, shuffleBytes.get, spillBytes.get)
    def inFlight: (Long, Long) = (started.get, ended.get)
  }

  /** The listener bus is asynchronous: poll until (a) the submitted task
    * count equals the completed count — no task's metrics are still in
    * flight — AND (b) every counter held still for two consecutive 10 ms
    * beats, bounded at 500 ms. Keying on the task balance (not just a
    * quiet beat) keeps per-query cpu/shuffle/spill deltas attributable
    * under load; the bound keeps a dropped bus event (starts and ends
    * are delivered best-effort under pressure) from hanging the drain.
    * Runs OUTSIDE any wall timer — it costs artifact accuracy nothing. */
  def drained(listener: TaskMetricsListener): (Long, Long, Long) = {
    var prev = (listener.snapshot, listener.inFlight)
    var stable = 0
    var tries = 0
    while (tries < 50) {
      Thread.sleep(10)
      val cur = (listener.snapshot, listener.inFlight)
      stable = if (cur == prev) stable + 1 else 0
      prev = cur
      val (s, e) = cur._2
      if (stable >= 2 && s == e) return cur._1
      tries += 1
    }
    prev._1
  }
}
