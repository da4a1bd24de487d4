package graft.drift

import java.util.concurrent.{CancellationException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext

import scala.concurrent.{ExecutionContext, Future}

/** A fixed thread pool made for one call, for fanning independent Spark
  * actions out from the driver. Its threads are created from the calling
  * thread, so they inherit the caller's Spark local properties (job group,
  * scheduler pool, tracing keys), and they add one job tag of their own, so
  * [[CallPool.using]] can cancel every job the pool started. */
private[graft] final class CallPool private (sc: SparkContext, width: Int) {
  private val tag = s"graft-call-${CallPool.ids.incrementAndGet()}"
  private val pool = Executors.newFixedThreadPool(width, (r: Runnable) => {
    val t = new Thread(() => { sc.addJobTag(tag); r.run() }, s"$tag-worker")
    t.setDaemon(true)
    t
  })
  private val ec = ExecutionContext.fromExecutorService(pool)
  @volatile private var cancelled = false

  /** Run `body` on a pool thread with its jobs described as `description`.
    * A task still queued when the pool is cancelled fails without running. */
  def submit[T](description: String)(body: => T): Future[T] = Future {
    if (cancelled) throw new CancellationException(s"$tag was cancelled")
    CallPool.described(sc, description)(body)
  }(ec)
}

private[graft] object CallPool {
  private val ids = new AtomicLong

  /** A cancelled job ends within seconds; this bound only trips on a wedged
    * executor, and then the call's own exception surfaces regardless. */
  private val DrainSeconds = 60L

  /** Run `f` with a fresh pool of `width` threads, shut down on exit. When
    * `f` throws, the pool's queued tasks are dropped, its running jobs are
    * cancelled, and its running tasks are awaited before the exception
    * propagates, so no job outlives the call (or the caches the call
    * releases next). */
  def using[T](sc: SparkContext, width: Int)(f: CallPool => T): T = {
    val p = new CallPool(sc, math.max(1, width))
    try f(p)
    catch {
      case e: Throwable =>
        try {
          p.cancelled = true
          sc.cancelJobsWithTag(p.tag)
          p.pool.shutdown()
          p.pool.awaitTermination(DrainSeconds, TimeUnit.SECONDS)
        } catch { case scala.util.control.NonFatal(_) => () }
        throw e
    } finally p.pool.shutdown()
  }

  /** Run `body` with this thread's jobs described as `description`, then
    * restore the description it had. */
  def described[T](sc: SparkContext, description: String)(body: => T): T = {
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try body finally sc.setJobDescription(prev)
  }
}
