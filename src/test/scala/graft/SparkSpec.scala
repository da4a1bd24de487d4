package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run `body` and log the jobs it started: each job's description, and
    * which jobs had not ended when `body` returned. */
  protected def jobsOf[T](body: => T): (T, JobLog) = {
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val out = body
      // listener events arrive in order: once a job started after `body`
      // has ended in the log, every event of `body`'s jobs is in the log
      sc.setJobDescription(JobLog.Flush)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!log.flushed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(log.flushed, "the listener never saw the flush job end")
      (out, log)
    } finally sc.removeSparkListener(log)
  }
}

/** Job descriptions by job id, and the jobs that had not ended when the
  * flush job ended. */
final class JobLog extends SparkListener {
  private val descriptions = new ConcurrentHashMap[Int, String]()
  private val ended = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var endedAtFlush: Option[Set[Int]] = None

  override def onJobStart(e: SparkListenerJobStart): Unit =
    descriptions.put(e.jobId, Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.add(e.jobId)
    if (descriptions.get(e.jobId) == JobLog.Flush) endedAtFlush = Some(ended.asScala.toSet)
  }

  def flushed: Boolean = endedAtFlush.isDefined
  /** Description of every job but the flush job. */
  def jobs: Map[Int, String] = descriptions.asScala.toMap.filter(_._2 != JobLog.Flush)
  /** Jobs still running when the flush job ended. */
  def running: Set[Int] = jobs.keySet -- endedAtFlush.getOrElse(Set.empty)
}

object JobLog {
  val Flush = "job-log-flush"
}
