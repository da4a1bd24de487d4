package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.drift.table

/** Event-stream operators over the `events` table: tumbling-window
  * aggregation and gap-based sessionization.
  *
  * Batch forms are below (oracle-checked); the same logic runs incrementally
  * in [[graft.streaming.StreamingDrift]] via Structured Streaming
  * (`window()` + watermark / `mapGroupsWithState`). Sessionization
  * partitions by user — the window functions shuffle once on user_id and
  * never see a global ordering, so the plan scales with users, not events.
  */
object Sessions extends graft.OperatorModule {

  /** Daily tumbling window per event type: count, sum/avg of value.
    *
    * The SUM/AVG accumulate in DECIMAL(18,6) — `value` is a 2-decimal
    * measure, so the cast is lossless and the sum is EXACT regardless of
    * partial-aggregation order. A plain double SUM is order-dependent in the
    * last ulp, and the engines (and even two runs of one engine) order
    * partials differently — at a 6-decimal rounding boundary that flips the
    * hash (the q1 lesson; sessionize had the same bug run-to-run). */
  def eventWindow(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // no per-engine ROUND: the decimal sum is exact, its double image is
        // bit-identical in both engines, and ROUND tie-breaking is the one
        // thing the engines genuinely disagree on (see sessionize)
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        (sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1)))
          .as("avg_value"))
      .orderBy("day", "event_type")

  val eventWindowSql: String =
    "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type, " +
      "COUNT(*) AS n_events, CAST(SUM(value::DECIMAL(18,6)) AS DOUBLE) AS sum_value, " +
      "CAST(SUM(value::DECIMAL(18,6)) AS DOUBLE) / COUNT(*) AS avg_value " +
      "FROM events GROUP BY 1, 2 ORDER BY day, event_type"

  /** Gap-based sessionization (30-min inactivity closes a session), then a
    * per-user rollup: session count, events/session, mean session duration.
    * lag + running sum over (user_id ORDER BY ts) — one shuffle on user. */
  val SessionGapMinutes = 30

  /** Events tagged with their gap-session id — the shared core of
    * [[sessionize]] and [[sessionSpans]]: lag + running sum over
    * (user_id ORDER BY ts), one shuffle on user. */
  private[pipeline] def sessionTagged(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = SessionGapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    table(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("new_session",
        when(col("ts_us") - lag("ts_us", 1).over(byUser) > gapUs, 1L)
          .when(lag("ts_us", 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** One row per session with its [start, end] span in integer µs — the
    * interval frame consumed by [[RangeJoin.sessionConcurrency]]. Same
    * single user-keyed shuffle as [[sessionize]]. */
  def sessionSpans(spark: SparkSession, dir: String): DataFrame =
    sessionTagged(spark, dir)
      .groupBy("user_id", "session_id")
      .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"))

  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionTagged(spark, dir)
      .groupBy("user_id", "session_id")
      // durations stay in integer microseconds: the per-user mean is then
      // SUM(BIGINT)/n — exact in any summation order — with ONE double
      // division at the end. Averaging per-session doubles is
      // order-dependent in the last ulp and flipped the 6-decimal hash
      // between runs at sf0.1.
      .agg(count(lit(1)).as("n_events"),
        (max("ts_us") - min("ts_us")).as("dur_us"))
    // No explicit ROUND on the averages: both numerators are EXACT integers,
    // so the two engines compute the bit-identical IEEE quotient — and the
    // gate's own uniform 6-decimal rounding then agrees by construction.
    // Rounding per-engine is what broke: on an exact x.xxxxxx5 tie (e.g.
    // 64.2340175 = 3340168910 µs / 52 / 1e6) Spark's BigDecimal HALF_UP and
    // DuckDB's scaled-double round resolve the tie differently.
    sessions.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        (sum("n_events") / count(lit(1))).as("avg_events_per_session"),
        (sum("dur_us") / (count(lit(1)) * lit(1000000.0)))
          .as("avg_session_duration_sec"),
        sum("n_events").as("total_events"))
      .orderBy("user_id")
  }

  /** The session-tagging CTE chain (events → per-event session id), shared
    * verbatim by [[sessionizeSql]] and [[RangeJoin.sessionConcurrencySql]]
    * so both oracles replay the identical session structure. */
  val sessionCtes: String =
    s"""e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
       |marked AS (SELECT user_id, event_id, ts_us,
       |  CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > ${SessionGapMinutes * 60L * 1000000L}
       |       THEN 1 WHEN LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL THEN 1 ELSE 0 END AS new_session
       |  FROM e),
       |sess AS (SELECT user_id, event_id, ts_us,
       |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM marked)""".stripMargin.replace("\n", " ")

  def sessionizeSql: String =
    s"""WITH $sessionCtes,
       |per_session AS (SELECT user_id, session_id, COUNT(*) AS n_events,
       |  (MAX(ts_us) - MIN(ts_us)) AS dur_us FROM sess GROUP BY 1, 2)
       |SELECT user_id, COUNT(*) AS n_sessions, SUM(n_events) / COUNT(*) AS avg_events_per_session,
       |  SUM(dur_us) / (COUNT(*) * 1000000.0) AS avg_session_duration_sec, SUM(n_events)::BIGINT AS total_events
       |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "event_window" -> ((s, d) => eventWindow(s, d)),
    "sessionize" -> ((s, d) => sessionize(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "event_window" -> eventWindowSql,
    "sessionize" -> sessionizeSql,
  )
}
