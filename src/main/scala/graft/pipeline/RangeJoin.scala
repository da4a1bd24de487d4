package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.table

/** Range (interval) join — pairing points with the intervals that contain
  * them when there is NO equi-key to drive the join.
  *
  * The reference engine has no interval operator at all (its nearest
  * analogue is the snapshot date-window filter in
  * /root/reference/data_loader.py), but a training-data pipeline needs one
  * constantly: "which maintenance windows cover this event", "how many
  * sessions were concurrently active", "which crawl window produced this
  * document". Spark's own planner turns a pure range predicate
  * (`p.ts BETWEEN i.lo AND i.hi`) into BroadcastNestedLoopJoin — O(points ×
  * intervals) with a broadcast side that must fit in memory — which is the
  * canonical 100 TB scale-killer.
  *
  * [[rangeJoinBinned]] is the standard fix (the same binning trick Spark's
  * own AQE cannot apply for you): quantize the axis into fixed-width bins,
  * replicate every interval to each bin it overlaps (fan-out =
  * span/binWidth + 1, bounded for bounded spans), assign every point to its
  * ONE bin, and equi-join on the bin before re-checking the exact
  * containment predicate. The equi-key turns the plan into a plain
  * shuffled-hash / broadcast-HASH join — partitioned, spillable, AQE-aware.
  * Each matching (interval, point) pair is emitted exactly once because a
  * point lives in exactly one bin: no post-join distinct is needed.
  */
object RangeJoin extends graft.OperatorModule {

  /** Exact floor(v / w) for longs of ANY sign, in pure integer arithmetic:
    * `pmod` is always nonnegative, so `v - pmod(v, w)` lands precisely on
    * the floor bin boundary, and the `div` of that exact multiple is exact
    * for the FULL long range (the naive `(v - pmod) / w` routes through
    * Column `/` = double division, which rounds the numerator at 2^53 —
    * a nanosecond-scale axis would bin-misassign and silently drop pairs;
    * bare `v div w` alone truncates toward zero for negatives). */
  private def binOf(name: String, w: Long) =
    expr(s"(($name - pmod($name, ${w}L)) div ${w}L)")

  /** Generic binned range join: rows of `points` paired with every row of
    * `intervals` whose [startCol, endCol] contains ptCol. All three columns
    * must be long-valued (e.g. integer µs). Pick `binWidth` near the TYPICAL
    * interval span: fan-out per interval is span/binWidth + 1, and points
    * hash uniformly over bins, so the join is skew-free as long as the axis
    * itself is not degenerate. Output columns: all of points', then all of
    * intervals'.
    */
  def rangeJoinBinned(points: DataFrame, ptCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(!points.columns.contains("__bin") && !intervals.columns.contains("__bin"),
      "inputs must not carry a __bin column (reserved by rangeJoinBinned)")
    val shared = points.columns.toSet.intersect(intervals.columns.toSet)
    require(shared.isEmpty,
      s"points and intervals share column names ${shared.mkString(",")} — " +
        "rename before joining or the output columns are ambiguous")
    val binned = intervals.withColumn("__bin",
      explode(sequence(binOf(startCol, binWidth), binOf(endCol, binWidth))))
    points.withColumn("__bin", binOf(ptCol, binWidth))
      .join(binned,
        Seq("__bin")).where(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop("__bin")
  }

  /** Bin width for [[sessionConcurrency]]: one hour of µs — a few times the
    * typical session span, so most sessions replicate to 1-2 bins. */
  val ConcurrencyBinUs: Long = 3600L * 1000000L

  /** Session concurrency via range join: for every event, how many gap
    * sessions (ANY user's, from [[Sessions.sessionSpans]]) were active at
    * its timestamp — a pure interval-containment join with no equi-key
    * (the cross-USER pairing is the point), rolled up per event type.
    *
    * Exactness contract: `avg_concurrency` is SUM(BIGINT)/COUNT — an exact
    * integer quotient both engines compute bit-identically (the sessionize
    * lesson); no per-engine rounding anywhere. Every event sits inside its
    * own session, so n_active ≥ 1 and `n_events` covers the whole table.
    *
    * Scale shape: spans are |sessions| rows (users × activity bursts, a few
    * % of events); binned replication is bounded by span/1 h + 1; the join
    * is keyed on the bin so it hash-partitions — with a session frame past
    * broadcast size this is a plain shuffle join, never a nested loop. The
    * per-event count partial-aggregates map-side before the final tiny
    * per-type rollup. */
  def sessionConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val spans = Sessions.sessionSpans(spark, dir).select("start_us", "end_us")
    val pts = table(spark, dir, "events")
      .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val perEvent = rangeJoinBinned(pts, "ts_us", spans, "start_us", "end_us", ConcurrencyBinUs)
      .groupBy("event_id", "event_type").agg(count(lit(1)).as("n_active"))
    perEvent.groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        (sum("n_active") / count(lit(1))).as("avg_concurrency"),
        max("n_active").as("max_concurrency"),
        sum("n_active").as("active_pair_count"))
      .orderBy("event_type")
  }

  def sessionConcurrencySql: String =
    s"""WITH ${Sessions.sessionCtes},
       |spans AS (SELECT MIN(ts_us) AS start_us, MAX(ts_us) AS end_us FROM sess GROUP BY user_id, session_id),
       |pts AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |per_event AS (SELECT p.event_id, p.event_type, COUNT(*) AS n_active
       |  FROM pts p JOIN spans s ON p.ts_us >= s.start_us AND p.ts_us <= s.end_us GROUP BY 1, 2)
       |SELECT event_type, COUNT(*) AS n_events, SUM(n_active) / COUNT(*) AS avg_concurrency,
       |  MAX(n_active)::BIGINT AS max_concurrency, SUM(n_active)::BIGINT AS active_pair_count
       |FROM per_event GROUP BY 1 ORDER BY event_type""".stripMargin.replace("\n", " ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "range_join" -> ((s, d) => sessionConcurrency(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "range_join" -> sessionConcurrencySql,
  )
}
