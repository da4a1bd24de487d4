package graft.drift

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Drift over time — the longitudinal view the reference's two-snapshot
  * engine (data_drift_detector.py compares exactly one reference vs one
  * current frame) cannot produce: segment the event stream into tumbling
  * windows and score each window against the PREVIOUS one, yielding the
  * when-did-it-move series a monitoring deployment actually pages on.
  *
  * Per day: event count, exact mean of `value` (DECIMAL(18,6) accumulation
  * — the q1/sessionize lesson: double sums are partial-order-dependent and
  * flip 6-decimal hashes), then vs the previous present window a mean
  * relative shift and a Population Stability Index over the event-type mix
  * (the standard share-shift score: Σ (p_c − p_p)·ln(p_c/p_p), shares
  * floored at [[PsiEpsilon]] so appearing/vanishing categories stay
  * finite; 0.2 is the conventional "significant shift" line).
  *
  * Scale shape: ONE corpus-sized shuffle — the (day, event_type) partial
  * aggregation (map-side combined; cardinality = days × types, tiny).
  * Everything after runs on that reduced frame: the day rollup, the
  * constant-partition lag window (bounded by #days, and partitioned by a
  * constant key so WindowExec keeps a partitioner), and the PSI joins are
  * all post-aggregation. At 100 TB this costs the same one pass a daily
  * count does.
  */
object TimelineDrift extends graft.OperatorModule {

  val PsiEpsilon = 1e-6
  val MeanShiftThreshold = 0.1
  val PsiThreshold = 0.2

  def driftTimeline(spark: SparkSession, dir: String): DataFrame = {
    val typed = table(spark, dir, "events")
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("sv"))
    val daily = typed.groupBy("day").agg(
      sum("n").as("n_events"),
      (sum("sv").cast("double") / sum("n")).as("mean_value"))
    val w = Window.partitionBy("one").orderBy("day")
    val dd = daily.withColumn("one", lit(1))
      .withColumn("prev_day", lag("day", 1).over(w))
      .withColumn("prev_mean", lag("mean_value", 1).over(w))
      .drop("one")
    // event-type shares, aligned to each (day, prev_day) pair by a FULL
    // OUTER join on type so categories that appear or vanish still
    // contribute PSI mass on their present side
    val shares = typed.join(daily.select("day", "n_events"), "day")
      .selectExpr("day", "event_type", "n * 1e0 / n_events AS share")
    val pairs = dd.select(col("day"), col("prev_day")).where(col("prev_day").isNotNull)
    val cur = pairs.join(shares.withColumnRenamed("day", "d"), col("d") === col("day"))
      .select(col("day"), col("event_type"), col("share").as("pc"))
    val prev = pairs.join(shares.withColumnRenamed("day", "d"), col("d") === col("prev_day"))
      .select(col("day"), col("event_type"), col("share").as("pp"))
    val psi = cur.join(prev, Seq("day", "event_type"), "full_outer")
      .selectExpr("day",
        s"GREATEST(COALESCE(pc, 0e0), $PsiEpsilon) AS pc",
        s"GREATEST(COALESCE(pp, 0e0), $PsiEpsilon) AS pp")
      .groupBy("day").agg(sum(expr("(pc - pp) * ln(pc / pp)")).as("psi"))
    dd.join(psi, Seq("day"), "left")
      .selectExpr("day", "n_events", "mean_value", "prev_day",
        "CASE WHEN prev_mean IS NOT NULL THEN abs(mean_value - prev_mean) / NULLIF(abs(prev_mean), 0e0) END AS mean_rel_diff",
        "psi",
        s"CASE WHEN prev_day IS NOT NULL THEN " +
          s"(abs(mean_value - prev_mean) / NULLIF(abs(prev_mean), 0e0) > $MeanShiftThreshold OR psi > $PsiThreshold) END AS drift_detected")
      .orderBy("day")
  }

  def driftTimelineSql: String =
    "WITH typed AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type, " +
      "COUNT(*) AS n, SUM(value::DECIMAL(18,6)) AS sv FROM events GROUP BY 1, 2), " +
      "daily AS (SELECT day, SUM(n)::BIGINT AS n_events, " +
      "CAST(SUM(sv) AS DOUBLE) / SUM(n) AS mean_value FROM typed GROUP BY 1), " +
      "dd AS (SELECT day, n_events, mean_value, " +
      "LAG(day) OVER (ORDER BY day) AS prev_day, " +
      "LAG(mean_value) OVER (ORDER BY day) AS prev_mean FROM daily), " +
      "shares AS (SELECT t.day, event_type, n * 1e0 / d.n_events AS share " +
      "FROM typed t JOIN daily d ON t.day = d.day), " +
      "pairs AS (SELECT day, prev_day FROM dd WHERE prev_day IS NOT NULL), " +
      "cur AS (SELECT p.day, s.event_type, s.share AS pc FROM pairs p JOIN shares s ON s.day = p.day), " +
      "prev AS (SELECT p.day, s.event_type, s.share AS pp FROM pairs p JOIN shares s ON s.day = p.prev_day), " +
      "psi AS (SELECT day, SUM((pc2 - pp2) * ln(pc2 / pp2)) AS psi FROM " +
      s"(SELECT COALESCE(c.day, p.day) AS day, GREATEST(COALESCE(pc, 0e0), $PsiEpsilon) AS pc2, " +
      s"GREATEST(COALESCE(pp, 0e0), $PsiEpsilon) AS pp2 FROM cur c FULL OUTER JOIN prev p " +
      "ON c.day = p.day AND c.event_type = p.event_type) m GROUP BY 1) " +
      "SELECT dd.day, n_events, mean_value, prev_day, " +
      "CASE WHEN prev_mean IS NOT NULL THEN abs(mean_value - prev_mean) / NULLIF(abs(prev_mean), 0e0) END AS mean_rel_diff, " +
      "psi.psi AS psi, " +
      "CASE WHEN prev_day IS NOT NULL THEN " +
      s"(abs(mean_value - prev_mean) / NULLIF(abs(prev_mean), 0e0) > $MeanShiftThreshold OR psi.psi > $PsiThreshold) END AS drift_detected " +
      "FROM dd LEFT JOIN psi ON dd.day = psi.day ORDER BY dd.day"

  // ------------------------------------------------------ seasonality

  /** Hour-of-day seasonality drift per event type — the "Temporal:
    * seasonal pattern changes" surface the reference's architecture doc
    * advertises but never implements
    * (/root/reference/data_drift_detector_architecture.md:715-717,
    * SURVEY.md §1.1): per event type, compare the ref and curr snapshots'
    * hour-of-day mix (24-bin profile) by PSI (shares floored at
    * [[PsiEpsilon]] like [[driftTimeline]]), plus each side's peak hour
    * (deterministic tie-break: highest count, then lowest hour). A
    * traffic pattern that moves from business-hours to overnight drifts
    * here even when the type's total volume is flat.
    *
    * Scale shape: one corpus scan → (event_type, hour) map-side-combined
    * partial agg; every later frame (rank windows, totals join, PSI) is
    * types×24-sized. */
  def seasonalityDrift(spark: SparkSession, dir: String): DataFrame = {
    val cnt = withSide(table(spark, dir, "events"), splits.eventsRef)
      .select(col("side"), col("event_type"), hour(col("ts")).as("hr"))
      .groupBy("event_type", "hr").agg(
        sum(when(col("side") === "ref", 1L).otherwise(0L)).as("rc"),
        sum(when(col("side") === "curr", 1L).otherwise(0L)).as("cc"))
    val sums = cnt.groupBy("event_type").agg(sum("rc").as("rs"), sum("cc").as("cs"))
    val wr = Window.partitionBy("event_type").orderBy(col("rc").desc, col("hr").asc)
    val wc = Window.partitionBy("event_type").orderBy(col("cc").desc, col("hr").asc)
    cnt
      .withColumn("rkr", row_number().over(wr))
      .withColumn("rkc", row_number().over(wc))
      .join(broadcast(sums), "event_type")
      // a type absent from one side has a 0 total: 0/0 would be NaN (and
      // NaN orders LARGEST in Spark, silently flagging drift) — the
      // explicit COALESCE floors the absent side's shares at epsilon in
      // both engines, so a brand-new/retired type gets a large FINITE
      // PSI; its peak hour is NULL, not a fabricated hour 0
      .withColumn("pr", greatest(
        coalesce(col("rc") * lit(1.0) / expr("NULLIF(rs, 0)"), lit(0.0)), lit(PsiEpsilon)))
      .withColumn("pc", greatest(
        coalesce(col("cc") * lit(1.0) / expr("NULLIF(cs, 0)"), lit(0.0)), lit(PsiEpsilon)))
      .groupBy("event_type").agg(
        max("rs").as("n_ref"), max("cs").as("n_curr"),
        max(when(col("rkr") === 1 && col("rs") > 0, col("hr"))).as("ref_peak_hour"),
        max(when(col("rkc") === 1 && col("cs") > 0, col("hr"))).as("curr_peak_hour"),
        sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))).as("psi_raw"))
      .select(col("event_type"), col("n_ref"), col("n_curr"),
        col("ref_peak_hour"), col("curr_peak_hour"),
        r6(col("psi_raw")).as("psi_hours"),
        (col("psi_raw") > PsiThreshold).as("drifted"))
      .orderBy("event_type")
  }

  def seasonalityDriftSql: String = {
    val refSql = splits.eventsRefSql
    "WITH cnt AS (SELECT event_type, hour(ts) AS hr, " +
      s"SUM(CASE WHEN $refSql THEN 1 ELSE 0 END)::BIGINT AS rc, " +
      s"SUM(CASE WHEN $refSql THEN 0 ELSE 1 END)::BIGINT AS cc " +
      "FROM events GROUP BY 1, 2), " +
      "sums AS (SELECT event_type, SUM(rc) AS rs, SUM(cc) AS cs FROM cnt GROUP BY 1), " +
      "rk AS (SELECT *, " +
      "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY rc DESC, hr ASC) AS rkr, " +
      "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cc DESC, hr ASC) AS rkc FROM cnt), " +
      "j AS (SELECT r.*, s.rs, s.cs, " +
      s"GREATEST(COALESCE(r.rc * 1e0 / NULLIF(s.rs, 0), 0e0), $PsiEpsilon) AS pr, " +
      s"GREATEST(COALESCE(r.cc * 1e0 / NULLIF(s.cs, 0), 0e0), $PsiEpsilon) AS pc " +
      "FROM rk r JOIN sums s USING (event_type)), " +
      "agg AS (SELECT event_type, MAX(rs)::BIGINT AS n_ref, MAX(cs)::BIGINT AS n_curr, " +
      "MAX(CASE WHEN rkr = 1 AND rs > 0 THEN hr END) AS ref_peak_hour, " +
      "MAX(CASE WHEN rkc = 1 AND cs > 0 THEN hr END) AS curr_peak_hour, " +
      "SUM((pc - pr) * LN(pc / pr)) AS psi_raw FROM j GROUP BY 1) " +
      "SELECT event_type, n_ref, n_curr, ref_peak_hour, curr_peak_hour, " +
      "ROUND(psi_raw, 6) AS psi_hours, " +
      s"psi_raw > $PsiThreshold AS drifted FROM agg ORDER BY event_type"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "drift_timeline" -> ((s, d) => driftTimeline(s, d)),
    "seasonality_drift" -> ((s, d) => seasonalityDrift(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "drift_timeline" -> driftTimelineSql,
    "seasonality_drift" -> seasonalityDriftSql,
  )
}
