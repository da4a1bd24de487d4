package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Privacy, Sessions}

/** Batch-replay equivalence gate rows: each query replays a streaming
  * module over the `events`, `documents` or `embeddings` snapshot via
  * [[Replay]] and emits a projection a DuckDB oracle hash-checks — some
  * rows reuse their batch twin's oracle SQL verbatim, the rest carry
  * purpose-built oracles where the stream deviates from (or has no)
  * batch twin by design. Either way the streaming code path is gated
  * end-to-end:
  * windowed state, watermark finalization, `flatMapGroupsWithState`
  * timeouts, stream-static joins — the parts a unit spec exercises only
  * on toy rows.
  *
  * Determinism contract per row follows the repo recipe: exact DECIMAL
  * sums (event_window, attribution, slices), exact integer µs/event/class
  * counts with one final double division (sessionize, k_anon_trend, pack),
  * pr6 shares for ratios (constraints), md5 strings (dedup, prep), and
  * raw doubles only where both engines compute them from bit-identical
  * exact inputs (slices means, LM log-probs).
  */
object StreamingReplay extends graft.OperatorModule {

  /** [[StreamingDrift.windowedStats]] over 1-day windows ≡ the batch daily
    * tumbling-window aggregation ([[Sessions.eventWindow]]): day windows
    * align to UTC calendar days (the session timezone is UTC), so
    * `window_start` renders to the twin's `day` key. */
  def streamingEventWindow(spark: SparkSession, dir: String): DataFrame =
    Replay.replayTable(spark, dir, "events", Seq("ts", "event_type", "value"),
        StreamingDrift.windowedStats(_, "1 day", "1 hour"))
      .filter(col("window_start") < lit(Replay.SentinelBaseTs)) // defensive; see Replay doc
      .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_events"), col("sum_value"), col("avg_value"))
      .orderBy("day", "event_type")

  /** [[StreamingSessions.sessionize]] (stateful, event-time timeouts) with
    * the batch per-user rollup over the closed-session sink — the rollup is
    * the same exact-integer arithmetic [[Sessions.sessionize]] runs over
    * its per-session frame (LONG sums, one double division), so a single
    * session split differently by the stream flips the hash. */
  def streamingSessionize(spark: SparkSession, dir: String): DataFrame =
    Replay.replayTable(spark, dir, "events",
        Seq("ts", "user_id", "event_type", "value"),
        df => {
          import df.sparkSession.implicits._
          StreamingSessions.sessionize(df.as[StreamingSessions.Event]).toDF()
        })
      .filter(col("user_id") =!= lit(Replay.SentinelId)) // defensive; see Replay doc
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        (sum("n_events") / count(lit(1))).as("avg_events_per_session"),
        (sum(col("end_us") - col("start_us")) / (count(lit(1)) * lit(1000000.0)))
          .as("avg_session_duration_sec"),
        sum("n_events").as("total_events"))
      .orderBy("user_id")

  /** [[StreamingPrivacy.kAnonymityMonitor]] over 1-day windows with the
    * event_trace QI ≡ the batch per-day k-anonymity trend
    * ([[Privacy.kAnonTrend]]): a closed window's per-class rows ARE that
    * day's class frame, so the batch rollup text applies to the sink
    * verbatim ([[Privacy.kTrendRollupFromClasses]]). */
  def streamingKAnonTrend(spark: SparkSession, dir: String): DataFrame =
    Privacy.kTrendRollupFromClasses(
      Replay.replayTable(spark, dir, "events", Seq("ts", "event_type", "value"),
          StreamingPrivacy.kAnonymityMonitor(_, Privacy.TrendQiSpark,
            windowDuration = "1 day", watermarkDelay = "1 hour"))
        .filter(col("window_start") < lit(Replay.SentinelBaseTs)) // defensive
        .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
          col("class_size").as("sz")))

  /** [[StreamingFunnel.funnelGate]] (stateful first-touch step tracking)
    * replayed over the snapshot ≡ the batch ordered funnel
    * ([[graft.pipeline.EventAnalytics.funnel]]): one completion row per
    * (user, step) in the sink, counted into the batch projection. The
    * in-one-batch replay satisfies the gate's in-order contract exactly,
    * so stream==batch is an equality, not a convergence claim. `n_users`
    * is a plain distinct count over the same snapshot (every user, not
    * just converters — the gate emits only completions by design); the
    * funnel LOGIC under test is entirely the streaming state machine. */
  def streamingFunnel(spark: SparkSession, dir: String): DataFrame = {
    val sink = Replay.replayTable(spark, dir, "events",
      Seq("ts", "user_id", "event_type", "value"),
      df => {
        import df.sparkSession.implicits._
        StreamingFunnel.funnelGate(df.as[StreamingSessions.Event]).toDF()
      })
    val steps = sink.filter(col("user_id") =!= lit(Replay.SentinelId)) // defensive
      .agg(count(when(col("step") === "view", lit(1))).as("n_view"),
        count(when(col("step") === "click", lit(1))).as("n_click_after_view"),
        count(when(col("step") === "purchase", lit(1))).as("n_purchase_after_click"))
    graft.drift.table(spark, dir, "events")
      .agg(countDistinct("user_id").as("n_users"))
      .crossJoin(broadcast(steps)) // both sides 1 row (repo convention)
      .selectExpr(graft.pipeline.EventAnalytics.funnelFinalCols: _*)
  }

  /** [[StreamingDedup.dedupStream]]'s exactly-once admission invariant:
    * replaying the whole corpus must admit each distinct content
    * fingerprint EXACTLY once — the sorted fingerprint set then equals a
    * plain batch DISTINCT (a double admission duplicates a hash, a lost
    * doc removes one; either flips the row hash). `documents` has no
    * event time, so the replay synthesizes a deterministic one from
    * doc_id — the dedup keys on content, not time, and the one-batch
    * replay never evicts state, so the synthesized clock is just
    * watermark plumbing. */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame =
    Replay.replayTable(spark, dir, "documents", Seq(SynthTs, "doc_id", "text"),
        StreamingDedup.dedupStream(_, "24 hours"),
        // set-valued output (distinct content fingerprints): which doc_id
        // of a duplicate pair arrives first is already nondeterministic by
        // contract, and the projection drops it — order-insensitive
        snapshotParts = feedParts(spark))
      // the dedup admits in the ARRIVAL batch, so the sentinel text IS
      // admitted (unlike the windowed gates) — this filter is load-bearing
      .filter(col("doc_id") =!= lit(Replay.SentinelId))
      .select(col("fingerprint").as("content_hash"))
      .orderBy("content_hash")

  val streamingDedupSql: String =
    "SELECT md5(text) AS content_hash FROM (SELECT DISTINCT text FROM documents) d " +
      "ORDER BY content_hash"

  /** [[StreamingIncrement.incrementGate]]'s admitted set, replayed: the
    * max-`source` feed gated against the rest of the corpus (the batch
    * `incremental_dedup` split). The stream gate DEVIATES from the batch
    * gate by design — it drops on band collision alone, without the
    * exact-Jaccard verification join (that join would re-aggregate per
    * micro-batch) — so this row carries its own collision-only oracle
    * built from the SAME shared band CTEs, rather than reusing
    * `incremental_dedup`'s. What it pins end-to-end: the per-row
    * [[graft.pipeline.Dedup.rowBandSigs]] signatures equal the batch
    * signature pipeline's, per band, under DuckDB's independent replay —
    * the invariant the whole streaming fuzzy-dedup family stands on.
    * The gate is STATELESS (stream-static anti-joins, no watermark), so
    * the replay needs no sentinel flushes: everything emits in batch 0. */
  private[graft] def streamingIncrementKept(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.drift.table(spark, dir, "documents")
    val batchSource = docs.agg(max("source")).collect()(0).getString(0) // 1-row agg
    val corpus = docs.filter(col("source") =!= lit(batchSource))
      .select("doc_id", "text")
    Replay.replayTable(spark, dir, "documents", Seq("doc_id", "text", "source"),
      df => StreamingIncrement.incrementGate(
        df.filter(col("source") === lit(batchSource)).select("doc_id", "text"),
        corpus),
      flushes = 0, snapshotParts = feedParts(spark))
  }

  def streamingIncrement(spark: SparkSession, dir: String): DataFrame =
    streamingIncrementKept(spark, dir)
      .agg(count(lit(1)).as("n_kept"),
        coalesce(sum("doc_id"), lit(0L)).as("kept_id_sum"))

  val streamingIncrementSql: String =
    "WITH bsrc AS (SELECT MAX(source) AS batch_source FROM documents), " +
      "d AS (SELECT doc_id, text, source = batch_source AS is_batch " +
      "FROM documents CROSS JOIN bsrc), " +
      // tri/sigs/bands from the shared MinHash CTE chain; its full-corpus
      // cands/inter/nd_pairs go unreferenced and DuckDB never runs them
      s"${graft.pipeline.Dedup.minhashPairsCtes("documents")}, " +
      "bb AS (SELECT bands.* FROM bands JOIN d USING (doc_id) WHERE is_batch), " +
      "cb AS (SELECT bands.* FROM bands JOIN d USING (doc_id) WHERE NOT is_batch), " +
      "coll AS (SELECT DISTINCT a.doc_id FROM bb a " +
      "JOIN cb b ON a.band = b.band AND a.sig = b.sig), " +
      // NOT IN is NULL-safe here: md5(text) is never NULL (text has no
      // NULLs in the corpus contract) and coll carries only real doc_ids
      "kept AS (SELECT doc_id FROM d WHERE is_batch " +
      "AND md5(text) NOT IN (SELECT md5(text) FROM d WHERE NOT is_batch) " +
      "AND doc_id NOT IN (SELECT doc_id FROM coll)) " +
      "SELECT COUNT(*)::BIGINT AS n_kept, " +
      "COALESCE(SUM(doc_id), 0)::BIGINT AS kept_id_sum FROM kept"

  /** Snapshot part files for the ORDER-INSENSITIVE stateless gates (per-row
    * math + set-valued output only — see Replay.replayTable's contract):
    * batch 0's scan parallelism, derived from the session's own width (not
    * a host constant) and capped so a small gate feed never fans into
    * hundreds of near-empty files. The stateful/arrival-order gates
    * (pack's cursor, sessionize, attribution, dedup/prep admission order)
    * keep the single-file default. */
  private def feedParts(spark: SparkSession): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism, 16))

  /** Deterministic synthetic event time for tables that carry none (the
    * documents corpus): the gate logic under replay is time-independent —
    * the clock is pure watermark plumbing. */
  private val SynthTs =
    "timestampadd(SECOND, CAST(doc_id % 3000 AS INT), " +
      "TIMESTAMP'2024-01-01 00:00:00') AS ts"

  /** [[StreamingLm.scoreStream]] replayed over the corpus against the
    * batch-trained model ≡ the batch `lm_score` query: the stream scorer
    * is the SAME in-row `scoreCollected` stage the batch runs (stateless,
    * flushes = 0), so this pins the whole streaming LM gate — including
    * round 11's bounded model collect — against the DuckDB Stupid-Backoff
    * oracle, not just against the batch twin's JVM output. */
  def streamingLmScore(spark: SparkSession, dir: String): DataFrame = {
    val model = graft.pipeline.LmScore.trainModel(
      graft.drift.table(spark, dir, "documents").select("lang", "text"))
    Replay.replayTable(spark, dir, "documents", Seq(SynthTs, "doc_id", "text"),
        StreamingLm.scoreStream(_, model, "24 hours"), flushes = 0,
        snapshotParts = feedParts(spark))
      .filter(col("doc_id") =!= lit(Replay.SentinelId)) // defensive (stateless: none arrive)
      .select("doc_id", "n_bigrams", "bigram_hit_rate", "oov_rate",
        "avg_logprob", "ppl")
      .orderBy("doc_id")
  }

  /** [[StreamingAttribution.attributionGate]] (stateful last-touch memory)
    * replayed in order ≡ the batch window recomputation: the credit sink
    * is exactly the per-credit (channel, value) frame, so the batch
    * channel rollup ([[graft.pipeline.EventAnalytics.attributionRollup]],
    * exact DECIMAL revenue sums) applies verbatim. flushes = 0: last-touch
    * state never expires by time and credits emit in the arrival batch. */
  def streamingAttribution(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.EventAnalytics.attributionRollup(
      Replay.replayTable(spark, dir, "events",
          Seq("ts", "user_id", "event_type", "value", "event_id"),
          df => {
            import df.sparkSession.implicits._
            StreamingAttribution.attributionGate(
              df.as[StreamingAttribution.AttrEvent]).toDF()
          }, flushes = 0)
        .filter(col("user_id") =!= lit(Replay.SentinelId)) // defensive
        .select("channel", "value"))

  /** The monitored suite for the constraints replay gate: row-local checks
    * over the event feed, chosen so the board shows detection, not just
    * green rows (the engagement-types check fails by design — `error` and
    * `signup` are off-list). Shared by the gate row and its oracle via
    * [[graft.pipeline.Constraints.indicatorExpr]]'s engine-shared text. */
  private val MonitorSuite: Seq[graft.pipeline.Constraints.Constraint] = Seq(
    graft.pipeline.Constraints.Complete(
      "sm1_value_complete", "events", "value", 0.999),
    graft.pipeline.Constraints.InRange(
      "sm2_value_le_100", "events", "value", Some(0.0), Some(100.0), 0.9),
    graft.pipeline.Constraints.Accepted(
      "sm3_engagement_types", "events", "event_type",
      Seq("view", "click", "purchase"), 0.9))

  private val constraintRatio =
    graft.drift.pr6Sql("CAST(n_ok AS DOUBLE) / CAST(n_rows AS DOUBLE)")

  /** [[StreamingConstraints.constraintMonitor]] over 1-day windows,
    * rolled up across closed windows to per-check totals: every event
    * lands in exactly one finalized window, so Σ(window n_ok/n_rows)
    * equals the whole-table counts and the replay must reproduce a plain
    * batch audit of the same suite — integer counts + one pr6 share,
    * the k_anon_trend determinism recipe. */
  def streamingConstraints(spark: SparkSession, dir: String): DataFrame =
    Replay.replayTable(spark, dir, "events", Seq("ts", "event_type", "value"),
        StreamingConstraints.constraintMonitor(_, MonitorSuite, "1 day", "1 hour"))
      .filter(col("window_start") < lit(Replay.SentinelBaseTs)) // defensive
      .groupBy("check_name", "threshold")
      .agg(sum("n_ok").as("n_ok"), sum("n_rows").as("n_rows"))
      .selectExpr("check_name",
        "CAST(n_ok AS BIGINT) AS n_ok", "CAST(n_rows AS BIGINT) AS n_rows",
        s"$constraintRatio AS metric", "threshold",
        s"$constraintRatio >= threshold AS passed")
      .orderBy("check_name")

  val streamingConstraintsSql: String = {
    val branches = MonitorSuite.map { c =>
      val ind = graft.pipeline.Constraints.indicatorExpr(c).get
      s"SELECT '${c.name}' AS check_name, SUM($ind) AS n_ok, COUNT(*) AS n_rows, " +
        s"CAST(${graft.pipeline.Constraints.dlit(c.threshold)} AS DOUBLE) AS threshold " +
        s"FROM ${c.table}"
    }.mkString(" UNION ALL ")
    "SELECT check_name, CAST(n_ok AS BIGINT) AS n_ok, CAST(n_rows AS BIGINT) AS n_rows, " +
      s"$constraintRatio AS metric, threshold, $constraintRatio >= threshold AS passed " +
      s"FROM ($branches) u ORDER BY check_name"
  }

  /** [[StreamingPrep.prepStream]] (language gate → quality gate → exact
    * dedup) replayed over the corpus: the admitted CONTENT set must equal
    * the batch funnel's quality-gated distinct contents. Content-level on
    * purpose — which doc_id of a duplicate pair survives is first-arrival
    * (legitimately nondeterministic on a stream), but the distinct
    * fingerprint set is exact; the oracle reuses the batch funnel's full
    * gate SQL ([[graft.pipeline.TextAnalysis.prepDocsSql]] — lang-ID
    * argmax, quality score, threshold text all engine-shared). */
  def streamingPrep(spark: SparkSession, dir: String): DataFrame =
    Replay.replayTable(spark, dir, "documents",
        Seq(SynthTs, "doc_id", "source", "text"),
        StreamingPrep.prepStream(_, "24 hours"),
        // set-valued output (distinct admitted content hashes) — same
        // order-insensitivity argument as streamingDedup above
        snapshotParts = feedParts(spark))
      // dedup admits in the ARRIVAL batch, so the sentinel row reaches the
      // gate (its 1-token text fails the quality gate today, but that is a
      // data property, not a contract) — filter is load-bearing
      .filter(col("doc_id") =!= lit(Replay.SentinelId))
      .select(md5(col("text")).as("content_hash"))
      .orderBy("content_hash")

  val streamingPrepSql: String =
    "SELECT DISTINCT md5(text) AS content_hash FROM " +
      s"(${graft.pipeline.TextAnalysis.prepDocsSql}) f WHERE qual_ok " +
      "ORDER BY content_hash"

  /** Dimensions and bucketing for the slice-monitor replay gate (the
    * second dimension is a derived bucket, so the gate exercises the
    * multi-dimension stack, not just a passthrough column). */
  private val SliceBucket = "CAST(FLOOR(value / 100e0) AS BIGINT) AS vbucket"
  private val SliceDims = Seq("event_type", "vbucket")
  private val SliceThreshold = 0.1

  /** [[StreamingSlices.monitor]] replayed with 1-day windows against
    * reference stats fit on the pre-cutoff snapshot (the fit-batch /
    * apply-stream deployment shape): one stateful agg covers every
    * dimension. Deterministic end-to-end — the monitor accumulates exact
    * DECIMAL(32,6) sums, win/ref means are single double divisions of
    * identical exact values, and the pct change is the shared
    * [[graft.drift.pctChangeSql]] text — so the purpose-built oracle
    * hash-matches raw doubles with no per-engine rounding. */
  def streamingSlices(spark: SparkSession, dir: String): DataFrame = {
    import graft.drift.splits
    // cache the static side: a stream-static join re-executes the static
    // plan EVERY micro-batch, so an uncached reference fit would be paid
    // once per batch instead of once per deployment
    val refSlices = StreamingSlices.referenceSlices(
      graft.drift.table(spark, dir, "events")
        .filter(splits.eventsRef).selectExpr("event_type", SliceBucket, "value"),
      SliceDims, "value").cache()
    Replay.replayTable(spark, dir, "events",
        Seq("ts", "event_type", SliceBucket, "value"),
        StreamingSlices.monitor(_, refSlices, SliceDims, "value",
          "1 day", "1 hour", SliceThreshold))
      .filter(col("window_start") < lit(Replay.SentinelBaseTs)) // defensive
      .select(date_format(col("window_start"), "yyyy-MM-dd").as("day"),
        col("dimension"), col("category"), col("n"), col("win_mean"),
        col("ref_mean"), col("mean_pct_change"), col("drift_detected"))
      .orderBy("day", "dimension", "category")
  }

  val streamingSlicesSql: String = {
    val stacked =
      "SELECT ts, 'event_type' AS dimension, CAST(event_type AS VARCHAR) AS category, value FROM ev " +
        "UNION ALL SELECT ts, 'vbucket' AS dimension, CAST(vbucket AS VARCHAR) AS category, value FROM ev"
    s"WITH ev AS (SELECT ts, event_type, $SliceBucket, value FROM events), " +
      s"stacked AS ($stacked), " +
      "ref AS (SELECT dimension, category, COUNT(*) AS ref_n, " +
      "SUM(value::DECIMAL(32,6)) AS ref_sum FROM stacked " +
      s"WHERE ${graft.drift.splits.eventsRefSql} GROUP BY 1, 2), " +
      "win AS (SELECT date_trunc('day', ts) AS wstart, dimension, category, " +
      "COUNT(*) AS n, SUM(value::DECIMAL(32,6)) AS win_sum FROM stacked GROUP BY 1, 2, 3), " +
      "j AS (SELECT wstart, w.dimension, w.category, n, " +
      "CAST(win_sum AS DOUBLE) / n AS win_mean, " +
      "CAST(ref_sum AS DOUBLE) / ref_n AS ref_mean FROM win w " +
      "LEFT JOIN ref r ON w.dimension = r.dimension AND w.category = r.category) " +
      "SELECT strftime(wstart, '%Y-%m-%d') AS day, dimension, category, " +
      "n::BIGINT AS n, win_mean, ref_mean, " +
      s"${graft.drift.pctChangeSql("ref_mean", "win_mean")} AS mean_pct_change, " +
      s"COALESCE(ABS(${graft.drift.pctChangeSql("ref_mean", "win_mean")}) > $SliceThreshold, false) AS drift_detected " +
      "FROM j ORDER BY day, dimension, category"
  }

  /** [[StreamingEngagement.twapGate]] (stateful per-user running TWAP
    * integral) replayed: the exact half of the engagement module — the HLL
    * `dauStream` half is gated as a tolerance decision ([[streamingDau]];
    * sketch values have no exact DuckDB twin, so the CONTRACT is what the
    * oracle checks), while the TWAP fold is pure integer arithmetic in a pinned
    * (µs, event_id) order, so its purpose-built oracle replays the
    * identical area as a per-user LEAD window over HUGEINT micro-value·µs
    * products (the batch `time_weighted_value` twin's DECIMAL discipline,
    * shifted by 10^6) and one truncating `//` division. Every output is an
    * exact BIGINT — no float crosses the gate. flushes = 0: NoTimeout
    * state never needs a watermark and the one-batch replay emits each
    * user's full-history row on arrival. */
  def streamingTwap(spark: SparkSession, dir: String): DataFrame =
    Replay.replayTable(spark, dir, "events",
        Seq("ts", "user_id", "event_type", "value", "event_id"),
        df => {
          import df.sparkSession.implicits._
          StreamingEngagement.twapGate(
            df.as[StreamingAttribution.AttrEvent]).toDF()
        }, flushes = 0)
      .filter(col("user_id") =!= lit(Replay.SentinelId)) // defensive
      .selectExpr("user_id", "CAST(n_events AS BIGINT) AS n_events",
        "CAST(span_us AS BIGINT) AS span_us", "twap_micro")
      .orderBy("user_id")

  val streamingTwapSql: String =
    "WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events), " +
      "seq AS (SELECT *, LEAD(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_us FROM ev), " +
      "agg AS (SELECT user_id, COUNT(*) AS n_events, MIN(ts_us) AS first_us, MAX(ts_us) AS last_us, " +
      "SUM(CASE WHEN next_us IS NOT NULL THEN CAST(value::DECIMAL(18,6) * 1000000 AS HUGEINT) " +
      "* CAST(next_us - ts_us AS HUGEINT) END) AS area_micro FROM seq GROUP BY 1) " +
      "SELECT user_id, CAST(n_events AS BIGINT) AS n_events, " +
      "CAST(last_us - first_us AS BIGINT) AS span_us, " +
      "CASE WHEN last_us > first_us THEN CAST(area_micro // (last_us - first_us) AS BIGINT) END AS twap_micro " +
      "FROM agg ORDER BY user_id"

  /** [[StreamingSemantic.semanticGate]] replayed — the semantic-dedup
    * admission gate, the piece an ingest increment hits on every new
    * embedding batch. The embeddings table is split deterministically by
    * vec_id PARITY: even ids are the accepted static corpus (whose
    * [[graft.pipeline.Similarity.cellStructure]] the gate broadcasts),
    * odd ids the feed replayed through the stream. The gate is stateless
    * (one broadcast centroid row + one stream-static LEFT ANTI join), so
    * flushes = 0 and every admission emits in batch 0; the output is the
    * admitted vec_id set, which pins the centroid fold, the cell argmax,
    * and the threshold anti-join end-to-end. The purpose-built oracle
    * replays the identical math the green `semantic_dedup`/`ann_ivf`
    * oracles already replay bit-for-bit — prefix-stable centroids from
    * the corpus count, the TWO-LEVEL rounded-cosine argmax chain
    * (route-to-super then in-group argmax, ties to lowest id — matching
    * the gate's strictly-greater folds over the id-sorted arrays), and a
    * NOT EXISTS on (same cell, cosine >= threshold). */
  def streamingSemantic(spark: SparkSession, dir: String): DataFrame = {
    val corpus = graft.drift.table(spark, dir, "embeddings")
      .filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
    Replay.replayTable(spark, dir, "embeddings", Seq("vec_id", "embedding"),
        df => StreamingSemantic.semanticGate(
          df.filter(col("vec_id") % 2 === 1), corpus),
        flushes = 0, snapshotParts = feedParts(spark))
      .select("vec_id")
      .orderBy("vec_id")
  }

  val streamingSemanticSql: String = {
    import graft.pipeline.Similarity.{IvfTargetCell, MaxIvfCells, SemDedupThreshold}
    def cos(a: String, b: String) =
      s"ROUND(list_dot_product($a.v, $b.v) / NULLIF($a.nrm * $b.nrm, 0), 6)"
    "WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v, " +
      "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings), " +
      "corpus AS (SELECT * FROM emb WHERE vec_id % 2 = 0), " +
      "feed AS (SELECT * FROM emb WHERE vec_id % 2 = 1), " +
      // prefix-stable centroid set sized from the CORPUS count (the gate
      // builds cellStructure on the corpus side only)
      s"cells_t AS (SELECT LEAST($MaxIvfCells, GREATEST(1, " +
      s"CAST(CEIL(COUNT(*) * 1e0 / $IvfTargetCell) AS BIGINT))) AS cells FROM corpus), " +
      s"hier_t AS (SELECT cells, CAST(CASE WHEN cells <= ${graft.pipeline.Similarity.FlatAssignMaxCells} THEN cells " +
      "ELSE CEIL(cells * 1e0 / CEIL(SQRT(cells))) END AS BIGINT) AS cps FROM cells_t), " +
      "cents AS (SELECT vec_id AS cent_id, v, nrm, vec_id // cps AS g " +
      "FROM corpus, hier_t WHERE vec_id < cells), " +
      "supers AS (SELECT g AS sid, v AS sv, nrm AS sn FROM (SELECT g, v, nrm, " +
      "ROW_NUMBER() OVER (PARTITION BY g ORDER BY cent_id) AS srn FROM cents) s0 WHERE srn = 1), " +
      // corpus-side TWO-LEVEL assignment (cellStructure/hierAssign: route
      // to the TOP-2 super-centroids, argmax both routed groups'
      // children, self-cell fallback)
      "croute AS (SELECT vec_id, sid FROM (SELECT c.vec_id, s.sid, " +
      "ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY " +
      "ROUND(list_dot_product(c.v, s.sv) / NULLIF(c.nrm * s.sn, 0), 6) DESC, s.sid ASC) AS rrk " +
      "FROM corpus c, supers s) r0 WHERE rrk <= 2), " +
      "cassign AS (SELECT vec_id, cell FROM (SELECT c.vec_id, t.cent_id AS cell, " +
      s"ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY ${cos("c", "t")} DESC, t.cent_id ASC) AS ark " +
      "FROM corpus c JOIN croute r ON r.vec_id = c.vec_id JOIN cents t ON t.g = r.sid) a WHERE ark = 1), " +
      "cv AS (SELECT c.vec_id, c.v, c.nrm, COALESCE(a.cell, c.vec_id) AS cell " +
      "FROM corpus c LEFT JOIN cassign a ON a.vec_id = c.vec_id), " +
      // feed-side assignment: the gate's chained folds are a top-2
      // ranking then an argmax over non-NULL sims with ties to the
      // lowest id — the same ROW_NUMBER rankings
      "froute AS (SELECT vec_id, sid FROM (SELECT f.vec_id, s.sid, " +
      "ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY " +
      "ROUND(list_dot_product(f.v, s.sv) / NULLIF(f.nrm * s.sn, 0), 6) DESC, s.sid ASC) AS rrk " +
      "FROM feed f, supers s) r0 WHERE rrk <= 2), " +
      "fassign AS (SELECT vec_id, cell FROM (SELECT f.vec_id, t.cent_id AS cell, " +
      s"ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY ${cos("f", "t")} DESC, t.cent_id ASC) AS ark " +
      "FROM feed f JOIN froute r ON r.vec_id = f.vec_id JOIN cents t ON t.g = r.sid) a WHERE ark = 1), " +
      "fa AS (SELECT f.vec_id, f.v, f.nrm, a.cell FROM feed f LEFT JOIN fassign a ON a.vec_id = f.vec_id) " +
      "SELECT fa.vec_id FROM fa WHERE NOT EXISTS (SELECT 1 FROM cv " +
      s"WHERE cv.cell = fa.cell AND ${cos("fa", "cv")} >= $SemDedupThreshold) " +
      "ORDER BY vec_id"
  }

  /** [[StreamingEngagement.dauStream]] (per-day HLL distinct users)
    * replayed as a TOLERANCE DECISION — the honest gate for a sketch: the
    * sketch value has no exact DuckDB twin, but the tolerance contract
    * does. Per finalized day window the row carries the day, the exact
    * distinct count recomputed batch-side, and a Spark-COMPUTED boolean
    * `within_tol` (relative sketch error ≤ [[StreamingEngagement.DauTolerance]]);
    * the oracle recomputes the exact counts and expects `within_tol =
    * true` on every row. A broken sketch merge, a dropped or duplicated
    * window, or users leaking across day windows flips the boolean (or
    * the row set) and hash-fails the gate. The join is FULL outer so a
    * day missing from either side surfaces as a row/hash mismatch
    * instead of vanishing. */
  def streamingDau(spark: SparkSession, dir: String): DataFrame = {
    val sketch = Replay.replayTable(spark, dir, "events", Seq("ts", "user_id"),
        StreamingEngagement.dauStream(_))
      .filter(col("day_start") < lit(Replay.SentinelBaseTs)) // defensive; see Replay doc
      .select(date_format(col("day_start"), "yyyy-MM-dd").as("day"), col("dau"))
    val exact = graft.drift.table(spark, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct("user_id").as("n_exact"))
    exact.join(sketch, Seq("day"), "full_outer")
      .selectExpr("day", "CAST(n_exact AS BIGINT) AS n_exact",
        "COALESCE(ABS(CAST(dau AS DOUBLE) - CAST(n_exact AS DOUBLE)) / " +
          s"CAST(n_exact AS DOUBLE) <= ${StreamingEngagement.DauTolerance}, false) AS within_tol")
      .orderBy("day")
  }

  val streamingDauSql: String =
    "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, " +
      "COUNT(DISTINCT user_id)::BIGINT AS n_exact, true AS within_tol " +
      "FROM events GROUP BY 1 ORDER BY day"

  /** [[StreamingPack.packStream]] replayed: the per-document shard
    * assignments an online packer emits. The stream packs in ARRIVAL
    * order — doc_id order inside each (bucket, micro-batch) group — so a
    * one-batch replay is fully deterministic and a purpose-built oracle
    * replays the identical cursor arithmetic as a per-bucket cumulative
    * window over doc_id order (the batch `seq_pack` intentionally packs
    * in the md5 permutation instead, so its oracle does not apply). All
    * outputs are exact integers / a boolean; flushes = 0 (the cursor
    * state never needs eviction and assignments emit on arrival). */
  def streamingPack(spark: SparkSession, dir: String): DataFrame =
    Replay.replayTable(spark, dir, "documents", Seq("doc_id", "text"),
        df => StreamingPack.packStream(df).toDF(), flushes = 0)
      .filter(col("doc_id") =!= lit(Replay.SentinelId)) // defensive
      .selectExpr("doc_id", "bucket", "CAST(tok AS BIGINT) AS tok",
        "CAST(start_offset AS BIGINT) AS start_offset",
        "CAST(first_window AS BIGINT) AS first_window",
        "CAST(last_window AS BIGINT) AS last_window", "crosses_boundary")
      .orderBy("doc_id")

  val streamingPackSql: String = {
    val w = graft.pipeline.Packing.WindowTokens
    s"WITH d AS (SELECT doc_id, ${graft.pipeline.Packing.tokDuck} AS tok, " +
      s"substr(${graft.pipeline.Packing.hDuck}, 1, 1) AS bucket FROM documents), " +
      "c AS (SELECT doc_id, bucket, tok, " +
      "SUM(tok) OVER (PARTITION BY bucket ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - tok " +
      "AS start_offset FROM d) " +
      "SELECT doc_id, bucket, tok::BIGINT AS tok, start_offset::BIGINT AS start_offset, " +
      s"(start_offset // $w)::BIGINT AS first_window, " +
      s"((start_offset + tok - 1) // $w)::BIGINT AS last_window, " +
      s"(start_offset // $w) <> ((start_offset + tok - 1) // $w) AS crosses_boundary " +
      "FROM c ORDER BY doc_id"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "streaming_semantic" -> ((s, d) => streamingSemantic(s, d)),
    "streaming_dau" -> ((s, d) => streamingDau(s, d)),
    "streaming_twap" -> ((s, d) => streamingTwap(s, d)),
    "streaming_pack" -> ((s, d) => streamingPack(s, d)),
    "streaming_slices" -> ((s, d) => streamingSlices(s, d)),
    "streaming_prep" -> ((s, d) => streamingPrep(s, d)),
    "streaming_constraints" -> ((s, d) => streamingConstraints(s, d)),
    "streaming_lm_score" -> ((s, d) => streamingLmScore(s, d)),
    "streaming_attribution" -> ((s, d) => streamingAttribution(s, d)),
    "streaming_increment" -> ((s, d) => streamingIncrement(s, d)),
    "streaming_dedup" -> ((s, d) => streamingDedup(s, d)),
    "streaming_funnel" -> ((s, d) => streamingFunnel(s, d)),
    "streaming_event_window" -> ((s, d) => streamingEventWindow(s, d)),
    "streaming_sessionize" -> ((s, d) => streamingSessionize(s, d)),
    "streaming_k_anon_trend" -> ((s, d) => streamingKAnonTrend(s, d)),
  )

  /** The batch twins' oracle SQL, verbatim — equivalence IS the gate. */
  def oracles: Map[String, String] = Map(
    "streaming_semantic" -> streamingSemanticSql,
    "streaming_dau" -> streamingDauSql,
    "streaming_twap" -> streamingTwapSql,
    "streaming_pack" -> streamingPackSql,
    "streaming_slices" -> streamingSlicesSql,
    "streaming_prep" -> streamingPrepSql,
    "streaming_constraints" -> streamingConstraintsSql,
    "streaming_lm_score" -> graft.pipeline.LmScore.lmScoreSql,
    "streaming_attribution" -> graft.pipeline.EventAnalytics.attributionSql,
    "streaming_increment" -> streamingIncrementSql,
    "streaming_dedup" -> streamingDedupSql,
    "streaming_funnel" -> graft.pipeline.EventAnalytics.funnelSql,
    "streaming_event_window" -> Sessions.eventWindowSql,
    "streaming_sessionize" -> Sessions.sessionizeSql,
    "streaming_k_anon_trend" -> Privacy.kAnonTrendSql,
  )
}
