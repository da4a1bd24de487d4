package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{CacheScope, r6, table}

/** N-gram language-model quality scoring — the CCNet/KenLM curation signal
  * (Wenzek et al. 2020: docs are ranked by the perplexity of a small LM
  * trained on a trusted corpus; low perplexity ≈ fluent text, high ≈ noise).
  * The reference engine has no LM scorer; a training-data pipeline at
  * 100 TB filters on one, so this implements the whole loop in pure
  * DataFrame ops:
  *
  *   1. TRAIN: unigram + bigram counts over the trusted slice (here the
  *      corpus's `lang = 'en'` docs — in production a bounded high-quality
  *      sample, which is what keeps the model broadcastable).
  *   2. SCORE: the collected (vocabulary-sized) model broadcasts as plain
  *      count maps and every doc scores IN-ROW over its token array — a
  *      map-only stage, no bigram explode, no join, no shuffle on the
  *      corpus side (round 9; the explode + 3-broadcast-join pipeline
  *      lives on as [[LmScore.scoreAgainstJoined]], the spec-pinned twin
  *      and the fallback if a model ever outgrew the driver). Stupid
  *      Backoff (Brants et al. 2007), the count-ratio scheme built for
  *      exactly this distributed-counts setting:
  *        s(w2 | w1) = cb(w1,w2) / cu(w1)                 if the bigram was seen
  *                   = 0.4 · (cu(w2) + 1) / (N + V)       otherwise
  *      (add-one-smoothed unigram backoff so unseen words score finitely).
  *   3. REDUCE: per-doc mean log10 score and ppl = 10^(−mean); docs too
  *      short to have a bigram score with NULL metrics, not a row drop.
  *
  * Only shuffles: the two model-count aggregations (vocabulary-sized) —
  * per-doc scoring itself is embarrassingly parallel. Mean log-probs ship
  * UNROUNDED — both engines fold identical doubles and the gate's uniform
  * rounding agrees (see SURVEY §10 on cross-engine float ties; per-doc
  * sums are ~100 terms, last-ulp safe).
  */
object LmScore {

  /** Trusted-slice language and the Stupid Backoff discount.
    * [[Backoff]] is the JVM twin of [[BackoffSql]] — the in-row scorer
    * multiplies the same double literal the SQL text parses to. */
  val TrainLang = "en"
  val BackoffSql = "0.4e0"
  val Backoff = 0.4

  /** Ceiling on collected model rows (unigram vocab + bigram vocab) before
    * [[scoreDocs]]/[[scoreAgainst]] refuse to collect and auto-route
    * through the broadcast-join pipeline ([[scoreAgainstJoined]]). The
    * in-row scorer's collect is vocabulary-sized by the model CONTRACT
    * (train on a bounded trusted sample), but the bigram vocabulary grows
    * super-linearly in the training tokens (Heaps), so an unbounded
    * trusted slice at 100 TB would otherwise blow the driver heap — this
    * is the guard rail, not the design point. 5M rows ≈ a few hundred MB
    * of map entries, comfortably collectable and broadcastable; both
    * routes are bit-identical (spec-pinned), so crossing the ceiling
    * changes the plan shape, never the scores. */
  val DefaultMaxModelRows = 5000000

  /** Whitespace tokens of the lowercased text, empties dropped — one shared
    * shape per engine (`split` returns `['']` on an empty string in both). */
  private val toksSpark =
    "filter(split(lower(text), '\\\\s+'), t -> t != '') AS toks"
  private val toksDuck =
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '') AS toks"

  /** Adjacent-token pairs as structs, built inside the array (no
    * positional self-join) by zipping the array against its own 1-shifted
    * slice. `arrays_zip`/`slice` run a plain per-array loop, where the
    * round-8 `transform` + `try_element_at` lambda paid interpreted
    * expression dispatch PER ELEMENT — 5× slower on the same data, same
    * pair lists. `greatest(…, 0)` guards the ≤1-token rows (slice rejects
    * negative lengths). */
  private val bgsSpark =
    "CAST(arrays_zip(slice(toks, 1, greatest(size(toks) - 1, 0)), " +
      "slice(toks, 2, greatest(size(toks) - 1, 0))) " +
      "AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) AS bgs"

  /** ALL positions' pairs: like [[bgsSpark]] but zipping the full array,
    * so the final token appears once with `w2 = NULL` (arrays_zip pads the
    * shorter side). One inline of this carries both count families: every
    * token occurs exactly once as `w1` (→ unigram counts) and the
    * non-null-`w2` rows are the bigrams — the single-pass model build
    * [[collectModelFrom]] aggregates it once instead of running separate
    * unigram and bigram jobs. */
  private val bgsAllSpark =
    "CAST(arrays_zip(toks, slice(toks, 2, greatest(size(toks) - 1, 0))) " +
      "AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) AS bgs"

  /** A trained Stupid-Backoff model: unigram counts (w, cu), bigram counts
    * (w1, w2, cb), and the 1-row (n_train, v_train) totals — all
    * vocabulary-sized, which is what keeps scoring broadcast-only. */
  case class LmModel(uni: DataFrame, bi: DataFrame, totals: DataFrame)

  /** Trains the model from any (lang, text) batch frame's [[TrainLang]]
    * slice. */
  def trainModel(docs: DataFrame): LmModel = {
    // the trusted slice routinely arrives as very few input splits (one
    // parquet file at test SFs) — spread the token explode + count over
    // the cluster; the shuffle moves only the bounded trusted sample
    val width = docs.sparkSession.sparkContext.defaultParallelism
    val toks = docs.filter(col("lang") === TrainLang)
      .repartition(width).selectExpr(toksSpark)
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val bi = toks.selectExpr(bgsSpark).selectExpr("inline(bgs)")
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val totals = uni.agg(sum("cu").cast("double").as("n_train"),
      count(lit(1)).cast("double").as("v_train"))
    LmModel(uni, bi, totals)
  }

  /** Per-doc LM score over any (doc_id, lang, text) frame, model trained
    * from the frame's own [[TrainLang]] slice (single-pass collect).
    * `carry` columns (e.g. `source`) ride along to the output instead of
    * being re-joined — doc_id is unique, so widening the per-doc group key
    * is free and saves a corpus-sized shuffle join downstream.
    *
    * The collect is BOUNDED: [[collectModelFrom]] fetches at most
    * `maxModelRows + 1` aggregated model rows to the driver (a plan-level
    * `limit`, so the driver's memory is capped by construction — the
    * distributed aggregation itself is an ordinary shuffle at any scale),
    * and a model past the ceiling routes through the never-collected
    * broadcast-join twin instead. Routing is a plan-shape decision only —
    * the two paths are bit-identical on the same model (LmScoreSpec pins
    * both the equality and the forced-low-ceiling switch). The common
    * (under-ceiling) path pays exactly the one model-build job it always
    * did; only the over-ceiling fallback re-aggregates for the join
    * tables. */
  def scoreDocs(docs: DataFrame, carry: Seq[String] = Nil,
      maxModelRows: Int = DefaultMaxModelRows): DataFrame =
    scoreRouted(docs, docs, carry, maxModelRows)

  /** The ONE collect-vs-join routing decision, shared by every batch
    * scoring surface (scoreDocs scores the training frame itself;
    * corpusPrepLm scores gate survivors against the full-corpus model):
    * an under-ceiling model collects and scores in-row, an over-ceiling
    * model routes through the never-collected join twin. */
  def scoreRouted(scoreFrame: DataFrame, trainFrame: DataFrame,
      carry: Seq[String] = Nil,
      maxModelRows: Int = DefaultMaxModelRows): DataFrame =
    collectModelFrom(trainFrame, maxModelRows) match {
      case Some(m) => scoreCollected(scoreFrame, m, carry)
      case None => scoreAgainstJoined(scoreFrame, trainModel(trainFrame), carry)
    }

  /** Driver-collected form of [[LmModel]]: plain count maps (the bigram
    * key is `"w1 w2"` — tokens are whitespace-split, so the space join is
    * unambiguous) plus the smoothing totals. The collect is
    * vocabulary-sized by the model contract (§1 in the header) — the SAME
    * bound that made the model tables broadcast-joinable makes them
    * collectable, and a map the executor probes in-row is strictly
    * cheaper than three hash-join probes per exploded bigram row. */
  case class CollectedLm(uni: Map[String, Long], bi: Map[String, Long],
      nTrain: Double, vTrain: Double)

  def collectModel(model: LmModel): CollectedLm =
    fromRows(model.uni.collect(), model.bi.collect())

  /** [[collectModel]] with the same plan-level-`limit` driver bound as
    * [[collectModelFrom]]: at most ceiling + 1 rows ever reach the driver
    * across the two model tables (no counting pre-pass — the limit IS the
    * size check). None = over ceiling, fall back to the join scorer. */
  private[graft] def collectModelBounded(model: LmModel,
      maxModelRows: Int): Option[CollectedLm] = {
    val uniRows = model.uni.limit(maxModelRows + 1).collect()
    if (uniRows.length > maxModelRows) return None
    val rem = maxModelRows - uniRows.length
    val biRows = model.bi.limit(rem + 1).collect()
    if (biRows.length > rem) return None
    Some(fromRows(uniRows, biRows))
  }

  private def fromRows(uniRows: Array[org.apache.spark.sql.Row],
      biRows: Array[org.apache.spark.sql.Row]): CollectedLm = {
    val uni = uniRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val bi = biRows
      .map(r => (r.getString(0) + " " + r.getString(1)) -> r.getLong(2)).toMap
    // SUM(cu)::DOUBLE over exact longs and COUNT(*) — same values the
    // totals frame computes (empty-model totals are handled by the scorer:
    // backoff terms go NULL exactly like `NULL + v_train` does in SQL)
    CollectedLm(uni, bi, uni.valuesIterator.sum.toDouble, uni.size.toDouble)
  }

  /** Per-doc score struct of the in-row scorer — field-for-field the
    * aggregate the joined path's groupBy produced (`None` ≡ SQL NULL). */
  case class LmDocScore(n_bigrams: Long, bigram_hit_rate: Option[Double],
      oov_rate: Option[Double], avg_logprob: Option[Double])

  /** In-row replay of the joined path's per-bigram expressions, summed in
    * array order — bit-identical to the explode/join/agg pipeline because
    * (a) a doc's exploded rows are contiguous in one partition, so the
    * HashAggregate accumulated its doubles in exactly this order, (b) the
    * per-term arithmetic is the same IEEE ops (`cb·1.0/cu1`,
    * `0.4·(cu2+1)/(n+v)`), and (c) `log10` is `StrictMath.log10` — what
    * Spark's codegen'd `LOG10` emits (`java.lang.StrictMath.log10`,
    * verified against the 4.1.2 catalyst jar). PipelineSpec pins the
    * equivalence frame-for-frame. */
  private def scoreToks(m: CollectedLm, toks: Seq[String]): LmDocScore = {
    if (toks == null || toks.length < 2) return LmDocScore(0L, None, None, None)
    val modelNonEmpty = m.vTrain > 0
    var i = 0; var n = 0L; var lpN = 0L
    var hitSum = 0.0; var oovSum = 0.0; var lpSum = 0.0
    while (i < toks.length - 1) {
      val w1 = toks(i); val w2 = toks(i + 1)
      val cb = m.bi.getOrElse(w1 + " " + w2, -1L)
      n += 1
      if (cb >= 0) {
        hitSum += 1.0
        if (m.uni.contains(w2)) () else oovSum += 1.0
        // mirror the join semantics exactly: a bigram whose w1 is MISSING
        // from uni (impossible for a consistently-trained model, reachable
        // from a hand-built CollectedLm) yields a NULL lp term there — skip
        // it instead of throwing on the unchecked map apply. A PRESENT
        // cu1 = 0 is not NULL in SQL: cb/0 is +Infinity on both paths, so
        // the term is included (>= 0, not > 0)
        val cu1 = m.uni.getOrElse(w1, -1L)
        if (cu1 >= 0) { lpSum += StrictMath.log10(cb * 1.0 / cu1); lpN += 1 }
      } else {
        val cu2 = m.uni.getOrElse(w2, -1L)
        if (cu2 < 0) oovSum += 1.0
        if (modelNonEmpty) { // NULL totals make the SQL backoff term NULL
          lpSum += StrictMath.log10(
            Backoff * (math.max(cu2, 0L) + 1) / (m.nTrain + m.vTrain))
          lpN += 1
        }
      }
      i += 1
    }
    LmDocScore(n, Some(hitSum / n), Some(oovSum / n),
      if (lpN > 0) Some(lpSum / lpN) else None)
  }

  /** Scores any (doc_id, text, carry…) frame against an already-trained
    * model — the reusable half ([[scoreDocs]] for the self-trained batch
    * query, [[graft.streaming.StreamingLm]] and the corpus-prep LM gate
    * for bounded/streamed scoring).
    *
    * Execution is MAP-ONLY: the model is collected once (vocabulary-sized)
    * and broadcast, and every doc scores in-row over its token array — no
    * bigram explode, no join, no shuffle at all on the corpus side. The
    * pre-round-9 explode + 3-broadcast-join + per-doc-agg pipeline is kept
    * as [[scoreAgainstJoined]]: it is the shape to fall back to if a model
    * ever outgrew the driver, and the spec twin that proves the in-row
    * scorer reproduces it bit-for-bit. */
  def scoreAgainst(docs: DataFrame, model: LmModel,
      carry: Seq[String] = Nil,
      maxModelRows: Int = DefaultMaxModelRows): DataFrame =
    collectModelBounded(model, maxModelRows) match {
      case Some(m) => scoreCollected(docs, m, carry)
      case None => scoreAgainstJoined(docs, model, carry)
    }

  /** Single-pass model collect straight from the corpus frame: ONE
    * aggregation over [[bgsAllSpark]] carries both count families (every
    * token appears exactly once as w1; bigrams are the non-null-w2 rows),
    * so the per-query model build costs one job instead of the separate
    * unigram and bigram jobs [[collectModel]] pays. Counts are exact longs
    * summed on the driver — identical maps, any fold order.
    *
    * Returns None — COLLECTING NOTHING — when the aggregated model exceeds
    * `maxModelRows` rows: the `limit(maxModelRows + 1)` sits in the PLAN,
    * so the driver never fetches more than the ceiling + 1 rows no matter
    * how Heaps-law-explosive the bigram vocabulary gets; callers fall back
    * to the broadcast-join scorer. */
  def collectModelFrom(docs: DataFrame,
      maxModelRows: Int = DefaultMaxModelRows): Option[CollectedLm] = {
    val width = docs.sparkSession.sparkContext.defaultParallelism
    val rows = docs.filter(col("lang") === TrainLang).repartition(width)
      .selectExpr(toksSpark).selectExpr(bgsAllSpark)
      .selectExpr("inline(bgs)")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .limit(maxModelRows + 1).collect()
    if (rows.length > maxModelRows) return None
    val uni = new scala.collection.mutable.HashMap[String, Long]()
    val bi = new scala.collection.mutable.HashMap[String, Long]()
    rows.foreach { r =>
      val (w1, c) = (r.getString(0), r.getLong(2))
      uni.updateWith(w1) { p => Some(p.getOrElse(0L) + c) }
      if (!r.isNullAt(1)) bi.update(w1 + " " + r.getString(1), c)
    }
    Some(CollectedLm(uni.toMap, bi.toMap,
      uni.valuesIterator.sum.toDouble, uni.size.toDouble))
  }

  /** The in-row scoring stage shared by both model routes. */
  def scoreCollected(docs: DataFrame, m: CollectedLm,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = Seq("doc_id") ++ carry
    val bc = docs.sparkSession.sparkContext.broadcast(m)
    val f = udf((toks: Seq[String]) => scoreToks(bc.value, toks))
    docs.selectExpr(keep :+ toksSpark: _*)
      .withColumn("s", f(col("toks")))
      .selectExpr(keep ++ Seq("s.n_bigrams AS n_bigrams",
        "s.bigram_hit_rate AS bigram_hit_rate", "s.oov_rate AS oov_rate",
        "s.avg_logprob AS avg_logprob",
        // same engine-evaluated finalization text as before (codegen'd
        // java.lang.Math.pow), so ppl bits are untouched by the rewrite
        "CASE WHEN s.avg_logprob IS NOT NULL THEN pow(10e0, -s.avg_logprob) END AS ppl"): _*)
  }

  /** The explode + broadcast-join scoring pipeline (pre-round-9 shape) —
    * see [[scoreAgainst]] for why it was demoted to a twin. */
  private[graft] def scoreAgainstJoined(docs: DataFrame, model: LmModel,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = Seq("doc_id") ++ carry
    val toks = docs.selectExpr(keep :+ toksSpark: _*)
    val pairs = toks.selectExpr(keep :+ bgsSpark: _*)
      .selectExpr(keep :+ "inline_outer(bgs)": _*)
    val (uni, bi, totals) = (model.uni, model.bi, model.totals)
    val scored = pairs
      .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("cu1"))), Seq("w1"), "left")
      .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("cu2"))), Seq("w2"), "left")
      .join(broadcast(bi), Seq("w1", "w2"), "left")
      .crossJoin(broadcast(totals))
      .selectExpr(keep ++ Seq(
        "CASE WHEN w1 IS NULL THEN NULL WHEN cb IS NOT NULL THEN 1e0 ELSE 0e0 END AS hit",
        "CASE WHEN w1 IS NULL THEN NULL WHEN cu2 IS NULL THEN 1e0 ELSE 0e0 END AS oov",
        "CASE WHEN w1 IS NULL THEN NULL WHEN cb IS NOT NULL THEN log10(cb * 1e0 / cu1) " +
          s"ELSE log10($BackoffSql * (COALESCE(cu2, 0) + 1) / (n_train + v_train)) END AS lp"): _*)
    scored.groupBy(keep.map(col): _*).agg(
        count(col("hit")).as("n_bigrams"),
        avg("hit").as("bigram_hit_rate"),
        avg("oov").as("oov_rate"),
        avg("lp").as("avg_logprob"))
      .selectExpr(keep ++ Seq("n_bigrams", "bigram_hit_rate", "oov_rate",
        "avg_logprob",
        "CASE WHEN avg_logprob IS NOT NULL THEN pow(10e0, -avg_logprob) END AS ppl"): _*)
  }

  def lmScore(spark: SparkSession, dir: String): DataFrame =
    scoreDocs(table(spark, dir, "documents").select("doc_id", "lang", "text"))
      .orderBy("doc_id")

  /** Shared oracle CTE prefix mirroring [[scoreAgainst]]'s frames: the
    * model always trains on `documents`' [[TrainLang]] slice; scoring runs
    * over `scoreRel` (any relation exposing doc_id + text). DuckDB zips
    * the two shifted slices via parallel unnest (its native bigram idiom —
    * 0-bigram docs come back on the spine LEFT JOIN instead of
    * `inline_outer`). */
  private[pipeline] def scoredCtesFor(scoreRel: String): String =
    s"mtoks AS (SELECT doc_id, lang, $toksDuck FROM documents), " +
      "mpairs AS (SELECT lang, unnest(toks[1:len(toks)-1]) AS w1, " +
      "unnest(toks[2:len(toks)]) AS w2 FROM mtoks), " +
      s"uni AS (SELECT w, COUNT(*) AS cu FROM (SELECT unnest(toks) AS w FROM mtoks " +
      s"WHERE lang = '$TrainLang') u GROUP BY 1), " +
      s"bi AS (SELECT w1, w2, COUNT(*) AS cb FROM mpairs WHERE lang = '$TrainLang' GROUP BY 1, 2), " +
      "tot AS (SELECT SUM(cu)::DOUBLE AS n_train, COUNT(*)::DOUBLE AS v_train FROM uni), " +
      s"stoks AS (SELECT doc_id, $toksDuck FROM $scoreRel), " +
      "spairs AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, " +
      "unnest(toks[2:len(toks)]) AS w2 FROM stoks), " +
      "scored AS (SELECT p.doc_id, " +
      "CASE WHEN cb IS NOT NULL THEN 1e0 ELSE 0e0 END AS hit, " +
      "CASE WHEN u2.cu IS NULL THEN 1e0 ELSE 0e0 END AS oov, " +
      "CASE WHEN cb IS NOT NULL THEN log10(cb * 1e0 / u1.cu) " +
      s"ELSE log10($BackoffSql * (COALESCE(u2.cu, 0) + 1) / (n_train + v_train)) END AS lp " +
      "FROM spairs p LEFT JOIN uni u1 ON p.w1 = u1.w LEFT JOIN uni u2 ON p.w2 = u2.w " +
      "LEFT JOIN bi ON p.w1 = bi.w1 AND p.w2 = bi.w2 CROSS JOIN tot), " +
      "agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, AVG(hit) AS bigram_hit_rate, " +
      "AVG(oov) AS oov_rate, AVG(lp) AS avg_logprob FROM scored GROUP BY 1)"

  def lmScoreSql: String =
    s"WITH ${scoredCtesFor("documents")} " +
      "SELECT t.doc_id, COALESCE(n_bigrams, 0)::BIGINT AS n_bigrams, " +
      "bigram_hit_rate, oov_rate, avg_logprob, " +
      "CASE WHEN avg_logprob IS NOT NULL THEN pow(10e0, -avg_logprob) END AS ppl " +
      "FROM stoks t LEFT JOIN agg ON t.doc_id = agg.doc_id ORDER BY t.doc_id"

  /** Production-shape family runner: scores the corpus ONCE (cached) and
    * derives all three LM surfaces — per-doc scores, per-source rollup,
    * CCNet ppl buckets — from the shared frame. This is the deployment
    * cost; the bench's per-query cache-cleared runs re-pay the scoring DAG
    * once per query by harness construction. */
  def lmFamilyShared(spark: SparkSession, dir: String,
      approx: Boolean = true): Seq[DataFrame] = {
    val docs = table(spark, dir, "documents")
    val scored = scoreDocs(docs.select("doc_id", "source", "lang", "text"),
      carry = Seq("source")).cache()
    val perDoc = scored.orderBy("doc_id")
    val bySource = scored.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        count(col("avg_logprob")).as("n_scored"),
        avg("oov_rate").as("mean_oov_rate"),
        avg("avg_logprob").as("mean_logprob"))
      .orderBy("source")
    val (t1, t2) = pplTerciles(scored, approx)
    val buckets = scored.withColumn("bucket", bucketExpr(t1, t2))
      .groupBy("source", "bucket").agg(
        count(lit(1)).as("n_docs"), r6(avg("ppl")).as("mean_ppl"))
      .orderBy("source", "bucket")
    Seq(perDoc, bySource, buckets)
  }

  /** Per-source rollup — the artifact a corpus filter actually thresholds
    * on (CCNet buckets sources by LM score the same way). */
  def lmScoreBySource(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    scoreDocs(docs.select("doc_id", "source", "lang", "text"), carry = Seq("source"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        count(col("avg_logprob")).as("n_scored"),
        avg("oov_rate").as("mean_oov_rate"),
        avg("avg_logprob").as("mean_logprob"))
      .orderBy("source")
  }

  def lmScoreBySourceSql: String =
    s"WITH ${scoredCtesFor("documents")} " +
      "SELECT d.source, COUNT(*) AS n_docs, COUNT(agg.avg_logprob) AS n_scored, " +
      "AVG(agg.oov_rate) AS mean_oov_rate, AVG(agg.avg_logprob) AS mean_logprob " +
      "FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id " +
      "GROUP BY 1 ORDER BY 1"

  /** CCNet-style quality bucketing (Wenzek et al. 2020, §4.3 "perplexity
    * buckets"): rank every document by LM perplexity and cut the scored
    * corpus at the terciles — `head` (lowest ppl = most fluent), `middle`,
    * `tail`; docs the model can't score (no bigrams) report as `unscored`.
    * Training pipelines sample from the buckets (keep head+middle, drop or
    * downweight tail), so the artifact is per (source, bucket) counts +
    * mean perplexity.
    *
    * Scale shape: one scoring pass (broadcast model joins, see [[lmScore]])
    * → a 1-row tercile aggregate → one counting pass with the two
    * thresholds as literals (z_outliers' broadcast-stats pattern). The
    * oracle path uses EXACT `percentile` (matches DuckDB `quantile_cont`
    * bit-for-bit); `approx = true` (the bench/100 TB surface) swaps in
    * `approx_percentile`'s fixed-size mergeable sketch, since exact
    * percentile buffers every ppl value per agg buffer. */
  /** Tercile thresholds (t_head, t_middle) over a frame's non-null `ppl`
    * column — the batch-side fit a streaming gate replays as literals
    * ([[graft.streaming.StreamingLm.bucketStream]]). Returns (0, 0) when
    * nothing is scorable (every doc then buckets as `unscored` before the
    * thresholds are ever compared). */
  def pplTerciles(scoredPpl: DataFrame, approx: Boolean = false): (Double, Double) = {
    val pcts = s"array(${1.0 / 3}, ${2.0 / 3})"
    val trow = scoredPpl.filter(col("ppl").isNotNull)
      .agg((if (approx) expr(s"approx_percentile(ppl, $pcts, ${graft.drift.SketchAccuracy})")
            else expr(s"percentile(ppl, $pcts)")).as("t")).collect()(0)
    if (trow.isNullAt(0)) (0.0, 0.0)
    else { val t = trow.getSeq[Double](0); (t(0), t(1)) }
  }

  /** Bucket expression shared by the batch query and the streaming gate. */
  private[graft] def bucketExpr(t1: Double, t2: Double) =
    when(col("ppl").isNull, "unscored")
      .when(col("ppl") <= t1, "head")
      .when(col("ppl") <= t2, "middle")
      .otherwise("tail")

  def lmPplBuckets(spark: SparkSession, dir: String, approx: Boolean = false,
      scope: Option[CacheScope] = None): DataFrame = {
    val docs = table(spark, dir, "documents")
    val scoredBare = scoreDocs(docs.select("doc_id", "source", "lang", "text"),
        carry = Seq("source"))
      .select(col("doc_id"), col("source"), col("ppl"))
    val scored = scope.fold(scoredBare.cache())(_.cached(scoredBare))
    val (t1, t2) = pplTerciles(scored, approx)
    scored.withColumn("bucket", bucketExpr(t1, t2))
      .groupBy("source", "bucket").agg(
        count(lit(1)).as("n_docs"),
        r6(avg("ppl")).as("mean_ppl"))
      .orderBy("source", "bucket")
  }

  def lmPplBucketsSql: String =
    s"WITH ${scoredCtesFor("documents")}, " +
      "sc AS (SELECT d.doc_id, d.source, " +
      "CASE WHEN agg.avg_logprob IS NOT NULL THEN pow(10e0, -agg.avg_logprob) END AS ppl " +
      "FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id), " +
      "thr AS (SELECT quantile_cont(ppl, 1e0/3) AS t1, quantile_cont(ppl, 2e0/3) AS t2 " +
      "FROM sc WHERE ppl IS NOT NULL), " +
      "b AS (SELECT source, ppl, CASE WHEN ppl IS NULL THEN 'unscored' " +
      "WHEN ppl <= t1 THEN 'head' WHEN ppl <= t2 THEN 'middle' ELSE 'tail' END AS bucket " +
      "FROM sc, thr) " +
      "SELECT source, bucket, COUNT(*)::BIGINT AS n_docs, ROUND(AVG(ppl), 6) AS mean_ppl " +
      "FROM b GROUP BY 1, 2 ORDER BY 1, 2"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lm_score" -> ((s, d) => lmScore(s, d)),
    "lm_score_by_source" -> ((s, d) => lmScoreBySource(s, d)),
    "lm_ppl_buckets" -> ((s, d) => lmPplBuckets(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "lm_score" -> lmScoreSql,
    "lm_score_by_source" -> lmScoreBySourceSql,
    "lm_ppl_buckets" -> lmPplBucketsSql,
  )
}
