package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{CacheScope, r6, table}

/** Document deduplication for training-data pipelines: exact (hash groups),
  * n-gram Jaccard (df-capped), MinHash+LSH banding, SimHash, per-doc
  * near-dup cluster ids (distributed min-label connected components),
  * benchmark decontamination (cross-set shingle containment), and
  * source-level overlap (shingle-set Jaccard between feeds).
  *
  * Scale design (100 TB): every path avoids the O(n²) all-pairs join —
  * exact dedup is a hash `groupBy`; Jaccard joins only on shared shingles
  * (shuffle keyed by shingle, so co-occurring docs meet without a cross
  * join); MinHash compresses each doc to k minima computed in ONE
  * `groupBy(doc)` pass, and LSH banding turns near-dup search into an
  * equi-join on band signatures — the classic shingle→minhash→band→bucket
  * pipeline. SimHash reduces each doc to one 60-bit word; pair search
  * equi-joins on 10-bit chunks (pigeonhole banding) before the popcount
  * filter. All hash primitives (md5-hex → integer, affine
  * mod-prime) are chosen to be reproducible in DuckDB for the oracle.
  */
object Dedup {

  // ------------------------------------------------------------ exact

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"))
      .selectExpr("n_docs", "n_distinct_texts", "n_docs - n_distinct_texts AS n_dup_docs")

  val dedupExactSql: String =
    "SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_distinct_texts, " +
      "COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs FROM documents"

  // ------------------------------------------------ word-trigram shingles

  /** Distinct word-trigram shingles per doc over an arbitrary (doc_id, text)
    * frame (Spark): explode of an in-plan sliding window — no UDF,
    * whole-stage codegen. Parameterized by frame so the corpus-prep funnel
    * can shingle ONLY its gate survivors (at 100 TB, shingling docs the
    * quality gate already dropped is wasted shuffle). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))")).as("sh"))

  private[pipeline] def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(table(spark, dir, "documents"))

  /** DuckDB mirror of [[shinglesOf]] (1-based list indexing) over relation
    * `rel`, which must expose (doc_id, text). */
  private[pipeline] def shinglesSqlFrom(rel: String): String =
    "SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM " +
      s"(SELECT doc_id, regexp_split_to_array(text, '\\s+') AS w FROM $rel) t " +
      "WHERE len(w) >= 3"

  private[pipeline] val shinglesSql: String = shinglesSqlFrom("documents")

  // --------------------------------------------------- n-gram Jaccard

  val JaccardThreshold = 0.8

  /** Exact trigram-Jaccard near-dup pairs (J ≥ 0.8). The join is keyed on
    * shingle — only documents sharing a shingle ever meet.
    *
    * SMALL-CORPUS VERIFICATION BASELINE ONLY: per-shingle fan-out is
    * O(df²), so stopword-like trigrams make this a skew bomb at scale.
    * The production dedup surface is [[ngramJaccardCapped]] (doc-frequency
    * ceiling) or the banded paths ([[minhashLsh]], [[simhashPairs]]) —
    * [[Dedup.dedupe]] defaults to the capped variant. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardCapped(spark, dir, maxDfFrac = 1.0, maxDfAbs = MaxShingleDfAbs)

  // The TRULY uncapped all-pairs baseline was retired from the library in
  // round 13 (it had been test-only since round 9): its O(df²) per-shingle
  // fan-out is the one plan shape that dies at 100×, so src/main no longer
  // ships any code path that can emit it. The capped≡uncapped verification
  // pin lives in test scope (graft.TestBaselines) against bounded corpora.
  // The gate name `ngram_jaccard` routes through [[ngramJaccardCapped]]
  // with maxDfFrac = 1.0 (no fractional exclusion — baseline semantics)
  // and the absolute [[MaxShingleDfAbs]] skew ceiling, which PipelineSpec
  // pins as a no-op on the gate corpora (max shingle df ≈ 25 at sf0.1, two
  // orders of magnitude under the ceiling).

  def ngramJaccardSql: String = ngramJaccardCappedSqlWith(1.0, MaxShingleDfAbs)

  /** Corpus fraction above which a shingle is "hot" and excluded from the
    * capped variant's shingle universe. */
  val MaxShingleDocFrac = 0.2

  /** Absolute doc-frequency ceiling for the capped variant. The fractional
    * cap alone is RELATIVE: on a 10¹⁰-doc corpus a shingle in 19.9% of
    * documents still passes it and contributes ~(2·10⁹)² candidate pairs.
    * The effective ceiling is min(frac·n, [[MaxShingleDfAbs]]), so per-key
    * fan-out is bounded by ~10⁸ pairs regardless of corpus size. */
  val MaxShingleDfAbs = 10000L

  /** [[ngramJaccard]] with a doc-frequency ceiling: shingles occurring in
    * more than min([[MaxShingleDocFrac]] of documents, [[MaxShingleDfAbs]])
    * docs (stopword-like trigrams) are dropped from the universe BEFORE the
    * shingle-keyed join, and the Jaccard is exact over the remaining sets.
    * At scale hot shingles are the join's skew bombs — each contributes
    * O(df²) candidate pairs — so the fractional cap bounds fan-out on small
    * corpora and the absolute cap takes over once frac·n crosses it; near-
    * dup pairs (which share many rare shingles) keep their high scores. */
  def ngramJaccardCapped(spark: SparkSession, dir: String,
      maxDfFrac: Double = MaxShingleDocFrac,
      maxDfAbs: Long = MaxShingleDfAbs): DataFrame = {
    val nDocs = table(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val dfreq = shingles(spark, dir).groupBy("sh").agg(count(lit(1)).as("df"))
    val keepSh = dfreq.crossJoin(broadcast(nDocs))
      .filter(col("df") <= least(col("n_docs") * maxDfFrac, lit(maxDfAbs.toDouble)))
      .select("sh")
    val tri = shingles(spark, dir).join(keepSh, "sh").cache()
    val sz = tri.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = tri.as("a").join(tri.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .selectExpr("doc_a", "doc_b", "ROUND(i * 1e0 / (na + nb - i), 6) AS jaccard")
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy("doc_a", "doc_b")
  }

  def ngramJaccardCappedSql: String =
    ngramJaccardCappedSqlWith(MaxShingleDocFrac, MaxShingleDfAbs)

  private def ngramJaccardCappedSqlWith(frac: Double, dfAbs: Long): String =
    s"WITH tri0 AS ($shinglesSql), " +
      s"hot AS (SELECT sh FROM tri0 GROUP BY sh HAVING COUNT(*) > " +
      s"LEAST((SELECT COUNT(*) FROM documents) * $frac, $dfAbs.0)), " +
      "tri AS (SELECT * FROM tri0 WHERE sh NOT IN (SELECT sh FROM hot)), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i FROM tri a " +
      "JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, ROUND(i * 1e0 / (sa.n + sb.n - i), 6) AS jaccard " +
      "FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b " +
      s"WHERE ROUND(i * 1e0 / (sa.n + sb.n - i), 6) >= $JaccardThreshold ORDER BY doc_a, doc_b"

  /** Corpus size above which [[dedupe]] routes to the banded MinHash-LSH
    * path: even df-capped exact Jaccard pays Σ min(df, cap)² join rows,
    * which past ~10⁷ docs dominates the k-hash signature cost LSH pays
    * instead. */
  val DedupeRouteMaxDocs = 10000000L

  /** Default near-duplicate surface: exact capped Jaccard on corpora small
    * enough to afford it, banded MinHash-LSH (same (doc_a, doc_b, jaccard)
    * shape, candidate-verified scores) above [[DedupeRouteMaxDocs]] docs.
    * The uncapped [[ngramJaccard]] exists to verify both on small
    * fixtures. The routing count is one parquet-footer job. */
  def dedupe(spark: SparkSession, dir: String,
      maxDfFrac: Double = MaxShingleDocFrac): DataFrame =
    if (table(spark, dir, "documents").count() > DedupeRouteMaxDocs)
      minhashLsh(spark, dir).filter(col("jaccard") >= JaccardThreshold)
        .select("doc_a", "doc_b", "jaccard")
    else ngramJaccardCapped(spark, dir, maxDfFrac)

  // ------------------------------------------------------ MinHash + LSH

  /** k=16 affine hashes mod a >2³² prime; coefficients from a fixed seed so
    * both engines embed identical literals. a < 2²⁰ keeps a*x < 2⁶³ (DuckDB
    * errors on BIGINT overflow; Spark would silently wrap). */
  val MinhashPrime = 4294967311L
  val NumHashes = 16
  val BandRows = 4 // → 4 bands
  private val hashCoefs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumHashes)((rnd.nextInt(1000000).toLong + 1, rnd.nextInt(1000000).toLong))
  }

  /** Shingle → integer: first 8 hex chars of md5 (shared with DuckDB). */
  private val shingleCodeSpark = "CAST(conv(substring(md5(sh), 1, 8), 16, 10) AS BIGINT)"
  private val shingleCodeDuck = "CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT)"

  /** DuckDB mirror of the per-doc minhash signature (ONE groupBy(doc) with
    * k MIN aggregates) over a shingle relation `triRel` exposing
    * (doc_id, sh). */
  private def signaturesSqlFromTri(triRel: String): String = {
    val mins = hashCoefs.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * x + $b) % $MinhashPrime) AS m$i"
    }.mkString(", ")
    s"SELECT doc_id, $mins FROM (SELECT doc_id, $shingleCodeDuck AS x FROM $triRel s) t GROUP BY doc_id"
  }

  /** Shared LSH scaffolding: the cached shingle frame plus the per-doc
    * (band, sig) rows derived from one 16-min signature aggregation.
    * Consumed by [[minhashPairsOf]] (self-join) and
    * [[incrementalDedup]] (batch-vs-corpus join). */
  private[graft] def triAndBands(docs: DataFrame,
      cached: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    // one cached shingle frame feeds signatures, sizes, and verification
    // (1 row per (doc, shingle) — bounded by the corpus token count)
    val tri = cached(shinglesOf(docs))
    (tri, bandsFromTri(tri, cached))
  }

  /** Per-(band, signature) bucket membership ceiling — the band-join twin
    * of [[MaxShingleDfAbs]] (round-12 verdict item 2). Banding bounds how
    * many BUCKETS a doc lands in, and the df ceiling bounds shingle
    * fan-out, but neither caps how many docs share one (band, sig)
    * bucket: a duplicate-heavy shard at 100 TB puts B near-identical
    * documents into the same bucket and the candidate equi-join emits
    * B² pairs. Above the cap a bucket keeps only its [[MaxBandBucket]]
    * lowest doc_ids (a deterministic representative set — evicted docs
    * still participate through their other bands, where near-identical
    * content collides again), so per-bucket join fan-out is bounded by
    * ~10⁸ pairs regardless of duplicate density. A no-op on the gate
    * corpora (max bucket ≈ tens at sf0.1 — DedupSpec pins it), exactly
    * like the df ceiling. */
  val MaxBandBucket = 10000L

  /** Per-doc (band, sig) rows from ANY (doc_id, sh) shingle frame — the
    * signature aggregation is shingle-agnostic (word trigrams here,
    * frame hashes in [[Multimodal.mediaNeardup]]: any string set works,
    * since the shingle code is md5-based). Returns the RAW band frame —
    * the bucket membership cap (see [[MaxBandBucket]]) is applied by the
    * JOIN consumers via [[bandReps]] on ONE side only, so every doc
    * remains reachable as the other side of a candidate pair. */
  private[graft] def bandsFromTri(tri: DataFrame,
      cached: DataFrame => DataFrame): DataFrame = {
    val mins = hashCoefs.zipWithIndex.map { case ((a, b), i) =>
      expr(s"MIN(($a * x + $b) % $MinhashPrime)").as(s"m$i")
    }
    // cached: the band join consumes the signatures on both sides;
    // tri's cache stops a re-scan but not a second 16-min aggregation
    val sigs = cached(tri
      .select(col("doc_id"), expr(shingleCodeSpark).as("x"))
      .groupBy("doc_id").agg(mins.head, mins.tail: _*))
    val nBands = NumHashes / BandRows
    val bandRows = (0 until nBands).map { bIdx =>
      val sig = (0 until BandRows).map(r => s"m${bIdx * BandRows + r}").mkString("concat_ws(',', ", ", ", ")")
      s"$bIdx, $sig"
    }.mkString(", ")
    val banded = sigs.select(col("doc_id"),
      expr(s"stack($nBands, $bandRows) as (band, sig)"))
    banded
  }

  /** ONE-SIDED bucket representatives for a band-join's lower-id /
    * candidate side: buckets over `maxBucket` keep their cap lowest
    * doc_ids. Applied to one side only, a hot bucket of B docs emits
    * B×cap candidate pairs instead of B² — and, unlike capping the whole
    * band frame, EVERY doc stays reachable from the uncapped side, so a
    * shard of B identical docs still flags all B−1 copies against the
    * representatives (capping both sides silently let evicted duplicates
    * skip dedup entirely — round-13 review finding).
    *
    * Cost is a two-level cheapness ladder: (1) a corpus of ≤ maxBucket
    * docs cannot host an over-cap bucket — callers pass the doc count
    * (cheap parquet count) and under-cap corpora return the frame UNTOUCHED, the guard
    * absent from their plans (round-13 profiling: every always-on shape
    * paid 1–6 s/query of fixed small-stage churn at gate SF — hot-split
    * 135 s vs 68 s unguarded family CPU, eager probe ~124 s, always-on
    * window ~117 s; the count branch reads within noise of unguarded);
    * (2) an armed corpus windows ONLY actually-hot buckets, found by one
    * partial-aggregated count into a tiny broadcast frame. The healthy
    * armed cost is NOT free (round-16 ALTERNATING in-JVM A/Bs, recorded
    * as `*_armed_overhead` in ARMED_PROBE.json: +12% cpu at 25k docs,
    * +41% cpu / +35% wall at 250k — the hot-probe aggregation, two
    * broadcast probes, and the armed-frame cache each pass the full
    * band frame once); it buys a hard per-bucket output bound where
    * the unguarded join is unbounded B² on a hot shard. The
    * armed-result cache itself measured a wash at both 25k and 250k
    * (kept: it also serves the twice-consumed candidate frame).
    *
    * The armed path delegates to [[Similarity.capCandidatesBy]] — ONE
    * implementation of the hot-probe + window + union guard for both the
    * dedup and ANN families (two hand-kept copies drifted once already;
    * round-13 ADVICE) — wrapping the armed result in `cached` because the
    * candidate-PAIR frame derived from it feeds both the
    * shingle-intersection and final-join subtrees downstream (the band
    * join itself consumes the armed frame on ONE side only, against the
    * raw bands frame — round-14 ADVICE corrected this rationale).
    *
    * `docsUpperBound` is REQUIRED (round-15; the r14 `-1` fallback
    * divided bands-rows by nBands, which UNDERESTIMATES membership on
    * any frame with fewer than NumHashes/BandRows rows per doc and could
    * silently skip arming on an over-cap corpus — a documented footgun
    * with no remaining caller: every production site already owns a
    * cheap parquet-footer doc count, and specs know their fixture
    * sizes). */
  private[graft] def bandReps(bands: DataFrame,
      cached: DataFrame => DataFrame,
      maxBucket: Long = MaxBandBucket,
      docsUpperBound: Long): DataFrame = {
    require(docsUpperBound >= 0L, "bandReps needs a non-negative doc-count bound")
    if (docsUpperBound <= maxBucket) bands
    else cached(Similarity.capCandidatesBy(bands, Seq("band", "sig"),
        "doc_id", maxBucket, sizeBound = docsUpperBound)
      .select("doc_id", "band", "sig"))
  }

  /** Per-row (no-explode) MinHash band signatures over a pre-split token
    * array column `w` — the SAME 16-min / 4-band signature [[triAndBands]]
    * computes via explode+groupBy, re-expressed as array higher-order
    * functions so it is a STATELESS projection usable on unbounded streams
    * (no aggregation, no state, no watermark). Docs with <3 tokens have no
    * shingles (the [[shinglesOf]] guard) and get NULL signatures — NULL
    * keys never match an equi-join, so short docs pass every band gate,
    * exactly like their absence from the batch band frame.
    * BandSigEquivalence is pinned by StreamingDriftSpec against
    * [[triAndBands]] on the same docs. */
  private[graft] def rowBandSigs(w: String): Seq[org.apache.spark.sql.Column] = {
    val shs = s"array_distinct(transform(sequence(0, size($w) - 3), " +
      s"i -> concat($w[i], ' ', $w[i+1], ' ', $w[i+2])))"
    val codes = s"transform($shs, sh -> CAST(conv(substring(md5(sh), 1, 8), 16, 10) AS BIGINT))"
    val mins = hashCoefs.map { case (a, b) =>
      s"array_min(transform($codes, x -> ($a * x + $b) % $MinhashPrime))"
    }
    val nBands = NumHashes / BandRows
    (0 until nBands).map { bIdx =>
      val sig = (0 until BandRows).map(r => mins(bIdx * BandRows + r))
        .mkString("concat_ws(',', ", ", ", ")")
      expr(s"CASE WHEN size($w) >= 3 THEN $sig END")
    }
  }

  /** The accepted corpus's per-band distinct signature sets — the static
    * side of the streaming increment gate ([[graft.streaming.StreamingIncrement]]);
    * a deployment persists these next to the corpus and re-reads them per
    * increment. Returns one (sig) frame per band.
    *
    * Pass a [[CacheScope]] from any long-lived caller (a streaming
    * service computing the sets at startup) so the corpus-sized shingle
    * and signature frames are released when the scope closes — the
    * default unscoped cache is only appropriate for Verify/Bench, which
    * clear the whole cache between queries. */
  def corpusBandSets(corpus: DataFrame,
      scope: Option[CacheScope] = None): Seq[DataFrame] = {
    val (_, bands) = triAndBands(corpus, df => scope.fold(df.cache())(_.cached(df)))
    val nBands = NumHashes / BandRows
    (0 until nBands).map { b =>
      bands.filter(col("band") === b).select("sig").distinct()
    }
  }

  /** Persist the corpus signature artifact — the increment-gate analogue
    * of [[writeClusters]]: computed once per corpus snapshot, re-read by
    * every subsequent increment (batch or stream) instead of re-scanning
    * the corpus. One parquet dir, partitioned by band. */
  def writeBandSets(corpus: DataFrame, path: String): Unit = {
    val (_, bands) = triAndBands(corpus, identity)
    bands.select("band", "sig").distinct()
      .write.mode("overwrite").partitionBy("band").parquet(path)
  }

  /** Read a persisted signature artifact back as the per-band frames
    * [[corpusBandSets]] computes, validating the contract up front. */
  def readBandSets(spark: SparkSession, path: String): Seq[DataFrame] = {
    val df = spark.read.parquet(path)
    require(Seq("band", "sig").forall(df.columns.contains),
      s"band-set artifact at $path must have (band, sig), got ${df.columns.mkString(",")}")
    val nBands = NumHashes / BandRows
    (0 until nBands).map { b =>
      df.filter(col("band") === b).select("sig")
    }
  }

  /** LSH candidates: docs sharing ≥1 band signature, then exact-Jaccard
    * verified. The candidate search is an equi-join on (band, signature),
    * and — crucially for scale — the verification Jaccard is computed ONLY
    * for candidate pairs: candidates are joined back onto the shingle table
    * by doc id, so the intersection groupBy sees O(|cands| × shingles/doc)
    * rows, never the O(Σ df²) all-co-shingled-pair stream LSH exists to
    * prune. Parameterized by docs frame ([[minhashLsh]] passes the full
    * `documents` table; the corpus-prep funnel passes its gate survivors). */
  def minhashPairsOf(docs: DataFrame,
      scope: Option[CacheScope] = None): DataFrame = {
    // a sweep-scoped caller (CorpusPipeline) registers the cached frames
    // for CacheManager-consistent release; the plain query surface caches
    // unscoped (Verify/Bench clear between queries)
    def cached(df: DataFrame) = scope.fold(df.cache())(_.cached(df))
    val (tri, bands) = triAndBands(docs, cached)
    // docs.count() (cheap, column-pruned) proves the cap a no-op for
    // under-cap corpora — see the bandReps cheapness ladder
    pairsFromTriAndBands(tri, bands, cached, docsUpperBound = docs.count())
  }

  /** Band self-join → candidate pairs → exact-Jaccard verification over
    * ANY (doc_id, sh) shingle frame + its band frame — the LSH pair
    * pipeline factored shingle-agnostic (see [[bandsFromTri]]). */
  private[graft] def pairsFromTriAndBands(tri: DataFrame, bands: DataFrame,
      cached: DataFrame => DataFrame = _.cache(),
      maxBucket: Long = MaxBandBucket,
      docsUpperBound: Long): DataFrame = {
    // the LOWER-id side carries the bucket cap ([[bandReps]]): every doc
    // still appears as doc_b, so a hot bucket's members all pair with the
    // representatives (bounded B×cap) and none escapes dedup
    val cands = bandReps(bands, cached, maxBucket, docsUpperBound).as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    val sz = tri.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // candidate-restricted intersection: expand each candidate pair by
    // doc_a's shingles, then equi-join doc_b's shingles on (doc_id, sh)
    val inter = cands.select("doc_a", "doc_b")
      .join(tri.as("a"), col("doc_a") === col("a.doc_id"))
      .join(tri.as("b"), col("doc_b") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    cands
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .selectExpr("doc_a", "doc_b", "n_shared_bands",
        "COALESCE(ROUND(i * 1e0 / (na + nb - i), 6), 0.0) AS jaccard")
      .orderBy("doc_a", "doc_b")
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(table(spark, dir, "documents"))

  /** DuckDB CTE chain mirroring [[minhashPairsOf]] over docs relation
    * `docsRel` — ends in `nd_pairs` with (doc_a, doc_b, n_shared_bands,
    * jaccard). Shared by [[minhashLshSql]] and the corpus-prep funnel's
    * near-dup stage. */
  private[graft] def minhashPairsCtes(docsRel: String): String =
    minhashPairsCtesFromTri(shinglesSqlFrom(docsRel))

  /** The same CTE chain over ANY (doc_id, sh) shingle SQL — the DuckDB
    * mirror of [[bandsFromTri]] + [[pairsFromTriAndBands]]. */
  private[graft] def minhashPairsCtesFromTri(triSql: String): String = {
    val nBands = NumHashes / BandRows
    val bandSelects = (0 until nBands).map { bIdx =>
      val sig = (0 until BandRows).map(r => s"m${bIdx * BandRows + r}").mkString("CONCAT_WS(',', ", ", ", ")")
      s"SELECT doc_id, $bIdx AS band, $sig AS sig FROM sigs"
    }.mkString(" UNION ALL ")
    s"tri AS ($triSql), sigs AS (${signaturesSqlFromTri("tri")}), " +
      s"bands AS ($bandSelects), " +
      "cands AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY 1), " +
      "inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i FROM cands c " +
      "JOIN tri a ON a.doc_id = c.doc_a JOIN tri b ON b.doc_id = c.doc_b AND b.sh = a.sh GROUP BY 1, 2), " +
      "nd_pairs AS (SELECT c.doc_a, c.doc_b, c.n_shared_bands, " +
      "COALESCE(ROUND(ix.i * 1e0 / (sa.n + sb.n - ix.i), 6), 0.0) AS jaccard " +
      "FROM cands c LEFT JOIN inter ix ON ix.doc_a = c.doc_a AND ix.doc_b = c.doc_b " +
      "JOIN sz sa ON sa.doc_id = c.doc_a JOIN sz sb ON sb.doc_id = c.doc_b)"
  }

  def minhashLshSql: String =
    s"WITH ${minhashPairsCtes("documents")} " +
      "SELECT doc_a, doc_b, n_shared_bands, jaccard FROM nd_pairs ORDER BY doc_a, doc_b"

  // ------------------------------------------- incremental (delta) dedup

  /** Incremental dedup — the daily-ingest contract: a NEW BATCH of
    * documents (here: the max-`source` feed, a deterministic stand-in for
    * "today's crawl") is deduplicated AGAINST the already-accepted corpus,
    * never corpus-against-itself. Two gates, mirroring the full pipeline's
    * exact→fuzzy funnel: md5 text identity against the corpus hash set,
    * then MinHash band collision verified at [[JaccardThreshold]] exact
    * Jaccard. Output is the one-row ingest report: batch/corpus sizes,
    * drops per gate, survivors and their id checksum (so the oracle pins
    * the exact kept set, not just its size).
    *
    * Scale shape: the band join is batch-bands × corpus-bands — an
    * equi-join whose left side is increment-sized, so daily cost is
    * O(batch + collisions), NOT O(corpus²); verification touches only
    * candidate pairs' shingles (the [[minhashPairsOf]] discipline). A
    * production deployment persists the corpus signature/band frame the
    * way [[writeClusters]] persists clusters and re-reads it per
    * increment (this query recomputes it because the testdata corpus
    * arrives in one parquet dir); within-batch duplicates are the
    * ordinary [[dedupe]] pass's job, not the increment gate's. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val bsrc = docs.agg(max("source").as("batch_source"))
    val tagged = docs.select("doc_id", "text", "source")
      .crossJoin(broadcast(bsrc))
      .withColumn("is_batch", col("source") === col("batch_source"))
      .cache()
    val batchIds = tagged.filter(col("is_batch")).select("doc_id")
    val corpusIds = tagged.filter(!col("is_batch")).select("doc_id")
    // gate 1: exact text identity vs the corpus hash set
    val exactDup = tagged.filter(col("is_batch"))
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(tagged.filter(!col("is_batch")).select(md5(col("text")).as("h")).distinct(),
        Seq("h"), "left_semi")
      .select("doc_id")
    // gate 2: LSH band collision, exact-Jaccard verified, exact dups excluded
    val (tri, bands) = triAndBands(docs, _.cache())
    // the CORPUS (candidate) side carries the bucket cap: a batch doc in a
    // hot bucket probes the cap lowest corpus ids instead of the whole
    // bucket. This is a documented RECALL trade, not a free bound: for a
    // bucket hot because of B near-identical corpus docs (the case the cap
    // exists for) the lowest-id representatives carry the same content, so
    // the keep/drop decision is unchanged — but a bucket hot from band
    // collisions of DIVERSE docs can evict a batch doc's one true near-dup
    // and admit the duplicate. The other 3 bands (where near-identical
    // content collides again) are the mitigation, same as every LSH
    // eviction; a deployment that can't accept the residual risk raises
    // MaxBandBucket for the increment gate

    val corpusSide = Similarity.capCandidatesBy(
      bands.join(corpusIds, "doc_id"), Seq("band", "sig"), "doc_id",
      MaxBandBucket, sizeBound = docs.count())
    val cands = bands.join(batchIds, "doc_id").as("a")
      .join(corpusSide.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      .groupBy(col("a.doc_id").as("batch_doc"), col("b.doc_id").as("corpus_doc"))
      .agg(count(lit(1)).as("n_shared_bands"))
    val sz = tri.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cands.select("batch_doc", "corpus_doc")
      .join(tri.as("a"), col("batch_doc") === col("a.doc_id"))
      .join(tri.as("b"), col("corpus_doc") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy("batch_doc", "corpus_doc").agg(count(lit(1)).as("i"))
    // nearRaw deliberately OMITS the exact-dup exclusion: the report below
    // derives near/kept from per-doc flags, so the exclusion is the
    // expression `nr && !ex` — and the expensive verify subtree appears in
    // the plan ONCE. (The r14 shape crossJoined five separate aggs, which
    // evaluated nearDup twice and exactDup three times per run — the bulk
    // of the round-14 bench row's wall on an idle host.)
    val nearRaw = cands.join(inter, Seq("batch_doc", "corpus_doc"))
      .join(sz.withColumnRenamed("doc_id", "batch_doc").withColumnRenamed("n", "na"), "batch_doc")
      .join(sz.withColumnRenamed("doc_id", "corpus_doc").withColumnRenamed("n", "nb"), "corpus_doc")
      .filter(expr(s"ROUND(i * 1e0 / (na + nb - i), 6) >= $JaccardThreshold"))
      .select(col("batch_doc").as("doc_id")).distinct()
    // one pass over the flagged batch: every gate count + the kept-id
    // checksum from a single aggregation (exactDup and nearRaw are unique
    // id sets, so the left joins cannot multiply batch rows)
    val flags = batchIds
      .join(exactDup.withColumn("ex0", lit(true)), Seq("doc_id"), "left")
      .join(nearRaw.withColumn("nr0", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ex0"), lit(false)).as("ex"),
        (coalesce(col("nr0"), lit(false)) && !coalesce(col("ex0"), lit(false))).as("nd"))
    bsrc
      .crossJoin(flags.agg(
        count(lit(1)).as("n_batch"),
        coalesce(sum(when(col("ex"), 1L).otherwise(0L)), lit(0L)).as("n_exact_dup"),
        coalesce(sum(when(col("nd"), 1L).otherwise(0L)), lit(0L)).as("n_near_dup"),
        coalesce(sum(when(!col("ex") && !col("nd"), 1L).otherwise(0L)), lit(0L)).as("n_kept"),
        coalesce(sum(when(!col("ex") && !col("nd"), col("doc_id")).otherwise(0L)), lit(0L))
          .as("kept_id_sum")))
      .crossJoin(corpusIds.agg(count(lit(1)).as("n_corpus")))
      .select("batch_source", "n_batch", "n_corpus", "n_exact_dup",
        "n_near_dup", "n_kept", "kept_id_sum")
  }

  def incrementalDedupSql: String =
    "WITH bsrc AS (SELECT MAX(source) AS batch_source FROM documents), " +
      "d AS (SELECT doc_id, text, source, source = batch_source AS is_batch " +
      "FROM documents CROSS JOIN bsrc), " +
      "exact_dup AS (SELECT DISTINCT b.doc_id FROM " +
      "(SELECT doc_id, md5(text) AS h FROM d WHERE is_batch) b " +
      "JOIN (SELECT DISTINCT md5(text) AS h FROM d WHERE NOT is_batch) c USING (h)), " +
      // reuses tri/sigs/bands/sz from the shared CTE chain; its full-corpus
      // cands/inter/nd_pairs CTEs go unreferenced and DuckDB never runs them
      s"${minhashPairsCtes("documents")}, " +
      "bb AS (SELECT bands.* FROM bands JOIN d USING (doc_id) WHERE is_batch), " +
      "cb AS (SELECT bands.* FROM bands JOIN d USING (doc_id) WHERE NOT is_batch), " +
      "xc AS (SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc " +
      "FROM bb a JOIN cb b ON a.band = b.band AND a.sig = b.sig GROUP BY 1, 2), " +
      "xi AS (SELECT c.batch_doc, c.corpus_doc, COUNT(*) AS i FROM xc c " +
      "JOIN tri a ON a.doc_id = c.batch_doc " +
      "JOIN tri b ON b.doc_id = c.corpus_doc AND b.sh = a.sh GROUP BY 1, 2), " +
      "near_dup AS (SELECT DISTINCT c.batch_doc AS doc_id FROM xc c " +
      "JOIN xi ON xi.batch_doc = c.batch_doc AND xi.corpus_doc = c.corpus_doc " +
      "JOIN sz sa ON sa.doc_id = c.batch_doc JOIN sz sb ON sb.doc_id = c.corpus_doc " +
      s"WHERE ROUND(xi.i * 1e0 / (sa.n + sb.n - xi.i), 6) >= $JaccardThreshold " +
      "AND c.batch_doc NOT IN (SELECT doc_id FROM exact_dup)), " +
      "kept AS (SELECT doc_id FROM d WHERE is_batch " +
      "AND doc_id NOT IN (SELECT doc_id FROM exact_dup) " +
      "AND doc_id NOT IN (SELECT doc_id FROM near_dup)) " +
      "SELECT batch_source, " +
      "(SELECT COUNT(*) FROM d WHERE is_batch)::BIGINT AS n_batch, " +
      "(SELECT COUNT(*) FROM d WHERE NOT is_batch)::BIGINT AS n_corpus, " +
      "(SELECT COUNT(*) FROM exact_dup)::BIGINT AS n_exact_dup, " +
      "(SELECT COUNT(*) FROM near_dup)::BIGINT AS n_near_dup, " +
      "(SELECT COUNT(*) FROM kept)::BIGINT AS n_kept, " +
      "(SELECT COALESCE(SUM(doc_id), 0) FROM kept)::BIGINT AS kept_id_sum " +
      "FROM bsrc"

  // ----------------------------------- near-dup connected components (CC)

  /** Iteration cap for [[neardupComponents]]' label propagation — min-label
    * needs (cluster diameter) rounds to converge, and near-dup clusters are
    * shallow (chains of documents each ≥0.8-similar to the next); 50 rounds
    * covers any plausible diameter while bounding a pathological input. */
  val MaxCcIterations = 50

  /** Connected components over the ≥`threshold` MinHash-LSH near-dup graph:
    * every doc in `docs` gets the MINIMUM doc_id reachable through verified
    * near-dup pairs as its `cluster_id` (isolated docs label themselves) —
    * the distributed analogue of the driver-side BFS used for the tiny
    * correlation-component graph, because here the node set is the corpus
    * and can never be collected.
    *
    * Scale shape: the edge list is O(true near-dup pairs) — already pruned
    * by LSH banding — and each propagation round is one equi-join + one
    * groupBy(min) on it, shuffled by doc id. Rounds = cluster diameter
    * (typically 1-2 for dup clusters). `localCheckpoint` truncates the
    * lineage each round so the plan doesn't grow with the iteration count
    * (on a cluster with a checkpoint dir, `checkpoint()` is the durable
    * drop-in). The fixpoint (min label per component) is unique, so the
    * result is deterministic regardless of join order. */
  def neardupComponents(docs: DataFrame,
      threshold: Double = JaccardThreshold,
      scope: Option[CacheScope] = None): DataFrame =
    propagateMinLabels(docs.select("doc_id"),
      minhashPairsOf(docs, scope).filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b"))

  /** The propagation core, separated from candidate generation so the
    * algorithm is testable against a driver-side union-find on arbitrary
    * graphs (and reusable for any distributed pair list): `nodes` =
    * (doc_id), `pairs` = undirected (doc_a, doc_b).
    *
    * The loop iterates ONLY over nodes that appear in an edge — a node
    * with no edge can never change its label, so singletons skip the loop
    * entirely and re-attach in one final left join. At corpus scale that
    * shrinks the per-round materialized frame from |corpus| rows to
    * |near-dup-pair endpoints| (a few % of docs), which is what makes
    * per-round `localCheckpoint` affordable.
    *
    * Cap semantics (pinned by EdgeCaseSpec): labels move ONE hop per round,
    * so a component converges in (diameter) rounds. If `maxIterations` is
    * hit first the result is still DETERMINISTIC — node i holds the minimum
    * label within `maxIterations` hops — but an over-diameter component
    * splits into several adjacent clusters instead of one. That failure
    * mode only under-merges (never mislabels across components), and a
    * real near-dup chain longer than 50 hops of pairwise-0.8-similar docs
    * is content drifting far past any dedup contract. */
  def propagateMinLabels(nodes: DataFrame, pairs: DataFrame,
      maxIterations: Int = MaxCcIterations): DataFrame = {
    // symmetrize via ONE pass + explode: a `union` of two selects over
    // `pairs` executes the (uncached) candidate pipeline once per branch —
    // at gate scale that doubled the whole LSH verify join inside the
    // first checkpoint (r16 profile)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // symmetric edges: every endpoint appears as src
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIterations) {
      val prop = labels.join(edges, col("doc_id") === col("src"))
        .groupBy(col("dst")).agg(min("cluster_id").as("nl"))
      // the convergence flag rides the checkpointed frame (the old shape
      // re-joined next⋈labels per round just to count label drops)
      val next = labels.join(prop, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nl"), col("cluster_id"))).as("cluster_id"),
          (coalesce(col("nl"), col("cluster_id")) < col("cluster_id")).as("__chg"))
        .localCheckpoint()
      changed = next.filter(col("__chg")).count()
      labels = next.select("doc_id", "cluster_id")
      iter += 1
    }
    nodes.select("doc_id")
      .join(labels.withColumnRenamed("cluster_id", "cc"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cc"), col("doc_id")).as("cluster_id"))
  }

  /** The dedup artifact a training pipeline actually consumes: every doc's
    * near-dup cluster id over the whole corpus (keep rows where
    * `cluster_id = doc_id`, drop the rest). Hash-checked against a
    * recursive-CTE transitive closure in DuckDB. */
  def neardupClusters(spark: SparkSession, dir: String): DataFrame =
    neardupComponents(table(spark, dir, "documents").select("doc_id", "text"))
      .orderBy("doc_id")

  /** Persist the near-dup artifact. Production contract: the LSH+CC
    * pipeline runs ONCE per corpus snapshot, its (doc_id, cluster_id)
    * frame is written here, and every downstream consumer
    * ([[graft.pipeline.DataSplit.splitLeakageNeardup]], dedup collapse
    * stages) reads the artifact instead of re-deriving it — the bench's
    * re-payment of the pipeline per query is a harness construction, not
    * the deployment shape. Written partitioned only by Spark's default
    * file splits: the frame is (2 longs) per doc and every consumer joins
    * it by doc_id, so there is nothing to gain from a layout key. */
  def writeClusters(clusters: DataFrame, path: String): Unit =
    clusters.select("doc_id", "cluster_id").write.mode("overwrite").parquet(path)

  /** Read a persisted near-dup artifact, validating the two-column
    * contract up front (a wrong frame would otherwise surface as a
    * confusing analysis error downstream). */
  def readClusters(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    require(Seq("doc_id", "cluster_id").forall(df.columns.contains),
      s"near-dup artifact at $path must have (doc_id, cluster_id), got ${df.columns.mkString(",")}")
    df.select("doc_id", "cluster_id")
  }

  /** CTE chain ending in `nd_labels(doc_id, cluster_id)` — the recursive
    * transitive closure shared by [[neardupClustersSql]] and
    * [[clusterCanonicalSql]]. */
  private def neardupLabelCtes: String =
    s"RECURSIVE ${minhashPairsCtes("documents")}, " +
      s"nd_edges AS (SELECT doc_a AS src, doc_b AS dst FROM nd_pairs WHERE jaccard >= $JaccardThreshold " +
      s"UNION SELECT doc_b, doc_a FROM nd_pairs WHERE jaccard >= $JaccardThreshold), " +
      "reach(src, dst) AS (SELECT doc_id, doc_id FROM documents " +
      "UNION SELECT r.src, e.dst FROM reach r JOIN nd_edges e ON e.src = r.dst), " +
      "nd_labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)"

  def neardupClustersSql: String =
    s"WITH $neardupLabelCtes " +
      "SELECT doc_id, cluster_id FROM nd_labels ORDER BY doc_id"

  /** Canonical-representative selection over the near-dup clusters — the
    * curation step AFTER clustering: a dedup that keeps `min(doc_id)` per
    * cluster throws away quality for arbitrariness, so pick the LONGEST
    * member instead (`n_chars` desc, doc_id asc tiebreak — the standard
    * "keep the most complete duplicate" heuristic), reported per multi-doc
    * cluster with member/volume accounting.
    *
    * Scale shape: the cluster frame is (2 longs)/doc; the length join is
    * doc-keyed; the rank window partitions by cluster_id and the rollup
    * groups by the SAME key, so Catalyst reuses one exchange for both. The
    * window's per-partition sort is bounded by cluster size (dup clusters
    * are shallow), never the corpus. */
  def clusterCanonical(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(spark, dir, "documents")
    val labels = neardupComponents(docs.select("doc_id", "text"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    labels.join(docs.select("doc_id", "n_chars"), "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster_id").agg(
        count(lit(1)).as("n_members"),
        max(when(col("rk") === 1, col("doc_id"))).as("canonical_doc"),
        max(when(col("rk") === 1, col("n_chars"))).as("canonical_chars"),
        sum("n_chars").as("total_chars"))
      .filter(col("n_members") > 1)
      .orderBy("cluster_id")
  }

  def clusterCanonicalSql: String =
    s"WITH $neardupLabelCtes, " +
      "ranked AS (SELECT l.cluster_id, l.doc_id, d.n_chars, " +
      "ROW_NUMBER() OVER (PARTITION BY l.cluster_id ORDER BY d.n_chars DESC, l.doc_id ASC) AS rk " +
      "FROM nd_labels l JOIN documents d USING (doc_id)) " +
      "SELECT cluster_id, COUNT(*) AS n_members, " +
      "MAX(CASE WHEN rk = 1 THEN doc_id END)::BIGINT AS canonical_doc, " +
      "MAX(CASE WHEN rk = 1 THEN n_chars END)::BIGINT AS canonical_chars, " +
      "SUM(n_chars)::BIGINT AS total_chars " +
      "FROM ranked GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY cluster_id"

  // ------------------------------------------- benchmark decontamination

  /** A train doc is contaminated when ≥ this fraction of its (df-capped)
    * shingles appear in some single eval doc — containment, not Jaccard,
    * because a short eval item embedded in a long train doc is exactly the
    * leak decontamination exists to catch (Jaccard would dilute it). */
  val ContaminationThreshold = 0.5

  /** Benchmark decontamination sweep: per train source, how many documents
    * share ≥ [[ContaminationThreshold]] shingle containment with any doc of
    * the eval set (deterministically the lexicographically-first source, so
    * both engines pick the same split). Scale shape: the cross-set join is
    * keyed on shingle with the same min(frac·n, abs) hot-shingle ceiling as
    * capped Jaccard, and the eval side of a real deployment is benchmark-
    * sized (thousands of docs), so the join's fan-out is bounded by
    * eval df — never train² . */
  def decontamination(spark: SparkSession, dir: String,
      threshold: Double = ContaminationThreshold): DataFrame = {
    val docs = table(spark, dir, "documents")
    val evalSrc = docs.agg(min("source").as("eval_source"))
    val nDocs = docs.agg(count(lit(1)).as("n_all"))
    // tri0 is DELIBERATELY uncached although two subtrees consume it (the
    // df-cap aggregation and the capped rebuild): an in-JVM alternating
    // A/B (round 15, warm JIT, idle host) read the cached variant ~30%
    // MORE cpu and ~25% more wall — columnar-cache materialization of the
    // exploded frame costs more than re-running the codegen'd
    // explode+md5 pass. The post-filter `tri` below IS cached: it is
    // smaller (hot shingles dropped) and feeds the self-join twice.
    val tri0 = shinglesOf(docs.select("doc_id", "text"))
    // cap floored at 2: on a tiny corpus frac·n < 1 would empty the shingle
    // universe, and a shingle must appear in ≥2 docs to witness containment
    val keepSh = tri0.groupBy("sh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= greatest(lit(2.0),
        least(col("n_all") * MaxShingleDocFrac, lit(MaxShingleDfAbs.toDouble))))
      .select("sh")
    val tri = tri0.join(keepSh, "sh")
      .join(docs.select("doc_id", "source"), "doc_id")
      .crossJoin(broadcast(evalSrc)).cache()
    val trainTri = tri.filter(col("source") =!= col("eval_source"))
    val evalTri = tri.filter(col("source") === col("eval_source"))
    val sz = trainTri.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val contained = trainTri.as("a")
      .join(evalTri.as("b"), col("a.sh") === col("b.sh"))
      .groupBy(col("a.doc_id").as("train_doc"), col("b.doc_id").as("eval_doc"))
      .agg(count(lit(1)).as("i"))
      .join(sz.withColumnRenamed("doc_id", "train_doc"), "train_doc")
      .groupBy("train_doc").agg(max(col("i") * lit(1.0) / col("n")).as("containment"))
    docs.select("doc_id", "source").crossJoin(broadcast(evalSrc))
      .filter(col("source") =!= col("eval_source"))
      .join(contained.withColumnRenamed("train_doc", "doc_id"), Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(coalesce(col("containment"), lit(0.0)) >= threshold, 1L).otherwise(0L))
          .as("n_contaminated"))
      .orderBy("source")
  }

  def decontaminationSql: String =
    s"WITH ev AS (SELECT MIN(source) AS eval_source FROM documents), " +
      s"tri0 AS ($shinglesSql), " +
      s"hot AS (SELECT sh FROM tri0 GROUP BY sh HAVING COUNT(*) > GREATEST(2.0, " +
      s"LEAST((SELECT COUNT(*) FROM documents) * $MaxShingleDocFrac, $MaxShingleDfAbs.0))), " +
      "tri AS (SELECT t.doc_id, t.sh, d.source FROM tri0 t JOIN documents d ON d.doc_id = t.doc_id " +
      "WHERE t.sh NOT IN (SELECT sh FROM hot)), " +
      "tt AS (SELECT tri.* FROM tri CROSS JOIN ev WHERE source <> eval_source), " +
      "te AS (SELECT tri.* FROM tri CROSS JOIN ev WHERE source = eval_source), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM tt GROUP BY 1), " +
      "ix AS (SELECT tt.doc_id AS train_doc, te.doc_id AS eval_doc, COUNT(*) AS i " +
      "FROM tt JOIN te ON tt.sh = te.sh GROUP BY 1, 2), " +
      "cont AS (SELECT train_doc, MAX(i * 1e0 / sz.n) AS containment FROM ix " +
      "JOIN sz ON sz.doc_id = ix.train_doc GROUP BY 1) " +
      "SELECT d.source, COUNT(*) AS n_docs, " +
      s"SUM(CASE WHEN COALESCE(c.containment, 0) >= $ContaminationThreshold THEN 1 ELSE 0 END)::BIGINT AS n_contaminated " +
      "FROM documents d CROSS JOIN ev LEFT JOIN cont c ON c.train_doc = d.doc_id " +
      "WHERE d.source <> ev.eval_source GROUP BY 1 ORDER BY 1"

  /** False-positive probability for [[decontaminationBloom]]'s prefilter.
    * The filter is sized by the eval side's DISTINCT shingles (an
    * `approx_count_distinct` estimate), so duplicated eval text does not
    * grow it. At 1% a 10M-distinct-shingle eval set costs ~12 MB of
    * filter — executor-local and corpus-size-independent. */
  val DecontamBloomFpp = 0.01

  /** Bloom-prefiltered twin of [[decontamination]] with IDENTICAL output
    * (it shares the oracle row): a Bloom filter built over the eval-side
    * shingle set screens the train shingle stream BEFORE the cross-set
    * join, so only shingles the eval set might contain reach the
    * shuffle. Bloom filters have no false negatives, and the exact
    * equi-join downstream discards the false positives, so the result is
    * bit-identical to the exact operator at any fpp (spec-pinned at fpp
    * 0.5).
    *
    * Why this exists: [[decontamination]]'s cross-set join is fine while
    * the eval shingle set fits a broadcast; past that threshold Spark
    * plans a shuffle join and the FULL train shingle stream (corpus-
    * sized — the 100 TB side) pays the exchange. The Bloom filter is
    * ~10 bits/shingle — two orders smaller than the eval shingle
    * strings — so it stays executor-resident long after the raw set
    * outgrows broadcast, and the shuffled train volume collapses to the
    * eval-hit subset (exactly the semi-join reduction Spark's own AQE
    * runtime bloom filter applies to shuffle joins it can rewrite; this
    * operator guarantees it structurally). The filter build itself is
    * one pass over the eval side — benchmark-sized by definition. */
  def decontaminationBloom(spark: SparkSession, dir: String,
      threshold: Double = ContaminationThreshold,
      fpp: Double = DecontamBloomFpp): DataFrame = {
    val docs = table(spark, dir, "documents")
    val evalSrc = docs.agg(min("source").as("eval_source"))
    val nDocs = docs.agg(count(lit(1)).as("n_all"))
    // uncached for the same recompute-beats-cache reason as the exact
    // operator above
    val tri0 = shinglesOf(docs.select("doc_id", "text"))
    val keepSh = tri0.groupBy("sh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= greatest(lit(2.0),
        least(col("n_all") * MaxShingleDocFrac, lit(MaxShingleDfAbs.toDouble))))
      .select("sh")
    val tri = tri0.join(keepSh, "sh")
      .join(docs.select("doc_id", "source"), "doc_id")
      .crossJoin(broadcast(evalSrc)).cache()
    val trainTri = tri.filter(col("source") =!= col("eval_source"))
    val evalTri = tri.filter(col("source") === col("eval_source"))
    // Insert the RAW (doc, shingle) rows, not a distinct set: Bloom
    // inserts are idempotent, and a distinct() would add an exchange. Size
    // the filter by the distinct shingles, though: the row count grows
    // with duplication, and so would the filter. The estimate is one
    // aggregate over the cached rows, the same single job a count() was.
    val nEvalShingles = evalTri.agg(approx_count_distinct("sh")).head().getLong(0)
    // an empty eval side (eval docs too short to shingle) NPEs Spark's
    // stat.bloomFilter — and means no train shingle can match, so the
    // candidate stream is empty by construction
    val candTri =
      if (nEvalShingles == 0) trainTri.limit(0)
      else {
        val bf = evalTri.stat.bloomFilter("sh", nEvalShingles, fpp)
        val mightContain = udf((s: String) => s != null && bf.mightContain(s))
        trainTri.filter(mightContain(col("sh")))
      }
    // denominator = FULL df-capped shingle count per train doc — computed
    // before the prefilter so containment matches the exact operator
    val sz = trainTri.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val contained = candTri.as("a")
      .join(evalTri.as("b"), col("a.sh") === col("b.sh"))
      .groupBy(col("a.doc_id").as("train_doc"), col("b.doc_id").as("eval_doc"))
      .agg(count(lit(1)).as("i"))
      .join(sz.withColumnRenamed("doc_id", "train_doc"), "train_doc")
      .groupBy("train_doc").agg(max(col("i") * lit(1.0) / col("n")).as("containment"))
    docs.select("doc_id", "source").crossJoin(broadcast(evalSrc))
      .filter(col("source") =!= col("eval_source"))
      .join(contained.withColumnRenamed("train_doc", "doc_id"), Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(coalesce(col("containment"), lit(0.0)) >= threshold, 1L).otherwise(0L))
          .as("n_contaminated"))
      .orderBy("source")
  }

  // ------------------------------------------------------------- SimHash

  /** 60-bit SimHash from per-word md5 hashes (15 hex chars keeps the value
    * positive in an int64 in both engines); weighted by word occurrence. */
  val SimhashBits = 60

  private def simhashes(spark: SparkSession, dir: String): DataFrame = {
    val sums = (0 until SimhashBits).map { j =>
      expr(s"SUM(CASE WHEN (shiftright(h, $j) & 1) = 1 THEN 1 ELSE -1 END)").as(s"s$j")
    }
    val recompose = (0 until SimhashBits).map { j =>
      s"(CASE WHEN s$j > 0 THEN shiftleft(CAST(1 AS BIGINT), $j) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("word"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(md5(word), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .selectExpr("doc_id", s"$recompose AS simhash")
  }

  private def simhashesSql: String = {
    val sums = (0 until SimhashBits).map { j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(", ")
    val recompose = (0 until SimhashBits).map { j =>
      s"(CASE WHEN s$j > 0 THEN CAST(1 AS BIGINT) << $j ELSE 0 END)"
    }.mkString(" + ")
    s"SELECT doc_id, $recompose AS simhash FROM (SELECT doc_id, $sums FROM " +
      "(SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS h FROM " +
      "(SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word FROM documents) w) t " +
      "GROUP BY doc_id) s"
  }

  /** 6 chunks of 10 bits: by pigeonhole, any pair within Hamming distance
    * [[SimhashMaxHamming]] = 5 agrees exactly on at least one chunk, so the
    * chunk equi-join finds EVERY such pair — the result is exact, not
    * recall-approximate, while the plan never forms the O(n²) pair stream
    * (Manku et al., WWW'07 block-permuted simhash search). */
  val SimhashChunks = 6
  val SimhashChunkBits: Int = SimhashBits / SimhashChunks
  val SimhashMaxHamming: Int = SimhashChunks - 1

  /** Top-20 near-dup pairs with Hamming ≤ [[SimhashMaxHamming]], found via
    * the chunk equi-join (no all-pairs join, no broadcast of the full
    * signature table). `orderBy.limit` plans TakeOrderedAndProject; rk is
    * attached after on ≤20 rows. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val mask = (1L << SimhashChunkBits) - 1
    // cache: the 60-aggregate signature pipeline feeds both join sides;
    // 1 row/doc (16 bytes), so the cache stays tiny relative to the corpus
    val sh = simhashes(spark, dir).cache()
    val chunkArgs = (0 until SimhashChunks).map { c =>
      s"$c, shiftright(simhash, ${c * SimhashChunkBits}) & $mask"
    }.mkString(", ")
    val chunks = sh.select(col("doc_id"), col("simhash"),
      expr(s"stack($SimhashChunks, $chunkArgs) as (chunk, cv)"))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
        "bit_count(a.simhash ^ b.simhash) AS hamming")
      .filter(col("hamming") <= SimhashMaxHamming)
      .distinct()
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(20)
      .withColumn("one", lit(1))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("one").orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)))
      .select("rk", "doc_a", "doc_b", "hamming")
      .orderBy("rk")
  }

  def simhashPairsSql: String = {
    val mask = (1L << SimhashChunkBits) - 1
    val chunkSelects = (0 until SimhashChunks).map { c =>
      s"SELECT doc_id, simhash, $c AS chunk, (simhash >> ${c * SimhashChunkBits}) & $mask AS cv FROM sh"
    }.mkString(" UNION ALL ")
    s"WITH sh AS ($simhashesSql), chunks AS ($chunkSelects), " +
      "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
      "bit_count(xor(a.simhash, b.simhash)) AS hamming FROM chunks a " +
      "JOIN chunks b ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id " +
      s"WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimhashMaxHamming) " +
      "SELECT rk, doc_a, doc_b, hamming FROM (SELECT *, ROW_NUMBER() OVER " +
      "(ORDER BY hamming ASC, doc_a ASC, doc_b ASC) AS rk FROM pairs) r WHERE rk <= 20 ORDER BY rk"
  }

  // ------------------------------------------------- source-level overlap

  /** Shingle-set Jaccard between SOURCES — the planning view before
    * doc-level dedup: which feeds are near-copies of each other (mirrored
    * crawls, re-scraped dumps) and should be deduplicated jointly or
    * dropped wholesale. Inherently scale-safe where doc-level Jaccard is
    * not: the self-join key is the shingle but the fan-out per shingle is
    * bounded by C(#sources, 2) — sources are a configuration-sized set, so
    * a stopword shingle costs ~S²/2 rows, not df². One distinct over
    * (source, shingle), one bounded join, one rollup. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "documents")
      .select(col("source"), split(col("text"), "\\s+").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("source"), explode(expr(
        "array_distinct(transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))")).as("sh"))
      .distinct()
    val sz = s.groupBy("source").agg(count(lit(1)).as("n"))
    s.as("a").join(s.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(sz.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .selectExpr("source_a", "source_b", "i AS n_shared_shingles",
        "ROUND(i * 1e0 / (na + nb - i), 6) AS jaccard")
      .orderBy("source_a", "source_b")
  }

  def sourceOverlapSql: String =
    "WITH s AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM " +
      "(SELECT source, regexp_split_to_array(text, '\\s+') AS w FROM documents) t " +
      "WHERE len(w) >= 3), " +
      "sz AS (SELECT source, COUNT(*) AS n FROM s GROUP BY 1), " +
      "inter AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS i " +
      "FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source GROUP BY 1, 2) " +
      "SELECT source_a, source_b, i AS n_shared_shingles, " +
      "ROUND(i * 1e0 / (sa.n + sb.n - i), 6) AS jaccard " +
      "FROM inter JOIN sz sa ON sa.source = source_a JOIN sz sb ON sb.source = source_b " +
      "ORDER BY source_a, source_b"

  // ------------------------------------------------------ n-gram novelty

  /** Shingle novelty of the current snapshot against the reference
    * snapshot, per source (snapshot pair: `doc_id % 2 = 0` → ref, the
    * FIXTURES.md §B idiom): what fraction of each feed's distinct trigram
    * shingles was never seen in the reference corpus? High novelty means
    * genuinely fresh text worth ingesting; ~0 means the feed re-serves
    * content the corpus already has (the dedup pipeline will drop it —
    * this query predicts that BEFORE paying for full dedup).
    *
    * Scale: one shingle pass, a distinct per side, and a left-anti join
    * keyed on the shingle — the same shuffle key [[minhashLsh]] uses, no
    * per-key fan-out at all (anti-join emits ≤ 1 row per probe row). The
    * ref side's distinct-shingle set is corpus-vocabulary-sized, never
    * row-count-sized. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select("doc_id", "source", "text")
    val tri = shinglesOf(docs)
    val refSet = tri.filter(pmod(col("doc_id"), lit(2)) === 0).select("sh").distinct()
    val currSh = tri.filter(pmod(col("doc_id"), lit(2)) =!= 0)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "sh").distinct()
    currSh.join(refSet, Seq("sh"), "left_anti")
      .groupBy("source").agg(count(lit(1)).as("n_novel"))
      .join(currSh.groupBy("source").agg(count(lit(1)).as("n_shingles")), Seq("source"), "right")
      .select(col("source"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)) * lit(1.0) / col("n_shingles"), 6)
          .as("novelty_rate"))
      .orderBy("source")
  }

  def ngramNoveltySql: String =
    s"WITH tri AS ($shinglesSql), " +
      "refs AS (SELECT DISTINCT sh FROM tri WHERE doc_id % 2 = 0), " +
      "cur AS (SELECT DISTINCT d.source, t.sh FROM tri t " +
      "JOIN documents d ON d.doc_id = t.doc_id WHERE t.doc_id % 2 <> 0) " +
      "SELECT source, COUNT(*) AS n_shingles, " +
      "SUM(CASE WHEN r.sh IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel, " +
      "ROUND(SUM(CASE WHEN r.sh IS NULL THEN 1 ELSE 0 END) * 1e0 / COUNT(*), 6) AS novelty_rate " +
      "FROM cur LEFT JOIN refs r ON cur.sh = r.sh GROUP BY 1 ORDER BY 1"

  // ----------------------------------------------------------------- API

  // -------------------------------------------------- dedup eval harness

  /** "Measure your dedup": recall of the MinHash-LSH BANDING stage against
    * the exact df-capped Jaccard truth set, plus the candidate precision
    * (what fraction of band collisions survive exact verification — the
    * wasted-verification-work dial). This is the eval a deployment runs
    * when retuning [[NumHashes]]/[[BandRows]] or the shingle width: recall
    * says whether the S-curve misses true near-dups, candidate precision
    * says how much the verify join over-pays. Both pipelines are the
    * engine's own oracle-checked operators; the comparison is a
    * pair-keyed join of their outputs (truth and candidate frames are
    * near-dup-pair-sized, tiny next to the corpus). Run per tuning
    * change, not per ingest. */
  def dedupQuality(spark: SparkSession, dir: String): DataFrame = {
    // cached: each frame feeds BOTH the pair join and its own count agg —
    // uncached, the expensive shingle/signature pipelines execute twice
    val truth = ngramJaccardCapped(spark, dir).select("doc_a", "doc_b").cache()
    val cand = minhashLsh(spark, dir).select("doc_a", "doc_b").cache()
    val tp = truth.join(cand, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_matched"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(tp))
      .selectExpr("n_truth", "n_candidates", "n_matched",
        "ROUND(CASE WHEN n_truth > 0 THEN n_matched * 1e0 / n_truth ELSE 0e0 END, 6) AS recall",
        "ROUND(CASE WHEN n_candidates > 0 THEN n_matched * 1e0 / n_candidates ELSE 0e0 END, 6) AS candidate_precision")
  }

  /** The two operator oracles composed as subqueries (their own WITH
    * clauses nest; CTE names would collide if spliced flat). */
  def dedupQualitySql: String =
    s"WITH truth AS (SELECT doc_a, doc_b FROM ($ngramJaccardCappedSql) t), " +
      s"pred AS (SELECT doc_a, doc_b FROM ($minhashLshSql) p), " +
      "tp AS (SELECT COUNT(*) AS n_matched FROM truth JOIN pred USING (doc_a, doc_b)), " +
      "s AS (SELECT (SELECT COUNT(*) FROM truth) AS n_truth, " +
      "(SELECT COUNT(*) FROM pred) AS n_candidates, (SELECT n_matched FROM tp) AS n_matched) " +
      "SELECT n_truth, n_candidates, n_matched, " +
      "ROUND(CASE WHEN n_truth > 0 THEN n_matched * 1e0 / n_truth ELSE 0e0 END, 6) AS recall, " +
      "ROUND(CASE WHEN n_candidates > 0 THEN n_matched * 1e0 / n_candidates ELSE 0e0 END, 6) AS candidate_precision " +
      "FROM s"

  /** Jaccard grid for the S-curve table. */
  private val TuningJaccards: Seq[Double] = (1 to 19).map(_ * 0.05)

  /** LSH S-curve tuning table — [[dedupQuality]]'s theoretical companion:
    * for every (bands, rows) factorization of the [[NumHashes]] signature
    * and a Jaccard grid, the band-collision probability
    * P = 1 − (1 − j^r)^b, plus the marker for the current
    * [[BandRows]] configuration. Pure closed-form arithmetic over literal
    * grids (no data read): the table a retuning reads NEXT TO the measured
    * recall — pick (b, r) so the curve's knee sits at the dedup threshold.
    * Cross-engine: both engines evaluate the identical POWER expression on
    * identical literals; the 6-decimal rounding absorbs libm's last ulp. */
  def lshTuningCurve(spark: SparkSession, dir: String): DataFrame = {
    val factorizations = (1 to NumHashes).filter(NumHashes % _ == 0)
      .map(r => (NumHashes / r, r)) // (bands, rows)
    val rows = for {
      (b, r) <- factorizations
      j <- TuningJaccards
    } yield (b, r, math.rint(j * 100) / 100)
    import spark.implicits._
    rows.toDF("bands", "rows_per_band", "jaccard")
      .selectExpr("bands", "rows_per_band", "jaccard",
        "ROUND(1e0 - POWER(1e0 - POWER(jaccard, rows_per_band), bands), 6) AS p_collision",
        s"rows_per_band = $BandRows AS is_current")
      .orderBy("bands", "jaccard")
  }

  def lshTuningCurveSql: String = {
    val factorizations = (1 to NumHashes).filter(NumHashes % _ == 0)
      .map(r => (NumHashes / r, r))
    val rows = (for { (b, r) <- factorizations; j <- TuningJaccards }
      yield s"($b, $r, ${math.rint(j * 100) / 100})").mkString(", ")
    s"WITH grid(bands, rows_per_band, jaccard) AS (VALUES $rows) " +
      // CAST: a bare VALUES float literal binds as DECIMAL in DuckDB,
      // which would schema-mismatch Spark's DoubleType column
      "SELECT bands, rows_per_band, CAST(jaccard AS DOUBLE) AS jaccard, " +
      "ROUND(1e0 - POWER(1e0 - POWER(jaccard, rows_per_band), bands), 6) AS p_collision, " +
      s"rows_per_band = $BandRows AS is_current " +
      "FROM grid ORDER BY bands, jaccard"
  }

  /** Containment threshold: the directional analogue of
    * [[JaccardThreshold]]. */
  val ContainmentThreshold = 0.9

  /** Asymmetric near-dup detection by shingle CONTAINMENT — the modality
    * symmetric Jaccard is blind to: a short document wholly quoted inside
    * a much longer one has |A∩B|/|A| ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0 (quote
    * expansions, boilerplate-wrapped reposts, chunk-of-a-book pages).
    * Emits pairs where EITHER direction's containment ≥
    * [[ContainmentThreshold]], with both directions and the Jaccard for
    * context. Same df-capped shingle-join scale shape as
    * [[ngramJaccardCapped]] (hot shingles dropped before the join, per-key
    * fan-out bounded); the pair frame and everything after is
    * near-dup-sized. */
  def containmentPairs(spark: SparkSession, dir: String,
      maxDfFrac: Double = MaxShingleDocFrac,
      maxDfAbs: Long = MaxShingleDfAbs,
      scope: Option[CacheScope] = None): DataFrame = {
    val nDocs = table(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val dfreq = shingles(spark, dir).groupBy("sh").agg(count(lit(1)).as("df"))
    val keepSh = dfreq.crossJoin(broadcast(nDocs))
      .filter(col("df") <= least(col("n_docs") * maxDfFrac, lit(maxDfAbs.toDouble)))
      .select("sh")
    // routed through the caller's CacheScope when given: the (doc, shingle)
    // frame is corpus-sized, and a sweep must be able to release it
    val triBare = shingles(spark, dir).join(keepSh, "sh")
    val tri = scope.fold(triBare.cache())(_.cached(triBare))
    val sz = tri.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = tri.as("a").join(tri.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .selectExpr("doc_a", "doc_b",
        "ROUND(i * 1e0 / na, 6) AS containment_a",
        "ROUND(i * 1e0 / nb, 6) AS containment_b",
        "ROUND(i * 1e0 / (na + nb - i), 6) AS jaccard")
      .filter(col("containment_a") >= ContainmentThreshold ||
        col("containment_b") >= ContainmentThreshold)
      .orderBy("doc_a", "doc_b")
  }

  def containmentPairsSql: String =
    s"WITH tri0 AS ($shinglesSql), " +
      s"hot AS (SELECT sh FROM tri0 GROUP BY sh HAVING COUNT(*) > " +
      s"LEAST((SELECT COUNT(*) FROM documents) * $MaxShingleDocFrac, $MaxShingleDfAbs.0)), " +
      "tri AS (SELECT * FROM tri0 WHERE sh NOT IN (SELECT sh FROM hot)), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i FROM tri a " +
      "JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, ROUND(i * 1e0 / sa.n, 6) AS containment_a, " +
      "ROUND(i * 1e0 / sb.n, 6) AS containment_b, " +
      "ROUND(i * 1e0 / (sa.n + sb.n - i), 6) AS jaccard " +
      "FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b " +
      s"WHERE ROUND(i * 1e0 / sa.n, 6) >= $ContainmentThreshold " +
      s"OR ROUND(i * 1e0 / sb.n, 6) >= $ContainmentThreshold ORDER BY doc_a, doc_b"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_quality" -> ((s, d) => dedupQuality(s, d)),
    "lsh_tuning_curve" -> ((s, d) => lshTuningCurve(s, d)),
    "containment_pairs" -> ((s, d) => containmentPairs(s, d)),
    "source_overlap" -> ((s, d) => sourceOverlap(s, d)),
    "ngram_novelty" -> ((s, d) => ngramNovelty(s, d)),
    "dedup_exact" -> ((s, d) => dedupExact(s, d)),
    "ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "ngram_jaccard_capped" -> ((s, d) => ngramJaccardCapped(s, d)),
    "minhash_lsh" -> ((s, d) => minhashLsh(s, d)),
    "neardup_clusters" -> ((s, d) => neardupClusters(s, d)),
    "cluster_canonical" -> ((s, d) => clusterCanonical(s, d)),
    "decontamination" -> ((s, d) => decontamination(s, d)),
    "decontam_bloom" -> ((s, d) => decontaminationBloom(s, d)),
    "simhash_pairs" -> ((s, d) => simhashPairs(s, d)),
    "incremental_dedup" -> ((s, d) => incrementalDedup(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "dedup_quality" -> dedupQualitySql,
    "lsh_tuning_curve" -> lshTuningCurveSql,
    "containment_pairs" -> containmentPairsSql,
    "source_overlap" -> sourceOverlapSql,
    "ngram_novelty" -> ngramNoveltySql,
    "dedup_exact" -> dedupExactSql,
    "ngram_jaccard" -> ngramJaccardSql,
    "ngram_jaccard_capped" -> ngramJaccardCappedSql,
    "minhash_lsh" -> minhashLshSql,
    "neardup_clusters" -> neardupClustersSql,
    "cluster_canonical" -> clusterCanonicalSql,
    "decontamination" -> decontaminationSql,
    // identical output by construction (no-false-negatives + exact confirm
    // join); the shared oracle row proves the Bloom path's exactness
    "decontam_bloom" -> decontaminationSql,
    "simhash_pairs" -> simhashPairsSql,
    "incremental_dedup" -> incrementalDedupSql,
  )
}
