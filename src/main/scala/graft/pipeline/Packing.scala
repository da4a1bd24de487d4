package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.drift.table

/** Context-window packing and chunking — the step between a curated corpus
  * (the [[TextAnalysis]] funnel's output) and an actual training run. Three
  * operators, each the Spark-declarative form of a standard recipe:
  *
  *  - '''seq_pack''' — concat-and-chunk packing (GPT-style pretraining):
  *    documents are concatenated in a deterministic pseudo-random order and
  *    sliced into fixed [[WindowTokens]]-token windows; documents may span a
  *    window boundary. The global concatenation order is sharded by an md5
  *    bucket so the one window function runs PARTITIONED — each bucket packs
  *    independently, exactly how a 1000-executor job shards a 100 TB corpus
  *    (a truly global order would funnel every row through one task). The
  *    only cost beyond a scan is one hash exchange + per-bucket sort; waste
  *    is at most one partial window per bucket.
  *  - '''length_buckets''' — padded length-bucketed batching (the
  *    fairseq/T5 recipe for SFT, where a document must NOT cross a window
  *    boundary): docs are classed to a power-of-two token ceiling, each
  *    window holds `floor(W / class)` docs of one class, and the output
  *    accounts the padding + tail waste per class. Pure one-shuffle
  *    aggregation — the ladder is a literal CASE, so both engines bucket
  *    identically with no float `log2` (whose libm rounding differs across
  *    engines at exact powers of two).
  *  - '''doc_chunks''' / '''chunk_stats''' — fixed-size overlapping
  *    character chunking (the RAG/embedding-index prep): chunks of
  *    [[ChunkChars]] chars every [[ChunkStride]] chars. `doc_chunks` emits
  *    exact boundaries + md5 per chunk for a deterministic document sample
  *    (explode bounded by the sample); `chunk_stats` rolls up the WHOLE
  *    corpus with the closed form `chars + (K-1)·overlap` — no explode, no
  *    extra shuffle beyond the per-source agg, so the full-corpus form
  *    stays a single scan at any scale.
  *
  * Token counts reuse [[TextAnalysis.PretokenRegexSpark]] (+1 per doc for
  * the end-of-document separator token every packing recipe inserts).
  */
object Packing extends graft.OperatorModule {

  /** Context window budget (tokens) for both packing recipes. */
  val WindowTokens = 2048

  /** RAG chunk size / stride (chars); overlap = size - stride = 128. */
  val ChunkChars = 512
  val ChunkStride = 384

  /** Power-of-two class ceilings for length bucketing (top = window). */
  val BucketLadder: Seq[Int] = Seq(16, 32, 64, 128, 256, 512, 1024, WindowTokens)

  private val W = WindowTokens

  // one token-count expression, two renderings (see PretokenRegex note);
  // private[graft] so the streaming twin packs with the identical count
  private[graft] val tokSpark =
    s"size(regexp_extract_all(text, '${TextAnalysis.PretokenRegexSpark}', 0)) + 1L"
  private[graft] val tokDuck =
    s"len(regexp_extract_all(text, '${TextAnalysis.PretokenRegexDuck}')) + 1"

  // deterministic pseudo-random order shared by both engines: md5 of the
  // doc id rendered as a decimal string (same idiom as balancedMix)
  private[graft] val hSpark = "md5(cast(cast(doc_id AS STRING) AS BINARY))"
  private[graft] val hDuck = "md5(doc_id::VARCHAR)"

  // ------------------------------------------------------------- seq_pack

  /** The per-document placement a production packer materializes: which
    * window each doc lands in and at what token offset, in the
    * deterministic md5 order. This is the batch form of
    * [[graft.streaming.StreamingPack.packStream]]'s output (same fold,
    * md5 order instead of arrival order). One hash exchange on `bucket` +
    * per-bucket sort — the same scale shape as [[seqPack]], which is an
    * aggregation OVER this frame. */
  def assignments(docs: DataFrame, windowTokens: Int = WindowTokens): DataFrame = {
    val wt = windowTokens.toLong
    val prepared = docs
      .selectExpr("doc_id", s"$tokSpark AS tok", s"$hSpark AS h")
      .selectExpr("doc_id", "tok", "h", "substring(h, 1, 1) AS bucket")
    val w = Window.partitionBy("bucket").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prepared.withColumn("cum", sum("tok").over(w))
      .selectExpr("doc_id", "bucket", "tok",
        "cum - tok AS start_offset",
        s"(cum - tok) DIV $wt AS first_window",
        s"(cum - 1) DIV $wt AS last_window",
        s"(cum - tok) DIV $wt <> (cum - 1) DIV $wt AS crosses_boundary")
  }

  /** Concat-and-chunk packing stats per md5 shard: window count, last-window
    * fill, and how many documents straddle a window boundary (the packing
    * artifact that costs attention quality — worth monitoring per shard).
    * Scale shape: one scan → hash exchange on `bucket` (16 shards here;
    * a production run raises the substring width: 3 hex chars = 4096
    * shards) → per-bucket sort + running sum → per-bucket agg. Nothing is
    * ever globally ordered and no task sees more than one shard. */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .selectExpr("doc_id", s"$tokSpark AS tok", s"$hSpark AS h")
      .selectExpr("tok", "h", "substring(h, 1, 1) AS bucket")
    val w = Window.partitionBy("bucket").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum", sum("tok").over(w))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        sum("tok").as("total_tokens"),
        sum(when(expr(s"(cum - tok) DIV $W <> (cum - 1) DIV $W"), 1L)
          .otherwise(0L)).as("n_crossing"))
      .selectExpr("bucket", "n_docs", "total_tokens",
        s"(total_tokens + ${W - 1}) DIV $W AS n_windows",
        s"ROUND((CASE WHEN total_tokens % $W = 0 THEN $W ELSE total_tokens % $W END) * 1e0 / $W, 6) AS last_fill",
        "n_crossing",
        "ROUND(total_tokens * 1e0 / n_docs, 6) AS avg_doc_tokens")
      .orderBy("bucket")
  }

  def seqPackSql: String =
    s"WITH d AS (SELECT $tokDuck AS tok, $hDuck AS h FROM documents), " +
      "b AS (SELECT tok, h, substr(h, 1, 1) AS bucket FROM d), " +
      "c AS (SELECT *, SUM(tok) OVER (PARTITION BY bucket ORDER BY h " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b), " +
      "g AS (SELECT bucket, COUNT(*)::BIGINT AS n_docs, SUM(tok)::BIGINT AS total_tokens, " +
      s"SUM(CASE WHEN (cum - tok) // $W <> (cum - 1) // $W THEN 1 ELSE 0 END)::BIGINT AS n_crossing " +
      "FROM c GROUP BY 1) " +
      "SELECT bucket, n_docs, total_tokens, " +
      s"((total_tokens + ${W - 1}) // $W)::BIGINT AS n_windows, " +
      s"ROUND((CASE WHEN total_tokens % $W = 0 THEN $W ELSE total_tokens % $W END) * 1e0 / $W, 6) AS last_fill, " +
      "n_crossing, " +
      "ROUND(total_tokens * 1e0 / n_docs, 6) AS avg_doc_tokens " +
      "FROM g ORDER BY bucket"

  // ------------------------------------------------------- length_buckets

  private val ladderSpark = BucketLadder.init
    .map(b => s"WHEN tok <= $b THEN ${b}L").mkString("CASE ", " ", s" ELSE ${W}L END")

  /** Padded no-split batching stats per power-of-two length class: window
    * counts, padding waste, and realized utilization of the `W`-token
    * budget. Over-long docs truncate to the window (counted). One groupBy
    * on a literal-CASE class — a single shuffle of 8 partial-agg rows per
    * map task, embarrassingly scalable. */
  def lengthBuckets(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .selectExpr(s"$tokSpark AS tok")
      .selectExpr("tok", s"$ladderSpark AS class_tokens", s"least(tok, ${W}L) AS eff")
      .groupBy("class_tokens").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("tok") > W, 1L).otherwise(0L)).as("n_truncated"),
        sum("eff").as("sum_eff"))
      .selectExpr("class_tokens", "n_docs", "n_truncated",
        s"$W DIV class_tokens AS docs_per_window",
        s"(n_docs + $W DIV class_tokens - 1) DIV ($W DIV class_tokens) AS n_windows",
        "n_docs * class_tokens - sum_eff AS pad_tokens",
        s"ROUND(sum_eff * 1e0 / ((n_docs + $W DIV class_tokens - 1) DIV ($W DIV class_tokens) * $W), 6) AS utilization")
      .orderBy("class_tokens")

  private val ladderDuck = BucketLadder.init
    .map(b => s"WHEN tok <= $b THEN $b").mkString("CASE ", " ", s" ELSE $W END")

  def lengthBucketsSql: String =
    s"WITH d AS (SELECT $tokDuck AS tok FROM documents), " +
      s"c AS (SELECT tok, $ladderDuck AS class_tokens, LEAST(tok, $W) AS eff FROM d), " +
      "g AS (SELECT class_tokens, COUNT(*)::BIGINT AS n_docs, " +
      s"SUM(CASE WHEN tok > $W THEN 1 ELSE 0 END)::BIGINT AS n_truncated, " +
      "SUM(eff)::BIGINT AS sum_eff FROM c GROUP BY 1) " +
      "SELECT class_tokens::BIGINT AS class_tokens, n_docs, n_truncated, " +
      s"($W // class_tokens)::BIGINT AS docs_per_window, " +
      s"((n_docs + $W // class_tokens - 1) // ($W // class_tokens))::BIGINT AS n_windows, " +
      "(n_docs * class_tokens - sum_eff)::BIGINT AS pad_tokens, " +
      s"ROUND(sum_eff * 1e0 / ((n_docs + $W // class_tokens - 1) // ($W // class_tokens) * $W), 6) AS utilization " +
      "FROM g ORDER BY class_tokens"

  // ----------------------------------------------------------- doc_chunks

  private val C = ChunkChars
  private val S = ChunkStride

  // chunk count for a doc of `len` chars: 1 if it fits, else first chunk +
  // one per stride over the remainder (integer-exact, no float ceil)
  private def kExpr(len: String) =
    s"CASE WHEN $len <= $C THEN 1L ELSE ($len - $C + ${S - 1}) DIV $S + 1L END"
  private def kDuck(len: String) =
    s"CASE WHEN $len <= $C THEN 1 ELSE ($len - $C + ${S - 1}) // $S + 1 END"

  /** Exact chunk boundaries + content digest for a deterministic 1-in-25
    * document sample: the oracle verifies every boundary and every chunk's
    * md5, so a one-character off-by-one in the substring math fails the
    * gate. The explode is bounded by the sample — the full-corpus rollup
    * is [[chunkStats]], which never explodes. */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter("doc_id % 25 = 0")
      .selectExpr("doc_id", "text", "CAST(length(text) AS BIGINT) AS len")
      .selectExpr("doc_id", "text", "len", s"${kExpr("len")} AS k")
      .selectExpr("doc_id", "text", "len",
        "explode(sequence(0L, k - 1L)) AS chunk_idx")
      .selectExpr("doc_id", "chunk_idx",
        s"chunk_idx * $S AS chunk_start",
        s"CAST(least($C, len - chunk_idx * $S) AS BIGINT) AS chunk_len",
        s"md5(cast(substring(text, CAST(chunk_idx * $S + 1 AS INT), $C) AS BINARY)) AS chunk_md5")
      .orderBy("doc_id", "chunk_idx")

  def docChunksSql: String =
    "WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents WHERE doc_id % 25 = 0), " +
      s"k AS (SELECT *, ${kDuck("len")} AS k FROM d), " +
      "e AS (SELECT doc_id, text, len, unnest(generate_series(0, k - 1)) AS chunk_idx FROM k) " +
      "SELECT doc_id, chunk_idx::BIGINT AS chunk_idx, " +
      s"(chunk_idx * $S)::BIGINT AS chunk_start, " +
      s"LEAST($C, len - chunk_idx * $S)::BIGINT AS chunk_len, " +
      s"md5(substring(text, (chunk_idx * $S + 1)::INT, $C)) AS chunk_md5 " +
      "FROM e ORDER BY doc_id, chunk_idx"

  // ---------------------------------------------------------- chunk_stats

  /** Whole-corpus chunking rollup per source, in closed form: K chunks per
    * doc and `chars + (K-1)·(C-S)` emitted chunk chars — the overlap
    * expansion an embedding-index capacity plan needs — WITHOUT
    * materializing a chunk row per document (at 100 TB the exploded frame
    * would be ~1.3× the corpus; this is one projection + one agg). */
  def chunkStats(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .selectExpr("source", "CAST(length(text) AS BIGINT) AS len")
      .selectExpr("source", "len", s"${kExpr("len")} AS k")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("len").as("total_chars"),
        sum("k").as("total_chunks"),
        sum(expr(s"len + (k - 1) * ${C - S}")).as("total_chunk_chars"))
      .selectExpr("source", "n_docs", "total_chars", "total_chunks",
        "total_chunk_chars",
        "ROUND(total_chunk_chars * 1e0 / total_chars, 6) AS expansion_ratio",
        "ROUND(total_chunks * 1e0 / n_docs, 6) AS avg_chunks_per_doc")
      .orderBy("source")

  def chunkStatsSql: String =
    "WITH d AS (SELECT source, length(text) AS len FROM documents), " +
      s"k AS (SELECT source, len, ${kDuck("len")} AS k FROM d) " +
      "SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(len)::BIGINT AS total_chars, " +
      "SUM(k)::BIGINT AS total_chunks, " +
      s"SUM(len + (k - 1) * ${C - S})::BIGINT AS total_chunk_chars, " +
      s"ROUND(SUM(len + (k - 1) * ${C - S}) * 1e0 / SUM(len), 6) AS expansion_ratio, " +
      "ROUND(SUM(k) * 1e0 / COUNT(*), 6) AS avg_chunks_per_doc " +
      "FROM k GROUP BY 1 ORDER BY 1"

  // -------------------------------------------------------------- wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "seq_pack" -> ((s, d) => seqPack(s, d)),
    "length_buckets" -> ((s, d) => lengthBuckets(s, d)),
    "doc_chunks" -> ((s, d) => docChunks(s, d)),
    "chunk_stats" -> ((s, d) => chunkStats(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "seq_pack" -> seqPackSql,
    "length_buckets" -> lengthBucketsSql,
    "doc_chunks" -> docChunksSql,
    "chunk_stats" -> chunkStatsSql,
  )
}
