package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.table

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, batch-shaped decode / feature-
  * extract stubs.
  *
  * The container has no media libraries, so the DECODE step is a
  * deterministic stub ([[stubDecode]]) — but the Spark-side plumbing is
  * real: a typed `Dataset[MediaRecord]`, a binary payload column, schema'd
  * metadata, and `mapPartitions` processing (the Scala analogue of
  * `mapInPandas` batch processing: one iterator per partition, so a real
  * decoder would amortize model/codec init per partition, not per row).
  * Partitioning note for 100 TB: payloads stay opaque bytes until the
  * map stage — no shuffle ever carries decoded frames; repartition by
  * byte-size bucket before heavy decode to even out skew.
  */
object Multimodal extends graft.OperatorModule {

  /** One media item: opaque payload + typed metadata. */
  case class MediaRecord(media_id: Long, mime: String, n_bytes: Long, payload: Array[Byte])

  /** Extracted features (what a real decoder would emit). */
  case class MediaFeatures(media_id: Long, mime: String, n_bytes: Long,
      width: Int, height: Int, checksum: Long)

  /** Build a media table from `documents` (payload = utf-8 bytes of text —
    * an opaque stand-in for image/audio bytes). */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    table(spark, dir, "documents")
      .select(col("doc_id").as("media_id"), lit("text/plain").as("mime"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** STUB decoder: deterministic pseudo-features from the payload.
    * A real implementation would decode image dimensions / audio duration
    * here; the iterator shape (per-partition batch) is the real contract.
    * The checksum folds over UNICODE CODEPOINTS of the decoded text (not
    * utf-8 bytes) so it matches the oracle's ascii(c) fold and
    * TextAnalysis.fingerprints for non-ASCII payloads. */
  def stubDecode(records: Iterator[MediaRecord]): Iterator[MediaFeatures] =
    records.map { r =>
      val text = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
      var sum = 0L
      text.codePoints().forEach(cp => sum = (sum * 31 + cp) % 1000000007L)
      MediaFeatures(r.media_id, r.mime, r.n_bytes,
        width = (sum % 1920).toInt, height = (sum % 1080).toInt, checksum = sum)
    }

  /** Feature extraction over partition iterators (mapPartitions, the
    * Scala-side batch-processing idiom). */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions(stubDecode)
  }

  /** Oracle-checkable query: the checksum here equals the text rolling hash
    * (payload is utf-8 text), so DuckDB reproduces the full pipeline. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(spark, dir).toDF()
      .selectExpr("media_id", "mime", "n_bytes", "width", "height", "checksum")
      .orderBy("media_id")
  }

  val mediaMetaSql: String =
    "SELECT doc_id AS media_id, 'text/plain' AS mime, octet_length(encode(text))::BIGINT AS n_bytes, " +
      "(h % 1920)::INT AS width, (h % 1080)::INT AS height, h AS checksum FROM " +
      "(SELECT doc_id, text, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(list_filter(string_split(text, ''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT))), " +
      "(acc, c) -> (acc * 31 + c) % 1000000007) AS h FROM documents) t ORDER BY media_id"

  // ------------------------------------------------- content-hash dedup

  /** Exact content dedup over the OPAQUE binary payload — the multimodal
    * analogue of `dedup_exact`: md5 of the raw bytes groups bit-identical
    * media regardless of filename/metadata, one row per distinct content
    * with its copy count and canonical (min-id) representative. Spark's
    * `md5(binary)` and DuckDB's `md5(VARCHAR)` both hash the utf-8 bytes
    * of the text stand-in, so the oracle replays the pipeline exactly.
    *
    * Scale shape: the hash is computed in the scan projection, so the
    * wide payload NEVER crosses the exchange — only (16-byte hash, id,
    * size) shuffles into a map-side-combined count per hash key. At
    * 100 TB of media that is the difference between shuffling the corpus
    * and shuffling a fingerprint table. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).toDF()
      .groupBy(md5(col("payload")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min("media_id").as("canonical_media_id"),
        min("n_bytes").as("n_bytes"))
      .withColumn("is_dup", col("n_copies") > 1)
      .orderBy("content_hash")

  val mediaDedupSql: String =
    "SELECT content_hash, n_copies, canonical_media_id, n_bytes, " +
      "n_copies > 1 AS is_dup FROM (" +
      "SELECT md5(text) AS content_hash, COUNT(*)::BIGINT AS n_copies, " +
      "MIN(doc_id) AS canonical_media_id, " +
      "MIN(octet_length(encode(text)))::BIGINT AS n_bytes " +
      "FROM documents GROUP BY 1) g ORDER BY content_hash"

  // ------------------------------------------------------ frame sampling

  /** One sampled frame: fixed-size payload chunk + rolling hash. */
  case class Frame(media_id: Long, frame_idx: Int, n_bytes: Long, frame_hash: Long)

  val FrameChars = 64
  val SampleEvery = 4

  /** STUB frame-sampler: chunk the payload into fixed-size "frames" and
    * keep every [[SampleEvery]]-th — the video-frame-sampling plumbing
    * (a real impl would seek keyframes with a codec here). Iterator-to-
    * iterator inside each partition, so the shuffle never carries frames
    * that the sampler drops. Chunking is by UTF-16 unit on the Spark side
    * and by codepoint in DuckDB — identical for the ASCII stand-in
    * payloads; a real byte-codec would chunk raw bytes. */
  def stubFrameSample(records: Iterator[MediaRecord],
      frameChars: Int = FrameChars, every: Int = SampleEvery): Iterator[Frame] =
    records.flatMap { r =>
      val text = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
      text.grouped(frameChars).zipWithIndex.collect {
        case (chunk, i) if i % every == 0 =>
          var sum = 0L
          chunk.codePoints().forEach(cp => sum = (sum * 31 + cp) % 1000000007L)
          Frame(r.media_id, i,
            chunk.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong, sum)
      }
    }

  /** Frame-sample query: every 4th 64-char frame per document with its
    * rolling hash — the DuckDB oracle replays the identical chunking. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions(stubFrameSample(_)).toDF()
      .selectExpr("media_id", "frame_idx", "n_bytes", "frame_hash")
      .orderBy("media_id", "frame_idx")
  }

  /** (media_id, frame_idx, chunk) — the sampled-chunk relation shared by
    * the frame-sample oracle and the near-dup oracle. */
  private val frameChunksSql: String =
    "SELECT doc_id AS media_id, i AS frame_idx, " +
      s"substring(text, i * $FrameChars + 1, $FrameChars) AS chunk FROM " +
      s"(SELECT doc_id, text, unnest(range(0, CAST(ceil(length(text) * 1e0 / $FrameChars) AS INT))) AS i " +
      s"FROM documents) g WHERE i % $SampleEvery = 0"

  /** DuckDB twin of the stub codepoint rolling hash over a string column. */
  private def rollHashSql(c: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_filter(string_split($c, ''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT))), " +
      "(acc, c) -> (acc * 31 + c) % 1000000007)"

  val frameSampleSql: String =
    s"SELECT media_id, frame_idx, octet_length(encode(chunk))::BIGINT AS n_bytes, " +
      s"${rollHashSql("chunk")} AS frame_hash FROM " +
      s"($frameChunksSql) f ORDER BY media_id, frame_idx"

  // -------------------------------------------------- frame-set near-dup

  /** NEAR-duplicate media via MinHash-LSH over the sampled FRAME-HASH SET —
    * the perceptual-dedup plumbing [[mediaDedup]]'s exact hash can't give:
    * two videos sharing most frames (re-encodes, trims, watermark edits in
    * unsampled regions) collide in a band and verify by exact Jaccard of
    * their frame sets, while the md5 gate only catches bit-identical
    * payloads. Reuses the text pipeline's signature/band/verify machinery
    * verbatim ([[Dedup.bandsFromTri]] / [[Dedup.pairsFromTriAndBands]])
    * with frame hashes as the shingles — the hashing is md5-based, so any
    * string set works.
    *
    * Scale shape inherits the LSH discipline: the payload is reduced to
    * sampled frame hashes inside the decode mapPartitions (no shuffle ever
    * carries media bytes), signatures are one groupBy over the frame
    * frame, candidates come from band buckets — never an all-pairs join.
    * Output: every band-colliding pair with its verified frame-set
    * Jaccard (threshold-free, like `minhash_lsh`; consumers cut at their
    * own line). */
  def mediaNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tri = mediaTable(spark, dir).mapPartitions(stubFrameSample(_)).toDF()
      .select(col("media_id").as("doc_id"),
        col("frame_hash").cast("string").as("sh"))
      .distinct().cache()
    // media count (cheap parquet count) = the bandReps ladder's upper
    // bound on any frame-hash bucket's membership
    Dedup.pairsFromTriAndBands(tri, Dedup.bandsFromTri(tri, _.cache()),
        docsUpperBound = mediaTable(spark, dir).count())
      .selectExpr("doc_a AS media_a", "doc_b AS media_b",
        "n_shared_bands", "jaccard")
      .orderBy("media_a", "media_b")
  }

  val mediaNeardupSql: String = {
    val triSql = "SELECT DISTINCT media_id AS doc_id, " +
      s"CAST(${rollHashSql("chunk")} AS VARCHAR) AS sh FROM ($frameChunksSql) f"
    s"WITH ${Dedup.minhashPairsCtesFromTri(triSql)} " +
      "SELECT doc_a AS media_a, doc_b AS media_b, n_shared_bands, jaccard " +
      "FROM nd_pairs ORDER BY media_a, media_b"
  }

  // ------------------------------------------------------------- resize

  /** STUB resize: scale (width, height) to fit a bounding box preserving
    * aspect ratio — the arithmetic a real image resize would parameterize.
    * Pure per-row math; runs inside the same partition iterator as the
    * decode, so no extra pass. */
  def stubResize(f: MediaFeatures, maxW: Int = 224, maxH: Int = 224): MediaFeatures =
    if (f.width <= maxW && f.height <= maxH) f
    else {
      val scale = math.min(maxW.toDouble / math.max(f.width, 1),
        maxH.toDouble / math.max(f.height, 1))
      f.copy(width = math.max(1, (f.width * scale).toInt),
        height = math.max(1, (f.height * scale).toInt))
    }

  /** Resize query: every decoded item's (width, height) scaled into the
    * default 224×224 bounding box — decode and resize run in ONE narrow
    * stage (the `map` fuses onto the `mapPartitions` iterator; no shuffle
    * touches a payload). The DuckDB oracle replays the identical
    * scale-and-truncate arithmetic, so the query is hash-checked. */
  def frameResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(spark, dir).map { f =>
      val r = stubResize(f)
      (f.media_id, f.width, f.height, r.width, r.height)
    }.toDF("media_id", "width", "height", "resized_width", "resized_height")
      .orderBy("media_id")
  }

  val frameResizeSql: String = {
    def side(dim: String) =
      s"CASE WHEN width <= 224 AND height <= 224 THEN $dim " +
        s"ELSE GREATEST(1, CAST(trunc($dim * LEAST(224e0 / GREATEST(width, 1), " +
        s"224e0 / GREATEST(height, 1))) AS INT)) END AS resized_$dim"
    "SELECT media_id, width, height, " + side("width") + ", " + side("height") +
      " FROM (SELECT doc_id AS media_id, (h % 1920)::INT AS width, (h % 1080)::INT AS height FROM " +
      "(SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(list_filter(string_split(text, ''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT))), " +
      "(acc, c) -> (acc * 31 + c) % 1000000007) AS h FROM documents) t) m ORDER BY media_id"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_meta" -> ((s, d) => mediaMeta(s, d)),
    "media_dedup" -> ((s, d) => mediaDedup(s, d)),
    "media_neardup" -> ((s, d) => mediaNeardup(s, d)),
    "frame_sample" -> ((s, d) => frameSample(s, d)),
    "frame_resize" -> ((s, d) => frameResize(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "media_meta" -> mediaMetaSql,
    "media_dedup" -> mediaDedupSql,
    "media_neardup" -> mediaNeardupSql,
    "frame_sample" -> frameSampleSql,
    "frame_resize" -> frameResizeSql,
  )
}
