package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{CacheScope, table}

/** Text analysis for training-data curation: language ID (stopword-marker
  * scoring), quality scoring (length / punctuation / stopword-ratio bands),
  * token counting (whitespace, a GPT-2-style pre-tokenizer regex, and a
  * chars/4 BPE estimate), document fingerprinting (polynomial rolling
  * hash), the corpus-prep funnel (language gate → quality gate →
  * exact dedup in one scan; the neardup variant adds MinHash-LSH +
  * connected-component fuzzy dedup over the survivors), uniform source
  * balancing (deterministic md5-rank downsampling), a PII exposure
  * scan (dialect-shared email/phone/IP regexes), Gopher repetition /
  * quality signals, and TF-IDF source keyword profiles.
  *
  * Everything is built from codegen'd higher-order functions (`split`,
  * `filter`, `aggregate`) — no UDFs — so the same computation runs as plain
  * SQL in the DuckDB oracle and scales linearly with a single scan per
  * query. Per-doc outputs shuffle nothing; per-source rollups shuffle one
  * small aggregate.
  */
object TextAnalysis {

  /** Marker stopwords per language (tiny but real n-gram-style signal;
    * deterministic — the mechanism is what scales, swap in fuller lists for
    * production). */
  val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
  )

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Language ID: argmax marker-hit ratio, ties → lexicographically first;
    * no hits at all → 'und'. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scores = markers.map { case (lang, ws) =>
      s"size(filter(toks, t -> t IN ${inList(ws)})) * 1e0 / size(toks) AS score_$lang"
    }
    val best = markers.map { case (lang, _) => s"score_$lang" }.mkString("GREATEST(", ", ", ")")
    val pick = markers.map { case (lang, _) =>
      s"WHEN score_$lang = best THEN '$lang'"
    }.mkString("CASE WHEN best = 0 THEN 'und' ", " ", " END")
    table(spark, dir, "documents")
      .selectExpr("doc_id", "split(text, '\\\\s+') AS toks")
      .selectExpr(Seq("doc_id") ++ scores: _*)
      .selectExpr(Seq("doc_id", s"$best AS best") ++
        markers.map { case (l, _) => s"score_$l" }: _*)
      .selectExpr("doc_id", s"$pick AS predicted_lang", "ROUND(best, 6) AS best_score")
      .orderBy("doc_id")
  }

  def langIdSql: String = {
    val scores = markers.map { case (lang, ws) =>
      s"len(list_filter(toks, t -> t IN ${inList(ws)})) * 1e0 / len(toks) AS score_$lang"
    }.mkString(", ")
    val best = markers.map { case (lang, _) => s"score_$lang" }.mkString("GREATEST(", ", ", ")")
    val pick = markers.map { case (lang, _) =>
      s"WHEN score_$lang = best THEN '$lang'"
    }.mkString("CASE WHEN best = 0 THEN 'und' ", " ", " END")
    s"SELECT doc_id, $pick AS predicted_lang, ROUND(best, 6) AS best_score FROM " +
      s"(SELECT s.*, $best AS best FROM (SELECT doc_id, $scores FROM " +
      "(SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents) t) s) b " +
      "ORDER BY doc_id"
  }

  // --------------------------------------------------------- quality score

  /** Quality components: length band, punctuation ratio, stopword-ratio
    * band, mean token length band; score = weighted sum (deterministic,
    * shared text). */
  // GREATEST(·, 1) denominators: ANSI mode (Spark 4 default) turns the
  // division on an empty document into DIVIDE_BY_ZERO; a 0-char doc gets
  // ratio 0 instead (EdgeCaseSpec pins this)
  private val qualityStage1: Seq[String] = Seq(
    "doc_id",
    "LENGTH(text) AS n_chars",
    "size(toks) AS n_tokens",
    "LENGTH(regexp_replace(text, '[a-zA-Z0-9\\\\s]', '')) * 1e0 / GREATEST(LENGTH(text), 1) AS punct_ratio",
    s"size(filter(toks, t -> t IN ${inList(markers.flatMap(_._2))})) * 1e0 / GREATEST(size(toks), 1) AS stopword_ratio",
    "(LENGTH(text) - size(toks) + 1) * 1e0 / GREATEST(size(toks), 1) AS avg_token_len")

  private val qualityStage2: Seq[String] = Seq(
    "doc_id", "n_chars", "CAST(n_tokens AS BIGINT) AS n_tokens",
    "ROUND(punct_ratio, 6) AS punct_ratio",
    "ROUND(stopword_ratio, 6) AS stopword_ratio",
    "ROUND(avg_token_len, 6) AS avg_token_len",
    "ROUND(0.3 * LEAST(n_chars / 500e0, 1.0) + " +
      "0.2 * (1.0 - LEAST(punct_ratio * 5, 1.0)) + " +
      "0.3 * (CASE WHEN stopword_ratio >= 0.05 AND stopword_ratio <= 0.6 THEN 1.0 ELSE 0.5 END) + " +
      "0.2 * (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 1.0 ELSE 0.5 END), 6) AS quality_score")

  def textQuality(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .selectExpr("doc_id", "text", "split(text, '\\\\s+') AS toks")
      .selectExpr(qualityStage1: _*)
      .selectExpr(qualityStage2: _*)
      .orderBy("doc_id")

  def textQualitySql: String = {
    val stage1 = qualityStage1
      .map(_.replace("size(filter(toks", "len(list_filter(toks"))
      .map(_.replace("size(toks)", "len(toks)"))
      .map(_.replace("regexp_replace(text, '[a-zA-Z0-9\\\\s]', '')", "regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')"))
      .mkString(", ")
    s"SELECT ${qualityStage2.mkString(", ")} FROM (SELECT $stage1 FROM " +
      "(SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks FROM documents) t) s ORDER BY doc_id"
  }

  // ---------------------------------------------------------- token stats

  /** BPE-style pre-tokenizer: letter runs, digit runs, punctuation runs —
    * the character-class core of the GPT-2 pre-tokenizer pattern. Two
    * renderings of ONE regex: Spark SQL string literals consume a level of
    * backslash escaping, DuckDB's don't. */
  val PretokenRegexSpark = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]+"
  val PretokenRegexDuck = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"

  /** Per-source corpus rollup: docs, whitespace tokens, BPE-ish counts
    * (pre-tokenizer regex matches + the cruder ceil(chars/4) estimate),
    * distinct vocabulary. The exploded-word `countDistinct` is the one
    * corpus-sized shuffle here — `approx = true` (the bench/100 TB path)
    * swaps it for `approx_count_distinct`'s fixed-size HLL sketch, which
    * partial-aggregates map-side so the shuffle carries one sketch per
    * (partition, source) instead of every distinct word. */
  def tokenStats(spark: SparkSession, dir: String, approx: Boolean = false): DataFrame = {
    val docs = table(spark, dir, "documents")
    val base = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(expr("size(split(text, '\\\\s+'))")).as("total_tokens"),
      sum(expr(s"size(regexp_extract_all(text, '$PretokenRegexSpark', 0))")).as("pretoken_count"),
      sum(expr("CAST(ceil(LENGTH(text) / 4e0) AS BIGINT)")).as("est_bpe_tokens"))
    val vocab = docs
      .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
      .groupBy("source").agg(
        (if (approx) approx_count_distinct("w") else countDistinct("w"))
          .as("distinct_words"))
    base.join(vocab, "source")
      .selectExpr("source", "n_docs", "total_tokens",
        "ROUND(total_tokens * 1e0 / n_docs, 6) AS avg_tokens_per_doc",
        "CAST(pretoken_count AS BIGINT) AS pretoken_count",
        "est_bpe_tokens", "distinct_words")
      .orderBy("source")
  }

  def tokenStatsSql: String =
    "SELECT b.source, n_docs, total_tokens, ROUND(total_tokens * 1e0 / n_docs, 6) AS avg_tokens_per_doc, " +
      "pretoken_count, est_bpe_tokens, distinct_words FROM " +
      "(SELECT source, COUNT(*) AS n_docs, SUM(len(regexp_split_to_array(text, '\\s+')))::BIGINT AS total_tokens, " +
      s"SUM(len(regexp_extract_all(text, '$PretokenRegexDuck')))::BIGINT AS pretoken_count, " +
      "SUM(CAST(ceil(LENGTH(text) / 4e0) AS BIGINT))::BIGINT AS est_bpe_tokens FROM documents GROUP BY 1) b " +
      "JOIN (SELECT source, COUNT(DISTINCT w) AS distinct_words FROM " +
      "(SELECT source, unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents) x GROUP BY 1) v " +
      "ON b.source = v.source ORDER BY b.source"

  // ------------------------------------------------- corpus prep funnel

  /** Default corpus-prep gates. */
  val PrepLang = "en"
  val PrepMinQuality = 0.7

  /** The funnel's gate over an arbitrary (doc_id, source, text, …) frame —
    * a stateless projection chain, so the SAME expressions run on batch
    * snapshots and unbounded streams ([[graft.streaming.StreamingPrep]]).
    * `carry` columns (e.g. an event timestamp) pass through untouched.
    * Output: (doc_id, source, text, carry…, lang_ok, qual_ok). */
  private[graft] def gateDocs(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val scores = markers.map { case (lang, ws) =>
      s"size(filter(toks, t -> t IN ${inList(ws)})) * 1e0 / size(toks) AS score_$lang"
    }
    val best = markers.map { case (lang, _) => s"score_$lang" }.mkString("GREATEST(", ", ", ")")
    val pick = markers.map { case (lang, _) =>
      s"WHEN score_$lang = best THEN '$lang'"
    }.mkString("CASE WHEN best = 0 THEN 'und' ", " ", " END")
    val keep = Seq("doc_id", "source", "text") ++ carry
    docs
      .selectExpr(keep :+ "split(text, '\\\\s+') AS toks": _*)
      .selectExpr(keep ++ Seq("toks") ++ scores: _*)
      .selectExpr(keep ++ Seq("toks", s"$best AS best") ++
        markers.map { case (l, _) => s"score_$l" }: _*)
      .selectExpr(keep ++ Seq(s"$pick AS predicted_lang") ++ qualityStage1.tail: _*)
      .selectExpr(keep ++ Seq("predicted_lang", qualityStage2.last): _*)
      .selectExpr(keep ++ Seq(
        s"predicted_lang = '$PrepLang' AS lang_ok",
        s"(predicted_lang = '$PrepLang' AND quality_score >= $PrepMinQuality) AS qual_ok"): _*)
  }

  /** Per-doc gated frame feeding both funnel variants: (doc_id, source,
    * text, lang_ok, qual_ok), where the language and quality expressions are
    * the same shared SQL fragments the standalone queries use, evaluated
    * inline in ONE scan — no join of per-doc frames. */
  private[graft] def prepDocs(spark: SparkSession, dir: String): DataFrame =
    gateDocs(table(spark, dir, "documents").select("doc_id", "source", "text"))

  /** DuckDB mirror of [[prepDocs]]. */
  private[graft] def prepDocsSql: String = {
    val scores = markers.map { case (lang, ws) =>
      s"len(list_filter(toks, t -> t IN ${inList(ws)})) * 1e0 / len(toks) AS score_$lang"
    }.mkString(", ")
    val best = markers.map { case (lang, _) => s"score_$lang" }.mkString("GREATEST(", ", ", ")")
    val pick = markers.map { case (lang, _) =>
      s"WHEN score_$lang = best THEN '$lang'"
    }.mkString("CASE WHEN best = 0 THEN 'und' ", " ", " END")
    val stage1 = qualityStage1.tail
      .map(_.replace("size(filter(toks", "len(list_filter(toks"))
      .map(_.replace("size(toks)", "len(toks)"))
      .map(_.replace("regexp_replace(text, '[a-zA-Z0-9\\\\s]', '')", "regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')"))
      .mkString(", ")
    s"SELECT doc_id, source, text, predicted_lang = '$PrepLang' AS lang_ok, " +
      s"(predicted_lang = '$PrepLang' AND quality_score >= $PrepMinQuality) AS qual_ok FROM " +
      s"(SELECT doc_id, source, text, predicted_lang, ${qualityStage2.last} FROM " +
      s"(SELECT doc_id, source, text, $pick AS predicted_lang, $stage1 FROM " +
      s"(SELECT s.*, $best AS best FROM " +
      s"(SELECT doc_id, source, text, toks, $scores FROM " +
      "(SELECT doc_id, source, text, regexp_split_to_array(text, '\\s+') AS toks FROM documents) t) s) b) p) q"
  }

  /** Training-data prep funnel per source: language gate (keep [[PrepLang]]
    * by the langId argmax), quality gate (score ≥ [[PrepMinQuality]]), then
    * exact dedup of the survivors (distinct md5(text)). ONE scan over the
    * corpus plus the per-source rollup shuffle — at 100 TB this funnel
    * costs one pass. For the variant that also collapses NEAR-duplicates
    * see [[corpusPrepNeardup]]. */
  def corpusPrep(spark: SparkSession, dir: String): DataFrame =
    prepDocs(spark, dir)
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_kept"),
        sum(when(col("qual_ok"), 1L).otherwise(0L)).as("n_quality_kept"),
        countDistinct(when(col("qual_ok"), md5(col("text")))).as("n_dedup_kept"))
      .orderBy("source")

  def corpusPrepSql: String =
    s"SELECT source, COUNT(*) AS n_docs, " +
      "SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END)::BIGINT AS n_lang_kept, " +
      "SUM(CASE WHEN qual_ok THEN 1 ELSE 0 END)::BIGINT AS n_quality_kept, " +
      "COUNT(DISTINCT CASE WHEN qual_ok THEN md5(text) END)::BIGINT AS n_dedup_kept FROM " +
      s"($prepDocsSql) f GROUP BY source ORDER BY source"

  /** [[corpusPrep]] extended with the fuzzy-dedup stage a training-data
    * pipeline actually ships: gate survivors → exact dedup (global
    * min-doc_id canonical per md5(text)) → MinHash-LSH near-dup candidates
    * over ONLY those canonicals ([[Dedup.minhashPairsOf]], verified
    * Jaccard ≥ [[Dedup.JaccardThreshold]]) → connected components
    * ([[Dedup.neardupComponents]], distributed min-label propagation) →
    * keep the min-doc_id canonical per near-dup cluster.
    *
    * Output per source adds `n_dedup_kept` (exact-canonical docs attributed
    * to the source of the surviving copy — a cross-source dup counts once,
    * unlike [[corpusPrep]]'s per-source distinct-md5 count) and
    * `n_neardup_kept` (docs remaining after near-dup collapse). Scale
    * shape: one gating scan, one md5 groupBy, then the banded LSH pipeline
    * over the (already reduced) canonical set — never an all-pairs join.
    *
    * Reuse note: this stage's clusters are over the QUALITY-GATED canonical
    * subset by definition (clustering the raw corpus would let filtered-out
    * docs bridge otherwise-distinct clusters), so a corpus-wide
    * [[Dedup.writeClusters]] artifact is not substitutable here; the
    * persist-and-reuse contract applies to whole-corpus consumers
    * ([[graft.pipeline.DataSplit.splitLeakageNeardup]]). */
  def corpusPrepNeardup(spark: SparkSession, dir: String,
      scope: Option[CacheScope] = None): DataFrame = {
    def cached(df: DataFrame) = scope.fold(df.cache())(_.cached(df))
    val gated = cached(prepDocs(spark, dir))
    val surv = gated.filter(col("qual_ok")).select("doc_id", "source", "text")
    val canonIds = surv.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val cdocs = cached(surv.join(canonIds, "doc_id"))
    val labels = Dedup.neardupComponents(cdocs.select("doc_id", "text"), scope = scope)
    val kept = cdocs.join(labels, "doc_id")
      .filter(col("cluster_id") === col("doc_id"))
    val base = gated.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_kept"),
      sum(when(col("qual_ok"), 1L).otherwise(0L)).as("n_quality_kept"))
    val canonAgg = cdocs.groupBy("source").agg(count(lit(1)).as("n_dedup_kept"))
    val keptAgg = kept.groupBy("source").agg(count(lit(1)).as("n_neardup_kept"))
    base.join(canonAgg, Seq("source"), "left").join(keptAgg, Seq("source"), "left")
      .selectExpr("source", "n_docs", "n_lang_kept", "n_quality_kept",
        "COALESCE(n_dedup_kept, CAST(0 AS BIGINT)) AS n_dedup_kept",
        "COALESCE(n_neardup_kept, CAST(0 AS BIGINT)) AS n_neardup_kept")
      .orderBy("source")
  }

  /** DuckDB mirror of [[corpusPrepNeardup]]: the near-dup components come
    * from a recursive-CTE transitive closure over the verified LSH pairs
    * (min reachable doc_id = the label propagation's unique fixpoint). */
  def corpusPrepNeardupSql: String =
    s"WITH RECURSIVE docs0 AS ($prepDocsSql), " +
      "surv AS (SELECT doc_id, source, text FROM docs0 WHERE qual_ok), " +
      "cd AS (SELECT MIN(doc_id) AS doc_id FROM surv GROUP BY md5(text)), " +
      "cdocs AS (SELECT s.doc_id, s.source, s.text FROM surv s JOIN cd ON cd.doc_id = s.doc_id), " +
      s"${Dedup.minhashPairsCtes("cdocs")}, " +
      s"nd_edges AS (SELECT doc_a AS src, doc_b AS dst FROM nd_pairs WHERE jaccard >= ${Dedup.JaccardThreshold} " +
      s"UNION SELECT doc_b, doc_a FROM nd_pairs WHERE jaccard >= ${Dedup.JaccardThreshold}), " +
      "reach(src, dst) AS (SELECT doc_id, doc_id FROM cdocs " +
      "UNION SELECT r.src, e.dst FROM reach r JOIN nd_edges e ON e.src = r.dst), " +
      "labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src), " +
      "kept AS (SELECT c.doc_id, c.source FROM cdocs c JOIN labels l ON l.doc_id = c.doc_id WHERE l.cluster_id = c.doc_id), " +
      "base AS (SELECT source, COUNT(*) AS n_docs, " +
      "SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END)::BIGINT AS n_lang_kept, " +
      "SUM(CASE WHEN qual_ok THEN 1 ELSE 0 END)::BIGINT AS n_quality_kept FROM docs0 GROUP BY source), " +
      "ca AS (SELECT source, COUNT(*) AS n_dedup_kept FROM cdocs GROUP BY source), " +
      "ka AS (SELECT source, COUNT(*) AS n_neardup_kept FROM kept GROUP BY source) " +
      "SELECT b.source, n_docs, n_lang_kept, n_quality_kept, " +
      "COALESCE(n_dedup_kept, 0)::BIGINT AS n_dedup_kept, " +
      "COALESCE(n_neardup_kept, 0)::BIGINT AS n_neardup_kept " +
      "FROM base b LEFT JOIN ca ON ca.source = b.source LEFT JOIN ka ON ka.source = b.source " +
      "ORDER BY b.source"

  // ----------------------------------------------------------- PII scan

  /** PII detectors shared verbatim by both engines: written without
    * backslash classes (no `\s`/`\b`/`\d`) so the ONE pattern string
    * survives Spark's SQL-literal escaping and DuckDB's RE2 unchanged. */
  val PiiEmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PiiPhoneRegex = "[+]?[0-9][0-9() -]{7,}[0-9]"
  val PiiIpv4Regex = "([0-9]{1,3}[.]){3}[0-9]{1,3}"

  /** Per-source PII exposure scan — the pre-training scrub decision input:
    * how many docs carry each PII class and how many raw hits there are.
    * One projection scan + one small rollup shuffle; the redaction itself
    * is `regexp_replace` over the same patterns, applied wherever the
    * pipeline writes its cleaned copy. */
  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    def hits(re: String) = s"size(regexp_extract_all(text, '$re', 0))"
    table(spark, dir, "documents")
      .selectExpr("source",
        s"${hits(PiiEmailRegex)} AS email_hits",
        s"${hits(PiiPhoneRegex)} AS phone_hits",
        s"${hits(PiiIpv4Regex)} AS ip_hits")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("email_hits") > 0, 1L).otherwise(0L)).as("docs_with_email"),
        sum(when(col("phone_hits") > 0, 1L).otherwise(0L)).as("docs_with_phone"),
        sum(when(col("ip_hits") > 0, 1L).otherwise(0L)).as("docs_with_ip"),
        sum(col("email_hits").cast("long")).as("total_email_hits"),
        sum(col("phone_hits").cast("long")).as("total_phone_hits"),
        sum(col("ip_hits").cast("long")).as("total_ip_hits"))
      .orderBy("source")
  }

  def piiScanSql: String = {
    def hits(re: String) = s"len(regexp_extract_all(text, '$re'))"
    "SELECT source, COUNT(*) AS n_docs, " +
      s"SUM(CASE WHEN ${hits(PiiEmailRegex)} > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_email, " +
      s"SUM(CASE WHEN ${hits(PiiPhoneRegex)} > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_phone, " +
      s"SUM(CASE WHEN ${hits(PiiIpv4Regex)} > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_ip, " +
      s"SUM(${hits(PiiEmailRegex)})::BIGINT AS total_email_hits, " +
      s"SUM(${hits(PiiPhoneRegex)})::BIGINT AS total_phone_hits, " +
      s"SUM(${hits(PiiIpv4Regex)})::BIGINT AS total_ip_hits " +
      "FROM documents GROUP BY 1 ORDER BY 1"
  }

  /** PII REDACTION — the write-half of [[piiScan]]: the cleaned-copy
    * transform a release pipeline applies wherever it emits text. One
    * sequential `regexp_replace` chain (email → IPv4 → phone, the same
    * shared patterns the scan counts; email and IP first so the phone
    * pattern can never eat digits of an already-classified hit) plus
    * per-class hit counts from the ORIGINAL text, so the caller can audit
    * redaction volume without re-scanning. Map-only — no shuffle, no
    * state; at 100 TB this is a pure projection on the corpus write path.
    *
    * Gated by [[piiRedactGate]]: the driver testdata contains zero PII in
    * any class (verified at every SF), so the gate row plants
    * deterministic PII into the corpus first — otherwise it would hash an
    * identity transform and never exercise the replace chain. */
  def piiRedact(docs: DataFrame): DataFrame = {
    def hits(re: String) = s"size(regexp_extract_all(text, '$re', 0))"
    val red = s"regexp_replace(regexp_replace(regexp_replace(text, " +
      s"'$PiiEmailRegex', '[EMAIL]'), '$PiiIpv4Regex', '[IP]'), " +
      s"'$PiiPhoneRegex', '[PHONE]')"
    docs.selectExpr("doc_id",
      s"CAST(${hits(PiiEmailRegex)} AS BIGINT) AS email_hits",
      s"CAST(${hits(PiiIpv4Regex)} AS BIGINT) AS ip_hits",
      s"CAST(${hits(PiiPhoneRegex)} AS BIGINT) AS phone_hits",
      s"$red AS redacted_text")
  }

  /** Planted-PII augmentation for the redaction gate: appends a
    * deterministic email (doc_id % 3), IPv4 (doc_id % 5) and phone
    * (doc_id % 7) to the document text, derived purely from doc_id so both
    * engines synthesize byte-identical strings. The ONLY dialect split is
    * the integer→string cast type name (STRING vs VARCHAR); digits render
    * identically and `concat`/`lpad` share semantics. Plants start with a
    * space and none of the three shapes can bleed into a neighbouring
    * class (emails need `@`, IPs need dots, the phone class has neither). */
  private def piiPlant(castType: String): String = {
    def s(e: String) = s"CAST($e AS $castType)"
    "concat(text, " +
      s"CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', ${s("doc_id")}, '@example.com') ELSE '' END, " +
      s"CASE WHEN doc_id % 5 = 0 THEN concat(' from 10.', ${s("doc_id % 256")}, '.0.1') ELSE '' END, " +
      s"CASE WHEN doc_id % 7 = 0 THEN concat(' call +1 (555) 010-', lpad(${s("doc_id % 10000")}, 4, '0')) ELSE '' END)"
  }

  /** CORRECTNESS gate for [[piiRedact]] — the corpus carries no real PII,
    * so the gate runs the production transform over the planted-PII copy
    * ([[piiPlant]]) and hashes the md5 of each redacted text (compact, and
    * any single-character divergence in the Java-vs-RE2 replace chain
    * flips the row) plus the three audit counts. */
  def piiRedactGate(spark: SparkSession, dir: String): DataFrame =
    piiRedact(table(spark, dir, "documents")
        .selectExpr("doc_id", s"${piiPlant("STRING")} AS text"))
      .selectExpr("doc_id", "email_hits", "ip_hits", "phone_hits",
        "md5(redacted_text) AS redacted_md5")
      .orderBy("doc_id")

  /** DuckDB mirror of [[piiRedactGate]]: same plant, same shared regex
    * literals; DuckDB's `regexp_replace` replaces only the FIRST match
    * unless the 'g' option is passed (Spark always replaces all), so the
    * oracle chain carries 'g' explicitly. */
  def piiRedactSql: String = {
    def hits(re: String) = s"len(regexp_extract_all(text, '$re'))"
    val red = "regexp_replace(regexp_replace(regexp_replace(text, " +
      s"'$PiiEmailRegex', '[EMAIL]', 'g'), '$PiiIpv4Regex', '[IP]', 'g'), " +
      s"'$PiiPhoneRegex', '[PHONE]', 'g')"
    s"WITH aug AS (SELECT doc_id, ${piiPlant("VARCHAR")} AS text FROM documents) " +
      s"SELECT doc_id, CAST(${hits(PiiEmailRegex)} AS BIGINT) AS email_hits, " +
      s"CAST(${hits(PiiIpv4Regex)} AS BIGINT) AS ip_hits, " +
      s"CAST(${hits(PiiPhoneRegex)} AS BIGINT) AS phone_hits, " +
      s"md5($red) AS redacted_md5 FROM aug ORDER BY doc_id"
  }

  // ----------------------------------------------------- source balancing

  /** Rebalance the corpus to a uniform source mixture: every source is
    * downsampled to the SMALLEST source's size, with the kept subset chosen
    * deterministically (rank by md5 of the doc id within each source — a
    * seedless uniform permutation both engines replay). Output per source:
    * size, docs kept, and the kept-id checksum so the oracle verifies the
    * exact selection, not just its cardinality.
    *
    * The exact form's rank window sorts each source INSIDE ONE TASK — fine
    * until a source is a 10¹⁰-doc crawl dump, where that partition is the
    * straggler. `approx = true` (the bench/100 TB path) replaces the rank
    * with a per-row hash threshold — keep iff
    * hash(doc_id)·n_source < 2³² ·target — which needs no sort and no
    * window, is embarrassingly parallel, and keeps ~target docs per source
    * (binomial error O(√target)) with the same deterministic md5 coin. */
  def balancedMix(spark: SparkSession, dir: String, approx: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(spark, dir, "documents").select("doc_id", "source")
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val target = sizes.agg(min("n_docs").as("target"))
    val keepFlagged =
      if (approx) docs
        .withColumn("u", expr(
          "CAST(conv(substring(md5(cast(cast(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)"))
        .join(sizes, "source").crossJoin(broadcast(target))
        // u < 2³², n_docs < 2³¹ → the product stays inside a signed 64-bit
        .withColumn("keep", col("u") * col("n_docs") < lit(4294967296L) * col("target"))
      else docs
        .withColumn("rk", row_number().over(Window.partitionBy("source")
          .orderBy(expr("md5(cast(cast(doc_id AS STRING) AS BINARY))"), col("doc_id"))))
        .join(sizes, "source").crossJoin(broadcast(target))
        .withColumn("keep", col("rk") <= col("target"))
    keepFlagged
      .groupBy("source", "n_docs").agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("keep"), col("doc_id"))), lit(0L))
          .as("kept_id_sum"))
      .select("source", "n_docs", "n_kept", "kept_id_sum")
      .orderBy("source")
  }

  def balancedMixSql: String =
    "WITH sizes AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1), " +
      "t AS (SELECT MIN(n_docs) AS target FROM sizes), " +
      "r AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source " +
      "ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk FROM documents) " +
      "SELECT s.source, s.n_docs, " +
      "SUM(CASE WHEN rk <= target THEN 1 ELSE 0 END)::BIGINT AS n_kept, " +
      "COALESCE(SUM(CASE WHEN rk <= target THEN doc_id END), 0)::BIGINT AS kept_id_sum " +
      "FROM r JOIN sizes s ON s.source = r.source CROSS JOIN t " +
      "GROUP BY 1, 2 ORDER BY 1"

  // ------------------------------------------------- mixture planning

  /** Target language mixture for [[corpusMixture]] (literal contract —
    * rendered into BOTH engines' plans): the shares a training run wants,
    * independent of what the crawl happens to contain. Languages absent
    * from the map get weight 0 (dropped from the mix). */
  val MixtureWeights: Seq[(String, Double)] =
    Seq("en" -> 0.30, "zh" -> 0.20, "de" -> 0.20, "es" -> 0.15, "fr" -> 0.15)

  /** Token budget as a fraction of the corpus total. */
  val MixtureBudgetFrac = 0.5

  /** `WHEN lang = 'xx' THEN w` ladder; `e0` suffix forces DOUBLE in both
    * engines (a bare `0.3` parses as DECIMAL in Spark SQL and DuckDB). */
  private def mixtureWeightCase(langCol: String): String =
    "CASE " + MixtureWeights.map { case (l, w) =>
      s"WHEN $langCol = '$l' THEN ${w}e0" }.mkString(" ") + " ELSE 0e0 END"

  /** Training-mixture allocation — the planning step between a curated
    * corpus and a training run (the Pile / DoReMi-style recipe: fix target
    * language shares, fit them to a token budget): per language, available
    * tokens vs `budget x weight` target, the deterministic per-doc sampling
    * rate that hits the target, the epoch count (>1 = the language must be
    * repeated/oversampled to fill its share — the low-resource case), and
    * the single-epoch planned token yield. Downstream, the rate feeds the
    * same hash-threshold coin [[balancedMix]] uses, so the plan IS
    * executable without a sort.
    *
    * Scale shape: ONE corpus scan into a lang-cardinality partial agg;
    * every later frame is languages-sized. The weight ladder and budget
    * fraction are plan literals replayed verbatim by the DuckDB twin. */
  def corpusMixture(spark: SparkSession, dir: String): DataFrame = {
    val perLang = table(spark, dir, "documents")
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(expr("size(split(text, '\\\\s+'))")).cast("long").as("tokens_avail"))
    val total = perLang.agg(sum("tokens_avail").as("total_tokens"))
    perLang.crossJoin(broadcast(total))
      .withColumn("weight", expr(mixtureWeightCase("lang")))
      .withColumn("budget",
        expr(s"CAST(FLOOR(total_tokens * ${MixtureBudgetFrac}e0) AS BIGINT)"))
      .withColumn("target_tokens", expr("CAST(FLOOR(budget * weight) AS BIGINT)"))
      .selectExpr("lang", "n_docs", "tokens_avail", "weight", "target_tokens",
        "ROUND(LEAST(1e0, target_tokens * 1e0 / tokens_avail), 6) AS sampling_rate",
        "ROUND(target_tokens * 1e0 / tokens_avail, 6) AS epochs",
        "LEAST(target_tokens, tokens_avail) AS planned_tokens",
        "CASE WHEN weight = 0e0 THEN 'drop' WHEN target_tokens > tokens_avail " +
          "THEN 'oversample' ELSE 'downsample' END AS action")
      .orderBy("lang")
  }

  def corpusMixtureSql: String =
    "WITH pl AS (SELECT lang, COUNT(*) AS n_docs, " +
      "SUM(len(regexp_split_to_array(text, '\\s+')))::BIGINT AS tokens_avail " +
      "FROM documents GROUP BY 1), " +
      "t AS (SELECT SUM(tokens_avail)::BIGINT AS total_tokens FROM pl), " +
      s"m AS (SELECT pl.*, ${mixtureWeightCase("lang")} AS weight, " +
      s"CAST(FLOOR(total_tokens * ${MixtureBudgetFrac}e0) AS BIGINT) AS budget " +
      "FROM pl CROSS JOIN t), " +
      "m2 AS (SELECT *, CAST(FLOOR(budget * weight) AS BIGINT) AS target_tokens FROM m) " +
      "SELECT lang, n_docs, tokens_avail, weight, target_tokens, " +
      "ROUND(LEAST(1e0, target_tokens * 1e0 / tokens_avail), 6) AS sampling_rate, " +
      "ROUND(target_tokens * 1e0 / tokens_avail, 6) AS epochs, " +
      "LEAST(target_tokens, tokens_avail) AS planned_tokens, " +
      "CASE WHEN weight = 0e0 THEN 'drop' WHEN target_tokens > tokens_avail " +
      "THEN 'oversample' ELSE 'downsample' END AS action " +
      "FROM m2 ORDER BY lang"

  /** Execute the [[corpusMixture]] plan: per-document hash-threshold
    * sampling at each language's planned rate — the same sort-free md5
    * coin as [[balancedMix]]'s approx path (keep iff
    * u(doc) < floor(rate · 2³²)), so selection is deterministic,
    * embarrassingly parallel, and replayed exactly by the oracle. Output
    * per language: corpus size, token availability, the plan's target,
    * what the coin actually kept (docs, tokens, id checksum).
    *
    * Scale shape: the plan frame is languages-sized and broadcast onto
    * ONE corpus scan; kept-token counts binomially concentrate around
    * rate·avail (oversampled languages keep everything — epochs >1 are
    * repetition, applied at training time, not here). FLOOR before the
    * threshold cast keeps Spark (truncating) and DuckDB (rounding)
    * double→int casts identical. */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val plan = corpusMixture(spark, dir)
      .select("lang", "n_docs", "tokens_avail", "target_tokens", "sampling_rate")
    table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr("size(split(text, '\\\\s+'))").cast("long").as("toks"),
        expr("CAST(conv(substring(md5(cast(cast(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT)")
          .as("u"))
      .join(broadcast(plan), "lang")
      .withColumn("keep",
        col("u") < expr("CAST(FLOOR(sampling_rate * 4294967296e0) AS BIGINT)"))
      .groupBy("lang", "n_docs", "tokens_avail", "target_tokens").agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("keep"), col("toks"))), lit(0L)).as("kept_tokens"),
        coalesce(sum(when(col("keep"), col("doc_id"))), lit(0L)).as("kept_id_sum"))
      .select("lang", "n_docs", "tokens_avail", "target_tokens",
        "n_kept", "kept_tokens", "kept_id_sum")
      .orderBy("lang")
  }

  def mixtureSampleSql: String =
    s"WITH plan AS (${corpusMixtureSql.replace(" ORDER BY lang", "")}), " +
      "d AS (SELECT doc_id, lang, len(regexp_split_to_array(text, '\\s+'))::BIGINT AS toks, " +
      "CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) AS u FROM documents) " +
      "SELECT p.lang, p.n_docs, p.tokens_avail, p.target_tokens, " +
      "SUM(CASE WHEN u < CAST(FLOOR(sampling_rate * 4294967296e0) AS BIGINT) THEN 1 ELSE 0 END)::BIGINT AS n_kept, " +
      "COALESCE(SUM(CASE WHEN u < CAST(FLOOR(sampling_rate * 4294967296e0) AS BIGINT) THEN toks END), 0)::BIGINT AS kept_tokens, " +
      "COALESCE(SUM(CASE WHEN u < CAST(FLOOR(sampling_rate * 4294967296e0) AS BIGINT) THEN doc_id END), 0)::BIGINT AS kept_id_sum " +
      "FROM d JOIN plan p ON p.lang = d.lang " +
      "GROUP BY 1, 2, 3, 4 ORDER BY 1"

  // ------------------------------------------------- repetition signals

  /** Word-level n-gram expression: the i-th n-gram of `toks` for i in
    * 1..size-(n-1). Spark's `sequence(1, 0)` DESCENDS, so callers must guard
    * with `size(toks) > n-1` before evaluating this. */
  private def ngramSpark(n: Int): String = {
    val parts = (0 until n).map(j => s"element_at(toks, i + $j)").mkString(", ")
    s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', $parts))"
  }

  /** DuckDB twin (`range(1, m)` is half-open → 1..m-1, same guard). */
  private def ngramDuck(n: Int): String = {
    val parts = (0 until n).map(j => s"toks[i + $j]").mkString(", ")
    s"list_transform(range(1, len(toks) - ${n - 2}), i -> concat_ws(' ', $parts))"
  }

  /** Per-doc intra-document repetition signals — the Gopher repetition
    * filters (Rae et al. 2021, §A1.1) at word granularity (this corpus is
    * single-line, so the paper's line-level variants are degenerate here):
    * fraction of duplicate word 2-grams/3-grams (1 − distinct/total) and the
    * most-frequent-word share. Pure per-row projection over array
    * higher-order functions — zero shuffle, one scan, linear at 100 TB; the
    * per-doc cost is O(words·distinct words), bounded by document length. */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame = {
    def dup(n: Int) =
      s"ROUND(CASE WHEN size(toks) <= ${n - 1} THEN 0.0 ELSE " +
        s"1.0 - size(array_distinct(${ngramSpark(n)})) * 1e0 / (size(toks) - ${n - 1}) END, 6) " +
        s"AS dup_${n}gram_frac"
    table(spark, dir, "documents")
      .selectExpr("doc_id", "split(text, '\\\\s+') AS toks")
      .selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_words",
        "ROUND(size(array_distinct(toks)) * 1e0 / GREATEST(size(toks), 1), 6) AS distinct_word_ratio",
        "ROUND(array_max(transform(array_distinct(toks), w -> size(filter(toks, x -> x = w)))) " +
          "* 1e0 / GREATEST(size(toks), 1), 6) AS top_word_frac",
        dup(2), dup(3))
      .orderBy("doc_id")
  }

  def repetitionSignalsSql: String = {
    def dup(n: Int) =
      s"ROUND(CASE WHEN len(toks) <= ${n - 1} THEN 0.0 ELSE " +
        s"1.0 - len(list_distinct(${ngramDuck(n)})) * 1e0 / (len(toks) - ${n - 1}) END, 6) " +
        s"AS dup_${n}gram_frac"
    "SELECT doc_id, len(toks) AS n_words, " +
      "ROUND(len(list_distinct(toks)) * 1e0 / GREATEST(len(toks), 1), 6) AS distinct_word_ratio, " +
      "ROUND(list_max(list_transform(list_distinct(toks), w -> len(list_filter(toks, x -> x = w)))) " +
      "* 1e0 / GREATEST(len(toks), 1), 6) AS top_word_frac, " +
      s"${dup(2)}, ${dup(3)} FROM " +
      "(SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents) t ORDER BY doc_id"
  }

  // ------------------------------------------------- Gopher quality gates

  /** Gopher rule constants (Rae et al. 2021, §A1.1). */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopwords = 2

  /** Per-source pass counts for the Gopher quality rules: word-count band,
    * mean-word-length band, symbol-to-word ratio ('#' + '…' as '...'),
    * fraction of words containing an alphabetic character, and ≥2 stopword
    * hits (our [[markers]] English list stands in for the paper's). The
    * line-level rules (bullet/ellipsis line fractions) are omitted — this
    * corpus is single-line. One projection scan + one tiny rollup shuffle. */
  /** Per-document Gopher rule indicators — shared by [[gopherQuality]]'s
    * per-source rollup and [[qualityEnsemble]]'s weighted score. */
  private def gopherDoc(spark: SparkSession, dir: String): DataFrame = {
    val en = inList(markers.toMap.apply("en"))
    table(spark, dir, "documents")
      .selectExpr("doc_id", "source", "text", "split(text, '\\\\s+') AS toks")
      .selectExpr("doc_id", "source",
        s"size(toks) BETWEEN $GopherMinWords AND $GopherMaxWords AS words_ok",
        "(LENGTH(text) - size(toks) + 1) * 1e0 / GREATEST(size(toks), 1) " +
          s"BETWEEN $GopherMinMeanWordLen AND $GopherMaxMeanWordLen AS wordlen_ok",
        "((LENGTH(text) - LENGTH(replace(text, '#', ''))) + " +
          "(LENGTH(text) - LENGTH(replace(text, '...', ''))) / 3) * 1e0 " +
          s"/ GREATEST(size(toks), 1) <= $GopherMaxSymbolRatio AS symbol_ok",
        "size(filter(toks, w -> w rlike '[a-zA-Z]')) * 1e0 / GREATEST(size(toks), 1) " +
          s">= $GopherMinAlphaFrac AS alpha_ok",
        s"size(filter(toks, t -> t IN $en)) >= $GopherMinStopwords AS stopword_ok")
  }

  def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherDoc(spark, dir)
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("words_ok"), 1L).otherwise(0L)).as("n_words_ok"),
        sum(when(col("wordlen_ok"), 1L).otherwise(0L)).as("n_wordlen_ok"),
        sum(when(col("symbol_ok"), 1L).otherwise(0L)).as("n_symbol_ok"),
        sum(when(col("alpha_ok"), 1L).otherwise(0L)).as("n_alpha_ok"),
        sum(when(col("stopword_ok"), 1L).otherwise(0L)).as("n_stopword_ok"),
        sum(when(col("words_ok") && col("wordlen_ok") && col("symbol_ok") &&
          col("alpha_ok") && col("stopword_ok"), 1L).otherwise(0L)).as("n_pass_all"))
      .orderBy("source")

  /** DuckDB mirror of [[gopherDoc]]. */
  private def gopherDocSql: String = {
    val en = inList(markers.toMap.apply("en"))
    "SELECT doc_id, source, " +
      s"len(toks) BETWEEN $GopherMinWords AND $GopherMaxWords AS words_ok, " +
      "(LENGTH(text) - len(toks) + 1) * 1e0 / GREATEST(len(toks), 1) " +
      s"BETWEEN $GopherMinMeanWordLen AND $GopherMaxMeanWordLen AS wordlen_ok, " +
      "((LENGTH(text) - LENGTH(replace(text, '#', ''))) + " +
      "(LENGTH(text) - LENGTH(replace(text, '...', ''))) / 3) * 1e0 " +
      s"/ GREATEST(len(toks), 1) <= $GopherMaxSymbolRatio AS symbol_ok, " +
      "len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) * 1e0 / GREATEST(len(toks), 1) " +
      s">= $GopherMinAlphaFrac AS alpha_ok, " +
      s"len(list_filter(toks, t -> t IN $en)) >= $GopherMinStopwords AS stopword_ok FROM " +
      "(SELECT doc_id, source, text, regexp_split_to_array(text, '\\s+') AS toks FROM documents) t"
  }

  def gopherQualitySql: String = {
    def n(b: String, as: String) = s"SUM(CASE WHEN $b THEN 1 ELSE 0 END)::BIGINT AS $as"
    "SELECT source, COUNT(*) AS n_docs, " +
      Seq(n("words_ok", "n_words_ok"), n("wordlen_ok", "n_wordlen_ok"),
        n("symbol_ok", "n_symbol_ok"), n("alpha_ok", "n_alpha_ok"),
        n("stopword_ok", "n_stopword_ok"),
        n("words_ok AND wordlen_ok AND symbol_ok AND alpha_ok AND stopword_ok",
          "n_pass_all")).mkString(", ") +
      s" FROM ($gopherDocSql) g " +
      "GROUP BY source ORDER BY source"
  }

  // ------------------------------------------------------- fingerprinting

  /** Polynomial rolling hash over characters ((h*31 + ascii) mod 1e9+7) via
    * the `aggregate` higher-order function — a deterministic 63-bit-safe
    * document fingerprint. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .selectExpr("doc_id",
        "aggregate(filter(split(text, ''), c -> c <> ''), CAST(0 AS BIGINT), " +
          "(acc, c) -> (acc * 31 + ascii(c)) % 1000000007) AS fingerprint")
      .orderBy("doc_id")

  def fingerprintsSql: String =
    "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(list_filter(string_split(text, ''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT))), " +
      "(acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint FROM documents ORDER BY doc_id"

  // ------------------------------------------- corpus prep + LM gate

  /** Minimum mean log10 bigram probability a gate survivor must score to
    * pass the LM stage (CCNet keeps the low-perplexity tail; −1.5 sits
    * mid-distribution on this corpus so the gate is exercised, not
    * vacuous). Docs too short to have a bigram pass ungated — no evidence
    * is not negative evidence. */
  val LmMinLogprob = -1.5

  /** The FULL CCNet-shaped funnel: language gate → quality gate →
    * LM-perplexity gate ([[LmScore]], model trained on the corpus's
    * trusted slice) → exact dedup of what remains. Same scan structure as
    * [[corpusPrep]] plus the LM stage's in-row broadcast-model scoring —
    * it runs over gate SURVIVORS only, so the LM stage never even
    * tokenizes a doc the earlier gates dropped. */
  def corpusPrepLm(spark: SparkSession, dir: String): DataFrame = {
    val gated = prepDocs(spark, dir)
    val surv = gated.filter(col("qual_ok")).select("doc_id", "source", "text")
    val kept = LmScore.scoreRouted(surv, table(spark, dir, "documents"),
        carry = Seq("source", "text"))
      .filter(col("avg_logprob") >= LmMinLogprob || col("n_bigrams") === 0)
    val gateCounts = gated.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_kept"),
      sum(when(col("qual_ok"), 1L).otherwise(0L)).as("n_quality_kept"))
    val lmCounts = kept.groupBy("source").agg(
      count(lit(1)).as("n_lm_kept"),
      countDistinct(md5(col("text"))).as("n_dedup_kept"))
    gateCounts.join(lmCounts, Seq("source"), "left")
      .selectExpr("source", "n_docs", "n_lang_kept", "n_quality_kept",
        "COALESCE(n_lm_kept, CAST(0 AS BIGINT)) AS n_lm_kept",
        "COALESCE(n_dedup_kept, CAST(0 AS BIGINT)) AS n_dedup_kept")
      .orderBy("source")
  }

  def corpusPrepLmSql: String =
    s"WITH prep AS ($prepDocsSql), " +
      "surv AS (SELECT doc_id, source, text FROM prep WHERE qual_ok), " +
      s"${LmScore.scoredCtesFor("surv")}, " +
      "survagg AS (SELECT s.doc_id, s.source, s.text, " +
      "COALESCE(n_bigrams, 0) AS nb, agg.avg_logprob FROM surv s " +
      "LEFT JOIN agg ON s.doc_id = agg.doc_id), " +
      s"kept AS (SELECT * FROM survagg WHERE avg_logprob >= $LmMinLogprob OR nb = 0), " +
      "a1 AS (SELECT source, COUNT(*) AS n_docs, " +
      "SUM(CASE WHEN lang_ok THEN 1 ELSE 0 END)::BIGINT AS n_lang_kept, " +
      "SUM(CASE WHEN qual_ok THEN 1 ELSE 0 END)::BIGINT AS n_quality_kept FROM prep GROUP BY 1), " +
      "a2 AS (SELECT source, COUNT(*) AS n_lm_kept, " +
      "COUNT(DISTINCT md5(text)) AS n_dedup_kept FROM kept GROUP BY 1) " +
      "SELECT a1.source, n_docs, n_lang_kept, n_quality_kept, " +
      "COALESCE(n_lm_kept, 0)::BIGINT AS n_lm_kept, " +
      "COALESCE(n_dedup_kept, 0)::BIGINT AS n_dedup_kept " +
      "FROM a1 LEFT JOIN a2 ON a1.source = a2.source ORDER BY a1.source"

  // ------------------------------------------------- TF-IDF keywords

  /** Top keywords per source by TF-IDF — the topic-profiling view of a
    * corpus's feeds (what is src7 actually about, and did its subject
    * change between crawls). tf = word occurrences within the source;
    * idf = ln(#sources / #sources containing the word) — source-level,
    * so ubiquitous words score 0 and feed-specific vocabulary rises.
    *
    * Scale shape: one (source, word) partial aggregation (map-side
    * combined, the same class as `token_stats`), the idf frame is
    * vocabulary-sized and joins the tf frame on the word key, and the
    * top-k rank window partitions by source over source-local vocab.
    * Scores round to 6 BEFORE ranking (the ann_cosine rule) with the word
    * as tiebreak, so both engines rank identically. */
  val KeywordsPerSource = 5

  def sourceKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = table(spark, dir, "documents")
      .select(col("source"), explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val tf = words.groupBy("source", "w").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("w").agg(count(lit(1)).as("dfs"))
    val nSrc = tf.select("source").distinct().agg(count(lit(1)).cast("double").as("n_sources"))
    tf.join(dfs, "w").crossJoin(broadcast(nSrc))
      .selectExpr("source", "w AS word", "tf",
        "ROUND(tf * ln(n_sources / dfs), 6) AS tfidf")
      .withColumn("rk", row_number().over(Window.partitionBy("source")
        .orderBy(col("tfidf").desc, col("word").asc)))
      .filter(col("rk") <= KeywordsPerSource)
      .select("source", "rk", "word", "tf", "tfidf")
      .orderBy("source", "rk")
  }

  def sourceKeywordsSql: String =
    "WITH words AS (SELECT source, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w " +
      "FROM documents), " +
      "tf AS (SELECT source, w, COUNT(*) AS tf FROM words WHERE w <> '' GROUP BY 1, 2), " +
      "dfs AS (SELECT w, COUNT(*) AS dfs FROM tf GROUP BY 1), " +
      "ns AS (SELECT COUNT(DISTINCT source)::DOUBLE AS n_sources FROM tf), " +
      "scored AS (SELECT source, tf.w AS word, tf.tf AS tf, " +
      "ROUND(tf.tf * ln(n_sources / dfs.dfs), 6) AS tfidf " +
      "FROM tf JOIN dfs ON tf.w = dfs.w CROSS JOIN ns), " +
      "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source " +
      "ORDER BY tfidf DESC, word ASC) AS rk FROM scored) " +
      s"SELECT source, rk, word, tf, tfidf FROM ranked WHERE rk <= $KeywordsPerSource " +
      "ORDER BY source, rk"

  // ------------------------------------------------------------ bpe_pairs

  /** Top adjacent pre-token pairs corpus-wide — the first merge-candidate
    * table a BPE tokenizer trainer builds, and the signal a vocabulary
    * refresh monitors (a new domain surfaces as novel high-frequency
    * pairs). Honest cost: pair counting explodes one row per adjacent
    * token pair — that IS the BPE training workload — but the pair column
    * partial-aggregates map-side (hot pairs like "of the" collapse per
    * task before the exchange) and the top-k is TakeOrderedAndProject, so
    * the shuffle carries per-task distinct pairs, not corpus positions,
    * and nothing global is sorted. */
  val TopPairs = 50

  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .selectExpr(s"regexp_extract_all(text, '$PretokenRegexSpark', 0) AS toks")
      .filter("size(toks) >= 2")
      // sequence(1, 0) DESCENDS in Spark — the filter above guards it
      .selectExpr("explode(transform(sequence(1, size(toks) - 1), " +
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))) AS pair")
      .groupBy("pair").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .limit(TopPairs)

  def bpePairsSql: String =
    s"WITH t AS (SELECT regexp_extract_all(text, '$PretokenRegexDuck') AS toks FROM documents), " +
      "p AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1), " +
      "i -> toks[i] || ' ' || toks[i + 1])) AS pair FROM t WHERE len(toks) >= 2) " +
      "SELECT pair, COUNT(*)::BIGINT AS n_occurrences FROM p GROUP BY 1 " +
      s"ORDER BY n_occurrences DESC, pair ASC LIMIT $TopPairs"

  // -------------------------------------------------- tokenizer_fertility

  /** Per-language tokenizer fertility — BPE-ish subword tokens per
    * whitespace word, and chars per subword token. THE metric for "does
    * this tokenizer fit this language": high fertility = the vocabulary
    * fragments the language (CJK under a Latin-trained BPE), directly
    * inflating training cost per unit text. One partial-agg scan. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(expr("size(split(text, '\\\\s+'))")).as("ws_tokens"),
        sum(expr(s"size(regexp_extract_all(text, '$PretokenRegexSpark', 0))")).as("pretokens"),
        sum(expr("CAST(length(text) AS BIGINT)")).as("n_chars"))
      .selectExpr("lang", "n_docs", "ws_tokens", "pretokens", "n_chars",
        "ROUND(pretokens * 1e0 / ws_tokens, 6) AS fertility",
        "ROUND(n_chars * 1e0 / pretokens, 6) AS chars_per_token")
      .orderBy("lang")

  def tokenizerFertilitySql: String =
    "SELECT lang, COUNT(*)::BIGINT AS n_docs, " +
      "SUM(len(regexp_split_to_array(text, '\\s+')))::BIGINT AS ws_tokens, " +
      s"SUM(len(regexp_extract_all(text, '$PretokenRegexDuck')))::BIGINT AS pretokens, " +
      "SUM(length(text))::BIGINT AS n_chars, " +
      s"ROUND(SUM(len(regexp_extract_all(text, '$PretokenRegexDuck'))) * 1e0 / " +
      "SUM(len(regexp_split_to_array(text, '\\s+'))), 6) AS fertility, " +
      s"ROUND(SUM(length(text)) * 1e0 / SUM(len(regexp_extract_all(text, '$PretokenRegexDuck'))), 6) AS chars_per_token " +
      "FROM documents GROUP BY 1 ORDER BY 1"

  // ------------------------------------------------------ length_anomaly

  /** Which sources' document-length profiles are anomalous: two-sample KS
    * of each source's token-length distribution against the REST of the
    * corpus (source-vs-rest, so one bloated crawl dump can't hide inside
    * the "all" it is compared to). The corpus is touched ONCE — a
    * (source, len) partial-agg scan — and every downstream frame is
    * cardinality-sized: distinct lens × sources for the ECDF grid, with
    * the per-source cumsum window partitioned by source. The one
    * unpartitioned window (the corpus ECDF) runs on the distinct-len
    * frame, bounded by max doc length, not corpus size. */
  def lengthAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = table(spark, dir, "documents")
      .selectExpr("source", "size(split(text, '\\\\s+')) AS len")
      .groupBy("source", "len").agg(count(lit(1)).as("c"))
    val bySource = lens.groupBy("source").agg(sum("c").as("n_s"))
    val grid = lens.select("len").distinct()
      .crossJoin(broadcast(bySource.select("source")))
    val joined = grid.join(lens, Seq("source", "len"), "left")
      .na.fill(0L, Seq("c"))
    val wS = Window.partitionBy("source").orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("len")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allCum = lens.groupBy("len").agg(sum("c").as("c_all"))
      .withColumn("cum_all", sum("c_all").over(wAll)).select("len", "cum_all")
    val total = bySource.agg(sum("n_s").as("n"))
    joined.withColumn("cum_s", sum("c").over(wS))
      .join(broadcast(allCum), "len")
      .join(broadcast(bySource), "source")
      .crossJoin(broadcast(total))
      // NULLIF: a single-source corpus has an empty "rest" (n = n_s) —
      // the two-sample statistic is undefined, so ks columns go NULL and
      // anomalous coalesces to false instead of 0/0 NaN garbage
      .selectExpr("source", "n_s", "n",
        "ABS(cum_s * 1e0 / n_s - (cum_all - cum_s) * 1e0 / NULLIF(n - n_s, 0)) AS d")
      .groupBy("source").agg(
        first("n_s").as("n_s"), first("n").as("n"), max("d").as("ks_raw"))
      .selectExpr("source", "n_s",
        "ROUND(ks_raw, 6) AS ks_stat",
        s"ROUND(${KsAlphaCoeff}e0 * SQRT(n * 1e0 / NULLIF(n_s * (n - n_s), 0)), 6) AS ks_crit",
        s"COALESCE(ks_raw > ${KsAlphaCoeff}e0 * SQRT(n * 1e0 / NULLIF(n_s * (n - n_s), 0)), FALSE) AS anomalous")
      .orderBy("source")
  }

  /** α=0.05 two-sample KS coefficient — the SAME constant as
    * [[graft.drift.DistanceDrift.KsCoeff]] (one place to change the
    * alpha level for both the column-drift and corpus-health surfaces). */
  private def KsAlphaCoeff: Double = graft.drift.DistanceDrift.KsCoeff

  def lengthAnomalySql: String =
    "WITH lens AS (SELECT source, len(regexp_split_to_array(text, '\\s+')) AS len, " +
      "COUNT(*) AS c FROM documents GROUP BY 1, 2), " +
      "bysrc AS (SELECT source, SUM(c)::BIGINT AS n_s FROM lens GROUP BY 1), " +
      "tot AS (SELECT SUM(n_s)::BIGINT AS n FROM bysrc), " +
      "grid AS (SELECT s.source, l.len FROM (SELECT DISTINCT len FROM lens) l, " +
      "(SELECT source FROM bysrc) s), " +
      "joined AS (SELECT g.source, g.len, COALESCE(lens.c, 0) AS c " +
      "FROM grid g LEFT JOIN lens ON g.source = lens.source AND g.len = lens.len), " +
      "cums AS (SELECT source, len, SUM(c) OVER (PARTITION BY source ORDER BY len " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s FROM joined), " +
      "allc AS (SELECT len, SUM(c_all) OVER (ORDER BY len " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all FROM " +
      "(SELECT len, SUM(c) AS c_all FROM lens GROUP BY 1) x), " +
      "d AS (SELECT c.source, n_s, n, " +
      "ABS(cum_s * 1e0 / n_s - (cum_all - cum_s) * 1e0 / NULLIF(n - n_s, 0)) AS d " +
      "FROM cums c JOIN allc ON c.len = allc.len " +
      "JOIN bysrc ON c.source = bysrc.source CROSS JOIN tot), " +
      "agg AS (SELECT source, MAX(n_s) AS n_s, MAX(n) AS n, MAX(d) AS ks_raw " +
      "FROM d GROUP BY 1) " +
      "SELECT source, n_s, ROUND(ks_raw, 6) AS ks_stat, " +
      s"ROUND(${KsAlphaCoeff}e0 * SQRT(n * 1e0 / NULLIF(n_s * (n - n_s), 0)), 6) AS ks_crit, " +
      s"COALESCE(ks_raw > ${KsAlphaCoeff}e0 * SQRT(n * 1e0 / NULLIF(n_s * (n - n_s), 0)), FALSE) AS anomalous " +
      "FROM agg ORDER BY source"

  // -------------------------------------------------- quality_classifier

  /** Linear quality classifier (the fasttext-style gate of CCNet-descended
    * pipelines) with FIXED literal weights over four cheap text features:
    * English-stopword ratio, digit ratio, log doc length, and distance of
    * mean word length from English's ~5 chars. Score = sigmoid(w·x),
    * gate at 0.5. The weights are plan literals (a deployment drops in its
    * trained ones); the whole stage is one stateless projection + one
    * partial-agg rollup — zero joins, zero extra shuffles, the cheapest
    * possible gate at 100 TB. */
  val QcStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val stops = QcStopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    table(spark, dir, "documents")
      .selectExpr("source",
        "split(text, '\\\\s+') AS toks",
        // greatest(.,1) only guards the DENOMINATORS against ANSI
        // divide-by-zero; the digit count is raw_len - non_digit, so an
        // empty doc's digit_ratio is 0, not the 1.0 a floored numerator
        // would fabricate (split('') still yields one token)
        "CAST(length(text) AS DOUBLE) AS raw_len",
        "GREATEST(CAST(length(text) AS DOUBLE), 1e0) AS n_chars",
        "CAST(length(regexp_replace(text, '[0-9]', '')) AS DOUBLE) AS non_digit")
      .selectExpr("source",
        "size(toks) AS n_ws",
        s"size(filter(toks, t -> t IN $stops)) * 1e0 / size(toks) AS stop_ratio",
        "(raw_len - non_digit) / n_chars AS digit_ratio",
        "n_chars")
      .selectExpr("source",
        "1e0 / (1e0 + EXP(-(-1.2e0 + 6e0 * stop_ratio - 0.8e0 * digit_ratio " +
          "+ 0.35e0 * LN(1e0 + n_ws) - 0.15e0 * ABS(n_chars / n_ws - 5e0)))) AS score")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_kept"),
        avg("score").as("mean_score_raw"))
      .selectExpr("source", "n_docs", "n_kept",
        "ROUND(n_kept * 1e0 / n_docs, 6) AS keep_rate",
        "ROUND(mean_score_raw, 6) AS mean_score")
      .orderBy("source")
  }

  def qualityClassifierSql: String = {
    val stops = QcStopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    "WITH f AS (SELECT source, regexp_split_to_array(text, '\\s+') AS toks, " +
      "length(text)::DOUBLE AS raw_len, " +
      "GREATEST(length(text)::DOUBLE, 1e0) AS n_chars, " +
      "length(regexp_replace(text, '[0-9]', '', 'g'))::DOUBLE AS non_digit FROM documents), " +
      "g AS (SELECT source, len(toks) AS n_ws, " +
      s"len(list_filter(toks, t -> t IN $stops)) * 1e0 / len(toks) AS stop_ratio, " +
      "(raw_len - non_digit) / n_chars AS digit_ratio, n_chars FROM f), " +
      "s AS (SELECT source, 1e0 / (1e0 + EXP(-(-1.2e0 + 6e0 * stop_ratio - 0.8e0 * digit_ratio " +
      "+ 0.35e0 * LN(1e0 + n_ws) - 0.15e0 * ABS(n_chars / n_ws - 5e0)))) AS score FROM g) " +
      "SELECT source, COUNT(*)::BIGINT AS n_docs, " +
      "SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_kept, " +
      "ROUND(SUM(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) * 1e0 / COUNT(*), 6) AS keep_rate, " +
      "ROUND(AVG(score), 6) AS mean_score " +
      "FROM s GROUP BY 1 ORDER BY 1"
  }

  // ----------------------------------------------------------------- API

  /** The per-source corpus report card — the one-row-per-feed summary a
    * curation review reads before touching mixture weights: volume
    * (docs, tokens), exact-duplicate exposure (md5-identical text ANYWHERE
    * in the corpus — cross-source duplication is the usual crawl
    * pathology), and language concentration (majority language + share).
    * Scale shape: one scan feeding (a) an md5-keyed count join (the
    * dedup_exact shuffle, co-partitioned on the hash) and (b) a
    * (source × lang)-cardinality rollup whose majority pick is a window
    * over that tiny frame. Quality keep-rates live in
    * [[qualityClassifier]]; join on `source` for the full card. */
  def sourceReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = table(spark, dir, "documents")
      .selectExpr("source", "lang", "md5(text) AS h",
        "CAST(size(split(text, '\\\\s+')) AS BIGINT) AS toks")
    val dupCounts = base.groupBy("h").agg(count(lit(1)).as("c"))
    val vol = base.join(dupCounts, "h")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("toks").as("total_tokens"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_docs"))
    val langTop = base.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("n").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("n").as("top_n"))
    vol.join(langTop, "source")
      .selectExpr("source", "n_docs", "total_tokens", "dup_docs",
        "ROUND(dup_docs * 1e0 / n_docs, 6) AS dup_rate",
        "top_lang", "ROUND(top_n * 1e0 / n_docs, 6) AS top_lang_share")
      .orderBy("source")
  }

  def sourceReportSql: String =
    """WITH base AS (SELECT source, lang, md5(text) AS h,
      |  len(regexp_split_to_array(text, '\s+'))::BIGINT AS toks FROM documents),
      |dupc AS (SELECT h, COUNT(*) AS c FROM base GROUP BY 1),
      |vol AS (SELECT source, COUNT(*) AS n_docs, SUM(b.toks)::BIGINT AS total_tokens,
      |  SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_docs
      |  FROM base b JOIN dupc USING (h) GROUP BY 1),
      |lt AS (SELECT source, lang AS top_lang, n AS top_n FROM (
      |  SELECT source, lang, COUNT(*) AS n,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rk
      |  FROM base GROUP BY 1, 2) r WHERE rk = 1)
      |SELECT source, n_docs, total_tokens, dup_docs,
      |  ROUND(dup_docs * 1e0 / n_docs, 6) AS dup_rate,
      |  top_lang, ROUND(top_n * 1e0 / n_docs, 6) AS top_lang_share
      |FROM vol JOIN lt USING (source) ORDER BY source""".stripMargin.replace("\n", " ")

  /** Keep threshold on the 20-unit ensemble scale (= 0.7). */
  val EnsembleKeepUnits = 14

  /** FineWeb-style quality ensemble: every per-doc quality signal the
    * engine computes — the language gate, the heuristic quality gate, the
    * five Gopher rules, and the CCNet perplexity bucket — combined into
    * ONE weighted keep score per document and rolled up per source. The
    * sequential corpus-prep funnel answers "what survives my gates"; the
    * ensemble answers "how good is each source overall", the number a
    * mixture planner weights sources by.
    *
    * Exactness contract: the score accumulates in INTEGER twentieths
    * (5·lang_ok + 5·qual_ok + 6·gopher_ok + 4·lm_ok), so per-source sums
    * are exact and the only doubles are final divisions through the
    * shared pr6 text. The LM tercile threshold is fit once (exact
    * percentile on the oracle path, sketch on the bench path) and
    * compared as a literal — the lm_ppl_buckets pattern.
    *
    * Scale shape: three one-pass scans of documents (gate heuristics,
    * Gopher rules, LM scoring with broadcast-only model joins), joined by
    * doc_id, one shuffle to the per-source rollup. */
  /** Per-document ensemble indicators + integer score units — the shared
    * core of [[qualityEnsemble]]'s rollup and [[sourceQualityDrift]]'s
    * snapshot comparison. */
  private def ensembleDoc(spark: SparkSession, dir: String,
      approx: Boolean): DataFrame = {
    val gated = prepDocs(spark, dir).select("doc_id", "source", "lang_ok", "qual_ok")
    val gop = gopherDoc(spark, dir).selectExpr("doc_id",
      "words_ok AND wordlen_ok AND symbol_ok AND alpha_ok AND stopword_ok AS gopher_ok")
    // cached: the scored frame feeds the tercile fit (an action) AND the
    // ensemble join
    val scored = LmScore.scoreDocs(
        table(spark, dir, "documents").select("doc_id", "lang", "text"))
      .select("doc_id", "ppl").cache()
    val (_, t2) = LmScore.pplTerciles(scored, approx)
    gated.join(gop, "doc_id").join(scored, Seq("doc_id"), "left")
      .withColumn("lm_ok", col("ppl").isNotNull && col("ppl") <= lit(t2))
      .withColumn("score_u",
        when(col("lang_ok"), 5L).otherwise(0L) +
          when(col("qual_ok"), 5L).otherwise(0L) +
          when(col("gopher_ok"), 6L).otherwise(0L) +
          when(col("lm_ok"), 4L).otherwise(0L))
  }

  def qualityEnsemble(spark: SparkSession, dir: String,
      approx: Boolean = false): DataFrame =
    ensembleRollup(ensembleDoc(spark, dir, approx))

  private def ensembleRollup(doc: DataFrame): DataFrame =
    doc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang_ok"),
        sum(when(col("qual_ok"), 1L).otherwise(0L)).as("n_qual_ok"),
        sum(when(col("gopher_ok"), 1L).otherwise(0L)).as("n_gopher_ok"),
        sum(when(col("lm_ok"), 1L).otherwise(0L)).as("n_lm_ok"),
        sum(when(col("score_u") >= EnsembleKeepUnits, 1L).otherwise(0L)).as("n_keep"),
        sum("score_u").as("score_units"))
      .selectExpr(ensembleFinal: _*)
      .orderBy("source")

  /** Shared final text (Spark ≡ DuckDB): exact counts, pr6'd ratios. */
  private val ensembleFinal: Seq[String] = Seq(
    "source", "n_docs", "n_lang_ok", "n_qual_ok", "n_gopher_ok", "n_lm_ok", "n_keep",
    graft.drift.pr6Sql("score_units / (20e0 * n_docs)") + " AS mean_score",
    graft.drift.pr6Sql("n_keep * 1e0 / n_docs") + " AS keep_rate")

  /** DuckDB CTE prefix mirroring [[ensembleDoc]] — ends with `u`
    * (doc_id, source, indicators, score_u), shared by the ensemble rollup
    * and the snapshot-drift twin. */
  private def ensembleDocCtes: String =
    s"WITH pd AS ($prepDocsSql), " +
      "gd AS (SELECT doc_id, words_ok AND wordlen_ok AND symbol_ok AND alpha_ok AND stopword_ok " +
      s"AS gopher_ok FROM ($gopherDocSql) g0), " +
      s"${LmScore.scoredCtesFor("documents")}, " +
      "sc AS (SELECT d.doc_id, CASE WHEN agg.avg_logprob IS NOT NULL " +
      "THEN pow(10e0, -agg.avg_logprob) END AS ppl " +
      "FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id), " +
      "thr AS (SELECT quantile_cont(ppl, 2e0/3) AS t2 FROM sc WHERE ppl IS NOT NULL), " +
      "u AS (SELECT pd.doc_id, pd.source, pd.lang_ok, pd.qual_ok, gd.gopher_ok, " +
      "(sc.ppl IS NOT NULL AND sc.ppl <= thr.t2) AS lm_ok, " +
      "CAST(CASE WHEN pd.lang_ok THEN 5 ELSE 0 END + CASE WHEN pd.qual_ok THEN 5 ELSE 0 END + " +
      "CASE WHEN gd.gopher_ok THEN 6 ELSE 0 END + " +
      "CASE WHEN sc.ppl IS NOT NULL AND sc.ppl <= thr.t2 THEN 4 ELSE 0 END AS BIGINT) AS score_u " +
      "FROM pd JOIN gd ON pd.doc_id = gd.doc_id JOIN sc ON pd.doc_id = sc.doc_id, thr)"

  def qualityEnsembleSql: String = {
    def n(b: String, as: String) = s"SUM(CASE WHEN $b THEN 1 ELSE 0 END)::BIGINT AS $as"
    s"$ensembleDocCtes " +
      s"SELECT ${ensembleFinal.mkString(", ")} FROM " +
      "(SELECT source, COUNT(*) AS n_docs, " +
      Seq(n("lang_ok", "n_lang_ok"), n("qual_ok", "n_qual_ok"),
        n("gopher_ok", "n_gopher_ok"), n("lm_ok", "n_lm_ok"),
        n(s"score_u >= $EnsembleKeepUnits", "n_keep")).mkString(", ") +
      ", SUM(score_u)::BIGINT AS score_units FROM u GROUP BY source) z " +
      "ORDER BY source"
  }

  /** Alert line on the per-source mean ensemble score between snapshots. */
  val QualityDriftThreshold = 0.1

  /** Snapshot-to-snapshot quality drift: the ensemble score of
    * [[qualityEnsemble]] compared between the corpus's two deterministic
    * halves (doc_id % 40 < 20 — parity would NOT work: the fixture assigns
    * source = doc_id mod 20, so doc_id parity is CONSTANT within a source
    * and every group would be one-sided), per source. This is "is my incoming feed getting
    * worse", the curation question the drift engine's numeric/categorical
    * monitors don't see because quality is a DERIVED signal, not a column.
    * Sums are exact integer score units; the tercile threshold is fit
    * ONCE on the whole corpus so both sides are scored on the same scale
    * (a per-side fit would hide a global quality shift by re-centering). */
  def sourceQualityDrift(spark: SparkSession, dir: String,
      approx: Boolean = false): DataFrame =
    qualityDriftRollup(ensembleDoc(spark, dir, approx))

  /** Deployment shape for the ensemble pair: the per-doc ensemble frame
    * (three documents scans + the LM scoring DAG) computes ONCE and both
    * the per-source rollup and the snapshot-drift monitor aggregate the
    * cached frame — the standalone queries each re-pay it. Caller owns the
    * cache (release via clearCache or unpersisting the first frame's
    * lineage), same contract as [[LmScore.lmFamilyShared]]. */
  def ensembleFamilyShared(spark: SparkSession, dir: String,
      approx: Boolean = true): Seq[DataFrame] = {
    val doc = ensembleDoc(spark, dir, approx).cache()
    Seq(ensembleRollup(doc), qualityDriftRollup(doc))
  }

  private def qualityDriftRollup(doc: DataFrame): DataFrame = {
    val ref = col("doc_id") % 40 < 20 // the twin's literal predicate shape
    doc
      .groupBy("source").agg(
        sum(when(ref, 1L).otherwise(0L)).as("ref_n"),
        sum(when(!ref, 1L).otherwise(0L)).as("curr_n"),
        sum(when(ref, col("score_u")).otherwise(0L)).as("ref_units"),
        sum(when(!ref, col("score_u")).otherwise(0L)).as("curr_units"))
      .filter(col("ref_n") > 0 && col("curr_n") > 0)
      .selectExpr(qualityDriftFinal: _*)
      .orderBy("source")
  }

  /** Shared final text (Spark ≡ DuckDB). */
  private val qualityDriftFinal: Seq[String] = {
    val rm = "(ref_units / (20e0 * ref_n))"
    val cm = "(curr_units / (20e0 * curr_n))"
    val pct = graft.drift.pctChangeSql(rm, cm)
    Seq("source", "ref_n", "curr_n",
      graft.drift.pr6Sql(rm) + " AS ref_mean_score",
      graft.drift.pr6Sql(cm) + " AS curr_mean_score",
      graft.drift.pr6Sql(pct) + " AS score_pct_change",
      s"ABS($pct) > $QualityDriftThreshold AS quality_drift")
  }

  def sourceQualityDriftSql: String =
    s"$ensembleDocCtes " +
      s"SELECT ${qualityDriftFinal.mkString(", ")} FROM " +
      "(SELECT source, " +
      "SUM(CASE WHEN doc_id % 40 < 20 THEN 1 ELSE 0 END)::BIGINT AS ref_n, " +
      "SUM(CASE WHEN doc_id % 40 >= 20 THEN 1 ELSE 0 END)::BIGINT AS curr_n, " +
      "SUM(CASE WHEN doc_id % 40 < 20 THEN score_u ELSE 0 END)::BIGINT AS ref_units, " +
      "SUM(CASE WHEN doc_id % 40 >= 20 THEN score_u ELSE 0 END)::BIGINT AS curr_units " +
      "FROM u GROUP BY source) z WHERE ref_n > 0 AND curr_n > 0 " +
      "ORDER BY source"

  // ------------------------------------------------- lexical entropy

  /** Docs with 6-dp word entropy below this are flagged repetitive/templated
    * (fixture per-doc range is ~2.4–4.8 bits; 3.5 ≈ the 5th percentile). */
  val LowEntropyBits = "3.5e0"

  /** Per-source lexical diversity: word-level Shannon entropy and type-token
    * ratio — the templated/gibberish signal [[repetitionSignals]]' top-n-gram
    * fractions miss (a doc cycling 30 distinct lines has low top-2gram share
    * but collapsed entropy). Per doc over whitespace tokens (the pinned
    * [[tokenStats]] split): H = log2(n) − (Σ c·log2 c)/n, ttr = d/n; rolled
    * up per source with the low-entropy census on pr6'd H (identical
    * decision text both engines).
    *
    * Scale shape: per-doc h/ttr are ONE stateless in-row expression
    * ([[lexicalSignals]] — no explode, no word-level shuffle), so the only
    * exchange is the per-source rollup's. Round 8: the exact (oracle)
    * rollup sums per-doc H/ttr as micro-unit integers
    * ([[graft.drift.microSumSql]] — exact, commutative, a plain
    * partial-aggregated SUM), replacing the round-7 canonical doc_id-
    * ordered fold that both collected per-source doc lists (unbounded at
    * 100 TB) and leaned on DuckDB's list_sum being a left fold (a
    * version-dependent internal). `approx = true` (the bench surface)
    * keeps plain engine-order double SUMs: same values to well beyond
    * 6 dp, zero quantization. */
  def docEntropy(spark: SparkSession, dir: String,
      approx: Boolean = false): DataFrame = {
    // per-doc h/ttr via the stateless in-row fold — one scan, zero word-level
    // shuffle (the oracle's explode+groupBy CTE shape is only the SQL
    // spelling; CurationOpsSpec pins the two paths bitwise-equal per doc,
    // so the single exchange below is the rollup's, not the word count's)
    val dh = lexicalSignals(
      table(spark, dir, "documents").select("doc_id", "source", "text"))
      .select("doc_id", "source", "h", "ttr")
    val rolled =
      if (approx) dh.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum("h").as("sum_h"), sum("ttr").as("sum_ttr"),
        sum(expr(lowEntropyCaseExpr)).as("n_low_entropy"))
      else dh.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        expr(graft.drift.microSumSql("h")).as("sum_h_u"),
        expr(graft.drift.microSumSql("ttr")).as("sum_ttr_u"),
        sum(expr(lowEntropyCaseExpr)).as("n_low_entropy"))
        .selectExpr("source", "n_docs",
          graft.drift.microToDoubleSql("sum_h_u") + " AS sum_h",
          graft.drift.microToDoubleSql("sum_ttr_u") + " AS sum_ttr",
          "n_low_entropy")
    rolled.selectExpr(docEntropyFinal: _*).orderBy("source")
  }

  /** Shared math text (Spark ≡ DuckDB, identical parenthesization).
    * `sclc_u` is the per-doc Σ c·log2(c) as an exact micro-unit integer
    * (each run/word term quantized half-up at 6 dp); both engines bring
    * it back to DOUBLE through the same explicit ÷10⁶ text. */
  private val entropyTermExpr =
    "CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))"
  private val entropyHExpr =
    s"log2(CAST(n AS DOUBLE)) - (${graft.drift.microToDoubleSql("sclc_u")} / CAST(n AS DOUBLE))"
  private val entropyTtrExpr = "CAST(d AS DOUBLE) / CAST(n AS DOUBLE)"
  private def lowEntropyCaseExpr =
    s"CASE WHEN ${graft.drift.pr6Sql("h")} < $LowEntropyBits THEN 1 ELSE 0 END"
  private val docEntropyFinal: Seq[String] = Seq(
    "source", "CAST(n_docs AS BIGINT) AS n_docs",
    graft.drift.pr6Sql("sum_h / CAST(n_docs AS DOUBLE)") + " AS avg_entropy",
    graft.drift.pr6Sql("sum_ttr / CAST(n_docs AS DOUBLE)") + " AS avg_ttr",
    "CAST(n_low_entropy AS BIGINT) AS n_low_entropy")

  /** In-row Σ c·log2(c) over whitespace tokens as an exact micro-unit
    * BIGINT: a run-length fold over the SORTED token array, each
    * completed run's c·log2(c) term quantized half-up at 6 dp
    * (FLOOR(term·10⁶ + 0.5) — Spark's FLOOR(double) is already BIGINT)
    * and accumulated by exact integer addition. The oracle's explode +
    * groupBy + per-word micro-SUM is the SAME multiset of integer terms,
    * so the two paths agree EXACTLY regardless of order — no left-fold
    * contract needed on either engine (the round-7 double-accumulator
    * version leaned on DuckDB's list_sum internals; retired). One
    * stateless per-row expression: no explode, no shuffle, no state.
    * This is the per-doc scale path at 100 TB (the word-count shuffle
    * only exists to serve the oracle's CTE shape) and it is
    * streaming-legal — a pure projection Structured Streaming runs
    * per-row with zero state ([[graft.streaming.StreamingPrep]] gates on
    * it). Runs of length 1 contribute log2(1) = 0, so the fold only pays
    * for repeats. */
  private[graft] val entropySclcInRowExpr: String = {
    def runTerm(run: String) =
      s"FLOOR((CASE WHEN $run > 1 THEN CAST($run AS DOUBLE) * log2(CAST($run AS DOUBLE)) " +
        "ELSE CAST(0 AS DOUBLE) END) * 1000000e0 + 0.5e0)"
    "aggregate(sort_array(split(text, '\\\\s+')), " +
      "named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), 'acc', CAST(0 AS BIGINT)), " +
      "(s, x) -> CASE WHEN s.prev IS NOT NULL AND x = s.prev " +
      "THEN named_struct('prev', x, 'run', s.run + CAST(1 AS BIGINT), 'acc', s.acc) " +
      s"ELSE named_struct('prev', x, 'run', CAST(1 AS BIGINT), 'acc', s.acc + ${runTerm("s.run")}) END, " +
      s"s -> s.acc + ${runTerm("s.run")})"
  }

  /** Stateless per-doc lexical signals: appends `h` (word entropy, bits)
    * and `ttr` (type-token ratio) to any frame with a `text` column —
    * batch or stream, zero shuffle. Values are bit-identical to
    * [[docEntropy]]'s per-doc intermediates. */
  def lexicalSignals(df: DataFrame): DataFrame =
    df.withColumn("n_toks", expr("CAST(size(split(text, '\\\\s+')) AS BIGINT)"))
      .withColumn("sclc_u", expr(entropySclcInRowExpr))
      .withColumn("h", expr(
        s"log2(CAST(n_toks AS DOUBLE)) - (${graft.drift.microToDoubleSql("sclc_u")} / CAST(n_toks AS DOUBLE))"))
      .withColumn("ttr", expr(
        "CAST(size(array_distinct(split(text, '\\\\s+'))) AS DOUBLE) / CAST(n_toks AS DOUBLE)"))
      .drop("n_toks", "sclc_u")

  def docEntropySql: String =
    "WITH wc AS (SELECT doc_id, source, w, COUNT(*)::BIGINT AS c FROM " +
      "(SELECT doc_id, source, unnest(regexp_split_to_array(text, '\\s+')) AS w " +
      "FROM documents) x GROUP BY 1, 2, 3), " +
      s"wt AS (SELECT doc_id, source, w, c, $entropyTermExpr AS term FROM wc), " +
      "dd AS (SELECT doc_id, source, CAST(SUM(c) AS BIGINT) AS n, " +
      "CAST(COUNT(*) AS BIGINT) AS d, " +
      s"${graft.drift.microSumSql("term")} AS sclc_u FROM wt GROUP BY 1, 2), " +
      s"dh AS (SELECT doc_id, source, $entropyHExpr AS h, $entropyTtrExpr AS ttr FROM dd), " +
      "src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      s"${graft.drift.microSumDoubleSql("h")} AS sum_h, " +
      s"${graft.drift.microSumDoubleSql("ttr")} AS sum_ttr, " +
      s"CAST(SUM($lowEntropyCaseExpr) AS BIGINT) AS n_low_entropy FROM dh GROUP BY 1) " +
      s"SELECT ${docEntropyFinal.mkString(", ")} FROM src ORDER BY source"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_ensemble" -> ((s, d) => qualityEnsemble(s, d)),
    "source_quality_drift" -> ((s, d) => sourceQualityDrift(s, d)),
    "doc_entropy" -> ((s, d) => docEntropy(s, d)),
    "source_report" -> ((s, d) => sourceReport(s, d)),
    "source_keywords" -> ((s, d) => sourceKeywords(s, d)),
    "lang_id" -> ((s, d) => langId(s, d)),
    "text_quality" -> ((s, d) => textQuality(s, d)),
    "token_stats" -> ((s, d) => tokenStats(s, d)),
    "doc_fingerprint" -> ((s, d) => fingerprints(s, d)),
    "corpus_prep" -> ((s, d) => corpusPrep(s, d)),
    "corpus_prep_neardup" -> ((s, d) => corpusPrepNeardup(s, d)),
    "corpus_prep_lm" -> ((s, d) => corpusPrepLm(s, d)),
    "corpus_balance" -> ((s, d) => balancedMix(s, d)),
    "pii_scan" -> ((s, d) => piiScan(s, d)),
    "pii_redact" -> ((s, d) => piiRedactGate(s, d)),
    "repetition_signals" -> ((s, d) => repetitionSignals(s, d)),
    "gopher_quality" -> ((s, d) => gopherQuality(s, d)),
    "bpe_pairs" -> ((s, d) => bpePairs(s, d)),
    "tokenizer_fertility" -> ((s, d) => tokenizerFertility(s, d)),
    "quality_classifier" -> ((s, d) => qualityClassifier(s, d)),
    "length_anomaly" -> ((s, d) => lengthAnomaly(s, d)),
    "corpus_mixture" -> ((s, d) => corpusMixture(s, d)),
    "mixture_sample" -> ((s, d) => mixtureSample(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "quality_ensemble" -> qualityEnsembleSql,
    "source_quality_drift" -> sourceQualityDriftSql,
    "doc_entropy" -> docEntropySql,
    "source_report" -> sourceReportSql,
    "source_keywords" -> sourceKeywordsSql,
    "lang_id" -> langIdSql,
    "text_quality" -> textQualitySql,
    "token_stats" -> tokenStatsSql,
    "doc_fingerprint" -> fingerprintsSql,
    "corpus_prep" -> corpusPrepSql,
    "corpus_prep_neardup" -> corpusPrepNeardupSql,
    "corpus_prep_lm" -> corpusPrepLmSql,
    "corpus_balance" -> balancedMixSql,
    "pii_scan" -> piiScanSql,
    "pii_redact" -> piiRedactSql,
    "repetition_signals" -> repetitionSignalsSql,
    "gopher_quality" -> gopherQualitySql,
    "bpe_pairs" -> bpePairsSql,
    "tokenizer_fertility" -> tokenizerFertilitySql,
    "quality_classifier" -> qualityClassifierSql,
    "length_anomaly" -> lengthAnomalySql,
    "corpus_mixture" -> corpusMixtureSql,
    "mixture_sample" -> mixtureSampleSql,
  )
}
