package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{table, pr6Sql, microSumSql, microTermSql, microToDoubleSql}

/** Corpus-level design/evaluation statistics a training-data pipeline uses
  * to PLAN its sampling and audit its weak labelers:
  *
  *  - `vocab_growth`: the Heaps-law vocabulary-accumulation curve — distinct
  *    vocabulary vs tokens seen at each corpus decile. A corpus whose curve
  *    flattens early is repetitive (dedup/boilerplate candidates); one whose
  *    type-token ratio stays high is diverse. Deciles come from doc_id value
  *    ranges (pure arithmetic), NOT a global row-number sort — scale-safe.
  *  - `neyman_allocation`: optimal (Neyman) stratified-sample allocation per
  *    source for a fixed annotation/eval budget: n_h ∝ N_h·S_h, versus naive
  *    proportional allocation. Strata with more internal variance earn more
  *    of the budget.
  *  - `lang_confusion` / `lang_agreement`: confusion matrix and Cohen's
  *    kappa of the corpus's labeled `lang` column against the engine's own
  *    [[TextAnalysis.langId]] prediction — the standard audit of a weak
  *    labeler against gold labels (kappa corrects raw accuracy for chance
  *    agreement on the label marginals).
  *
  * Cross-engine determinism: every statistic is computed from exact integer
  * counts (vocab sizes, token counts, confusion cells, Σx, Σx² as BIGINT)
  * with the final double arithmetic expressed as identical IEEE-op text on
  * both engines; the one cross-stratum double sum (Neyman's Σ N_h·S_h)
  * accumulates as an exact centi-unit integer ([[graft.drift.microSumSql]]
  * at scale 2 — commutative, no fold-order or decimal-cast assumption;
  * the 1e-2 quantization is ~1e-10 relative on the 1e8-scale denominator,
  * invisible at 6 dp, and keeps the scaled sum < 2⁵³ through ~sf10⁵).
  *
  * Scale shape: `vocab_growth` is one token explode + a vocabulary-sized
  * shuffle (min-decile per token — the same cost class as the existing
  * vocab queries); `neyman_allocation` is one scan with map-side-combined
  * integer moments (Σx and Σx² stay < 2⁵³ for char counts up to ~10⁹ docs;
  * beyond that switch the two sums to DECIMAL(38,0)); the lang queries pay
  * one scan plus a ≤25-cell aggregate. */
object CorpusDesign extends graft.OperatorModule {

  /** Eval/annotation budget the allocation queries distribute. */
  val Budget = 1000

  // ------------------------------------------------------ vocab_growth

  /** Decile from doc_id VALUE ranges — identical arithmetic text on both
    * engines, no global sort. Exact while (doc_id − min) · 10 < 2⁵³. */
  private def decileExpr =
    "CAST(LEAST(CAST(FLOOR((CAST(doc_id AS DOUBLE) - CAST(min_id AS DOUBLE)) * 10e0 / " +
      "(CAST(max_id AS DOUBLE) - CAST(min_id AS DOUBLE) + 1e0)) AS BIGINT), " +
      "CAST(9 AS BIGINT)) AS BIGINT) + 1"

  private val growthFinal: Seq[String] = Seq(
    "decile",
    "CAST(cum_docs AS BIGINT) AS cum_docs",
    "CAST(cum_tokens AS BIGINT) AS cum_tokens",
    "CAST(cum_vocab AS BIGINT) AS cum_vocab",
    pr6Sql("CAST(cum_vocab AS DOUBLE) / CAST(cum_tokens AS DOUBLE)") + " AS type_token_ratio")

  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .selectExpr("doc_id", "split(text, '\\\\s+') AS toks")
    val bounds = docs.agg(min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    // scalar broadcast of the two bounds; decile is then row-local arithmetic
    val dd = docs.crossJoin(broadcast(bounds))
      .selectExpr("toks", s"$decileExpr AS decile")
    val perDecile = dd.groupBy("decile").agg(
      count(lit(1)).as("docs_n"),
      sum(expr("size(toks)")).cast("long").as("toks_n"))
    val newVocab = dd.select(col("decile"), explode(col("toks")).as("w"))
      .groupBy("w").agg(min("decile").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("vocab_n"))
    val spine = spark.sql(
      "SELECT CAST(decile AS BIGINT) AS decile FROM (SELECT explode(sequence(1, 10)) AS decile)")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("decile").rowsBetween(Long.MinValue, 0)
    spine.join(perDecile, Seq("decile"), "left").join(newVocab, Seq("decile"), "left")
      .na.fill(0L, Seq("docs_n", "toks_n", "vocab_n"))
      .withColumn("cum_docs", sum("docs_n").over(w))
      .withColumn("cum_tokens", sum("toks_n").over(w))
      .withColumn("cum_vocab", sum("vocab_n").over(w))
      .selectExpr(growthFinal: _*)
      .orderBy("decile")
  }

  def vocabGrowthSql: String =
    "WITH b AS (SELECT MIN(doc_id) AS min_id, MAX(doc_id) AS max_id FROM documents), " +
      "d AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents), " +
      s"dd AS (SELECT toks, $decileExpr AS decile FROM d CROSS JOIN b), " +
      "pd AS (SELECT decile, COUNT(*)::BIGINT AS docs_n, SUM(len(toks))::BIGINT AS toks_n " +
      "FROM dd GROUP BY 1), " +
      "nv AS (SELECT decile, COUNT(*)::BIGINT AS vocab_n FROM " +
      "(SELECT w, MIN(decile) AS decile FROM " +
      "(SELECT decile, UNNEST(toks) AS w FROM dd) x GROUP BY 1) f GROUP BY 1), " +
      "spine AS (SELECT CAST(UNNEST(range(1, 11)) AS BIGINT) AS decile), " +
      "j AS (SELECT s.decile, COALESCE(pd.docs_n, 0) AS docs_n, " +
      "COALESCE(pd.toks_n, 0) AS toks_n, COALESCE(nv.vocab_n, 0) AS vocab_n " +
      "FROM spine s LEFT JOIN pd USING (decile) LEFT JOIN nv USING (decile)), " +
      "c AS (SELECT decile, " +
      "SUM(docs_n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_docs, " +
      "SUM(toks_n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_tokens, " +
      "SUM(vocab_n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum_vocab FROM j) " +
      s"SELECT ${growthFinal.mkString(", ")} FROM c ORDER BY decile"

  // ------------------------------------------------ neyman_allocation

  /** Per-stratum stddev from exact integer moments (Σx, Σx² as BIGINT) —
    * the same IEEE expression text on both engines, no engine variance
    * algorithm involved. GREATEST(·, 0) absorbs the tiny negative the
    * subtraction can produce on near-constant strata. */
  private def sdExpr =
    "CASE WHEN n_docs > 1 THEN SQRT(GREATEST((CAST(s2 AS DOUBLE) - " +
      "CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_docs AS DOUBLE)) / " +
      "CAST(n_docs - 1 AS DOUBLE), 0e0)) ELSE 0e0 END"

  private val neymanFinal: Seq[String] = Seq(
    "source",
    "CAST(n_docs AS BIGINT) AS n_docs",
    pr6Sql("sd") + " AS sd_chars",
    pr6Sql("share") + " AS neyman_share",
    s"CAST(FLOOR(${Budget}e0 * share) AS BIGINT) AS neyman_alloc",
    s"CAST(FLOOR(${Budget}e0 * CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)) AS BIGINT) AS prop_alloc")

  def neymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    val per = table(spark, dir, "documents")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      .selectExpr("source", "n_docs", s"$sdExpr AS sd")
      .selectExpr("source", "n_docs", "sd", "CAST(n_docs AS DOUBLE) * sd AS w")
    val denom = per.agg(
      expr(microSumSql("w", 2)).as("denom_u"),
      sum("n_docs").as("n_total"))
    per.crossJoin(broadcast(denom))
      .selectExpr(Seq("source", "n_docs", "sd", "n_total",
        s"$neymanShareSql AS share"): _*)
      .selectExpr(neymanFinal: _*)
      .orderBy("source")
  }

  /** share = w_u / denom_u — BOTH sides quantized by the SAME
    * [[graft.drift.microTermSql]] text at centi scale, so the ratio is a
    * single division of two exact integer-valued doubles. Quantizing the
    * numerator and denominator SEPARATELY (the round-8 form divided the
    * raw double w by the quantized denominator) broke the contract: a
    * sole varying stratum came out 1.00001 > 1 and FLOOR(Budget·share)
    * could exceed Budget. With w_u ≤ denom_u = Σ w_u by construction,
    * share ≤ 1 holds exactly and the sole stratum is exactly 1.0
    * (CorpusDesignSpec pins both invariants). */
  private def neymanShareSql: String =
    s"CASE WHEN CAST(denom_u AS DOUBLE) > 0e0 THEN " +
      s"CAST(${microTermSql("w", 2)} AS DOUBLE) / CAST(denom_u AS DOUBLE) " +
      "ELSE 0e0 END"

  def neymanAllocationSql: String =
    "WITH m AS (SELECT source, COUNT(*)::BIGINT AS n_docs, " +
      "SUM(n_chars)::BIGINT AS s1, SUM(n_chars * n_chars)::BIGINT AS s2 " +
      "FROM documents GROUP BY 1), " +
      s"sd AS (SELECT source, n_docs, $sdExpr AS sd FROM m), " +
      "w AS (SELECT source, n_docs, sd, CAST(n_docs AS DOUBLE) * sd AS w FROM sd), " +
      s"den AS (SELECT ${microSumSql("w", 2)} AS denom_u, " +
      "SUM(n_docs)::BIGINT AS n_total FROM w), " +
      "sh AS (SELECT source, n_docs, sd, n_total, " +
      s"$neymanShareSql AS share FROM w CROSS JOIN den) " +
      s"SELECT ${neymanFinal.mkString(", ")} FROM sh ORDER BY source"

  // --------------------------------------- lang_confusion / agreement

  /** Gold label × [[TextAnalysis.langId]] prediction, observed cells only. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val pred = TextAnalysis.langId(spark, dir).select("doc_id", "predicted_lang")
    table(spark, dir, "documents").select("doc_id", "lang")
      .join(pred, "doc_id")
      .groupBy("lang", "predicted_lang").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted_lang")
  }

  def langConfusionSql: String =
    s"WITH pred AS (${TextAnalysis.langIdSql}) " +
      "SELECT d.lang, p.predicted_lang, COUNT(*)::BIGINT AS n " +
      "FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2 ORDER BY 1, 2"

  /** All agreement inputs are exact integers: the diagonal sum, the total,
    * and Σ_label row·col (pe's numerator) — so po, pe and kappa are single
    * deterministic double expressions. pe = 1 (both sides constant on one
    * label) conventionally yields kappa = 1 when agreement is perfect. */
  private val agreementFinal: Seq[String] = Seq(
    "CAST(n_total AS BIGINT) AS n_total",
    pr6Sql("CAST(diag AS DOUBLE) / CAST(n_total AS DOUBLE)") + " AS accuracy",
    pr6Sql("CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))") + " AS expected_agreement",
    pr6Sql(
      "CASE WHEN CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)) < 1e0 THEN " +
        "(CAST(diag AS DOUBLE) / CAST(n_total AS DOUBLE) - " +
        "CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))) / " +
        "(1e0 - CAST(pe_num AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))) " +
        "ELSE CASE WHEN diag = n_total THEN 1e0 ELSE 0e0 END END") + " AS kappa")

  def langAgreement(spark: SparkSession, dir: String): DataFrame = {
    val conf = langConfusion(spark, dir)
    val totals = conf.agg(
      sum("n").as("n_total"),
      sum(when(col("lang") === col("predicted_lang"), col("n")).otherwise(0L)).as("diag"))
    val rows = conf.groupBy(col("lang").as("label")).agg(sum("n").as("row_n"))
    val cols = conf.groupBy(col("predicted_lang").as("label")).agg(sum("n").as("col_n"))
    val pe = rows.join(cols, Seq("label"), "full_outer")
      .selectExpr("COALESCE(row_n, CAST(0 AS BIGINT)) * COALESCE(col_n, CAST(0 AS BIGINT)) AS rc")
      .agg(sum("rc").as("pe_num"))
    totals.crossJoin(pe).selectExpr(agreementFinal: _*)
  }

  def langAgreementSql: String =
    s"WITH pred AS (${TextAnalysis.langIdSql}), " +
      "conf AS (SELECT d.lang, p.predicted_lang, COUNT(*)::BIGINT AS n " +
      "FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2), " +
      "t AS (SELECT SUM(n)::BIGINT AS n_total, " +
      "SUM(CASE WHEN lang = predicted_lang THEN n ELSE 0 END)::BIGINT AS diag FROM conf), " +
      "r AS (SELECT lang AS label, SUM(n)::BIGINT AS row_n FROM conf GROUP BY 1), " +
      "c AS (SELECT predicted_lang AS label, SUM(n)::BIGINT AS col_n FROM conf GROUP BY 1), " +
      "pe AS (SELECT SUM(COALESCE(row_n, 0) * COALESCE(col_n, 0))::BIGINT AS pe_num " +
      "FROM r FULL OUTER JOIN c USING (label)) " +
      s"SELECT ${agreementFinal.mkString(", ")} FROM t CROSS JOIN pe"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vocab_growth" -> ((s, d) => vocabGrowth(s, d)),
    "neyman_allocation" -> ((s, d) => neymanAllocation(s, d)),
    "lang_confusion" -> ((s, d) => langConfusion(s, d)),
    "lang_agreement" -> ((s, d) => langAgreement(s, d)))

  def oracles: Map[String, String] = Map(
    "vocab_growth" -> vocabGrowthSql,
    "neyman_allocation" -> neymanAllocationSql,
    "lang_confusion" -> langConfusionSql,
    "lang_agreement" -> langAgreementSql)
}
