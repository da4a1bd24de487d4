package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.table

/** Keyword retrieval over the document corpus — BM25 scoring for a literal
  * query-term set with exact top-k. The curation use case: keyword-targeted
  * corpus selection ("pull the top docs about X into the eval set") and
  * relevance-ranked inspection of a 100 TB corpus without an external
  * search cluster.
  *
  * Scale shape: the query terms are LITERALS compiled into the projection,
  * so per-doc term frequencies are in-row `filter(toks, t -> t = term)`
  * array folds — ZERO explode (a token explode is ~40× the corpus row
  * count), zero inverted-index shuffle. Corpus stats (N, Σdl, per-term df)
  * are ONE 1-row aggregate broadcast back, and the final ranking is
  * `ORDER BY … LIMIT k` → TakeOrderedAndProject (per-partition heaps, no
  * global sort). A production deployment with a *standing* query workload
  * would materialize the (term, df) frame once instead of re-aggregating —
  * same contract as [[graft.pipeline.Dedup.writeBandSets]].
  *
  * Cross-engine exactness: the score expression is ONE shared SQL text in
  * both engines over exact-integer tf/dl/df/N/Σdl inputs — every double
  * op is correctly rounded IEEE on identical operands, and `ln`'s
  * potential last-ulp libm divergence is absorbed by the 6-decimal
  * rounding. Rank ties break on doc_id (rounded-score ordering), the
  * pq_ann determinism pattern.
  */
object Retrieval extends graft.OperatorModule {

  /** Literal query-term set (the synthetic corpus's vocabulary is a small
    * word bag; these three are mid-frequency terms). */
  val QueryTerms: Seq[String] = Seq("spark", "window", "join")

  /** BM25 k1 / b, rendered with exact literals in the shared score text. */
  val K1 = "1.2e0"
  val B = "0.75e0"

  val TopK = 10

  private def tfCol(t: String) = s"tf_$t"

  /** Shared score text: Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf = ln(1 + (N−df+0.5)/(df+0.5)) (the Robertson/Lucene form —
    * never negative) and dl/avgdl expanded to `dl·N/Σdl` on exact integers
    * with one double division. */
  private def scoreExpr: String =
    QueryTerms.zipWithIndex.map { case (t, i) =>
      s"ln(1e0 + (n_docs - df$i + 0.5e0) / (df$i + 0.5e0)) * " +
        s"(${tfCol(t)} * ($K1 + 1e0)) / " +
        s"(${tfCol(t)} + $K1 * (1e0 - $B + $B * (1.0e0 * dl * n_docs / sum_dl)))"
    }.mkString(" + ")

  /** The shared per-doc projection: doc_id, source, dl, per-term tf —
    * in-row HOF folds, no explode. */
  private def perDocTf(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .selectExpr("doc_id", "source", "split(text, '\\\\s+') AS toks")
      .selectExpr(Seq("doc_id", "source", "CAST(size(toks) AS BIGINT) AS dl") ++
        QueryTerms.map(t => s"CAST(size(filter(toks, t -> t = '$t')) AS BIGINT) AS ${tfCol(t)}"): _*)

  /** The shared scoring/ranking tail: the input must carry the per-doc
    * projection plus n_docs/sum_dl/df{i} columns (however they were
    * obtained — one in-query aggregate, or literals replayed from the
    * artifact). ONE definition, so the `reuse == recompute` contract can't
    * drift. */
  private def scoreAndRank(withStats: DataFrame, k: Int = TopK): DataFrame =
    withStats
      .selectExpr(Seq("doc_id", "source", "dl") ++ QueryTerms.map(tfCol) ++
        Seq(s"ROUND($scoreExpr, 6) AS score"): _*)
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Per-doc frame with the 1-row corpus stats broadcast on — the
    * self-contained stats path, shared by [[bm25Search]] and the hybrid
    * lexical tower (one definition; a drift between them would split the
    * two scoring pipelines silently). */
  private def withSelfStats(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = perDocTf(spark, dir)
    val statAggs = Seq(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl")) ++
      QueryTerms.zipWithIndex.map { case (t, i) =>
        sum(when(col(tfCol(t)) > 0, 1L).otherwise(0L)).as(s"df$i")
      }
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    perDoc.crossJoin(broadcast(stats))
  }

  /** Top-k BM25 docs for [[QueryTerms]]. Output: doc_id, source, dl,
    * per-term tf, score — ordered by (score desc, doc_id). */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    scoreAndRank(withSelfStats(spark, dir))

  /** Shared DuckDB CTE text for the BM25 scoring pipeline — ends in a
    * `scored` relation (doc_id, source, dl, per-term tf, score). ONE
    * definition feeding [[bm25SearchSql]] and [[hybridSearchSql]]'s
    * lexical tower, mirroring [[withSelfStats]]/[[scoreAndRank]]. */
  private def bmScoreCtes: String = {
    val tfDefs = QueryTerms.map(t =>
      s"len(list_filter(toks, t -> t = '$t'))::BIGINT AS ${tfCol(t)}")
    val dfDefs = QueryTerms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN ${tfCol(t)} > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i" }
    s"""base AS (SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS toks FROM documents),
       |d AS (SELECT doc_id, source, len(toks)::BIGINT AS dl, ${tfDefs.mkString(", ")} FROM base),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl)::BIGINT AS sum_dl, ${dfDefs.mkString(", ")} FROM d),
       |scored AS (SELECT doc_id, source, dl, ${QueryTerms.map(tfCol).mkString(", ")},
       |  ROUND($scoreExpr, 6) AS score FROM d, stats)""".stripMargin.replace("\n", " ")
  }

  def bm25SearchSql: String =
    s"WITH $bmScoreCtes " +
      s"SELECT * FROM scored WHERE score > 0 ORDER BY score DESC, doc_id LIMIT $TopK"

  // ------------------------------------------------ term-stats artifact

  /** The standing-workload artifact: per-term document frequency over the
    * whole corpus vocabulary, plus the corpus constants (n_docs, Σdl)
    * repeated on each row (vocabulary-sized frame — the repetition is noise
    * next to a posting list and keeps the artifact ONE self-contained
    * parquet). `array_distinct` before the explode keeps the exploded frame
    * at per-doc VOCAB size, and the (term) groupBy partial-aggregates
    * map-side. Computed once per corpus snapshot, reused by every query —
    * the [[Dedup.writeClusters]] contract for retrieval. */
  def termStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
      .selectExpr("doc_id", "split(text, '\\\\s+') AS toks")
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(expr("CAST(size(toks) AS BIGINT)")).as("sum_dl"))
    docs.select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
  }

  def writeTermStats(spark: SparkSession, dir: String, path: String): Unit =
    termStats(spark, dir).write.mode("overwrite").parquet(path)

  def readTermStats(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    require(df.columns.sorted.sameElements(Array("df", "n_docs", "sum_dl", "term")),
      s"term-stats artifact at $path must have (term, df, n_docs, sum_dl), got ${df.columns.mkString(",")}")
    df
  }

  /** [[bm25Search]] against a precomputed [[termStats]] artifact: the
    * query terms' df rows (a |terms|-row lookup — collected to literals,
    * the ann_lsh plane-replay pattern) replace the corpus re-aggregation,
    * so the only corpus-wide work left is the score-and-top-k scan.
    * Bit-identical to the self-contained form (spec-pinned): same score
    * text, same integer inputs. */
  def bm25SearchWith(spark: SparkSession, dir: String, stats: DataFrame): DataFrame = {
    // the corpus constants live on EVERY artifact row (self-contained
    // frame); query terms absent from the vocabulary simply have no df row
    // (df 0), which is a valid state, not a malformed artifact
    val consts = stats.select("n_docs", "sum_dl").limit(1).collect()
    if (consts.isEmpty) return bm25Search(spark, dir) // empty corpus: same empty result
    val nDocs = consts.head.getLong(0)
    val sumDl = consts.head.getLong(1)
    val dfByTerm = stats.filter(col("term").isin(QueryTerms: _*))
      .select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val withStats = QueryTerms.zipWithIndex.foldLeft(
      perDocTf(spark, dir)
        .withColumn("n_docs", lit(nDocs))
        .withColumn("sum_dl", lit(sumDl))) { case (df0, (t, i)) =>
      df0.withColumn(s"df$i", lit(dfByTerm.getOrElse(t, 0L)))
    }
    scoreAndRank(withStats)
  }

  // ------------------------------------------------ hybrid search (RRF)

  /** Fusion depth per ranking and the RRF damping constant (the standard
    * k=60 from Cormack et al.). */
  val RrfDepth = 50
  val RrfK = 60
  val HybridTopK = 10

  /** Semantic query stand-in: the embedding of vec_id 0 (the synthetic
    * corpus has no encoder to embed [[QueryTerms]]; a deployment passes
    * the encoded query vector — the fusion plumbing is identical). */
  val SemanticQueryId = 0L

  /** Hybrid retrieval — reciprocal-rank fusion of the lexical BM25
    * ranking and an embedding-cosine ranking:
    * rrf = Σ 1/(k + rank), summed over the rankings that retrieved the
    * doc in their top-[[RrfDepth]]. The standard two-tower serving
    * pattern: lexical catches exact terms, the embedding side catches
    * paraphrase, RRF needs no score calibration between them.
    *
    * Scale shape: each side is its OWN distributed top-depth
    * (TakeOrderedAndProject per-partition heaps over one scan); rank
    * assignment and the full-outer fusion run on ≤2·depth rows, where a
    * single-partition window is free. Determinism: integer ranks, id
    * tiebreaks, one rounded double at the end. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VecFunctions.vecDot
    val lex0 = scoreAndRank(withSelfStats(spark, dir), k = RrfDepth)
      .select("doc_id", "score")
    val lex = lex0.withColumn("lex_rank", row_number().over(
      Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "lex_rank")
    val emb = table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n", sqrt(vecDot(col("v"), col("v"))))
    val q = emb.filter(col("vec_id") === SemanticQueryId)
      .select(col("v").as("q_v"), col("n").as("q_n"))
    val sem0 = emb.filter(col("vec_id") =!= SemanticQueryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(vecDot(col("v"), col("q_v")) / expr("NULLIF(n * q_n, 0)"), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(RrfDepth)
    val sem = sem0.withColumn("sem_rank", row_number().over(
      Window.orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "sem_rank")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .selectExpr("doc_id", "lex_rank", "sem_rank",
        s"ROUND(COALESCE(1e0 / ($RrfK + lex_rank), 0e0) + COALESCE(1e0 / ($RrfK + sem_rank), 0e0), 6) AS rrf_score")
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(HybridTopK)
  }

  def hybridSearchSql: String = {
    s"""WITH $bmScoreCtes,
       |lex0 AS (SELECT doc_id, score FROM scored
       |  WHERE score > 0 ORDER BY score DESC, doc_id LIMIT $RrfDepth),
       |lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank FROM lex0),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n FROM embeddings),
       |q AS (SELECT v AS q_v, n AS q_n FROM emb WHERE vec_id = $SemanticQueryId),
       |sem0 AS (SELECT vec_id AS doc_id, ROUND(list_dot_product(v, q_v) / NULLIF(n * q_n, 0), 6) AS cosine
       |  FROM emb, q WHERE vec_id <> $SemanticQueryId ORDER BY cosine DESC, doc_id LIMIT $RrfDepth),
       |sem AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank FROM sem0),
       |fused AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
       |  ROUND(COALESCE(1e0 / ($RrfK + lex_rank), 0e0) + COALESCE(1e0 / ($RrfK + sem_rank), 0e0), 6) AS rrf_score
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
       |SELECT doc_id, lex_rank, sem_rank, rrf_score FROM fused
       |ORDER BY rrf_score DESC, doc_id LIMIT $HybridTopK""".stripMargin.replace("\n", " ")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_search" -> ((s, d) => bm25Search(s, d)),
    "hybrid_search" -> ((s, d) => hybridSearch(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "bm25_search" -> bm25SearchSql,
    "hybrid_search" -> hybridSearchSql,
  )
}
