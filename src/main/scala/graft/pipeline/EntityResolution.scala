package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.table

/** Blocked fuzzy record linkage — the entity-resolution step a training
  * pipeline runs to canonicalize noisy catalog/author/source strings
  * before they become grouping keys (a near-duplicate SOURCE name, e.g.
  * "nytimes.com" vs "nytimes.com.", silently splits every per-source
  * statistic in this engine).
  *
  * Classic two-phase shape (Fellegi-Sunter blocking + edit-distance
  * compare), kept fully declarative:
  *
  *  1. REDUCE to the distinct-entity frame first: matching runs on
  *     `DISTINCT name` (+ its row count), never on raw rows — at 100 TB
  *     the distinct catalog is MBs while the fact table is the corpus,
  *     exactly the counts-frame discipline the drift operators use.
  *  2. BLOCK on a cheap deterministic key (the last name token — the
  *     product noun here; a phonetic key or prefix in general) so the
  *     pairwise compare is an equi-join within blocks, never all-pairs.
  *  3. BOUND the block: blocks larger than [[MaxBlock]] entities are
  *     reported-not-compared (the `ngram_jaccard_capped` df-ceiling
  *     pattern) — a degenerate key can't go quadratic.
  *  4. COMPARE with `levenshtein` (identical semantics in Spark and
  *     DuckDB), keep pairs within [[MaxEdit]], score by normalized
  *     edit similarity.
  */
object EntityResolution extends graft.OperatorModule {

  /** Max entities per block that still get the pairwise compare. */
  val MaxBlock = 1000

  /** Max edit distance for a candidate match. */
  val MaxEdit = 4

  /** Fuzzy match pairs over the `part` catalog's distinct names.
    * Output: block, both names with their row counts, edit distance and
    * normalized similarity; `a < b` dedupes the symmetric pair.
    *
    * Scale shape: one corpus scan → distinct-name partial agg (the only
    * corpus-sized pass); the self-join runs on the blocked distinct-entity
    * frame, whose per-block fan-out is capped at [[MaxBlock]]². */
  def entityMatches(spark: SparkSession, dir: String): DataFrame = {
    val ents = table(spark, dir, "part")
      .groupBy("p_name").agg(count(lit(1)).as("n_rows"))
      .withColumn("block", expr("element_at(split(p_name, ' '), -1)"))
    val blockSizes = ents.groupBy("block").agg(count(lit(1)).as("block_n"))
    val inCap = ents.join(broadcast(blockSizes.filter(col("block_n") <= MaxBlock)), "block")
    inCap.as("a").join(inCap.as("b"),
        col("a.block") === col("b.block") && col("a.p_name") < col("b.p_name"))
      .withColumn("edit_dist", levenshtein(col("a.p_name"), col("b.p_name")))
      .filter(col("edit_dist") <= MaxEdit)
      .select(
        col("a.block").as("block"),
        col("a.p_name").as("name_a"), col("a.n_rows").as("rows_a"),
        col("b.p_name").as("name_b"), col("b.n_rows").as("rows_b"),
        col("edit_dist").cast("int").as("edit_dist"),
        round(lit(1.0) - col("edit_dist") * lit(1.0) /
          greatest(length(col("a.p_name")), length(col("b.p_name"))), 6).as("similarity"))
      .orderBy("block", "name_a", "name_b")
  }

  def entityMatchesSql: String =
    "WITH ents AS (SELECT p_name, COUNT(*) AS n_rows, " +
      "list_extract(string_split(p_name, ' '), len(string_split(p_name, ' '))) AS block " +
      "FROM part GROUP BY 1), " +
      "bs AS (SELECT block, COUNT(*) AS block_n FROM ents GROUP BY 1), " +
      s"e AS (SELECT ents.* FROM ents JOIN bs USING (block) WHERE block_n <= $MaxBlock) " +
      "SELECT a.block AS block, a.p_name AS name_a, a.n_rows AS rows_a, " +
      "b.p_name AS name_b, b.n_rows AS rows_b, " +
      "CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist, " +
      "ROUND(1e0 - levenshtein(a.p_name, b.p_name) * 1e0 / " +
      "GREATEST(LENGTH(a.p_name), LENGTH(b.p_name)), 6) AS similarity " +
      "FROM e a JOIN e b ON a.block = b.block AND a.p_name < b.p_name " +
      s"WHERE levenshtein(a.p_name, b.p_name) <= $MaxEdit " +
      "ORDER BY block, name_a, name_b"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "entity_matches" -> ((s, d) => entityMatches(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "entity_matches" -> entityMatchesSql,
  )
}
