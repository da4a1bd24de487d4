package graft.drift

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}
import graft.drift.{splits => S}

/** Semi-structured drift over the `events.props` JSON column — the
  * schema-on-read counterpart of [[SchemaOps]]' typed-schema diffs. The
  * reference profiles only Delta-typed columns; production event streams
  * carry JSON property bags whose keys appear/disappear and change type
  * between snapshots without any schema change, so a drift engine must
  * discover the key set FROM THE DATA and profile each key per side.
  *
  * Key discovery is `from_json(props, map<string,string>)` + one map
  * explode — fully dynamic (no literal JSON paths), one scan, and the
  * per-key frame the aggregations run on is keyed by the (small) distinct
  * key set, never by row count. Values are probed numeric with `try_cast`
  * (ANSI-safe). A malformed document yields a null map and simply drops
  * out of the explode, mirroring how DuckDB's `json_each` lateral emits
  * nothing for it.
  *
  * Scale: one scan → explode → groupBy(key) partial aggs; side totals are
  * a 1-row broadcast. Key cardinality bounds every frame after the scan.
  */
object JsonDrift extends graft.OperatorModule {

  private def kvLong(spark: SparkSession, dir: String): DataFrame =
    withSide(table(spark, dir, "events"), S.eventsRef)
      .select(col("side"), explode(from_json(col("props"), MapType(StringType, StringType))))
      .toDF("side", "key", "value")
      .withColumn("dval", expr("try_cast(value AS DOUBLE)"))

  private def sideTotals(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events").agg(
      sum(when(S.eventsRef, 1L).otherwise(0L)).as("n_ref_rows"),
      sum(when(S.eventsRef, 0L).otherwise(1L)).as("n_curr_rows"))

  /** Per-key presence + numeric-value drift: how often each key appears on
    * each side, and how its numeric values moved (reference relDiff
    * convention for the mean shift). */
  def propsDrift(spark: SparkSession, dir: String): DataFrame =
    kvLong(spark, dir).groupBy("key").agg(
      sum(when(col("side") === "ref", 1L).otherwise(0L)).as("ref_n"),
      sum(when(col("side") === "curr", 1L).otherwise(0L)).as("curr_n"),
      avg(when(col("side") === "ref", col("dval"))).as("ref_mean"),
      avg(when(col("side") === "curr", col("dval"))).as("curr_mean"))
      .crossJoin(broadcast(sideTotals(spark, dir)))
      .withColumn("rp", col("ref_n") * lit(1.0) / col("n_ref_rows"))
      .withColumn("cp", col("curr_n") * lit(1.0) / col("n_curr_rows"))
      .withColumn("mrd", relDiff(col("ref_mean"), col("curr_mean")))
      .select(col("key"),
        r6(col("rp")).as("ref_present_ratio"), r6(col("cp")).as("curr_present_ratio"),
        r6(col("ref_mean")).as("ref_mean"), r6(col("curr_mean")).as("curr_mean"),
        r6(col("mrd")).as("mean_rel_diff"),
        (abs(col("cp") - col("rp")) > 0.05 || abs(col("mrd")) > 0.1).as("drifted"))
      .orderBy("key")

  /** Per-key inferred value type per side: numeric / boolean / string by
    * the >90% majority rule [[TypeInference]] uses for physical columns,
    * plus the cross-side type-change flag — the JSON analogue of a schema
    * type diff. */
  def typeProfile(spark: SparkSession, dir: String): DataFrame = {
    val perSide = kvLong(spark, dir)
      .withColumn("is_bool", col("value").isin("true", "false"))
      .groupBy("key", "side").agg(
        count(lit(1)).as("n"),
        sum(when(col("dval").isNotNull, 1L).otherwise(0L)).as("n_num"),
        sum(when(col("is_bool"), 1L).otherwise(0L)).as("n_bool"))
      .withColumn("itype",
        when(col("n_num") * lit(1.0) / col("n") > 0.9, "numeric")
          .when(col("n_bool") * lit(1.0) / col("n") > 0.9, "boolean")
          .otherwise("string"))
    perSide.groupBy("key").agg(
      max(when(col("side") === "ref", col("n"))).as("ref_n"),
      max(when(col("side") === "curr", col("n"))).as("curr_n"),
      max(when(col("side") === "ref", col("itype"))).as("ref_type"),
      max(when(col("side") === "curr", col("itype"))).as("curr_type"))
      .select(col("key"), col("ref_n"), col("curr_n"), col("ref_type"), col("curr_type"),
        (col("ref_type") =!= col("curr_type")).as("type_changed"))
      .orderBy("key")
  }

  /** DuckDB kv mirror: `unnest(json_keys())` + a dynamic-path
    * `json_extract_string` = the map explode. extract_STRING renders
    * values unquoted (69 → '69', "x" → 'x', true → 'true'), exactly the
    * string forms Spark's `map<string,string>` produces — the quoted
    * `json_extract` would NOT match. (Keys containing `.` or `"` would
    * break the composed path; event property keys are identifiers.) */
  private val kvSql: String =
    s"SELECT side, key, json_extract_string(props, '$$.' || key) AS value, " +
      "TRY_CAST(json_extract_string(props, '$.' || key) AS DOUBLE) AS dval FROM " +
      s"(SELECT CASE WHEN ${S.eventsRefSql} THEN 'ref' ELSE 'curr' END AS side, " +
      "props, unnest(json_keys(props)) AS key FROM events) t"

  def propsDriftSql: String =
    s"WITH kv AS ($kvSql), tot AS (SELECT " +
      s"SUM(CASE WHEN ${S.eventsRefSql} THEN 1 ELSE 0 END)::BIGINT AS n_ref_rows, " +
      s"SUM(CASE WHEN ${S.eventsRefSql} THEN 0 ELSE 1 END)::BIGINT AS n_curr_rows FROM events), " +
      "agg AS (SELECT key, " +
      "SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)::BIGINT AS ref_n, " +
      "SUM(CASE WHEN side = 'curr' THEN 1 ELSE 0 END)::BIGINT AS curr_n, " +
      "AVG(CASE WHEN side = 'ref' THEN dval END) AS ref_mean, " +
      "AVG(CASE WHEN side = 'curr' THEN dval END) AS curr_mean FROM kv GROUP BY 1), " +
      "fin AS (SELECT key, ref_n * 1e0 / n_ref_rows AS rp, curr_n * 1e0 / n_curr_rows AS cp, " +
      s"ref_mean, curr_mean, ${relDiffSql("ref_mean", "curr_mean")} AS mrd FROM agg, tot) " +
      "SELECT key, ROUND(rp, 6) AS ref_present_ratio, ROUND(cp, 6) AS curr_present_ratio, " +
      "ROUND(ref_mean, 6) AS ref_mean, ROUND(curr_mean, 6) AS curr_mean, " +
      "ROUND(mrd, 6) AS mean_rel_diff, " +
      "ABS(cp - rp) > 0.05 OR ABS(mrd) > 0.1 AS drifted FROM fin ORDER BY key"

  def typeProfileSql: String =
    s"WITH kv AS ($kvSql), per AS (SELECT key, side, COUNT(*) AS n, " +
      "SUM(CASE WHEN dval IS NOT NULL THEN 1 ELSE 0 END) AS n_num, " +
      "SUM(CASE WHEN value IN ('true', 'false') THEN 1 ELSE 0 END) AS n_bool " +
      "FROM kv GROUP BY 1, 2), typed AS (SELECT key, side, n, " +
      "CASE WHEN n_num * 1e0 / n > 0.9 THEN 'numeric' " +
      "WHEN n_bool * 1e0 / n > 0.9 THEN 'boolean' ELSE 'string' END AS itype FROM per) " +
      "SELECT key, MAX(CASE WHEN side = 'ref' THEN n END)::BIGINT AS ref_n, " +
      "MAX(CASE WHEN side = 'curr' THEN n END)::BIGINT AS curr_n, " +
      "MAX(CASE WHEN side = 'ref' THEN itype END) AS ref_type, " +
      "MAX(CASE WHEN side = 'curr' THEN itype END) AS curr_type, " +
      "MAX(CASE WHEN side = 'ref' THEN itype END) <> " +
      "MAX(CASE WHEN side = 'curr' THEN itype END) AS type_changed " +
      "FROM typed GROUP BY 1 ORDER BY 1"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "json_props_drift" -> ((s, d) => propsDrift(s, d)),
    "json_type_profile" -> ((s, d) => typeProfile(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "json_props_drift" -> propsDriftSql,
    "json_type_profile" -> typeProfileSql,
  )
}
