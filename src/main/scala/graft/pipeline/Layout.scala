package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.table

/** Data-layout diagnostics: how well a physical file layout supports
  * multi-dimensional scan pruning at 100 TB.
  *
  * The reference never thinks about file layout (its only source is a
  * cached Delta snapshot), but at warehouse scale the dominant cost of
  * every query in this engine is the scan, and the dominant scan
  * optimization after partition pruning is CLUSTERING the files so
  * min/max footer stats prune on the filter dimensions. A table laid out
  * by insertion key prunes perfectly on that key and not at all on
  * anything else; a Z-ORDER (Morton-curve) layout spends the same byte
  * budget buying bounded min/max spans on BOTH query dimensions
  * (Delta OPTIMIZE ZORDER BY, Iceberg sort orders, Hudi clustering all
  * ship exactly this transform).
  *
  * [[zorderStats]] measures that trade on real data rather than arguing
  * it: quantize two filter dims to 8 bits each, interleave to a 16-bit
  * Morton code, bucket rows by Morton prefix (the "file" a writer would
  * emit), and report per-layout min/max SPAN FRACTIONS — the fraction of
  * each dimension's range a bucket's footer stats cover, i.e. the
  * probability a point filter on that dim CANNOT skip the bucket.
  */
object Layout extends graft.OperatorModule {

  /** Morton-curve resolution: 8 bits per dimension (256×256 cells). */
  val ZBits = 8

  /** Buckets ("files") per layout: 64 = top-6 Morton bits. */
  val ZBuckets = 64

  /** Bit-interleave of two pre-quantized `ZBits`-bit ints into a Morton
    * code, as pure integer arithmetic (no `<<`/`>>` operators — Spark SQL
    * spells integer division `DIV` and DuckDB spells it `//`, everything
    * else is the common subset). bit k of q = (q div 2^k) mod 2; it lands
    * at weight 4^k (dim a) / 2·4^k (dim b). */
  private[graft] def morton(qa: String, qb: String, idiv: String): String =
    (0 until ZBits).map { k =>
      val p = 1 << k
      val w = 1L << (2 * k)
      s"(($qa $idiv $p) % 2) * $w + (($qb $idiv $p) % 2) * ${2 * w}"
    }.mkString("(", " + ", ")")

  /** 8-bit equal-width quantizer over [lo, hi]; hi maps to 255 via the
    * LEAST clamp, a degenerate (constant) range to cell 0. The COALESCE
    * sits UNDER the floor/cast so no engine's LEAST-with-NULL semantics
    * are relied on (Spark's least skips NULLs; leaning on that would
    * silently diverge any engine whose LEAST propagates them). FLOOR
    * before CAST keeps the cast exact in both engines (DuckDB's
    * double→int cast rounds). */
  private def quant(v: String, lo: String, hi: String): String =
    s"LEAST(255, CAST(FLOOR(COALESCE((CAST($v AS DOUBLE) - $lo) * 256e0 / " +
      s"NULLIF($hi - $lo, 0e0), 0e0)) AS INT))"

  /** Key-range bucket (the insertion-ordered baseline layout). */
  private def keyBucket(v: String, lo: String, hi: String): String =
    s"CAST(LEAST(${ZBuckets - 1}e0, FLOOR((CAST($v AS DOUBLE) - $lo) * ${ZBuckets}e0 / " +
      s"($hi - $lo + 1e0))) AS BIGINT)"

  /** Z-order vs key-range layout pruning stats on
    * `lineitem (l_partkey, l_extendedprice)` with `l_orderkey` as the
    * insertion key. Per layout: bucket count, rows, and the avg/max span
    * fraction of each dimension across buckets.
    *
    * Scale shape: ONE 1-row stats agg (broadcast) + ONE corpus scan whose
    * 2×-row `stack` unpivot collapses map-side into ≤ 2·[[ZBuckets]]
    * groups per task before the exchange — the shuffle is bucket-sized at
    * any corpus size, and nothing is globally sorted (a real Z-order
    * WRITER would range-partition by the Morton code; this diagnostic
    * only needs the bucket stats, not the physical rewrite). */
  def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_extendedprice")
    val stats = li.agg(
      expr("CAST(MIN(l_partkey) AS DOUBLE)").as("amin"),
      expr("CAST(MAX(l_partkey) AS DOUBLE)").as("amax"),
      expr("MIN(l_extendedprice)").as("bmin"),
      expr("MAX(l_extendedprice)").as("bmax"),
      expr("CAST(MIN(l_orderkey) AS DOUBLE)").as("kmin"),
      expr("CAST(MAX(l_orderkey) AS DOUBLE)").as("kmax"))
    val z = li.crossJoin(broadcast(stats))
      .withColumn("qa", expr(quant("l_partkey", "amin", "amax")))
      .withColumn("qb", expr(quant("l_extendedprice", "bmin", "bmax")))
      .withColumn("zb", expr(
        s"CAST(${morton("qa", "qb", "DIV")} DIV ${65536 / ZBuckets} AS BIGINT)"))
      .withColumn("nb", expr(keyBucket("l_orderkey", "kmin", "kmax")))
    val buckets = z
      .selectExpr("stack(2, 'key_range', nb, 'zorder', zb) AS (layout, bucket)",
        "l_partkey", "l_extendedprice")
      .groupBy("layout", "bucket").agg(
        count(lit(1)).as("n"),
        expr("CAST(MIN(l_partkey) AS DOUBLE)").as("mina"),
        expr("CAST(MAX(l_partkey) AS DOUBLE)").as("maxa"),
        min("l_extendedprice").as("minb"),
        max("l_extendedprice").as("maxb"))
    buckets.crossJoin(broadcast(stats))
      .groupBy("layout").agg(
        count(lit(1)).as("n_buckets"),
        sum("n").as("n_rows"),
        round(avg(expr("(maxa - mina) / NULLIF(amax - amin, 0e0)")), 6).as("avg_span_a"),
        round(max(expr("(maxa - mina) / NULLIF(amax - amin, 0e0)")), 6).as("max_span_a"),
        round(avg(expr("(maxb - minb) / NULLIF(bmax - bmin, 0e0)")), 6).as("avg_span_b"),
        round(max(expr("(maxb - minb) / NULLIF(bmax - bmin, 0e0)")), 6).as("max_span_b"))
      .orderBy("layout")
  }

  def zorderStatsSql: String =
    "WITH s AS (SELECT CAST(MIN(l_partkey) AS DOUBLE) AS amin, CAST(MAX(l_partkey) AS DOUBLE) AS amax, " +
      "MIN(l_extendedprice) AS bmin, MAX(l_extendedprice) AS bmax, " +
      "CAST(MIN(l_orderkey) AS DOUBLE) AS kmin, CAST(MAX(l_orderkey) AS DOUBLE) AS kmax FROM lineitem), " +
      "q AS (SELECT l_orderkey, l_partkey, l_extendedprice, " +
      s"${quant("l_partkey", "amin", "amax")} AS qa, " +
      s"${quant("l_extendedprice", "bmin", "bmax")} AS qb, kmin, kmax " +
      "FROM lineitem CROSS JOIN s), " +
      s"r AS (SELECT 'zorder' AS layout, CAST(${morton("qa", "qb", "//")} // ${65536 / ZBuckets} AS BIGINT) AS bucket, " +
      "l_partkey, l_extendedprice FROM q " +
      s"UNION ALL SELECT 'key_range', ${keyBucket("l_orderkey", "kmin", "kmax")}, " +
      "l_partkey, l_extendedprice FROM q), " +
      "g AS (SELECT layout, bucket, COUNT(*) AS n, " +
      "CAST(MIN(l_partkey) AS DOUBLE) AS mina, CAST(MAX(l_partkey) AS DOUBLE) AS maxa, " +
      "MIN(l_extendedprice) AS minb, MAX(l_extendedprice) AS maxb FROM r GROUP BY 1, 2) " +
      "SELECT layout, COUNT(*)::BIGINT AS n_buckets, SUM(n)::BIGINT AS n_rows, " +
      "ROUND(AVG((maxa - mina) / NULLIF(amax - amin, 0e0)), 6) AS avg_span_a, " +
      "ROUND(MAX((maxa - mina) / NULLIF(amax - amin, 0e0)), 6) AS max_span_a, " +
      "ROUND(AVG((maxb - minb) / NULLIF(bmax - bmin, 0e0)), 6) AS avg_span_b, " +
      "ROUND(MAX((maxb - minb) / NULLIF(bmax - bmin, 0e0)), 6) AS max_span_b " +
      "FROM g CROSS JOIN s GROUP BY 1 ORDER BY 1"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zorder_stats" -> ((s, d) => zorderStats(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "zorder_stats" -> zorderStatsSql,
  )
}
