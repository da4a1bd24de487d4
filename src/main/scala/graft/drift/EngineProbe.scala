package graft.drift

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Literal-input engine canaries for the correctness gate.
  *
  * Background: `cramers_v` and `rolling_stats` were hash-red under the
  * DRIVER's DuckDB for three consecutive rounds (r6 ROUND, r7 canonical
  * fold, r8 micro-unit integers + window->self-join) while every
  * implementation was bit-identical to the LOCAL DuckDB 1.0.0 replica
  * (tools/check.py). Round 9 stops guessing: the two gate queries now
  * emit ONLY exact integers, and this module probes every remaining
  * op family on LITERAL inputs, so whichever CORRECTNESS_r09 rows come
  * back red name the diverging layer precisely:
  *
  *   - `probe_pr6`      pr6Sql floor-rounding at 6-dp tie boundaries
  *   - `probe_ieee`     sqrt / division / log2 / log10 at full bit
  *                      precision (mantissa extracted by exact power-of-
  *                      two scaling into BIGINT — the gate compares
  *                      doubles only after round(v, 6), which hides ulps)
  *   - `probe_decimal`  FLOOR -> DECIMAL(38,0) casts, integer decimal
  *                      sums, decimal->double round trips
  *   - `probe_datetime` date_trunc / day formatting / datediff on
  *                      literal timestamps (engine-idiomatic spellings,
  *                      same VALUES contract)
  *   - `probe_ts_scan`  per-day event counts — isolates the parquet
  *                      TIMESTAMP(NANOS) read + day bucketing
  *   - `probe_value_scan` per-day micro-unit value sums — isolates the
  *                      quantized double scan path
  *   - `probe_cat_scan` contingency counts for the orders categorical
  *                      split — isolates string grouping + the ref
  *                      predicate
  *   - `probe_chi_fin`  the EXACT sf0.01 (n, k, chi2_u) integers of the
  *                      old cramers_v output, finalized to floats by the
  *                      same shared text the float surface uses
  *   - `probe_roll_fin` the EXACT sf0.01 150 rolling integer triples,
  *                      finalized to roll_sum/avg/std by the same text
  *
  * Decision table for CORRECTNESS_r09: red `probe_*_fin` => float
  * finalization ops diverge (probe_ieee/probe_pr6 then name the op);
  * red `*_scan` => the data read or integer aggregation diverges; red
  * integer gate rows with green probes => driver check mechanics.
  * All probes are expected green. */
object EngineProbe extends graft.OperatorModule {

  /** Mantissa-extraction: x scaled by an exact power of two into
    * [2^51, 2^53), floored to BIGINT — bit-faithful, survives the
    * gate's round(v, 6) value normalization. */
  private def bits(e: String, pow2: String): String =
    s"CAST(FLOOR(($e) * ${pow2}e0) AS BIGINT)"

  /** 6-dp decimal recovered from a pr6-rounded double as BIGINT. */
  private def dp6(e: String): String =
    s"CAST(FLOOR(($e) * 1000000e0 + 0.5e0) AS BIGINT)"

  private val pr6Probes: Seq[(String, String)] = Seq(
    "tie_1"      -> "1.0000005e0",
    "tie_2"      -> "2.0000005e0",
    "tie_small"  -> "0.0000005e0",
    "tie_15"     -> "1.0000015e0",
    "tie_mid"    -> "8.3572155e0",
    "tie_neg1"   -> "-1.0000005e0",
    "tie_negmid" -> "-8.3572155e0",
    "sum_01_02"  -> "(0.1e0 + 0.2e0)",
    "third"      -> "(1e0 / 3e0)",
    "under_one"  -> "(49999999e0 / 50000000e0)"
  ).map { case (n, e) => (n, dp6(pr6Sql(e))) }

  private val ieeeProbes: Seq[(String, String)] = Seq(
    // 2^52 = 4503599627370496, 2^53, 2^54, 2^51, 2^57, 2^58, 2^66
    "sqrt2"      -> bits("SQRT(2e0)", "4503599627370496"),
    "sqrt_half"  -> bits("SQRT(0.5e0)", "9007199254740992"),
    "div_1_3"    -> bits("(1e0 / 3e0)", "18014398509481984"),
    "div_7_11"   -> bits("(7e0 / 11e0)", "9007199254740992"),
    // transcendentals are NOT IEEE-correctly-rounded — Spark's JVM libm
    // and DuckDB's differ by 1 ulp on e.g. log2(10) (observed locally) —
    // so they are probed the way every query consumes them: quantized at
    // 6 dp (any sub-micro ulp wobble is absorbed unless it lands on a
    // tie, which these values do not)
    "log2_3_dp6"  -> dp6("LOG2(3e0)"),
    "log2_10_dp6" -> dp6("LOG2(10e0)"),
    "log10_7_dp6" -> dp6("LOG10(7e0)"),
    "ln_2_dp6"    -> dp6("LN(2e0)"),
    // the exact v_raw inputs of the old cramers_v rows at sf0.01.
    // Scale factors put the value in [2^52, 2^53) so FLOOR keeps ALL 53
    // mantissa bits: sqrt(1.829183e-4) ≈ 0.01352 ∈ [2^-7, 2^-6) → 2^59;
    // sqrt(3.373e-4) ≈ 0.01837 ∈ [2^-6, 2^-5) → 2^58 (round 9 used one
    // power of two less and dropped the lowest bit — the exact ulp the
    // probe exists to catch)
    "v_events"   -> bits("SQRT((1829183e0 / 1000000e0) / 10000e0)", "576460752303423488"),
    "v_ostatus"  -> bits("SQRT((5059513e0 / 1000000e0) / 15000e0)", "288230376151711744"),
    "v_lstatus"  -> bits("SQRT((174059e0 / 1000000e0) / 60000e0)", "73786976294838206464")
  )

  private val decimalProbes: Seq[(String, String)] = Seq(
    "floor_cast" -> "CAST(CAST(FLOOR(2.9999999e0) AS DECIMAL(38,0)) AS BIGINT)",
    "micro_neg"  -> "CAST(CAST(FLOOR(-3.125e0 * 1000000e0 + 0.5e0) AS DECIMAL(38,0)) AS BIGINT)",
    "dec_add"    -> ("CAST(CAST(FLOOR(1.5e0 * 1000000e0 + 0.5e0) AS DECIMAL(38,0)) + " +
      "CAST(FLOOR(2.25e0 * 1000000e0 + 0.5e0) AS DECIMAL(38,0)) + " +
      "CAST(FLOOR(-3.125e0 * 1000000e0 + 0.5e0) AS DECIMAL(38,0)) AS BIGINT)"),
    "dec_2p52"   -> "CAST(CAST(4503599627370497e0 AS DECIMAL(38,0)) AS BIGINT)",
    "dec_d2d"    -> ("CAST(FLOOR(CAST(CAST(FLOOR(123456789.123456e0 * 1000000e0 + 0.5e0) " +
      "AS DECIMAL(38,0)) AS DOUBLE)) AS BIGINT)")
  )

  private def unionSelects(probes: Seq[(String, String)]): String =
    probes.map { case (n, e) => s"SELECT '$n' AS probe, $e AS v" }
      .mkString(" UNION ALL ")

  /** Engine-shared literal probe queries (identical SQL text evaluated by
    * Spark and DuckDB, modulo the documented FROM-VALUES idiom). */
  private def literalQuery(probes: Seq[(String, String)]): (SparkSession, String) => DataFrame =
    (s, _) => s.sql(s"SELECT probe, v FROM (${unionSelects(probes)}) ORDER BY probe")

  private def literalSql(probes: Seq[(String, String)]): String =
    s"SELECT probe, v FROM (${unionSelects(probes)}) ORDER BY probe"

  // Spark's SUM over an inline VALUES table; DuckDB spells the derived
  // table as (VALUES ...) t(x) — same rows, same aggregate text.
  private val aggSumExpr =
    "CAST(SUM(CAST(FLOOR(x * 1000000e0 + 0.5e0) AS DECIMAL(38,0))) AS BIGINT)"
  private val aggVals = "(0.1e0), (0.2e0), (0.3e0), (-0.15e0), (1e0 / 3e0)"

  private def decimalQuery(s: SparkSession): DataFrame =
    s.sql(s"SELECT probe, v FROM (${unionSelects(decimalProbes)} UNION ALL " +
      s"SELECT 'dec_aggsum' AS probe, $aggSumExpr AS v FROM VALUES $aggVals AS t(x)) ORDER BY probe")

  private def decimalSql: String =
    s"SELECT probe, v FROM (${unionSelects(decimalProbes)} UNION ALL " +
      s"SELECT 'dec_aggsum' AS probe, $aggSumExpr AS v FROM (VALUES $aggVals) AS t(x)) ORDER BY probe"

  // ------------------------------------------------------- datetime probes

  private def datetimeQuery(s: SparkSession): DataFrame = {
    def day(ts: String) =
      s"date_format(date_trunc('DAY', TIMESTAMP '$ts'), 'yyyy-MM-dd')"
    val rows = Seq(
      s"SELECT 'day_trunc' AS probe, ${day("2024-03-10 01:30:00")} AS v",
      s"SELECT 'day_pre_mid', ${day("2024-01-07 23:59:59.999999")}",
      s"SELECT 'day_post_mid', ${day("2024-01-08 00:00:00")}",
      "SELECT 'day_idx', CAST(datediff(date_trunc('DAY', TIMESTAMP '2024-03-10 01:30:00'), CAST('1970-01-01' AS DATE)) AS STRING)",
      "SELECT 'day_idx_neg', CAST(datediff(CAST('1969-12-25' AS DATE), CAST('1970-01-01' AS DATE)) AS STRING)",
      "SELECT 'fmt_hms', date_format(TIMESTAMP '2024-02-29 13:05:09', 'yyyy-MM-dd HH:mm:ss')")
    s.sql(s"SELECT probe, v FROM (${rows.mkString(" UNION ALL ")}) ORDER BY probe")
  }

  private def datetimeSql: String = {
    def day(ts: String) =
      s"strftime(date_trunc('day', TIMESTAMP '$ts'), '%Y-%m-%d')"
    val rows = Seq(
      s"SELECT 'day_trunc' AS probe, ${day("2024-03-10 01:30:00")} AS v",
      s"SELECT 'day_pre_mid', ${day("2024-01-07 23:59:59.999999")}",
      s"SELECT 'day_post_mid', ${day("2024-01-08 00:00:00")}",
      "SELECT 'day_idx', CAST(datediff('day', DATE '1970-01-01', CAST(date_trunc('day', TIMESTAMP '2024-03-10 01:30:00') AS DATE)) AS STRING)",
      "SELECT 'day_idx_neg', CAST(datediff('day', DATE '1970-01-01', DATE '1969-12-25') AS STRING)",
      "SELECT 'fmt_hms', strftime(TIMESTAMP '2024-02-29 13:05:09', '%Y-%m-%d %H:%M:%S')")
    s"SELECT probe, v FROM (${rows.mkString(" UNION ALL ")}) ORDER BY probe"
  }

  // ------------------------------------------------ data-layer isolators

  /** Per-day event counts: the parquet TIMESTAMP(NANOS) read + the exact
    * day bucketing of [[graft.pipeline.EventAnalytics]], nothing else. */
  private def tsScan(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("day")

  private val tsScanSql: String =
    "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, " +
      "COUNT(*)::BIGINT AS n_events FROM events GROUP BY 1 ORDER BY 1"

  /** Per-day micro-unit value sums: the quantized double scan path of
    * rolling_stats without the rolling join. */
  private def valueScan(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(expr(s"CAST(${microSumSql("value")} AS BIGINT)").as("sum_value_micro"),
        expr(s"CAST(${microSumSql("value * value")} AS BIGINT)").as("sum_sq_micro"))
      .orderBy("day")

  private def valueScanSql: String =
    "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, " +
      s"CAST(${microSumSql("value")} AS BIGINT) AS sum_value_micro, " +
      s"CAST(${microSumSql("value * value")} AS BIGINT) AS sum_sq_micro " +
      "FROM events GROUP BY 1 ORDER BY 1"

  /** The rolling_stats daily CTE itself over the real events parquet:
    * green [[valueScan]] plus exactly the two ingredients it doesn't
    * exercise — `event_type` in the group key and `day_idx` via datediff
    * over real scanned timestamps (the literal-input datediff probe is
    * green; this one closes the real-data gap). Every integer output is
    * CAST to BIGINT: DuckDB types COUNT(*) as BIGINT but datediff as
    * BIGINT-vs-Spark-INT, and the repo rule after the roll_n finding is
    * that no oracle output may rely on an engine-default integer type. */
  private def rollDaily(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"),
        datediff(date_trunc("DAY", col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_idx"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        expr(s"CAST(${microSumSql("value")} AS BIGINT)").as("sum_value_micro"),
        expr(s"CAST(${microSumSql("value * value")} AS BIGINT)").as("sum_sq_micro"))
      .orderBy("day", "event_type")

  private def rollDailySql: String =
    "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, " +
      "CAST(datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day_idx, " +
      "event_type, COUNT(*)::BIGINT AS n_events, " +
      s"CAST(${microSumSql("value")} AS BIGINT) AS sum_value_micro, " +
      s"CAST(${microSumSql("value * value")} AS BIGINT) AS sum_sq_micro " +
      "FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3"

  /** The rolling range self-join over [[rollDaily]]'s frame, summing ONLY
    * integer COUNTS (roll_n, cast) — no decimals anywhere: splits join
    * membership + the second SUM from the micro-unit summation, so a
    * red `rolling_stats` with [[rollDaily]] and this probe green isolates
    * the divergence to the DECIMAL(38,0) sums passing THROUGH the join. */
  private def rollJoin(s: SparkSession, dir: String): DataFrame = {
    val daily = table(s, dir, "events")
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"),
        datediff(date_trunc("DAY", col("ts")), lit("1970-01-01").cast("date")).as("day_idx"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val b = daily.select(col("event_type").as("b_type"),
      col("day_idx").as("b_idx"), col("n_events").as("b_n"))
    daily.join(b, col("event_type") === col("b_type") &&
        col("b_idx") >= col("day_idx") - (graft.pipeline.EventAnalytics.RollDays - 1) &&
        col("b_idx") <= col("day_idx"))
      .groupBy("day", "event_type")
      .agg(expr("CAST(SUM(b_n) AS BIGINT)").as("roll_n"))
      .orderBy("day", "event_type")
  }

  private def rollJoinSql: String =
    "WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, " +
      "datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_idx, " +
      "event_type, COUNT(*) AS n_events FROM events GROUP BY 1, 2, 3) " +
      "SELECT a.day AS day, a.event_type AS event_type, " +
      "CAST(SUM(b.n_events) AS BIGINT) AS roll_n " +
      "FROM daily a JOIN daily b ON a.event_type = b.event_type " +
      s"AND b.day_idx >= a.day_idx - ${graft.pipeline.EventAnalytics.RollDays - 1} " +
      "AND b.day_idx <= a.day_idx " +
      "GROUP BY 1, 2 ORDER BY 1, 2"

  /** Contingency integers for the orders categorical split: string
    * grouping + the timestamp ref predicate, no float math at all. */
  private def catScan(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .select(expr("stack(2, 'o_orderstatus', CAST(o_orderstatus AS STRING), " +
        "'o_orderpriority', CAST(o_orderpriority AS STRING)) as (column_name, value)"),
        when(splits.ordersRef, 1L).otherwise(0L).as("is_ref"))
      .groupBy("column_name", "value")
      .agg(sum("is_ref").as("rc"), sum(expr("1 - is_ref")).as("cc"))
      .orderBy("column_name", "value")

  private def catScanSql: String =
    "SELECT column_name, value, " +
      s"SUM(CASE WHEN ${splits.ordersRefSql} THEN 1 ELSE 0 END)::BIGINT AS rc, " +
      s"SUM(CASE WHEN ${splits.ordersRefSql} THEN 0 ELSE 1 END)::BIGINT AS cc FROM (" +
      "SELECT 'o_orderstatus' AS column_name, CAST(o_orderstatus AS VARCHAR) AS value, o_orderdate FROM orders " +
      "UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR), o_orderdate FROM orders) " +
      "GROUP BY 1, 2 ORDER BY 1, 2"

  // --------------------------------------------- finalization replays

  /** The EXACT integer (n, k, chi2_u) rows of the cramers_v contingency at
    * sf0.01, frozen as literals; finalized to floats by the same shared
    * text [[DistanceDrift.cramersVFull]] uses. Data provenance: the
    * driver-generated deterministic testdata, dumped via the oracle-
    * replica at round 9. */
  private val chiRows: Seq[(String, String, Long, Long, Long)] = Seq(
    ("events", "event_type", 10000L, 5L, 1829183L),
    ("lineitem", "l_linestatus", 60000L, 2L, 174059L),
    ("lineitem", "l_returnflag", 60000L, 3L, 28383L),
    ("orders", "o_orderpriority", 15000L, 5L, 4370930L),
    ("orders", "o_orderstatus", 15000L, 3L, 5059513L))

  private val chiFinal: Seq[String] = Seq(
    "table_name", "column_name",
    "CAST(n AS BIGINT) AS n_total", "CAST(k - 1 AS BIGINT) AS dof",
    pr6Sql(DistanceDrift.chi2RawSql) + " AS chi2",
    pr6Sql("v_raw") + " AS cramers_v",
    DistanceDrift.effectSql("v_raw") + " AS effect")

  private def chiFin(s: SparkSession): DataFrame = {
    import s.implicits._
    chiRows.toDF("table_name", "column_name", "n", "k", "chi2_u")
      .selectExpr("table_name", "column_name", "n", "k", "chi2_u",
        s"${DistanceDrift.vRawSql} AS v_raw")
      .selectExpr(chiFinal: _*)
      .orderBy("table_name", "column_name")
  }

  private def chiFinSql: String = {
    val vals = chiRows.map { case (t, c, n, k, u) => s"('$t', '$c', $n, $k, $u)" }
      .mkString(", ")
    s"WITH fin AS (SELECT * FROM (VALUES $vals) AS t(table_name, column_name, n, k, chi2_u)), " +
      s"fin2 AS (SELECT table_name, column_name, n, k, chi2_u, ${DistanceDrift.vRawSql} AS v_raw FROM fin) " +
      s"SELECT ${chiFinal.mkString(", ")} FROM fin2 ORDER BY table_name, column_name"
  }

  /** The EXACT 150 rolling integer triples at sf0.01
    * (day, event_type, n_events, roll_n, roll_sum_u, roll_sq_u), frozen as
    * literals; finalized by the same shared text
    * [[graft.pipeline.EventAnalytics.rollingStatsFull]] uses. */
  private val rollRows: Seq[(String, String, Long, Long, Long, Long)] = Seq(
    ("2024-01-01", "click", 78L, 78L, 4043850000L, 408375641700L),
    ("2024-01-02", "click", 76L, 154L, 8033540000L, 787007161800L),
    ("2024-01-03", "click", 62L, 216L, 10937580000L, 1027980295200L),
    ("2024-01-04", "click", 72L, 288L, 14939260000L, 1478100817800L),
    ("2024-01-05", "click", 68L, 356L, 17611140000L, 1667888250200L),
    ("2024-01-06", "click", 66L, 422L, 21288290000L, 2046617050700L),
    ("2024-01-07", "click", 71L, 493L, 24293030000L, 2313897615700L),
    ("2024-01-08", "click", 60L, 475L, 23134340000L, 2203617744600L),
    ("2024-01-09", "click", 56L, 455L, 21626660000L, 2045553760400L),
    ("2024-01-10", "click", 55L, 448L, 21764900000L, 2108744150600L),
    ("2024-01-11", "click", 65L, 441L, 21326860000L, 2075126681800L),
    ("2024-01-12", "click", 67L, 440L, 22098270000L, 2219187686100L),
    ("2024-01-13", "click", 63L, 437L, 21263660000L, 2077035613000L),
    ("2024-01-14", "click", 66L, 432L, 21933460000L, 2153437500600L),
    ("2024-01-15", "click", 52L, 424L, 21588410000L, 2067074438500L),
    ("2024-01-16", "click", 86L, 454L, 23986510000L, 2368936421300L),
    ("2024-01-17", "click", 73L, 472L, 25385880000L, 2578275781400L),
    ("2024-01-18", "click", 75L, 482L, 25850710000L, 2593991870300L),
    ("2024-01-19", "click", 60L, 475L, 24537260000L, 2405364269800L),
    ("2024-01-20", "click", 79L, 491L, 26694000000L, 2800454179400L),
    ("2024-01-21", "click", 56L, 481L, 26194800000L, 2786158693600L),
    ("2024-01-22", "click", 72L, 501L, 26562440000L, 2859575368000L),
    ("2024-01-23", "click", 57L, 472L, 24287140000L, 2565061478400L),
    ("2024-01-24", "click", 77L, 476L, 24249480000L, 2568790894200L),
    ("2024-01-25", "click", 58L, 459L, 22560460000L, 2296898470200L),
    ("2024-01-26", "click", 62L, 461L, 23275010000L, 2484439279700L),
    ("2024-01-27", "click", 76L, 458L, 21594740000L, 2129365018400L),
    ("2024-01-28", "click", 67L, 469L, 21727670000L, 2060408282900L),
    ("2024-01-29", "click", 68L, 465L, 23047000000L, 2413213594800L),
    ("2024-01-30", "click", 63L, 471L, 24017150000L, 2534673714700L),
    ("2024-01-01", "error", 73L, 73L, 3342470000L, 337863900500L),
    ("2024-01-02", "error", 56L, 129L, 6071240000L, 536380218400L),
    ("2024-01-03", "error", 65L, 194L, 8943480000L, 778740683800L),
    ("2024-01-04", "error", 56L, 250L, 11838480000L, 1056885279400L),
    ("2024-01-05", "error", 80L, 330L, 15798060000L, 1478757405000L),
    ("2024-01-06", "error", 73L, 403L, 19518890000L, 1849448658700L),
    ("2024-01-07", "error", 56L, 459L, 21793850000L, 2021885807300L),
    ("2024-01-08", "error", 52L, 438L, 20913040000L, 1913448225000L),
    ("2024-01-09", "error", 79L, 461L, 22698040000L, 2264847578800L),
    ("2024-01-10", "error", 70L, 466L, 23037750000L, 2296196517500L),
    ("2024-01-11", "error", 74L, 484L, 24014600000L, 2364453318600L),
    ("2024-01-12", "error", 70L, 474L, 23398330000L, 2278128206700L),
    ("2024-01-13", "error", 65L, 466L, 22506160000L, 2131125574800L),
    ("2024-01-14", "error", 60L, 470L, 23497290000L, 2338970951100L),
    ("2024-01-15", "error", 68L, 486L, 24143220000L, 2360450684000L),
    ("2024-01-16", "error", 79L, 486L, 23100070000L, 2099084876500L),
    ("2024-01-17", "error", 57L, 473L, 22542940000L, 2069762357000L),
    ("2024-01-18", "error", 81L, 480L, 23734020000L, 2364819059600L),
    ("2024-01-19", "error", 70L, 480L, 24265720000L, 2410416575200L),
    ("2024-01-20", "error", 70L, 485L, 25288330000L, 2611061406500L),
    ("2024-01-21", "error", 72L, 497L, 25201540000L, 2570690786400L),
    ("2024-01-22", "error", 65L, 494L, 26003500000L, 2787165418000L),
    ("2024-01-23", "error", 59L, 474L, 25316050000L, 2790401415100L),
    ("2024-01-24", "error", 59L, 476L, 25639740000L, 2841643994400L),
    ("2024-01-25", "error", 72L, 467L, 24144950000L, 2606547684100L),
    ("2024-01-26", "error", 59L, 456L, 23013390000L, 2434869720900L),
    ("2024-01-27", "error", 82L, 468L, 24179830000L, 2581165002700L),
    ("2024-01-28", "error", 65L, 461L, 23693650000L, 2483026427100L),
    ("2024-01-29", "error", 63L, 459L, 22831140000L, 2277620134000L),
    ("2024-01-30", "error", 64L, 464L, 22770730000L, 2231383884100L),
    ("2024-01-01", "purchase", 74L, 74L, 3591700000L, 367910137800L),
    ("2024-01-02", "purchase", 73L, 147L, 6825010000L, 590494057100L),
    ("2024-01-03", "purchase", 75L, 222L, 10269300000L, 894047418800L),
    ("2024-01-04", "purchase", 69L, 291L, 14244630000L, 1333520812500L),
    ("2024-01-05", "purchase", 75L, 366L, 18219240000L, 1773378659200L),
    ("2024-01-06", "purchase", 62L, 428L, 20732260000L, 1956463046600L),
    ("2024-01-07", "purchase", 60L, 488L, 23369300000L, 2169084966200L),
    ("2024-01-08", "purchase", 74L, 488L, 23257360000L, 2176641652600L),
    ("2024-01-09", "purchase", 54L, 469L, 23407970000L, 2400648449900L),
    ("2024-01-10", "purchase", 63L, 457L, 22885360000L, 2374039854200L),
    ("2024-01-11", "purchase", 64L, 452L, 21885950000L, 2222125935300L),
    ("2024-01-12", "purchase", 72L, 449L, 21572740000L, 2129956854600L),
    ("2024-01-13", "purchase", 67L, 454L, 21873850000L, 2214810106100L),
    ("2024-01-14", "purchase", 52L, 446L, 21961990000L, 2277794189300L),
    ("2024-01-15", "purchase", 65L, 437L, 21376500000L, 2214880561400L),
    ("2024-01-16", "purchase", 60L, 443L, 20776530000L, 2019561895700L),
    ("2024-01-17", "purchase", 66L, 446L, 20475340000L, 1929675189000L),
    ("2024-01-18", "purchase", 57L, 439L, 20544100000L, 1962196602600L),
    ("2024-01-19", "purchase", 76L, 443L, 20090280000L, 1890948396400L),
    ("2024-01-20", "purchase", 60L, 436L, 20727860000L, 1917999574200L),
    ("2024-01-21", "purchase", 66L, 450L, 21318600000L, 2051594910200L),
    ("2024-01-22", "purchase", 74L, 459L, 21373920000L, 2021258975000L),
    ("2024-01-23", "purchase", 82L, 481L, 22634580000L, 2142038290200L),
    ("2024-01-24", "purchase", 61L, 476L, 22834140000L, 2200813447400L),
    ("2024-01-25", "purchase", 71L, 490L, 23622160000L, 2268631466800L),
    ("2024-01-26", "purchase", 57L, 471L, 23050930000L, 2215495547500L),
    ("2024-01-27", "purchase", 57L, 468L, 23061840000L, 2331264916200L),
    ("2024-01-28", "purchase", 52L, 454L, 22293710000L, 2154870364500L),
    ("2024-01-29", "purchase", 82L, 462L, 23230360000L, 2197130405600L),
    ("2024-01-30", "purchase", 61L, 441L, 21811680000L, 2007907637000L),
    ("2024-01-01", "signup", 68L, 68L, 3868340000L, 428265533200L),
    ("2024-01-02", "signup", 68L, 136L, 7082800000L, 787511119400L),
    ("2024-01-03", "signup", 63L, 199L, 9967650000L, 1072689572100L),
    ("2024-01-04", "signup", 60L, 259L, 13353030000L, 1446461900500L),
    ("2024-01-05", "signup", 64L, 323L, 16962690000L, 1853167893900L),
    ("2024-01-06", "signup", 74L, 397L, 20585170000L, 2190015160500L),
    ("2024-01-07", "signup", 63L, 460L, 23605350000L, 2465315109900L),
    ("2024-01-08", "signup", 63L, 455L, 22953240000L, 2371830775800L),
    ("2024-01-09", "signup", 55L, 442L, 22593350000L, 2309471986900L),
    ("2024-01-10", "signup", 81L, 460L, 24266210000L, 2561383573900L),
    ("2024-01-11", "signup", 67L, 467L, 23530720000L, 2368642657800L),
    ("2024-01-12", "signup", 73L, 476L, 23612460000L, 2320254053800L),
    ("2024-01-13", "signup", 71L, 473L, 24188310000L, 2454804765700L),
    ("2024-01-14", "signup", 83L, 493L, 25788280000L, 2647614048400L),
    ("2024-01-15", "signup", 66L, 496L, 26071790000L, 2701373189900L),
    ("2024-01-16", "signup", 55L, 496L, 26750310000L, 2790273069300L),
    ("2024-01-17", "signup", 64L, 479L, 25193920000L, 2563389462800L),
    ("2024-01-18", "signup", 79L, 491L, 26393140000L, 2697140078800L),
    ("2024-01-19", "signup", 55L, 473L, 25555890000L, 2682848984100L),
    ("2024-01-20", "signup", 77L, 479L, 25228930000L, 2551930745100L),
    ("2024-01-21", "signup", 73L, 469L, 25018600000L, 2622831822200L),
    ("2024-01-22", "signup", 68L, 471L, 25059310000L, 2605734791900L),
    ("2024-01-23", "signup", 62L, 478L, 24672260000L, 2511278551400L),
    ("2024-01-24", "signup", 62L, 476L, 24225220000L, 2369487469200L),
    ("2024-01-25", "signup", 71L, 468L, 23776130000L, 2338551382900L),
    ("2024-01-26", "signup", 69L, 482L, 24339330000L, 2257511387100L),
    ("2024-01-27", "signup", 66L, 471L, 23272330000L, 2155605446300L),
    ("2024-01-28", "signup", 70L, 468L, 21933540000L, 1943925919000L),
    ("2024-01-29", "signup", 59L, 459L, 22169900000L, 2011470784800L),
    ("2024-01-30", "signup", 68L, 465L, 21782410000L, 1962385128300L),
    ("2024-01-01", "view", 71L, 71L, 3311490000L, 336467587900L),
    ("2024-01-02", "view", 66L, 137L, 6913030000L, 712286355700L),
    ("2024-01-03", "view", 68L, 205L, 10058390000L, 989724551300L),
    ("2024-01-04", "view", 69L, 274L, 12668740000L, 1166016419200L),
    ("2024-01-05", "view", 66L, 340L, 16350970000L, 1538263366900L),
    ("2024-01-06", "view", 56L, 396L, 19350800000L, 1869974164000L),
    ("2024-01-07", "view", 52L, 448L, 21473140000L, 2038712381000L),
    ("2024-01-08", "view", 63L, 440L, 21389160000L, 1949687690000L),
    ("2024-01-09", "view", 73L, 447L, 21120950000L, 1826642422100L),
    ("2024-01-10", "view", 61L, 440L, 20864430000L, 1801691306100L),
    ("2024-01-11", "view", 70L, 441L, 21569410000L, 1901279408500L),
    ("2024-01-12", "view", 72L, 447L, 21322600000L, 1839326830200L),
    ("2024-01-13", "view", 72L, 463L, 21893580000L, 1838286437400L),
    ("2024-01-14", "view", 68L, 479L, 23674020000L, 2032005184200L),
    ("2024-01-15", "view", 66L, 482L, 23861960000L, 2127381145400L),
    ("2024-01-16", "view", 55L, 464L, 22736420000L, 2016433442000L),
    ("2024-01-17", "view", 69L, 472L, 23448310000L, 2109813722100L),
    ("2024-01-18", "view", 64L, 466L, 22977690000L, 2138512978700L),
    ("2024-01-19", "view", 62L, 456L, 22367050000L, 2101967982900L),
    ("2024-01-20", "view", 68L, 452L, 21641220000L, 1976124461400L),
    ("2024-01-21", "view", 47L, 431L, 20769480000L, 1994927957200L),
    ("2024-01-22", "view", 60L, 425L, 20085650000L, 1924367271700L),
    ("2024-01-23", "view", 74L, 444L, 21965340000L, 2245353116400L),
    ("2024-01-24", "view", 66L, 441L, 21511310000L, 2175767057300L),
    ("2024-01-25", "view", 73L, 450L, 21686300000L, 2121436415000L),
    ("2024-01-26", "view", 79L, 467L, 22914660000L, 2265441375400L),
    ("2024-01-27", "view", 60L, 459L, 22794520000L, 2330577786200L),
    ("2024-01-28", "view", 66L, 478L, 22786460000L, 2227590095000L),
    ("2024-01-29", "view", 73L, 491L, 24003770000L, 2350281647500L),
    ("2024-01-30", "view", 73L, 490L, 23326800000L, 2194402459200L))

  private def rollFin(s: SparkSession): DataFrame = {
    import s.implicits._
    rollRows.toDF("day", "event_type", "n_events", "roll_n", "roll_sum_u", "roll_sq_u")
      .selectExpr(graft.pipeline.EventAnalytics.rollingFinalCols: _*)
      .orderBy("event_type", "day")
  }

  private def rollFinSql: String = {
    val vals = rollRows.map { case (d, t, n, rn, su, sq) =>
      s"('$d', '$t', $n, $rn, $su, $sq)" }.mkString(", ")
    s"WITH rolled AS (SELECT * FROM (VALUES $vals) " +
      "AS t(day, event_type, n_events, roll_n, roll_sum_u, roll_sq_u)) " +
      s"SELECT ${graft.pipeline.EventAnalytics.rollingFinalCols.mkString(", ")} " +
      "FROM rolled ORDER BY event_type, day"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "probe_pr6" -> literalQuery(pr6Probes),
    "probe_ieee" -> literalQuery(ieeeProbes),
    "probe_decimal" -> ((s, _) => decimalQuery(s)),
    "probe_datetime" -> ((s, _) => datetimeQuery(s)),
    "probe_ts_scan" -> ((s, d) => tsScan(s, d)),
    "probe_value_scan" -> ((s, d) => valueScan(s, d)),
    "probe_roll_daily" -> ((s, d) => rollDaily(s, d)),
    "probe_roll_join" -> ((s, d) => rollJoin(s, d)),
    "probe_cat_scan" -> ((s, d) => catScan(s, d)),
    "probe_chi_fin" -> ((s, _) => chiFin(s)),
    "probe_roll_fin" -> ((s, _) => rollFin(s)))

  def oracles: Map[String, String] = Map(
    "probe_pr6" -> literalSql(pr6Probes),
    "probe_ieee" -> literalSql(ieeeProbes),
    "probe_decimal" -> decimalSql,
    "probe_datetime" -> datetimeSql,
    "probe_ts_scan" -> tsScanSql,
    "probe_value_scan" -> valueScanSql,
    "probe_roll_daily" -> rollDailySql,
    "probe_roll_join" -> rollJoinSql,
    "probe_cat_scan" -> catScanSql,
    "probe_chi_fin" -> chiFinSql,
    "probe_roll_fin" -> rollFinSql)
}
