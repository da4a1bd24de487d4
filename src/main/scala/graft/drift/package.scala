package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}

/** Shared helpers for the drift engine.
  *
  * The engine compares a "reference" and a "current" snapshot of a table
  * (reference design: /root/reference/data_drift_detector.py:53-54). The
  * driver testdata has single-snapshot parquet tables, so snapshot pairs are
  * derived from one table by a deterministic, SQL-expressible predicate
  * (FIXTURES.md §B) — e.g. `lineitem` split on `l_shipdate`.
  *
  * Scale note: every helper here keeps work declarative (Catalyst plans the
  * scan/shuffle). The ref/curr pair is computed in a SINGLE pass with a
  * `side` tag + `groupBy(side)` instead of two scans, so at 100 TB one shuffle
  * of partial aggregates replaces 2× full reads.
  */
package object drift {

  /** Epsilon used by the reference's score math
    * (/root/reference/numerical_analyzer.py:344). */
  val Eps = 1e-10

  /** `percentile_approx` accuracy of sketch mode
    * ([[graft.plans.SketchModeRewrite]]) — ONE knob for every sketched
    * percentile. Rank error ≤ 1/accuracy = 1e-4, 100× tighter than the
    * reference's own rel_error=0.01 choice (numerical_analyzer.py:306-307).
    * The sketch cost is insert-bound and accuracy-independent on the gate
    * tables (1.23 s vs 1.25 s per lineitem stats pass at 1e3 vs 1e4,
    * measured collect-forced, since `count()` prunes unused aggregates), so
    * the accuracy stays at the tight setting; DriftMathSpec pins
    * approx-vs-exact drift-score tracking ≤0.02 at it. */
  val SketchAccuracy = 10000

  /** Table loader. `events.ts` is TIMESTAMP(NANOS) parquet, which Spark 4
    * only reads as long (spark.sql.legacy.parquet.nanosAsLong) — convert to
    * a microsecond TimestampType column so downstream ops see a timestamp. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer div, not `/1000` — double division loses sub-µs precision
        // on 1.7e18-scale nanosecond values (2^53 mantissa)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // parquet written without isAdjustedToUTC (DuckDB, pandas default)
        // reads as TIMESTAMP_NTZ, which time functions like unix_micros
        // reject. The wall-clock fields ARE the UTC instant; a bare cast to
        // TimestampType interprets them in the SESSION timezone (wrong off
        // UTC), and re-rendering through the session zone is lossy in DST
        // fall-back overlaps (two instants share a wall clock). Build the
        // epoch arithmetically from the date/time fields instead — no
        // timezone is consulted anywhere, so the conversion is exact under
        // ANY session configuration (EXTRACT(SECOND) carries the
        // microsecond fraction as an exact DECIMAL).
        df.withColumn("ts", timestamp_micros(
          expr("unix_date(CAST(ts AS DATE)) * 86400000000L + " +
            "HOUR(ts) * 3600000000L + MINUTE(ts) * 60000000L + " +
            "CAST(EXTRACT(SECOND FROM ts) * 1000000 AS LONG)")))
      case _ => df
    }
  }

  /** A column name as a quoted Spark SQL identifier. */
  def sqlIdent(name: String): String = "`" + name.replace("`", "``") + "`"

  /** A string as a Spark SQL string literal. */
  def sqlStr(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Tag rows ref/curr in one pass; groupBy("side") then does a map-side
    * partial agg — one job for both snapshots. */
  def withSide(df: DataFrame, refPred: Column): DataFrame =
    df.withColumn("side", when(refPred, "ref").otherwise("curr"))

  /** The same `side` tag over two snapshots: their requested columns,
    * tagged and unioned, so a family function reads a snapshot pair exactly
    * as it reads a [[withSide]] table split. NaN and ±Infinity in a float or
    * double column become NULL, so every statistic, score and bin edge of a
    * pair is computed over its finite values and a non-finite value counts
    * as missing. A current column whose type does not [[widens widen]] with its
    * reference type is `try_cast` to the reference type, so a value that
    * does not parse counts as missing too; a pair that widens is left to the
    * union, which keeps every value exactly. */
  private[drift] def tagPair(ref: DataFrame, curr: DataFrame, cols: Seq[String]): DataFrame = {
    val refTypes = ref.select(cols.map(col): _*).schema.fields.map(f => f.name -> f.dataType).toMap
    def tagged(df: DataFrame, side: String): DataFrame = {
      val picked = df.select(cols.map(col): _*)
      picked.select(picked.schema.fields.toSeq.map { f =>
        val (c, t) = refTypes(f.name) match {
          case r if !widens(r, f.dataType) => (col(sqlIdent(f.name)).try_cast(r).as(f.name), r)
          case _ => (col(sqlIdent(f.name)), f.dataType)
        }
        t match {
          case FloatType | DoubleType =>
            when(isnan(c) || abs(c) === Double.PositiveInfinity, lit(null)).otherwise(c).as(f.name)
          case _ => c
        }
      } :+ lit(side).as("side"): _*)
    }
    tagged(ref, "ref").unionByName(tagged(curr, "curr"))
  }

  /** Whether two column types have a common type that parses nothing (a
    * wider number, decimals included, or a timestamp for a date); the ANSI
    * union of any other pair casts a string and aborts on a bad value. */
  private[drift] def widens(ref: DataType, curr: DataType): Boolean =
    TypeCoercion.findWiderTypeWithoutStringPromotion(Seq(ref, curr)).isDefined

  /** Collected rows as a frame that holds no cache blocks, in one RDD
    * partition: opaque to the optimizer, so every reader is one job, empty
    * result or not; `coalesce(1)` tells the planner it is one partition, so
    * a reader's aggregate plans no exchange. */
  private[graft] def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).coalesce(1)

  /** A [[localFrame]] of a small frame's collected rows. */
  private[graft] def localCopy(df: DataFrame): DataFrame =
    localFrame(df.sparkSession, df.collect().toSeq, df.schema)

  /** A numeric family's gate query: `of(tagged, label, cols)` applied to
    * each numeric table split, with the table name as label, unioned. */
  private[drift] def overNumericSplits(spark: SparkSession, dir: String)(
      of: (DataFrame, String, Seq[String]) => DataFrame): DataFrame =
    splits.numeric.map { sp =>
      of(withSide(table(spark, dir, sp.tableName), sp.ref), sp.tableName, sp.cols)
    }.reduce(_ unionAll _)

  /** Test-only escape: when true, [[r6]] is the identity, exposing unrounded
    * doubles so DriftMathSpec can assert they sit far from the 6-dp rounding
    * boundary, where an engine-order partial-sum reassociation or a loose
    * libm ulp flips the rounded output. Never set in main code. */
  private[graft] var r6TestBypass = false

  /** Round floating outputs so Spark and the DuckDB oracle hash identically
    * (SURVEY.md §7.3 floating-point determinism). */
  def r6(c: Column): Column = if (r6TestBypass) c else round(c, 6)

  /** Portable 6-dp rounding: a floor-based expression built ONLY from IEEE
    * correctly-rounded ops (*, +, -, /, floor), so BOTH engines evaluating
    * the same text on bit-identical input doubles produce bit-identical
    * outputs — unlike ROUND(x, 6), whose tie behavior differs between Spark
    * (BigDecimal HALF_UP on the exact binary expansion) and DuckDB (whose
    * multiply-then-rint strategy changes across releases). Half-away-from-
    * zero at ties; cross-engine agreement is the contract. Finite |x| ≥ 9e9
    * (where the double grid is coarser than 1e-6), NaN and ±Inf pass through
    * unchanged on both engines. */
  def pr6Sql(e: String): String =
    // The guard passes NaN, ±Infinity and finite |x| ≥ 9e9 through
    // unchanged (ABS(x) < 9e9 is false for all of them; NULL stays NULL):
    // Spark's FLOOR(double) returns BIGINT, so it would map NaN → 0, ±Inf →
    // ±2⁶³/1e6 and saturate large values while DuckDB's floor keeps
    // doubles; and past 2^53/1e6 ≈ 9.007e9 6-dp rounding is an identity
    // apart from ties, so identity is the one value both engines agree on.
    s"(CASE WHEN NOT (ABS($e) < 9000000000e0) THEN ($e) " +
      s"WHEN ($e) >= 0 THEN FLOOR(($e) * 1000000e0 + 0.5e0) / 1000000e0 " +
      s"ELSE 0e0 - FLOOR((0e0 - ($e)) * 1000000e0 + 0.5e0) / 1000000e0 END)"

  /** Scalar twin of [[pr6Sql]]: the exact same IEEE operation sequence in
    * JVM arithmetic (floor/×/÷ are all correctly rounded; Spark's
    * FLOOR→BIGINT detour is exact inside the 9e9 guard), so this is
    * bit-identical to what BOTH engines emit — use it for driver-side
    * math that must hash-match query output, and for property tests. */
  def pr6Scalar(x: Double): Double =
    if (!(math.abs(x) < 9e9)) x // NaN/±Inf/large magnitudes: identity
    else if (x >= 0) math.floor(x * 1e6 + 0.5) / 1e6
    else 0.0 - math.floor((0.0 - x) * 1e6 + 0.5) / 1e6

  /** Power-of-ten literal rendered so both engines parse a DOUBLE. */
  private def p10(scale: Int): String = "1" + ("0" * scale) + "e0"

  /** Micro-unit quantization of one shared-text double term: half-up at
    * `scale` decimal places into an exact DECIMAL(38,0) integer, so a sum of
    * terms never depends on an engine's fold order (whether DuckDB's
    * `list_sum` folds left to right is an undocumented internal that
    * changes across versions). Why this form is version-proof:
    *   - FLOOR(x·10^s + 0.5) uses only IEEE correctly-rounded ops on a
    *     bit-identical input double → identical on any engine (Spark's
    *     FLOOR(double) returns BIGINT, DuckDB's returns an integer-valued
    *     double; the CAST to DECIMAL(38,0) is exact either way);
    *   - summing DECIMAL(38,0) is exact integer arithmetic — commutative,
    *     so partial-agg order, window-frame strategy (segment tree vs
    *     sequential) and list-fold internals are all irrelevant;
    *   - scale-0 decimal→DOUBLE is a bare int→double conversion (exact
    *     below 2^53) with NO engine-private "divide by 10^scale" step —
    *     the scale division is written EXPLICITLY in shared text
    *     ([[microToDoubleSql]]), one correctly-rounded IEEE division.
    * Preconditions: `term` must be finite (DuckDB errors casting NaN/Inf
    * to DECIMAL; Spark's FLOOR maps NaN→0 — diverging), |term|·10^s must
    * stay < 2^63 (Spark FLOOR saturates at Long.Max), and for a
    * bit-stable final double the summed magnitude·10^s must stay < 2^53
    * (callers pick `scale` with headroom at every gate SF; DriftMathSpec
    * enumerates each site's bound). */
  def microTermSql(term: String, scale: Int = 6): String =
    s"CAST(FLOOR(($term) * ${p10(scale)} + 0.5e0) AS DECIMAL(38,0))"

  /** Exact integer-unit sum of [[microTermSql]] terms (NULL-safe: empty
    * or all-NULL groups sum to 0). */
  def microSumSql(term: String, scale: Int = 6): String =
    s"COALESCE(SUM(${microTermSql(term, scale)}), CAST(0 AS DECIMAL(38,0)))"

  /** Bring an integer-unit value back to DOUBLE: exact int→double (the
    * value must be < 2^53) then ONE shared-text correctly-rounded
    * division — never an engine-internal scaled-decimal cast. */
  def microToDoubleSql(e: String, scale: Int = 6): String =
    s"(CAST($e AS DOUBLE) / ${p10(scale)})"

  /** The whole pattern in one expression: Σ term as bit-identical DOUBLE. */
  def microSumDoubleSql(term: String, scale: Int = 6): String =
    microToDoubleSql(microSumSql(term, scale), scale)

  /** Scalar twin of [[microTermSql]] for property tests and driver-side
    * math that must hash-match query output. */
  def microScalar(x: Double, scale: Int = 6): Long = {
    val m = math.pow(10.0, scale)
    math.floor(x * m + 0.5).toLong
  }

  /** Relative difference with the reference's zero-denominator rule
    * (/root/reference/numerical_analyzer.py:214-219):
    * ref==0 → 1.0 if curr!=0 else 0.0; otherwise (curr-ref)/abs(ref). */
  def relDiff(ref: Column, curr: Column): Column =
    when(ref === 0.0, when(curr =!= 0.0, lit(1.0)).otherwise(lit(0.0)))
      .otherwise((curr - ref) / abs(ref))

  /** SQL form of [[relDiff]] for the DuckDB oracle. */
  def relDiffSql(ref: String, curr: String): String =
    s"CASE WHEN $ref = 0 THEN (CASE WHEN $curr <> 0 THEN 1.0 ELSE 0.0 END) " +
      s"ELSE ($curr - $ref) / ABS($ref) END"

  /** Percent change with the group-analyzer rule
    * (/root/reference/group_analyzer.py:516-532): old==0 → 0 if new==0 else 1. */
  def pctChange(oldV: Column, newV: Column): Column =
    when(oldV === 0.0, when(newV === 0.0, lit(0.0)).otherwise(lit(1.0)))
      .otherwise((newV - oldV) / abs(oldV))

  def pctChangeSql(oldV: String, newV: String): String =
    s"CASE WHEN $oldV = 0 THEN (CASE WHEN $newV = 0 THEN 0.0 ELSE 1.0 END) " +
      s"ELSE ($newV - $oldV) / ABS($oldV) END"

  /** Severity bucketing (/root/reference/result_handler.py:54-73,93-100). */
  def severity(score: Column): Column =
    when(score < 0.1, "None")
      .when(score < 0.25, "Low")
      .when(score < 0.5, "Medium")
      .when(score < 0.75, "High")
      .otherwise("Critical")

  def severitySql(score: String): String =
    s"CASE WHEN $score < 0.1 THEN 'None' WHEN $score < 0.25 THEN 'Low' " +
      s"WHEN $score < 0.5 THEN 'Medium' WHEN $score < 0.75 THEN 'High' " +
      s"ELSE 'Critical' END"

  /** Deterministic snapshot-split predicates per driver table (FIXTURES.md §B).
    * Each is expressible as the same ANSI SQL for the DuckDB oracle. */
  object splits {
    val lineitemCutoff = "1998-07-01"
    val ordersCutoff = "1998-07-01"
    val eventsCutoff = "2024-01-16"

    def lineitemRef: Column = col("l_shipdate") < lit(lineitemCutoff).cast("timestamp")
    val lineitemRefSql = s"l_shipdate < TIMESTAMP '$lineitemCutoff'"
    def ordersRef: Column = col("o_orderdate") < lit(ordersCutoff).cast("timestamp")
    val ordersRefSql = s"o_orderdate < TIMESTAMP '$ordersCutoff'"
    def eventsRef: Column = col("ts") < lit(eventsCutoff).cast("timestamp")
    val eventsRefSql = s"ts < TIMESTAMP '$eventsCutoff'"

    /** (table, refPredicate, refPredicateSql) triples for numeric columns. */
    case class NumSplit(tableName: String, cols: Seq[String], ref: Column, refSql: String)
    val numeric: Seq[NumSplit] = Seq(
      NumSplit("lineitem", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        lineitemRef, lineitemRefSql),
      NumSplit("orders", Seq("o_totalprice"), ordersRef, ordersRefSql),
      NumSplit("events", Seq("value"), eventsRef, eventsRefSql),
    )

    case class CatSplit(tableName: String, cols: Seq[String], ref: Column, refSql: String)
    val categorical: Seq[CatSplit] = Seq(
      CatSplit("lineitem", Seq("l_returnflag", "l_linestatus"), lineitemRef, lineitemRefSql),
      CatSplit("orders", Seq("o_orderstatus", "o_orderpriority"), ordersRef, ordersRefSql),
      CatSplit("events", Seq("event_type"), eventsRef, eventsRefSql),
    )
  }
}
