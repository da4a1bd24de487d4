package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.drift.table

/** As-of (point-in-time) join — the temporal operator Spark has no native
  * node for: each left row picks the most recent right row with
  * `right.ts <= left.ts` within the same key.
  *
  * The naive formulation — equi-join on key plus a `ts` inequality, then a
  * per-left-row max — plans a join whose per-key cost is
  * O(left_n · right_n): a range-explosion that melts down on any hot key at
  * 100 TB. This implementation never builds pairs at all: tag both sides,
  * UNION them, and run ONE window per key ordered by
  * (ts, side, tiebreak) taking `last(payload, ignoreNulls)` over the
  * unbounded-preceding frame. Right rows (side 0) sort before left rows
  * (side 1) at equal ts — the standard inclusive as-of tie — and equal-ts
  * right rows resolve deterministically to the max tiebreak. Cost: one
  * shuffle on the key and a per-partition sort, O(n log n), identical to
  * sessionization; skew is bounded by per-key row counts, and AQE's skew
  * handling applies since this is a plain hash partitioning.
  *
  * DuckDB expresses the same operator natively (`ASOF LEFT JOIN`), which is
  * exactly what the oracle uses — two engines, two physical strategies, one
  * semantics.
  */
object AsofJoin extends graft.OperatorModule {

  /** Generic as-of join. `left` and `right` must both carry `key` and `ts`
    * columns under the same names; every left column passes through, and
    * each right column in `payload` surfaces as `matched_<name>` (NULL when
    * no right row matches). Equal-ts right rows resolve to the greatest
    * `tiebreak` value (all directions — the equal-ts row is "nearest" on
    * both sides).
    *
    * `direction` (the pandas merge_asof surface):
    *  - `"backward"` (default): most recent right row with right.ts ≤ left.ts
    *  - `"forward"`: earliest right row with right.ts ≥ left.ts — the SAME
    *    single-window plan traversed in descending ts
    *  - `"nearest"`: whichever of the two is closer in |Δts| (tie →
    *    backward, documented); both windows share ONE key exchange (two
    *    per-partition sorts, zero joins). Requires a numeric `ts`.
    */
  def asof(left: DataFrame, right: DataFrame, key: String, ts: String,
           tiebreak: String, payload: Seq[String],
           direction: String = "backward"): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown as-of direction '$direction'")
    if (direction == "nearest") {
      // the gap comparison subtracts ts values; a timestamp/date ts would
      // otherwise surface as a confusing analysis error deep in the plan
      val tsType = left.schema(ts).dataType
      require(tsType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"asof direction='nearest' needs a numeric ts column; '$ts' is $tsType " +
          "(convert timestamps with unix_micros() first)")
    }
    val fields = (tiebreak +: payload).distinct
    // __ts rides inside the struct so `nearest` can compare gaps without
    // widening the caller-visible matched_* columns
    val pStruct = struct(col(ts).as("__ts") +: fields.map(col): _*)
    val pType = right.select(pStruct.as("__p")).schema.head.dataType
    // order by the tiebreak's NATIVE type: a cast("long") would turn a
    // string id into NULL and silently break the "greatest tiebreak"
    // contract for equal-ts right rows. Left rows carry NULL (their mutual
    // order is irrelevant: equal-ts right rows sort before them and their
    // __p is NULL, so last(__p, ignoreNulls) is order-insensitive).
    val ordType = right.schema(tiebreak).dataType
    val leftCols = left.columns.toSeq
    val lu = left.select(leftCols.map(col) ++ Seq(
      lit(1).as("__side"), lit(null).cast(ordType).as("__ord"),
      lit(null).cast(pType).as("__p")): _*)
    val ru = right.select(leftCols.map { c =>
      if (c == key || c == ts) col(c)
      else lit(null).cast(left.schema(c).dataType).as(c)
    } ++ Seq(lit(0).as("__side"), col(tiebreak).as("__ord"),
      pStruct.as("__p")): _*)
    // ascending traversal finds the latest preceding right row; descending
    // finds the earliest following one. In BOTH, equal-ts right rows sort
    // before the left row (side 0 < 1) and ascending __ord leaves the
    // greatest tiebreak as the `last` seen.
    def w(desc: Boolean) = Window.partitionBy(key)
      .orderBy((if (desc) col(ts).desc else col(ts).asc), col("__side"), col("__ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val union = lu.unionByName(ru)
    val matched = direction match {
      case "backward" => union.withColumn("__m", last("__p", ignoreNulls = true).over(w(false)))
      case "forward"  => union.withColumn("__m", last("__p", ignoreNulls = true).over(w(true)))
      case "nearest" =>
        union
          .withColumn("__mb", last("__p", ignoreNulls = true).over(w(false)))
          .withColumn("__mf", last("__p", ignoreNulls = true).over(w(true)))
          .withColumn("__m",
            when(col("__mb").isNull, col("__mf"))
              .when(col("__mf").isNull, col("__mb"))
              .when(col(ts) - col("__mb").getField("__ts") <=
                col("__mf").getField("__ts") - col(ts), col("__mb"))
              .otherwise(col("__mf")))
    }
    matched.filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        fields.map(f => col("__m").getField(f).as(s"matched_$f")): _*)
  }

  /** Concrete query: purchase attribution — every click joined to the
    * user's most recent prior (or same-instant) purchase, with the gap in
    * seconds. Timestamps travel as exact integer microseconds and the gap
    * is ONE division of exact integers, so both engines emit bit-identical
    * doubles (no per-engine rounding — see Sessions for why that matters).
    */
  private def clickPurchaseSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = table(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
    (clicks, purchases)
  }

  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clickPurchaseSides(spark, dir)
    asof(clicks, purchases, key = "user_id", ts = "ts_us",
      tiebreak = "event_id", payload = Seq("ts_us", "value"))
      .selectExpr("user_id", "click_id", "ts_us AS click_ts_us",
        "matched_event_id AS purchase_id",
        "matched_ts_us AS purchase_ts_us",
        "matched_value AS purchase_value",
        // 1000000e0, not 1000000.0: Spark parses the latter SQL literal as
        // DECIMAL and the quotient becomes a trailing-zero decimal string
        "(ts_us - matched_ts_us) / 1000000e0 AS gap_sec")
      .orderBy("click_id")
  }

  /** DuckDB twin: native ASOF LEFT JOIN; equal-ts purchases are collapsed
    * to the max event_id first (arg_max) because DuckDB's ASOF leaves that
    * tie unspecified while our window breaks it deterministically. */
  val purchaseAttributionSql: String =
    "WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id AS click_id " +
      "FROM events WHERE event_type = 'click'), " +
      "p AS (SELECT user_id, epoch_us(ts) AS ts_us, " +
      "arg_max(event_id, event_id) AS event_id, arg_max(value, event_id) AS value " +
      "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
      "SELECT c.user_id, c.click_id, c.ts_us AS click_ts_us, " +
      "p.event_id AS purchase_id, p.ts_us AS purchase_ts_us, p.value AS purchase_value, " +
      "(c.ts_us - p.ts_us) / 1000000.0 AS gap_sec " +
      "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us " +
      "ORDER BY c.click_id"

  /** Forward as-of instance: every click joined to the user's EARLIEST
    * following (or same-instant) purchase — "time to next purchase". Same
    * single-window plan as [[purchaseAttribution]], traversed in
    * descending ts. */
  def nextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clickPurchaseSides(spark, dir)
    asof(clicks, purchases, key = "user_id", ts = "ts_us",
      tiebreak = "event_id", payload = Seq("ts_us", "value"), direction = "forward")
      .selectExpr("user_id", "click_id", "ts_us AS click_ts_us",
        "matched_event_id AS purchase_id",
        "matched_ts_us AS purchase_ts_us",
        "matched_value AS purchase_value",
        "(matched_ts_us - ts_us) / 1000000e0 AS wait_sec")
      .orderBy("click_id")
  }

  val nextPurchaseSql: String =
    "WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id AS click_id " +
      "FROM events WHERE event_type = 'click'), " +
      "p AS (SELECT user_id, epoch_us(ts) AS ts_us, " +
      "arg_max(event_id, event_id) AS event_id, arg_max(value, event_id) AS value " +
      "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
      "SELECT c.user_id, c.click_id, c.ts_us AS click_ts_us, " +
      "p.event_id AS purchase_id, p.ts_us AS purchase_ts_us, p.value AS purchase_value, " +
      "(p.ts_us - c.ts_us) / 1000000.0 AS wait_sec " +
      "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us <= p.ts_us " +
      "ORDER BY c.click_id"

  /** Nearest as-of instance: each click's closest purchase on EITHER side
    * (tie → the preceding one). `gap_sec` is signed: positive when the
    * purchase preceded the click. */
  def nearestPurchase(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = clickPurchaseSides(spark, dir)
    asof(clicks, purchases, key = "user_id", ts = "ts_us",
      tiebreak = "event_id", payload = Seq("ts_us", "value"), direction = "nearest")
      .selectExpr("user_id", "click_id", "ts_us AS click_ts_us",
        "matched_event_id AS purchase_id",
        "matched_ts_us AS purchase_ts_us",
        "matched_value AS purchase_value",
        "(ts_us - matched_ts_us) / 1000000e0 AS gap_sec")
      .orderBy("click_id")
  }

  /** DuckDB has no native nearest ASOF: compose the backward and forward
    * native ASOF joins per click and choose the closer side with the SAME
    * tie rule (equal gap → backward). */
  val nearestPurchaseSql: String = {
    val pred = "(b.pts IS NOT NULL AND (f.pts IS NULL OR (b.ts_us - b.pts) <= (f.pts - b.ts_us)))"
    "WITH c AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id AS click_id " +
      "FROM events WHERE event_type = 'click'), " +
      "p AS (SELECT user_id, epoch_us(ts) AS ts_us, " +
      "arg_max(event_id, event_id) AS event_id, arg_max(value, event_id) AS value " +
      "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
      "b AS (SELECT c.user_id, c.click_id, c.ts_us, p.event_id AS pid, p.ts_us AS pts, p.value AS pv " +
      "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us), " +
      "f AS (SELECT c.click_id, p.event_id AS pid, p.ts_us AS pts, p.value AS pv " +
      "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us <= p.ts_us) " +
      "SELECT b.user_id, b.click_id, b.ts_us AS click_ts_us, " +
      s"CASE WHEN $pred THEN b.pid ELSE f.pid END AS purchase_id, " +
      s"CASE WHEN $pred THEN b.pts ELSE f.pts END AS purchase_ts_us, " +
      s"CASE WHEN $pred THEN b.pv ELSE f.pv END AS purchase_value, " +
      s"(b.ts_us - (CASE WHEN $pred THEN b.pts ELSE f.pts END)) / 1000000.0 AS gap_sec " +
      "FROM b JOIN f USING (click_id) ORDER BY b.click_id"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "asof_join" -> ((s, d) => purchaseAttribution(s, d)),
    "asof_join_forward" -> ((s, d) => nextPurchase(s, d)),
    "asof_join_nearest" -> ((s, d) => nearestPurchase(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "asof_join" -> purchaseAttributionSql,
    "asof_join_forward" -> nextPurchaseSql,
    "asof_join_nearest" -> nearestPurchaseSql,
  )
}
