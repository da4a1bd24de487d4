package graft

import org.apache.spark.sql.functions._
import graft.drift.table
import graft.pipeline.EventAnalytics
import graft.plans.SketchModeRewrite.sketched

/** Rolling stats, cohort retention and funnel over the event stream,
  * checked against independent driver-side computations. */
class EventAnalyticsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("rolling_stats window matches a driver-side fold over daily sums") {
    val daily = table(spark, sf, "events")
      .groupBy(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .collect().map(r => (r.getString(1), r.getString(0)) -> (r.getLong(2), r.getDouble(3)))
      .groupBy(_._1._1).map { case (t, m) => t -> m.toSeq.sortBy(_._1._2) }
    val got = EventAnalytics.rollingStatsFull(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(0)) -> r).toMap
    daily.foreach { case (t, days) =>
      days.zipWithIndex.foreach { case (((_, day), _), i) =>
        val frame = days.slice(math.max(0, i - 6), i + 1).map(_._2)
        val r = got((t, day))
        assert(r.getLong(3) == frame.map(_._1).sum, s"$t $day roll_n")
        assert(math.abs(r.getDouble(4) - frame.map(_._2).sum) < 1e-4, s"$t $day roll_sum")
        assert(math.abs(r.getDouble(5) - frame.map(_._2).sum / frame.map(_._1).sum) < 1e-4)
      }
    }
  }

  test("rolling_stats std is the sample std of the window's raw values") {
    // cross-check one (type, day) cell against raw per-event values
    val raw = table(spark, sf, "events")
      .filter(col("event_type") === "click")
      .select(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"), col("value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    val days = raw.map(_._1).distinct.sorted
    val lastDay = days.last
    val window = days.takeRight(math.min(7, days.length)).toSet
    val xs = raw.filter(p => window.contains(p._1)).map(_._2)
    val mean = xs.sum / xs.length
    val std = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (xs.length - 1))
    val got = EventAnalytics.rollingStatsFull(spark, sf)
      .filter(col("event_type") === "click" && col("day") === lastDay)
      .collect()(0)
    assert(math.abs(got.getDouble(6) - std) < 1e-3, s"std got=${got.getDouble(6)} want=$std")
  }

  test("rolling_stats window is calendar days, not most-recent-active rows") {
    import spark.implicits._
    // type 'a' active on Jan 1, 2 and 20: the Jan 20 7-day window must NOT
    // reach back to the January 1-2 rows a ROWS frame would include
    val dir = java.nio.file.Files.createTempDirectory("rollgap").toString
    Seq(
      ("2024-01-01 10:00:00", "a", 1.0),
      ("2024-01-02 10:00:00", "a", 2.0),
      ("2024-01-20 10:00:00", "a", 4.0))
      .toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventAnalytics.rollingStatsFull(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("2024-01-20").getLong(3) == 1L) // roll_n: only Jan 20 itself
    assert(got("2024-01-20").getDouble(4) == 4.0)
    assert(got("2024-01-02").getLong(3) == 2L) // Jan 1 is within 7 days
  }

  test("rolling_stats integer gate surface reconciles bit-exactly with the full floats") {
    // the gate emits only the exact micro-unit integers; the float surface
    // must be exactly its shared-text finalization (pr6 of sum/avg/std)
    val ints = EventAnalytics.rollingStats(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(0)) -> r).toMap
    val fulls = EventAnalytics.rollingStatsFull(spark, sf).collect()
    assert(fulls.length == ints.size && fulls.nonEmpty)
    fulls.foreach { f =>
      val i = ints((f.getString(1), f.getString(0)))
      assert(i.getLong(2) == f.getLong(2) && i.getLong(3) == f.getLong(3))
      val su = i.getAs[Long]("roll_sum_micro"); val sq = i.getAs[Long]("roll_sq_micro")
      val n = i.getLong(3).toDouble
      val rs = su.toDouble / 1e6; val rq = sq.toDouble / 1e6
      assert(f.getAs[Double]("roll_sum") == graft.drift.pr6Scalar(rs))
      assert(f.getAs[Double]("roll_avg") == graft.drift.pr6Scalar(rs / n))
      val variance = math.max((rq - rs * rs / n) / (n - 1), 0.0)
      if (n > 1) assert(f.getAs[Double]("roll_std") ==
        graft.drift.pr6Scalar(math.sqrt(variance)))
    }
  }

  test("cohort_retention: offsets start at 0, rates bounded, cohorts partition users") {
    val rows = EventAnalytics.cohortRetention(spark, sf).collect()
    // day 0 retention is exactly the cohort (first-seen day is active)
    rows.filter(_.getLong(1) == 0L).foreach { r =>
      assert(r.getLong(2) == r.getLong(3) && r.getDouble(4) == 1.0)
    }
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L)
      assert(r.getLong(2) <= r.getLong(3))
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
    val nUsers = table(spark, sf, "events").select("user_id").distinct().count()
    val cohortTotal = rows.filter(_.getLong(1) == 0L).map(_.getLong(3)).sum
    assert(cohortTotal == nUsers)
  }

  test("funnel and cohort_retention scan events exactly once; funnel plans no join") {
    def planOf(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    val fp = planOf(EventAnalytics.funnel(spark, sf))
    assert(fp.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"funnel must read the fact table once:\n${fp.take(1500)}")
    assert(!fp.contains("Join"), s"funnel is window-only, no joins:\n${fp.take(1500)}")
    val cp = planOf(EventAnalytics.cohortRetention(spark, sf))
    assert(cp.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"cohort_retention must read the fact table once:\n${cp.take(1500)}")
    assert(!cp.contains("Join"),
      s"cohort sizes come from a window on the triangle, not a join:\n${cp.take(1500)}")
    val rp = planOf(EventAnalytics.rollingStats(spark, sf))
    val read = rp.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("props") && !read.contains("event_id"),
      s"rolling_stats scan reads unused columns:\n$read")
  }

  test("rfm_segments scores match a driver-side cutpoint computation") {
    val orders = graft.drift.table(spark, sf, "orders")
      .groupBy("o_custkey").agg(
        max("o_orderdate").as("last"), count(lit(1)).as("f"),
        sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("m"))
      .collect().map { r =>
        val d = r.get(1) match {
          case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate.toEpochDay
          case l: java.time.LocalDateTime => l.toLocalDate.toEpochDay
        }
        (r.getLong(0), d, r.getLong(2), r.getDouble(3))
      }
    val maxDate = orders.map(_._2).max
    val rec = orders.map(o => (maxDate - o._2).toDouble) // datediff in calendar days
    def cut(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted; val h = (s.length - 1) * p
      val lo = s(h.toInt); lo + (h - h.toInt) * (s(math.ceil(h).toInt) - lo)
    }
    val fCut3 = cut(orders.map(_._3.toDouble), 0.8)
    val champions = orders.indices.count { i =>
      val rScore = 1 + Seq(0.2, 0.4, 0.6, 0.8).count(p => rec(i) < cut(rec, p))
      val fScore = 1 + Seq(0.2, 0.4, 0.6, 0.8).count(p => orders(i)._3 > cut(orders.map(_._3.toDouble), p))
      rScore >= 4 && fScore >= 4
    }
    val got = EventAnalytics.rfmSegments(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.sum == orders.length) // segments partition customers
    assert(got.getOrElse("champions", 0L) == champions)
    assert(fCut3 >= 1.0)
  }

  test("rfm_segments approx path yields a full partition with stable segment names") {
    val exact = EventAnalytics.rfmSegments(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = sketched(EventAnalytics.rfmSegments(spark, sf)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.values.sum == exact.values.sum)
    // cutpoints shift within sketch error; segment totals stay close
    exact.foreach { case (k, v) =>
      val a = approx.getOrElse(k, 0L)
      assert(math.abs(a - v) <= math.max(3L, v / 2), s"$k exact=$v approx=$a")
    }
  }

  test("active_users: DAU/WAU/stickiness match a driver-side recomputation") {
    val pairs = table(spark, sf, "events")
      .select(date_format(date_trunc("DAY", col("ts")), "yyyy-MM-dd").as("day"),
        datediff(date_trunc("DAY", col("ts")), lit("1970-01-01").cast("date")).as("d"),
        col("user_id"))
      .distinct().collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val got = EventAnalytics.activeUsers(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val days = pairs.map(p => (p._1, p._2)).distinct
    assert(got.size == days.length)
    days.foreach { case (day, idx) =>
      val dau = pairs.filter(_._2 == idx).map(_._3).distinct.length
      val wau = pairs.filter(p => p._2 >= idx - 6 && p._2 <= idx).map(_._3).distinct.length
      val r = got(day)
      assert(r.getLong(1) == dau, s"$day dau")
      assert(r.getLong(2) == wau, s"$day wau")
      assert(math.abs(r.getDouble(3) - dau.toDouble / wau) < 1e-5, s"$day stickiness")
      assert(r.getLong(1) <= r.getLong(2))
    }
  }

  test("active_users approx path tracks exact within HLL error") {
    val exact = EventAnalytics.activeUsers(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = EventAnalytics.activeUsers(spark, sf, approx = true).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (day, (d, w)) =>
      val (ad, aw) = approx(day)
      assert(math.abs(ad - d) <= math.max(2L, (d * 0.1).toLong), s"$day dau exact=$d approx=$ad")
      assert(math.abs(aw - w) <= math.max(2L, (w * 0.1).toLong), s"$day wau exact=$w approx=$aw")
    }
  }

  test("active_users and attribution plan one fact scan and no joins") {
    for (approx <- Seq(false, true)) {
      val p = EventAnalytics.activeUsers(spark, sf, approx).queryExecution.executedPlan.toString
      assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, s"approx=$approx:\n${p.take(1500)}")
      assert(!p.contains("Join"), s"approx=$approx windowed distinct must not join:\n${p.take(1500)}")
    }
    val ap = EventAnalytics.attribution(spark, sf).queryExecution.executedPlan.toString
    assert(ap.linesIterator.count(_.contains("Scan parquet")) == 1)
    assert(!ap.contains("Join"), s"attribution is window-only:\n${ap.take(1500)}")
  }

  test("attribution: last-touch crediting matches a driver-side replay") {
    val ev = table(spark, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._3, e._4))
      sorted.zipWithIndex.collect { case ((_, "purchase", _, _, v), i) =>
        val ch = sorted.take(i).reverse.find(_._2 != "purchase").map(_._2).getOrElse("direct")
        (ch, v)
      }
    }
    val wantCounts = want.groupBy(_._1).map { case (c, xs) => c -> xs.length }
    val wantRev = want.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
    val got = EventAnalytics.attribution(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet == wantCounts.keySet)
    got.foreach { r =>
      val c = r.getString(0)
      assert(r.getLong(1) == wantCounts(c), s"$c conversions")
      assert(math.abs(r.getDouble(2) - wantRev(c)) < 1e-3, s"$c revenue")
    }
    // shares are proper distributions
    assert(math.abs(got.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    assert(math.abs(got.map(_.getDouble(4)).sum - 1.0) < 1e-4)
    // purchases never self-credit
    assert(!got.map(_.getString(0)).contains("purchase"))
  }

  test("conversion_lag matches a driver-side first-view→first-purchase replay") {
    val ev = table(spark, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val lags = ev.groupBy(_._1).values.flatMap { es =>
      val t1 = es.filter(_._2 == "view").map(_._3).minOption
      t1.flatMap(v => es.filter(e => e._2 == "purchase" && e._3 > v).map(_._3).minOption
        .map(_ - v))
    }.toSeq.sorted
    val r = EventAnalytics.conversionLag(spark, sf).collect()(0)
    assert(r.getLong(0) == lags.length)
    assert(math.abs(r.getDouble(1) - lags.map(BigDecimal(_)).sum.toDouble / lags.length / 3.6e9) < 1e-5)
    def q(p: Double): Double = { // quantile_cont interpolation
      val h = (lags.length - 1) * p
      val lo = lags(h.toInt); (lo + (h - h.toInt) * (lags(math.ceil(h).toInt) - lo)) / 3.6e9
    }
    assert(math.abs(r.getDouble(2) - q(0.5)) < 1e-4, s"p50 got=${r.getDouble(2)} want=${q(0.5)}")
    assert(math.abs(r.getDouble(3) - q(0.9)) < 1e-4)
    assert(r.getDouble(4) == math.rint(lags.min / 3.6e9 * 1e6) / 1e6 ||
      math.abs(r.getDouble(4) - lags.min / 3.6e9) < 1e-5)
    assert(math.abs(r.getDouble(5) - lags.max / 3.6e9) < 1e-5)
    // approx path: the sketch returns a nearest-rank DATA point (no
    // interpolation), so pin it inside a rank window around the target
    // quantile rather than to a value distance
    val a = sketched(EventAnalytics.conversionLag(spark, sf)).collect()(0)
    assert(a.getLong(0) == r.getLong(0) && a.getDouble(1) == r.getDouble(1))
    assert(a.getDouble(2) >= q(0.4) && a.getDouble(2) <= q(0.6),
      s"approx p50 ${a.getDouble(2)} outside [${q(0.4)}, ${q(0.6)}]")
    assert(a.getDouble(3) >= q(0.82) && a.getDouble(3) <= q(0.98),
      s"approx p90 ${a.getDouble(3)} outside [${q(0.82)}, ${q(0.98)}]")
  }

  test("next_event_transitions: pair counts, row-normalization and gaps replay") {
    val ev = table(spark, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val pairs = ev.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._3, e._4))
      s.zip(s.tail).map { case (a, b) => ((a._2, b._2), b._3 - a._3) }
    }.toSeq
    val wantN = pairs.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val wantGap = pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum.toDouble / v.length / 1e6 }
    val got = EventAnalytics.nextEventTransitions(spark, sf).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet == wantN.keySet)
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == wantN(k), s"$k count")
      assert(math.abs(r.getDouble(4) - wantGap(k)) < 1e-4, s"$k gap")
    }
    // probabilities row-normalize per from_type
    got.groupBy(_.getString(0)).values.foreach { rows =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    }
  }

  test("volume_anomalies: trailing baseline excludes the current day and honors calendar gaps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("burst").toString
    // type 'a': stable 2-a-day Jan 1-7, then a 10x burst Jan 8; Jan 20 is
    // isolated after a gap (baseline must be empty, not the stale week)
    val rows = (1 to 7).flatMap(d => Seq.fill(2)(f"2024-01-0$d 10:00:00")) ++
      Seq.fill(20)("2024-01-08 10:00:00") ++ Seq("2024-01-20 10:00:00")
    rows.map(ts => (ts, "a", 1.0)).toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventAnalytics.volumeAnomalies(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val burst = got("2024-01-08")
    assert(burst.getLong(2) == 20 && burst.getLong(3) == 7)
    assert(math.abs(burst.getDouble(4) - 2.0) < 1e-9) // baseline mean 2/day
    assert(burst.isNullAt(5) || burst.getDouble(5) > 3.0 == burst.getBoolean(6))
    // constant baseline has zero spread on Jan 2-8 over days 1..k: spread 0
    // => z NULL; the burst day's baseline (all 2s) also has zero spread
    assert(burst.isNullAt(5) && !burst.getBoolean(6),
      "zero-spread baseline must yield NULL z, not a division blowup")
    val isolated = got("2024-01-20")
    assert(isolated.getLong(3) == 0, "gap day must see an EMPTY trailing window")
    assert(isolated.isNullAt(4) && isolated.isNullAt(5) && !isolated.getBoolean(6))
  }

  test("volume_anomalies flags a genuine burst against a varying baseline") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("burst2").toString
    // varying baseline 1..7 events/day, then a 50-event day
    val rows = (1 to 7).flatMap(d => Seq.fill(d)(f"2024-01-0$d 10:00:00")) ++
      Seq.fill(50)("2024-01-08 10:00:00")
    rows.map(ts => (ts, "a", 1.0)).toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventAnalytics.volumeAnomalies(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val burst = got("2024-01-08")
    val base = (1 to 7).map(_.toDouble)
    val mean = base.sum / base.length
    val std = math.sqrt(base.map(x => (x - mean) * (x - mean)).sum / (base.length - 1))
    assert(math.abs(burst.getDouble(5) - (50 - mean) / std) < 1e-4)
    assert(burst.getBoolean(6))
    assert(!got("2024-01-07").getBoolean(6), "an in-trend day must not flag")
  }

  test("revenue_concentration matches driver-side cutpoint shares") {
    val spend = table(spark, sf, "orders")
      .groupBy("o_custkey").agg(sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("s"))
      .collect().map(_.getDouble(1))
    def cut(p: Double): Double = {
      val s = spend.sorted; val h = (s.length - 1) * p
      val lo = s(h.toInt); lo + (h - h.toInt) * (s(math.ceil(h).toInt) - lo)
    }
    val total = spend.sum
    val r = EventAnalytics.revenueConcentration(spark, sf).collect()(0)
    assert(r.getLong(0) == spend.length)
    assert(math.abs(r.getDouble(1) - total) < 1e-3)
    assert(math.abs(r.getDouble(2) - spend.filter(_ > cut(0.99)).sum / total) < 1e-5)
    assert(math.abs(r.getDouble(3) - spend.filter(_ > cut(0.9)).sum / total) < 1e-5)
    assert(math.abs(r.getDouble(4) - cut(0.5)) < 1e-4)
    // concentration sanity: top slices are proper, ordered shares
    assert(r.getDouble(2) > 0 && r.getDouble(2) < r.getDouble(3) && r.getDouble(3) < 1.0)
    // approx path returns the same exact-sum fields
    val a = sketched(EventAnalytics.revenueConcentration(spark, sf)).collect()(0)
    assert(a.getLong(0) == r.getLong(0) && a.getDouble(1) == r.getDouble(1))
  }

  test("gap_fill densifies the calendar and carries the last observation forward") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("gapfill").toString
    Seq(("2024-01-01 10:00:00", "a", 2.0), ("2024-01-01 11:00:00", "a", 3.0),
      ("2024-01-04 10:00:00", "a", 7.0), ("2024-01-02 10:00:00", "b", 1.0))
      .toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventAnalytics.gapFill(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(0)) -> r).toMap
    // grid covers the GLOBAL span for every type: 4 days x 2 types
    assert(got.size == 8)
    assert(got(("a", "2024-01-01")).getLong(2) == 2 &&
      got(("a", "2024-01-01")).getDouble(3) == 5.0)
    // gap days: zero events, NULL raw sum, LOCF-filled value
    val gap = got(("a", "2024-01-02"))
    assert(gap.getLong(2) == 0 && gap.isNullAt(3) && gap.getDouble(4) == 5.0)
    assert(got(("a", "2024-01-04")).getDouble(4) == 7.0)
    // type b before its first observation: filled stays NULL
    assert(got(("b", "2024-01-01")).isNullAt(4))
    assert(got(("b", "2024-01-04")).getDouble(4) == 1.0)
  }

  test("time_weighted_value matches a driver-side piecewise integral") {
    val ev = table(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val got = EventAnalytics.timeWeightedValue(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    ev.groupBy(_._1).foreach { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3))
      val span = s.last._2 - s.head._2
      val r = got(u)
      assert(r.getLong(1) == es.length)
      if (span == 0) assert(r.isNullAt(3))
      else {
        val area = s.zip(s.tail).map { case (a, b) => BigDecimal(a._4) * BigDecimal(b._2 - a._2) }.sum
        assert(math.abs(r.getDouble(3) - (area / BigDecimal(span)).toDouble) < 1e-4, s"user $u twap")
        // twap lies within the observed value range
        assert(r.getDouble(3) >= es.map(_._4).min - 1e-6 && r.getDouble(3) <= es.map(_._4).max + 1e-6)
      }
    }
  }

  test("daily_trend recovers a planted linear series exactly and guards flat series") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("trend").toString
    // type 'a': y = 2 + 3*(day offset): 2, 5, 8, 11 events on Jan 1-4
    // type 'b': constant 4/day (slope 0, r2 NULL)
    val rows = (0 to 3).flatMap(d => Seq.fill(2 + 3 * d)((f"2024-01-0${d + 1} 10:00:00", "a", 1.0))) ++
      (0 to 3).flatMap(d => Seq.fill(4)((f"2024-01-0${d + 1} 10:00:00", "b", 1.0)))
    rows.toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventAnalytics.dailyTrend(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("a").getDouble(2) == 3.0, "planted slope")
    assert(got("a").getDouble(4) == 1.0, "perfect fit r2")
    assert(got("b").getDouble(2) == 0.0 && got("b").isNullAt(4),
      "flat series: slope 0 exact, r2 undefined")
    // intercept at x=0 (epoch) extrapolates the planted line: y = 2 + 3*(x - x0)
    val x0 = got("a").getDouble(3) // intercept = 2 - 3 * x0day... just check finite
    assert(!x0.isNaN)
  }

  test("daily_trend zero-fills gap days: a two-burst type is not a clean trend") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("trendgap").toString
    // 10 events on Jan 1, 20 on Jan 11, nothing between: on the censored
    // 2-point series this is r2=1 "growth"; on the true zero-filled series
    // the fit is poor (driver-side: slope 0.4545, r2 0.0543)
    val rows = Seq.fill(10)("2024-01-01 10:00:00") ++ Seq.fill(20)("2024-01-11 10:00:00")
    rows.map(ts => (ts, "c", 1.0)).toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = EventAnalytics.dailyTrend(spark, dir).collect()(0)
    assert(r.getLong(1) == 11, "the fit must span all 11 calendar days")
    assert(math.abs(r.getDouble(2) - 550.0 / 1210.0) < 1e-6)
    assert(r.getDouble(4) < 0.2, s"two bursts must not fit cleanly: r2=${r.getDouble(4)}")
  }

  test("new_vs_returning: first-seen day splits users; totals match DAU") {
    val got = EventAnalytics.newVsReturning(spark, sf).collect()
    val dau = EventAnalytics.activeUsers(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.map(r => r.getString(0)).toSet == dau.keySet)
    got.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == dau(r.getString(0)), s"${r.getString(0)} totals")
    }
    // day 1 is all-new; the user universe equals the sum of new users
    val sorted = got.sortBy(_.getString(0))
    assert(sorted.head.getLong(2) == 0 && sorted.head.getDouble(3) == 1.0)
    val nUsers = table(spark, sf, "events").select("user_id").distinct().count()
    assert(got.map(_.getLong(1)).sum == nUsers)
  }

  test("cohort_ltv: cumulative revenue is monotone and totals reconcile") {
    val rows = EventAnalytics.cohortLtv(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).values.foreach { curve =>
      val byOff = curve.sortBy(_.getLong(1))
      // cumulative is monotone nondecreasing and consistent with daily
      byOff.zip(byOff.tail).foreach { case (a, b) =>
        assert(b.getDouble(4) >= a.getDouble(4))
        assert(math.abs(b.getDouble(4) - (a.getDouble(4) + b.getDouble(3))) < 1e-4)
      }
      // ltv = cum / size everywhere
      byOff.foreach { r =>
        assert(math.abs(r.getDouble(5) - r.getDouble(4) / r.getLong(2)) < 1e-5)
      }
    }
    // total revenue across all curves' daily cells equals all purchase value
    val total = rows.map(_.getDouble(3)).sum
    val want = table(spark, sf, "events").filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(18,4)")).cast("double")).collect()(0).getDouble(0)
    assert(math.abs(total - want) < 1e-3)
    // cohort sizes agree with cohort_retention's
    val ret = EventAnalytics.cohortRetention(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    rows.foreach(r => assert(r.getLong(2) == ret(r.getString(0))))
  }

  test("funnel steps are ordered and counts monotone nonincreasing") {
    val r = EventAnalytics.funnel(spark, sf).collect()(0)
    val Seq(nUsers, nView, nClick, nPurchase) = (0 to 3).map(r.getLong)
    assert(nView <= nUsers && nClick <= nView && nPurchase <= nClick)
    assert(nView > 0) // fixture has views
    // independent recomputation of step 2 (first click after first view)
    val ev = table(spark, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val firstView = ev.filter(_._2 == "view").groupBy(_._1).map { case (u, es) => u -> es.map(_._3).min }
    val wantClick = ev.filter(_._2 == "click")
      .filter(e => firstView.get(e._1).exists(t1 => e._3 > t1))
      .map(_._1).distinct.length
    assert(nClick == wantClick)
  }
}
