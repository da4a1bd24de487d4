package graft

import org.apache.spark.sql.functions._
import graft.drift.{splits, table, withSide, RobustDrift}
import graft.plans.SketchModeRewrite.sketched

/** MAD outlier drift and mutual-information association drift, checked
  * against independent driver-side computations on the real fixture. */
class RobustDriftSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def exactMedian(xs: Array[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  test("mad_outliers matches a driver-side median/MAD computation") {
    val rows = RobustDrift.madOutliers(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val vals = withSide(table(spark, sf, "lineitem"), splits.lineitemRef)
      .select("side", "l_quantity").collect()
    val ref = vals.filter(_.getString(0) == "ref").map(_.getDouble(1))
    val curr = vals.filter(_.getString(0) == "curr").map(_.getDouble(1))
    val med = exactMedian(ref)
    val mad = exactMedian(ref.map(x => math.abs(x - med)))
    val thr = (RobustDrift.MadK * 1.4826) * mad
    val r = rows(("lineitem", "l_quantity"))
    assert(math.abs(r.getDouble(2) - med) < 1e-6) // ref_median
    assert(math.abs(r.getDouble(3) - mad) < 1e-6) // ref_mad
    assert(r.getLong(4) == ref.length && r.getLong(6) == curr.length)
    assert(r.getLong(5) == ref.count(x => math.abs(x - med) > thr))
    assert(r.getLong(7) == curr.count(x => math.abs(x - med) > thr))
  }

  test("mad_outliers approx path tracks the exact rates") {
    val exact = RobustDrift.madOutliers(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(8)).toMap
    val approx = sketched(RobustDrift.madOutliers(spark, sf)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(8)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, v) =>
      assert(math.abs(v - approx(k)) < 0.02, s"$k exact=$v approx=${approx(k)}")
    }
  }

  test("mutual_info matches a driver-side MI over the joint counts") {
    val got = RobustDrift.mutualInfo(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val cnts = withSide(table(spark, sf, "lineitem"), splits.lineitemRef)
      .groupBy("side", "l_returnflag", "l_linestatus").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    def miOf(side: String): Double = {
      val joint = cnts.collect { case ((s, x, y), c) if s == side => (x, y) -> c }
      val n = joint.map(_._2).sum.toDouble
      val px = joint.groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2).sum / n }
      val py = joint.groupBy(_._1._2).map { case (k, v) => k -> v.map(_._2).sum / n }
      joint.map { case ((x, y), c) =>
        val p = c / n; p * math.log(p / (px(x) * py(y)))
      }.sum
    }
    val r = got("lineitem")
    assert(math.abs(r.getDouble(3) - miOf("ref")) < 1e-6)
    assert(math.abs(r.getDouble(4) - miOf("curr")) < 1e-6)
    // NMI bounded and nonnegative MI (within rounding noise)
    got.values.foreach { row =>
      assert(row.getDouble(3) > -1e-6 && row.getDouble(4) > -1e-6)
      assert(row.getDouble(5) >= 0.0 && row.getDouble(5) <= 1.0)
      assert(row.getDouble(6) >= 0.0 && row.getDouble(6) <= 1.0)
    }
  }

  test("mad_outliers plans broadcast stat joins, never a shuffled fit join") {
    val plan = RobustDrift.madOutliers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"fitted stats should ride broadcast:\n${plan.take(2000)}")
  }
}
