package graft

import org.apache.spark.sql.functions._
import graft.plans.SketchModeRewrite
import graft.plans.SketchModeRewrite.during

/** Session-wide sketch mode: the optimizer rule that flips exact
  * percentile / COUNT(DISTINCT) to their mergeable sketches under
  * `spark.graft.sketchMode=true`. */
class SketchModeSpec extends SparkSpec {
  import spark.implicits._

  private val df = (1 to 1000).map(i => (i.toDouble, i % 97)).toDF("x", "k")

  test("flag off: plans and results are untouched") {
    during(spark) {
      spark.conf.set(SketchModeRewrite.ConfKey, "false")
      val plan = df.agg(expr("percentile(x, 0.5e0) AS p"),
        countDistinct("k").as("d")).queryExecution.executedPlan.toString
      assert(plan.contains("percentile(") && !plan.contains("approx_percentile"))
      assert(!plan.toLowerCase.contains("hyperloglog") && !plan.contains("approx_count_distinct"))
    }
  }

  test("flag on: percentile becomes the sketch, result within accuracy") {
    during(spark) {
      val q = df.agg(expr("percentile(x, 0.5e0) AS p"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("approx_percentile") || plan.contains("percentile_approx"),
        s"exact percentile survived sketch mode:\n${plan.take(1500)}")
      val p = q.collect()(0).getDouble(0)
      assert(math.abs(p - 500.5) <= 10.0, s"median sketch too far: $p")
    }
  }

  test("flag on: single-column COUNT(DISTINCT) becomes HLL, no Expand") {
    during(spark) {
      val q = df.agg(countDistinct("k").as("d"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("approx_count_distinct") || plan.toLowerCase.contains("hyperloglog"),
        s"exact distinct survived sketch mode:\n${plan.take(1500)}")
      // the point of the rewrite: the distinct's Expand shuffle is gone
      assert(!plan.contains("Expand"),
        s"sketch mode left the distinct Expand in the plan:\n${plan.take(1500)}")
      val d = q.collect()(0).getLong(0)
      assert(math.abs(d - 97L) <= 5L, s"HLL count too far: $d")
    }
  }

  test("guards: long-typed percentile and multi-column distinct are left exact") {
    during(spark) {
      // ApproximatePercentile on a LONG child returns LONG (nearest rank) —
      // a schema change the rule must refuse
      val lp = spark.range(100).agg(expr("percentile(id, 0.5e0) AS p"))
      assert(lp.queryExecution.executedPlan.toString.contains("percentile("))
      assert(lp.collect()(0).getDouble(0) == 49.5) // still exact interpolated
      val md = df.agg(countDistinct(col("x"), col("k")).as("d"))
      val plan = md.queryExecution.executedPlan.toString
      assert(!plan.contains("approx_count_distinct") && !plan.toLowerCase.contains("hyperloglog"))
      assert(md.collect()(0).getLong(0) == 1000L)
    }
  }

  test("sketch mode leaves DECIMAL sums and plain aggregates untouched") {
    during(spark) {
      val r = df.agg(sum($"x".cast("decimal(18,4)")).as("s"), count(lit(1)).as("n")).collect()(0)
      assert(r.getDecimal(0).doubleValue() == 500500.0 && r.getLong(1) == 1000L)
    }
  }

  test("during restores the session's rules and sketch-mode setting, also on failure") {
    val rules = spark.experimental.extraOptimizations
    intercept[IllegalStateException](during(spark) {
      assert(spark.conf.get(SketchModeRewrite.ConfKey) == "true")
      assert(spark.experimental.extraOptimizations.contains(SketchModeRewrite))
      throw new IllegalStateException("body failed")
    })
    assert(spark.conf.getOption(SketchModeRewrite.ConfKey).isEmpty)
    assert(spark.experimental.extraOptimizations == rules)
    spark.conf.set(SketchModeRewrite.ConfKey, "false")
    try during(spark)(())
    finally assert(spark.conf.get(SketchModeRewrite.ConfKey) == "false")
    spark.conf.unset(SketchModeRewrite.ConfKey)
  }

  test("several DISTINCT children: only the analyzed-plan rewrite reaches them") {
    // Spark lowers several distinct aggregates to an Expand before the
    // user-optimizer batch, so the rule never sees them as distinct counts
    val q = df.agg(countDistinct("x").as("dx"), countDistinct("k").as("dk"))
    def sketches(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.expressions.exists(_.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus])) ||
        p.children.exists(sketches)
    during(spark) {
      assert(!sketches(q.queryExecution.optimizedPlan))
      assert(sketches(SketchModeRewrite.sketchedIfOn(q).queryExecution.optimizedPlan))
    }
    assert(SketchModeRewrite.sketchedIfOn(q) eq q)
    val r = SketchModeRewrite.sketched(q).collect()(0)
    // HLL's 5% relative error, 3 sigma
    assert(math.abs(r.getLong(0) - 1000L) <= 150L && math.abs(r.getLong(1) - 97L) <= 15L)
  }
}
