package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, ApproximatePercentile, Count, HyperLogLogPlusPlus, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.DoubleType

/** Sketch mode: the library's one exact-to-sketch switch. It flips the two
  * aggregate shapes that die at 100 TB — exact `percentile` (buffers every
  * value per aggregation buffer) and `COUNT(DISTINCT x)` (an N-way Expand
  * shuffle of the raw distinct universe) — to their fixed-size mergeable
  * sketches: `percentile_approx` at [[graft.drift.SketchAccuracy]] and
  * HyperLogLog++ at its default 5% relative error. Operators are written
  * once, in their exact form, which is what the DuckDB oracle reproduces.
  *
  * Three entry points share the one [[rewrite]]:
  *  - the optimizer rule ([[apply]]), gated per query on [[ConfKey]]: a
  *    deployment registers it (`graft.functions.GraftExtensions`) and sets
  *    one config on the big cluster. OFF by default — the rewrite changes
  *    results (within sketch error), so it must be an explicit decision;
  *  - [[sketched]] rewrites one frame's analyzed plan whatever the config
  *    (the lazy plan a caller runs later);
  *  - [[during]] turns the rule on for a block (the aggregates a call
  *    collects eagerly, such as a percentile fit it replays as literals).
  *
  * Guards (each keeps the rewrite type- and semantics-safe):
  *  - percentile: only DOUBLE-typed children (ApproximatePercentile
  *    returns the CHILD type — nearest-rank — while exact Percentile
  *    always returns interpolated DOUBLE; on a long child the rewrite
  *    would change the resolved schema), only unit frequency, only
  *    forward direction, and only foldable percentage expressions.
  *    Operators that fit integral values cast them to DOUBLE first,
  *    which leaves the exact result unchanged.
  *  - count-distinct: only single-argument COUNT(DISTINCT x); the
  *    rewritten HLL aggregate keeps the LongType result. Multi-column
  *    distincts and DISTINCT under other aggregates are left alone.
  *
  * Reach: the rule runs in the user-optimizer batch, after Spark has
  * already rewritten an aggregate with several DISTINCT children into an
  * Expand. Such an aggregate is only reachable from its analyzed plan,
  * through [[sketched]] or, for one collected eagerly, [[sketchedIfOn]].
  */
object SketchModeRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.sketchMode"

  // Config parsing is validated HERE with errors naming the conf key: a
  // malformed value would otherwise throw from inside the optimizer on
  // every query in the session.
  private def enabled(raw: String): Boolean =
    raw.trim.toLowerCase match {
      case "true" | "1" | "yes" => true
      case "false" | "0" | "no" | "" => false
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be true or false, got '$other'")
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (enabled(conf.getConfString(ConfKey, "false"))) rewrite(plan) else plan

  /** The exact-to-sketch transform, ungated. */
  def rewrite(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ae @ AggregateExpression(
          p @ Percentile(child, percentage, Literal(1L, _), _, _, reverse), _, false, _, _)
          if !reverse && child.dataType == DoubleType && percentage.foldable &&
            p.resolved =>
        val approx = ApproximatePercentile(
          child, percentage, Literal(graft.drift.SketchAccuracy), 0, 0)
        if (approx.dataType == p.dataType) ae.copy(aggregateFunction = approx) else ae
      case ae @ AggregateExpression(Count(Seq(child)), _, true, _, _) =>
        ae.copy(aggregateFunction = HyperLogLogPlusPlus(child), isDistinct = false)
    }

  /** `df` with its sketchable aggregates rewritten, whatever the config. */
  def sketched(df: DataFrame): DataFrame =
    Bridge.ofRows(df.sparkSession, rewrite(df.queryExecution.analyzed))

  /** [[sketched]] when the session's sketch mode is on, else `df`: for an
    * eagerly collected aggregate the rule cannot reach (see Reach above). */
  def sketchedIfOn(df: DataFrame): DataFrame =
    if (enabled(df.sparkSession.conf.get(ConfKey, "false"))) sketched(df) else df

  /** Runs `body` with the rule registered and sketch mode on, then restores
    * both. For the bench and tests: it changes session state, so it is
    * not safe against other threads using the session meanwhile. */
  def during[T](spark: SparkSession)(body: => T): T = {
    val rules = spark.experimental.extraOptimizations
    val prior = spark.conf.getOption(ConfKey)
    spark.experimental.extraOptimizations = rules :+ this
    spark.conf.set(ConfKey, "true")
    try body
    finally {
      prior.fold(spark.conf.unset(ConfKey))(spark.conf.set(ConfKey, _))
      spark.experimental.extraOptimizations = rules
    }
  }
}
