package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** The one `private[sql]`-crossing shim in the library (the standard
  * extension-library pattern — Spark's Column↔Expression converters are
  * `private[sql]` in 4.x, and custom Catalyst expressions need exactly
  * these two hops plus function registration; rebuilding a frame from a
  * rewritten logical plan is the third). Everything else lives in
  * `graft.*` against public APIs; keep this file the complete inventory of
  * internal surface so upgrades audit one place.
  */
object Bridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame over an already-analyzed logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)

  /** Registers a SQL function builder on an existing session (idempotent —
    * re-registration replaces). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
}
