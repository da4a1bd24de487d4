package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.drift.{table, pr6Sql}

/** Declarative data-validation suite (the Deequ/dbt-test shape): a list of
  * typed constraints — completeness, (multi-column) uniqueness, numeric
  * range, accepted values, referential integrity — compiled into as few
  * Spark jobs as possible and reported as one uniform frame:
  * (check_name, table_name, n_ok, n_rows, metric, threshold, passed).
  * This is the ingestion gate a training pipeline runs BEFORE the drift
  * detector: drift compares two healthy snapshots, constraints decide
  * whether a snapshot is healthy at all.
  *
  * Scale shape: every aggregate constraint on the same table folds into ONE
  * global aggregation over ONE scan (a `stack` fans the per-constraint
  * numerators back out to rows — the topk_entropy pattern), so the suite
  * costs one scan per distinct table plus one key join per foreign-key
  * constraint (child keys vs DISTINCT parent keys; Spark/AQE broadcasts the
  * parent side when it is small). Nothing is collected to the driver.
  *
  * Semantics: range/accepted-value checks count NULL as a violation (use a
  * completeness constraint to express a NULL policy); foreign-key checks
  * skip NULL child keys (SQL FK semantics). Empty tables pass vacuously
  * (metric 1.0). All numerators/denominators are exact integers; the
  * metric is their shared-text ratio through [[graft.drift.pr6Sql]], so
  * the DuckDB oracle reproduces every row bit-for-bit.
  */
object Constraints extends graft.OperatorModule {

  sealed trait Constraint {
    def name: String
    def table: String
    def threshold: Double
  }
  /** Fraction of non-NULL values in `column` must reach `threshold`. */
  final case class Complete(name: String, table: String, column: String,
      threshold: Double) extends Constraint
  /** DISTINCT-tuple count over `columns` / row count must reach `threshold`
    * (1.0 = a true key). The bench/scale path estimates the distinct count
    * with a fixed-size HLL sketch. */
  final case class Unique(name: String, table: String, columns: Seq[String],
      threshold: Double = 1.0) extends Constraint
  /** Fraction of rows with `lo <= column <= hi` (either bound optional). */
  final case class InRange(name: String, table: String, column: String,
      lo: Option[Double], hi: Option[Double],
      threshold: Double = 1.0) extends Constraint
  /** Fraction of rows whose `column` is one of `values`. */
  final case class Accepted(name: String, table: String, column: String,
      values: Seq[String], threshold: Double = 1.0) extends Constraint
  /** Fraction of child rows (with a non-NULL key) that match a parent key. */
  final case class ForeignKey(name: String, table: String, column: String,
      refTable: String, refColumn: String,
      threshold: Double = 1.0) extends Constraint
  /** Functional dependency lhs → rhs: COUNT(DISTINCT lhs) /
    * COUNT(DISTINCT lhs ∪ rhs) — 1.0 iff every lhs tuple maps to exactly
    * one rhs tuple (the FD-discovery ratio). */
  final case class FunctionalDependency(name: String, table: String,
      lhs: Seq[String], rhs: Seq[String],
      threshold: Double = 1.0) extends Constraint

  /** The shipped suite over the fixture tables. c03 fails by design on the
    * synthetic data — (l_orderkey, l_linenumber) is NOT a key there — so
    * the report demonstrates detection, not just green rows. */
  val defaultSuite: Seq[Constraint] = Seq(
    Complete("c01_complete_doc_text", "documents", "text", 0.999),
    Unique("c02_unique_doc_id", "documents", Seq("doc_id")),
    Unique("c03_unique_lineitem_line", "lineitem", Seq("l_orderkey", "l_linenumber")),
    InRange("c04_range_quantity", "lineitem", "l_quantity", Some(1.0), Some(50.0)),
    InRange("c05_range_discount", "lineitem", "l_discount", Some(0.0), Some(0.1)),
    InRange("c06_nonneg_price", "lineitem", "l_extendedprice", Some(0.0), None),
    Accepted("c07_accepted_orderstatus", "orders", "o_orderstatus", Seq("F", "O", "P")),
    ForeignKey("c08_fk_orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ForeignKey("c09_fk_lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    Complete("c10_complete_event_user", "events", "user_id", 0.999),
    // holds on the fixture (nationkey is a key)
    FunctionalDependency("c11_fd_nation_region", "nation",
      Seq("n_nationkey"), Seq("n_regionkey")),
    // fails by design: a part is served by many suppliers (~0.04)
    FunctionalDependency("c12_fd_part_supplier", "lineitem",
      Seq("l_partkey"), Seq("l_suppkey")),
  )

  /** Double literal as identical SQL text for both engines. */
  private[graft] def dlit(d: Double): String = d.toString + "e0"

  /** Per-ROW 0/1 indicator for the row-local constraint kinds — the shared
    * core of the batch numerators and the streaming monitor's stateless
    * projection. Unique/ForeignKey have no row-local form (they need the
    * corpus) and return None. */
  private[graft] def indicatorExpr(c: Constraint): Option[String] = c match {
    case Complete(_, _, col, _) =>
      Some(s"CASE WHEN $col IS NOT NULL THEN 1 ELSE 0 END")
    case InRange(_, _, col, lo, hi, _) =>
      val conds = lo.map(v => s"$col >= ${dlit(v)}").toSeq ++
        hi.map(v => s"$col <= ${dlit(v)}").toSeq
      Some(s"CASE WHEN ${conds.mkString(" AND ")} THEN 1 ELSE 0 END")
    case Accepted(_, _, col, vs, _) =>
      Some(s"CASE WHEN $col IN ${vs.map(v => s"'$v'").mkString("(", ", ", ")")} THEN 1 ELSE 0 END")
    case _ => None
  }

  /** Shared ratio + final projection text (Spark ≡ DuckDB). */
  private val ratioExpr =
    "CASE WHEN n_total = 0 THEN 1e0 ELSE CAST(num AS DOUBLE) / CAST(n_total AS DOUBLE) END"
  private val constraintFinal: Seq[String] = Seq(
    "check_name", "table_name",
    "CAST(num AS BIGINT) AS n_ok", "CAST(n_total AS BIGINT) AS n_rows",
    pr6Sql(ratioExpr) + " AS metric", "threshold",
    s"${pr6Sql(ratioExpr)} >= threshold AS passed")

  /** Numerator expression for an aggregate (non-FK) constraint;
    * `distinctCount` spells one engine's count of distinct tuples. */
  private def numExpr(c: Constraint, distinctCount: Seq[String] => String): String = c match {
    case Unique(_, _, cols, _) => distinctCount(cols)
    case FunctionalDependency(_, _, lhs, _, _) => distinctCount(lhs)
    case _: ForeignKey => sys.error("FK constraints compile to a join, not an aggregate")
    case _ => s"SUM(${indicatorExpr(c).get})"
  }

  /** Per-constraint denominator when it is not the table's row count —
    * only the FD ratio divides by COUNT(DISTINCT lhs ∪ rhs). */
  private def denomExpr(c: Constraint,
      distinctCount: Seq[String] => String): Option[String] = c match {
    case FunctionalDependency(_, _, lhs, rhs, _) => Some(distinctCount(lhs ++ rhs))
    case _ => None
  }

  /** Run `suite` against the tables under `dir`. */
  def constraintCheck(spark: SparkSession, dir: String,
      suite: Seq[Constraint] = defaultSuite,
      approx: Boolean = false): DataFrame = {
    require(suite.nonEmpty, "empty constraint suite")
    // `approx` swaps exact COUNT(DISTINCT) for the HLL sketch (Spark side
    // only — the oracle stays exact); a multi-column sketch structs the
    // tuple (a bare second argument would parse as the relativeSD)
    val distinctCount: Seq[String] => String = cols =>
      if (approx) s"approx_count_distinct(${
        if (cols.size == 1) cols.head else cols.mkString("struct(", ", ", ")")})"
      else s"COUNT(DISTINCT ${cols.mkString(", ")})"
    val (fks, aggs) = suite.partition(_.isInstanceOf[ForeignKey])
    // one scan + one global aggregation per distinct table
    val aggFrames = aggs.groupBy(_.table).toSeq.map { case (t, cs) =>
      val aggCols = cs.map(c =>
        expr(numExpr(c, distinctCount)).as(s"num_${c.name}")) ++
        cs.flatMap(c => denomExpr(c, distinctCount)
          .map(e => expr(e).as(s"den_${c.name}"))) :+
        count(lit(1)).as("row_count")
      val rows = cs.map { c =>
        val den = if (denomExpr(c, distinctCount).isDefined)
          s"den_${c.name}" else "row_count"
        s"'${c.name}', '${c.table}', num_${c.name}, $den, CAST(${dlit(c.threshold)} AS DOUBLE)"
      }.mkString(", ")
      table(spark, dir, t).agg(aggCols.head, aggCols.tail: _*)
        .selectExpr(s"stack(${cs.size}, $rows) AS (check_name, table_name, num, n_total, threshold)")
    }
    val fkFrames = fks.collect { case c: ForeignKey =>
      val parent = table(spark, dir, c.refTable)
        .select(col(c.refColumn).as("k")).distinct.withColumn("hit", lit(1))
      table(spark, dir, c.table)
        .select(col(c.column).as("k")).filter(col("k").isNotNull)
        .join(parent, Seq("k"), "left")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("hit").isNull, 0L).otherwise(1L)).as("num"))
        .select(lit(c.name).as("check_name"), lit(c.table).as("table_name"),
          col("num"), expr(s"CAST(${dlit(c.threshold)} AS DOUBLE)").as("threshold"),
          col("n_total"))
    }
    (aggFrames ++ fkFrames).reduce(_ unionByName _)
      .selectExpr(constraintFinal: _*)
      .orderBy("check_name")
  }

  /** DuckDB twin of [[constraintCheck]] over [[defaultSuite]]: one subselect
    * per constraint (the oracle optimizes for sameness, not scan count),
    * identical ratio/threshold/decision text. */
  def constraintCheckSql: String = {
    val branches = defaultSuite.map {
      case c: ForeignKey =>
        s"SELECT '${c.name}' AS check_name, '${c.table}' AS table_name, num, " +
          s"CAST(${dlit(c.threshold)} AS DOUBLE) AS threshold, n_total FROM " +
          "(SELECT COUNT(*) AS n_total, SUM(CASE WHEN p.k IS NULL THEN 0 ELSE 1 END) AS num " +
          s"FROM (SELECT ${c.column} AS k FROM ${c.table} WHERE ${c.column} IS NOT NULL) ch " +
          s"LEFT JOIN (SELECT DISTINCT ${c.refColumn} AS k FROM ${c.refTable}) p ON ch.k = p.k) t"
      case c =>
        val dc: Seq[String] => String = cols => s"COUNT(DISTINCT ${
          if (cols.size == 1) cols.head else cols.mkString("(", ", ", ")")})"
        val num = numExpr(c, dc)
        val den = denomExpr(c, dc).getOrElse("COUNT(*)")
        s"SELECT '${c.name}' AS check_name, '${c.table}' AS table_name, $num AS num, " +
          s"CAST(${dlit(c.threshold)} AS DOUBLE) AS threshold, $den AS n_total FROM ${c.table}"
    }
    s"SELECT ${constraintFinal.mkString(", ")} FROM " +
      s"(${branches.mkString(" UNION ALL ")}) u ORDER BY check_name"
  }

  /** Violating keys sampled per violation-addressable constraint. */
  val ViolationTopN = 10

  /** Drill-down for the suite's failures: the top-[[ViolationTopN]]
    * offending keys for every Unique (duplicated tuples, by multiplicity)
    * and ForeignKey (orphan child keys, by row count) constraint — the rows
    * an on-call engineer actually opens when [[constraintCheck]] goes red.
    * Aggregate-only kinds (completeness/range/accepted) have no key to
    * report and are skipped. Key columns render through CAST(… AS STRING)
    * joined with '|' — integer/string keys only (a double key would render
    * differently across engines).
    *
    * Scale shape: per constraint one partial-agg'd groupBy on the key plus
    * a TakeOrderedAndProject top-N — never a global sort; FK orphans reuse
    * the DISTINCT-parent left join. */
  def constraintViolations(spark: SparkSession, dir: String,
      suite: Seq[Constraint] = defaultSuite): DataFrame = {
    val branches = suite.collect {
      case c: Unique =>
        val keyRepr = concat_ws("|", c.columns.map(col(_).cast("string")): _*)
        table(spark, dir, c.table)
          .groupBy(c.columns.map(col): _*).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
          .select(lit(c.name).as("check_name"), keyRepr.as("key_repr"), col("n"))
          .orderBy(col("n").desc, col("key_repr")).limit(ViolationTopN)
      case c: ForeignKey =>
        val parent = table(spark, dir, c.refTable)
          .select(col(c.refColumn).as("k")).distinct.withColumn("hit", lit(1))
        table(spark, dir, c.table)
          .select(col(c.column).as("k")).filter(col("k").isNotNull)
          .join(parent, Seq("k"), "left").filter(col("hit").isNull)
          .groupBy("k").agg(count(lit(1)).as("n"))
          .select(lit(c.name).as("check_name"),
            col("k").cast("string").as("key_repr"), col("n"))
          .orderBy(col("n").desc, col("key_repr")).limit(ViolationTopN)
      case c: FunctionalDependency =>
        // lhs tuples bound to more than one rhs tuple, by rhs multiplicity
        val keyRepr = concat_ws("|", c.lhs.map(col(_).cast("string")): _*)
        table(spark, dir, c.table)
          .groupBy(c.lhs.map(col): _*)
          .agg(countDistinct(c.rhs.head, c.rhs.tail: _*).as("n"))
          .filter(col("n") > 1)
          .select(lit(c.name).as("check_name"), keyRepr.as("key_repr"), col("n"))
          .orderBy(col("n").desc, col("key_repr")).limit(ViolationTopN)
    }
    require(branches.nonEmpty, "suite has no Unique/ForeignKey constraints")
    branches.reduce(_ unionByName _)
      .orderBy(col("check_name"), col("n").desc, col("key_repr"))
  }

  /** DuckDB twin of [[constraintViolations]] over [[defaultSuite]]. */
  def constraintViolationsSql: String = {
    val branches = defaultSuite.collect {
      case c: Unique =>
        val keyRepr = c.columns.map(k => s"CAST($k AS STRING)")
          .mkString("CONCAT_WS('|', ", ", ", ")")
        s"(SELECT '${c.name}' AS check_name, $keyRepr AS key_repr, COUNT(*) AS n " +
          s"FROM ${c.table} GROUP BY ${c.columns.mkString(", ")} HAVING COUNT(*) > 1 " +
          s"ORDER BY n DESC, key_repr LIMIT $ViolationTopN)"
      case c: ForeignKey =>
        s"(SELECT '${c.name}' AS check_name, CAST(ch.k AS STRING) AS key_repr, COUNT(*) AS n " +
          s"FROM (SELECT ${c.column} AS k FROM ${c.table} WHERE ${c.column} IS NOT NULL) ch " +
          s"LEFT JOIN (SELECT DISTINCT ${c.refColumn} AS k FROM ${c.refTable}) p ON ch.k = p.k " +
          s"WHERE p.k IS NULL GROUP BY ch.k " +
          s"ORDER BY n DESC, key_repr LIMIT $ViolationTopN)"
      case c: FunctionalDependency =>
        val keyRepr = c.lhs.map(k => s"CAST($k AS STRING)")
          .mkString("CONCAT_WS('|', ", ", ", ")")
        val rhsTuple =
          if (c.rhs.size == 1) c.rhs.head else c.rhs.mkString("(", ", ", ")")
        s"(SELECT '${c.name}' AS check_name, $keyRepr AS key_repr, " +
          s"COUNT(DISTINCT $rhsTuple) AS n " +
          s"FROM ${c.table} GROUP BY ${c.lhs.mkString(", ")} HAVING COUNT(DISTINCT $rhsTuple) > 1 " +
          s"ORDER BY n DESC, key_repr LIMIT $ViolationTopN)"
    }
    s"SELECT check_name, key_repr, n FROM (${branches.mkString(" UNION ALL ")}) u " +
      "ORDER BY check_name, n DESC, key_repr"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "constraint_check" -> ((s, d) => constraintCheck(s, d)),
    "constraint_violations" -> ((s, d) => constraintViolations(s, d)))

  def oracles: Map[String, String] = Map(
    "constraint_check" -> constraintCheckSql,
    "constraint_violations" -> constraintViolationsSql)
}
