package graft

import graft.drift._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Each gate query of a family that `detectDrift` runs is that family's pair
  * function applied to every table split: the gate rows of one table equal,
  * row for row, the pair function over that table's (ref, curr) halves with
  * the table name as label. This ties the product path to the gate texts the
  * DuckDB oracle checks. */
class GateFamilySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  /** The rare-value band (freq ≤ 0.0005) first has members at sf0.01. */
  private val rareDir = "/root/testdata/sf0.01"

  /** The two halves of a table split, with withSide's NULL-predicate rule:
    * predicate true → ref, false or NULL → curr. */
  private def halves(tableName: String, ref: Column, dir: String = dir): (DataFrame, DataFrame) = {
    val t = table(spark, dir, tableName)
    (t.filter(ref), t.filter(!coalesce(ref, lit(false))))
  }

  /** The gate's rows of one table equal the pair function's; a table may
    * have none (the rare-value bands are empty on some tables at this scale),
    * so each test also requires the gate as a whole to have rows. */
  private def assertSameRows(gate: DataFrame, tableName: String, pair: DataFrame): Unit = {
    val g = gate.filter(col("table_name") === tableName).collect().toSeq
    val p = pair.collect().toSeq
    assert(g == p, s"$tableName:\ngate ${g.mkString("\n     ")}\npair ${p.mkString("\n     ")}")
  }

  test("categorical_drift equals categoricalDriftForPair on every split") {
    val gate = CategoricalDrift.categoricalDrift(spark, dir)
    assert(gate.count() > 0)
    splits.categorical.foreach { sp =>
      val (ref, curr) = halves(sp.tableName, sp.ref)
      assertSameRows(gate, sp.tableName,
        CategoricalDrift.categoricalDriftForPair(ref, curr, sp.cols, label = sp.tableName))
    }
  }

  test("js_full equals jsFullForPair on every split") {
    val gate = CategoricalDrift.jsFull(spark, dir)
    assert(gate.count() > 0)
    splits.categorical.foreach { sp =>
      val (ref, curr) = halves(sp.tableName, sp.ref)
      assertSameRows(gate, sp.tableName,
        CategoricalDrift.jsFullForPair(ref, curr, sp.cols, label = sp.tableName))
    }
  }

  test("rare_value_changes equals rareValueChangesForPair on every rare column") {
    val gate = CategoricalDrift.rareValueChanges(spark, rareDir)
    assert(gate.count() > 0)
    CategoricalDrift.rareCols.foreach { case (sp, c, thr) =>
      val (ref, curr) = halves(sp.tableName, sp.ref, rareDir)
      assertSameRows(gate, sp.tableName,
        CategoricalDrift.rareValueChangesForPair(ref, curr, Seq(c), label = sp.tableName, thr = thr))
    }
  }

  test("rare_categories equals rareCategoriesForPair on every rare column") {
    val gate = CategoricalDrift.rareCategories(spark, dir)
    assert(gate.count() > 0)
    CategoricalDrift.rareCols.foreach { case (sp, c, _) =>
      val (ref, curr) = halves(sp.tableName, sp.ref)
      assertSameRows(gate, sp.tableName,
        CategoricalDrift.rareCategoriesForPair(ref, curr, Seq(c), label = sp.tableName))
    }
  }

  test("group_drift equals verdictForPair on every spec") {
    val gate = GroupDrift.groupDriftVerdict(spark, dir)
    assert(gate.count() > 0)
    GroupDrift.specs.foreach { sp =>
      val (ref, curr) = halves(sp.tableName, sp.ref)
      assertSameRows(gate, sp.tableName, GroupDrift.verdictForPair(ref, curr, Seq(sp.dim),
        sp.numMetrics, sp.catMetrics).withColumn("table_name", lit(sp.tableName)))
    }
  }
}
