package graft

import graft.drift._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Each gate query of a family that `detectDrift` runs is that family's pair
  * function applied to every table split: the gate rows of one table equal,
  * row for row, the pair function over that table's (ref, curr) halves with
  * the table name as label. This ties the product path to the gate texts the
  * DuckDB oracle checks. Gate queries that report the same statistic agree
  * on it, because each statistic has one implementation. */
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

  /** A numeric family's gate against its pair function over the halves of
    * each split, with the table name as label. */
  private def assertSplitsMatch(gate: DataFrame, splitsOf: Seq[splits.NumSplit] = splits.numeric)(
      pair: (DataFrame, DataFrame, Seq[String], String) => DataFrame): Unit = {
    assert(gate.count() > 0)
    splitsOf.foreach { sp =>
      val (ref, curr) = halves(sp.tableName, sp.ref)
      assertSameRows(gate, sp.tableName, pair(ref, curr, sp.cols, sp.tableName))
    }
  }

  test("numeric_drift equals driftForPair on every split") {
    assertSplitsMatch(NumericDrift.drift(spark, dir))(NumericDrift.driftForPair)
  }

  test("quantile_shifts equals quantileShiftsForPair on every split") {
    assertSplitsMatch(NumericDrift.quantileShifts(spark, dir))(NumericDrift.quantileShiftsForPair)
  }

  test("dist_shapes equals shapesForPair on every split") {
    assertSplitsMatch(NumericDrift.shapes(spark, dir))(NumericDrift.shapesForPair)
  }

  test("z_outliers equals zOutliersForPair on every split") {
    assertSplitsMatch(NumericDrift.zOutliers(spark, dir))(NumericDrift.zOutliersForPair)
  }

  test("histogram equals the non-empty bins of histogramForPair on every histogram column") {
    assertSplitsMatch(NumericDrift.histogram(spark, dir), NumericDrift.histSplits) { (ref, curr, cols, label) =>
      NumericDrift.histogramForPair(ref, curr, cols, label).filter(col("ref_cnt") + col("curr_cnt") > 0)
    }
  }

  test("valid_columns equals the validColumns screen on every split") {
    val gate = CorrelationDrift.validColumnsQuery(spark, dir)
    assert(gate.count() > 0)
    splits.numeric.foreach { sp =>
      val (ref, curr) = halves(sp.tableName, sp.ref)
      val kept = CorrelationDrift.validColumns(ref, curr, sp.cols).toSet
      assertSameRows(gate.select("table_name", "column_name", "valid"), sp.tableName,
        spark.createDataFrame(sp.cols.sorted.map(c => (sp.tableName, c, kept(c))))
          .toDF("table_name", "column_name", "valid"))
    }
  }

  test("the O29 screen of a collected pair profile equals validColumns at ratios 0.69, 0.70, 0.71") {
    // 100 rows a side; r<k> is non-null in k reference rows, c<k> in k current rows
    val ks = Seq(69, 70, 71)
    def side(nullsOn: String) = spark.range(100).select(ks.flatMap(k => Seq("r", "c").map { s =>
      (if (s == nullsOn) when(col("id") < k, col("id") * 1.5) else col("id") * 1.5).as(s"$s$k")
    }): _*)
    val (ref, curr) = (side("r"), side("c"))
    val cols = ref.columns.toSeq
    // the definition the screen implements: count(c) / count(*) ≥ 0.7 on both sides
    def ratios(df: DataFrame) = {
      val r = df.select(cols.map(c => count(col(c)) / count(lit(1))): _*).collect()(0)
      cols.indices.map(r.getDouble)
    }
    val direct = cols.zip(ratios(ref).zip(ratios(curr)))
      .collect { case (c, (a, b)) if a >= 0.7 && b >= 0.7 => c }
    assert(direct == Seq("r70", "c70", "r71", "c71"))
    val profile = NumericDrift.pairProfile(ref, curr, cols)
    val collected = spark.createDataFrame(profile.collectAsList(), profile.schema)
    assert(CorrelationDrift.validColumnsOf(collected, cols) == direct)
    assert(CorrelationDrift.validColumns(ref, curr, cols) == direct)
  }

  test("ks_test, wasserstein and psi equal their pair functions on every split") {
    assertSplitsMatch(DistanceDrift.ksTest(spark, dir))(DistanceDrift.ksForPair)
    assertSplitsMatch(DistanceDrift.wasserstein(spark, dir))(DistanceDrift.wassersteinForPair)
    assertSplitsMatch(DistanceDrift.psi(spark, dir))(DistanceDrift.psiForPair)
  }

  test("corr_matrix and feature_importance equal their pair functions on the lineitem split") {
    val (ref, curr) = halves("lineitem", splits.lineitemRef)
    val corrs = CorrelationDrift.corrMatrix(spark, dir).collect().toSeq
    assert(corrs.nonEmpty)
    assert(corrs == CorrelationDrift.forPair(ref, curr, CorrelationDrift.corrCols).collect().toSeq)
    val importance = CorrelationDrift.featureImportance(spark, dir).collect().toSeq
    assert(importance.nonEmpty)
    assert(importance == CorrelationDrift.featureImportanceForPair(ref, curr,
      CorrelationDrift.fiTarget, CorrelationDrift.fiPredictors).collect().toSeq)
  }

  /** One row per key of `df`: the key columns to the value columns. */
  private def byKey(df: DataFrame, keys: Seq[String], values: Seq[String]): Map[Seq[Any], Seq[Any]] =
    df.select((keys ++ values).map(col): _*).collect()
      .map(r => r.toSeq.take(keys.size) -> r.toSeq.drop(keys.size)).toMap

  test("chi_square and dist_diff agree with categorical_drift on every split column") {
    val key = Seq("table_name", "column_name")
    val drift = CategoricalDrift.categoricalDrift(spark, dir)
    val splitCols = splits.categorical.flatMap(sp => sp.cols.map(c => Seq(sp.tableName, c))).toSet
    assert(byKey(drift, key, Nil).keySet == splitCols)
    assert(byKey(CategoricalDrift.chiSquare(spark, dir), key, Seq("p_value")) ==
      byKey(drift, key, Seq("chi_p_value")))
    val shared = Seq("null_proportion_diff", "new_categories_ratio", "missing_categories_ratio")
    assert(byKey(CategoricalDrift.distDiff(spark, dir), key, shared) == byKey(drift, key, shared))
  }

  test("group metrics cover exactly the categories group_drift judges") {
    val key = Seq("table_name", "dimension", "category")
    val judged = byKey(GroupDrift.groupDriftVerdict(spark, dir), key, Nil).keySet
    assert(judged.nonEmpty)
    assert(byKey(GroupDrift.groupNumericMetrics(spark, dir), key, Nil).keySet == judged)
    assert(byKey(GroupDrift.groupCatMetrics(spark, dir), key, Nil).keySet == judged)
  }
}
