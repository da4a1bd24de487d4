package graft

import graft.drift._
import graft.plans.SketchModeRewrite.during

/** Golden end-to-end tests over the seeded port of the reference's
  * synthetic drift table (example.py:12-87; expectations per FIXTURES.md §A
  * and SURVEY.md §5.3). */
class GoldenDriftSpec extends SparkSpec {

  private lazy val v1 = SyntheticDrift.version(spark, 1).cache()
  private lazy val v2 = SyntheticDrift.version(spark, 2).cache()
  private lazy val v3 = SyntheticDrift.version(spark, 3).cache()
  private lazy val detector = new DriftDetector(spark)

  test("v1 vs v1 -> no drift anywhere") {
    val r = detector.detectDrift(v1, v1, DriftConfig(sampleSize = 0))
    assert(!r.driftDetected)
    assert(r.numeric.forall(_.driftScore == 0.0))
    assert(r.categorical.forall(_.driftScore == 0.0))
    assert(r.schemaChanges.isEmpty)
  }

  test("v1 vs v2 -> mild numeric + categorical + null drift") {
    val r = detector.detectDrift(v1, v2, DriftConfig(sampleSize = 0))
    assert(r.driftDetected)
    val normal = r.numeric.find(_.column == "numeric_normal").get
    assert(normal.meanRelDiff > 0.03) // mean 100 -> 105
    val nullCol = r.numeric.find(_.column == "null_col").get
    assert(nullCol.nullDiff > 0.005) // nulls 10% -> 12%
    val imb = r.categorical.find(_.column == "category_imbalanced").get
    assert(imb.driftDetected) // 70/20/10 -> 65/25/10 (chi-square significant at n=10000)
  }

  test("v1 vs v3 -> heavy drift + schema change + new/missing category") {
    val r = detector.detectDrift(v1, v3, DriftConfig(sampleSize = 0))
    assert(r.driftDetected)
    assert(r.schemaChanges.exists(c => c.changeType == "added" && c.path == "new_feature"))
    val normal = r.numeric.find(_.column == "numeric_normal").get
    assert(normal.meanRelDiff > 0.15 && normal.stdRelDiff > 0.3)
    val uniform = r.numeric.find(_.column == "numeric_uniform").get
    assert(uniform.rangeRelDiff > 0.2) // U(0,100) -> U(0,150)
    val bal = r.categorical.find(_.column == "category_balanced").get
    assert(bal.newCategoriesRatio > 0.0 && bal.missingCategoriesRatio > 0.0) // D -> E
    assert(r.assessment.nonEmpty && r.recommendations.nonEmpty)
  }

  test("type inference on the golden table") {
    val r = detector.detectDrift(v1, v2, DriftConfig(sampleSize = 0))
    assert(r.columnTypes("numeric_normal") == "numerical")
    assert(r.columnTypes("category_balanced") == "categorical")
    assert(r.columnTypes("binary_feature") == "categorical") // low-cardinality numeric rule
    assert(r.columnTypes("date_col") == "temporal") // string that casts to timestamp
  }

  test("group drift over a dimension flags drifted slices in v3 (O32/O33)") {
    val r = detector.detectDrift(v1, v3, DriftConfig(sampleSize = 0,
      groupColumns = Seq("category_imbalanced"), targetColumn = Some("numeric_normal")))
    val groups = r.groupDrift.collect()
    assert(groups.nonEmpty)
    // mean 100->120 within every slice: every eligible category drifts
    assert(groups.forall(_.getAs[Boolean]("drift_detected")))
    val fi = r.featureImportance.collect()
    assert(fi.map(_.getAs[String]("column_name")).toSet.contains("numeric_uniform"))
  }

  test("group correlations cover a second configured dimension (O26, ≤3 dims)") {
    val r = detector.detectDrift(v1, v3, DriftConfig(sampleSize = 0,
      groupColumns = Seq("category_imbalanced", "category_balanced")))
    val dims = r.groupCorrelations.select("dimension").distinct().collect()
      .map(_.getString(0)).toSet
    assert(dims == Set("category_imbalanced", "category_balanced"),
      s"dims=$dims errors=${r.errors.mkString("; ")}")
  }

  test("group drift on identical frames is quiet") {
    val r = detector.detectDrift(v1, v1, DriftConfig(sampleSize = 0,
      groupColumns = Seq("category_imbalanced")))
    val groups = r.groupDrift.collect()
    assert(groups.nonEmpty)
    assert(groups.forall(g => !g.getAs[Boolean]("drift_detected")))
    assert(groups.forall(_.getAs[Double]("overall_drift_score") == 0.0))
  }

  test("deep_dive profile emits full-spine histograms; summary skips the distribution module") {
    val deep = detector.detectDrift(v1, v3, DriftConfig("deep_dive", sampleSize = 0))
    val hist = deep.histograms.collect()
    assert(hist.nonEmpty, s"errors=${deep.errors.mkString("; ")}")
    // full 0..9 spine per column, zero-count bins included
    val byCol = hist.groupBy(_.getAs[String]("column_name"))
    assert(byCol.values.forall(_.map(_.getAs[Int]("bin")).sorted.toSeq == (0 to 9)))
    // shared bin edges: ref and curr counts live on the same spine row
    assert(hist.forall(r => r.getAs[Long]("ref_cnt") >= 0 && r.getAs[Long]("curr_cnt") >= 0))
    val summary = detector.detectDrift(v1, v3, DriftConfig("summary", sampleSize = 0))
    assert(summary.histograms.collect().isEmpty)
    assert(summary.jsFull.collect().isEmpty) // block-level flag off
    assert(summary.quantileShifts.collect().isEmpty)
  }

  test("sampling loosens thresholds via the O38 sample-size factor") {
    // 10k rows sampled to 2.5k -> ratio 0.25 -> factor 0.5+1.5*(1-sqrt(0.5))
    val r = detector.detectDrift(v1, v2, DriftConfig(sampleSize = 2500))
    val expected = AdaptiveThresholds.sampleSizeFactor(2500, v1.count())
    assert(expected > 0.5 && expected < 1.0)
    // the mild v1->v2 mean shift (~5%) stays above the scaled standard
    // threshold (0.05 * ~0.94) so drift is still detected end-to-end
    assert(r.numeric.nonEmpty)
  }

  test("PCA anomaly drift runs and flags the heavy-drift pair (O37)") {
    val cols = Seq("numeric_normal", "numeric_uniform", "null_col")
    val same = PcaAnomaly.detect(spark, v1, v1, cols).get
    assert(math.abs(same.meanErrorChange) < 0.05)
    val drifted = PcaAnomaly.detect(spark, v1, v3, cols).get
    assert(drifted.currAnomalyRatio > same.refAnomalyRatio)
    assert(drifted.significant)
  }

  test("exactChiPValue config swaps the banded p for the true survival function end-to-end") {
    val banded = detector.detectDrift(v1, v3, DriftConfig(sampleSize = 0))
    val exact = detector.detectDrift(v1, v3, DriftConfig(sampleSize = 0, exactChiPValue = true))
    val bp = banded.categorical.map(c => c.column -> c.chiPValue).toMap
    val ep = exact.categorical.map(c => c.column -> c.chiPValue).toMap
    assert(bp.keySet == ep.keySet && bp.nonEmpty)
    ep.values.foreach(p => assert(p >= 0.0 && p <= 1.0))
    // the heavy v1->v3 category swap is significant under BOTH p-value forms
    assert(banded.categorical.exists(_.driftDetected))
    assert(exact.categorical.exists(_.driftDetected))
    // and exact is not just the bands re-emitted: at least one column's
    // exact p differs from its banded bucket value
    assert(ep.exists { case (k, p) => math.abs(p - bp(k)) > 1e-9 })
  }

  test("orchestrated report's approx path matches exact verdicts, scores within sketch error") {
    // the bench runs the O40 orchestration under sketch mode (sketch
    // percentiles in the O12 analyzer); the scale path must change the
    // PLAN, not the report: same rows, same per-column drift verdicts,
    // scores within the 1e-4-rank-error sketch's observable shift
    val dir = "/root/testdata/sf0.001"
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val exact = keyed(graft.drift.Orchestrated.orchestratedReport(spark, dir).collect())
    val approx = keyed(during(spark)(graft.drift.Orchestrated.orchestratedReport(spark, dir).collect()))
    assert(exact.keySet == approx.keySet && exact.size == 7)
    exact.keySet.foreach { k =>
      assert(exact(k).getBoolean(3) == approx(k).getBoolean(3),
        s"$k verdict flipped under the sketch")
      assert(math.abs(exact(k).getDouble(2) - approx(k).getDouble(2)) < 0.01,
        s"$k score moved past sketch tolerance")
    }
  }

  test("the closed-form pca_anomaly oracle query matches the ml pipeline (O37)") {
    // the oracle query computes err = |v3 . z| from the closed-form smallest
    // eigenpair of the 3x3 ref correlation matrix; with k=2 of 3 standardized
    // columns that IS the ml reconstruction error, so detect(maxComponents=2)
    // over the same snapshot split must land on the same gate results
    val dir = "/root/testdata/sf0.001"
    val li = graft.drift.table(spark, dir, "lineitem")
    val ref = li.filter(graft.drift.splits.lineitemRef)
    val curr = li.filter(!graft.drift.splits.lineitemRef)
    val ml = PcaAnomaly.detect(spark, ref, curr,
      Seq("l_quantity", "l_extendedprice", "l_discount"), maxComponents = 2).get
    val row = PcaAnomaly.pcaAnomalyQuery(spark, dir).collect()(0)
    assert(math.abs(row.getAs[Double]("ref_mean_error") - ml.refMeanError) < 1e-6)
    assert(math.abs(row.getAs[Double]("curr_mean_error") - ml.currMeanError) < 1e-6)
    assert(row.getAs[Long]("ref_anomaly_count") == ml.refAnomalyCount)
    assert(row.getAs[Long]("curr_anomaly_count") == ml.currAnomalyCount)
    assert(row.getAs[Boolean]("significant") == ml.significant)
  }

  test("concurrent families equal the family functions called one by one on the same pair") {
    // deep_dive turns every family on; the target adds feature importance
    val cfg = DriftConfig(profile = "deep_dive", sampleSize = 0,
      targetColumn = Some("numeric_normal"))
    val r = detector.detectDrift(v1, v3, cfg)
    assert(r.errors.isEmpty, r.errors.mkString("; "))

    val common = v1.columns.toSeq.intersect(v3.columns.toSeq)
    val num = common.filter(r.columnTypes(_) == "numerical")
    val cat = common.filter(r.columnTypes(_) == "categorical")
    val corrCols = CorrelationDrift.validColumns(v1, v3, num)
    val dims = cat.take(3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val sequential = Seq(
      NumericDrift.quantileShiftsForPair(v1, v3, num),
      NumericDrift.shapesForPair(v1, v3, num),
      CategoricalDrift.jsFullForPair(v1, v3, cat, threshold = cfg.jsDistanceThreshold),
      CategoricalDrift.rareValueChangesForPair(v1, v3, cat, thr = cfg.rareValueThreshold),
      NumericDrift.histogramForPair(v1, v3, num),
      NumericDrift.zOutliersForPair(v1, v3, num),
      CorrelationDrift.forPair(v1, v3, corrCols, cfg),
      CategoricalDrift.rareCategoriesForPair(v1, v3, cat, maxFreq = cfg.rareValueThreshold),
      dims.map(d => GroupDrift.forPair(v1, v3, d, num, cat.filterNot(_ == d))).reduce(_ union _),
      dims.map(d => CorrelationDrift.groupCorrelationsForPair(v1, v3, d, corrCols))
        .reduce(_ unionByName _),
      CorrelationDrift.featureImportanceForPair(v1, v3, "numeric_normal",
        num.filterNot(_ == "numeric_normal")))
    val concurrent = Seq(r.quantileShifts, r.shapes, r.jsFull, r.rareValueChanges, r.histograms,
      r.zOutliers, r.correlationChanges, r.rareCategories, r.groupDrift, r.groupCorrelations,
      r.featureImportance)
    concurrent.zip(sequential).zipWithIndex.foreach { case ((c, s), i) =>
      assert(c.schema == s.schema, s"frame $i schema")
      assert(rows(c) == rows(s), s"frame $i rows")
    }

    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect().map(v =>
      (v.getAs[String]("column_name"), v.getAs[Double]("drift_score"),
        v.getAs[Boolean]("drift_detected"))).toSeq
    assert(r.numeric.map(n => (n.column, n.driftScore, n.driftDetected)) ==
      verdicts(NumericDrift.driftForPair(v1, v3, num)))
    assert(r.categorical.map(c => (c.column, c.driftScore, c.driftDetected)) ==
      verdicts(CategoricalDrift.categoricalDriftForPair(v1, v3, cat)))
  }

  test("categorical and group-drift jobs per report do not grow with the column count") {
    // the same pair with 2 and with 7 categorical columns (2 and 3 group
    // dimensions by default), types pinned so only the column count differs
    import org.apache.spark.sql.functions.{col, expr}
    val base = Seq("numeric_normal", "numeric_uniform", "category_balanced", "category_imbalanced")
      .map(col)
    val extra = (1 to 5).map(k => expr(s"CAST((id * ${k + 1}) % ${k + 2} AS STRING)").as(s"c$k"))
    def narrow(v: org.apache.spark.sql.DataFrame) = v.select(base: _*)
    def wide(v: org.apache.spark.sql.DataFrame) = v.select(base ++ extra: _*)
    def families(ref: org.apache.spark.sql.DataFrame, curr: org.apache.spark.sql.DataFrame) = {
      val cat = ref.columns.filter(_.startsWith("c"))
      val types = ref.columns.map(c => c -> (if (cat.contains(c)) "categorical" else "numerical")).toMap
      val (r, log) = jobsOf(detector.detectDrift(ref, curr,
        DriftConfig(sampleSize = 0, customColumnTypes = types)))
      assert(r.errors.isEmpty, r.errors.mkString("; "))
      assert(r.categorical.size == cat.length && r.groupDrift.count() > 0)
      Seq("profile", "categorical", "js_full", "rare_value_changes", "rare_categories",
          "group_drift", "group_correlations")
        .map(f => f -> log.jobs.values.count(_ == s"drift:$f")).toMap
    }
    val two = families(narrow(v1), narrow(v3))
    val seven = families(wide(v1), wide(v3))
    assert(seven == two, s"jobs per family with 2 columns $two, with 7 columns $seven")
    assert(two.values.forall(_ > 0), two)
  }

  test("numeric, distribution and correlation jobs per report do not grow with the numeric column count") {
    // a deep_dive pair with 3 and with 6 numeric columns, types pinned so
    // only the numeric column count differs. Not 2: one column pair makes a
    // 1-row correlation result, whose final sort AQE runs without its range
    // exchange, so 2 columns run fewer correlation jobs than 3 or more do
    import org.apache.spark.sql.functions.{col, expr}
    val base = Seq("numeric_normal", "numeric_uniform", "category_balanced").map(col)
    val extra = (1 to 4).map(k =>
      expr(s"CAST(numeric_uniform * ${k + 1} + id % ${k + 2} AS DOUBLE)").as(s"n$k"))
    def families(ref: org.apache.spark.sql.DataFrame, curr: org.apache.spark.sql.DataFrame) = {
      val types = ref.columns.map(c =>
        c -> (if (c.startsWith("category")) "categorical" else "numerical")).toMap
      val (r, log) = jobsOf(detector.detectDrift(ref, curr, DriftConfig(profile = "deep_dive",
        sampleSize = 0, customColumnTypes = types, analyzeGroups = false)))
      assert(r.errors.isEmpty, r.errors.mkString("; "))
      assert(r.numeric.size == ref.columns.length - 1 && r.histograms.count() == 10L * r.numeric.size)
      Seq("profile", "numeric", "quantile_shifts", "shapes", "histograms", "z_outliers",
          "correlations")
        .map(f => f -> log.jobs.values.count(_ == s"drift:$f")).toMap
    }
    val three = families(v1.select(base :+ extra.head: _*), v3.select(base :+ extra.head: _*))
    val six = families(v1.select(base ++ extra: _*), v3.select(base ++ extra: _*))
    assert(six == three, s"jobs per family with 3 numeric columns $three, with 6 $six")
    assert(three.values.forall(_ > 0), three)
  }

  /** A report as canonical text: each field in declaration order, every
    * frame's schema and its rows sorted, doubles at 6 dp. The wall time
    * (`executionTimeSec`) is left out. */
  private def render(r: DriftReport): String = {
    def text(v: Any): String = v match {
      case null => "null"
      case d: Double => val s = f"$d%.6f"; if (s == "-0.000000") "0.000000" else s
      case f: Float => text(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(text).mkString("[", ",", "]")
      case row: org.apache.spark.sql.Row => row.toSeq.map(text).mkString("{", ",", "}")
      case p: Product => p.productIterator.map(text).mkString(s"${p.productPrefix}(", ",", ")")
      case other => other.toString
    }
    def frame(name: String, df: org.apache.spark.sql.DataFrame): Seq[String] =
      s"$name ${df.schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")}" +:
        df.collect().map(text).sorted.toSeq.map("  " + _)
    val frames = Seq("quantileShifts" -> r.quantileShifts, "shapes" -> r.shapes,
      "jsFull" -> r.jsFull, "rareValueChanges" -> r.rareValueChanges, "histograms" -> r.histograms,
      "zOutliers" -> r.zOutliers, "correlationChanges" -> r.correlationChanges,
      "rareCategories" -> r.rareCategories, "groupDrift" -> r.groupDrift,
      "groupCorrelations" -> r.groupCorrelations, "featureImportance" -> r.featureImportance)
    (Seq(
      "schemaChanges " + r.schemaChanges.map(text).sorted.mkString(", "),
      "columnTypes " + r.columnTypes.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(", ")) ++
      r.numeric.map("numeric " + text(_)) ++ r.categorical.map("categorical " + text(_)) ++
      frames.flatMap { case (n, df) => frame(n, df) } ++
      Seq("errors " + text(r.errors), s"driftDetected ${r.driftDetected}",
        s"assessment ${r.assessment}", "recommendations " + text(r.recommendations))
    ).mkString("\n")
  }

  test("reports equal the golden snapshot in src/test/resources/golden_reports.txt") {
    val pairs = Seq("v1/v1" -> (v1, v1), "v1/v2" -> (v1, v2), "v1/v3" -> (v1, v3))
    val cases =
      (for (p <- Seq("summary", "standard", "deep_dive"); (name, (ref, curr)) <- pairs)
        yield (s"$name $p", ref, curr, DriftConfig(p, sampleSize = 0))) ++ Seq(
        ("v1/v2 sampled 2500", v1, v2, DriftConfig(sampleSize = 2500)),
        ("v1/v3 two dimensions", v1, v3, DriftConfig(sampleSize = 0,
          groupColumns = Seq("category_imbalanced", "category_balanced"))),
        ("v1/v1 target numeric_normal", v1, v1, DriftConfig(sampleSize = 0,
          targetColumn = Some("numeric_normal"))))
    val actual = cases.map { case (name, ref, curr, cfg) =>
      s"=== $name\n${render(detector.detectDrift(ref, curr, cfg))}"
    }.mkString("", "\n", "\n")
    val golden = Option(getClass.getResourceAsStream("/golden_reports.txt"))
      .map(s => try new String(s.readAllBytes(), "UTF-8") finally s.close())
    if (!golden.contains(actual)) {
      // the rendering of this run, to diff against (or to replace) the snapshot
      val out = java.nio.file.Paths.get("target", "golden_reports.actual.txt")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, actual)
      val firstDiff = golden.map(g => g.linesIterator.zipAll(actual.linesIterator, "<none>", "<none>")
        .find { case (a, b) => a != b }.toString).getOrElse("no golden file")
      fail(s"reports differ from the golden snapshot (this run's rendering is in $out); " +
        s"first differing line (golden, actual): $firstDiff")
    }
  }

  test("every job of one detectDrift carries a drift:<family> description") {
    val cfg = DriftConfig(profile = "deep_dive", sampleSize = 2500,
      targetColumn = Some("numeric_normal"))
    val (r, log) = jobsOf(detector.detectDrift(v1, v3, cfg))
    assert(r.errors.isEmpty, r.errors.mkString("; "))
    val undescribed = log.jobs.filterNot(_._2.startsWith("drift:"))
    assert(undescribed.isEmpty, s"jobs without a drift: description: $undescribed")
    val families = log.jobs.values.map(_.stripPrefix("drift:")).toSet
    assert(Set("sampling", "type_inference", "profile", "numeric", "categorical", "quantile_shifts",
      "correlations", "group_drift", "feature_importance").subsetOf(families), families)
    assert(log.running.isEmpty)
  }
}
