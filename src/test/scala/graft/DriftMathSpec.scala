package graft

import org.apache.spark.sql.functions._
import graft.drift._
import graft.plans.SketchModeRewrite.sketched

/** Unit tests for the scalar drift math: zero-denominator rules, severity
  * bucketing, JS/χ² invariants (SURVEY.md §5.1/5.2). */
class DriftMathSpec extends SparkSpec {
  import spark.implicits._

  private def eval1(c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c.as("r")).collect()(0).get(0)

  test("profile-once-diff-many equals direct pair drift through a parquet round-trip") {
    val rnd = new scala.util.Random(11)
    val ref = Seq.fill(300)(rnd.nextGaussian() * 10 + 100).toDF("x")
    val curr = Seq.fill(300)(rnd.nextGaussian() * 14 + 112).toDF("x")
    val direct = NumericDrift.driftForPair(ref, curr, Seq("x"), label = "t").collect()

    val dir = java.nio.file.Files.createTempDirectory("graft-prof").toString
    NumericDrift.writeProfile(NumericDrift.profileOf(ref, Seq("x"), "t"), s"$dir/ref")
    NumericDrift.writeProfile(NumericDrift.profileOf(curr, Seq("x"), "t"), s"$dir/curr")
    val via = NumericDrift.driftFromProfiles(
      NumericDrift.readProfile(spark, s"$dir/ref"),
      NumericDrift.readProfile(spark, s"$dir/curr")).collect()

    assert(via.length == 1 && direct.length == 1)
    val (d, v) = (direct(0), via(0))
    assert(d.schema == v.schema)
    d.schema.fieldNames.foreach { f =>
      (d.getAs[Any](f), v.getAs[Any](f)) match {
        case (a: Double, b: Double) => assert(math.abs(a - b) < 1e-9, s"$f: $a vs $b")
        case (a, b) => assert(a == b, s"$f: $a vs $b")
      }
    }
    // a column present in only one profile is dropped (schema-drift rule)
    val extra = NumericDrift.profileOf(curr.withColumn("y", col("x") * 2), Seq("x", "y"), "t")
    val rows = NumericDrift.driftFromProfiles(
      NumericDrift.readProfile(spark, s"$dir/ref"), extra).collect()
    assert(rows.map(_.getAs[String]("column_name")).toSeq == Seq("x"))
  }

  test("an empty snapshot profiles to one n_total = 0 row per column, which drift drops") {
    val ref = Seq(1.0, 2.0, 4.0).toDF("x").withColumn("y", col("x") * 2)
    val empty = ref.limit(0)
    val cols = Seq("x", "y")
    assert(NumericDrift.profileOf(empty, cols, "t").collect().map(_.toString).toSeq ==
      cols.map(c => s"[t,$c,0,0${",null" * 11}]"))
    // a side without rows has no drift row, as driftForPair over that pair gives
    val profile = NumericDrift.profileOf(ref, cols, "t")
    assert(NumericDrift.driftFromProfiles(profile, NumericDrift.profileOf(empty, cols, "t")).collect().isEmpty)
    assert(NumericDrift.driftFromProfiles(NumericDrift.profileOf(empty, cols, "t"), profile).collect().isEmpty)
    assert(NumericDrift.driftForPair(ref, empty, cols).collect().isEmpty)
  }

  test("relDiff zero-denominator rule (numerical_analyzer.py:214-219)") {
    assert(eval1(relDiff(lit(0.0), lit(0.0))) == 0.0)
    assert(eval1(relDiff(lit(0.0), lit(5.0))) == 1.0)
    assert(eval1(relDiff(lit(2.0), lit(3.0))) == 0.5)
    assert(eval1(relDiff(lit(-2.0), lit(-3.0))) == -0.5) // denominator abs()
  }

  test("pctChange zero rule (group_analyzer.py:516-532)") {
    assert(eval1(pctChange(lit(0.0), lit(0.0))) == 0.0)
    assert(eval1(pctChange(lit(0.0), lit(7.0))) == 1.0)
    assert(eval1(pctChange(lit(4.0), lit(2.0))) == -0.5)
  }

  test("severity bucketing (result_handler.py:54-73)") {
    val got = Seq(0.05, 0.1, 0.2, 0.25, 0.4, 0.5, 0.7, 0.75, 0.99)
      .map(s => eval1(severity(lit(s))))
    assert(got == Seq("None", "Low", "Low", "Medium", "Medium", "High", "High",
      "Critical", "Critical"))
  }

  test("identical frames -> zero numeric drift at any profile") {
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).toDF("x")
    val row = NumericDrift.driftForPair(df, df, Seq("x")).collect()(0)
    assert(row.getAs[Double]("drift_score") == 0.0)
    assert(!row.getAs[Boolean]("drift_detected"))
    assert(row.getAs[String]("drift_severity") == "None")
  }

  test("identical frames -> zero categorical drift, JS = 0") {
    val df = Seq("a", "a", "b", "c", "c", "c").toDF("x")
    val row = CategoricalDrift.categoricalDriftForPair(df, df, Seq("x")).collect()(0)
    assert(row.getAs[Double]("js_divergence") == 0.0)
    assert(!row.getAs[Boolean]("drift_detected"))
  }

  test("JS distance is symmetric and in [0,1]") {
    val p = Seq.fill(60)("a") ++ Seq.fill(30)("b") ++ Seq.fill(10)("c")
    val q = Seq.fill(20)("a") ++ Seq.fill(30)("b") ++ Seq.fill(50)("d")
    val dfP = p.toDF("x"); val dfQ = q.toDF("x")
    val pq = CategoricalDrift.categoricalDriftForPair(dfP, dfQ, Seq("x"))
      .collect()(0).getAs[Double]("js_divergence")
    val qp = CategoricalDrift.categoricalDriftForPair(dfQ, dfP, Seq("x"))
      .collect()(0).getAs[Double]("js_divergence")
    assert(math.abs(pq - qp) < 1e-9)
    assert(pq > 0.0 && pq <= 1.0)
  }

  test("disjoint supports -> JS distance = 1") {
    val dfP = Seq.fill(50)("a").toDF("x")
    val dfQ = Seq.fill(50)("z").toDF("x")
    val js = CategoricalDrift.categoricalDriftForPair(dfP, dfQ, Seq("x"))
      .collect()(0).getAs[Double]("js_divergence")
    assert(math.abs(js - 1.0) < 1e-6)
  }

  test("drift scores stay in [0,1] under extreme shifts") {
    val ref = Seq(1.0, 1.1, 0.9, 1.05, 0.95).toDF("x")
    val curr = Seq(1e6, 2e6, 3e6, 4e6, 5e6).toDF("x")
    val s = NumericDrift.scoreForPair(ref, curr, Seq("x")).collect()(0)
      .getAs[Double]("drift_score")
    assert(s >= 0.0 && s <= 1.0)
  }

  test("approx scale path tracks the exact path closely") {
    val r = new scala.util.Random(1)
    val ref = Seq.fill(5000)(50.0 + 10 * r.nextGaussian()).toDF("x")
    val curr = Seq.fill(5000)(55.0 + 12 * r.nextGaussian()).toDF("x")
    val exact = NumericDrift.driftForPair(ref, curr, Seq("x")).collect()(0)
    val approx = sketched(NumericDrift.driftForPair(ref, curr, Seq("x"))).collect()(0)
    assert(math.abs(exact.getAs[Double]("drift_score") - approx.getAs[Double]("drift_score")) < 0.02)
    assert(exact.getAs[Boolean]("drift_detected") == approx.getAs[Boolean]("drift_detected"))
  }

  test("approx drift-score DAG tracks exact on the testdata (bench surface)") {
    val dir = "/root/testdata/sf0.001"
    def scores(approx: Boolean) = (if (approx) sketched(NumericDrift.driftScore(spark, dir))
        else NumericDrift.driftScore(spark, dir))
      .collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")) ->
        r.getAs[Double]("drift_score")).toMap
    val (exact, approx) = (scores(false), scores(true))
    assert(exact.keySet == approx.keySet && exact.nonEmpty)
    exact.foreach { case (k, s) => assert(math.abs(s - approx(k)) < 0.02, s"column $k") }
  }

  test("approx distinct-vocabulary sketch tracks exact token stats (bench surface)") {
    val dir = "/root/testdata/sf0.001"
    def vocab(approx: Boolean) = {
      val q = graft.pipeline.TextAnalysis.tokenStats(spark, dir)
      (if (approx) sketched(q) else q).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Long]("distinct_words")).toMap
    }
    val (exact, approx) = (vocab(false), vocab(true))
    assert(exact.keySet == approx.keySet && exact.nonEmpty)
    // HLL default rsd = 5%; allow 3 sigma
    exact.foreach { case (s, n) =>
      assert(math.abs(n - approx(s)) <= math.max(3, 0.15 * n), s"source $s: exact=$n approx=${approx(s)}")
    }
  }

  test("exact chi-square p-value agrees with the banded table's critical values") {
    // the reference's per-dof critical values ARE the 0.05 quantiles of the
    // chi-square distribution — the exact survival function must return
    // ~0.05 at each of them (the published cv table is 2-decimal, so 2e-3)
    val cv = Map(1 -> 3.84, 2 -> 5.99, 3 -> 7.81, 4 -> 9.49, 5 -> 11.07,
      6 -> 12.59, 7 -> 14.07, 8 -> 15.51, 9 -> 16.92, 10 -> 18.31)
    cv.foreach { case (dof, x) =>
      val p = CategoricalDrift.chi2PValue(x, dof)
      assert(math.abs(p - 0.05) < 2e-3, s"dof=$dof cv=$x p=$p")
    }
    // dof=2 has a closed form: P[X > x] = exp(-x/2)
    assert(math.abs(CategoricalDrift.chi2PValue(3.0, 2) - math.exp(-1.5)) < 1e-12)
    // monotone decreasing in the statistic, p in [0,1], degenerate dof -> 1
    for (dof <- Seq(1L, 3L, 7L, 30L, 100L)) {
      val ps = (0 to 200).map(i => CategoricalDrift.chi2PValue(i * 0.5, dof))
      assert(ps.forall(p => p >= 0.0 && p <= 1.0))
      assert(ps.zip(ps.tail).forall { case (a, b) => b <= a + 1e-12 }, s"dof=$dof not monotone")
    }
    assert(CategoricalDrift.chi2PValue(5.0, 0) == 1.0)
    // and the banded default never moves: exact path is opt-in only
    val dir = "/root/testdata/sf0.001"
    val banded = CategoricalDrift.chiSquare(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("p_value")).toMap
    val exact = CategoricalDrift.chiSquare(spark, dir, exactPValue = true).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("p_value")).toMap
    assert(banded.keySet == exact.keySet && banded.nonEmpty)
    // the band's linear ramp is NOT a bound on the exact survival function
    // (it crosses it inside the sub-cv region), but the two must agree on
    // the reference's actual contract — the 0.05 significance decision —
    // for every testdata column (all dof <= 10, where the cv table is exact)
    exact.foreach { case (k, pe) =>
      val pb = banded(k)
      if (pb <= 0.05) assert(pe <= 0.055, s"$k: band significant ($pb) but exact $pe")
      else assert(pe >= 0.045, s"$k: band insignificant ($pb) but exact $pe")
    }
  }

  test("smallest eigenvector survives parallel row pairs of (A - lam3 I)") {
    import graft.drift.PcaAnomaly.smallestEigenvector
    // a=0.5, b=c=0.1: lam3 = 0.5 is SIMPLE but m = 1-lam3 = a makes rows 1
    // and 2 of (A - lam3 I) parallel — the single-pair cross product is the
    // zero vector; the max-norm-of-three selection must recover (1,-1,0)/√2
    val (v1, v2, v3) = smallestEigenvector(0.5, 0.1, 0.1)
    val s = math.sqrt(2) / 2
    assert(math.abs(math.abs(v1) - s) < 1e-9 && math.abs(math.abs(v2) - s) < 1e-9)
    assert(v1 * v2 < 0 && math.abs(v3) < 1e-9, s"got ($v1, $v2, $v3)")
    // generic case still normalized and an actual eigenvector: A u = lam u
    val (a, b, c) = (0.3, -0.2, 0.5)
    val (u1, u2, u3) = smallestEigenvector(a, b, c)
    assert(math.abs(u1 * u1 + u2 * u2 + u3 * u3 - 1.0) < 1e-12)
    val au = Seq(u1 + a * u2 + b * u3, a * u1 + u2 + c * u3, b * u1 + c * u2 + u3)
    // Rayleigh quotient of a unit eigenvector = its eigenvalue; residual ~ 0
    val lam = au(0) * u1 + au(1) * u2 + au(2) * u3
    val res = Seq(au(0) - lam * u1, au(1) - lam * u2, au(2) - lam * u3)
    assert(res.map(x => x * x).sum < 1e-18, s"residual $res")
  }

  test("chi-square survival function matches the closed form for even dof") {
    // for dof = 2k the survival function is EXACTLY the truncated Poisson
    // tail: Q(k, y) = e^-y * sum_{j<k} y^j / j! — an independent reference
    // that exercises both the series (small y) and continued-fraction
    // (large y) branches of the incomplete-gamma implementation
    def closedForm(k: Int, y: Double): Double = {
      var term = 1.0; var sum = 1.0
      for (j <- 1 until k) { term *= y / j; sum += term }
      math.exp(-y) * sum
    }
    for (k <- Seq(1, 2, 3, 5, 10, 20, 40); x <- Seq(0.1, 1.0, 4.0, 10.0, 30.0, 120.0)) {
      val q = CategoricalDrift.chi2PValue(x, 2L * k)
      val ref = closedForm(k, x / 2)
      assert(math.abs(q - ref) < 1e-12 || math.abs(q - ref) / ref < 1e-9,
        s"dof=${2 * k} x=$x: got $q want $ref")
    }
    // thousand-dof inputs (a high-cardinality categorical column) must
    // CONVERGE under the scaled iteration budget, near the known median:
    // P[X > dof] -> 1/2 - O(1/sqrt(dof)) from below for large dof
    for (dof <- Seq(1000L, 10000L)) {
      val p = CategoricalDrift.chi2PValue(dof.toDouble, dof)
      assert(p > 0.45 && p < 0.5, s"dof=$dof p=$p")
    }
  }

  test("approx distinct-count sketch tracks the exact topk_entropy profile (bench surface)") {
    val dir = "/root/testdata/sf0.001"
    def prof(approx: Boolean) = CategoricalDrift.topkEntropy(spark, dir, approx)
      .collect().map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")) -> r).toMap
    val (exact, approx) = (prof(false), prof(true))
    assert(exact.keySet == approx.keySet && exact.nonEmpty)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      // everything except the sketched distinct count is computed the same way
      assert(e.getAs[Long]("n_total") == a.getAs[Long]("n_total"), s"$k n_total")
      assert(e.getAs[Long]("n_null") == a.getAs[Long]("n_null"), s"$k n_null")
      assert(e.getAs[Double]("entropy_top20") == a.getAs[Double]("entropy_top20"), s"$k entropy")
      // HLL default rsd = 5%; allow 3 sigma
      val (ed, ad) = (e.getAs[Long]("distinct_count"), a.getAs[Long]("distinct_count"))
      assert(math.abs(ed - ad) <= math.max(3, 0.15 * ed), s"$k: exact=$ed approx=$ad")
    }
  }

  test("hash-threshold balance tracks the exact rank selection (bench surface)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-balance-approx").toString
    val rows = (0 until 1000).map(i => (i.toLong, s"text $i", "big")) ++
      (5000 until 5100).map(i => (i.toLong, s"text $i", "small"))
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def kept(approx: Boolean) = graft.pipeline.TextAnalysis.balancedMix(spark, dir, approx)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n_kept")).toMap
    val (exact, approx) = (kept(false), kept(true))
    assert(exact == Map("big" -> 100L, "small" -> 100L))
    // binomial noise around target=100 with p=0.1: 3 sigma ≈ 29
    assert(math.abs(approx("big") - 100L) <= 40, s"big kept ${approx("big")}")
    // p=1 for the smallest source: the threshold keeps everything exactly
    assert(approx("small") == 100L)
  }

  test("approx group medians track exact group medians closely") {
    val r = new scala.util.Random(2)
    def frame(shift: Double) = Seq.tabulate(4000) { i =>
      (if (i % 2 == 0) "g1" else "g2", shift + 10 * r.nextGaussian())
    }.toDF("dim", "m")
    val (ref, curr) = (frame(50).cache(), frame(53).cache())
    val exact = GroupDrift.forPair(ref, curr, "dim", Seq("m"), Seq.empty)
      .collect().map(row => row.getAs[String]("category") -> row.getAs[Double]("overall_drift_score")).toMap
    val approx = sketched(GroupDrift.forPair(ref, curr, "dim", Seq("m"), Seq.empty))
      .collect().map(row => row.getAs[String]("category") -> row.getAs[Double]("overall_drift_score")).toMap
    assert(exact.keySet == approx.keySet && exact.nonEmpty)
    exact.foreach { case (cat, s) => assert(math.abs(s - approx(cat)) < 0.02, s"group $cat") }
  }

  test("correlation components: BFS grouping") {
    val corrs = Map(("a", "b") -> 0.9, ("b", "c") -> 0.8, ("c", "d") -> 0.1)
    val comp = CorrelationDrift.correlationComponents(corrs, Seq("a", "b", "c", "d"), 0.7)
    assert(comp("a") == "a" && comp("b") == "a" && comp("c") == "a")
    assert(comp("d") == "d")
  }

  test("pr6Sql: ties round away from zero, NaN/Inf/NULL pass through, -0.0 never emitted") {
    // the cross-engine contract: every branch is IEEE-exact ops only, so
    // DuckDB evaluating the same text produces the same bits (verified
    // manually against DuckDB 1.0.0; the gate re-verifies on every query)
    val cases = Seq(
      "CAST(0.1234565 AS DOUBLE)" -> 0.123457, // tie (binary rep is above .5): away from zero
      "CAST(-0.1234565 AS DOUBLE)" -> -0.123457,
      "CAST(0.1234561 AS DOUBLE)" -> 0.123456,
      "CAST(1234.9999996 AS DOUBLE)" -> 1235.0,
      "CAST(-0.0000001 AS DOUBLE)" -> 0.0, // rounds to zero; must be +0.0
      "CAST(0.0 AS DOUBLE)" -> 0.0,
      "CAST(float('NaN') AS DOUBLE)" -> Double.NaN,
      "CAST(float('Infinity') AS DOUBLE)" -> Double.PositiveInfinity,
      "CAST(float('-Infinity') AS DOUBLE)" -> Double.NegativeInfinity,
      // past the guard magnitude the double grid is coarser than 1e-6:
      // identity, never a BIGINT-saturating FLOOR (deployment-scale chi2)
      "CAST(1.23456789e13 AS DOUBLE)" -> 1.23456789e13,
      "CAST(-9.9e15 AS DOUBLE)" -> -9.9e15)
    cases.foreach { case (in, want) =>
      val got = spark.sql(s"SELECT ${pr6Sql(in)} AS r").collect()(0).getDouble(0)
      if (want.isNaN) assert(got.isNaN, s"$in -> $got, want NaN")
      else {
        assert(got == want, s"$in -> $got, want $want")
        // -0.0 would hash differently than the oracle's 0e0 - 0.0 = +0.0
        assert(java.lang.Double.doubleToRawLongBits(got) !=
          java.lang.Double.doubleToRawLongBits(-0.0d), s"$in produced -0.0")
      }
    }
    assert(spark.sql(s"SELECT ${pr6Sql("CAST(NULL AS DOUBLE)")} AS r").collect()(0).isNullAt(0))
  }

  test("pr6Scalar is bit-identical to the engine-evaluated pr6Sql") {
    // binds the JVM scalar twin (and PropertySpec's pr6 invariants) to the
    // SQL text both engines execute
    val rnd = new scala.util.Random(7)
    val xs = Seq(0.0, -0.0, 1e-7, -1e-7, 0.1234565, -0.1234565, 123456.4999995,
      8.99e9, -8.99e9, 9.1e9, 1.7e300) ++
      Seq.fill(40)(rnd.nextDouble() * 2e4 - 1e4) ++
      Seq.fill(10)(rnd.nextGaussian() * 1e9)
    val lits = xs.map(x => s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)")
    val rows = spark.sql(
      lits.zipWithIndex.map { case (l, i) => s"${pr6Sql(l)} AS r$i" }
        .mkString("SELECT ", ", ", "")).collect()(0)
    xs.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(rows.getDouble(i)) ==
        java.lang.Double.doubleToLongBits(pr6Scalar(xs(i))),
        s"x=${xs(i)}: sql=${rows.getDouble(i)} scalar=${pr6Scalar(xs(i))}")
    }
  }

  test("microScalar is bit-identical to the engine-evaluated microTermSql " +
    "on boundary values") {
    // the JVM twin and the SQL text must agree exactly, including at the
    // half-up tie and for negatives (FLOOR rounds toward -inf, so half-up
    // for negative inputs means toward +inf — both sides inherit it)
    val lits = Seq("0.0000005", "1.0000005", "-1.0000005", "2.5", "-2.5",
      "8.3572155", "-8.3572155", "0.0000004999", "1234567.8901234",
      "-1234567.8901234", "0.0", "999999999.9999994")
    val rows = spark.sql(
      lits.zipWithIndex.map { case (l, i) =>
        s"CAST(${microTermSql(s"${l}e0")} AS BIGINT) AS m$i"
      }.mkString("SELECT ", ", ", "")).collect()(0)
    lits.indices.foreach { i =>
      assert(rows.getLong(i) == microScalar(lits(i).toDouble),
        s"x=${lits(i)}: sql=${rows.getLong(i)} scalar=${microScalar(lits(i).toDouble)}")
    }
    // non-default scale (the centi-unit Neyman/group-slices sites)
    val c = spark.sql(s"SELECT CAST(${microTermSql("123.455e0", 2)} AS BIGINT) AS m")
      .collect()(0).getLong(0)
    assert(c == microScalar(123.455, 2))
  }

  test("micro/decimal headroom enumeration: every quantization site keeps " +
    "scaled magnitudes inside FLOOR's 2^63 and the 2^53 exact-double range") {
    // The microTermSql/microSumSql contract (drift/package.scala): each
    // |term|·10^s must stay < 2^63 (Spark's FLOOR(double) saturates at
    // Long.Max) and each group SUM·10^s < 2^53 (int→double stays exact).
    // This test enumerates EVERY quantization site in the codebase with
    // its observed magnitudes on the driver-gate testdata (sf0.01) and a
    // documented growth model, and fails if a site would breach its bound
    // before the claimed survival scale — so a new query that quantizes
    // too-large values (or a data refresh that inflates one) fails here
    // before it corrupts a gate hash.
    val sf = "/root/testdata/sf0.01"
    val L63 = math.pow(2.0, 63)
    val L53 = math.pow(2.0, 53)
    // (site, scale, observed max |term|, observed max group |sum|,
    //  growth of the group sum to the claimed survival corpus scale)
    def site(name: String, scale: Int, maxTerm: Double, maxSum: Double,
        growth: Double): Unit = {
      val p = math.pow(10.0, scale)
      assert(maxTerm * p < L63 / 1e3,
        s"$name: per-term scaled magnitude ${maxTerm * p} has <1000x " +
          "headroom to FLOOR's Long.Max saturation")
      assert(maxSum * p * growth < L53,
        s"$name: group sum scaled ${maxSum * p} x growth $growth breaches " +
          "2^53 — the decimal->double return stops being exact")
    }

    // rolling_stats (EventAnalytics:77-78): value and value^2 at 1e-6,
    // summed over 7-day frames; sums grow linearly with corpus -> sf100
    val roll = pipeline.EventAnalytics.rollingStats(spark, sf)
      .agg(max(abs(col("roll_sum_micro"))), max(col("roll_sq_micro")))
      .collect()(0)
    val ev = drift.table(spark, sf, "events")
      .agg(max(abs(col("value"))), max(col("value") * col("value"))).collect()(0)
    site("rolling_stats.value", 6, ev.getDouble(0), roll.getLong(0) / 1e6, 1e4)
    // value^2 is the tightest site in the codebase: the FLOAT surface
    // (rollingStatsFull's decimal->double return) is documented to stay
    // 2^53-exact only through ~sf30 (EventAnalytics docstring) — pin a
    // 2000x (sf20) claim with margin. The INTEGER gate surface has 2^63
    // room far beyond that, asserted separately.
    site("rolling_stats.value_sq", 6, ev.getDouble(1), roll.getLong(1) / 1e6, 2e3)
    assert(roll.getLong(1).toDouble * 1e4 < L63 / 1e2,
      "rolling_stats.value_sq integer gate surface: <100x headroom to 2^63 at sf100")

    // doc_entropy (TextAnalysis:1221-1222): per-doc h/ttr at 1e-6 summed
    // per source; and the in-row c*log2(c) fold summed per doc
    val lex = pipeline.TextAnalysis.lexicalSignals(
      drift.table(spark, sf, "documents").select("doc_id", "source", "text"))
    val hSums = lex.groupBy("source")
      .agg(sum(abs(col("h"))).as("sh"), sum(abs(col("ttr"))).as("st"),
        max(abs(col("h"))).as("mh"))
      .agg(max("sh"), max("st"), max("mh")).collect()(0)
    site("doc_entropy.h", 6, hSums.getDouble(2), hSums.getDouble(0), 1e4)
    site("doc_entropy.ttr", 6, 1.0, hSums.getDouble(1), 1e4)
    val sclc = drift.table(spark, sf, "documents")
      .selectExpr(s"${pipeline.TextAnalysis.entropySclcInRowExpr} AS u",
        "CAST(size(split(text, '\\\\s+')) AS DOUBLE) AS n")
      .agg(max(abs(col("u"))), max(col("n") * log2(col("n")))).collect()(0)
    // per-doc sums are bounded by doc length, not corpus size: docs do
    // not grow with SF, so growth covers a 100x longer document
    site("doc_entropy.sclc", 6, sclc.getDouble(1), sclc.getLong(0) / 1e6, 1e2)

    // benford_verdict (Benford:101): nine |obs-exp| <= 1 terms per column,
    // bounded regardless of corpus size
    site("benford.tvd_term", 6, 1.0, 9.0, 1.0)

    // cramers_v (DistanceDrift:390) and chi_square (CategoricalDrift:502):
    // chi^2 <= N*min(r-1,k-1) = N for the 2-side contingency
    val chiMax = drift.DistanceDrift.cramersV(spark, sf)
      .agg(max(col("chi2_micro")), max(col("n_total"))).collect()(0)
    site("cramers_v.chi2", 6, chiMax.getLong(1).toDouble,
      chiMax.getLong(0) / 1e6, 1e4)

    // group_slices (GroupDrift:507, centi-units): any group sum is
    // bounded by the global sum of |metric| per table
    for (sp <- drift.GroupDrift.sliceSpecs; m <- sp.metrics) {
      val g = drift.table(spark, sf, sp.tableName)
        .agg(sum(abs(col(m).cast("double"))), max(abs(col(m).cast("double"))))
        .collect()(0)
      site(s"group_slices.${sp.tableName}.$m", 2, g.getDouble(1),
        g.getDouble(0), 1e4)
    }

    // neyman_allocation (CorpusDesign:134, centi-units): sum of
    // n_docs*sd(chars) over strata
    val ney = drift.table(spark, sf, "documents")
      .groupBy("source").agg(count(lit(1)).as("n"),
        stddev(col("n_chars").cast("double")).as("sd"))
      .agg(sum(col("n") * coalesce(col("sd"), lit(0.0)))).collect()(0)
    site("neyman.w", 2, ney.getDouble(0), ney.getDouble(0), 1e4)
  }

  test("rounding-boundary margin: flagged queries' pre-round values are " +
    "far from the 6-dp flip zone on the gate testdata") {
    // The cramers_v/rolling_stats failure class (CORRECTNESS_r06): a value
    // within a few ulps of an x.xxxxxx5 boundary rounds differently when the
    // other engine's partial-sum order or libm differs by 1 ulp. These
    // queries sum engine-ordered doubles (with LOG/LOG2 terms) into an r6
    // output; assert every pre-round double sits >= 1000 reassociation-ulps
    // from the boundary at both the spec SF and the driver-gate SF, so a
    // data refresh that drifts one onto the boundary fails here first.
    // (mutual_info/robust stats round via literal ROUND text, not r6, and
    // are not exposed by the bypass; their magnitudes are O(1) with the
    // same LOG-sum shape as psi, which IS covered.)
    val flagged = Seq("psi", "wasserstein", "js_full", "top_movers",
      "topk_entropy", "dist_diff")
    graft.drift.r6TestBypass = true
    try {
      for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
           name <- flagged) {
        val df = SparkEntry.queries(name)(spark, dir)
        val dCols = df.schema.fields
          .filter(_.dataType == org.apache.spark.sql.types.DoubleType).map(_.name).toSeq
        val rows = df.select(dCols.map(col): _*).collect()
        for (r <- rows; i <- dCols.indices; if !r.isNullAt(i)) {
          val v = r.getDouble(i)
          // beyond 2^52 scaled, ulp(s) >= 0.5 and the margin is meaningless
          if (!v.isNaN && !v.isInfinite && math.abs(v) < 4.5e9) {
            val s = v * 1e6
            val dist = math.abs((s - math.floor(s)) - 0.5)
            val margin = math.max(1e-9, 1000 * math.ulp(s))
            assert(dist > margin,
              s"$name.${dCols(i)} @ $dir: pre-round $v is $dist from the " +
                s"6-dp boundary (margin $margin) — needs the cramers_v " +
                "canonical-fold treatment")
          }
        }
      }
    } finally graft.drift.r6TestBypass = false
  }
}
