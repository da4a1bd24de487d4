package graft.drift

import org.apache.spark.ml.feature.{PCA, StandardScaler, VectorAssembler}
import org.apache.spark.ml.linalg.{DenseMatrix, Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PCA multivariate anomaly drift — reference O37
  * (/root/reference/rare_event_analyzer.py:187-345): assemble ≥3 numeric
  * columns, scale + PCA fitted on the REFERENCE frame, per-row
  * reconstruction error, anomaly = error > µ_ref + 3σ_ref, compare anomaly
  * ratios between snapshots.
  *
  * The reconstruction error is the one place a UDF is genuinely needed
  * (Vector algebra per row); it is a Scala UDF over ml Vectors — no Python
  * worker round-trips. The models are fitted once on the reference and the
  * error pass is a single scan per frame.
  */
object PcaAnomaly extends graft.OperatorModule {

  case class Result(columns: Seq[String], k: Int,
      refAnomalyCount: Long, currAnomalyCount: Long,
      refAnomalyRatio: Double, currAnomalyRatio: Double,
      refMeanError: Double, currMeanError: Double,
      anomalyRatioChange: Double, meanErrorChange: Double, significant: Boolean)

  def detect(spark: SparkSession, ref: DataFrame, curr: DataFrame, cols: Seq[String],
      zThreshold: Double = 3.0, maxComponents: Int = 10): Option[Result] = {
    if (cols.size < 3) return None
    val assembler = new VectorAssembler().setInputCols(cols.toArray)
      .setOutputCol("features").setHandleInvalid("skip")
    val refFeat = assembler.transform(ref.select(cols.map(col): _*))
    val currFeat = assembler.transform(curr.select(cols.map(col): _*))

    val scaler = new StandardScaler().setWithMean(true).setWithStd(true)
      .setInputCol("features").setOutputCol("scaled").fit(refFeat)
    val k = math.min(maxComponents, cols.size)
    val pca = new PCA().setK(k).setInputCol("scaled").setOutputCol("pca").fit(scaler.transform(refFeat))
    val pc: DenseMatrix = pca.pc // (dim x k)

    val reconError = udf { v: Vector =>
      val x = v.toArray
      val dim = x.length
      // proj = pc^T x (k), recon = pc * proj (dim)
      val proj = Array.tabulate(k)(j => (0 until dim).map(i => pc(i, j) * x(i)).sum)
      val recon = Array.tabulate(dim)(i => (0 until k).map(j => pc(i, j) * proj(j)).sum)
      math.sqrt((0 until dim).map(i => { val d = x(i) - recon(i); d * d }).sum)
    }
    def errors(df: DataFrame) = scaler.transform(df)
      .withColumn("err", reconError(col("scaled"))).select("err")

    val refErr = errors(refFeat).cache()
    val Array(refMean, refStd, refN) = refErr
      .agg(avg("err"), coalesce(stddev(col("err")), lit(0.0)), count(lit(1)).cast("double"))
      .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    val thr = refMean + zThreshold * refStd
    val refAnom = refErr.filter(col("err") > thr).count()
    val currErr = errors(currFeat).cache()
    val Array(currMean, currN) = currErr.agg(avg("err"), count(lit(1)).cast("double"))
      .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    val currAnom = currErr.filter(col("err") > thr).count()

    val refRatio = if (refN > 0) refAnom / refN else 0.0
    val currRatio = if (currN > 0) currAnom / currN else 0.0
    val ratioChange =
      if (refRatio > 0) (currRatio - refRatio) / refRatio
      else if (currRatio > 0) 1.0 else 0.0
    val errChange =
      if (refMean != 0) (currMean - refMean) / math.abs(refMean)
      else if (currMean != 0) 1.0 else 0.0
    Some(Result(cols, k, refAnom, currAnom, refRatio, currRatio, refMean, currMean,
      ratioChange, errChange,
      significant = math.abs(errChange) >= 0.3 || math.abs(ratioChange) >= 0.5))
  }

  // ------------------------------------------------- oracle-checkable form
  //
  // The ml fit above cannot be replayed by a static DuckDB oracle (the PC
  // matrix is data-dependent and `oracleSql` is a fixed string evaluated at
  // EVERY scale factor). But the operator's math collapses to a closed form
  // both engines can compute from their own aggregates: with d=3
  // standardized columns and k=2 components, the PCA reconstruction error
  // is the absolute component along the SMALLEST eigenvector v3 of the 3x3
  // reference correlation matrix — err = |v3 . z| — and a 3x3 symmetric
  // eigenpair has an exact closed form (Smith's trigonometric method).
  // Both engines evaluate the identical arithmetic over their own
  // avg/stddev/corr values, which agree to ~1e-15, so the rounded outputs
  // hash-match; GoldenDriftSpec pins this analytic form against the actual
  // ml pipeline (detect with maxComponents=2) to ~1e-6.

  private[drift] val PcaCols = Seq("l_quantity", "l_extendedprice", "l_discount")

  /** Unit eigenvector of the smallest eigenvalue of [[1,a,b],[a,1,c],[b,c,1]]
    * — written operation-for-operation like [[pcaAnomalySql]]'s eig CTEs so
    * the two engines' doubles track each other to rounding noise. */
  private[graft] def smallestEigenvector(a: Double, b: Double, c: Double): (Double, Double, Double) = {
    val p = math.sqrt((2 * (a * a + b * b + c * c)) / 6)
    require(p > 1e-12, "degenerate correlation matrix: columns are uncorrelated to working precision")
    val r = math.min(1.0, math.max(-1.0, (a * b * c) / (p * p * p)))
    val phi = math.acos(r) / 3
    val lam3 = 1 + 2 * p * math.cos(phi + 2 * math.Pi / 3) // smallest eigenvalue
    val m = 1 - lam3
    // eigenvector = a cross product of two rows of (A - lam3 I). Any single
    // row pair can be parallel even for a SIMPLE eigenvalue (e.g. b = c
    // makes rows 1 and 2 parallel when m = a), so take the largest-norm of
    // the three pairwise cross products — zero only when lam3 is truly
    // repeated. Selection ties across engines are harmless: every nonzero
    // candidate is parallel to the eigenvector and err = |v.z| is sign- and
    // choice-invariant after normalization.
    val cands = Seq(
      (a * c - b * m, b * a - m * c, m * m - a * a), // row1 x row2
      (m * m - c * c, c * b - a * m, a * c - m * b), // row2 x row3
      (a * m - b * c, b * b - m * m, m * c - a * b)) // row1 x row3
    val (v1, v2, v3) = cands.maxBy { case (x, y, z) => x * x + y * y + z * z }
    val norm = math.sqrt(v1 * v1 + v2 * v2 + v3 * v3)
    require(norm > 1e-8, "repeated smallest eigenvalue: PCA residual direction is not unique")
    (v1 / norm, v2 / norm, v3 / norm)
  }

  /** O37 as a single-row oracle query over the lineitem snapshot pair:
    * fit (ref mean/std + ref correlation -> closed-form v3) then one
    * cached error pass feeding the µ_ref+3σ_ref gate and the reference's
    * ratio/change/significance math (rare_event_analyzer.py:228-345).
    * Scale shape: two 1-row aggregates plus one counting pass — the same
    * broadcast-stats pattern as z_outliers; nothing driver-side grows with
    * data. */
  def pcaAnomalyQuery(spark: SparkSession, dir: String): DataFrame = {
    val tagged = withSide(table(spark, dir, "lineitem"), splits.lineitemRef)
    val Seq(q, e, d) = PcaCols
    val st = tagged.filter(col("side") === "ref").agg(
      avg(q), stddev(q), avg(e), stddev(e), avg(d), stddev(d),
      corr(q, e), corr(q, d), corr(e, d)).collect()(0)
    val Seq(mu1, sd1, mu2, sd2, mu3, sd3, ca, cb, cc) = (0 until 9).map(st.getDouble)
    val (u1, u2, u3) = smallestEigenvector(ca, cb, cc)
    val errExpr = abs(
      ((col(q) - mu1) / sd1) * u1 +
        ((col(e) - mu2) / sd2) * u2 +
        ((col(d) - mu3) / sd3) * u3)
    val errs = tagged.select(col("side"), errExpr.as("err")).cache()
    val t = errs.filter(col("side") === "ref")
      .agg(avg("err"), stddev("err")).collect()(0)
    val thr = t.getDouble(0) + 3 * t.getDouble(1)
    errs.agg(
        sum(when(col("side") === "ref", 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("side") === "curr", 1L).otherwise(0L)).as("n_curr"),
        sum(when(col("side") === "ref" && col("err") > thr, 1L).otherwise(0L)).as("ref_anom"),
        sum(when(col("side") === "curr" && col("err") > thr, 1L).otherwise(0L)).as("curr_anom"),
        avg(when(col("side") === "ref", col("err"))).as("ref_mean_raw"),
        avg(when(col("side") === "curr", col("err"))).as("curr_mean_raw"))
      .selectExpr(
        "'lineitem' AS table_name",
        s"'${PcaCols.mkString(",")}' AS columns",
        "2L AS n_components",
        "n_ref AS ref_n", "n_curr AS curr_n",
        "ref_anom AS ref_anomaly_count", "curr_anom AS curr_anomaly_count",
        "ROUND(ref_anom * 1e0 / n_ref, 6) AS ref_anomaly_ratio",
        "ROUND(curr_anom * 1e0 / n_curr, 6) AS curr_anomaly_ratio",
        "ROUND(ref_mean_raw, 6) AS ref_mean_error",
        "ROUND(curr_mean_raw, 6) AS curr_mean_error",
        s"ROUND($ratioChangeExpr, 6) AS anomaly_ratio_change",
        s"ROUND($errChangeExpr, 6) AS mean_error_change",
        s"(ABS($errChangeExpr) >= 0.3 OR ABS($ratioChangeExpr) >= 0.5) AS significant")
  }

  // shared SQL fragments (identical text in Spark selectExpr and DuckDB)
  private val ratioChangeExpr =
    "CASE WHEN ref_anom > 0 THEN (curr_anom * 1e0 / n_curr - ref_anom * 1e0 / n_ref) / (ref_anom * 1e0 / n_ref) " +
      "WHEN curr_anom > 0 THEN 1.0 ELSE 0.0 END"
  private val errChangeExpr =
    "CASE WHEN ref_mean_raw <> 0 THEN (curr_mean_raw - ref_mean_raw) / ABS(ref_mean_raw) " +
      "WHEN curr_mean_raw <> 0 THEN 1.0 ELSE 0.0 END"

  /** DuckDB twin: the same closed-form fit and gate, CTE for CTE.
    *
    * Degenerate-data caveat: SQL cannot replicate the Scala guards — on a
    * reference frame with a constant feature (corr = NULL/NaN) or a truly
    * repeated smallest eigenvalue, [[pcaAnomalyQuery]] FAILS FAST with a
    * require message while this twin would silently emit NULL-filled rows.
    * The oracle contract only ever runs both engines on data where the fit
    * is well-posed; library callers get the loud Scala failure. */
  def pcaAnomalySql: String = {
    val Seq(q, e, d) = PcaCols
    val refPred = splits.lineitemRefSql
    s"WITH st AS (SELECT AVG($q) AS mu1, STDDEV($q) AS sd1, " +
      s"AVG($e) AS mu2, STDDEV($e) AS sd2, AVG($d) AS mu3, STDDEV($d) AS sd3, " +
      s"CORR($q, $e) AS a, CORR($q, $d) AS b, CORR($e, $d) AS c " +
      s"FROM lineitem WHERE $refPred), " +
      "e0 AS (SELECT *, SQRT((2 * (a * a + b * b + c * c)) / 6) AS p FROM st), " +
      "e1 AS (SELECT *, ACOS(LEAST(1.0, GREATEST(-1.0, (a * b * c) / (p * p * p)))) / 3 AS phi FROM e0), " +
      "e2 AS (SELECT *, 1 - (1 + 2 * p * COS(phi + 2 * PI() / 3)) AS m FROM e1), " +
      // the three pairwise row cross products + their squared norms; the
      // CASE picks the largest exactly like the Scala side's maxBy
      "e3 AS (SELECT *, " +
      "a * c - b * m AS x12, b * a - m * c AS y12, m * m - a * a AS z12, " +
      "m * m - c * c AS x23, c * b - a * m AS y23, a * c - m * b AS z23, " +
      "a * m - b * c AS x13, b * b - m * m AS y13, m * c - a * b AS z13 FROM e2), " +
      "e4 AS (SELECT *, x12 * x12 + y12 * y12 + z12 * z12 AS n12, " +
      "x23 * x23 + y23 * y23 + z23 * z23 AS n23, " +
      "x13 * x13 + y13 * y13 + z13 * z13 AS n13 FROM e3), " +
      "e5 AS (SELECT mu1, sd1, mu2, sd2, mu3, sd3, " +
      "CASE WHEN n12 >= n23 AND n12 >= n13 THEN x12 WHEN n23 >= n13 THEN x23 ELSE x13 END AS v1, " +
      "CASE WHEN n12 >= n23 AND n12 >= n13 THEN y12 WHEN n23 >= n13 THEN y23 ELSE y13 END AS v2, " +
      "CASE WHEN n12 >= n23 AND n12 >= n13 THEN z12 WHEN n23 >= n13 THEN z23 ELSE z13 END AS v3 FROM e4), " +
      "eig AS (SELECT mu1, sd1, mu2, sd2, mu3, sd3, " +
      "v1 / SQRT(v1 * v1 + v2 * v2 + v3 * v3) AS u1, " +
      "v2 / SQRT(v1 * v1 + v2 * v2 + v3 * v3) AS u2, " +
      "v3 / SQRT(v1 * v1 + v2 * v2 + v3 * v3) AS u3 FROM e5), " +
      s"errs AS (SELECT CASE WHEN $refPred THEN 'ref' ELSE 'curr' END AS side, " +
      s"ABS((($q - mu1) / sd1) * u1 + (($e - mu2) / sd2) * u2 + (($d - mu3) / sd3) * u3) AS err " +
      "FROM lineitem, eig), " +
      "thr AS (SELECT AVG(err) + 3 * STDDEV(err) AS t FROM errs WHERE side = 'ref'), " +
      "agg AS (SELECT " +
      "SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END)::BIGINT AS n_ref, " +
      "SUM(CASE WHEN side = 'curr' THEN 1 ELSE 0 END)::BIGINT AS n_curr, " +
      "SUM(CASE WHEN side = 'ref' AND err > t THEN 1 ELSE 0 END)::BIGINT AS ref_anom, " +
      "SUM(CASE WHEN side = 'curr' AND err > t THEN 1 ELSE 0 END)::BIGINT AS curr_anom, " +
      "AVG(CASE WHEN side = 'ref' THEN err END) AS ref_mean_raw, " +
      "AVG(CASE WHEN side = 'curr' THEN err END) AS curr_mean_raw FROM errs, thr) " +
      "SELECT 'lineitem' AS table_name, " +
      s"'${PcaCols.mkString(",")}' AS columns, 2::BIGINT AS n_components, " +
      "n_ref AS ref_n, n_curr AS curr_n, " +
      "ref_anom AS ref_anomaly_count, curr_anom AS curr_anomaly_count, " +
      "ROUND(ref_anom * 1e0 / n_ref, 6) AS ref_anomaly_ratio, " +
      "ROUND(curr_anom * 1e0 / n_curr, 6) AS curr_anomaly_ratio, " +
      "ROUND(ref_mean_raw, 6) AS ref_mean_error, " +
      "ROUND(curr_mean_raw, 6) AS curr_mean_error, " +
      s"ROUND($ratioChangeExpr, 6) AS anomaly_ratio_change, " +
      s"ROUND($errChangeExpr, 6) AS mean_error_change, " +
      s"(ABS($errChangeExpr) >= 0.3 OR ABS($ratioChangeExpr) >= 0.5) AS significant " +
      "FROM agg"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pca_anomaly" -> ((s, d) => pcaAnomalyQuery(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "pca_anomaly" -> pcaAnomalySql,
  )
}
