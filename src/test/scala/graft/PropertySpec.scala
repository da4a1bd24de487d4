package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.apache.spark.sql.types._
import graft.drift.{AdaptiveThresholds, CorrelationDrift, SchemaOps}

/** Property-based invariants (SURVEY.md §5.2), mostly over the pure
  * driver-side machinery; the schema-evolution property runs drift reports
  * on the shared test session. */
object PropertySpec extends Properties("graft.drift") {

  private val genType: Gen[DataType] = Gen.oneOf(
    IntegerType, LongType, DoubleType, StringType, BooleanType, FloatType)
  private val genField: Gen[StructField] = for {
    n <- Gen.identifier.map(_.take(8))
    t <- genType
    nullable <- Gen.oneOf(true, false)
  } yield StructField(n, t, nullable)
  private val genSchema: Gen[StructType] = for {
    n <- Gen.choose(1, 8)
    fs <- Gen.listOfN(n, genField)
  } yield StructType(fs.distinctBy(_.name))

  property("diff(s, s) is empty") = forAll(genSchema) { s =>
    SchemaOps.diff(s, s).isEmpty
  }

  property("added in diff(a,b) = removed in diff(b,a)") =
    forAll(genSchema, genSchema) { (a, b) =>
      val ab = SchemaOps.diff(a, b).filter(_.changeType == "added").map(_.path).toSet
      val ba = SchemaOps.diff(b, a).filter(_.changeType == "removed").map(_.path).toSet
      ab == ba
    }

  property("isCompatible is reflexive") = forAll(genType) { t =>
    SchemaOps.isCompatible(t, t)
  }

  property("widening is one-way (no narrowing compatible)") =
    forAll(genType, genType) { (a, b) =>
      !(a != b && SchemaOps.isCompatible(a, b) && SchemaOps.isCompatible(b, a))
    }

  private val genCols: Gen[Seq[String]] =
    Gen.choose(2, 8).map(n => (0 until n).map(i => s"c$i"))

  property("correlation components partition the column set") =
    forAll(genCols, Gen.choose(0L, Long.MaxValue)) { (cols, seed) =>
      val r = new scala.util.Random(seed)
      val corrs = cols.combinations(2).map(p => (p(0), p(1)) -> (r.nextDouble() * 2 - 1)).toMap
      val comp = CorrelationDrift.correlationComponents(corrs, cols)
      // every column has a component id, and ids are members of their component
      comp.keySet == cols.toSet && comp.forall { case (c, id) => comp(id) == id }
    }

  property("components merge symmetric pairs") =
    forAll(genCols) { cols =>
      // chain all columns with corr 1.0 -> single component = min name
      val corrs = cols.sliding(2).collect { case Seq(a, b) => (a, b) -> 1.0 }.toMap
      val comp = CorrelationDrift.correlationComponents(corrs, cols)
      comp.values.toSet.size == 1 && comp.values.head == cols.min
    }

  private val genSizes: Gen[(Long, Long)] = for {
    full <- Gen.choose(1L, 10000000L)
    sample <- Gen.choose(1L, full)
  } yield (sample, full)

  property("sample-size factor is bounded in [0.5, 2.0] and identity when not sampling") =
    forAll(genSizes) { case (sample, full) =>
      val f = AdaptiveThresholds.sampleSizeFactor(sample, full)
      val bounded = f >= 0.5 && f <= 2.0
      val identity = sample < full || f == 1.0
      bounded && identity
    }

  property("sample-size factor is monotone within the sampled regime") =
    forAll(genSizes, Gen.choose(1L, 10000000L)) { case ((s1, full), s2raw) =>
      // NB deliberately excludes sample == full: the reference's formula is
      // non-monotone at that boundary (a >=50% sample gets min_factor 0.5,
      // TIGHTER than the unsampled 1.0 — adaptive_threshold.py:547-549's
      // quirk, preserved). Within sample < full, smaller samples never
      // tighten thresholds.
      val s2 = math.min(s2raw, full - 1)
      val c1 = math.min(s1, full - 1)
      if (c1 < 1 || s2 < 1) org.scalacheck.Prop(true)
      else {
        val (lo, hi) = (math.min(c1, s2), math.max(c1, s2))
        org.scalacheck.Prop(
          AdaptiveThresholds.sampleSizeFactor(lo, full) >=
            AdaptiveThresholds.sampleSizeFactor(hi, full))
      }
    }

  // ---- native vec_dot vs the reference fold, driver-side interpreted eval

  private val genSpecialDouble: Gen[Double] = Gen.frequency(
    8 -> Gen.chooseNum(-1e6, 1e6),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, Double.MinPositiveValue, 1e308))
  private val genVec: Gen[Seq[Double]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, genSpecialDouble))

  private def evalDot(a: Any, b: Any, elemNullable: Boolean = false) =
    graft.functions.VecDot(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        a, ArrayType(DoubleType, containsNull = elemNullable)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        b, ArrayType(DoubleType, containsNull = elemNullable))).eval(null)

  property("vec_dot == left-to-right fold, bit for bit, incl. NaN/Inf/-0.0") =
    forAll(genVec, genVec) { (a, b) =>
      val got = evalDot(a, b)
      if (a.length != b.length) org.scalacheck.Prop(got == null)
      else {
        val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
        org.scalacheck.Prop(java.lang.Double.doubleToLongBits(expected) ==
          java.lang.Double.doubleToLongBits(got.asInstanceOf[Double]))
      }
    }

  property("vec_dot: any null element nulls the product, like the HOF fold") =
    forAll(genVec, Gen.choose(0, 11)) { (a, i) =>
      if (a.isEmpty) org.scalacheck.Prop.passed
      else {
        val boxed: Seq[java.lang.Double] = a.map(Double.box)
        val withNull = boxed.updated(i % a.length, null: java.lang.Double)
        org.scalacheck.Prop(evalDot(withNull, boxed, elemNullable = true) == null)
      }
    }

  // ------------------------------------------------- packing formula model
  // the SQL forms in Packing are closed-form arithmetic; these pin them
  // against brute-force models on arbitrary inputs (the oracle pins
  // cross-engine equality, not formula-vs-intent)

  private val genToks: Gen[List[Long]] =
    Gen.listOf(Gen.choose(1L, 5000L)).map(_.take(200))
  private val W = graft.pipeline.Packing.WindowTokens.toLong

  property("packing fold: conservation, window count, crossing flag") =
    forAll(genToks) { toks =>
      // the assignments fold (start = running cum), as in Packing/StreamingPack
      val starts = toks.scanLeft(0L)(_ + _).init
      val total = toks.sum
      val spans = starts.zip(toks)
      val crossOk = spans.forall { case (s, t) =>
        val crosses = s / W != (s + t - 1) / W
        // brute-force: does any multiple of W fall strictly inside the
        // token span (s, s+t)? (for integer spans this is exactly the
        // div-inequality the SQL uses)
        val boundaryInside = ((s / W + 1) * W) < (s + t)
        crosses == boundaryInside
      }
      val nWindows = (total + W - 1) / W
      val maxLastOk = toks.isEmpty ||
        nWindows == spans.map { case (s, t) => (s + t - 1) / W }.max + 1
      org.scalacheck.Prop(crossOk && maxLastOk)
    }

  property("chunk count closed form equals iterative chunking") = {
    val C = graft.pipeline.Packing.ChunkChars
    val S = graft.pipeline.Packing.ChunkStride
    forAll(Gen.choose(0L, 100000L)) { len =>
      val closed = if (len <= C) 1L else (len - C + S - 1) / S + 1L
      // brute force: emit chunks at 0, S, 2S, ... while the previous chunk
      // did not already reach the end
      var k = 1L
      var lens = List(math.min(C.toLong, len))
      while (k * S + 0 < len && (k - 1) * S + C < len) {
        lens ::= math.min(C.toLong, len - k * S); k += 1
      }
      val closedChars = len + (closed - 1) * (C - S)
      org.scalacheck.Prop(closed == k && closedChars == lens.sum)
    }
  }

  private val genRoundable: Gen[Double] = Gen.frequency(
    5 -> Gen.choose(-9e9, 9e9),
    3 -> Gen.choose(-1.0, 1.0),
    1 -> Gen.choose(-1e-5, 1e-5),
    1 -> Gen.oneOf(0.0, -0.0, 0.1234565, -0.1234565, 8.999999999e9))

  property("pr6Scalar is idempotent where the scaled grid is exact") =
    forAll(genRoundable) { x =>
      // idempotence holds while ulp(x*1e6) < 0.5 (|x| < ~2.25e9): beyond
      // that the rounded double's re-scaled value can sit a whole unit off
      // its grid point, so a second rounding may shift one step. That is
      // NOT a cross-engine hazard (both engines shift identically) — the
      // property documents the domain where re-rounding is a no-op.
      val once = graft.drift.pr6Scalar(x)
      math.abs(x) >= 2.0e9 ||
        java.lang.Double.doubleToLongBits(graft.drift.pr6Scalar(once)) ==
          java.lang.Double.doubleToLongBits(once)
    }

  property("pr6Scalar moves a value at most half a grid step (+ scaled ulps)") =
    forAll(genRoundable) { x =>
      // near the 9e9 guard, x*1e6 approaches 2^53 where one ulp of the
      // scaled value is ~2/1e6 — the bound must carry that slop
      val slop = 2 * math.ulp(x * 1e6) / 1e6 + math.ulp(x)
      math.abs(graft.drift.pr6Scalar(x) - x) <= 5.0e-7 + slop
    }

  property("pr6Scalar is monotone") =
    forAll(genRoundable, genRoundable) { (a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      graft.drift.pr6Scalar(lo) <= graft.drift.pr6Scalar(hi)
    }

  property("pr6Scalar is odd (numeric sign symmetry)") =
    forAll(genRoundable) { x =>
      graft.drift.pr6Scalar(-x) == -graft.drift.pr6Scalar(x) ||
        graft.drift.pr6Scalar(x) == 0.0 // ±0 normalize to equal-compare
    }

  // ---- schema evolution: a retyped column never aborts a drift report

  /** The reference snapshot: one column per base type, 30 rows. */
  private def evolvingBase(spark: org.apache.spark.sql.SparkSession) = spark.range(30).selectExpr(
    "id", "CAST(id AS INT) AS i", "id * 3 AS l", "id * 1.5 AS d", "CAST(id % 7 AS STRING) AS s",
    "CONCAT('v', CAST(id % 4 AS STRING)) AS t", "DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS dt",
    "CAST(id * 1.25 AS DECIMAL(6,2)) AS dc")

  /** A retype of a column: (target type, SQL text over the column `x`). */
  private val genRetype: Gen[(DataType, String => String)] = Gen.oneOf(
    (StringType, (x: String) => s"CAST($x AS STRING)"),
    (StringType, (x: String) => s"CASE WHEN id % 3 = 0 THEN 'n/a' ELSE CAST($x AS STRING) END"),
    (LongType, (x: String) => s"TRY_CAST($x AS BIGINT)"),
    (IntegerType, (x: String) => s"TRY_CAST($x AS INT)"),
    (DoubleType, (x: String) => s"TRY_CAST($x AS DOUBLE)"),
    (DecimalType(12, 2), (x: String) => s"TRY_CAST(TRY_CAST($x AS DECIMAL(12,2)) * 1000 AS DECIMAL(12,2))"),
    (DecimalType(4, 1), (x: String) => s"TRY_CAST($x AS DECIMAL(4,1))"),
    (DateType, (x: String) => s"TRY_CAST($x AS DATE)"))

  property("detectDrift never throws on a current snapshot with retyped columns") = {
    val spark = TestSpark.spark
    val ref = evolvingBase(spark).drop("id")
    val cols = ref.columns.toSeq
    forAll(Gen.listOfN(cols.size, genRetype), Gen.oneOf("summary", "standard")) { (retypes, profile) =>
      val base = evolvingBase(spark)
      val curr = base.selectExpr(cols.zip(retypes).map { case (c, (t, sql)) =>
        // a retype Spark cannot express keeps the column as it is
        if (org.apache.spark.sql.catalyst.expressions.Cast.canTryCast(base.schema(c).dataType, t))
          s"${sql(c)} AS $c"
        else c
      }: _*)
      val r = new graft.drift.DriftDetector(spark).detectDrift(ref, curr,
        graft.drift.DriftConfig(profile, sampleSize = 0))
      val retyped = cols.filter(c => ref.schema(c).dataType != curr.schema(c).dataType).toSet
      val typeChanged = r.schemaChanges.filter(_.changeType == "type_changed").map(_.path).toSet
      (typeChanged == retyped) :| s"type_changed $typeChanged, retyped $retyped" &&
        r.errors.isEmpty :| s"errors ${r.errors}"
    }
  }

  property("driver contract: every oracle key has a query and names align") = {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val b = SparkEntry.benchQueries.keySet
    // every oracle belongs to a declared query; the bench surface covers
    // exactly the query surface (overrides replace, never add/drop)
    org.scalacheck.Prop(o.subsetOf(q) && b == q)
  }
}
