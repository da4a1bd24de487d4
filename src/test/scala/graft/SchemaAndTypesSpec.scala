package graft

import org.apache.spark.sql.types._
import graft.drift.{SchemaOps, TypeInference}
import graft.plans.SketchModeRewrite.during

class SchemaAndTypesSpec extends SparkSpec {
  import spark.implicits._

  private def f(n: String, t: DataType, nullable: Boolean = true) = StructField(n, t, nullable)

  test("schema diff: added / removed / widened / narrowed / nullable flip") {
    val ref = StructType(Seq(f("a", IntegerType), f("b", StringType), f("c", LongType, nullable = false)))
    val curr = StructType(Seq(f("a", LongType), f("c", LongType), f("d", DoubleType)))
    val d = SchemaOps.diff(ref, curr)
    val byPath = d.groupBy(_.path)
    assert(byPath("a").head.changeType == "type_changed" && byPath("a").head.compatible.contains(true))
    assert(byPath("b").head.changeType == "removed")
    assert(byPath("d").head.changeType == "added")
    assert(byPath("c").head.changeType == "nullable_added")
    // narrowing is incompatible
    val narrow = SchemaOps.diff(StructType(Seq(f("x", LongType))), StructType(Seq(f("x", IntegerType))))
    assert(narrow.head.compatible.contains(false))
  }

  test("schema diff recurses into struct / array / map (O7)") {
    val ref = StructType(Seq(
      f("s", StructType(Seq(f("u", IntegerType), f("gone", StringType)))),
      f("arr", ArrayType(IntegerType, containsNull = true)),
      f("m", MapType(StringType, IntegerType))))
    val curr = StructType(Seq(
      f("s", StructType(Seq(f("u", LongType)))),
      f("arr", ArrayType(LongType, containsNull = false)),
      f("m", MapType(StringType, StringType))))
    val d = SchemaOps.diff(ref, curr)
    assert(d.exists(c => c.path == "s.u" && c.changeType == "type_changed" && c.compatible.contains(true)))
    assert(d.exists(c => c.path == "s.gone" && c.changeType == "removed"))
    assert(d.exists(c => c.path == "arr" && c.changeType == "array_contains_null_changed"))
    assert(d.exists(c => c.path == "arr.element" && c.changeType == "type_changed"))
    assert(d.exists(c => c.path == "m.value" && c.changeType == "type_changed" && c.compatible.contains(false)))
  }

  test("schema diff of a schema with itself is empty") {
    val s = StructType(Seq(f("a", IntegerType), f("b", ArrayType(StringType))))
    assert(SchemaOps.diff(s, s).isEmpty)
  }

  test("type inference rules (column_analyzer.py:72-151)") {
    val df = Seq.tabulate(1000)(i =>
        (i.toLong, i % 3, "v" + (i % 4), s"2024-01-${i % 28 + 1} 00:00:00", i.toDouble))
      .toDF("high_card", "low_card_num", "cat_str", "date_str", "cont")
    val t = TypeInference.infer(df)
    assert(t("high_card") == "numerical")   // distinct/total = 1
    assert(t("low_card_num") == "categorical") // 3/1000 < 0.05
    assert(t("cat_str") == "categorical")
    assert(t("date_str") == "temporal")     // >90% timestamp-castable
    assert(t("cont") == "numerical")
    // approx variant agrees on clear-cut ratios
    val ta = during(spark)(TypeInference.infer(df))
    assert(ta == t)
  }

  test("approx type inference agrees with exact on the driver testdata (bench surface)") {
    val dir = "/root/testdata/sf0.001"
    val exact = TypeInference.typeInferenceQuery(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val approx = during(spark)(TypeInference.typeInferenceQuery(spark, dir).collect())
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(exact.nonEmpty && exact == approx)
  }

  test("timestamp physical type is temporal") {
    val df = Seq(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).toDF("ts")
    assert(TypeInference.infer(df)("ts") == "temporal")
  }
}
