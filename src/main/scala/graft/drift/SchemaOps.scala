package graft.drift

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema comparison machinery — reference O5–O10 (SURVEY.md §2.b; semantics
  * from /root/reference/schema_analyzer.py). All driver-side recursion over
  * `StructType`s — no cluster work, exactly as the reference — plus the
  * nested-type content drift (O8/O9) which IS distributed (one agg per
  * frame).
  */
object SchemaOps extends graft.OperatorModule {

  /** One schema change record (flat, path-addressed for nested types). */
  case class SchemaChange(changeType: String, path: String,
      refType: Option[String], currType: Option[String], compatible: Option[Boolean])

  /** Numeric widening compatibility (schema_analyzer.py:739-787). */
  def isCompatible(ref: DataType, curr: DataType): Boolean = {
    if (ref == curr) return true
    val widening: Set[(String, String)] = Set(
      ("ByteType", "ShortType"), ("ByteType", "IntegerType"), ("ByteType", "LongType"),
      ("ByteType", "FloatType"), ("ByteType", "DoubleType"),
      ("ShortType", "IntegerType"), ("ShortType", "LongType"),
      ("ShortType", "FloatType"), ("ShortType", "DoubleType"),
      ("IntegerType", "LongType"), ("IntegerType", "FloatType"), ("IntegerType", "DoubleType"),
      ("LongType", "FloatType"), ("LongType", "DoubleType"),
      ("FloatType", "DoubleType"))
    widening.contains((ref.toString.takeWhile(_ != '('), curr.toString.takeWhile(_ != '(')))
  }

  /** O6 + O7: full recursive diff of two schemas — added/removed columns,
    * type changes (with compatibility), nullable flips, metadata changes,
    * recursing through struct fields, array elements and map keys/values
    * (schema_analyzer.py:427-550, 649-737). */
  def diff(ref: StructType, curr: StructType, path: String = ""): Seq[SchemaChange] = {
    val refMap = ref.fields.map(f => f.name -> f).toMap
    val currMap = curr.fields.map(f => f.name -> f).toMap
    val added = curr.fields.filterNot(f => refMap.contains(f.name)).map { f =>
      SchemaChange("added", s"$path${f.name}", None, Some(f.dataType.simpleString), None)
    }
    val removed = ref.fields.filterNot(f => currMap.contains(f.name)).map { f =>
      SchemaChange("removed", s"$path${f.name}", Some(f.dataType.simpleString), None, None)
    }
    val common = ref.fields.filter(f => currMap.contains(f.name)).flatMap { rf =>
      val cf = currMap(rf.name)
      val p = s"$path${rf.name}"
      val typeChanges = diffType(rf.dataType, cf.dataType, p)
      val nullableChange =
        if (rf.nullable != cf.nullable)
          Seq(SchemaChange(if (cf.nullable) "nullable_added" else "nullable_removed",
            p, Some(rf.nullable.toString), Some(cf.nullable.toString), None))
        else Seq.empty
      val metadataChange =
        if (rf.metadata != cf.metadata)
          Seq(SchemaChange("metadata_changed", p,
            Some(rf.metadata.json), Some(cf.metadata.json), None))
        else Seq.empty
      typeChanges ++ nullableChange ++ metadataChange
    }
    (added ++ removed ++ common).sortBy(c => (c.path, c.changeType))
  }

  private def diffType(ref: DataType, curr: DataType, path: String): Seq[SchemaChange] =
    (ref, curr) match {
      case (r, c) if r == c => Seq.empty
      case (r: StructType, c: StructType) => diff(r, c, s"$path.")
      case (r: ArrayType, c: ArrayType) =>
        val containsNull =
          if (r.containsNull != c.containsNull)
            Seq(SchemaChange("array_contains_null_changed", path,
              Some(r.containsNull.toString), Some(c.containsNull.toString), None))
          else Seq.empty
        containsNull ++ diffType(r.elementType, c.elementType, s"$path.element")
      case (r: MapType, c: MapType) =>
        val valueNull =
          if (r.valueContainsNull != c.valueContainsNull)
            Seq(SchemaChange("map_value_contains_null_changed", path,
              Some(r.valueContainsNull.toString), Some(c.valueContainsNull.toString), None))
          else Seq.empty
        valueNull ++ diffType(r.keyType, c.keyType, s"$path.key") ++
          diffType(r.valueType, c.valueType, s"$path.value")
      case (r, c) =>
        Seq(SchemaChange("type_changed", path, Some(r.simpleString),
          Some(c.simpleString), Some(isCompatible(r, c))))
    }

  /** O10 schema profile: physical-type histogram + complex/non-nullable
    * census (schema_analyzer.py:552-599). */
  def profile(schema: StructType): Map[String, Any] = Map(
    "column_count" -> schema.fields.length,
    "type_histogram" -> schema.fields.groupBy(_.dataType.simpleString).view.mapValues(_.length).toMap,
    "complex_columns" -> schema.fields.filter(f => f.dataType match {
      case _: StructType | _: ArrayType | _: MapType => true; case _ => false
    }).map(_.name).toSeq.sorted,
    "non_nullable_columns" -> schema.fields.filterNot(_.nullable).map(_.name).toSeq.sorted)

  /** O10 profile diff (schema_analyzer.py:601-647). */
  def compareProfiles(p1: Map[String, Any], p2: Map[String, Any]): Map[String, Any] = {
    val h1 = p1("type_histogram").asInstanceOf[Map[String, Int]]
    val h2 = p2("type_histogram").asInstanceOf[Map[String, Int]]
    Map(
      "column_count_change" -> (p2("column_count").asInstanceOf[Int] - p1("column_count").asInstanceOf[Int]),
      "type_histogram_changes" -> (h1.keySet ++ h2.keySet).toSeq.sorted
        .map(t => t -> (h2.getOrElse(t, 0) - h1.getOrElse(t, 0))).filter(_._2 != 0).toMap,
      "complex_columns_added" -> (p2("complex_columns").asInstanceOf[Seq[String]]
        .diff(p1("complex_columns").asInstanceOf[Seq[String]])),
      "non_nullable_changes" -> (p2("non_nullable_columns").asInstanceOf[Seq[String]]
        .diff(p1("non_nullable_columns").asInstanceOf[Seq[String]])))
  }

  // --------------------------------------------------- schema_diff query

  /** Schema-diff as a driver-checkable query: diff a projected "v1" of
    * lineitem against a tweaked "v2" (column dropped / added / widened).
    * Deterministic, so the oracle is a VALUES literal. */
  def schemaDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, dir, "lineitem")
    val v1 = li.select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
      col("l_quantity"), col("l_returnflag"))
    val v2 = li.select(col("l_orderkey"), col("l_partkey").cast("double"),
      col("l_linenumber").cast("long"), col("l_quantity"), col("l_linestatus"))
    diff(v1.schema, v2.schema)
      .map(c => (c.changeType, c.path, c.refType.orNull, c.currType.orNull,
        c.compatible.map(_.toString).orNull))
      .toDF("change_type", "path", "ref_type", "curr_type", "compatible")
      .orderBy("path", "change_type")
  }

  val schemaDiffSql: String =
    "SELECT * FROM (VALUES " +
      "('added', 'l_linestatus', CAST(NULL AS VARCHAR), 'string', CAST(NULL AS VARCHAR)), " +
      "('type_changed', 'l_linenumber', 'int', 'bigint', 'true'), " +
      "('type_changed', 'l_partkey', 'bigint', 'double', 'true'), " +
      "('removed', 'l_returnflag', 'string', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))" +
      ") t(change_type, path, ref_type, curr_type, compatible) ORDER BY path, change_type"

  // ----------------------------------- O8/O9 nested-content drift query

  /** Array-content drift (O9) over arrays BUILT from the testdata (the
    * driver tables have no nested columns): per order, the array of its
    * lineitem quantities. Computes null-ratio, empty-ratio and avg size per
    * snapshot side + threshold flags
    * (/root/reference/schema_analyzer.py:225-284; thresholds 0.1/0.1/0.2). */
  def arrayDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = withSide(table(spark, dir, "lineitem"), splits.lineitemRef)
    val arrays = li.groupBy("side", "l_orderkey")
      .agg(collect_list("l_quantity").as("qties"))
    val stats = arrays.groupBy("side").agg(
      count(lit(1)).as("n"),
      avg(when(col("qties").isNull, 1.0).otherwise(0.0)).as("null_ratio"),
      avg(when(size(col("qties")) === 0, 1.0).otherwise(0.0)).as("empty_ratio"),
      avg(size(col("qties")).cast("double")).as("avg_size"))
    def side(s: String) = stats.filter(col("side") === s)
      .select(col("n").as(s"${s}_n"), col("null_ratio").as(s"${s}_null_ratio"),
        col("empty_ratio").as(s"${s}_empty_ratio"), col("avg_size").as(s"${s}_avg_size"))
    side("ref").crossJoin(side("curr"))
      .selectExpr(
        "'lineitem_quantities_by_order' AS array_column",
        "ref_n", "curr_n",
        "ROUND(ref_null_ratio, 6) AS ref_null_ratio", "ROUND(curr_null_ratio, 6) AS curr_null_ratio",
        "ROUND(ref_empty_ratio, 6) AS ref_empty_ratio", "ROUND(curr_empty_ratio, 6) AS curr_empty_ratio",
        "ROUND(ref_avg_size, 6) AS ref_avg_size", "ROUND(curr_avg_size, 6) AS curr_avg_size",
        "(ABS(curr_null_ratio - ref_null_ratio) > 0.1) AS null_drift",
        "(ABS(curr_empty_ratio - ref_empty_ratio) > 0.1) AS empty_drift",
        s"(ABS(${relDiffSql("ref_avg_size", "curr_avg_size")}) > 0.2) AS size_drift")
  }

  val arrayDriftSql: String = {
    def sideAgg(pred: String) =
      "SELECT COUNT(*) AS n, AVG(CASE WHEN qties IS NULL THEN 1e0 ELSE 0e0 END) AS null_ratio, " +
        "AVG(CASE WHEN LEN(qties) = 0 THEN 1e0 ELSE 0e0 END) AS empty_ratio, " +
        "AVG(LEN(qties) * 1e0) AS avg_size FROM " +
        s"(SELECT l_orderkey, LIST(l_quantity) AS qties FROM lineitem WHERE $pred GROUP BY 1) a"
    s"SELECT 'lineitem_quantities_by_order' AS array_column, r.n AS ref_n, c.n AS curr_n, " +
      "ROUND(r.null_ratio, 6) AS ref_null_ratio, ROUND(c.null_ratio, 6) AS curr_null_ratio, " +
      "ROUND(r.empty_ratio, 6) AS ref_empty_ratio, ROUND(c.empty_ratio, 6) AS curr_empty_ratio, " +
      "ROUND(r.avg_size, 6) AS ref_avg_size, ROUND(c.avg_size, 6) AS curr_avg_size, " +
      "(ABS(c.null_ratio - r.null_ratio) > 0.1) AS null_drift, " +
      "(ABS(c.empty_ratio - r.empty_ratio) > 0.1) AS empty_drift, " +
      s"(ABS(${relDiffSql("r.avg_size", "c.avg_size")}) > 0.2) AS size_drift " +
      // NOT COALESCE(pred, FALSE), not NOT(pred): rows whose split column is
      // NULL land on the curr side in Spark's withSide otherwise-branch, and
      // a bare NOT(pred) would drop them in DuckDB (NOT NULL is NULL)
      s"FROM (${sideAgg(splits.lineitemRefSql)}) r, " +
      s"(${sideAgg(s"NOT COALESCE(${splits.lineitemRefSql}, FALSE)")}) c"
  }

  // ------------------------------------------- O8 struct content drift

  /** O8 struct-field null drift over a side-tagged frame, any struct column
    * (/root/reference/schema_analyzer.py:156-223). One aggregation computes
    * the column-level null ratio and every dotted field's null ratio; the
    * field denominator is total − struct_nulls while the numerator counts
    * field-null rows INCLUDING struct-null rows — a reference quirk
    * preserved deliberately. Deviation (like z_outliers): every field is
    * emitted with a `significant` flag instead of silently dropping
    * sub-threshold fields. */
  def structDriftForFrames(tagged: DataFrame, column: String,
      threshold: Double = 0.1): DataFrame = {
    val fields = tagged.schema(column).dataType.asInstanceOf[StructType].fields.map(_.name).toSeq
    val aggs = Seq(
      count(lit(1)).as("total"),
      sum(when(col(column).isNull, 1L).otherwise(0L)).as("col_null")) ++
      fields.map(f => sum(when(col(column).getField(f).isNull, 1L).otherwise(0L)).as(s"${f}__null"))
    val statNames = Seq("total", "col_null") ++ fields.map(f => s"${f}__null")
    val pivAggs = statNames.flatMap { c => Seq(
      max(when(col("side") === "ref", col(c))).as(s"ref_$c"),
      max(when(col("side") === "curr", col(c))).as(s"curr_$c")) }
    val piv = tagged.groupBy("side").agg(aggs.head, aggs.tail: _*)
      .groupBy().agg(pivAggs.head, pivAggs.tail: _*)
    val colRow = "CAST(NULL AS STRING), ref_col_null * 1e0 / ref_total, curr_col_null * 1e0 / curr_total"
    val fieldRows = fields.map { f =>
      s"'$f', CASE WHEN ref_total - ref_col_null > 0 THEN ref_${f}__null * 1e0 / (ref_total - ref_col_null) ELSE 0e0 END, " +
        s"CASE WHEN curr_total - curr_col_null > 0 THEN curr_${f}__null * 1e0 / (curr_total - curr_col_null) ELSE 0e0 END"
    }
    piv.select(expr(s"stack(${fields.size + 1}, $colRow, ${fieldRows.mkString(", ")}) as " +
        "(field, ref_null_ratio, curr_null_ratio)"))
      .select(lit(column).as("struct_column"), col("field"),
        r6(col("ref_null_ratio")).as("ref_null_ratio"),
        r6(col("curr_null_ratio")).as("curr_null_ratio"),
        r6(abs(col("curr_null_ratio") - col("ref_null_ratio"))).as("null_ratio_change"),
        (abs(col("curr_null_ratio") - col("ref_null_ratio")) >= threshold).as("significant"))
  }

  /** struct_drift query: a struct column synthesized from `orders` (the
    * driver tables have no nested columns) with deterministic struct-level
    * and field-level nulls, so both drift denominators are exercised. */
  def structDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val tagged = withSide(table(spark, dir, "orders"), splits.ordersRef)
      .withColumn("order_info", when(col("o_orderkey") % 19 === 0, lit(null)).otherwise(
        struct(col("o_orderstatus").as("status"),
          when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("o_totalprice")).as("price"))))
    structDriftForFrames(tagged, "order_info").orderBy("field")
  }

  val structDriftSql: String = {
    val ref = splits.ordersRefSql
    "WITH t AS (SELECT CASE WHEN " + ref + " THEN 'ref' ELSE 'curr' END AS side, " +
      "CASE WHEN o_orderkey % 19 = 0 THEN NULL ELSE struct_pack(status := o_orderstatus, " +
      "price := CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END) END AS s FROM orders), " +
      "w AS (SELECT side, COUNT(*) AS total, SUM(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS col_null, " +
      "SUM(CASE WHEN s.status IS NULL THEN 1 ELSE 0 END) AS status__null, " +
      "SUM(CASE WHEN s.price IS NULL THEN 1 ELSE 0 END) AS price__null FROM t GROUP BY 1), " +
      "piv AS (SELECT MAX(CASE WHEN side = 'ref' THEN total END) AS ref_total, " +
      "MAX(CASE WHEN side = 'curr' THEN total END) AS curr_total, " +
      "MAX(CASE WHEN side = 'ref' THEN col_null END) AS ref_col_null, " +
      "MAX(CASE WHEN side = 'curr' THEN col_null END) AS curr_col_null, " +
      "MAX(CASE WHEN side = 'ref' THEN status__null END) AS ref_status__null, " +
      "MAX(CASE WHEN side = 'curr' THEN status__null END) AS curr_status__null, " +
      "MAX(CASE WHEN side = 'ref' THEN price__null END) AS ref_price__null, " +
      "MAX(CASE WHEN side = 'curr' THEN price__null END) AS curr_price__null FROM w), " +
      "rows_ AS (SELECT CAST(NULL AS VARCHAR) AS field, ref_col_null * 1e0 / ref_total AS r, " +
      "curr_col_null * 1e0 / curr_total AS c FROM piv " +
      "UNION ALL SELECT 'status', CASE WHEN ref_total - ref_col_null > 0 THEN ref_status__null * 1e0 / (ref_total - ref_col_null) ELSE 0e0 END, " +
      "CASE WHEN curr_total - curr_col_null > 0 THEN curr_status__null * 1e0 / (curr_total - curr_col_null) ELSE 0e0 END FROM piv " +
      "UNION ALL SELECT 'price', CASE WHEN ref_total - ref_col_null > 0 THEN ref_price__null * 1e0 / (ref_total - ref_col_null) ELSE 0e0 END, " +
      "CASE WHEN curr_total - curr_col_null > 0 THEN curr_price__null * 1e0 / (curr_total - curr_col_null) ELSE 0e0 END FROM piv) " +
      "SELECT 'order_info' AS struct_column, field, ROUND(r, 6) AS ref_null_ratio, " +
      "ROUND(c, 6) AS curr_null_ratio, ROUND(ABS(c - r), 6) AS null_ratio_change, " +
      "(ABS(c - r) >= 0.1) AS significant FROM rows_ ORDER BY field"
  }

  // ------------------------------------------- O9 map content drift

  /** O9 map-content drift over a side-tagged frame
    * (/root/reference/schema_analyzer.py:286-345): null ratio over all rows,
    * empty ratio and avg size over non-null rows, thresholds 0.1/0.1/0.2.
    * The size-change ratio uses the reference's own formula
    * (|curr−ref|/ref, 0 when ref=0). */
  def mapDriftForFrames(tagged: DataFrame, column: String): DataFrame = {
    val stats = tagged.groupBy("side").agg(
      count(lit(1)).as("total"),
      sum(when(col(column).isNull, 1L).otherwise(0L)).as("nulls"),
      sum(when(col(column).isNotNull && size(col(column)) === 0, 1L).otherwise(0L)).as("empties"),
      sum(when(col(column).isNotNull, size(col(column)).cast("long")).otherwise(0L)).as("size_sum"))
    def side(s: String) = stats.filter(col("side") === s).select(
      col("total").as(s"${s}_n"),
      (col("nulls") * 1e0 / col("total")).as(s"${s}_null_ratio"),
      when(col("total") - col("nulls") > 0, col("empties") * 1e0 / (col("total") - col("nulls")))
        .otherwise(0.0).as(s"${s}_empty_ratio"),
      when(col("total") - col("nulls") > 0, col("size_sum") * 1e0 / (col("total") - col("nulls")))
        .otherwise(0.0).as(s"${s}_avg_size"))
    side("ref").crossJoin(side("curr"))
      .selectExpr(
        s"'$column' AS map_column",
        "ref_n", "curr_n",
        "ROUND(ref_null_ratio, 6) AS ref_null_ratio", "ROUND(curr_null_ratio, 6) AS curr_null_ratio",
        "ROUND(ref_empty_ratio, 6) AS ref_empty_ratio", "ROUND(curr_empty_ratio, 6) AS curr_empty_ratio",
        "ROUND(ref_avg_size, 6) AS ref_avg_size", "ROUND(curr_avg_size, 6) AS curr_avg_size",
        "(ABS(curr_null_ratio - ref_null_ratio) >= 0.1) AS null_drift",
        "(ABS(curr_empty_ratio - ref_empty_ratio) >= 0.1) AS empty_drift",
        "((CASE WHEN ref_avg_size > 0 THEN ABS(curr_avg_size - ref_avg_size) / ref_avg_size ELSE 0e0 END) >= 0.2) AS size_drift")
  }

  /** map_drift query: a map column synthesized from `lineitem` with
    * deterministic nulls, empty maps and varying cardinality. */
  def mapDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val small = map(lit("returnflag"), col("l_returnflag"), lit("linestatus"), col("l_linestatus"))
    val big = map(lit("returnflag"), col("l_returnflag"), lit("linestatus"), col("l_linestatus"),
      lit("linenumber"), col("l_linenumber").cast("string"))
    val tagged = withSide(table(spark, dir, "lineitem"), splits.lineitemRef)
      .withColumn("attrs",
        when(col("l_orderkey") % 23 === 0, lit(null))
          .when(col("l_orderkey") % 11 === 0, typedLit(Map.empty[String, String]))
          .when(col("l_linenumber") % 2 === 0, big)
          .otherwise(small))
    mapDriftForFrames(tagged, "attrs")
  }

  val mapDriftSql: String = {
    def sideAgg(pred: String) =
      "SELECT COUNT(*) AS total, SUM(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS nulls, " +
        "SUM(CASE WHEN m IS NOT NULL AND cardinality(m) = 0 THEN 1 ELSE 0 END) AS empties, " +
        "SUM(CASE WHEN m IS NOT NULL THEN cardinality(m) ELSE 0 END) AS size_sum FROM " +
        "(SELECT CASE WHEN l_orderkey % 23 = 0 THEN NULL " +
        "WHEN l_orderkey % 11 = 0 THEN MAP([],[])::MAP(VARCHAR, VARCHAR) " +
        "WHEN l_linenumber % 2 = 0 THEN MAP(['returnflag','linestatus','linenumber'], [l_returnflag, l_linestatus, CAST(l_linenumber AS VARCHAR)]) " +
        "ELSE MAP(['returnflag','linestatus'], [l_returnflag, l_linestatus]) END AS m " +
        s"FROM lineitem WHERE $pred) t"
    def ratios(a: String, p: String) = Seq(
      s"$a.nulls * 1e0 / $a.total AS ${p}_null_ratio",
      s"CASE WHEN $a.total - $a.nulls > 0 THEN $a.empties * 1e0 / ($a.total - $a.nulls) ELSE 0e0 END AS ${p}_empty_ratio",
      s"CASE WHEN $a.total - $a.nulls > 0 THEN $a.size_sum * 1e0 / ($a.total - $a.nulls) ELSE 0e0 END AS ${p}_avg_size")
    "SELECT 'attrs' AS map_column, ref_n, curr_n, " +
      "ROUND(ref_null_ratio, 6) AS ref_null_ratio, ROUND(curr_null_ratio, 6) AS curr_null_ratio, " +
      "ROUND(ref_empty_ratio, 6) AS ref_empty_ratio, ROUND(curr_empty_ratio, 6) AS curr_empty_ratio, " +
      "ROUND(ref_avg_size, 6) AS ref_avg_size, ROUND(curr_avg_size, 6) AS curr_avg_size, " +
      "(ABS(curr_null_ratio - ref_null_ratio) >= 0.1) AS null_drift, " +
      "(ABS(curr_empty_ratio - ref_empty_ratio) >= 0.1) AS empty_drift, " +
      "((CASE WHEN ref_avg_size > 0 THEN ABS(curr_avg_size - ref_avg_size) / ref_avg_size ELSE 0e0 END) >= 0.2) AS size_drift FROM " +
      s"(SELECT r.total AS ref_n, c.total AS curr_n, ${ratios("r", "ref").mkString(", ")}, " +
      s"${ratios("c", "curr").mkString(", ")} FROM (${sideAgg(splits.lineitemRefSql)}) r, " +
      s"(${sideAgg(s"NOT COALESCE(${splits.lineitemRefSql}, FALSE)")}) c) z"
  }

  // ----------------------------------------------------------------- API

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "schema_diff" -> ((s, d) => schemaDiffQuery(s, d)),
    "array_drift" -> ((s, d) => arrayDriftQuery(s, d)),
    "struct_drift" -> ((s, d) => structDriftQuery(s, d)),
    "map_drift" -> ((s, d) => mapDriftQuery(s, d)),
    "type_inference" -> ((s, d) => TypeInference.typeInferenceQuery(s, d)),
  )

  def oracles: Map[String, String] = Map(
    "schema_diff" -> schemaDiffSql,
    "array_drift" -> arrayDriftSql,
    "struct_drift" -> structDriftSql,
    "map_drift" -> mapDriftSql,
    "type_inference" -> TypeInference.typeInferenceSql,
  )
}
