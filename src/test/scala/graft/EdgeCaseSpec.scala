package graft

import org.apache.spark.sql.functions._
import graft.drift._
import graft.pipeline.{Dedup, EntityResolution}

/** Micro-fixtures for the zero-denominator and degenerate paths
  * (FIXTURES.md §C): zero-variance column, all-null column, single
  * category, tiny frames. The engine must never throw — worst case it
  * reports no drift or a null-safe score. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("zero-variance column: no drift between identical constants") {
    val df = Seq.fill(50)(7.0).toDF("x")
    val r = NumericDrift.driftForPair(df, df, Seq("x")).collect()(0)
    assert(r.getAs[Double]("drift_score") == 0.0)
    assert(!r.getAs[Boolean]("drift_detected"))
  }

  test("zero-variance ref vs shifted curr: caps hold, no division blowup") {
    val ref = Seq.fill(50)(7.0).toDF("x")
    val curr = Seq.fill(50)(9.0).toDF("x")
    val r = NumericDrift.scoreForPair(ref, curr, Seq("x")).collect()(0)
    val s = r.getAs[Double]("drift_score")
    assert(s >= 0.0 && s <= 1.0)
  }

  test("all-null numeric column does not throw") {
    val ref = Seq.tabulate(20)(_ => (1.0, Option.empty[Double])).toDF("ok", "nul")
    val rows = NumericDrift.driftForPair(ref, ref, Seq("ok", "nul")).collect()
    assert(rows.length == 2)
    val nul = rows.find(_.getAs[String]("column_name") == "nul").get
    assert(nul.getAs[Double]("null_diff") == 0.0)
  }

  test("single-category column: JS 0, chi-square guarded") {
    val df = Seq.fill(30)("only").toDF("c")
    val r = CategoricalDrift.categoricalDriftForPair(df, df, Seq("c")).collect()(0)
    assert(r.getAs[Double]("js_divergence") == 0.0)
    assert(!r.getAs[Boolean]("drift_detected"))
  }

  test("tiny frames (below chi-square minimum) still produce verdicts") {
    val ref = Seq("a", "b", "a").toDF("c")
    val curr = Seq("a", "b", "b").toDF("c")
    val r = CategoricalDrift.categoricalDriftForPair(ref, curr, Seq("c")).collect()(0)
    val score = r.getAs[Double]("drift_score")
    assert(score >= 0.0 && score <= 1.0)
  }

  test("orchestrator survives a frame with only an id-like column") {
    val ref = (1L to 100L).toDF("id")
    val curr = (50L to 150L).toDF("id")
    val rep = new DriftDetector(spark).detectDrift(ref, curr, DriftConfig(sampleSize = 0))
    assert(rep.errors.isEmpty)
    assert(rep.numeric.nonEmpty)
  }

  test("summary profile + aggressive sampling: report completes, modules skipped") {
    val ref = Seq.tabulate(5000)(i => (i.toDouble, "c" + (i % 4))).toDF("x", "c")
    val curr = Seq.tabulate(5000)(i => (i.toDouble * 1.3, "c" + (i % 5))).toDF("x", "c")
    // sampling 5000 -> 500 (ratio 0.1) triggers the O38 loosening; the
    // summary profile must skip distributions and rare-value analysis
    val rep = new DriftDetector(spark).detectDrift(ref, curr,
      DriftConfig("summary", sampleSize = 500))
    assert(rep.errors.isEmpty)
    assert(rep.quantileShifts.collect().isEmpty) // distribution module off
    assert(rep.jsFull.collect().isEmpty)
    assert(rep.rareCategories.collect().isEmpty) // rare events off
    assert(rep.numeric.nonEmpty && rep.categorical.nonEmpty) // core still runs
  }

  test("orchestrator survives an empty current frame") {
    val ref = Seq.tabulate(100)(i => (i.toDouble, "c" + (i % 3))).toDF("x", "c")
    val curr = ref.filter(col("x") < -1) // empty, same schema
    val rep = new DriftDetector(spark).detectDrift(ref, curr, DriftConfig(sampleSize = 0))
    // no family may blow up the run; per-column pair stats drop columns
    // missing on either side, so the report is quiet rather than crashed
    assert(rep.assessment.nonEmpty)
    assert(rep.numeric.isEmpty || rep.numeric.forall(n => !n.driftScore.isNaN))
  }

  test("a throwing verdict pass surfaces its own exception, cancels its siblings, leaks nothing") {
    // a string column pinned numerical fails the numeric pass under ANSI
    // while the categorical pass and the families are still running
    def frame(shift: Int) = Seq.tabulate(4000)(i =>
      ((i + shift).toDouble, s"code-$i", "c" + (i % 3))).toDF("x", "code", "c")
    val (ref, curr) = (frame(0), frame(7))
    val direct = intercept[Exception](
      NumericDrift.driftForPair(ref, curr, Seq("x", "code")).collect())
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (e, log) = jobsOf(intercept[Exception](new DriftDetector(spark).detectDrift(ref, curr,
      DriftConfig(sampleSize = 0, customColumnTypes = Map("code" -> "numerical")))))
    // which malformed row a task hits first varies, so compare the condition
    def condition(t: Throwable) = t match {
      case st: org.apache.spark.SparkThrowable => st.getCondition
      case _ => ""
    }
    assert(e.getClass == direct.getClass && condition(e) == "CAST_INVALID_INPUT" &&
      condition(direct) == condition(e), e)
    assert(log.jobs.values.exists(_.startsWith("drift:")))
    assert(log.running.isEmpty, s"jobs still running after the throw: ${log.running}")
    // the status store is fed by its own listener queue
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(sc.getPersistentRDDs.keySet.toSet == before,
      s"leaked RDDs: ${sc.getPersistentRDDs.keySet.toSet -- before}")
  }

  test("NaN and ±Infinity count as missing: no report field is NaN, no mean/std/range cause") {
    // the same 30,000 rows on both sides, except that 0.1% of the current
    // side's x are NaN, +Infinity or −Infinity (none of them an extreme)
    val id = col("id")
    val x = (id * 37) % 10007 + 0.5
    def side(xs: org.apache.spark.sql.Column) = spark.range(30000)
      .select(xs.as("x"), (x * 2 + id % 7).as("y"), (id % 4).cast("string").as("c"))
    val ref = side(x)
    val curr = side(when(id % 3000 === 0, Double.NaN).when(id % 3000 === 1, Double.PositiveInfinity)
      .when(id % 3000 === 2, Double.NegativeInfinity).otherwise(x))
    val rep = new DriftDetector(spark).detectDrift(ref, curr, DriftConfig("deep_dive", sampleSize = 0,
      targetColumn = Some("y"), customColumnTypes = Map("x" -> "numerical", "y" -> "numerical")))
    assert(rep.errors.isEmpty, rep.errors.mkString("; "))
    val nx = rep.numeric.find(_.column == "x").get
    Seq(nx.refMean, nx.currMean, nx.meanRelDiff, nx.medianRelDiff, nx.stdRelDiff, nx.iqrRelDiff,
      nx.rangeRelDiff, nx.nullDiff, nx.driftScore).foreach(v => assert(!v.isNaN, nx))
    assert(math.abs(nx.nullDiff - 0.001) < 1e-9, nx)
    assert(Set("mean", "std_dev", "range").intersect(nx.driftCauses.toSet).isEmpty, nx)
    val frames = Seq(rep.quantileShifts, rep.shapes, rep.jsFull, rep.rareValueChanges, rep.histograms,
      rep.zOutliers, rep.correlationChanges, rep.rareCategories, rep.groupDrift,
      rep.groupCorrelations, rep.featureImportance)
    Seq(rep.quantileShifts, rep.shapes, rep.histograms, rep.zOutliers, rep.correlationChanges,
      rep.groupDrift, rep.featureImportance).foreach(f => assert(f.count() > 0, f.columns.mkString(",")))
    for (f <- frames; r <- f.collect(); v <- r.toSeq)
      assert(!(v.isInstanceOf[Double] && v.asInstanceOf[Double].isNaN), s"NaN in $r")
  }

  test("z-outliers on a constant column count zero outliers (no ANSI divide-by-zero)") {
    val ref = Seq.fill(50)(7.0).toDF("x")
    val curr = Seq.tabulate(50)(i => 7.0 + (if (i == 0) 100.0 else 0.0)).toDF("x")
    val r = NumericDrift.zOutliersForPair(ref, curr, Seq("x")).collect()(0)
    // ref std = 0 -> z undefined -> zero outliers on both sides, per the
    // reference's non-ANSI null-division semantics
    assert(r.getAs[Long]("ref_outlier_count") == 0L)
    assert(r.getAs[Long]("curr_outlier_count") == 0L)
  }

  test("categorical drift with an all-null reference column does not throw") {
    val ref = Seq.fill(30)(Option.empty[String]).toDF("c")
    val curr = Seq.fill(30)(Some("a"): Option[String]).toDF("c")
    val r = CategoricalDrift.categoricalDriftForPair(ref, curr, Seq("c")).collect()(0)
    // ref_k = 0 -> ratios are null (guarded), null-proportion drift is real
    assert(r.isNullAt(r.fieldIndex("new_categories_ratio")))
    assert(math.abs(r.getAs[Double]("null_proportion_diff") + 1.0) < 1e-9)
  }

  test("corpus prep survives empty and whitespace-only documents") {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    Seq(
      (1L, "", "en", "s1", 0L),
      (2L, "   ", "en", "s1", 3L),
      (3L, "the quick brown fox is a common pangram of the language", "en", "s1", 56L),
      (4L, "!!!", "en", "s2", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.pipeline.TextAnalysis.corpusPrep(spark, dir).collect()
    assert(rows.length == 2) // both sources present, no crash
    val s1 = rows.find(_.getString(0) == "s1").get
    assert(s1.getLong(1) == 3L) // all docs counted
    assert(s1.getLong(4) <= s1.getLong(3)) // funnel is monotone
  }

  test("packing operators survive empty text, giant docs, and an empty corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pack").toString
    Seq(
      (0L, "", "en", "s1", 0L),                                  // empty text: 1 EOD token, 1 chunk of len 0
      (25L, "x " * 3000, "en", "s1", 6000L),                     // giant doc: crosses windows, many chunks (sampled: 25 % 25 = 0)
      (3L, "one small doc", "en", "s2", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    val pack = graft.pipeline.Packing.seqPack(spark, dir).collect()
    assert(pack.map(_.getAs[Long]("n_docs")).sum == 3L)
    // the 3001-token giant must straddle at least one 2048 boundary
    assert(pack.map(_.getAs[Long]("n_crossing")).sum >= 1L)

    val buckets = graft.pipeline.Packing.lengthBuckets(spark, dir).collect()
    assert(buckets.map(_.getAs[Long]("n_docs")).sum == 3L)
    assert(buckets.map(_.getAs[Long]("n_truncated")).sum == 1L) // only the giant truncates

    val chunks = graft.pipeline.Packing.docChunks(spark, dir).collect()
    val byDoc = chunks.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc(0L).length == 1 && byDoc(0L).head.getAs[Long]("chunk_len") == 0L)
    assert(byDoc(25L).length == (6000 - 512 + 383) / 384 + 1)

    val stats = graft.pipeline.Packing.chunkStats(spark, dir).collect()
    assert(stats.map(_.getAs[Long]("total_chunks")).sum ==
      byDoc(0L).length + byDoc(25L).length + 1)

    // empty corpus: every operator returns an empty frame, no exception
    val empty = java.nio.file.Files.createTempDirectory("graft-pack0").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$empty/documents.parquet")
    assert(graft.pipeline.Packing.seqPack(spark, empty).count() == 0L)
    assert(graft.pipeline.Packing.lengthBuckets(spark, empty).count() == 0L)
    assert(graft.pipeline.Packing.chunkStats(spark, empty).count() == 0L)
    assert(graft.pipeline.TextAnalysis.bpePairs(spark, empty).count() == 0L)
  }

  test("drift timeline flags the mean shift and the category swap, each once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tl").toString
    def t(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-0$d $h%02d:00:00")
    // day 1: a/b 50/50, value 10 | day 2: same mix, value 20 (mean shift)
    // day 3: all b, value 20 (pure mix shift)
    val evs =
      (1 to 4).map(h => (h.toLong, t(1, h), 1L, if (h % 2 == 0) "a" else "b", 10.0, "{}")) ++
      (1 to 4).map(h => (10 + h.toLong, t(2, h), 1L, if (h % 2 == 0) "a" else "b", 20.0, "{}")) ++
      (1 to 4).map(h => (20 + h.toLong, t(3, h), 1L, "b", 20.0, "{}"))
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = graft.drift.TimelineDrift.driftTimeline(spark, dir).collect()
      .map(r => r.getAs[String]("day") -> r).toMap
    assert(rows("2024-01-01").isNullAt(rows("2024-01-01").fieldIndex("drift_detected")))
    val d2 = rows("2024-01-02")
    assert(math.abs(d2.getAs[Double]("mean_rel_diff") - 1.0) < 1e-9)
    assert(math.abs(d2.getAs[Double]("psi")) < 1e-9)
    assert(d2.getAs[Boolean]("drift_detected"))
    val d3 = rows("2024-01-03")
    assert(math.abs(d3.getAs[Double]("mean_rel_diff")) < 1e-9)
    // a: 0.5 -> eps, b: 0.5 -> 1.0: PSI = (eps-0.5)ln(eps/0.5) + (1-0.5)ln(2) >> 0.2
    assert(d3.getAs[Double]("psi") > 0.2)
    assert(d3.getAs[Boolean]("drift_detected"))
  }

  test("LM scoring survives a corpus with no training-language docs") {
    import graft.pipeline.LmScore
    val docs = Seq((1L, "zh", "某 语 料"), (2L, "de", "kein englisch hier"))
      .toDF("doc_id", "lang", "text")
    val out = LmScore.scoreDocs(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // empty model: n_train/v_train are NULL -> every log-prob is NULL, but
    // the structural columns still come through
    assert(out.size == 2)
    assert(out(1L).getAs[Long]("n_bigrams") == 2)
    assert(out(1L).isNullAt(out(1L).fieldIndex("avg_logprob")))
    assert(out(1L).getAs[Double]("oov_rate") == 1.0)
  }

  test("source keywords with one source: all idf zero, ranked by word") {
    val dir = java.nio.file.Files.createTempDirectory("graft-kw1").toString
    Seq((1L, "b a c", "only", "en", 5L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.pipeline.TextAnalysis.sourceKeywords(spark, dir).collect()
    assert(rows.map(_.getAs[Double]("tfidf")).forall(_ == 0.0)) // ln(1) = 0
    assert(rows.map(_.getAs[String]("word")).toSeq == Seq("a", "b", "c"))
  }

  test("events written as TIMESTAMP_NTZ parquet still drive the ts operators") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    spark.sql(
      """SELECT CAST(id AS BIGINT) AS event_id,
        |  to_timestamp_ntz('2024-01-01 10:00:00') + make_interval(0,0,0,0,0,CAST(id AS INT),0) AS ts,
        |  CAST(1 AS BIGINT) AS user_id, 'click' AS event_type, 1.0 AS value, '{}' AS props
        |FROM range(5)""".stripMargin)
      .write.parquet(s"$dir/events.parquet")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val r = graft.pipeline.Sessions.sessionize(spark, dir).collect()
    assert(r.length == 1 && r(0).getAs[Long]("n_sessions") == 1L)
    // table() must recover the same instants under a NON-UTC session: the
    // NTZ wall clock is the UTC instant regardless of ambient config
    val utcMicros = graft.drift.table(spark, dir, "events")
      .selectExpr("unix_micros(ts) AS us").orderBy("us").collect().map(_.getLong(0))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val nyMicros = graft.drift.table(spark, dir, "events")
        .selectExpr("unix_micros(ts) AS us").orderBy("us").collect().map(_.getLong(0))
      assert(nyMicros.toSeq == utcMicros.toSeq)
      // DST fall-back overlap: UTC wall clocks 05:30 and 06:30 on 2023-11-05
      // both render as 01:30 New York local time — a conversion that routes
      // through the session zone collapses them onto one instant; the
      // field-arithmetic path must keep them exactly an hour apart
      val dst = java.nio.file.Files.createTempDirectory("graft-dst").toString
      spark.sql(
        """SELECT CAST(id AS BIGINT) AS event_id,
          |  CASE id WHEN 0 THEN to_timestamp_ntz('2023-11-05 05:30:00')
          |    ELSE to_timestamp_ntz('2023-11-05 06:30:00') END AS ts,
          |  CAST(1 AS BIGINT) AS user_id, 'click' AS event_type, 1.0 AS value, '{}' AS props
          |FROM range(2)""".stripMargin)
        .write.parquet(s"$dst/events.parquet")
      val us = graft.drift.table(spark, dst, "events")
        .selectExpr("unix_micros(ts) AS us").orderBy("us").collect().map(_.getLong(0))
      assert(us.length == 2 && us(1) - us(0) == 3600L * 1000000L,
        s"DST overlap collapsed the instants: ${us.toSeq}")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("perplexity buckets on an unscorable corpus report everything unscored") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ppl0").toString
    // single-token docs have no bigrams -> ppl NULL for every doc, the
    // tercile row is NULL, and the fallback path must not divide or throw
    Seq((1L, "solo", "a", "en", 4L), (2L, "solo", "b", "en", 4L))
      .toDF("doc_id", "source", "text", "lang", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = graft.pipeline.LmScore.lmPplBuckets(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("bucket") == "unscored")
    assert(rows(0).getAs[Long]("n_docs") == 2L)
    assert(rows(0).isNullAt(rows(0).fieldIndex("mean_ppl")))
  }

  test("min-label propagation on a long path: converges at diameter, degrades deterministically past the cap") {
    import spark.implicits._
    // path graph 0-1-2-...-19: diameter 19, the worst case per edge count
    val nodes = (0L to 19L).toDF("doc_id")
    val pairs = (0L until 19L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // enough rounds -> one component labeled by the min node
    val full = graft.pipeline.Dedup.propagateMinLabels(nodes, pairs, maxIterations = 25)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 19L).forall(full(_) == 0L))
    // capped BELOW the diameter: labels move one hop per round, so node i
    // deterministically holds min-label-within-5-hops = max(0, i - 5); the
    // component under-merges into adjacent clusters but never mislabels
    val capped = graft.pipeline.Dedup.propagateMinLabels(nodes, pairs, maxIterations = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 19L).forall(i => capped(i) == math.max(0L, i - 5L)), s"got $capped")
    // default cap: any component of diameter <= 50 converges; a 20-path is
    // well inside, so the production entry point gives the converged answer
    val default = graft.pipeline.Dedup.propagateMinLabels(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(default == full)
  }

  test("json drift: malformed docs stay in presence denominators, drop from keys; type change flags") {
    import java.sql.Timestamp
    val refTs = Timestamp.valueOf("2024-01-10 00:00:00") // < eventsCutoff
    val curTs = Timestamp.valueOf("2024-01-20 00:00:00")
    val rows = Seq(
      (refTs, """{"a": 1}"""),
      (refTs, """{"a": 2, "b": "x"}"""),
      (refTs, "not json"), // null map -> no keys, but still a ref row
      (refTs, null.asInstanceOf[String]),
      (curTs, """{"a": "hello"}"""), // numeric -> string type change
      (curTs, """{"b": "y"}""")
    ).toDF("ts", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft-json").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val pd = JsonDrift.propsDrift(spark, dir).collect()
      .map(r => r.getAs[String]("key") -> r).toMap
    assert(pd.keySet == Set("a", "b"))
    assert(pd("a").getAs[Double]("ref_present_ratio") == 0.5) // 2 of 4 ref rows
    assert(pd("a").getAs[Double]("curr_present_ratio") == 0.5) // 1 of 2 curr rows
    assert(pd("a").getAs[Double]("ref_mean") == 1.5)
    assert(pd("a").getAs[java.lang.Double]("curr_mean") == null) // non-numeric value
    val tp = JsonDrift.typeProfile(spark, dir).collect()
      .map(r => r.getAs[String]("key") -> r).toMap
    assert(tp("a").getAs[String]("ref_type") == "numeric")
    assert(tp("a").getAs[String]("curr_type") == "string")
    assert(tp("a").getAs[Boolean]("type_changed"))
    assert(!tp("b").getAs[Boolean]("type_changed"))
  }

  test("dsir weights stay finite (and negative) when the target feed is absent") {
    import graft.pipeline.Dsir
    // no "src0" rows at all: target counts are 0 in every bucket, only the
    // add-0.5 smoothing keeps the log ratio defined
    val docs = Seq((0L, "srcX", "alpha beta"), (1L, "srcY", "gamma delta"))
      .toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-dsir").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dsir.sourceWeights(spark, dir).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val w = r.getAs[Double]("avg_weight")
      assert(!w.isNaN && !w.isInfinite)
      assert(w < 0.0, s"zero target mass must downweight every doc, got $w")
    }
  }

  test("sessionize handles a single-event user") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ev").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 42L, "t", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = graft.pipeline.Sessions.sessionize(spark, dir).collect()
    assert(r.length == 1 && r(0).getAs[Long]("n_sessions") == 1L)
    assert(r(0).getAs[Double]("avg_session_duration_sec") == 0.0)
  }

  test("zorder_stats survives a constant dimension (degenerate range)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zo").toString
    (0 until 10).map(i => (i.toLong, 5L, 100.0 + i))
      .toDF("l_orderkey", "l_partkey", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = graft.pipeline.Layout.zorderStats(spark, dir).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    // the constant dim quantizes to cell 0 everywhere (the COALESCE under
    // the quantizer's floor); its span is NULL (0/0 range) in BOTH layouts
    // rather than a fabricated number, and the varying dim still reports
    // real spans
    assert(rows("zorder").getAs[Long]("n_rows") == 10L)
    assert(rows("zorder").isNullAt(rows("zorder").fieldIndex("avg_span_a")))
    assert(!rows("zorder").isNullAt(rows("zorder").fieldIndex("avg_span_b")))
  }

  test("corpus_mixture on an empty corpus returns no rows (no phantom budget)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mx").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))
      .write.parquet(s"$dir/documents.parquet")
    assert(graft.pipeline.TextAnalysis.corpusMixture(spark, dir).collect().isEmpty)
  }

  test("entity_matches skips a block larger than the MaxBlock ceiling") {
    val dir = java.nio.file.Files.createTempDirectory("graft-er").toString
    // 1001 distinct names in one block: over the cap -> reported-not-
    // compared, so the pairwise join must produce nothing (and certainly
    // not 500k pairs)
    (0 until (EntityResolution.MaxBlock + 1)).map(i => (i.toLong, s"name$i bolt"))
      .toDF("p_partkey", "p_name")
      .write.parquet(s"$dir/part.parquet")
    assert(EntityResolution.entityMatches(spark, dir).collect().isEmpty)
  }

  test("incremental_dedup with a single-source corpus keeps the whole batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-id").toString
    val r = new scala.util.Random(3)
    val vocab = Seq("alpha", "beta", "gamma", "delta")
    def doc() = Seq.fill(20)(vocab(r.nextInt(vocab.size))).mkString(" ")
    (0 until 5).map(i => (i.toLong, doc(), "only"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val row = Dedup.incrementalDedup(spark, dir).collect()(0)
    // everything is "the batch", nothing is "the corpus": no drops
    assert(row.getAs[Long]("n_batch") == 5L && row.getAs[Long]("n_corpus") == 0L)
    assert(row.getAs[Long]("n_exact_dup") == 0L && row.getAs[Long]("n_near_dup") == 0L)
    assert(row.getAs[Long]("n_kept") == 5L)
  }

  test("seasonality_drift: a type in only one snapshot gets finite PSI and a NULL peak") {
    val dir = java.nio.file.Files.createTempDirectory("graft-season").toString
    // ref window is ts < split; plant "steady" on both sides and
    // "launched" only after the split (a feature rollout)
    val rows =
      (0 until 48).map(i => (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-${1 + i % 10}%02d 0${i % 6}:00:00"), 1L, "steady", 1.0, "{}")) ++
      (0 until 24).map(i => (100L + i, java.sql.Timestamp.valueOf(
        f"2024-03-${1 + i % 10}%02d 1${i % 6}:00:00"), 1L, "launched", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val byType = TimelineDrift.seasonalityDrift(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val launched = byType("launched")
    assert(launched.getAs[Long]("n_ref") == 0L)
    // the absent side floors at epsilon: PSI is large but FINITE (NaN
    // would order largest in Spark and silently flag), drifted is true
    val psi = launched.getAs[Double]("psi_hours")
    assert(!psi.isNaN && !psi.isInfinite && psi > 0.0)
    assert(launched.getAs[Boolean]("drifted"))
    // no fabricated peak hour for a side with zero events
    assert(launched.isNullAt(launched.fieldIndex("ref_peak_hour")))
    assert(!launched.isNullAt(launched.fieldIndex("curr_peak_hour")))
  }

  test("length_anomaly on a single-source corpus reports NULL ks, not NaN") {
    val dir = java.nio.file.Files.createTempDirectory("graft-laone").toString
    (0 until 10).map(i => (i.toLong, Seq.fill(5 + i)("w").mkString(" "), "en", "only"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val r = graft.pipeline.TextAnalysis.lengthAnomaly(spark, dir).collect()(0)
    // the "rest of corpus" is empty: the two-sample statistic is
    // undefined — NULL columns and a false verdict, never NaN/Infinity
    assert(r.isNullAt(r.fieldIndex("ks_stat")))
    assert(r.isNullAt(r.fieldIndex("ks_crit")))
    assert(!r.getAs[Boolean]("anomalous"))
  }

  test("quality_classifier scores an empty doc without a fabricated digit ratio") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qcempty").toString
    Seq((0L, "", "en", "s"), (1L, "the a of and to in is", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val r = graft.pipeline.TextAnalysis.qualityClassifier(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_docs") == 2L)
    // the all-stopword doc passes; the empty doc must not be dragged
    // below the gate by a phantom 100%-digits penalty (score stays a
    // finite number either way)
    assert(!r.getAs[Double]("mean_score").isNaN)
    assert(r.getAs[Long]("n_kept") >= 1L)
  }

  test("semantic_dedup survives an empty and a single-vector corpus") {
    val empty = java.nio.file.Files.createTempDirectory("graft-sd0").toString
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
      .write.parquet(s"$empty/embeddings.parquet")
    assert(graft.pipeline.Similarity.semanticDedup(spark, empty).count() == 0L)
    val one = java.nio.file.Files.createTempDirectory("graft-sd1").toString
    val rr = new scala.util.Random(3)
    Seq((7L, Array.fill(64)(rr.nextGaussian().toFloat), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$one/embeddings.parquet")
    // a lone vector is its own cell's min id: kept, never dropped —
    // even at a threshold every pair would satisfy
    val r = graft.pipeline.Similarity.semanticDedup(spark, one, threshold = -1.0).collect()
    assert(r.length == 1 && r(0).getAs[Long]("n_vectors") == 1L)
    assert(r(0).getAs[Long]("n_dropped") == 0L)
    assert(r(0).getAs[Long]("kept_id_sum") == 7L)
  }

  test("bloom decontamination matches exact on single-source (empty) and empty-eval shapes") {
    // single source: everything is the eval set, no train rows — both
    // variants return an empty frame (the bloom filter builds over the
    // whole corpus and the guarded max(1, count) handles the shape)
    val solo = java.nio.file.Files.createTempDirectory("graft-db1").toString
    Seq((1L, "only one source exists here", "solo"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$solo/documents.parquet")
    assert(Dedup.decontaminationBloom(spark, solo).collect().isEmpty)
    // eval docs too short to shingle (no trigrams): the eval shingle set
    // is EMPTY, the bloom filter is built over zero items, and every
    // train doc must come through uncontaminated
    val tiny = java.nio.file.Files.createTempDirectory("graft-db2").toString
    Seq((1L, "two words", "a_eval"),
      (10L, "a long train document with plenty of words in it today", "train"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$tiny/documents.parquet")
    val exact = Dedup.decontamination(spark, tiny).collect().map(_.toSeq).toSeq
    val bloom = Dedup.decontaminationBloom(spark, tiny).collect().map(_.toSeq).toSeq
    assert(bloom == exact)
    assert(bloom.head(1) == 1L && bloom.head(2) == 0L) // 1 train doc, 0 contaminated
  }

  test("cluster_profile on a sub-cell corpus collapses to one full-purity-free cell") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cp").toString
    def vec(seed: Int) = { val rr = new scala.util.Random(seed); Array.fill(64)(rr.nextGaussian().toFloat) }
    (0 until 5).map(i => (i.toLong, vec(i), i % 2))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val rows = graft.pipeline.Similarity.clusterProfile(spark, dir).collect()
    // n < IvfTargetCell -> a single cell holding every vector
    assert(rows.length == 1 && rows(0).getAs[Long]("n_vecs") == 5L)
    assert(rows(0).getAs[Double]("purity") == 0.6)
  }

  // ------------------------- tail-7/8 degenerate paths (event analytics)

  private def eventsDir(rows: Seq[(String, Long, String, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ev").toString
    rows.toDF("ts_s", "user_id", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("user_id"),
        col("event_type"), col("value"),
        monotonically_increasing_id().as("event_id"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("conversion_lag with zero conversions: one null-safe summary row, no throw") {
    val dir = eventsDir(Seq(("2024-01-01 10:00:00", 1L, "view", 1.0),
      ("2024-01-02 10:00:00", 1L, "click", 1.0)))
    val r = graft.pipeline.EventAnalytics.conversionLag(spark, dir).collect()
    assert(r.length == 1 && r(0).getLong(0) == 0L)
    (1 to 5).foreach(i => assert(r(0).isNullAt(i), s"col $i must be NULL on an empty lag set"))
  }

  test("attribution with no conversions yields an empty frame; all-direct feeds credit 'direct'") {
    val none = eventsDir(Seq(("2024-01-01 10:00:00", 1L, "view", 1.0)))
    assert(graft.pipeline.EventAnalytics.attribution(spark, none).collect().isEmpty)
    val direct = eventsDir(Seq(("2024-01-01 10:00:00", 1L, "purchase", 5.0),
      ("2024-01-01 11:00:00", 2L, "purchase", 7.0)))
    val rows = graft.pipeline.EventAnalytics.attribution(spark, direct).collect()
    assert(rows.length == 1 && rows(0).getString(0) == "direct")
    assert(rows(0).getLong(1) == 2L && rows(0).getDouble(3) == 1.0)
  }

  test("active_users on a single (user, day) event stream: dau == wau == 1, stickiness 1") {
    val dir = eventsDir(Seq(("2024-01-05 10:00:00", 42L, "view", 1.0),
      ("2024-01-05 11:00:00", 42L, "click", 1.0)))
    for (approx <- Seq(false, true)) {
      val rows = graft.pipeline.EventAnalytics.activeUsers(spark, dir, approx).collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(1) == 1L && rows(0).getLong(2) == 1L && rows(0).getDouble(3) == 1.0)
    }
  }

  test("next_event_transitions needs two events per user: singletons yield an empty matrix") {
    val dir = eventsDir(Seq(("2024-01-01 10:00:00", 1L, "view", 1.0),
      ("2024-01-01 10:00:00", 2L, "click", 1.0)))
    assert(graft.pipeline.EventAnalytics.nextEventTransitions(spark, dir).collect().isEmpty)
  }

  test("scd2_history on one order per customer: one open version each") {
    val rows = graft.drift.SnapshotDiff.scd2History(spark, "/root/testdata/sf0.001")
      .filter(col("version") === 1).collect()
    assert(rows.nonEmpty)
    // and a synthetic single-order stream is entirely version-1 current
    val dir = java.nio.file.Files.createTempDirectory("graft-scd").toString
    Seq((1L, 10L, "O", 5.0, "2024-01-01 00:00:00", "1-URGENT"),
      (2L, 20L, "F", 6.0, "2024-01-02 00:00:00", "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "d", "o_orderpriority")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("d").cast("timestamp").as("o_orderdate"), col("o_orderpriority"))
      .write.parquet(s"$dir/orders.parquet")
    val single = graft.drift.SnapshotDiff.scd2History(spark, dir).collect()
    assert(single.length == 2)
    single.foreach(r => assert(r.getLong(4) == 1L && r.getBoolean(5) && r.isNullAt(3)))
  }

  test("basket_pairs on single-item orders: empty result, no throw") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bk").toString
    Seq((1L, 100L), (2L, 200L), (3L, 300L))
      .toDF("l_orderkey", "l_partkey")
      .withColumn("l_quantity", lit(1.0))
      .write.parquet(s"$dir/lineitem.parquet")
    assert(graft.pipeline.MarketBasket.basketPairs(spark, dir).collect().isEmpty)
  }

  test("group slices: NULL dimension values survive as their own category, " +
    "and the grouping marker keeps dims unambiguous") {
    import spark.implicits._
    // 30 ref + 30 curr rows per side so the >=20 eligibility holds; dim a
    // has a genuine NULL-valued group, dim b is all 'x'
    val mk = (side: Int) => (1 to 30).map { i =>
      (side * 100 + i, if (i % 2 == 0) "g" else null, "x", i * 1.5)
    }
    val ref = mk(0).toDF("id", "a", "b", "m")
    val curr = mk(1).toDF("id", "a", "b", "m")
    val rows = graft.drift.GroupDrift.groupSlicesForPair(ref, curr,
      dims = Seq("a", "b"), metrics = Seq("m")).collect()
    val byDim = rows.groupBy(_.getString(1))
    // dim b: one 'x' category covering all 30 rows/side
    val bx = byDim("b").head
    assert(bx.getString(2) == "x" && bx.getLong(4) == 30 && bx.getLong(5) == 30)
    // dim a: only the NULL group reaches 15 rows... neither a-group has
    // >=20 rows (15 each), so dim a contributes NO eligible slices —
    // the filter applies per category, not per dim
    assert(!byDim.contains("a"))
    // with the floor relaxed via more rows: NULL category IS reported
    val big = (1 to 50).map(i => (i, if (i % 2 == 0) "g" else null, "x", 1.0))
      .toDF("id", "a", "b", "m")
    val rows2 = graft.drift.GroupDrift.groupSlicesForPair(big, big,
      dims = Seq("a"), metrics = Seq("m")).collect()
    val cats = rows2.map(r => Option(r.getString(2))).toSet
    assert(cats == Set(Some("g"), None), s"got $cats")
    // the NULL-category row is a real group (25 rows/side), not an
    // aggregated-marker artifact
    val nullRow = rows2.find(_.isNullAt(2)).get
    assert(nullRow.getLong(4) == 25 && nullRow.getLong(5) == 25)
  }

  // Degenerate shapes through the stacked categorical census and the
  // group-drift verdict, with every output row pinned: the rows are the
  // ones a separate pass per column and per dimension gives.

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  test("stacked census: a column null on both sides keeps its NULL divergence") {
    val ref = Seq.tabulate(60)(i => (Option.empty[String], "k" + (i % 3))).toDF("c", "g")
    val curr = Seq.tabulate(50)(i => (Option.empty[String], "k" + (i % 4))).toDF("c", "g")
    val cols = Seq("c", "g")
    assert(rowsOf(CategoricalDrift.categoricalDriftForPair(ref, curr, cols)) == Seq(
      // the NULL divergence and category ratios score 0 and detect nothing
      "[pair,c,null,1.0,0.0,null,null,false,,0.0,None]",
      "[pair,g,0.3634,0.01,0.0,0.333333,0.0,true,distribution_change,statistical_significance," +
        "new_categories,0.773333,Critical]"))
    assert(rowsOf(CategoricalDrift.jsFullForPair(ref, curr, cols)) == Seq(
      "[pair,c,0.0,false,0,0]", "[pair,g,0.3634,true,1,0]"))
    assert(rowsOf(CategoricalDrift.rareValueChangesForPair(ref, curr, cols, thr = 0.3)) == Seq(
      "[pair,g,new_rare,k0,0.333333,0.26,20,13]",
      "[pair,g,new_rare,k1,0.333333,0.26,20,13]",
      "[pair,g,new_rare,k2,0.333333,0.24,20,12]"))
    assert(rowsOf(CategoricalDrift.rareCategoriesForPair(ref, curr, cols,
        minCount = 1, maxFreq = 0.5)) == Seq(
      "[pair,g,k3,0,12,0.0,0.24,1.0,new_rare_category,high]",
      "[pair,g,k2,20,12,0.333333,0.24,-0.4,decreased_rare_category,medium]",
      "[pair,g,k0,20,13,0.333333,0.26,-0.35,decreased_rare_category,medium]",
      "[pair,g,k1,20,13,0.333333,0.26,-0.35,decreased_rare_category,medium]"))
  }

  test("stacked census and group verdict: an empty current side divides by nothing") {
    val ref = Seq.tabulate(60)(i => ("v" + (i % 4), "k" + (i % 2), i.toDouble)).toDF("c", "g", "x")
    val curr = ref.limit(0)
    val cols = Seq("c", "g")
    // the NULL null-proportion difference scores 0
    assert(rowsOf(CategoricalDrift.categoricalDriftForPair(ref, curr, cols)) == Seq(
      "[pair,c,0.707107,1.0,null,0.0,1.0,true,distribution_change,missing_categories,0.6,High]",
      "[pair,g,0.707107,1.0,null,0.0,1.0,true,distribution_change,missing_categories,0.6,High]"))
    assert(rowsOf(CategoricalDrift.jsFullForPair(ref, curr, cols)) == Seq(
      "[pair,c,0.707107,true,0,4]", "[pair,g,0.707107,true,0,2]"))
    assert(rowsOf(CategoricalDrift.rareValueChangesForPair(ref, curr, cols, thr = 0.3)).isEmpty)
    assert(rowsOf(CategoricalDrift.rareCategoriesForPair(ref, curr, cols,
        minCount = 1, maxFreq = 0.3)) ==
      (0 to 3).map(v => s"[pair,c,v$v,15,0,0.25,0.0,-1.0,disappeared_rare_category,high]"))
    assert(rowsOf(GroupDrift.verdictForPair(ref, curr, Seq("g", "c"), Seq("x"), cols)).isEmpty)
  }

  test("group verdict: a dimension with no eligible category adds no rows") {
    val ref = Seq.tabulate(100)(i => ("s" + (i % 10), "k" + (i % 2), i.toDouble)).toDF("s", "h", "x")
    val curr = Seq.tabulate(90)(i => ("s" + (i % 9), "k" + (i % 3), i * 1.1)).toDF("s", "h", "x")
    assert(rowsOf(GroupDrift.forPair(ref, curr, "s", Seq("x"), Seq("h"))).isEmpty)
    assert(rowsOf(GroupDrift.verdictForPair(ref, curr, Seq("s", "h"), Seq("x"), Seq("s", "h"))) == Seq(
      "[pair,h,k0,0.030637,1,-0.4,true]", "[pair,h,k1,0.029814,1,-0.4,true]"))
  }

  test("group verdict with categorical metrics only, in dimension order") {
    val ref = Seq.tabulate(200)(i =>
      ("v" + (i % 4), "k" + (i % 3), if (i % 7 == 0) null else "m" + (i % 5))).toDF("c", "g", "m")
    val curr = Seq.tabulate(180)(i =>
      ("v" + (i % 5), "k" + (i % 3), if (i % 4 == 0) null else "m" + (i % 6))).toDF("c", "g", "m")
    val byG = Seq("[pair,g,k0,0.078731,2,-0.104478,true]", "[pair,g,k1,0.078731,2,-0.104478,true]",
      "[pair,g,k2,0.063636,1,-0.090909,true]")
    assert(rowsOf(GroupDrift.forPair(ref, curr, "g", Nil, Seq("c", "m"))) == byG)
    assert(rowsOf(GroupDrift.verdictForPair(ref, curr, Seq("g", "c"), Nil, Seq("c", "g", "m"))) ==
      byG ++ Seq("[pair,c,v0,0.040278,1,-0.28,true]", "[pair,c,v1,0.046389,1,-0.28,true]",
        "[pair,c,v2,0.045833,1,-0.28,true]", "[pair,c,v3,0.045833,1,-0.28,true]"))
  }

  test("stacked census and group verdict accept column names that need quoting") {
    // ≥20 rows per category on both sides, so both dimensions have rows
    val ref = Seq.tabulate(120)(i => ("v" + (i % 3), "k" + (i % 2), i.toDouble))
      .toDF("my col", "it's", "x-y")
    val curr = Seq.tabulate(120)(i => ("v" + (i % 4), "k" + (i % 2), i * 1.5))
      .toDF("my col", "it's", "x-y")
    val cols = Seq("my col", "it's")
    def names(df: org.apache.spark.sql.DataFrame, field: String) =
      df.collect().map(_.getAs[String](field)).toSeq.distinct.sorted
    assert(names(CategoricalDrift.categoricalDriftForPair(ref, curr, cols), "column_name") == cols.sorted)
    assert(names(CategoricalDrift.jsFullForPair(ref, curr, cols), "column_name") == cols.sorted)
    assert(names(GroupDrift.verdictForPair(ref, curr, cols, Seq("x-y"), cols), "dimension") == cols.sorted)
  }

  test("a current column retyped to strings that do not all parse still yields a report") {
    // the sf0.01 lineitem split, with l_tax a string in the current side and
    // "n/a" for values above 0.04
    val cols = Seq("l_partkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus")
    val li = table(spark, "/root/testdata/sf0.01", "lineitem")
    val ref = li.filter(splits.lineitemRef).select(cols.map(col): _*)
    val curr = li.filter(!coalesce(splits.lineitemRef, lit(false))).select(cols.map(col): _*)
      .withColumn("l_tax", when(col("l_tax") > 0.04, lit("n/a")).otherwise(col("l_tax").cast("string")))
    val r = new DriftDetector(spark).detectDrift(ref, curr)
    assert(r.errors.isEmpty, r.errors.mkString("; "))
    assert(r.schemaChanges.exists(c => c.changeType == "type_changed" && c.path == "l_tax"),
      r.schemaChanges)
    assert(r.numeric.nonEmpty && r.categorical.nonEmpty)
  }

  test("a decimal column widened in the current side keeps every current value") {
    // decimal(5,2) holds at most 999.99; every current value is above it, so
    // a cast to the reference type would turn each into a missing value
    val ref = spark.range(200).selectExpr("CAST(id % 50 + 0.25 AS DECIMAL(5,2)) AS amt")
    val curr = spark.range(200).selectExpr("CAST(id * 10 + 1000.75 AS DECIMAL(10,2)) AS amt")
    val r = new DriftDetector(spark).detectDrift(ref, curr,
      DriftConfig(sampleSize = 0, customColumnTypes = Map("amt" -> "numerical")))
    assert(r.errors.isEmpty, r.errors.mkString("; "))
    val amt = r.numeric.find(_.column == "amt").get
    assert(amt.currMean == 1995.75 && amt.nullDiff == 0.0, amt)
    val row = NumericDrift.pairProfile(ref, curr, Seq("amt")).collect().head
    assert(row.getAs[Double]("curr_vmax") == 2990.75)
    assert(row.getAs[Long]("curr_n_nonnull") == 200L)
  }
}
