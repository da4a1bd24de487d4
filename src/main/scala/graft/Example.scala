package graft

import org.apache.spark.sql.SparkSession
import graft.drift._

/** End-to-end demo — the reference's `example.py run_example()`
  * (/root/reference/example.py:89-156): build the 3-version synthetic drift
  * table, run the detector on v1→v2 (mild) and v1→v3 (significant + schema
  * change), print the assessments. `tools/run.sh graft.Example` */
object Example {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); without this flag the timeline
      // step dies on PARQUET_TYPE_ILLEGAL (same config Verify/Bench set)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val v1 = SyntheticDrift.version(spark, 1)
    val v2 = SyntheticDrift.version(spark, 2)
    val v3 = SyntheticDrift.version(spark, 3)
    val detector = new DriftDetector(spark)

    for ((name, curr) <- Seq("v1 -> v2 (mild drift)" -> v2, "v1 -> v3 (significant drift)" -> v3)) {
      val r = detector.detectDrift(v1, curr, DriftConfig(sampleSize = 0))
      println(s"== $name ==")
      println(s"  drift_detected: ${r.driftDetected}")
      println(s"  assessment: ${r.assessment}")
      println(s"  schema changes: ${r.schemaChanges.map(c => s"${c.changeType}:${c.path}").mkString(", ")}")
      r.numeric.filter(_.driftDetected).foreach(n =>
        println(f"  numeric  ${n.column}%-20s score=${n.driftScore}%.4f causes=${n.driftCauses.mkString("+")}"))
      r.categorical.filter(_.driftDetected).foreach(c =>
        println(f"  categorical ${c.column}%-17s score=${c.driftScore}%.4f causes=${c.driftCauses.mkString("+")}"))
      r.recommendations.foreach(rec => println(s"  -> $rec"))
      println(f"  execution_time: ${r.executionTimeSec}%.1fs")
    }

    // training-data pipeline surface over the driver testdata (if present)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(s"$sfDir/documents.parquet").exists()) {
      println(s"== pipeline ops over $sfDir ==")
      val prep = graft.pipeline.TextAnalysis.corpusPrep(spark, sfDir)
      println("  corpus_prep funnel (first 3 sources):")
      prep.limit(3).collect().foreach(r =>
        println(s"    ${r.getString(0)}: ${r.getLong(1)} docs -> ${r.getLong(2)} lang " +
          s"-> ${r.getLong(3)} quality -> ${r.getLong(4)} deduped"))
      val dups = graft.pipeline.Dedup.dedupe(spark, sfDir).count()
      println(s"  near-dup pairs (capped Jaccard default): $dups")
      val ann = graft.pipeline.Similarity.ivfTopK(spark, sfDir).count()
      println(s"  IVF ANN neighbor rows: $ann")
      val lm = graft.pipeline.LmScore.lmScoreBySource(spark, sfDir).limit(3).collect()
      lm.foreach(r => println(f"  lm_score ${r.getString(0)}: " +
        f"mean_logprob=${r.getAs[Double]("mean_logprob")}%.3f " +
        f"oov=${r.getAs[Double]("mean_oov_rate")}%.3f"))
      val splits = graft.pipeline.DataSplit.dataSplit(spark, sfDir).limit(1).collect()(0)
      println(s"  data_split ${splits.getString(0)}: train=${splits.getLong(2)} " +
        s"val=${splits.getLong(3)} test=${splits.getLong(4)}")
      val tl = graft.drift.TimelineDrift.driftTimeline(spark, sfDir)
      println(s"  drift_timeline: ${tl.count()} windows, " +
        s"${tl.filter(org.apache.spark.sql.functions.col("drift_detected")).count()} flagged")
      // the one-call curation sweep: funnel + persisted near-dup artifact
      // (reused by the leakage audit) + perplexity buckets
      val work = java.nio.file.Files.createTempDirectory("graft-example").toString
      val rep = graft.pipeline.CorpusPipeline.run(spark, sfDir, work)
      println(s"  corpus_pipeline: ${rep.nDocs} docs -> ${rep.nNeardupKept} kept, " +
        s"${rep.nClusters} clusters, ${rep.nLeakedDocs} leaked across splits, " +
        s"${rep.nContainmentPairs} containment pairs, " +
        s"ppl buckets ${rep.pplBuckets.toSeq.sortBy(_._1).map { case (b, n) => s"$b=$n" }.mkString(" ")}")
      // packing: the curated corpus's context-window plan
      val pack = graft.pipeline.Packing.seqPack(spark, sfDir)
        .agg(org.apache.spark.sql.functions.sum("n_windows"),
          org.apache.spark.sql.functions.sum("n_crossing")).collect()(0)
      println(s"  seq_pack: ${pack.getLong(0)} windows of " +
        s"${graft.pipeline.Packing.WindowTokens} tokens, ${pack.getLong(1)} boundary-crossing docs")
      // the daily-ingest story: plan the language mixture, gate the newest
      // feed against the corpus, canonicalize catalog strings, profile the
      // embedding space, and measure what a Z-order rewrite would buy
      val mix = graft.pipeline.TextAnalysis.corpusMixture(spark, sfDir).collect()
      println("  corpus_mixture: " + mix.map(r =>
        s"${r.getString(0)}=${r.getAs[String]("action")}@${r.getAs[Double]("sampling_rate")}")
        .mkString(" "))
      val incr = graft.pipeline.Dedup.incrementalDedup(spark, sfDir).collect()(0)
      println(s"  incremental_dedup: batch ${incr.getAs[String]("batch_source")} " +
        s"${incr.getAs[Long]("n_batch")} docs -> ${incr.getAs[Long]("n_exact_dup")} exact + " +
        s"${incr.getAs[Long]("n_near_dup")} near dropped, ${incr.getAs[Long]("n_kept")} admitted")
      val ents = graft.pipeline.EntityResolution.entityMatches(spark, sfDir).count()
      println(s"  entity_matches: $ents candidate catalog merges")
      val cp = graft.pipeline.Similarity.clusterProfile(spark, sfDir)
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.round(
            org.apache.spark.sql.functions.avg("purity"), 3)).collect()(0)
      println(s"  cluster_profile: ${cp.getLong(0)} cells, mean label purity ${cp.get(1)}")
      graft.pipeline.Layout.zorderStats(spark, sfDir).collect().foreach(r =>
        println(f"  layout ${r.getString(0)}%-10s avg spans: " +
          f"part=${r.getAs[Double]("avg_span_a")}%.3f price=${r.getAs[Double]("avg_span_b")}%.3f"))
      val fun = graft.pipeline.EventAnalytics.funnel(spark, sfDir).collect()(0)
      println(s"  funnel: ${fun.getAs[Long]("n_users")} users -> " +
        s"${fun.getAs[Long]("n_view")} viewed -> ${fun.getAs[Long]("n_click_after_view")} clicked -> " +
        s"${fun.getAs[Long]("n_purchase_after_click")} purchased " +
        f"(final conversion ${fun.getAs[Double]("purchase_conversion")}%.3f)")
      val ret = graft.pipeline.EventAnalytics.cohortRetention(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("day_offset") === 7).collect()
      if (ret.nonEmpty) {
        val d7 = ret.map(_.getAs[Double]("retention_rate")).sum / ret.length
        println(f"  cohort_retention: mean day-7 retention $d7%.3f across ${ret.length} cohorts")
      }
      val conc = graft.pipeline.RangeJoin.sessionConcurrency(spark, sfDir).collect()
      println("  session concurrency (range join): " + conc.map(r =>
        f"${r.getString(0)}=${r.getAs[Double]("avg_concurrency")}%.1f").mkString(" "))
      val sd = graft.drift.SnapshotDiff.snapshotDiffQuery(spark, sfDir).collect()
      println("  snapshot_diff (customer grain): " + sd.map(r =>
        s"${r.getString(0)}=${r.getAs[Long]("n_customers")}").mkString(" "))
      val canon = graft.pipeline.Dedup.clusterCanonical(spark, sfDir)
      println(s"  cluster_canonical: ${canon.count()} multi-doc clusters, " +
        "longest member kept per cluster")
      // asymmetric near-dup: quote-expansion pairs symmetric Jaccard misses
      val cont = graft.pipeline.Dedup.containmentPairs(spark, sfDir).count()
      println(s"  containment_pairs: $cont containment (quote-expansion) pairs")
      // the S-curve table a banding retune reads next to measured recall:
      // the current (bands, rows) config's collision odds at the threshold
      val knee = graft.pipeline.Dedup.lshTuningCurve(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("is_current") &&
          org.apache.spark.sql.functions.col("jaccard") === graft.pipeline.Dedup.JaccardThreshold)
        .collect()
      knee.foreach(r => println(f"  lsh_tuning_curve: current banding catches a " +
        f"threshold-Jaccard pair with p=${r.getAs[Double]("p_collision")}%.3f"))
      println("  hybrid_search (BM25 + embedding RRF) top docs: " +
        graft.pipeline.Retrieval.hybridSearch(spark, sfDir).collect().take(3).map(r =>
          s"doc${r.getLong(0)}").mkString(" "))
      val au = graft.pipeline.EventAnalytics.activeUsers(spark, sfDir).collect()
      if (au.nonEmpty) {
        val mid = au(au.length / 2)
        println(s"  active_users: ${mid.getString(0)} dau=${mid.getLong(1)} " +
          f"wau=${mid.getLong(2)} stickiness=${mid.getDouble(3)}%.3f (${au.length} days)")
      }
      println("  attribution (last touch): " +
        graft.pipeline.EventAnalytics.attribution(spark, sfDir).collect().map(r =>
          f"${r.getString(0)}=${r.getAs[Double]("conv_share")}%.2f").mkString(" "))
      val cl = graft.pipeline.EventAnalytics.conversionLag(spark, sfDir).collect()(0)
      println(f"  conversion_lag: ${cl.getLong(0)} converted, " +
        f"median ${cl.getAs[Double]("p50_hours")}%.1f h, p90 ${cl.getAs[Double]("p90_hours")}%.1f h")
      val rc = graft.pipeline.EventAnalytics.revenueConcentration(spark, sfDir).collect()(0)
      println(f"  revenue_concentration: top 1%% of customers hold " +
        f"${rc.getAs[Double]("top1pct_share") * 100}%.1f%%, top 10%% hold " +
        f"${rc.getAs[Double]("top10pct_share") * 100}%.1f%% of revenue")
      val scd = graft.drift.SnapshotDiff.scd2History(spark, sfDir)
      println(s"  scd2_history: ${scd.count()} effective-dated status versions " +
        "(lag/lead compression, one key exchange)")
      println("  bm25_search top docs for " +
        graft.pipeline.Retrieval.QueryTerms.mkString("[", " ", "]") + ": " +
        graft.pipeline.Retrieval.bm25Search(spark, sfDir).collect().take(3).map(r =>
          s"doc${r.getLong(0)}(${r.getAs[Double]("score")})").mkString(" "))
      val sr = graft.pipeline.ScaleJoins.starRevenue(spark, sfDir).collect()
      if (sr.nonEmpty)
        println(s"  star_revenue: ${sr.length} (region, nation) groups via a " +
          "3-level broadcast dim chain, top " +
          sr.maxBy(_.getAs[Double]("revenue")).getAs[String]("nation"))
      val bp = graft.pipeline.MarketBasket.basketPairs(spark, sfDir).collect()
      if (bp.nonEmpty) {
        val t = bp.head
        println(f"  basket_pairs: top pair (${t.getLong(0)}, ${t.getLong(1)}) in " +
          f"${t.getLong(2)} orders, lift ${t.getAs[Double]("lift")}%.2f")
      }
      val tr = graft.pipeline.EventAnalytics.nextEventTransitions(spark, sfDir).collect()
      if (tr.nonEmpty) {
        val topTr = tr.maxBy(_.getAs[Double]("probability"))
        println(f"  next_event_transitions: strongest edge ${topTr.getString(0)}->" +
          f"${topTr.getString(1)} p=${topTr.getAs[Double]("probability")}%.3f")
      }
      val va = graft.pipeline.EventAnalytics.volumeAnomalies(spark, sfDir).collect()
      println(s"  volume_anomalies: ${va.count(r => !r.isNullAt(5))} scored days, " +
        s"${va.count(r => r.getBoolean(6))} bursts")
      val nxt = graft.pipeline.AsofJoin.nextPurchase(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("purchase_id").isNotNull)
      println(s"  asof_join_forward: ${nxt.count()} clicks have a following purchase")
      val gf = graft.pipeline.EventAnalytics.gapFill(spark, sfDir).collect()
      println(s"  gap_fill: dense series of ${gf.length} (type, day) cells, " +
        s"${gf.count(_.getLong(2) == 0)} gap days LOCF-filled")
      // growth analytics tail: rolling stats, new-vs-returning, cohort LTV
      val rs = graft.pipeline.EventAnalytics.rollingStatsFull(spark, sfDir).collect()
      println(s"  rolling_stats: ${rs.length} (type, day) rows with 7-day " +
        "calendar-frame mean/std from exact micro-unit integer sums")
      val nvr = graft.pipeline.EventAnalytics.newVsReturning(spark, sfDir).collect()
      if (nvr.nonEmpty) {
        val last = nvr.last
        println(s"  new_vs_returning: ${nvr.length} days, last day " +
          s"${last.getAs[Long]("new_users")} new / ${last.getAs[Long]("returning_users")} returning")
      }
      val ltv = graft.pipeline.EventAnalytics.cohortLtv(spark, sfDir).collect()
      if (ltv.nonEmpty)
        println(s"  cohort_ltv: ${ltv.length} (cohort, offset) cells of " +
          "cumulative per-user value")
      // one-pass multi-dimension slices (GROUPING SETS: one exchange/table)
      val gsl = graft.drift.GroupDrift.groupSlices(spark, sfDir).collect()
      println(s"  group_slices: ${gsl.length} (table, dimension, category, metric) " +
        "slices from one grouping-sets pass per table")
      // the weighted keep score a mixture planner reads per source, and the
      // snapshot drift monitor on it — deployment-shape: both roll up ONE
      // cached per-doc ensemble frame instead of re-paying the scoring DAG
      val Seq(qeDf, sqdDf) =
        graft.pipeline.TextAnalysis.ensembleFamilyShared(spark, sfDir, approx = false)
      val qe = qeDf.collect()
      if (qe.nonEmpty) {
        val best = qe.maxBy(_.getAs[Double]("mean_score"))
        println(f"  quality_ensemble: ${qe.length} sources, best " +
          f"${best.getString(0)} mean_score=${best.getAs[Double]("mean_score")}%.3f " +
          f"keep_rate=${best.getAs[Double]("keep_rate")}%.2f")
      }
      val sqd = sqdDf.collect()
      println(s"  source_quality_drift: ${sqd.count(_.getAs[Boolean]("quality_drift"))}" +
        s"/${sqd.length} sources drifted in ensemble score between snapshot halves")
      spark.catalog.clearCache()
      val ent = graft.pipeline.TextAnalysis.docEntropy(spark, sfDir).collect()
      println(s"  doc_entropy: ${ent.map(_.getAs[Long]("n_low_entropy")).sum} " +
        s"low-entropy (templated/repetitive) docs across ${ent.length} sources")
      // the ingestion gate that runs BEFORE any drift comparison
      val cc = graft.pipeline.Constraints.constraintCheck(spark, sfDir).collect()
      val failed = cc.filter(!_.getAs[Boolean]("passed"))
      println(s"  constraint_check: ${cc.length - failed.length}/${cc.length} checks pass" +
        (if (failed.nonEmpty)
          failed.map(r => s"${r.getString(0)} metric=${r.getAs[Double]("metric")}")
            .mkString(" (failing: ", ", ", ")")
        else ""))
      // release-time re-identification audit (complements pii_scan)
      val ka = graft.pipeline.Privacy.kAnonymity(spark, sfDir).collect()
      ka.foreach { r =>
        println(s"  k_anonymity[${r.getString(0)}]: k=${r.getAs[Long]("k_anonymity")} " +
          s"over ${r.getAs[Long]("n_classes")} classes, " +
          s"${r.getAs[Long]("rows_below_k")} rows below k=${graft.pipeline.Privacy.KThreshold}")
      }
    }

    // versioned time travel driving the detector, as a config file would
    // (table_format = versioned_parquet)
    val tblRoot = java.nio.file.Files.createTempDirectory("graft-vpt-demo").toString + "/tbl"
    val tbl = new VersionedParquetTable(tblRoot)
    tbl.commit(v1); tbl.commit(v3)
    val run = ConfigReader.read(
      s"""{"table_path": "$tblRoot", "table_format": "versioned_parquet",
         | "reference_version": 0, "current_version": -1, "sample_size": 0}""".stripMargin)
    val vr = detector.detectDrift(new VersionedParquetTable(tblRoot), 0L, -1L, run)
    println(s"== versioned table v0 -> latest ==")
    println(s"  drift_detected: ${vr.driftDetected} (via manifest-committed time travel)")
    spark.stop()
  }
}
