package graft

import graft.plans.SketchModeRewrite.sketched

/** Composed eval harnesses: dedup banding quality, ANN index recall, and
  * the per-source corpus report card — each an oracle-checked query built
  * from the engine's own operators. */
class QualityHarnessSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

    test("dedup_quality: planted exact duplicate gives perfect recall; bounds hold on real data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dq").toString
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    // 10 distinct filler docs so the duplicate pair's shingles (df 2) pass
    // the 0.2n fractional df cap (2 <= 0.2 * 12)
    val fillers = (3L to 12L).map(i =>
      (i, (0 until 8).map(j => s"w${i}_$j").mkString(" "), "en", "s1", 40L))
    (Seq((1L, dup, "en", "s0", dup.length.toLong),
      (2L, dup, "en", "s0", dup.length.toLong)) ++ fillers)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val planted = graft.pipeline.Dedup.dedupQuality(spark, dir).collect()(0)
    // identical text: in the exact truth set AND collides in every band
    assert(planted.getLong(0) == 1 && planted.getLong(2) == 1)
    assert(planted.getDouble(3) == 1.0)
    // real fixture: proper bounds
    val r = graft.pipeline.Dedup.dedupQuality(spark, sf).collect()(0)
    assert(r.getLong(2) <= math.min(r.getLong(0), r.getLong(1)))
    Seq(r.getDouble(3), r.getDouble(4)).foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

    test("lsh_tuning_curve: monotone S-curves, exact endpoints, current config marked") {
    val rows = graft.pipeline.Dedup.lshTuningCurve(spark, sf).collect()
    assert(rows.length == 95) // 5 factorizations x 19 grid points
    assert(rows.count(_.getBoolean(4)) == 19) // exactly the (4,4) rows
    rows.groupBy(_.getInt(0)).values.foreach { curve =>
      val ps = curve.sortBy(_.getDouble(2)).map(_.getDouble(3))
      // each curve is nondecreasing in jaccard
      assert(ps.zip(ps.tail).forall { case (a, b) => b >= a })
      assert(ps.forall(p => p >= 0.0 && p <= 1.0))
    }
    // spot-check the closed form at (bands 4, rows 4, j 0.8)
    val p = rows.find(r => r.getInt(0) == 4 && r.getDouble(2) == 0.8).get.getDouble(3)
    val want = 1.0 - math.pow(1.0 - math.pow(0.8, 4), 4)
    assert(math.abs(p - want) < 1e-6)
  }

  test("weighted_sample is deterministic, weight-biased, and heap-planned") {
    val a = graft.pipeline.DataSplit.weightedSample(spark, sf).collect()
    val b = graft.pipeline.DataSplit.weightedSample(spark, sf).collect()
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq) // no rand() anywhere
    assert(a.length == graft.pipeline.DataSplit.SampleK)
    // A-Res bias: sampled docs skew toward heavier weights
    val corpusMean = graft.drift.table(spark, sf, "documents")
      .agg(org.apache.spark.sql.functions.avg("n_chars")).collect()(0).getDouble(0)
    val sampleMean = a.map(_.getLong(2).toDouble).sum / a.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
    val plan = graft.pipeline.DataSplit.weightedSample(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), "the sampler IS the distributed top-k heap")
  }

  test("embedding_audit flags planted null / zero / NaN / wrong-dim vectors") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("embaudit").toString
    val good = Array.fill(64)(0.5f)
    val zero = Array.fill(64)(0.0f)
    val short = Array.fill(32)(1.0f)
    val withNan = Array.tabulate(64)(i => if (i == 7) Float.NaN else 1.0f)
    Seq((0L, Option(good), 0), (1L, Option(zero), 0), (2L, Option(short), 0),
      (3L, Option(withNan), 1), (4L, Option(good), 1),
      (5L, Option.empty[Array[Float]], 1)) // failed encode: NULL embedding
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = graft.pipeline.EmbeddingDrift.embeddingAudit(spark, dir).collect()
      .map(r => r.getInt(0) -> r).toMap
    // columns: label, n_vecs, n_null, n_bad_dim, n_nan, n_zero_norm,
    // n_scored, mean_norm, p50_norm, p95_norm
    val l0 = got(0)
    assert(l0.getLong(1) == 3 && l0.getLong(2) == 0 && l0.getLong(3) == 1 &&
      l0.getLong(4) == 0 && l0.getLong(5) == 1 && l0.getLong(6) == 3)
    // label-0 p50 norm over CLEAN norms {4, 0, sqrt(32)=5.657} -> median 4
    assert(math.abs(l0.getDouble(8) - 4.0) < 1e-6)
    val l1 = got(1)
    assert(l1.getLong(1) == 3, "NULL row still counts in n_vecs")
    assert(l1.getLong(2) == 1, "NULL embedding must be censused, not pass silently")
    assert(l1.getLong(4) == 1, "NaN vector must be counted")
    assert(l1.getLong(6) == 1, "only the good vector is scored")
    // the NaN and NULL rows are excluded from the norm stats: mean over
    // clean norms only = the good vector's exact norm 4
    assert(l1.getDouble(7) == 4.0)
    // approx path agrees on all counting fields
    val a = sketched(graft.pipeline.EmbeddingDrift.embeddingAudit(spark, dir)).collect()
      .map(r => r.getInt(0) -> r).toMap
    Seq(0, 1).foreach { l =>
      (1 to 6).foreach(i => assert(a(l).getLong(i) == got(l).getLong(i)))
    }
  }

  test("containment_pairs catches a quote-expansion pair symmetric Jaccard misses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contain").toString
    // doc 1 = a 10-token quote; doc 2 = the same quote inside 30 tokens of
    // wrapper; 10 distinct fillers keep the df cap permissive
    val quote = (1 to 10).map(i => s"q$i").mkString(" ")
    val wrapper = (1 to 15).map(i => s"pre$i").mkString(" ") + " " + quote + " " +
      (1 to 15).map(i => s"post$i").mkString(" ")
    val fillers = (3L to 12L).map(i =>
      (i, (0 until 8).map(j => s"f${i}_$j").mkString(" "), "en", "s1", 40L))
    (Seq((1L, quote, "en", "s0", quote.length.toLong),
      (2L, wrapper, "en", "s0", wrapper.length.toLong)) ++ fillers)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.Dedup.containmentPairs(spark, dir).collect()
    assert(got.length == 1)
    val r = got(0)
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getDouble(2) == 1.0, "the quote is fully contained")
    assert(r.getDouble(4) < graft.pipeline.Dedup.JaccardThreshold,
      s"symmetric Jaccard must miss this pair: ${r.getDouble(4)}")
    // and the symmetric operator indeed does not emit it
    val jac = graft.pipeline.Dedup.ngramJaccardCapped(spark, dir).collect()
    assert(!jac.exists(x => x.getLong(0) == 1L && x.getLong(1) == 2L))
  }

  test("ann_quality ranks the index tiers as their scaladocs claim") {
    val rows = graft.pipeline.Similarity.annQuality(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("ann_lsh", "ann_ivf", "ann_kmeans", "ann_ivfpq",
      "pq_ann", "pq_ann_rerank"))
    rows.values.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "hits cannot exceed returned")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // exact re-rank must recover recall over plain ADC
    assert(rows("pq_ann_rerank").getDouble(3) > rows("pq_ann").getDouble(3))
    // REGRESSION FLOORS per tier, pinned just under the measured recall on
    // this fixture (ivf 0.72, ivfpq 0.66, rerank 0.88, pq_ann 0.22): a
    // tuning change that quietly craters an index tier fails here, the same
    // way dedup_quality pins the LSH banding
    val floors = Map("ann_ivf" -> 0.65, "ann_kmeans" -> 0.75, "ann_ivfpq" -> 0.55,
      "pq_ann_rerank" -> 0.8, "pq_ann" -> 0.15)
    // the Lloyd refinement must EARN its extra passes: strictly better
    // recall than the prefix-init quantizer on this fixture (0.82 vs 0.72)
    assert(rows("ann_kmeans").getDouble(3) > rows("ann_ivf").getDouble(3))
    floors.foreach { case (m, f) =>
      assert(rows(m).getDouble(3) >= f,
        s"$m recall ${rows(m).getDouble(3)} dropped below its $f floor")
    }
  }

  test("ann recall harness detects a detuned index (shortlist collapsed to k)") {
    import org.apache.spark.sql.functions._
    val S = graft.pipeline.Similarity
    val exact = S.annCosine(spark, sf).select("query_id", "neighbor_id").cache()
    val nExact = exact.count().toDouble
    // shortlist = k removes the re-rank margin: the candidate set IS the
    // ADC top-k, so recall collapses to plain pq_ann's — if this ever
    // PASSES the rerank floor, the harness has gone blind to detuning
    val detuned = S.pqAnnRerank(spark, sf, shortlist = S.TopK)
      .select("query_id", "neighbor_id")
    val recall = detuned.join(exact, Seq("query_id", "neighbor_id")).count() / nExact
    assert(recall < 0.8, s"detuned rerank recall $recall should sit under the 0.8 floor")
    exact.unpersist()
  }

    test("source_report accounts every doc once and flags planted cross-source duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srcrep").toString
    Seq((1L, "same text here", "en", "sA", 14L), (2L, "same text here", "de", "sB", 14L),
      (3L, "unique alpha", "en", "sA", 12L), (4L, "unique beta", "en", "sA", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.pipeline.TextAnalysis.sourceReport(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    // cross-source md5 duplicate counts against BOTH sources
    assert(got("sA").getLong(3) == 1 && got("sB").getLong(3) == 1)
    assert(got("sB").getDouble(4) == 1.0)
    assert(got("sA").getLong(1) == 3 && got("sA").getString(5) == "en")
    assert(math.abs(got("sA").getDouble(6) - 1.0) < 1e-9)
    assert(got.values.map(_.getLong(1)).sum == 4)
  }
}
