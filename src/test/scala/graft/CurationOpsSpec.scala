package graft

import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.plans.SketchModeRewrite.during

/** Semantics of the round-6 curation/layout operators: mixture planning,
  * z-order pruning stats, cluster profiling, entity resolution, and the
  * incremental-ingest dedup gate. Planted fixtures pin the closed-form
  * arithmetic; sf0.001 runs pin the invariants on real tables. */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------ corpus_mixture

  /** Known token counts: en 4×10, zh 1×10, fr 1×2, xx 1×10 (unweighted).
    * total=62 → budget=31; targets floor(31·w): en 9, zh 6, fr 4, xx 0. */
  private lazy val mixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-mixture").toString
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val rows =
      (0 until 4).map(i => (i.toLong, words(10), "en")) ++
        Seq((10L, words(10), "zh"), (11L, words(2), "fr"), (12L, words(10), "xx"))
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("corpus_mixture allocates the token budget by the literal weights") {
    val rows = TextAnalysis.corpusMixture(spark, mixtureDir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(rows.keySet == Set("en", "zh", "fr", "xx"))
    val en = rows("en")
    assert(en.getAs[Long]("tokens_avail") == 40L)
    assert(en.getAs[Long]("target_tokens") == 9L)
    assert(en.getAs[Double]("sampling_rate") == 0.225)
    assert(en.getAs[String]("action") == "downsample")
    val zh = rows("zh")
    assert(zh.getAs[Long]("target_tokens") == 6L)
    assert(zh.getAs[Double]("sampling_rate") == 0.6)
    // fr's share exceeds its 2 available tokens → repeat the language
    val fr = rows("fr")
    assert(fr.getAs[Long]("target_tokens") == 4L)
    assert(fr.getAs[String]("action") == "oversample")
    assert(fr.getAs[Double]("epochs") == 2.0)
    assert(fr.getAs[Double]("sampling_rate") == 1.0)
    assert(fr.getAs[Long]("planned_tokens") == 2L)
    // a language outside the weight map is dropped from the mix
    val xx = rows("xx")
    assert(xx.getAs[Long]("target_tokens") == 0L)
    assert(xx.getAs[String]("action") == "drop")
  }

  test("corpus_mixture planned tokens never exceed availability or target") {
    TextAnalysis.corpusMixture(spark, sf).collect().foreach { r =>
      val planned = r.getAs[Long]("planned_tokens")
      assert(planned <= r.getAs[Long]("tokens_avail"))
      assert(planned <= r.getAs[Long]("target_tokens"))
      val rate = r.getAs[Double]("sampling_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  // -------------------------------------------------------- zorder_stats

  test("z-order layout bounds BOTH dimension spans; key-range bounds neither") {
    val rows = Layout.zorderStats(spark, sf).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    val z = rows("zorder"); val k = rows("key_range")
    // same rows distributed either way
    assert(z.getAs[Long]("n_rows") == k.getAs[Long]("n_rows"))
    assert(z.getAs[Long]("n_buckets") <= Layout.ZBuckets)
    // the insertion-key layout's footer stats cover ~the full range of the
    // two QUERY dims (no pruning); the Morton layout buys bounded spans on
    // both at once — the whole point of Z-ordering
    assert(k.getAs[Double]("avg_span_a") > 0.9)
    assert(k.getAs[Double]("avg_span_b") > 0.9)
    assert(z.getAs[Double]("avg_span_a") < 0.5 * k.getAs[Double]("avg_span_a"))
    assert(z.getAs[Double]("avg_span_b") < 0.5 * k.getAs[Double]("avg_span_b"))
  }

  test("the SQL Morton form is the exact bit interleave (bijective on 16 bits)") {
    // evaluate the generated arithmetic against a reference bit interleave
    // over random 8-bit pairs; bijectivity is what makes prefix-bucketing
    // by z-value a space-filling-curve layout rather than a lossy hash
    val r = new scala.util.Random(5)
    val pairs = Seq.fill(500)((r.nextInt(256), r.nextInt(256))) ++
      Seq((0, 0), (255, 255), (0, 255), (255, 0))
    def interleave(a: Int, b: Int): Long =
      (0 until 8).map(k => (((a >> k) & 1).toLong << (2 * k)) |
        (((b >> k) & 1).toLong << (2 * k + 1))).sum
    val rows = pairs.toDF("qa", "qb")
      .selectExpr("qa", "qb", s"${graft.pipeline.Layout.morton("qa", "qb", "DIV")} AS z")
      .collect()
    rows.foreach { row =>
      assert(row.getAs[Long]("z") ==
        interleave(row.getAs[Int]("qa"), row.getAs[Int]("qb")))
    }
    assert(rows.map(_.getAs[Long]("z")).distinct.length ==
      pairs.distinct.length)
  }

  test("corpus_mixture allocations never exceed the token budget in sum") {
    for (dir <- Seq(mixtureDir, sf)) {
      val rows = TextAnalysis.corpusMixture(spark, dir).collect()
      val totalAvail = rows.map(_.getAs[Long]("tokens_avail")).sum
      val budget = math.floor(totalAvail * TextAnalysis.MixtureBudgetFrac).toLong
      assert(rows.map(_.getAs[Long]("target_tokens")).sum <= budget)
      assert(rows.map(_.getAs[Long]("planned_tokens")).sum <= budget)
    }
  }

  // ----------------------------------------------------- cluster_profile

  test("cluster_profile partitions the corpus and keeps purity/cohesion sane") {
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val rows = Similarity.clusterProfile(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == n)
    assert(rows.length <= Similarity.cellsForCorpus(n) && rows.nonEmpty)
    rows.foreach { r =>
      val purity = r.getAs[Double]("purity")
      assert(purity > 0.0 && purity <= 1.0)
      assert(math.abs(r.getAs[Double]("cohesion")) <= 1.0 + 1e-9)
    }
  }

  test("pq_profile: codebook members reconstruct at zero error, codes in range") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    def vec(seed: Int) = { val rr = new scala.util.Random(seed); Array.fill(64)(rr.nextGaussian().toFloat) }
    // 16 codebook vectors + an exact copy of vec 3: every row in every
    // subspace is (or equals) a codebook entry -> reconstruction is exact
    ((0 until 16).map(i => (i.toLong, vec(i), 0)) :+ ((100L, vec(3), 0)))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val rows = Similarity.pqProfile(spark, dir).collect()
    assert(rows.length == Similarity.PqSubspaces)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == 17L)
      assert(r.getAs[Long]("codes_used") == 16L)
      assert(r.getAs[Double]("mse") == 0.0)
    }
  }

  test("pq_ann surfaces planted near-duplicates despite quantized distances") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqann").toString
    def vec(seed: Int) = { val rr = new scala.util.Random(seed); Array.fill(64)(rr.nextGaussian().toFloat) }
    // 30 random vectors + tiny perturbations of 0 and 1: the planted pair
    // distance is ~0 while random pairs are ~sqrt(2*64) apart, so the
    // quantization error cannot reorder them
    val embs = (0 until 30).map(i => (i.toLong, vec(i), 0)) ++
      Seq((100L, vec(0).map(x => x + 0.001f), 0), (101L, vec(1).map(x => x + 0.001f), 0))
    embs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val top = Similarity.pqAnnTopK(spark, dir).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("neighbor_id")).toSeq }
    assert(top(0L).head == 100L, s"query 0 top-1 was ${top(0L)}")
    assert(top(1L).head == 101L, s"query 1 top-1 was ${top(1L)}")
  }

  test("pq_profile on real data uses every code and keeps mse positive") {
    val rows = Similarity.pqProfile(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).distinct.length == 1)
    rows.foreach { r =>
      assert(r.getAs[Long]("codes_used") <= Similarity.PqCodes)
      assert(r.getAs[Double]("mse") > 0.0)
    }
  }

  // ------------------------------------------------------ entity_matches

  /** Planted catalog: a typo pair inside the bolt block, a typo pair inside
    * the widget block, and never a cross-block compare. */
  private lazy val partDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    (Seq.fill(3)("small bolt") ++
      Seq("smal bolt", "red bolt", "blue widget", "bleu widget"))
      .zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  test("entity_matches finds in-block typo pairs on the distinct-name frame") {
    val rows = EntityResolution.entityMatches(spark, partDir).collect()
    val byPair = rows.map(r =>
      (r.getAs[String]("name_a"), r.getAs[String]("name_b")) -> r).toMap
    val typo = byPair(("smal bolt", "small bolt"))
    assert(typo.getAs[Int]("edit_dist") == 1)
    // matching runs on distinct names: counts carry the row multiplicity
    assert(typo.getAs[Long]("rows_b") == 3L && typo.getAs[Long]("rows_a") == 1L)
    assert(byPair.contains(("bleu widget", "blue widget")))
    // blocking: no pair ever crosses the bolt/widget blocks
    rows.foreach { r =>
      assert(r.getAs[String]("name_a").split(" ").last ==
        r.getAs[String]("name_b").split(" ").last)
    }
  }

  test("entity_matches on real part data stays within the edit threshold") {
    val rows = EntityResolution.entityMatches(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("edit_dist") <= EntityResolution.MaxEdit)
      assert(r.getAs[Double]("similarity") > 0.0)
    }
  }

  // --------------------------------------------------- incremental_dedup

  /** Corpus source "a" (10 docs) + batch source "z": one exact copy, one
    * near-dup (word 20 changed — the PipelineSpec planting that lands
    * jaccard ≥ 0.8), one fresh doc. */
  private lazy val incrementDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString
    val r = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu")
    def doc() = Seq.fill(40)(vocab(r.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 10).map(i => (i.toLong, doc(), "a"))
    val near = { val w = base(1)._2.split(" "); w(20) = "CHANGED"; w.mkString(" ") }
    val batch = Seq((100L, base(0)._2, "z"), (101L, near, "z"), (102L, doc(), "z"))
    (base ++ batch).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("increment gate against persisted band sets equals the recomputed gate") {
    val docs = spark.read.parquet(s"$incrementDir/documents.parquet")
    val corpus = docs.filter(col("source") === "a").select("doc_id", "text")
    val batch = docs.filter(col("source") === "z").select("doc_id", "text")
    val art = java.nio.file.Files.createTempDirectory("graft-bands").toString + "/bands"
    Dedup.writeBandSets(corpus, art)
    val hashes = corpus.select(md5(col("text")).as("h")).distinct()
    val keptReuse = graft.streaming.StreamingIncrement
      .incrementGateWith(batch, hashes, Dedup.readBandSets(spark, art))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val keptRecompute = graft.streaming.StreamingIncrement
      .incrementGate(batch, corpus)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptReuse == keptRecompute)
    // exact copy (100) and near dup (101) drop; the fresh doc is admitted
    assert(keptReuse == Set(102L))
  }

  test("incremental_dedup drops exact and near dups against the corpus only") {
    val r = Dedup.incrementalDedup(spark, incrementDir).collect()(0)
    assert(r.getAs[String]("batch_source") == "z")
    assert(r.getAs[Long]("n_batch") == 3L)
    assert(r.getAs[Long]("n_corpus") == 10L)
    assert(r.getAs[Long]("n_exact_dup") == 1L)
    assert(r.getAs[Long]("n_near_dup") == 1L)
    assert(r.getAs[Long]("n_kept") == 1L)
    assert(r.getAs[Long]("kept_id_sum") == 102L)
  }

  test("quality_ensemble: component counts bound the keep count and the score is coherent") {
    val rows = graft.pipeline.TextAnalysis.qualityEnsemble(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val comps = Seq("n_lang_ok", "n_qual_ok", "n_gopher_ok", "n_lm_ok", "n_keep")
        .map(c => r.getAs[Long](c))
      comps.foreach(c => assert(c >= 0 && c <= n))
      val mean = r.getAs[Double]("mean_score")
      assert(mean >= 0.0 && mean <= 1.0)
      // mean score can never exceed the weighted sum of component rates
      // (equality when every doc's components co-occur)
      val ub = (5.0 * comps(0) + 5.0 * comps(1) + 6.0 * comps(2) + 4.0 * comps(3)) / (20.0 * n)
      assert(mean <= ub + 1e-9, s"${r.getString(0)}: mean $mean > bound $ub")
      assert(r.getAs[Double]("keep_rate") == graft.drift.pr6Scalar(comps(4).toDouble / n))
    }
    // the approx (sketch-tercile) path keeps every exact count identical;
    // only the lm threshold may move a borderline doc
    val approx = during(spark)(graft.pipeline.TextAnalysis.qualityEnsemble(spark, sf).collect())
      .map(r => r.getString(0) -> r).toMap
    rows.foreach { r =>
      val a = approx(r.getString(0))
      Seq("n_docs", "n_lang_ok", "n_qual_ok", "n_gopher_ok").foreach { c =>
        assert(a.getAs[Long](c) == r.getAs[Long](c), c)
      }
      assert(math.abs(a.getAs[Long]("n_lm_ok") - r.getAs[Long]("n_lm_ok")) <=
        math.max(2L, r.getAs[Long]("n_docs") / 5), "approx tercile shifts stay modest")
    }
  }

  test("source_quality_drift: sides partition each source and the pct change is exact") {
    val ens = graft.pipeline.TextAnalysis.qualityEnsemble(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val rows = graft.pipeline.TextAnalysis.sourceQualityDrift(spark, sf).collect()
    assert(rows.length == ens.size, "every source has docs on both sides of the % 40 split")
    rows.foreach { r =>
      val (rn, cn) = (r.getAs[Long]("ref_n"), r.getAs[Long]("curr_n"))
      assert(rn > 0 && cn > 0)
      assert(rn + cn == ens(r.getString(0)).getAs[Long]("n_docs"), "sides partition the source")
      val (rm, cm) = (r.getAs[Double]("ref_mean_score"), r.getAs[Double]("curr_mean_score"))
      assert(rm >= 0 && rm <= 1 && cm >= 0 && cm <= 1)
      // flag consistent with the rounded pct change (threshold far from 6dp)
      assert(r.getAs[Boolean]("quality_drift") ==
        (math.abs(r.getAs[Double]("score_pct_change")) > 0.1))
    }
  }

  test("ensembleFamilyShared frames equal the standalone ensemble queries") {
    val shared = TextAnalysis.ensembleFamilyShared(spark, sf)
    val standalone = Seq(
      TextAnalysis.qualityEnsemble(spark, sf),
      TextAnalysis.sourceQualityDrift(spark, sf))
    shared.zip(standalone).zipWithIndex.foreach { case ((sh, st), i) =>
      assert(sh.collect().toSeq == st.collect().toSeq,
        s"shared frame $i diverges from its standalone query")
    }
    spark.catalog.clearCache()
  }

  test("doc_entropy matches a scalar per-doc recomputation") {
    // independent JVM twin: per-doc H and ttr from raw token counts, folded
    // in the same canonical order, through pr6Scalar — pins both fold
    // levels and the low-entropy census
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
    val perDoc = docs.map { r =>
      val toks = r.getAs[String]("text").split("\\s+", -1)
      val n = toks.length.toDouble
      val counts = scala.collection.immutable.SortedMap(
        toks.groupBy(identity).map { case (w, g) => w -> g.length.toDouble }.toSeq: _*)
      // mirror entropySclcInRowExpr term-for-term: each run's c·log2(c)
      // quantized half-up at 6 dp (microScalar ≡ the query's FLOOR(·1e6+0.5)),
      // summed as exact integers — order-free, no fold contract needed
      val sclcU = counts.valuesIterator.foldLeft(0L)((a, c) =>
        if (c > 1.0) a + graft.drift.microScalar(c * (math.log(c) / math.log(2.0)))
        else a)
      val h = math.log(n) / math.log(2.0) - (sclcU.toDouble / 1e6) / n
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"), h, counts.size / n)
    }
    val want = perDoc.groupBy(_._2).map { case (src, ds) =>
      // rollup mirror: Σ microScalar(h) / Σ microScalar(ttr) as exact
      // integer micro-units (≡ microSumSql), one ÷10⁶, then the final avg
      val sumH = ds.foldLeft(0L)((a, d) => a + graft.drift.microScalar(d._3)).toDouble / 1e6
      val sumT = ds.foldLeft(0L)((a, d) => a + graft.drift.microScalar(d._4)).toDouble / 1e6
      src -> (ds.length.toLong,
        graft.drift.pr6Scalar(sumH / ds.length),
        graft.drift.pr6Scalar(sumT / ds.length),
        ds.count(d => graft.drift.pr6Scalar(d._3) < 3.5).toLong)
    }
    val got = TextAnalysis.docEntropy(spark, sf).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (nd, ah, at, nl) = want(r.getString(0))
      assert(r.getAs[Long]("n_docs") == nd)
      // Spark's log2 vs JVM log(x)/log(2) may differ in the last ulp; the
      // engines' cross-agreement is pinned by the oracle gate, this twin
      // pins the math to ~1e-9
      assert(math.abs(r.getAs[Double]("avg_entropy") - ah) < 1e-9, s"$r vs $ah")
      assert(math.abs(r.getAs[Double]("avg_ttr") - at) < 1e-9)
      assert(r.getAs[Long]("n_low_entropy") == nl)
      assert(r.getAs[Double]("avg_ttr") > 0 && r.getAs[Double]("avg_ttr") <= 1.0)
    }
    // the bench (approx) rollup tracks the exact path to ~1 micro-unit:
    // the exact side quantizes each per-doc h at 1e-6 (≤0.5e-6 shift on
    // the mean) and both sides pr6-round the output (≤0.5e-6 each)
    val ap = TextAnalysis.docEntropy(spark, sf, approx = true).collect()
      .map(r => r.getString(0) -> r).toMap
    got.foreach { r =>
      val a = ap(r.getString(0))
      assert(math.abs(a.getAs[Double]("avg_entropy") - r.getAs[Double]("avg_entropy")) < 2e-6)
      assert(a.getAs[Long]("n_low_entropy") == r.getAs[Long]("n_low_entropy"))
    }
  }

  test("in-row lexical signals are bit-identical to the explode-path per-doc H") {
    // the zero-shuffle run-length fold over sorted tokens quantizes each
    // run's c·log2(c) into micro-unit BIGINTs, so it must produce the SAME
    // exact integer sum as the explode + groupBy + per-word micro-SUM path
    // (the oracle CTE's shape) — bitwise, not approximately: both feed the
    // same pr6'd decisions, and exact integer sums are order-independent
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text")
    val inRow = TextAnalysis.lexicalSignals(docs)
      .select("doc_id", "h", "ttr").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exploded = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .withColumn("term", expr("CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))"))
      .groupBy("doc_id").agg(
        sum("c").as("n"), count(lit(1)).as("d"),
        expr(graft.drift.microSumSql("term")).as("sclc_u"))
      .selectExpr("doc_id",
        s"log2(CAST(n AS DOUBLE)) - (${graft.drift.microToDoubleSql("sclc_u")} / CAST(n AS DOUBLE)) AS h",
        "CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS ttr")
      .collect()
    assert(exploded.length == inRow.size)
    exploded.foreach { r =>
      val (h, ttr) = inRow(r.getLong(0))
      assert(java.lang.Double.doubleToLongBits(h) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"doc ${r.getLong(0)}: in-row h $h != exploded ${r.getDouble(1)}")
      assert(java.lang.Double.doubleToLongBits(ttr) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    }
  }
}
