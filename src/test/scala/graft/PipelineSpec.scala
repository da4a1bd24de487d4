package graft

import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.plans.SketchModeRewrite.during

/** Dedup / similarity / text-analysis behavior on planted fixtures. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Temp dir with documents.parquet + embeddings.parquet: 20 base docs +
    * 3 planted near-duplicates (one word changed) + 1 exact duplicate. */
  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixture").toString
    val r = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu")
    def doc() = Seq.fill(40)(vocab(r.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 20).map(i => (i.toLong, doc()))
    val nearDups = (0 until 3).map { i =>
      val words = base(i)._2.split(" ")
      words(20) = "CHANGED"
      (100L + i, words.mkString(" "))
    }
    val exactDup = Seq((200L, base(5)._2))
    (base ++ nearDups ++ exactDup).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings: 30 random vectors; vec 100/101 are tiny perturbations of 0/1
    def vec(seed: Int) = { val rr = new scala.util.Random(seed); Array.fill(64)(rr.nextGaussian().toFloat) }
    val embs = (0 until 30).map(i => (i.toLong, vec(i), i % 3)) ++
      Seq((100L, vec(0).map(x => x + 0.001f), 0), (101L, vec(1).map(x => x + 0.001f), 1))
    embs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("exact dedup finds the planted exact duplicate") {
    val r = Dedup.dedupExact(spark, fixtureDir).collect()(0)
    assert(r.getAs[Long]("n_docs") == 24)
    assert(r.getAs[Long]("n_dup_docs") == 1)
  }

  test("trigram Jaccard finds planted near-duplicates (and the exact dup)") {
    val pairs = Dedup.ngramJaccard(spark, fixtureDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 100L)) && pairs.contains((1L, 101L)) && pairs.contains((2L, 102L)))
    assert(pairs.contains((5L, 200L)))
  }

  test("gate ngram_jaccard (abs-capped) is a provable no-op vs the uncapped " +
    "baseline on gate corpora") {
    // round 9: the gate name routes through the MaxShingleDfAbs ceiling so
    // the shipped plan is fan-out-bounded; on the gate corpora the ceiling
    // must not exclude anything (hash unchanged vs the historical oracle)
    for (dir <- Seq(fixtureDir, "/root/testdata/sf0.001")) {
      val capped = Dedup.ngramJaccard(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val uncapped = TestBaselines.ngramJaccardUncapped(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(capped == uncapped, s"df ceiling excluded shingles at $dir")
    }
    // ...and document the headroom: the hottest shingle sits far under
    // the 10^4 ceiling, so a data refresh that breeds a stopword trigram
    // hot enough to matter fails here first
    val maxDf = Dedup.shinglesOf(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .groupBy("sh").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxDf < Dedup.MaxShingleDfAbs / 10,
      s"hottest shingle df $maxDf is within 10x of the ceiling")
  }

  test("band-bucket guard: no-op on gate corpora, bounds a planted hot bucket") {
    import spark.implicits._
    // no-op pin (the MaxShingleDfAbs discipline): the capped lower side
    // equals the raw band frame row-for-row on real gate data, so every
    // LSH gate hash is unchanged by the guard's existence
    val tri = Dedup.shinglesOf(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")).cache()
    val bands = Dedup.bandsFromTri(tri, _.cache())
    val nDocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count()
    val capped = Dedup.bandReps(bands, _.cache(), docsUpperBound = nDocs)
      .collect().map(_.toString).sorted.toSeq
    val raw = bands.collect().map(_.toString).sorted.toSeq
    assert(capped == raw, "bucket cap excluded docs on a gate corpus")
    // headroom: the hottest (band, sig) bucket sits far under the cap, so
    // a data refresh hot enough to matter fails here first
    val maxBucket = bands
      .groupBy("band", "sig").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket < Dedup.MaxBandBucket / 10,
      s"hottest band bucket $maxBucket is within 10x of the cap")
    // planted hot bucket — the 100 TB duplicate-shard scenario: 50
    // identical docs collapse into ONE bucket per band; cap 5 keeps the 5
    // lowest doc_ids on the LOWER-id join side only, so the candidate
    // join emits B×cap-bounded pairs (235, not C(50,2) = 1225) while
    // EVERY copy still pairs with a representative — nothing escapes the
    // dedup decision (capping both sides would silently free the evicted
    // 45 copies)
    val hotText = "alpha beta gamma delta eps zeta eta theta iota kappa lambda mu"
    val hot = (0 until 50).map(i => (i.toLong, hotText)).toDF("doc_id", "text")
    val hotTri = Dedup.shinglesOf(hot).cache()
    val hotBands = Dedup.bandsFromTri(hotTri, _.cache())
    val reps = Dedup.bandReps(hotBands, _.cache(), maxBucket = 5L,
      docsUpperBound = 50L)
    assert(reps.groupBy("band", "sig").count()
      .agg(max("count")).collect()(0).getLong(0) <= 5L)
    assert(reps.select("doc_id").distinct().collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 5L).toSeq, "representatives must be the lowest doc_ids")
    val pairs = Dedup.pairsFromTriAndBands(hotTri, hotBands,
      maxBucket = 5L, docsUpperBound = 50L)
      .select("doc_a", "doc_b").collect()
    // a = reps only; every non-minimum copy appears as doc_b
    assert(pairs.map(_.getLong(0)).toSet.subsetOf((0L until 5L).toSet))
    assert(pairs.map(_.getLong(1)).toSet == (1L until 50L).toSet,
      "an evicted copy escaped the dedup decision")
    assert(pairs.length == (0 until 5).map(a => 49 - a).sum) // 235
    assert(Dedup.pairsFromTriAndBands(hotTri, hotBands,
      maxBucket = Long.MaxValue, docsUpperBound = 50L).count() == 1225L,
      "sanity: without the guard the hot bucket squares")
  }

  test("capCandidatesBy: materializeCached=false changes laziness only, never results") {
    // the flag exists for plan-composition callers (round-14 ADVICE): the
    // eager path pre-materializes a cached input before a self-join, the
    // lazy path skips that job — the RESULT rows must be identical on the
    // armed path either way (no production caller passes false today;
    // this pin keeps the contract honest for the one that eventually does)
    import spark.implicits._
    val df = (0 until 40).map(i => (i % 2, i.toLong)).toDF("key", "id").cache()
    def rows(materialize: Boolean) =
      Similarity.capCandidatesBy(df, Seq("key"), "id", 5L, sizeBound = 40L,
        materializeCached = materialize).collect().map(_.toString).sorted.toSeq
    try assert(rows(materialize = true) == rows(materialize = false))
    finally { df.unpersist(): Unit }
  }

  test("an armed guard with an empty hot set is a row-for-row no-op") {
    // the level-2 armed path a HEALTHY over-cap corpus pays (hot-probe
    // finds nothing, both broadcast build sides empty) must not change
    // the verified-pair surface. Bench-scale twin: the committed
    // ARMED_PROBE.json runs this invariant at 25,000 docs / 20,000
    // vectors over the PRODUCTION caps and records the armed path's
    // measured overhead next to the unguarded baseline.
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      val rr = new scala.util.Random(100 + i)
      (i.toLong, Array.fill(12)("t" + rr.nextInt(40)).mkString(" "))
    }.toDF("doc_id", "text")
    val tri = Dedup.shinglesOf(docs).cache()
    val bands = Dedup.bandsFromTri(tri, _.cache())
    // maxBucket 20 < 30 docs arms the ladder; no bucket can host > 20
    val armed = Dedup.pairsFromTriAndBands(tri, bands, _.cache(),
        maxBucket = 20L, docsUpperBound = 30L)
      .collect().map(_.toString).sorted.toSeq
    val unguarded = Dedup.pairsFromTriAndBands(tri, bands, _.cache(),
        maxBucket = Long.MaxValue, docsUpperBound = 30L)
      .collect().map(_.toString).sorted.toSeq
    assert(armed == unguarded, "armed empty-hot guard changed the pair surface")
  }

  test("MinHash LSH surfaces the same near-dup candidates with high jaccard") {
    val cands = Dedup.minhashLsh(spark, fixtureDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    for (p <- Seq((0L, 100L), (1L, 101L), (2L, 102L), (5L, 200L))) {
      assert(cands.contains(p), s"LSH missed planted pair $p")
      assert(cands(p) > 0.7)
    }
  }

  test("near-dup components collapse planted clusters to the min doc_id") {
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .select("doc_id", "text")
    val labels = Dedup.neardupComponents(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(labels.size == 24)
    // each planted near-dup (and the exact dup) joins its base doc's cluster
    assert(labels(100L) == 0L && labels(101L) == 1L && labels(102L) == 2L)
    assert(labels(200L) == 5L)
    // an unplanted doc is its own singleton component
    assert(labels(7L) == 7L)
  }

  /** English-vocab corpus for the prep funnel: 12 clean base docs + 1
    * near-dup (one word changed) + 1 exact dup + 1 German doc (language
    * gate) + 1 short English doc (quality gate), all in one source. */
  private lazy val funnelDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    val r = new scala.util.Random(11)
    val stop = Seq("the", "a", "of", "and", "is")
    val content = Seq("mountain", "river", "forest", "stone", "cloud", "window",
      "garden", "silver", "market", "candle", "journey", "harbor")
    def word(i: Int) = if (i % 4 == 0) stop(r.nextInt(stop.size)) else content(r.nextInt(content.size))
    def doc() = (0 until 100).map(word).mkString(" ")
    val base = (0 until 12).map(i => (i.toLong, doc()))
    val nearDup = { val w = base(0)._2.split(" "); w(50) = "mutated"; Seq((100L, w.mkString(" "))) }
    val exactDup = Seq((200L, base(5)._2))
    val german = Seq((300L, Seq.fill(20)("der die das und nicht haus baum wasser").mkString(" ")))
    val shortEn = Seq((301L, "the cat and the dog is of a man"))
    (base ++ nearDup ++ exactDup ++ german ++ shortEn).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("label propagation matches union-find on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val pairs = (0 until 40).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      // driver-side union-find oracle: component id = min member
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = Dedup.propagateMinLabels(
          (0L until n.toLong).toDF("doc_id"), pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("near-dup components on degenerate corpora: empty, and sub-shingle docs") {
    import spark.implicits._
    // empty corpus: no edges, no labels, loop terminates immediately
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.neardupComponents(empty).count() == 0)
    // docs under 3 words produce NO shingles (and so no minhash signature),
    // but every doc must still come back as its own singleton component
    val tiny = Seq((1L, "just two"), (2L, "one"), (3L, "")).toDF("doc_id", "text")
    val labels = Dedup.neardupComponents(tiny).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("near-dup funnel with zero gate survivors reports all-zero kept counts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nosurv").toString
    Seq((1L, Seq.fill(30)("der die das und nicht haus").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("de")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = TextAnalysis.corpusPrepNeardup(spark, dir).collect().head
    assert(row.getAs[Long]("n_docs") == 1)
    assert(row.getAs[Long]("n_lang_kept") == 0)
    assert(row.getAs[Long]("n_quality_kept") == 0)
    assert(row.getAs[Long]("n_dedup_kept") == 0)
    assert(row.getAs[Long]("n_neardup_kept") == 0)
  }

  test("corpus-prep near-dup funnel collapses planted dups to one survivor") {
    val rows = TextAnalysis.corpusPrepNeardup(spark, funnelDir).collect()
    assert(rows.length == 1)
    val row = rows.head
    assert(row.getAs[Long]("n_docs") == 16)
    assert(row.getAs[Long]("n_lang_kept") == 15, "German doc gated on language")
    assert(row.getAs[Long]("n_quality_kept") == 14, "short doc gated on quality")
    assert(row.getAs[Long]("n_dedup_kept") == 13, "exact dup collapsed")
    assert(row.getAs[Long]("n_neardup_kept") == 12, "near-dup collapsed")
  }

  test("balanced mix downsamples every source to the smallest source's size") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-balance").toString
    val rows = (0 until 10).map(i => (i.toLong, s"doc number $i words", "big")) ++
      (100 until 104).map(i => (i.toLong, s"doc number $i words", "small"))
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.balancedMix(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"), r.getAs[Long]("kept_id_sum"))).toMap
    assert(out("big")._1 == 10 && out("big")._2 == 4)
    assert(out("small") == ((4L, 4L, (100L to 103L).sum))) // all of the small source survives
    // the big source's kept subset is a strict, deterministic selection
    assert(out("big")._3 < (0L until 10L).sum)
  }

  test("decontamination flags the train doc that contains an eval doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-decon").toString
    val evalText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val rows = Seq(
      (1L, evalText, "a_eval"),                      // lexicographically first => eval set
      (10L, evalText + " with a tiny tail", "train"), // high containment
      (11L, "completely unrelated words about mountains and silver markets here now", "train"))
    rows.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.decontamination(spark, dir).collect()
    assert(out.length == 1 && out.head.getAs[String]("source") == "train")
    assert(out.head.getAs[Long]("n_docs") == 2)
    assert(out.head.getAs[Long]("n_contaminated") == 1)
  }

  test("bloom decontamination is bit-identical to exact, even at fpp 0.5") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-deconbloom").toString
    val r = new scala.util.Random(13)
    val vocab = Seq("quick", "brown", "fox", "lazy", "dog", "river", "bank",
      "mountain", "silver", "market", "candle", "harbor", "stone", "cloud")
    def doc() = Seq.fill(30)(vocab(r.nextInt(vocab.size))).mkString(" ")
    val evalDocs = (1L to 4L).map(i => (i, doc(), "a_eval"))
    val trainDocs = (10L to 24L).map(i => (i, doc(), "train")) ++
      Seq((30L, evalDocs.head._2 + " extra tail words", "train")) // planted leak
    (evalDocs ++ trainDocs).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val exact = Dedup.decontamination(spark, dir).collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty) // the planted leak makes the comparison non-vacuous
    val bloom = Dedup.decontaminationBloom(spark, dir).collect().map(_.toSeq).toSeq
    // at fpp 0.5 half the train shingles pass as false positives — the
    // exact confirm join must still reduce to the identical answer
    val sloppy = Dedup.decontaminationBloom(spark, dir, fpp = 0.5)
      .collect().map(_.toSeq).toSeq
    assert(bloom == exact)
    assert(sloppy == exact)
  }

  test("decontamination on a single-source corpus returns no train rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-decon1").toString
    Seq((1L, "only one source exists in this corpus right now", "solo"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Dedup.decontamination(spark, dir).collect().isEmpty)
  }

  test("PII scan counts planted emails, phones and IPs per source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pii").toString
    Seq(
      (1L, "contact me at alice@example.com or bob@test.org for details", "s1"),
      (2L, "call +1 (555) 123-4567 tomorrow morning", "s1"),
      (3L, "server at 192.168.0.12 went down again", "s2"),
      (4L, "nothing sensitive in this one at all", "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.piiScan(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("s1").getAs[Long]("docs_with_email") == 1)
    assert(out("s1").getAs[Long]("total_email_hits") == 2)
    assert(out("s1").getAs[Long]("docs_with_phone") == 1)
    assert(out("s2").getAs[Long]("docs_with_ip") == 1)
    assert(out("s2").getAs[Long]("docs_with_email") == 0)
  }

  test("SimHash ranks planted near-dups as closest pairs") {
    val top = Dedup.simhashPairs(spark, fixtureDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).take(4).toSet
    assert(top.contains((5L, 200L))) // hamming 0 for the exact dup
    assert(top.exists(p => p._2 >= 100L)) // near-dups in the closest set
  }

  test("brute-force ANN finds the perturbed twin as nearest neighbor") {
    val nn = Similarity.annCosine(spark, fixtureDir).collect()
      .filter(r => r.getAs[Long]("query_id") == 0L && r.getAs[Int]("rk") == 1)
    assert(nn.head.getAs[Long]("neighbor_id") == 100L)
    assert(nn.head.getAs[Double]("cosine") > 0.999)
  }

  test("LSH ANN recalls the near-identical twin (same bucket)") {
    val res = Similarity.lshTopK(spark, fixtureDir).collect()
      .filter(r => r.getAs[Long]("query_id") == 0L)
    assert(res.nonEmpty && res.head.getAs[Long]("neighbor_id") == 100L)
  }

  test("IVF ANN recalls the near-identical twin (same cell as its query)") {
    val res = Similarity.ivfTopK(spark, fixtureDir).collect()
    // a near-identical pair has near-identical centroid similarities, so
    // both land in the same cell and find each other
    val q0 = res.filter(r => r.getAs[Long]("query_id") == 0L)
    assert(q0.nonEmpty && q0.head.getAs[Long]("neighbor_id") == 100L)
    // ranks are contiguous from 1 and cosines non-increasing per query
    res.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rk"))
      assert(sorted.head.getAs[Int]("rk") == 1)
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF search from the persisted index artifact equals the inline query") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    Similarity.writeIvfIndex(spark, fixtureDir, idx)
    val inline = Similarity.ivfTopK(spark, fixtureDir).collect().toSeq
    val fromIdx = Similarity.ivfTopKFromIndex(spark, fixtureDir, idx).collect().toSeq
    // build-once/query-many must be a pure refactor of the plan's
    // assignment stage: row-for-row identical output
    assert(fromIdx == inline && inline.nonEmpty)
  }

  test("IVF cell count scales with the corpus (bounded in-cell work)") {
    assert(Similarity.cellsForCorpus(0) == 1)
    assert(Similarity.cellsForCorpus(256) == 1)
    assert(Similarity.cellsForCorpus(257) == 2)
    // ~n/256 cells: in-cell join cost stays O(n * 256), linear in n
    assert(Similarity.cellsForCorpus(10000000L) == math.ceil(1e7 / 256).toInt)
    assert(Similarity.cellsForCorpus(Long.MaxValue) == Similarity.MaxIvfCells)
    // monotone in n
    val samples = Seq(1L, 100L, 10000L, 1000000L, 100000000L)
    val ks = samples.map(Similarity.cellsForCorpus(_))
    assert(ks.zip(ks.tail).forall { case (a, b) => a <= b })
  }

  test("two-level IVF assignment: ~sqrt geometry, degeneracy, same-route twins") {
    // flat ladder rung: K ≤ FlatAssignMaxCells collapses to ONE group
    // (cps = K), so the route arithmetic degenerates to the flat argmax
    // and the Spark fast path can skip the routing stages outright
    assert(Similarity.superCellsFor(1) == 1 && Similarity.childrenPerSuper(1) == 1)
    assert(Similarity.superCellsFor(2) == 1 && Similarity.childrenPerSuper(2) == 2)
    assert(Similarity.superCellsFor(8) == 1 && Similarity.childrenPerSuper(8) == 8)
    assert(Similarity.superCellsFor(Similarity.FlatAssignMaxCells) == 1)
    // above the rung: cps ≈ √K bounds per-vector assignment work to
    // S + 2·cps ≈ 3√K dots
    assert(Similarity.superCellsFor(Similarity.FlatAssignMaxCells + 1) == 17)
    assert(Similarity.childrenPerSuper(Similarity.FlatAssignMaxCells + 1) == 16)
    // at the MaxIvfCells clamp the flat path paid 2^20 dots per vector;
    // two-level pays 2×2^10
    assert(Similarity.superCellsFor(1 << 20) == 1024)
    assert(Similarity.childrenPerSuper(1 << 20) == 1024)
    // a genuinely two-level corpus (600 vectors → K=3, S=2, cps=2:
    // groups {0,1},{2}): assignment is total (one cell per vector) and a
    // planted near-identical pair routes to the SAME cell — identical
    // arithmetic gives identical routes, the property semantic dedup and
    // the streaming gate rely on
    val rnd = new scala.util.Random(19)
    val base = Array.fill(64)(rnd.nextGaussian())
    val rows = (0 until 598).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat), 0)) ++
      Seq((598L, base.map(_.toFloat), 0),
        (599L, base.map(x => (x + rnd.nextGaussian() * 1e-3).toFloat), 0))
    val dir = java.nio.file.Files.createTempDirectory("graft-hier").toString
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cellVecs = Similarity
      .cellStructure(spark.read.parquet(s"$dir/embeddings.parquet"), flatMax = 0)._2
    val cells = cellVecs.collect()
      .map(r => r.getAs[Long]("c_id") -> r.getAs[Long]("cell")).toMap
    assert(cells.size == 600 && cells.values.forall(c => c >= 0L && c < 3L))
    assert(cells(598L) == cells(599L), "near-identical twins routed apart")
    // deterministic under re-execution (reproducible-index contract)
    val again = Similarity
      .cellStructure(spark.read.parquet(s"$dir/embeddings.parquet"), flatMax = 0)._2
      .collect().map(r => r.getAs[Long]("c_id") -> r.getAs[Long]("cell")).toMap
    assert(again == cells)
  }

  test("multi-probe routing recovers a nearest centroid in the rank-2 super's group") {
    // 600 vectors → K=3, S=2, cps=2: groups {0,1} (super = cent 0) and
    // {2} (super = cent 2). Centroids are the basis vectors e0/e1/e2; the
    // planted query v = 0.8·e1 + 0.6·e2 ranks the supers (g1: 0.6) >
    // (g0: 0.0) — a SINGLE-probe route lands in g1 and settles for cell 2
    // (cos 0.6), missing its globally nearest centroid e1 (cos 0.8) in
    // the rank-2 group. Top-2 probing must find cell 1 — the recall
    // boundary effect the multi-probe exists to close.
    def basis(i: Int): Array[Float] =
      Array.tabulate(64)(j => if (j == i) 1f else 0f)
    val rnd = new scala.util.Random(23)
    val planted = Array.tabulate(64)(j =>
      if (j == 1) 0.8f else if (j == 2) 0.6f else 0f)
    val rows = Seq((0L, basis(0), 0), (1L, basis(1), 0), (2L, basis(2), 0)) ++
      (3 until 599).map(i =>
        (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat), 0)) ++
      Seq((599L, planted, 0))
    val dir = java.nio.file.Files.createTempDirectory("graft-mprobe").toString
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cells = Similarity
      .cellStructure(spark.read.parquet(s"$dir/embeddings.parquet"), flatMax = 0)._2
      .collect().map(r => r.getAs[Long]("c_id") -> r.getAs[Long]("cell")).toMap
    assert(cells(599L) == 1L,
      s"multi-probe missed the rank-2 group's nearest centroid: got cell ${cells(599L)}")
    // the centroids themselves are their own nearest cells (sanity that
    // the demoted second routing pass never steals an exact self-match)
    assert(cells(0L) == 0L && cells(1L) == 1L && cells(2L) == 2L)
  }

  test("PQ re-rank with a corpus-covering shortlist equals brute-force exactly") {
    // 32 vectors < PqShortlist: stage 1 keeps every candidate, so stage 2's
    // exact cosine re-rank must reproduce annCosine bit-for-bit — the
    // invariant that pins both stages' arithmetic at once
    val exact = Similarity.annCosine(spark, fixtureDir).collect().map(_.toSeq).toSeq
    val rerank = Similarity.pqAnnRerank(spark, fixtureDir).collect().map(_.toSeq).toSeq
    assert(rerank == exact)
    // and the re-rank rescues the planted twin that plain ADC may misrank
    val q0 = Similarity.pqAnnRerank(spark, fixtureDir).collect()
      .filter(r => r.getAs[Long]("query_id") == 0L && r.getAs[Int]("rk") == 1)
    assert(q0.head.getAs[Long]("neighbor_id") == 100L)
    assert(q0.head.getAs[Double]("cosine") > 0.999)
  }

  test("IVF+PQ+re-rank on a single-cell corpus equals brute-force exactly") {
    // 32 vectors => one cell and a corpus-covering shortlist: the coarse
    // quantizer prunes nothing and the re-rank is exact, so the composed
    // index must reproduce annCosine bit-for-bit
    val exact = Similarity.annCosine(spark, fixtureDir).collect().map(_.toSeq).toSeq
    val ivfpq = Similarity.ivfPqTopK(spark, fixtureDir).collect().map(_.toSeq).toSeq
    assert(ivfpq == exact)
  }

  test("semantic dedup: twin drops, min-id keep rule, threshold extremes") {
    // fixture = 32 vectors => one cell; the planted twins (0,100) and
    // (1,101) are the only pairs with cosine >= 0.95 among 64-dim gaussians
    val strict = Similarity.semanticDedup(spark, fixtureDir, threshold = 0.95).collect()
    assert(strict.map(_.getAs[Long]("n_vectors")).sum == 32)
    assert(strict.map(_.getAs[Long]("n_dropped")).sum == 2)
    // min-id keep rule: the base vectors survive, the twin copies drop
    val allIds = (0L until 30L).sum + 100L + 101L
    assert(strict.map(_.getAs[Long]("kept_id_sum")).sum == allIds - 201L)
    // threshold above 1: cosine can never qualify, nothing drops
    val none = Similarity.semanticDedup(spark, fixtureDir, threshold = 1.01).collect()
    assert(none.map(_.getAs[Long]("n_dropped")).sum == 0)
    assert(none.map(_.getAs[Long]("kept_id_sum")).sum == allIds)
    // threshold -1: every same-cell pair qualifies, exactly the min id of
    // each cell survives — pins the deterministic keep rule at the extreme
    val all = Similarity.semanticDedup(spark, fixtureDir, threshold = -1.0).collect()
    all.foreach(r => assert(r.getAs[Long]("n_dropped") == r.getAs[Long]("n_vectors") - 1))
    // monotone: a looser threshold never drops fewer vectors
    val mid = Similarity.semanticDedup(spark, fixtureDir, threshold = 0.3).collect()
    assert(mid.map(_.getAs[Long]("n_dropped")).sum >=
      strict.map(_.getAs[Long]("n_dropped")).sum)
  }

  test("k-means IVF recalls the planted twins through trained cells") {
    val res = Similarity.kmeansIvfTopK(spark, fixtureDir).collect()
    // near-identical vectors land in the same trained cell
    val q0 = res.filter(r => r.getAs[Long]("query_id") == 0L)
    assert(q0.nonEmpty && q0.head.getAs[Long]("neighbor_id") == 100L)
    val q1 = res.filter(r => r.getAs[Long]("query_id") == 1L)
    assert(q1.nonEmpty && q1.head.getAs[Long]("neighbor_id") == 101L)
    // recall vs brute force: for queries with vec_id < 10, the trained-cell
    // top-1 should match the exact top-1 for at least the twin queries and
    // ranks stay contiguous per query
    res.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      assert(rows.sortBy(_.getAs[Int]("rk")).head.getAs[Int]("rk") == 1)
    }
  }

  test("deterministic Lloyd IVF recalls the twins and reproduces bit-for-bit") {
    val res = Similarity.lloydIvfTopK(spark, fixtureDir).collect().map(_.toSeq).toSeq
    val q0 = res.filter(r => r.head == 0L)
    assert(q0.nonEmpty && q0.head(2) == 100L)
    val q1 = res.filter(r => r.head == 1L)
    assert(q1.nonEmpty && q1.head(2) == 101L)
    // reproducible clustering is the operator's contract: a second build
    // from the same corpus must assign — and therefore rank — identically
    val again = Similarity.lloydIvfTopK(spark, fixtureDir).collect().map(_.toSeq).toSeq
    assert(again == res)
  }

  test("Lloyd refinement rebalances a skewed prefix init") {
    // planted pathology for the prefix init: the first two vectors (the
    // initial centroids) BOTH sit in cluster A, so iteration 0 splits A
    // and lumps all of cluster B behind whichever centroid is closer —
    // Lloyd must migrate one centroid toward B and shrink the biggest cell
    val rnd = new scala.util.Random(7)
    def around(base: Array[Double]): Array[Double] =
      base.map(x => x + rnd.nextGaussian() * 0.05)
    val a = Array.fill(64)(1.0); val b = Array.tabulate(64)(i => if (i < 32) -1.0 else 1.0)
    val rows = (0 until 150).map(i => (i.toLong, around(a).map(_.toFloat), 0)) ++
      (150 until 300).map(i => (i.toLong, around(b).map(_.toFloat), 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-lloyd").toString
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def maxCell(df: org.apache.spark.sql.DataFrame): Long = {
      val byCell = df.groupBy("query_id").count() // in-cell degree ~ cell size
      byCell.agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    }
    // 300 vectors -> 2 cells; prefix init (ivfTopK) leaves one cell with
    // all 150 B-vectors plus part of A, Lloyd converges to the 150/150 cut
    val lloyd = Similarity.lloydIvfTopK(spark, dir, k = 300)
    val prefix = Similarity.ivfTopK(spark, dir, k = 300)
    assert(maxCell(lloyd) <= maxCell(prefix))
    assert(maxCell(lloyd) == 149L) // the true clusters, each its own cell
  }

  test("zero-norm vectors assign to the smallest centroid id, deterministically") {
    // pins the max_by null-ordering claim: a zero vector's cosine to every
    // centroid is NULL (NULLIF norm product), and struct(sim, -cent_id)
    // with a null first field orders below any non-null sim — so the
    // argmax must fall back to the SMALLEST cent_id, exactly like the
    // row_number window's NULLS LAST + cent_id ASC tie-break did
    val rnd = new scala.util.Random(3)
    val rows = (0 until 300).map { i =>
      val v = if (i == 250) Array.fill(64)(0.0f)
              else Array.fill(64)(rnd.nextGaussian().toFloat * 0.3f)
      (i.toLong, v, 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-zerovec").toString
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // 300 vectors -> 2 cells; the zero vector (id 250) must land in cell 0
    def cellOf250: Long = Similarity
      .cellStructure(spark.read.parquet(s"$dir/embeddings.parquet"))._2
      .filter(org.apache.spark.sql.functions.col("c_id") === 250L)
      .collect().head.getAs[Long]("cell")
    assert(cellOf250 == 0L)
    assert(cellOf250 == 0L) // deterministic under re-execution
  }

  test("ANN candidate cap: no-op on gate corpora, bounds a planted hot cell") {
    // the search-bucket twin of the band-bucket guard: inert by default
    // (row-for-row identical output with the cap effectively off) ...
    val guarded = Similarity.ivfTopK(spark, fixtureDir).collect().map(_.toSeq).toSeq
    val uncapped = Similarity.ivfTopK(spark, fixtureDir, maxCell = Long.MaxValue)
      .collect().map(_.toSeq).toSeq
    assert(guarded == uncapped && guarded.nonEmpty)
    val lshG = Similarity.lshTopK(spark, fixtureDir).collect().map(_.toSeq).toSeq
    val lshU = Similarity.lshTopK(spark, fixtureDir, maxBucket = Long.MaxValue)
      .collect().map(_.toSeq).toSeq
    assert(lshG == lshU)
    // ... and on a planted duplicate-heavy shard (60 near-identical
    // vectors -> one cell) a cap of 5 keeps only the 5 lowest vec_ids as
    // candidates: every neighbor is a representative and the join emits
    // <= queries x cap rows instead of B^2
    val rnd = new scala.util.Random(11)
    val base = Array.fill(64)(1.0)
    val rows = (0 until 60).map(i =>
      (i.toLong, base.map(x => (x + rnd.nextGaussian() * 0.01).toFloat), 0))
    val dir = java.nio.file.Files.createTempDirectory("graft-hotcell").toString
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val capped = Similarity.ivfTopK(spark, dir, k = 60, maxCell = 5L).collect()
    assert(capped.forall(_.getAs[Long]("neighbor_id") < 5L))
    assert(capped.length <= 60 * 5)
    // sanity: without the guard the hot cell squares (every pair appears)
    val free = Similarity.ivfTopK(spark, dir, k = 60, maxCell = Long.MaxValue).count()
    assert(free == 60L * 59)
  }

  test("embedding near-dup pass ranks the planted twins first") {
    val top2 = Similarity.embedNeardup(spark, fixtureDir).collect().take(2)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(top2 == Set((0L, 100L), (1L, 101L)))
  }

  test("text quality + fingerprints are deterministic and sane") {
    val q = TextAnalysis.textQuality(spark, fixtureDir).collect()
    assert(q.length == 24)
    assert(q.forall(r => { val s = r.getAs[Double]("quality_score"); s >= 0 && s <= 1 }))
    val fp = TextAnalysis.fingerprints(spark, fixtureDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fingerprint"))).toMap
    assert(fp(5L) == fp(200L)) // exact duplicate -> same fingerprint
    assert(fp(0L) != fp(100L)) // near dup -> different fingerprint
  }

  test("repetition signals match hand-computed fractions on planted docs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rep").toString
    Seq(
      (1L, "a a a a"),     // 4 words, 3 bigrams all "a a", 2 trigrams both dup
      (2L, "a b c d"),     // no repetition at all
      (3L, "x"))           // sub-n-gram doc: fracs are 0, not an error
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.repetitionSignals(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("top_word_frac") == 1.0)
    assert(out(1L).getAs[Double]("dup_2gram_frac") == 0.666667) // 1 - 1/3
    assert(out(1L).getAs[Double]("dup_3gram_frac") == 0.5)      // 1 - 1/2
    assert(out(1L).getAs[Double]("distinct_word_ratio") == 0.25)
    assert(out(2L).getAs[Double]("dup_2gram_frac") == 0.0)
    assert(out(2L).getAs[Double]("top_word_frac") == 0.25)
    assert(out(3L).getAs[Double]("dup_2gram_frac") == 0.0)
    assert(out(3L).getAs[Double]("dup_3gram_frac") == 0.0)
    assert(out(3L).getAs[Long]("n_words") == 1L)
  }

  test("gopher quality gates pass a clean doc and fail each planted defect") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-gopher").toString
    val clean = (Seq("the", "a", "of") ++ Seq.fill(57)("mountain")).mkString(" ") // 60 words
    val short = "the cat and a dog"                                   // < 50 words
    val symbols = (Seq("the", "a") ++ Seq.fill(58)("word#")).mkString(" ") // 58 '#' / 60 words
    val numeric = (Seq("the", "a") ++ Seq.fill(58)("12345")).mkString(" ") // alpha frac 2/60
    val noStop = Seq.fill(60)("mountain").mkString(" ")               // 0 stopwords
    Seq((1L, clean, "s1"), (2L, short, "s1"), (3L, symbols, "s2"),
      (4L, numeric, "s2"), (5L, noStop, "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.gopherQuality(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("s1").getAs[Long]("n_pass_all") == 1)   // only the clean doc
    assert(out("s1").getAs[Long]("n_words_ok") == 1)   // short doc fails count
    assert(out("s1").getAs[Long]("n_stopword_ok") == 2)
    assert(out("s2").getAs[Long]("n_symbol_ok") == 2)  // symbol doc fails ratio
    assert(out("s2").getAs[Long]("n_alpha_ok") == 2)   // numeric doc fails alpha
    assert(out("s2").getAs[Long]("n_stopword_ok") == 2) // noStop doc fails
    assert(out("s2").getAs[Long]("n_pass_all") == 0)
  }

  test("as-of join picks the latest prior right row, inclusively, per key") {
    import spark.implicits._
    // (doc: ts in plain longs) user 1: purchases at 10 (id 11) and 15
    // (id 12); user 3: TWO purchases at the same ts 10 (ids 31, 32);
    // user 2: no purchases at all
    val clicks = Seq(
      (1L, 5L, 101L),   // before any purchase -> NULL
      (1L, 10L, 102L),  // equal ts -> inclusive match on id 11
      (1L, 14L, 103L),  // -> purchase 11
      (1L, 20L, 104L),  // -> purchase 12 (latest prior)
      (2L, 10L, 201L),  // user with no purchases -> NULL
      (3L, 11L, 301L))  // duplicate-ts purchases -> max tiebreak id 32
      .toDF("user_id", "ts_us", "click_id")
    val purchases = Seq(
      (1L, 10L, 11L, 1.5), (1L, 15L, 12L, 2.5),
      (3L, 10L, 31L, 3.5), (3L, 10L, 32L, 4.5))
      .toDF("user_id", "ts_us", "event_id", "value")
    val out = AsofJoin.asof(clicks, purchases, "user_id", "ts_us",
        tiebreak = "event_id", payload = Seq("ts_us", "value")).collect()
      .map(r => r.getAs[Long]("click_id") ->
        (Option(r.getAs[java.lang.Long]("matched_event_id")),
          Option(r.getAs[java.lang.Double]("matched_value")))).toMap
    assert(out(101L) == ((None, None)))
    assert(out(102L) == ((Some(11L), Some(1.5))))
    assert(out(103L) == ((Some(11L), Some(1.5))))
    assert(out(104L) == ((Some(12L), Some(2.5))))
    assert(out(201L) == ((None, None)))
    assert(out(301L) == ((Some(32L), Some(4.5))))
  }

  test("as-of forward and nearest directions honor the merge_asof contract") {
    import spark.implicits._
    val clicks = Seq(
      (1L, 5L, 101L),   // forward -> 11 (earliest following); nearest -> 11
      (1L, 10L, 102L),  // equal ts: inclusive both directions -> 11
      (1L, 14L, 103L),  // backward 11 (gap 4) vs forward 12 (gap 1) -> nearest 12
      (1L, 20L, 104L),  // after all purchases: forward NULL, nearest -> 12
      (2L, 10L, 201L),  // no purchases: NULL in every direction
      (3L, 11L, 301L),  // duplicate-ts purchases: max tiebreak both directions
      (1L, 13L, 105L))  // equidistant to 10 and 15 + wait, gap 3 vs 2 -> forward 12
      .toDF("user_id", "ts_us", "click_id")
    val purchases = Seq(
      (1L, 10L, 11L, 1.5), (1L, 15L, 12L, 2.5),
      (3L, 10L, 31L, 3.5), (3L, 10L, 32L, 4.5),
      (3L, 12L, 33L, 5.5))
      .toDF("user_id", "ts_us", "event_id", "value")
    def run(dir: String) = AsofJoin.asof(clicks, purchases, "user_id", "ts_us",
        tiebreak = "event_id", payload = Seq("ts_us", "value"), direction = dir)
      .collect().map(r => r.getAs[Long]("click_id") ->
        Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong)).toMap
    val fwd = run("forward")
    assert(fwd(101L).contains(11L) && fwd(102L).contains(11L))
    assert(fwd(103L).contains(12L) && fwd(104L).isEmpty && fwd(201L).isEmpty)
    assert(fwd(301L).contains(33L)) // earliest following is ts 12
    val near = run("nearest")
    assert(near(101L).contains(11L) && near(102L).contains(11L))
    assert(near(103L).contains(12L), "nearest must beat the stale backward match")
    assert(near(104L).contains(12L) && near(201L).isEmpty)
    assert(near(105L).contains(12L)) // gap 3 backward vs 2 forward
    // user 3, click ts 11: gap 1 backward (ts 10) vs gap 1 forward (ts 12)
    // -> tie resolves BACKWARD, to the max-tiebreak equal-ts row id 32
    assert(near(301L).contains(32L))
  }

  test("as-of directions agree with a brute-force reference on randomized data") {
    import spark.implicits._
    // dense ts collisions (50 slots, 8 users) force every tie rule to fire
    val rnd = new scala.util.Random(7)
    val clicks = (1 to 200).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong, 1000L + i))
      .toDF("user_id", "ts_us", "click_id")
    val purchases = (1 to 150).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong, 2000L + i, rnd.nextInt(100).toDouble))
      .toDF("user_id", "ts_us", "event_id", "value")
    val cs = clicks.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ps = purchases.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def brute(dir: String): Map[Long, Option[Long]] = cs.map { case (u, t, id) =>
      val mine = ps.filter(_._1 == u)
      val back = mine.filter(_._2 <= t).sortBy(p => (p._2, p._3)).lastOption
      val fwd = mine.filter(_._2 >= t).sortBy(p => (-p._2, p._3)).lastOption
      val pick = dir match {
        case "backward" => back
        case "forward" => fwd
        case "nearest" => (back, fwd) match {
          case (Some(b), Some(f)) => if (t - b._2 <= f._2 - t) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
      }
      id -> pick.map(_._3)
    }.toMap
    for (dir <- Seq("backward", "forward", "nearest")) {
      val got = AsofJoin.asof(clicks, purchases, "user_id", "ts_us",
          tiebreak = "event_id", payload = Seq("value"), direction = dir)
        .collect().map(r => r.getAs[Long]("click_id") ->
          Option(r.getAs[java.lang.Long]("matched_event_id")).map(_.toLong)).toMap
      val want = brute(dir)
      assert(got.size == want.size)
      want.foreach { case (id, w) => assert(got(id) == w, s"$dir click $id: got ${got(id)} want $w") }
    }
  }

  test("as-of join resolves equal-ts ties on a non-numeric tiebreak column") {
    import spark.implicits._
    // string ids would cast("long") to NULL — the ordering must use the
    // native type so 'p_b' (greatest string) wins the equal-ts tie
    val clicks = Seq((1L, 11L, "c1")).toDF("user_id", "ts_us", "click_id")
    val purchases = Seq((1L, 10L, "p_a", 1.0), (1L, 10L, "p_b", 2.0))
      .toDF("user_id", "ts_us", "event_id", "value")
    val row = AsofJoin.asof(clicks, purchases, "user_id", "ts_us",
      tiebreak = "event_id", payload = Seq("value")).collect()(0)
    assert(row.getAs[String]("matched_event_id") == "p_b")
    assert(row.getAs[Double]("matched_value") == 2.0)
  }

  test("LM score matches hand-computed Stupid Backoff on a tiny corpus") {
    import spark.implicits._
    // train slice = the 'en' docs: unigrams a:4 b:2 c:1 (N=7, V=3);
    // bigrams (a,b):2 (b,a):1 (a,c):1
    val docs = Seq(
      (1L, "en", "a b a b"), // all bigrams seen: 2/4, 1/2, 2/4 -> ppl exactly 2
      (2L, "en", "a c"),     // (a,c): 1/4 -> ppl 4
      (3L, "de", "x b"),     // unseen bigram, seen w2: 0.4*(2+1)/(7+3) = 0.12
      (4L, "en", "a"))       // no bigrams -> NULL metrics
      .toDF("doc_id", "lang", "text")
    val out = LmScore.scoreDocs(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_bigrams") == 3)
    assert(out(1L).getAs[Double]("bigram_hit_rate") == 1.0)
    assert(math.abs(out(1L).getAs[Double]("ppl") - 2.0) < 1e-9)
    assert(math.abs(out(2L).getAs[Double]("ppl") - 4.0) < 1e-9)
    assert(out(3L).getAs[Double]("bigram_hit_rate") == 0.0)
    assert(out(3L).getAs[Double]("oov_rate") == 0.0) // 'b' is in the vocab
    assert(math.abs(out(3L).getAs[Double]("ppl") - 1.0 / 0.12) < 1e-9)
    assert(out(4L).getAs[Long]("n_bigrams") == 0)
    assert(out(4L).isNullAt(out(4L).fieldIndex("avg_logprob")))
    assert(out(4L).isNullAt(out(4L).fieldIndex("ppl")))
  }

  /** collect to a doc_id-keyed row map — shared by the LM bit-equality
    * tests below. */
  private def lmKeyed(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => r.getAs[Long]("doc_id") -> r).toMap

  /** Two keyed LM outputs must agree to the BIT on every column (doubles
    * compared by raw bits, not tolerance). */
  private def assertLmBitIdentical(a: Map[Long, org.apache.spark.sql.Row],
      b: Map[Long, org.apache.spark.sql.Row]): Unit = {
    def bits(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.keySet.foreach { id =>
      assert(a(id).schema.fieldNames.sameElements(b(id).schema.fieldNames))
      a(id).schema.fieldNames.foreach { c =>
        assert(bits(a(id).getAs[Any](c)) == bits(b(id).getAs[Any](c)),
          s"doc $id col $c diverged: ${a(id).getAs[Any](c)} vs ${b(id).getAs[Any](c)}")
      }
    }
  }

  test("in-row LM scorer is bit-identical to the explode/join twin") {
    // the round-9 map-only scorer must reproduce the demoted pipeline
    // EXACTLY on a real corpus (sf0.001 has OOV docs, no-bigram docs, all
    // branches)
    val dir = "/root/testdata/sf0.001"
    val docs = graft.drift.table(spark, dir, "documents")
      .select("doc_id", "source", "lang", "text")
    val model = LmScore.trainModel(docs)
    assertLmBitIdentical(
      lmKeyed(LmScore.scoreAgainst(docs, model, carry = Seq("source"))),
      lmKeyed(LmScore.scoreAgainstJoined(docs, model, carry = Seq("source"))))
  }

  test("over-ceiling LM model auto-routes to the join scorer, scores unchanged") {
    import spark.implicits._
    val docs = Seq((1L, "en", "a b a b"), (2L, "en", "a c"),
      (3L, "de", "x b"), (4L, "en", "a")).toDF("doc_id", "lang", "text")
    // this corpus aggregates to 6 model rows, so a ceiling of 1 must refuse
    // the collect entirely...
    assert(LmScore.collectModelFrom(docs, maxModelRows = 1).isEmpty)
    // ...and scoreDocs must route to the broadcast-join twin: the collected
    // path is map-only (zero Join nodes), the routed path joins the model
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    val inRow = LmScore.scoreDocs(docs)
    val routed = LmScore.scoreDocs(docs, maxModelRows = 1)
    assert(joins(inRow) == 0, "default ceiling must stay on the map-only scorer")
    assert(joins(routed) > 0, "forced-low ceiling must route through the join scorer")
    // and the route is a plan-shape decision only: scores identical by bits
    val (a, b) = (lmKeyed(inRow), lmKeyed(routed))
    assert(a.size == 4)
    assertLmBitIdentical(a, b)
  }

  test("perplexity buckets cut the scored corpus at terciles, ordered head<=middle<=tail") {
    val dir = "/root/testdata/sf0.001"
    val rows = LmScore.lmPplBuckets(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.drift.table(spark, dir, "documents").count())
    // global tercile cut: scored buckets within ±1 of each other
    val byBucket = rows.groupBy(_.getAs[String]("bucket"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val scored = Seq("head", "middle", "tail").map(byBucket(_))
    assert(scored.max - scored.min <= 1, s"buckets not tercile-balanced: $byBucket")
    // ppl ordering holds per source wherever adjacent buckets coexist:
    // every head doc's ppl <= t1 < every middle doc's ppl, so means order
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.values.foreach { rs =>
      val m = rs.map(r => r.getAs[String]("bucket") ->
        Option(r.getAs[java.lang.Double]("mean_ppl")).map(_.toDouble)).toMap
      for (h <- m.get("head").flatten; mid <- m.get("middle").flatten)
        assert(h <= mid, s"head $h > middle $mid")
      for (mid <- m.get("middle").flatten; t <- m.get("tail").flatten)
        assert(mid <= t, s"middle $mid > tail $t")
    }
    // approx (bench) surface lands every count within sketch slack
    val approx = during(spark)(LmScore.lmPplBuckets(spark, dir).collect())
      .map(r => (r.getAs[String]("source"), r.getAs[String]("bucket")) -> r.getAs[Long]("n_docs")).toMap
    val exact = rows.map(r => (r.getAs[String]("source"), r.getAs[String]("bucket")) -> r.getAs[Long]("n_docs")).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(n - approx(k)) <= math.max(2, 0.2 * n), s"$k: exact=$n approx=${approx(k)}")
    }
  }

  test("corpus pipeline composes the funnel, artifact and audits consistently") {
    val dir = "/root/testdata/sf0.001"
    val work = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    // the comparison audit runs FIRST: it is the plain query surface and
    // caches its own frames outside the sweep's scope, so it must not sit
    // between the leak snapshot and the run
    val standalone = DataSplit.splitLeakageNeardup(spark, dir).collect()(0)
    // snapshot BEFORE the run: Dataset-level release drops both the cached
    // frames' storage and the localCheckpoint blocks, so no new persistent
    // RDD id may survive the sweep
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // the report the five stage functions give when called one by one, in
    // a scope of their own (so the run below computes every stage afresh)
    val sequential = graft.drift.CacheScope.using(spark) { scope =>
      val funnel = TextAnalysis.corpusPrepNeardup(spark, dir, Some(scope)).collect()
      def sumCol(c: String): Long = funnel.map(_.getAs[Long](c)).sum
      val path = s"$work/neardup_clusters.parquet"
      Dedup.writeClusters(Dedup.neardupComponents(
        graft.drift.table(spark, dir, "documents").select("doc_id", "text"),
        scope = Some(scope)), path)
      val artifact = Dedup.readClusters(spark, path)
      val leak = DataSplit.splitLeakageNeardup(spark, dir,
        precomputed = Some(artifact)).collect()(0)
      CorpusPipeline.CorpusReport(
        nDocs = sumCol("n_docs"), nLangKept = sumCol("n_lang_kept"),
        nQualityKept = sumCol("n_quality_kept"), nDedupKept = sumCol("n_dedup_kept"),
        nNeardupKept = sumCol("n_neardup_kept"),
        nClusters = artifact.filter(col("cluster_id") === col("doc_id")).count(),
        nLeakyClusters = leak.getAs[Long]("n_leaky_clusters"),
        nLeakedDocs = leak.getAs[Long]("n_leaked_docs"),
        pplBuckets = LmScore.lmPplBuckets(spark, dir, scope = Some(scope)).collect()
          .groupBy(_.getAs[String]("bucket"))
          .map { case (b, rs) => b -> rs.map(_.getAs[Long]("n_docs")).sum },
        clustersPath = path,
        nContainmentPairs = Dedup.containmentPairs(spark, dir, scope = Some(scope)).count())
    }
    val r = CorpusPipeline.run(spark, dir, work)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"corpus sweep leaked cached RDDs: $leaked")
    // funnel is monotone and accounts for the whole corpus
    assert(r.nDocs == graft.drift.table(spark, dir, "documents").count())
    assert(r.nDocs >= r.nLangKept && r.nLangKept >= r.nQualityKept &&
      r.nQualityKept >= r.nDedupKept && r.nDedupKept >= r.nNeardupKept && r.nNeardupKept > 0)
    // the persisted artifact exists and matches the audit run standalone
    assert(new java.io.File(r.clustersPath).exists())
    assert(r.nLeakyClusters == standalone.getAs[Long]("n_leaky_clusters"))
    assert(r.nLeakedDocs == standalone.getAs[Long]("n_leaked_docs"))
    // buckets partition the corpus
    assert(r.pplBuckets.values.sum == r.nDocs)
    // the concurrent stages give exactly the sequential report: every
    // count, the buckets and the containment sweep
    assert(r == sequential)
  }

  test("every job of one corpus pipeline run carries a corpus:<stage> description") {
    val work = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val (_, log) = jobsOf(CorpusPipeline.run(spark, "/root/testdata/sf0.001", work))
    val undescribed = log.jobs.filterNot(_._2.startsWith("corpus:"))
    assert(undescribed.isEmpty, s"jobs without a corpus: description: $undescribed")
    assert(log.jobs.values.map(_.stripPrefix("corpus:")).toSet ==
      Set("funnel", "neardup_artifact", "containment", "ppl_buckets"))
    assert(log.running.isEmpty)
  }

  test("a failing corpus stage surfaces its own exception, cancels its siblings, leaks nothing") {
    // a regular file as the work dir: the artifact stage's write throws
    // while the funnel, containment and bucket stages are running
    val notADir = java.nio.file.Files.createTempFile("graft-workdir", ".txt").toString
    val direct = intercept[Exception](Dedup.writeClusters(
      spark.range(3).selectExpr("id AS doc_id", "id AS cluster_id"),
      s"$notADir/neardup_clusters.parquet"))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val (e, log) = jobsOf {
      val e = intercept[Exception](CorpusPipeline.run(spark, "/root/testdata/sf0.001", notADir))
      // job ids follow submission order: a stage left running would go on
      // submitting jobs after this marker (the funnel outlasts the failure)
      graft.drift.CallPool.described(sc, "after-the-call")(sc.parallelize(Seq(1), 1).count())
      Thread.sleep(2000)
      e
    }
    assert(e.getClass == direct.getClass, e)
    assert(log.jobs.values.exists(_ == "corpus:neardup_artifact"))
    val marker = log.jobs.collectFirst { case (id, "after-the-call") => id }.get
    val late = log.jobs.filter { case (id, d) => id > marker && d.startsWith("corpus:") }
    assert(late.isEmpty, s"stages still submitting jobs after the call threw: $late")
    assert(log.running.isEmpty, s"jobs still running after the throw: ${log.running}")
    // the status store is fed by its own listener queue
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    assert(sc.getPersistentRDDs.keySet.toSet == before,
      s"leaked RDDs: ${sc.getPersistentRDDs.keySet.toSet -- before}")
  }

  test("span dedup flags only the cross-doc repeated 8-token run") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 $run b1 b2 b3"),     // 15 toks -> 8 spans, 1 shared
      (2L, s"c1 c2 $run d1"),                 // 11 toks -> 4 spans, 1 shared
      (3L, "e1 e2 e3 e4 e5 e6 e7 e8 e9"),     // unique -> 0 dup spans
      (4L, s"f1 $run f2 f1 $run f2"),         // internal repeat + cross-doc
      (5L, "too short"))                      // < 8 toks -> 0 spans, NULL frac
      .toDF("doc_id", "text")
    val byId = SpanDedup.dupSpans(spark, fixtureWith(docs)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Long]("n_spans") == 8 && byId(1L).getAs[Long]("n_dup_spans") == 1)
    assert(byId(2L).getAs[Long]("n_spans") == 4 && byId(2L).getAs[Long]("n_dup_spans") == 1)
    assert(byId(3L).getAs[Long]("n_dup_spans") == 0)
    // doc 4: 22 toks -> 15 spans; the shared run occurs twice -> both
    // occurrences count, plus every other span of doc 4 is itself repeated
    // within the doc ("f2 f1" bridge makes the doc periodic) — but only
    // spans shared with ANOTHER doc flag, so exactly the 2 run copies
    assert(byId(4L).getAs[Long]("n_dup_spans") >= 2)
    assert(byId(5L).getAs[Long]("n_spans") == 0)
    assert(byId(5L).isNullAt(byId(5L).fieldIndex("dup_span_frac")))
  }

  test("data split cuts exact stratified proportions; hash path is growth-stable") {
    import spark.implicits._
    val rows = DataSplit.dataSplit(spark, fixtureDir).collect()
    for (r <- rows) {
      val (n, tr, va, te) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_train"),
        r.getAs[Long]("n_val"), r.getAs[Long]("n_test"))
      assert(tr == math.floor(n * 0.8).toLong)
      assert(tr + va == math.floor(n * 0.9).toLong)
      assert(tr + va + te == n)
    }
    // approx path: membership is a pure function of doc_id — halving the
    // corpus must not move any surviving doc's split
    val full = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .select("doc_id", "source")
    def perDoc(docs: org.apache.spark.sql.DataFrame) =
      DataSplit.assignSplits(docs, approx = true).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val f = perDoc(full)
    val h = perDoc(full.filter(col("doc_id") % 2 === 0))
    assert(h.nonEmpty && h.forall { case (id, s) => f(id) == s })
    // and all three splits actually occur
    assert(f.values.toSet == Set("train", "val", "test"))
  }

  test("source overlap computes the shingle-set Jaccard between sources") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-so").toString
    // A = {d1, d2} -> shingles {abc,bcd, efg,fgh}; B = {copy of d1, d3} ->
    // {abc,bcd, ijk,jkl}; inter = 2, union = 6 -> jaccard 1/3
    Seq((1L, "a b c d", "A"), (2L, "e f g h", "A"),
        (3L, "a b c d", "B"), (4L, "i j k l", "B"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val r = Dedup.sourceOverlap(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getAs[String]("source_a") == "A" && r(0).getAs[String]("source_b") == "B")
    assert(r(0).getAs[Long]("n_shared_shingles") == 2)
    assert(math.abs(r(0).getAs[Double]("jaccard") - 0.333333) < 1e-6)
  }

  test("LM-gated corpus prep is a monotone funnel and actually gates") {
    val rows = TextAnalysis.corpusPrepLm(spark, fixtureDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_lm_kept") <= r.getAs[Long]("n_quality_kept"))
      assert(r.getAs[Long]("n_dedup_kept") <= r.getAs[Long]("n_lm_kept"))
    }
    // on the sf corpus the -1.5 cut provably removes docs (oracle-checked
    // at both SFs); here just require the stage to emit sane non-negatives
    assert(rows.map(_.getAs[Long]("n_lm_kept")).forall(_ >= 0))
  }

  test("source keywords rank feed-specific vocabulary, zeroing ubiquitous words") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kw").toString
    Seq((1L, "apple apple banana shared", "A"), (2L, "cherry shared shared", "B"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.sourceKeywords(spark, dir).collect()
    val top = rows.filter(_.getAs[Int]("rk") == 1)
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(top("A").getAs[String]("word") == "apple")
    assert(math.abs(top("A").getAs[Double]("tfidf") - 2 * math.log(2)) < 1e-5)
    assert(top("B").getAs[String]("word") == "cherry")
    // 'shared' occurs in every source -> idf 0 -> tfidf 0
    assert(rows.filter(_.getAs[String]("word") == "shared")
      .forall(_.getAs[Double]("tfidf") == 0.0))
  }

  test("embedding cohesion is ~1 for a planted tight cluster") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ec").toString
    val r = new scala.util.Random(3)
    // label 0: one repeated vector (cohesion exactly 1); label 1: noise
    val tight = Array.fill(8)(1.0f) ++ Array.fill(8)(0.0f)
    val embs = (0 until 10).map(i => (i.toLong, tight, 0)) ++
      (10 until 30).map(i => (i.toLong, Array.fill(16)(r.nextGaussian().toFloat), 1))
    embs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.embeddingCohesion(spark, dir).collect()
      .map(x => x.getAs[Int]("label") -> x).toMap
    assert(out(0).getAs[Long]("n_vecs") == 10)
    assert(math.abs(out(0).getAs[Double]("cohesion") - 1.0) < 1e-6)
    assert(math.abs(out(0).getAs[Double]("centroid_norm") - math.sqrt(8)) < 1e-6)
    val coh1 = out(1).getAs[Double]("cohesion")
    assert(coh1 > -1.0 && coh1 < 1.0 && coh1 < 0.9) // noise is not tight
  }

  test("split leakage flags duplicate groups straddling the split boundary") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sl").toString
    // source L: 10 copies of ONE text -> the 8/1/1 cut MUST straddle splits
    // whatever the md5 rank order; source C: 10 distinct docs -> no groups
    val docs = (0 until 10).map(i => (i.toLong, "the same text every time", "L")) ++
      (10 until 20).map(i => (i.toLong, s"unique text number $i", "C"))
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val out = DataSplit.splitLeakage(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("L").getAs[Long]("n_dup_groups") == 1)
    assert(out("L").getAs[Long]("n_leaky_groups") == 1)
    assert(out("L").getAs[Long]("n_leaked_docs") == 10)
    assert(out("C").getAs[Long]("n_dup_groups") == 0)
    assert(out("C").getAs[Long]("n_leaked_docs") == 0)
  }

  test("near-dup split leakage flags the straddling cluster") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sln").toString
    // one source, 10 near-identical 40-token docs (one token varies ->
    // pairwise trigram Jaccard ~0.9): ONE cluster of 10, which the 8/1/1
    // cut must straddle regardless of md5 order; plus unique singletons
    val base = (1 to 40).map(i => s"tok$i")
    val docs = (0 until 10).map { i =>
      (i.toLong, base.updated(20, s"variant$i").mkString(" "), "L")
    } ++ (10 until 15).map(i => (i.toLong, s"totally unique number $i " +
      (1 to 36).map(j => s"u$i-$j").mkString(" "), "C"))
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val r = DataSplit.splitLeakageNeardup(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_neardup_clusters") == 1)
    assert(r.getAs[Long]("n_leaky_clusters") == 1)
    assert(r.getAs[Long]("n_leaked_docs") == 10)

    // persist-and-reuse contract: the audit over a written-then-read
    // cluster artifact is identical to the inline recompute
    val artifact = s"$dir/clusters.parquet"
    Dedup.writeClusters(
      Dedup.neardupComponents(
        graft.drift.table(spark, dir, "documents").select("doc_id", "text")),
      artifact)
    val reused = DataSplit.splitLeakageNeardup(spark, dir,
      precomputed = Some(Dedup.readClusters(spark, artifact))).collect()(0)
    assert(reused.toSeq == r.toSeq)
    // and the reader rejects a frame that is not a cluster artifact
    val bad = intercept[IllegalArgumentException] {
      Dedup.readClusters(spark, s"$dir/documents.parquet")
    }
    assert(bad.getMessage.contains("doc_id"))
  }

  /** Writes the given (doc_id, text) frame as a documents.parquet fixture
    * dir so (spark, dir) query surfaces can run on planted corpora. */
  private def fixtureWith(docs: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-span").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("multimodal frame sampling keeps every k-th fixed-size frame") {
    val frames = Multimodal.frameSample(spark, fixtureDir).collect()
    assert(frames.nonEmpty)
    // only sampled indices survive, and every frame has content
    assert(frames.forall(_.getAs[Int]("frame_idx") % Multimodal.SampleEvery == 0))
    assert(frames.forall(_.getAs[Long]("n_bytes") > 0))
    // frame 0 of every doc with >= 1 char is present
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .filter(length(col("text")) > 0).count()
    assert(frames.count(_.getAs[Int]("frame_idx") == 0) == docs)
  }

  test("multimodal resize stub preserves aspect ratio inside the bounding box") {
    val big = Multimodal.MediaFeatures(1L, "image/fake", 10L, 1920, 1080, 0L)
    val r = Multimodal.stubResize(big)
    assert(r.width <= 224 && r.height <= 224)
    assert(math.abs(r.width.toDouble / r.height - 1920.0 / 1080) < 0.02)
    val small = Multimodal.MediaFeatures(2L, "image/fake", 10L, 100, 50, 0L)
    assert(Multimodal.stubResize(small) == small) // already fits -> untouched
  }

  test("multimodal content-hash dedup collapses bit-identical payloads to the min-id canonical") {
    val groups = Multimodal.mediaDedup(spark, fixtureDir).collect()
    // docs 5 and 200 share a payload in the fixture -> one group of 2 with
    // the min id canonical; total copies must re-add to the corpus size
    assert(groups.map(_.getAs[Long]("n_copies")).sum == 24)
    val dups = groups.filter(_.getAs[Boolean]("is_dup"))
    assert(dups.exists(g => g.getAs[Long]("n_copies") >= 2 &&
      g.getAs[Long]("canonical_media_id") == 5L))
    assert(groups.forall(_.getAs[String]("content_hash").matches("[0-9a-f]{32}")))
  }

  test("pii redaction scrubs every class, counts hits, and leaves clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at jane.doe+x@mail-host.example.org or on +1 (415) 555-0100 today"),
      (2L, "server 192.168.1.100 and 10.0.0.1 were reached from a.b@c.io"),
      (3L, "a perfectly clean sentence with the number 42")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiRedact(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("email_hits") == 1 && out(1L).getAs[Long]("phone_hits") == 1)
    val r1 = out(1L).getAs[String]("redacted_text")
    assert(r1.contains("[EMAIL]") && r1.contains("[PHONE]"))
    assert(!r1.contains("@") && !r1.contains("555"))
    assert(out(2L).getAs[Long]("ip_hits") == 2 && out(2L).getAs[Long]("email_hits") == 1)
    val r2 = out(2L).getAs[String]("redacted_text")
    assert(r2 == "server [IP] and [IP] were reached from [EMAIL]")
    // a clean doc passes through byte-identical with zero counts
    assert(out(3L).getAs[String]("redacted_text") == "a perfectly clean sentence with the number 42")
    assert(Seq("email_hits", "ip_hits", "phone_hits").forall(out(3L).getAs[Long](_) == 0))
  }

  test("pii redaction gate plants deterministic PII and counts exactly one hit per planted class") {
    // the real corpus carries zero PII (verified at every SF), so every
    // hit the gate reports must come from its own doc_id-derived plant
    val out = TextAnalysis.piiRedactGate(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.forall { case (id, r) =>
      r.getAs[Long]("email_hits") == (if (id % 3 == 0) 1L else 0L) &&
        r.getAs[Long]("ip_hits") == (if (id % 5 == 0) 1L else 0L) &&
        r.getAs[Long]("phone_hits") == (if (id % 7 == 0) 1L else 0L)
    })
    assert(out.forall(_.getAs[String]("redacted_md5").matches("[0-9a-f]{32}")))
  }

  test("multimodal frame-set near-dup surfaces the identical-payload pair at jaccard 1") {
    val pairs = Multimodal.mediaNeardup(spark, fixtureDir).collect()
    // docs 5 and 200 share a payload -> identical frame sets -> all 4
    // bands collide and the verified frame-set Jaccard is exactly 1
    val hit = pairs.find(p => p.getAs[Long]("media_a") == 5L &&
      p.getAs[Long]("media_b") == 200L)
    assert(hit.isDefined, s"missing (5,200): ${pairs.mkString(";")}")
    assert(hit.get.getAs[Long]("n_shared_bands") == 4L)
    assert(hit.get.getAs[Double]("jaccard") == 1.0)
  }

  test("multimodal plumbing: payload bytes -> typed features via mapPartitions") {
    val feats = Multimodal.extractFeatures(spark, fixtureDir).collect()
    assert(feats.length == 24)
    assert(feats.forall(f => f.n_bytes > 0 && f.mime == "text/plain"))
    val byId = feats.map(f => f.media_id -> f.checksum).toMap
    assert(byId(5L) == byId(200L)) // deterministic stub features
  }
}
