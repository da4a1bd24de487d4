package graft

import graft.pipeline._

/** Plan-level proof of the scan-efficiency claims the 100 TB design rests
  * on: column pruning reaches the parquet reader, literal filters are
  * pushed into the scan, and top-k queries never plan a global sort. These
  * asserts read the executed plan, so a regression that silently widens a
  * scan or materializes a full sort fails CI even though results stay
  * correct. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("corpus-prep funnel scan prunes to the columns it uses") {
    val plan = planOf(TextAnalysis.corpusPrep(spark, sf))
    // documents carries (doc_id, text, lang, source, n_chars); the funnel
    // needs doc_id/source/text — the parquet ReadSchema must not include
    // the untouched columns (at 100 TB that's reading whole column chunks
    // for nothing)
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchemas.nonEmpty, s"no parquet scan found:\n$plan")
    assert(!readSchemas.contains("lang") && !readSchemas.contains("n_chars"),
      s"funnel scan reads unused columns:\n$readSchemas")
  }

  test("media_dedup hashes the payload BEFORE the exchange (fingerprints shuffle, not media)") {
    val plan = planOf(Multimodal.mediaDedup(spark, sf))
    // the md5 must be computed scan-side (Catalyst names it
    // _groupingexpression) with a map-side partial aggregate below the
    // exchange: if the raw payload ever became the shuffle key/value,
    // 100 TB of media would cross the wire instead of a 16-byte
    // fingerprint table
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    val exchangeLines = plan.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchangeLines.exists(l =>
        l.contains("_groupingexpression") || l.contains("content_hash")),
      s"no exchange keyed on the content hash:\n$plan")
    assert(!exchangeLines.exists(l => l.contains("payload") || l.contains("text#")),
      s"wide payload column reaches an exchange:\n$exchangeLines")
  }

  test("pii redaction plans map-only: no exchange on the corpus write path") {
    // the production transform (not the planted gate, which adds an
    // orderBy for the hash): regex counts + the replace chain must stay a
    // pure projection — at 100 TB this runs on every output byte of the
    // cleaned-copy write path, and any exchange here would shuffle the
    // corpus text itself
    val plan = planOf(TextAnalysis.piiRedact(
      graft.drift.table(spark, sf, "documents")))
    assert(!plan.contains("Exchange"),
      s"pii_redact plans an exchange on the write path:\n$plan")
    assert(plan.contains("Project"), s"no projection found:\n$plan")
  }

  test("IVF assignment argmax partial-aggregates (no window over the scored crossjoin)") {
    // round 13: the nearest-centroid pick is max_by, a real aggregate —
    // the plan must show a partial_max_by below the exchange and NO
    // row_number window over the n×K scored frame (the window shape
    // shuffled+sorted the whole crossjoin per assignment pass)
    val plan = planOf(Similarity.ivfTopK(spark, sf))
    assert(plan.contains("partial_max_by") || plan.contains("max_by"),
      s"assignment is not a max_by aggregate:\n${plan.take(2000)}")
    val cellVecsPart = plan.substring(plan.indexOf("max_by"))
    assert(!cellVecsPart.contains("windowspecdefinition(c_id"),
      "a window argmax survives below the max_by assignment")
  }

  test("IVF centroid scan pushes the vec_id bound into parquet") {
    val plan = planOf(Similarity.ivfTopK(spark, sf))
    // the K-smallest-vec_id centroid set is a literal predicate at plan
    // time; it must reach PushedFilters so row groups above the bound are
    // skipped by footer statistics
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("LessThan(vec_id"),
      s"vec_id bound not pushed to the scan:\n$pushed")
  }

  test("ANN search joins pay the candidate cap only when the corpus can exceed it") {
    // the search twin of the band-bucket pin, same two-level ladder: gate
    // corpora (fewer vectors than MaxSearchBucket) must NOT carry the
    // guard window...
    for (name <- Seq("ann_lsh", "ann_ivf", "ann_kmeans", "embed_neardup",
        "semantic_dedup")) {
      val plan = planOf(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("__ck"),
        s"$name pays the cap window on an under-cap corpus:\n${plan.take(1500)}")
    }
    // ...and an over-cap corpus arms it (plan carries the hot probe +
    // window); behavior on a planted hot cell is pinned in PipelineSpec
    val emb = graft.drift.table(spark, sf, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.lit(0).as("cell"))
    val armed = Similarity.capCandidatesBy(emb, Seq("cell"), "vec_id", 5L,
      sizeBound = Similarity.SizeBoundByCounting)
    val armedPlan = planOf(armed)
    assert(armedPlan.contains("row_number") && armedPlan.contains("__ck"),
      s"over-cap frame did not arm the candidate cap:\n${armedPlan.take(1500)}")
  }

  test("ann_kmeans centroid updates partial-aggregate the explode in place") {
    // the Lloyd mean update posexplodes the corpus to (cell, pos, x); the
    // SUM/COUNT must combine map-side so the exchange above the Generate
    // carries cells×dim partials, never n×dim exploded rows (the full
    // lloydIvfTopK plan hides this behind its cache boundaries, so the
    // update stage is audited standalone on an equivalently-shaped frame)
    import org.apache.spark.sql.functions.{col, expr, lit}
    val assigned = graft.drift.table(spark, sf, "embeddings")
      .select((col("vec_id") % 4).as("cell"),
        expr("transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1e6, 0))").as("vm"))
    val plan = planOf(Similarity.lloydMeanUpdate(assigned))
    val idx = plan.indexOf("Generate posexplode")
    assert(idx >= 0, s"no explode in the mean-update plan:\n${plan.take(2000)}")
    val prefix = plan.substring(0, idx)
    val lastAgg = prefix.lastIndexOf("HashAggregate")
    val lastExchange = prefix.lastIndexOf("Exchange")
    assert(lastAgg > lastExchange,
      "explode output crosses an exchange before aggregating " +
        s"(agg@$lastAgg exchange@$lastExchange):\n${plan.take(3000)}")
  }

  test("simhash top-20 plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Dedup.simhashPairs(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"orderBy.limit did not plan TakeOrderedAndProject:\n$plan")
  }

  test("no pair-generating query degrades to a cartesian product") {
    // every candidate search is an equi-join on a banding/bucket key; a
    // condition bug that drops the equality would silently turn these into
    // CartesianProduct and still pass correctness tests on small fixtures
    val pairGens = Seq[org.apache.spark.sql.DataFrame](
      Dedup.minhashLsh(spark, sf),
      Dedup.ngramJaccardCapped(spark, sf),
      Dedup.neardupClusters(spark, sf),
      Dedup.decontamination(spark, sf),
      Dedup.simhashPairs(spark, sf),
      Similarity.embedNeardup(spark, sf),
      Similarity.lshTopK(spark, sf),
      Similarity.ivfTopK(spark, sf),
      Similarity.lloydIvfTopK(spark, sf),
      Dedup.ngramNovelty(spark, sf),
      Dedup.decontaminationBloom(spark, sf),
      Similarity.semanticDedup(spark, sf))
    pairGens.foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"),
        s"cartesian product in plan:\n${plan.take(2000)}")
    }
  }

  test("no gate query self-joins shingles without a df ceiling") {
    // Equi-join fan-out bound (round-9 gate hygiene): a shingle-keyed
    // self-join pays O(df²) rows per key, so every gate query that joins
    // on `sh` must filter the shingle universe through the df ceiling
    // first — visible in the physical plan as the LEAST(frac·n, abs)
    // comparison. The truly uncapped baseline no longer exists in
    // src/main at all (round 13 — graft.TestBaselines carries the
    // test-scope replica), so it CANNOT be reachable from
    // SparkEntry.queries.
    for (name <- Seq("ngram_jaccard", "ngram_jaccard_capped", "containment_pairs")) {
      val plan = planOf(SparkEntry.queries(name)(spark, sf))
      assert(plan.toLowerCase.contains("least("),
        s"$name gate plan joins shingles with no df ceiling:\n${plan.take(1500)}")
    }
    val uncapped = planOf(TestBaselines.ngramJaccardUncapped(spark, sf))
    assert(!uncapped.toLowerCase.contains("least("),
      "sanity: the uncapped baseline should have no ceiling filter")
  }

  test("band joins pay the bucket guard only when the corpus can host one") {
    // round-12 verdict item 2, round-13 shape: a corpus of <= MaxBandBucket
    // docs cannot host an over-cap bucket, so gate corpora must NOT carry
    // the representative-selection window (always-on guard shapes paid
    // 1-6 s/query of fixed small-stage churn for a provably empty hot
    // set)...
    for (name <- Seq("minhash_lsh", "incremental_dedup",
        "media_neardup", "dedup_quality")) {
      val plan = planOf(SparkEntry.queries(name)(spark, sf))
      assert(!plan.contains("__ck"),
        s"$name pays the guard window on an under-cap corpus:\n${plan.take(1500)}")
    }
    // ...and a corpus bigger than the cap must arm it: the window + the
    // hot-bucket probe appear in the lower-side representative frame
    import spark.implicits._
    val hotText = "alpha beta gamma delta eps zeta eta theta iota kappa"
    val hot = (0 until 12).map(i => (i.toLong, hotText)).toDF("doc_id", "text")
    val tri = Dedup.shinglesOf(hot).cache()
    val hotPlan = planOf(Dedup.bandReps(
      Dedup.bandsFromTri(tri, _.cache()), _.cache(), maxBucket = 5L,
      docsUpperBound = 12L))
    // bandReps delegates its armed path to capCandidatesBy (one guard
    // implementation for both families — round-13 ADVICE), so the armed
    // marker is the shared __ck window column
    assert(hotPlan.contains("row_number") && hotPlan.contains("__ck"),
      s"planted over-cap corpus did not arm the guard:\n${hotPlan.take(1500)}")
  }

  test("as-of join plans one key shuffle and no join node at all") {
    val plan = planOf(AsofJoin.purchaseAttribution(spark, sf))
    // the whole point of the union+window formulation: a temporal join with
    // ZERO join operators — a range-condition join here would be a
    // per-key O(n·m) blowup at 100 TB
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop") &&
      !plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"as-of join planned a join node:\n${plan.take(2000)}")
    // exactly one hash exchange (the per-user window); the only other
    // exchange is the final presentation orderBy's range partitioning
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges:\n${plan.take(2000)}")
    // the forward and nearest directions must keep the same contract:
    // zero join nodes, one key exchange (nearest runs TWO sorts over it)
    for (df <- Seq(AsofJoin.nextPurchase(spark, sf), AsofJoin.nearestPurchase(spark, sf))) {
      val p = planOf(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
        !p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"directional as-of planned a join node:\n${p.take(2000)}")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"directional as-of must reuse one key exchange:\n${p.take(2000)}")
    }
  }

  test("LM scoring is map-only on the corpus side: no join, no aggregate") {
    val plan = planOf(LmScore.lmScore(spark, sf))
    // the whole 100 TB contract, tightened in round 9: the corpus scores
    // in-row against the broadcast-collected model — the scoring plan has
    // NO join and NO aggregation at all (the only allowed exchange is the
    // final ORDER BY's range partitioning)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"LM scoring joined the corpus:\n${plan.take(2000)}")
    assert(!plan.contains("HashAggregate"),
      s"LM scoring re-aggregated per doc:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"LM scoring shuffled the corpus:\n${plan.take(2000)}")
  }

  test("top duplicated spans plans TakeOrderedAndProject on the reduced frame") {
    val plan = planOf(SpanDedup.topDupSpans(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k spans fell back to a global sort:\n${plan.take(2000)}")
    // and the span stream reduces by (sp, doc) BEFORE any wide exchange:
    // partial aggregation must appear under the exchange
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("embedding cohesion joins vectors only against broadcast centroids") {
    val plan = planOf(Similarity.embeddingCohesion(spark, sf))
    // the corpus-sized longform frame must only ever meet the
    // (labels x dim) centroid frames by broadcast — a shuffle join here
    // would re-partition n x dim rows for a configuration-sized side
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"cohesion shuffles the corpus for a centroid join:\n${plan.take(2000)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan.take(2000))
  }

  test("vocab divergence joins its model frames by broadcast, never by shuffle") {
    val plan = planOf(graft.pipeline.Dsir.vocabDivergence(spark, sf))
    // the (source, bucket) frame must only meet the bucket-count /
    // source-total / corpus-total model frames by broadcast: all three are
    // configuration-sized (<=256 buckets, #sources, 1 row) and a shuffle
    // join would re-partition the token-derived frame for them
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"vocab divergence shuffles for a model join:\n${plan.take(2000)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("pca_anomaly scans only its three feature columns plus the split key") {
    val plan = planOf(graft.drift.PcaAnomaly.pcaAnomalyQuery(spark, sf))
    // the fitted eigenvector is a literal, so the error pass must be a bare
    // projection over exactly (3 features + l_shipdate) — reading any other
    // lineitem column at 100 TB is pure waste; and with no data-dependent
    // frame on the small side there must be no join at all
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchemas.nonEmpty, s"no parquet scan:\n$plan")
    assert(!readSchemas.contains("l_orderkey") && !readSchemas.contains("l_comment") &&
      !readSchemas.contains("l_tax"), s"pca_anomaly scan reads unused columns:\n$readSchemas")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"pca_anomaly planned a join for literal stats:\n${plan.take(2000)}")
  }

  test("valid_columns is one partial-aggregated scan per table") {
    val plan = planOf(graft.drift.CorrelationDrift.validColumnsQuery(spark, sf))
    // per-side null counts must combine map-side: a partial HashAggregate
    // under each exchange, and never a join (the pivot is a groupBy)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan.take(2000))
    val exchangeFirst = plan.indexOf("Exchange")
    val scanIdx = plan.lastIndexOf("Scan parquet")
    assert(exchangeFirst >= 0 && scanIdx > exchangeFirst,
      s"expected partial aggregation between scan and exchange:\n${plan.take(2000)}")
  }

  test("perplexity buckets keep the corpus stream on broadcast model joins") {
    val plan = planOf(LmScore.lmPplBuckets(spark, sf))
    // same contract as lm_score: the corpus-sized bigram stream must meet
    // the vocabulary-sized model tables by broadcast only — the added
    // tercile/bucket stages must not introduce a shuffle join
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"bucket query shuffles the corpus for a model join:\n${plan.take(2000)}")
  }

  test("distance metrics join their per-column sums by broadcast only") {
    // cramers_v: the (piv ⋈ sums) join must broadcast the per-column sums
    // frame (≤ #columns rows), never sort-merge the value-counts side
    val plan = planOf(graft.drift.DistanceDrift.cramersV(spark, sf))
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("ECDF windows run on the post-aggregation distinct-value frame") {
    // ks_test: the per-column window must consume the groupBy(column, x)
    // counts, i.e. an aggregate sits between the scan and the Window node —
    // a window over raw rows would sort the whole table per column
    val plan = planOf(graft.drift.DistanceDrift.ksTest(spark, sf))
    // the plan prints root-first, so "the window consumes the aggregate"
    // reads as: Window ... HashAggregate ... Scan in string order
    val winIdx = plan.indexOf("Window")
    assert(winIdx >= 0, s"no window in ks plan:\n${plan.take(2000)}")
    val scanIdx = plan.lastIndexOf("Scan parquet")
    val aggBelowWin = plan.indexOf("HashAggregate", winIdx)
    assert(aggBelowWin >= 0 && aggBelowWin < scanIdx,
      s"window not fed by an aggregate (win@$winIdx agg@$aggBelowWin scan@$scanIdx):\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("seq_pack's packing window is sharded, never a single global sort") {
    // the running token sum must run PARTITION BY bucket — an empty window
    // partitioning would funnel the whole corpus through one task (the
    // exact failure mode the md5-shard design exists to avoid)
    val plan = planOf(Packing.seqPack(spark, sf))
    assert(plan.contains("hashpartitioning(bucket"),
      s"packing window not hash-sharded on bucket:\n${plan.take(2000)}")
    assert(!plan.contains("SinglePartition"),
      s"packing plan routes through a single partition:\n${plan.take(2000)}")
  }

  test("chunk_stats stays closed-form: no Generate node, one agg over the scan") {
    // the whole-corpus rollup must NOT explode a chunk row per document
    // (that frame is ~1.3x the corpus at scale); doc_chunks is the only
    // operator allowed a Generate, and it is sample-bounded
    val plan = planOf(Packing.chunkStats(spark, sf))
    assert(!plan.contains("Generate"),
      s"chunk_stats materializes exploded chunks:\n${plan.take(2000)}")
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("bpe_pairs partial-aggregates the pair explosion and plans top-k") {
    val plan = planOf(TextAnalysis.bpePairs(spark, sf))
    // the exploded pair stream must collapse map-side before the exchange
    // (hot pairs would otherwise ship one row per corpus position), and
    // the top-50 must never be a global sort
    assert(plan.contains("TakeOrderedAndProject"),
      s"bpe_pairs top-k planned a global sort:\n${plan.take(2000)}")
    val exchangeFirst = plan.indexOf("Exchange")
    val aggBelow = plan.indexOf("HashAggregate", exchangeFirst)
    assert(exchangeFirst >= 0 && aggBelow >= 0,
      s"no partial aggregate under the pair exchange:\n${plan.take(2000)}")
  }

  test("length_anomaly keeps every post-agg join broadcast-sized") {
    // the ECDF grid/cumsum frames are cardinality-sized (distinct lens x
    // sources); none of their joins may fall back to a sort-merge over a
    // corpus-sized side
    val plan = planOf(TextAnalysis.lengthAnomaly(spark, sf))
    assert(!plan.contains("SortMergeJoin"),
      s"length_anomaly planned a sort-merge join:\n${plan.take(2000)}")
    assert(plan.contains("hashpartitioning(source"),
      s"per-source ECDF window not partitioned by source:\n${plan.take(2000)}")
  }

  test("round-6 curation pair generators never plan a cartesian product") {
    // entity_matches' block self-join and incremental_dedup's batch-vs-
    // corpus band join are both equi-joins; dropping the key equality
    // would go quadratic silently (incremental_dedup's 1-row summary
    // crossJoins plan BroadcastNestedLoopJoin, which is fine — the guard
    // is against CartesianProduct over data-sized frames)
    Seq[org.apache.spark.sql.DataFrame](
      EntityResolution.entityMatches(spark, sf),
      Dedup.incrementalDedup(spark, sf)).foreach { df =>
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"),
        s"cartesian product in plan:\n${plan.take(2000)}")
    }
  }

  test("zorder_stats shuffles buckets, not rows, and scans three columns") {
    val plan = planOf(Layout.zorderStats(spark, sf))
    // the stacked (layout, bucket) stream must collapse map-side: a
    // partial HashAggregate BELOW the hash-partitioned bucket exchange
    // keeps the shuffle at 2x64 groups per task regardless of corpus size
    // (anchoring on the first Exchange would be vacuous — the final
    // orderBy always plans a rangepartitioning exchange above a scan)
    val exIdx = plan.indexOf("Exchange hashpartitioning")
    val scanIdx = plan.lastIndexOf("Scan parquet")
    val aggBelow = if (exIdx >= 0) plan.indexOf("HashAggregate", exIdx) else -1
    assert(exIdx >= 0 && aggBelow >= 0 && aggBelow < scanIdx,
      s"no partial aggregate under the bucket exchange:\n${plan.take(2000)}")
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("l_quantity") && !readSchemas.contains("l_discount"),
      s"zorder_stats reads columns it never buckets:\n$readSchemas")
  }

  test("cluster_profile meets centroids by broadcast only") {
    val plan = planOf(Similarity.clusterProfile(spark, sf))
    // the corpus-sized vector frame must meet the K-centroid frame by
    // broadcast; a sort-merge join anywhere means a corpus-sized side is
    // being shuffled for a broadcast-sized one (label rides the scan, so
    // no corpus-sized join exists to need one)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"no broadcast join in cluster_profile:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"cluster_profile shuffles the corpus for a small side:\n${plan.take(2000)}")
  }

  test("pq_profile quantizes against a broadcast codebook, argmin in-row") {
    val plan = planOf(Similarity.pqProfile(spark, sf))
    // the n x M subvector stream meets the M-row codebook by broadcast
    // and the 16-code argmin is an array fold INSIDE the row — a
    // per-candidate explode or shuffle join would multiply the corpus
    assert(plan.contains("BroadcastHashJoin"),
      s"codebook not broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"pq_profile shuffles the corpus for the codebook:\n${plan.take(2000)}")
  }

  test("exact dedup is a partial-aggregated scan (no raw-row shuffle)") {
    val plan = planOf(Dedup.dedupExact(spark, sf))
    // count + countDistinct over md5: the plan must partial-aggregate
    // before any exchange — shuffling raw text rows would move the corpus
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"no aggregate in dedup plan:\n$plan")
    val exchangeFirst = plan.indexOf("Exchange")
    val scanIdx = plan.lastIndexOf("Scan parquet")
    assert(exchangeFirst >= 0 && scanIdx > exchangeFirst,
      "expected a partial aggregate between scan and exchange " +
        s"(exchange@$exchangeFirst scan@$scanIdx):\n$plan")
  }

  /** The physical tree under any AQE wrapper (AdaptiveSparkPlanExec hides
    * its child from collect()). */
  private def physicalTree(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }

  /** Uncached parquet scans of `t` in the executed-plan TREE (scans hidden
    * behind InMemoryTableScan run once at cache fill, so they don't count
    * as plan-level re-reads). */
  private def treeScansOf(df: org.apache.spark.sql.DataFrame, t: String): Int =
    physicalTree(df).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(s"$t.parquet")) => f
    }.size

  /** Parquet scans of `t` in the executed AQE final plan of `df` (run
    * first), descending into query stages. A reused exchange is a leaf, so
    * a scan it shares counts once. */
  private def finalScansOf(df: org.apache.spark.sql.DataFrame, t: String): Int = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        assert(a.isFinalPlan, s"plan not final after execution:\n$plan")
      case _ =>
    }
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}.collect(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(s"$t.parquet")) => f
    }.size
  }

  test("group drift family scans each table once (eligibility is derived, not re-scanned)") {
    // eligibility ranks the categories of the one metrics aggregate with a
    // window over its rows; a self-join would plan a second, differently
    // pruned aggregate that exchange reuse cannot merge
    for (df <- Seq(
        graft.drift.GroupDrift.groupNumericMetrics(spark, sf),
        graft.drift.GroupDrift.groupCatMetrics(spark, sf))) {
      Seq("lineitem", "orders").foreach { t =>
        val n = finalScansOf(df, t)
        assert(n == 1, s"$t scanned $n times in the final plan:\n${df.queryExecution.executedPlan}")
      }
    }
  }

  test("group drift verdict scans each table once per aggregate (eligibility is derived, not re-scanned)") {
    // the verdict reads two aggregates of different grain per table — the
    // numeric pivot and the categorical value counts — so two scans;
    // eligibility ranks the pivot's own rows instead of re-aggregating it
    val df = graft.drift.GroupDrift.groupDriftVerdict(spark, sf)
    Seq("lineitem", "orders").foreach { t =>
      val n = finalScansOf(df, t)
      assert(n == 2, s"$t scanned $n times in the final plan:\n${df.queryExecution.executedPlan}")
    }
  }

  test("categorical census never windows a whole column in one task") {
    // a window keyed by column_name alone would send every distinct value of
    // a high-cardinality column (l_partkey, o_custkey) through one sort; the
    // census takes its totals from a broadcast aggregate, and only the O19
    // top-20 rank windows, keyed by (column_name, side)
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    val windowKeys = Seq(
        graft.drift.CategoricalDrift.categoricalDrift(spark, sf),
        graft.drift.CategoricalDrift.jsFull(spark, sf),
        graft.drift.CategoricalDrift.rareValueChanges(spark, sf),
        graft.drift.CategoricalDrift.rareCategories(spark, sf))
      .map(df => physicalTree(df).collect { case w: WindowExec =>
        w.partitionSpec.collect { case n: NamedExpression => n.name }.sorted
      }.distinct)
    assert(windowKeys.head == Seq(Seq("column_name", "side")), s"categorical_drift windows: ${windowKeys.head}")
    assert(windowKeys.tail.forall(_.isEmpty), s"js_full / rare_* windows: ${windowKeys.tail}")
  }

  /** The optimized plans of every query `body` runs, in order — eager
    * sub-aggregates included. */
  private def plansRunBy(body: => Unit): Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val marker = "plans_run_by_marker"
    @volatile var flushed = false
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(marker)) flushed = true
        else seen.add(qe.optimizedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener sees executions in order: once the marker arrives,
      // every query of `body` has arrived before it
      spark.range(1).select(org.apache.spark.sql.functions.lit(1).as(marker)).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!flushed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(flushed, "the listener never saw the marker query")
      scala.jdk.CollectionConverters.CollectionHasAsScala(seen).asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("every sketched bench key runs sketches, no exact percentile or distinct count") {
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical.{Expand, LogicalPlan}
    def walk(p: LogicalPlan): Seq[LogicalPlan] = p +: p.children.flatMap(walk)
    SparkEntry.SketchedOnBench.foreach { k =>
      // built as the bench builds it, run after the bench's sketch block ends
      val nodes = plansRunBy(SparkEntry.benchQueries(k)(spark, sf).collect()).flatMap(walk)
      val aggs = nodes.flatMap(_.expressions.flatMap(_.collect { case a: AggregateExpression => a }))
      val exact = aggs.filter {
        case AggregateExpression(_: Percentile, _, _, _, _) => true
        case AggregateExpression(Count(Seq(_)), _, true, _, _) => true
        case _ => false
      }
      assert(exact.isEmpty, s"$k runs exact aggregates: ${exact.mkString(", ")}")
      // several distinct counts lowered to an Expand before any sketching
      assert(!nodes.exists { case e: Expand => e.output.exists(_.name == "gid"); case _ => false },
        s"$k lowers distinct counts to an Expand")
      assert(aggs.exists(a => a.aggregateFunction.isInstanceOf[ApproximatePercentile] ||
        a.aggregateFunction.isInstanceOf[HyperLogLogPlusPlus]), s"$k runs no sketch")
    }
  }

  test("sketched(df) equals the session-mode result on a lazy key") {
    import graft.plans.SketchModeRewrite.{during, sketched}
    val q = () => graft.drift.NumericDrift.quantileShifts(spark, sf)
    val session = during(spark)(q().collect())
    val exact = q().collect()
    assert(sketched(q()).collect().toSeq == session.toSeq)
    assert(session.toSeq != exact.toSeq, "the sketch moved no quantile: the case shows nothing")
  }

  test("group_slices aggregates every dimension through one Expand + one Exchange per table") {
    val df = graft.drift.GroupDrift.groupSlices(spark, sf)
    val plan = planOf(df)
    Seq("lineitem", "orders").foreach { t =>
      assert(treeScansOf(df, t) == 1, s"$t not scanned exactly once:\n$plan")
    }
    // the GROUPING SETS fan-out is an Expand feeding a partial aggregate —
    // never one shuffle per dimension. Per table: the grouping-sets
    // exchange + the tiny pivot exchange, plus the final global sort;
    // anything more means a dimension re-aggregated the raw rows
    assert(plan.contains("Expand"), s"no Expand (grouping sets lost):\n$plan")
    val shuffles = physicalTree(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size
    assert(shuffles <= 5, s"too many exchanges ($shuffles) for 2 tables:\n$plan")
  }

  test("doc_entropy: in-row fold leaves only the per-source rollup exchange") {
    // per-doc entropy is a stateless projection (run-length fold over the
    // sorted token array) — if an explode/word-level aggregation sneaks
    // back in, the plan gains word-grain exchanges that are corpus-sized
    // at 100 TB
    val df = TextAnalysis.docEntropy(spark, sf)
    val plan = planOf(df)
    assert(!plan.contains("Generate"), s"explode reappeared:\n${plan.take(2000)}")
    val shuffles = physicalTree(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size
    // rollup exchange + the final ORDER BY's range exchange
    assert(shuffles <= 2, s"expected <=2 exchanges, got $shuffles:\n${plan.take(2000)}")
    assert(treeScansOf(df, "documents") == 1, s"documents scanned more than once")
  }

  test("bench-action rationale pin: count() join-eliminates a unique-key left join that row iteration retains") {
    // Round-15 harness finding: Bench must execute queries by iterating
    // the plan's rows (exec/toRdd), NOT df.count() — under the count
    // rewrite, Catalyst's column pruning plus left-join elimination may
    // legally DELETE the measured work (incremental_dedup's full LSH
    // pipeline benched at 0.1 s CPU). This pins the Spark behavior the
    // rationale rests on; if a Spark upgrade stops eliminating the join,
    // this fails and the Bench scaladoc needs re-validating.
    import spark.implicits._
    val base = (1 to 10).toDF("id")
    val uniq = base.groupBy("id").agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n"))
    val joined = base.join(
      uniq.withColumn("flag", org.apache.spark.sql.functions.lit(true)),
      Seq("id"), "left")
    val underCount = joined.groupBy().count().queryExecution.optimizedPlan.toString
    val direct = joined.queryExecution.optimizedPlan.toString
    assert(!underCount.contains("Join"),
      s"count() no longer eliminates the unique-key left join — bench could return to count():\n$underCount")
    assert(direct.contains("Join"),
      s"direct plan lost its join — test fixture broken:\n$direct")
  }
}
