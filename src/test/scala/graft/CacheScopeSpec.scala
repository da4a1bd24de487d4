package graft

import graft.drift._
import org.apache.spark.sql.DataFrame

/** The product entry points own their caches: what `detectDrift` and
  * [[CacheScope.using]] create is released on return, what the caller
  * cached stays cached. */
class CacheScopeSpec extends SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def isCached(df: DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined

  private def frames(r: DriftReport): Seq[DataFrame] = Seq(r.quantileShifts, r.shapes,
    r.jsFull, r.rareValueChanges, r.histograms, r.zOutliers, r.correlationChanges,
    r.rareCategories, r.groupDrift, r.groupCorrelations, r.featureImportance)

  test("consecutive version-pair reports leave the persistent RDDs as they were") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scope")
    val root = dir.resolve("tbl").toString
    val out = dir.resolve("results").toString
    val tbl = new VersionedParquetTable(root)
    (1 to 3).foreach(v => tbl.commit(SyntheticDrift.version(spark, v, n = 2000), nowMillis = v * 1000L))
    // deep_dive turns every family on; the target adds feature importance
    val cfg = DriftConfig(profile = "deep_dive", targetColumn = Some("numeric_normal"))

    val before = persistentIds
    val reports = Seq(0L -> 1L, 1L -> 2L).map { case (a, b) =>
      new DriftDetector(spark).detectDrift(tbl, a, b,
        ConfigReader.DriftRun(root, a, b, Some(out), cfg, "versioned_parquet"))
    }
    assert(persistentIds == before, s"leaked RDDs: ${persistentIds -- before}")

    reports.foreach { r =>
      assert(r.errors.isEmpty, r.errors.mkString("; "))
      assert(r.groupDrift.count() > 0 && r.zOutliers.count() > 0)
      frames(r).foreach(_.count())
    }
    val appended = spark.read.parquet(out).count()
    Results.writeResults(spark, reports.last, out)
    assert(spark.read.parquet(out).count() > appended)
  }

  test("detectDrift keeps the caches its caller made") {
    val ref = SyntheticDrift.version(spark, 1, n = 2000).cache()
    ref.count()
    // cached but never filled: detectDrift's own actions fill it
    val curr = SyntheticDrift.version(spark, 2, n = 2000).cache()
    try {
      val before = persistentIds
      new DriftDetector(spark).detectDrift(ref, curr)
      assert(isCached(ref) && isCached(curr))
      val kept = persistentIds -- before
      assert(kept.size == 1, s"expected only curr's filled cache to be new, got $kept")
    } finally { ref.unpersist(); curr.unpersist() }
  }

  test("CacheScope.using releases what a failing body created and rethrows its error") {
    val before = persistentIds
    val df = spark.range(5000).selectExpr("id * 7 AS scoped_x")
    val e = intercept[IllegalStateException] {
      CacheScope.using(spark) { scope =>
        scope.cached(df).count()
        spark.range(100).selectExpr("id AS checkpointed_x").localCheckpoint()
        assert(persistentIds.size == before.size + 2)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(!isCached(df))
    assert(persistentIds == before, s"leaked RDDs: ${persistentIds -- before}")
  }
  test("concurrent cached calls inside one scope are all registered and all released") {
    val before = persistentIds
    val dfs = (0 until 64).map(i => spark.range(100).selectExpr(s"id * $i AS concurrent_$i"))
    CacheScope.using(spark) { scope =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val start = new java.util.concurrent.CountDownLatch(1)
      try {
        val tasks = dfs.grouped(8).toSeq.map(group => pool.submit[Unit] { () =>
          start.await()
          group.foreach(scope.cached)
          group.foreach(_.count())
        })
        start.countDown()
        tasks.foreach(_.get())
      } finally pool.shutdown()
      assert(dfs.forall(isCached))
      assert(persistentIds.size == before.size + dfs.size)
    }
    assert(!dfs.exists(isCached))
    assert(persistentIds == before, s"leaked RDDs: ${persistentIds -- before}")
  }
}
