package graft

import graft.drift._

/** The environment has no Delta jars (see README "Delta Lake status"), so
  * this pins the CONTRACT of [[DeltaSource]]: it builds the right
  * versionAsOf read and fails with Spark's data-source-not-found error —
  * not a compile error, not a silent wrong result — when Delta is absent.
  * On a Delta-enabled cluster the same code path reads time-travel
  * snapshots. */
class DeltaSourceSpec extends SparkSpec {

  test("DeltaSource.load surfaces DATA_SOURCE_NOT_FOUND without Delta jars") {
    val src = new DeltaSource("/tmp/nonexistent-delta-table")
    val e = intercept[Exception](src.load(spark, 0).collect())
    val msg = e.getMessage
    assert(msg.contains("delta") || msg.contains("DATA_SOURCE_NOT_FOUND"),
      s"unexpected failure mode: $msg")
  }

  test("DeltaSource.latestVersion fails parseably without the Delta extension") {
    val src = new DeltaSource("/tmp/nonexistent-delta-table")
    val e = intercept[Exception](src.latestVersion(spark))
    assert(Option(e.getMessage).nonEmpty)
  }

  test("VersionedParquetTable: commit/time-travel lifecycle on plain parquet") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vpt").toString + "/tbl"
    val tbl = new VersionedParquetTable(root)

    // three commits with injected clocks (the Delta-history analogue)
    assert(tbl.commit(Seq(1, 2, 3).toDF("x"), nowMillis = 1000L) == 0L)
    assert(tbl.commit(Seq(4, 5).toDF("x"), nowMillis = 2000L) == 1L)
    assert(tbl.commit(Seq(6).toDF("x"), nowMillis = 3000L) == 2L)

    assert(tbl.latestVersion(spark) == 2L)
    assert(tbl.load(spark, 0).count() == 3L)
    assert(tbl.load(spark, 1).count() == 2L)
    assert(tbl.load(spark, 2).count() == 1L)

    // timestampAsOf: newest version committed at or before the instant
    assert(tbl.versionAsOfTimestamp(1000L) == 0L)
    assert(tbl.versionAsOfTimestamp(2500L) == 1L)
    assert(tbl.versionAsOfTimestamp(9999L) == 2L)
    intercept[IllegalArgumentException](tbl.versionAsOfTimestamp(999L))
  }

  test("versioned_parquet table_format drives end-to-end version-pair drift") {
    // the reference's whole flow — "drift between version N-1 and N of one
    // table" (data_loader.py:24) — against the manifest-committed Delta
    // stand-in, entered through a config file like the reference is
    val root = java.nio.file.Files.createTempDirectory("graft-vpt3").toString + "/tbl"
    val tbl = new VersionedParquetTable(root)
    tbl.commit(SyntheticDrift.version(spark, 1, n = 4000), nowMillis = 1000L)
    tbl.commit(SyntheticDrift.version(spark, 3, n = 4000), nowMillis = 2000L)

    val cfg = java.nio.file.Files.createTempFile("graft-vpt-cfg", ".json")
    java.nio.file.Files.writeString(cfg,
      s"""{"table_path": "$root", "table_format": "versioned_parquet",
         | "reference_version": 0, "current_version": 1,
         | "profile": "standard", "sample_size": 0}""".stripMargin)
    val report = new DriftDetector(spark).detectDrift(cfg.toString)
    assert(report.numeric.exists(_.driftDetected),
      "v0->v1 significant synthetic drift must be flagged through the versioned source")

    // currVersion = -1 resolves latestVersion (O2) and matches the explicit run
    val run = ConfigReader.readFile(cfg.toString)
    val viaLatest = new DriftDetector(spark)
      .detectDrift(new VersionedParquetTable(root), 0L, -1L, run)
    assert(viaLatest.numeric.map(n => (n.column, n.driftScore)) ===
      report.numeric.map(n => (n.column, n.driftScore)))

    // unknown format fails loudly, not as a silent parquet_dir fallback
    val bad = run.copy(tableFormat = "iceberg")
    intercept[IllegalArgumentException](new DriftDetector(spark).detectDrift(bad))
  }

  test("VersionedParquetTable: uncommitted directories stay invisible to readers") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vpt2").toString + "/tbl"
    val tbl = new VersionedParquetTable(root)
    tbl.commit(Seq(1).toDF("x"), nowMillis = 1000L)

    // a torn write: data directory exists, manifest line never landed
    Seq(9, 9).toDF("x").write.parquet(s"$root/v7")
    Seq(8).toDF("x").write.parquet(s"$root/_tmp_v8")

    assert(tbl.latestVersion(spark) == 0L, "stray v7 must not become visible")
    val e = intercept[IllegalArgumentException](tbl.load(spark, 7))
    assert(e.getMessage.contains("not committed"))
    // the next commit skips past nothing — manifest, not listing, is truth
    assert(tbl.commit(Seq(2).toDF("x"), nowMillis = 2000L) == 1L)
    assert(tbl.history().map(_._1) == Seq(0L, 1L))
  }

  test("VersionedParquetTable: a torn commit's leftover data dir does not wedge the table") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-vpt-torn").toString + "/tbl"
    val tbl = new VersionedParquetTable(root)
    assert(tbl.commit(Seq(1).toDF("x"), nowMillis = 1000L) == 0L)
    // simulate a crash between the data move and the manifest replace:
    // v1 exists on disk but the manifest never recorded it
    Seq(99).toDF("x").write.parquet(s"$root/v1")
    // the retried commit must reclaim v1, not die on FileAlreadyExists —
    // and the committed data is the NEW frame, not the torn leftover
    assert(tbl.commit(Seq(2).toDF("x"), nowMillis = 2000L) == 1L)
    assert(tbl.load(spark, 1L).collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("VersionedParquetTable: same-millisecond commits time-travel to the newest") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-vpt-tie").toString + "/tbl"
    val tbl = new VersionedParquetTable(root)
    tbl.commit(Seq(1).toDF("x"), nowMillis = 5000L)
    tbl.commit(Seq(2).toDF("x"), nowMillis = 5000L) // same instant (Example does this)
    // Delta's timestampAsOf rule: the NEWEST version at-or-before the
    // instant — a plain maxBy(timestamp) would resolve the superseded v0
    assert(tbl.versionAsOfTimestamp(5000L) == 1L)
    assert(tbl.load(spark, tbl.versionAsOfTimestamp(5000L))
      .select(col("x")).collect().head.getInt(0) == 2)
  }

  test("ParquetDirSource.latestVersion fails naming the root when it has no version") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-pds")
    java.nio.file.Files.createDirectories(root.resolve("not_a_version"))
    // an existing root without v<N> directories and a missing root fail alike
    Seq(root.toString, root.resolve("missing").toString).foreach { r =>
      val e = intercept[IllegalArgumentException](new ParquetDirSource(r).latestVersion(spark))
      assert(e.getMessage.contains(r), e.getMessage)
    }
    Seq(0, 3).foreach(v => Seq(v).toDF("x").write.parquet(s"$root/v$v"))
    val src = new ParquetDirSource(root.toString)
    assert(src.latestVersion(spark) == 3L)
    assert(src.load(spark, 3L).collect().map(_.getInt(0)).toSeq == Seq(3))
  }
}
