package graft.drift

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of product-path caches. [[DriftDetector.detectDrift]] and
  * `CorpusPipeline.run` run inside [[CacheScope.using]], which on exit, also
  * on a throw, unpersists the Datasets cached through [[cached]] (Dataset-
  * level, so the CacheManager entry goes too) and the localCheckpoint RDDs
  * created inside the scope. A plan already cached when [[cached]] sees it
  * is the caller's and is left alone. The `scope` parameters of the pair
  * and sweep APIs are for callers composing them directly: pass one and
  * [[release]] it once results are materialized. */
final class CacheScope {
  private val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
  /** Cache `df` and remember the handle for [[release]], unless its plan is
    * already cached. Safe to call from concurrent analyzer families. */
  private[graft] def cached(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) { frames += df; df.cache() }
    df
  }
  def release(): Unit = synchronized(frames.foreach(_.unpersist(blocking = false)))
}

object CacheScope {
  /** Run `f` with a fresh scope and release everything it created on exit.
    * A release failure (a dying SparkContext) never masks `f`'s own. */
  def using[T](spark: SparkSession)(f: CacheScope => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val scope = new CacheScope
    try f(scope)
    finally try {
      scope.release()
      sc.getPersistentRDDs
        .collect { case (id, rdd) if !before(id) && rdd.isCheckpointed => rdd }
        .foreach(_.unpersist(blocking = false))
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}
