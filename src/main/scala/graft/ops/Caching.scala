package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Idempotent caching: `cached(df)` pins the plan only when no equivalent
  * plan is already in the session's cache manager, otherwise it returns
  * the frame untouched and lets the existing materialized blocks serve it.
  *
  * Why this exists: a re-executed query (benchmark repeat runs, retried
  * jobs, a pipeline invoked twice in one session) rebuilds the same
  * logical plan and calls `.cache()` again; Spark then keeps the first
  * entry but logs `CacheManager: Asked to cache already cached data` per
  * call. The lookup `df.storageLevel` consults the same plan-normalized
  * cache index the warning path does, so this guard is exactly the no-op
  * re-registration, minus the noise. Cache LIFETIME stays caller-managed
  * (see [[Dedup.prefixFilterJoin]] / [[Graph.pageRankPpm]] docs).
  */
private[graft] object Caching {
  def cached(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.cache() else df

  /** `df` materialized once, columnar, in memory (spilling to disk), and
    * owned by the returned frame rather than by the session: unlike
    * `cache()` nothing in the `CacheManager` pins it, so the blocks go when
    * [[release]]d or, failing that, when no plan references the frame any
    * more. The first job that reads the frame fills it; every later one
    * reads the blocks. Lineage is kept, so a frame read after its release
    * recomputes instead of failing.
    */
  def materialized(df: DataFrame): DataFrame =
    GraftSqlBridge.inMemory(df, StorageLevel.MEMORY_AND_DISK)

  /** Drop the blocks of every [[materialized]] relation under `df`. */
  def release(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers
    }.foreach(_.unpersist(blocking))

  /** Drop every pin the session holds and wait until the blocks are gone:
    * each persistent RDD (`cache()` buffers, `localCheckpoint` blocks,
    * [[materialized]] relations) is unpersisted with blocking, then the
    * `CacheManager` is cleared. The order matters: clearing the cache
    * first would drop its buffers from `getPersistentRDDs` without
    * waiting for their eviction.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}
