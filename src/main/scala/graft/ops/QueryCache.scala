package graft.ops

import org.apache.spark.sql.DataFrame

/** The one owner of the operators' per-query caches. */
private[graft] object QueryCache {

  /** `df` persisted at the default `persist()` level, for a frame the
    * returned plan reads more than once. `storageLevel` looks the plan up
    * in the session's CacheManager and is valid only for a live entry, so
    * a repeated call (bench iterations share the session cache) reuses
    * that entry instead of re-registering it, which logs "Asked to cache
    * already cached data".
    *
    * Release contract: the entry outlives the call, because the returned
    * plan reads it. Operators never unpersist it; the caller releases
    * every such entry between queries with
    * [[graft.SparkEntry.resetSessionState]].
    */
  def cached(df: DataFrame): DataFrame =
    if (df.storageLevel.isValid) df else df.persist()
}
