package graft

import org.apache.spark.sql.DataFrame

package object operators {

  /** `.cache()` that tolerates an equivalent plan already being
    * cached: two queries sharing a builder (q34/q34b, the BPE family)
    * each ask for the cache, and CacheManager logs "Asked to cache
    * already cached data" for the second — benign, but a WARN in the
    * bench tail sends readers hunting a leak that isn't there.
    * Plan-equality lookup via Dataset.storageLevel, the same check
    * CacheManager itself performs. */
  private[operators] def cacheOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.cache()
    else df
}
