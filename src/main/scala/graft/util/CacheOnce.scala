package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** `df.cacheOnce()`: `cache()` unless the plan is already cached. Cached
  * plans substitute at analysis, so a second `cache()` of the same plan
  * is a no-op that only logs "Asked to cache already cached data"; the
  * per-call `.cache()` sites re-submit their plan on every call. */
object CacheOnce {
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def cacheOnce(): DataFrame =
      if (df.storageLevel == StorageLevel.NONE) df.cache() else df
  }
}
