package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured: graft's cache
  * serializer and cache-scan extensions, `local[cpus]` with as many
  * shuffle partitions, UTC session time, no UI. Every main and the
  * spec session start from this builder and add only their own
  * settings before `getOrCreate()`. */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.cache.serializer",
        "graft.functions.GraftCachedBatchSerializer")
      .config("spark.sql.extensions", "graft.plans.GraftCacheScanExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
