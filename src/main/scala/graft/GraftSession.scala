package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured: graft's cache
  * serializer and cache-scan extensions, `local[cpus]` with as many
  * shuffle partitions, UTC session time, no UI, and the aggregate
  * fallback threshold every entry depends on ([[SparkEntry.tune]]).
  * Every main and the spec session start from this builder and add
  * only their own settings before `getOrCreate()`. */
object GraftSession {
  /** See [[SparkEntry.tune]]. */
  val FallbackThreshold: (String, String) =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "262144"

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .config(FallbackThreshold._1, FallbackThreshold._2)
      .config("spark.sql.cache.serializer",
        "graft.functions.GraftCachedBatchSerializer")
      .config("spark.sql.extensions", "graft.plans.GraftCacheScanExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
