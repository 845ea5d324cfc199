package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** Session tuning every entry depends on, applied here because the
    * session may be CALLER-owned (the driver hands one in): the top-k /
    * sketch aggregates are TypedImperativeAggregates, planned as
    * ObjectHashAggregate, whose sort-based fallback triggers after only
    * 128 distinct groups per partition (Spark's default) — at which
    * point the partition's REMAINING INPUT is sorted and spilled, i.e.
    * a bounded-heap aggregation over an n×q candidate expansion
    * suddenly writes the whole expansion to disk (measured at sf10:
    * ~70 GB spill per brute-force kNN entry, disk-full aborts). Each
    * group's buffer is a bounded heap/sketch, so holding 2¹⁸ of them is
    * tens of MB — raising the threshold keeps the fan-out in the
    * map-side combine where the plan put it. A [[GraftSession]] has it
    * from its builder, so the conf is written only when it differs (a
    * caller-owned session, once). */
  def tune(spark: SparkSession): SparkSession = {
    val (key, value) = GraftSession.FallbackThreshold
    if (!spark.conf.getOption(key).contains(value)) spark.conf.set(key, value)
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("v_knn_bruteforce")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (VectorQueries.all ++ AnalyticsQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ IndexQueries.all ++ PipelineQueries.all)
      .map { case (k, f) =>
        k -> ((s: SparkSession, d: String) => f(tune(s), d))
      }

  /** DuckDB oracle SQL per query key (omitted ⇒ rows-only check). */
  def oracleSql: Map[String, String] = oracleSql(_ => true)

  /** [[oracleSql]] restricted to the keys `keep` selects. The ANN
    * oracles (IndexQueries.AnnOracleKeys) are generated from persisted
    * indexes, so they are computed only when a selected key is one of
    * them: a subset without ANN keys builds no IVF or PQ store. */
  def oracleSql(keep: String => Boolean): Map[String, String] = {
    val index =
      if (IndexQueries.AnnOracleKeys.exists(keep)) IndexQueries.oracles
      else IndexQueries.staticOracles
    (VectorQueries.oracles ++ AnalyticsQueries.oracles ++ TextQueries.oracles ++
      DedupQueries.oracles ++ index ++ PipelineQueries.oracles)
      .filter { case (k, _) => keep(k) }
  }
}
