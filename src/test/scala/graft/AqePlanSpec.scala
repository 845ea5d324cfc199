package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Salting
import graft.queries.AnalyticsQueries

/** AQE interaction audit: the suite's load-bearing plan shapes (salted
  * join keys, Bloom probe below the join, partition-pruned IVF scans)
  * must SURVIVE adaptive execution with skew-join and partition
  * coalescing enabled at cluster-realistic settings — AQE re-plans at
  * stage boundaries, and a shape that only holds pre-adaptive could
  * silently degrade on a real cluster. Every assertion here inspects
  * the FINAL adaptive plan (executed first, `isFinalPlan=true`), not
  * the static one; coalesce sizes are set small enough that AQE
  * demonstrably rewrites stages at test scale rather than idling.
  */
class AqePlanSpec extends SparkSpec {
  import spark.implicits._

  private val AqeConf = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // small advisory/min sizes so coalescing actively rewrites the
    // test-scale exchanges (the cluster-realistic 64m would no-op here
    // and the audit would inspect an untouched plan)
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")

  /** Execute the frame, then return its FINAL adaptive plan string. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan isFinalPlan=true"),
      s"expected a finalized adaptive plan:\n$p")
    p
  }

  test("salted join keys survive AQE skew-join + coalescing (and rows stay right)") {
    withSQLConf(AqeConf :+
        ("spark.sql.autoBroadcastJoinThreshold" -> "-1"): _*) {
      spark.catalog.clearCache()
      val events = Tables.load(spark, sfDir, "events")
      val dim = events.groupBy($"event_type")
        .agg(round(avg($"value"), 4).as("type_avg"))
      val salted = Salting.saltedJoin(events, dim, "event_type", 8, "event_id")
      val plan = finalPlan(salted)
      val exchanges = plan.linesIterator
        .filter(_.contains("hashpartitioning")).toSeq
      assert(exchanges.count(_.contains("__salt")) >= 2,
        s"AQE dropped __salt from the join shuffles:\n${exchanges.mkString("\n")}")
      // result-invisible under AQE too: salted == plain, row for row
      val plain = events.join(dim, "event_type")
        .orderBy("event_id").select("event_id", "type_avg").collect()
      val got = salted.orderBy("event_id")
        .select("event_id", "type_avg").collect()
      assert(got.toSeq === plain.toSeq)
    }
  }

  test("bloom probe stays below the join under AQE") {
    withSQLConf(AqeConf: _*) {
      spark.catalog.clearCache()
      val df = AnalyticsQueries.all("q_bloom_join")(spark, sfDir)
      // the prune-before-shuffle contract lives in the optimized plan;
      // AQE must not have hoisted the probe above the join
      df.collect()
      val plan = df.queryExecution.optimizedPlan.toString
      val joinAt = plan.indexOf("Join")
      val probeAt = plan.indexOf("bloom_might_contain")
      assert(joinAt >= 0 && probeAt > joinAt,
        s"bloom probe must sit below the join under AQE:\n$plan")
    }
  }

  test("IVF pruned scan keeps its partition filters under AQE") {
    withSQLConf(AqeConf: _*) {
      spark.catalog.clearCache()
      val dir = graft.operators.IndexStore.ivf(spark, sfDir, k = 16)
      val probed = spark.read.parquet(s"$dir/assignments")
        .filter($"cluster_id".isin(1, 3))
        .groupBy($"cluster_id").agg(count(lit(1)).as("n"))
      val plan = finalPlan(probed)
      assert(plan.contains("PartitionFilters"),
        s"partition pruning lost under AQE:\n$plan")
      // physical proof under AQE: only the probed partitions' files read
      val scanned = spark.read.parquet(s"$dir/assignments")
        .filter($"cluster_id".isin(1, 3))
        .select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
      assert(scanned.nonEmpty && scanned.forall(f =>
          f.contains("cluster_id=1") || f.contains("cluster_id=3")),
        s"read files outside probed clusters: $scanned")
    }
  }

  test("AQE coalescing actively rewrites at these thresholds (audit is live)") {
    withSQLConf(AqeConf: _*) {
      spark.catalog.clearCache()
      val df = Tables.load(spark, sfDir, "events")
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
      val plan = finalPlan(df)
      assert(plan.contains("AQEShuffleRead") || plan.contains("coalesced"),
        s"expected a coalesced shuffle read in the final plan:\n$plan")
    }
  }
}
