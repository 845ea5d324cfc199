package graft

import org.apache.spark.sql.functions._

import graft.operators.Salting

/** Skew salting: result-invisible (salted == plain, row for row) and
  * plan-visible (shuffle keys carry __salt, so a hot key's rows spread
  * over `factor` reducers instead of flooding one). */
class SaltingSpec extends SparkSpec {
  import spark.implicits._

  test("salted join == plain join, row for row") {
    val events = Tables.load(spark, sfDir, "events")
    val dim = events.groupBy($"event_type")
      .agg(round(avg($"value"), 4).as("type_avg"))
    val salted = Salting.saltedJoin(events, dim, "event_type", 8, "event_id")
      .select($"event_id", $"event_type", $"type_avg")
      .orderBy("event_id").collect()
    val plain = events.join(dim, "event_type")
      .select($"event_id", $"event_type", $"type_avg")
      .orderBy("event_id").collect()
    assert(salted.length === plain.length)
    assert(salted.toSeq === plain.toSeq)
  }

  test("salted shuffle partitions by (key, __salt) — the hot key is spread") {
    // force the shuffle path (the tiny dim would otherwise broadcast and
    // no exchange would exist to inspect)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val events = Tables.load(spark, sfDir, "events")
      val dim = events.groupBy($"event_type")
        .agg(round(avg($"value"), 4).as("type_avg"))
      val salted = Salting.saltedJoin(events, dim, "event_type", 8, "event_id")
      val plan = salted.queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator
        .filter(_.contains("hashpartitioning")).toSeq
      assert(exchanges.nonEmpty, s"no shuffle exchanges found:\n$plan")
      // both JOIN-side shuffles must carry __salt; the dim's own groupBy
      // exchange (post-combine, 5 rows) legitimately stays on the raw key
      assert(exchanges.count(_.contains("__salt")) >= 2,
        s"join shuffles don't carry __salt:\n$exchanges")
    }
  }

  test("salted two-phase count == plain groupBy count") {
    val events = Tables.load(spark, sfDir, "events")
    val salted = Salting.saltedCount(events, "event_type", 8, "event_id")
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    val plain = events.groupBy($"event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(salted.toSeq === plain.toSeq)
  }
}
