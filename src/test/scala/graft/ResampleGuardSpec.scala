package graft

import java.sql.Timestamp


import org.apache.spark.sql.functions._

import graft.queries.AnalyticsQueries

/** q_resample_ffill's fan-out guard: the hourly spine is sequence()
  * off each user's (min, max) hour, so ONE user with a corrupt
  * timestamp (an epoch-0 sentinel, a 2106 overflow) would silently
  * explode millions of spine rows onto a single task. The contract is
  * throw-don't-degrade (the ConnectedComponents discipline): spans
  * past MaxSpineHours abort with the user named.
  */
class ResampleGuardSpec extends SparkSpec {
  import spark.implicits._

  private def events(rows: (Long, Long, Double, String)*) =
    rows.toDF("user_id", "event_id", "value", "s")
      .select($"user_id", $"event_id", $"value",
        $"s".cast("timestamp").as("ts"))

  test("normal spans resample and forward-fill") {
    val out = AnalyticsQueries.resampleFfill(events(
      (1L, 1L, 10.0, "2024-01-01 00:30:00"),
      (1L, 2L, 20.0, "2024-01-01 03:10:00"))).collect()
    // hours 00..03 inclusive: 4 spine rows, gap hours carry 10.0 forward
    assert(out.length === 4)
    assert(out.map(_.getLong(2)).toSeq === Seq(1L, 0L, 0L, 1L))
    assert(out.map(_.getDouble(3)).toSeq === Seq(10.0, 10.0, 10.0, 20.0))
  }

  test("an adversarial wide-range user aborts the job, naming the user") {
    // user 7's epoch-0 sentinel beside a 2024 event: ~54 years of hours
    val bad = events(
      (1L, 1L, 10.0, "2024-01-01 00:30:00"),
      (7L, 2L, 20.0, "1970-01-01 00:00:00"),
      (7L, 3L, 30.0, "2024-01-01 00:00:00"))
    // raise_error surfaces as SparkRuntimeException (USER_RAISED_EXCEPTION)
    // when evaluated driver-adjacent, SparkException when task-wrapped —
    // the contract is the abort itself plus the message, not the wrapper
    val ex = intercept[Exception] {
      AnalyticsQueries.resampleFfill(bad).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("q_resample_ffill"), s"unexpected error: $msg")
    assert(msg.contains("user 7"), s"offending user not named: $msg")
  }

  test("a span just under the cap still fans out (guard is not over-eager)") {
    // two events MaxSpineHours-2 hours apart — one row per hour, no throw
    val span = AnalyticsQueries.MaxSpineHours - 2
    val t1 = new Timestamp(span * 3600L * 1000L)
    val ok = events((1L, 1L, 1.0, "1970-01-01 00:00:00"))
      .unionByName(Seq((1L, 2L, 2.0)).toDF("user_id", "event_id", "value")
        .select($"user_id", $"event_id", $"value", lit(t1).as("ts")))
    assert(AnalyticsQueries.resampleFfill(ok).count() === span + 1)
  }

  test("the cap is inclusive: exactly MaxSpineHours passes, one more aborts") {
    def atSpan(span: Long) = {
      val t1 = new Timestamp(span * 3600L * 1000L)
      events((1L, 1L, 1.0, "1970-01-01 00:00:00"))
        .unionByName(Seq((1L, 2L, 2.0)).toDF("user_id", "event_id", "value")
          .select($"user_id", $"event_id", $"value", lit(t1).as("ts")))
    }
    val cap = AnalyticsQueries.MaxSpineHours
    assert(AnalyticsQueries.resampleFfill(atSpan(cap)).count() === cap + 1)
    val ex = intercept[Exception] {
      AnalyticsQueries.resampleFfill(atSpan(cap + 1)).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    // the message's reported span must agree with the predicate's units
    assert(msg.contains(s"spans ${cap + 1} hours > cap $cap"),
      s"boundary arithmetic drifted: $msg")
  }

  test("q_resample_ffill's physical order is its orderBy(user_id, hour_epoch), row for row") {
    // the entry takes its order from range-sorted anchors, not a final
    // sort: pin the exploded rows against the explicit sort
    val out = AnalyticsQueries.resampleFfill(Tables.load(spark, sfDir, "events"))
    val got = out.collect().toSeq
    val want = out.orderBy("user_id", "hour_epoch").collect().toSeq
    assert(got.map(_.getLong(0)).distinct.size > 1)
    assert(got === want)
  }
}
