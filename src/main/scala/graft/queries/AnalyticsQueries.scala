package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load

/** General analytics surface over the TPC-H-ish tables: shuffled fact
  * joins with broadcast dims, windowing, sessionization, as-of join.
  *
  * Scale notes:
  *  - dims (region, nation) are always broadcast; fact-fact joins shuffle
  *    on their join keys and rely on AQE for skew handling.
  *  - sessionization / as-of are single-shuffle designs: one exchange on
  *    the entity key, then sort within partition — no self-join blowup.
  */
object AnalyticsQueries {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss"

  /** FNV fingerprint of a canonical '|'-joined ASCII rendering — the
    * row-identity primitive shared by q_table_checksum and
    * q_snapshot_diff (keys, integer cents, enum text ONLY: raw float
    * rendering differs between engines). One definition so the two
    * queries' interlocked oracles can't drift apart. */
  private def canonicalFp(cols: Column*): Column =
    graft.GraftText.rollingHash64(concat_ws("|", cols: _*))

  /** o_totalprice as integer cents — the money discipline. */
  private def orderCents: Column =
    round(col("o_totalprice") * 100).cast("long")

  /** q_snapshot_diff's row identity: custkey|cents|priority (the join
    * key itself is compared separately by the outer join). */
  private def orderRowFp(price: Column): Column =
    canonicalFp(col("o_custkey").cast("string"), price.cast("string"),
      col("o_orderpriority"))

  /** q_scd2 before its output ordering (orderedLarge's checkpoint cuts
    * the plan at an ExistingRDD scan; Scd2Spec's exchange guard needs
    * the real shape — the mixtureSampleRaw pattern). */
  private[graft] def scd2Raw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    load(s, d, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        $"o_orderpriority", orderCents.as("price_cents"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("nxt", lead($"o_orderdate", 1).over(w))
      .select($"o_custkey", $"version",
        date_format($"o_orderdate", TsFmt).as("valid_from"),
        coalesce(date_format($"nxt", TsFmt), lit("9999-12-31 00:00:00"))
          .as("valid_to"),
        $"nxt".isNull.as("is_current"),
        $"o_orderpriority", $"price_cents")
  }

  /** Per-user hourly-spine cap for q_resample_ffill: ~10 years of
    * hours. sequence() fans one row per user-HOUR, so a single user
    * with a corrupt timestamp (epoch-0 sentinel, a 2106 overflow)
    * would alone explode millions of spine rows onto one task. */
  private[graft] val MaxSpineHours = 87660L

  /** q_resample_ffill over an explicit events frame (user_id, event_id,
    * value, ts) — parameterized so ResampleGuardSpec can feed an
    * adversarial wide-range user. Spans over [[MaxSpineHours]] abort
    * via raise_error inside the spine projection (evaluated scan-side,
    * before the explode can fan out), naming the offending user. */
  private[graft] def resampleFfill(events: DataFrame): DataFrame = {
    val ev = resampleEv(events)
    val anchors = resampleAnchors(resampleHourly(ev))
    // Total order WITHOUT sorting the spine: one user's anchors emit
    // contiguous, ascending, non-overlapping hour runs, so range-
    // sorting the ANCHOR frame on (user_id, hr) and exploding in place
    // yields rows already globally ordered by (user_id, hour_epoch) —
    // row-for-row the orderBy's order ((user_id, hour_epoch) is unique).
    // The sort therefore moves |anchors| rows (data-sized, <= |events|),
    // where the former orderedLarge materialized the SPAN-SIZED spine
    // to checkpoint blocks and range-shuffled it again (72 M rows at
    // sf10 — the measured bulk of this entry's second-decade cost).
    resampleExplode(anchors
      .repartitionByRange(col("user_id"), col("hr"))
      .sortWithinPartitions("user_id", "hr"))
  }

  /** q_resample_ffill's stage legs: the hourly aggregation, the
    * anchor window and the gap-fill explode, factored so each can be
    * timed alone — the composition above IS the entry, the legs are
    * never an alternate semantics.
    *
    * The r11 shape generated the full hourly spine from a per-user
    * (min, max) aggregate, LEFT-JOINED the hourly values onto it, and
    * ran an IGNORE-NULLS fill window over the spine — so the
    * user-hour-LINEAR spine (72M rows at sf10) crossed a join shuffle
    * AND a window sort. The r12 split measured the join+fill leg at
    * 10× the hourly aggregate's cost. This shape derives the same
    * rows from the hourly frame alone: each user-hour WITH events
    * ("anchor") learns its successor via one lead() window over the
    * |anchors| frame (≤ |events| rows, data-sized not span-sized),
    * then explodes sequence(hr, next−1) carrying its own fill value —
    * every spine row is BORN filled, scan-side, after the one
    * aggregate. Empty hours inherit the anchor's value = exactly the
    * IGNORE-NULLS window's pick; the anchor hour itself reports its
    * count and value unchanged, so the output is row-identical (one
    * shared oracle). */
  private[graft] def resampleEv(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    events.select(
      $"user_id", $"event_id", $"value",
      (unix_timestamp($"ts") / lit(3600)).cast("long").as("hr"),
      unix_micros($"ts").as("us"))
  }

  private[graft] def resampleHourly(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    ev.groupBy($"user_id", $"hr")
      .agg(count(lit(1)).as("n"),
        max_by($"value", struct($"us", $"event_id")).as("lastv"))
  }

  /** Anchor successor + span guard: one user-keyed shuffle of the
    * hourly frame, lead() for the next event-hour, min/max for the
    * fan-out guard (a single corrupt timestamp — epoch-0 sentinel, a
    * 2106 overflow — would silently fan one user into millions of
    * generated rows on one task; spans beyond [[MaxSpineHours]] abort
    * with the user named, the throw-don't-degrade discipline). Both
    * window specs share the user partitioning — one exchange. */
  private[graft] def resampleAnchors(hourly: DataFrame): DataFrame = {
    val s = hourly.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"hr")
    val wAll = Window.partitionBy($"user_id")
    hourly
      .withColumn("nexthr", lead($"hr", 1).over(w))
      .withColumn("span", max($"hr").over(wAll) - min($"hr").over(wAll))
  }

  /** The gap-fill explode: anchor hour hr emits hours hr..next−1 (the
    * last anchor emits itself), each carrying the anchor's count-only-
    * at-anchor and fill value. Generated scan-side — the spine never
    * crosses a shuffle. */
  private[graft] def resampleExplode(anchors: DataFrame): DataFrame = {
    val s = anchors.sparkSession
    import s.implicits._
    anchors
      .select($"user_id", $"hr", $"n", $"lastv",
        explode(sequence($"hr",
          when($"span" <= lit(MaxSpineHours),
            coalesce($"nexthr" - 1, $"hr")).otherwise(
            raise_error(concat(lit("q_resample_ffill: user "),
              $"user_id".cast("string"), lit(" spans "),
              $"span".cast("string"),
              lit(s" hours > cap $MaxSpineHours — corrupt timestamp?")))
              .cast("long")))).as("hour_epoch"))
      .select($"user_id", $"hour_epoch",
        when($"hour_epoch" === $"hr", $"n").otherwise(lit(0L)).as("n_events"),
        round($"lastv", 4).as("filled_value"))
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 flavor: single wide scan-agg, fully map-side combinable.
    "q1_pricing_summary" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_base_price"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("sum_disc_price"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax")), 2).as("sum_charge"),
          round(avg($"l_quantity"), 4).as("avg_qty"),
          round(avg($"l_extendedprice"), 4).as("avg_price"),
          round(avg($"l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // TPC-H Q6 flavor: the canonical pushdown probe — every predicate
    // is scan-side (PushedFilters carries all three), the projection
    // reads 4 of 16 columns, and the agg is a 1-row map-side combine.
    // A plan that reads more than that is wrong at any scale.
    "q6_forecast_revenue" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "lineitem")
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
          $"l_quantity" < 24)
        .agg(round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q14 flavor: fact scan ⋈ part dim, conditional promo share
    // in one pass (no second scan for the denominator). No broadcast
    // HINT on part: the dim scales with SF (2M rows at sf10), and a
    // forced broadcast bypasses the planner's size check straight into
    // the 8 GB broadcast limit at the scale probes — below the auto
    // threshold the planner broadcasts it anyway (plan-guarded).
    "q14_promo_effect" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val li = load(s, d, "lineitem")
        .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-02-01").cast("timestamp"))
      li.join(load(s, d, "part"), $"l_partkey" === $"p_partkey")
        .agg(round(lit(100.0) *
          sum(when($"p_type" === "PROMO",
            $"l_extendedprice" * (lit(1) - $"l_discount")).otherwise(0.0)) /
          sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4)
          .as("promo_revenue_pct"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q3 flavor: two fact joins + top-10 by revenue.
    "q3_shipping_priority" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val cust = load(s, d, "customer").filter($"c_mktsegment" === "BUILDING")
      val ord = load(s, d, "orders")
        .filter($"o_orderdate" < lit("1998-06-01").cast("timestamp"))
      val li = load(s, d, "lineitem")
        .filter($"l_shipdate" > lit("1998-06-01").cast("timestamp"))
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
        .select($"l_orderkey", $"revenue",
          date_format($"o_orderdate", "yyyy-MM-dd").as("orderdate"),
          $"o_orderpriority")
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    }),

    // DAU/WAU stickiness — the engagement table every event warehouse
    // serves: per day, distinct daily actives, distinct 7-day-window
    // actives, and their ratio. The rolling window is NOT a non-equi
    // join or a window-function scan: each (day, user) activity row
    // explodes to the 7 window-days it covers (the q_range_join
    // bucketization discipline) and WAU becomes a plain equi-keyed
    // distinct count — linear 7× fan-out of the deduped activity frame,
    // no nested loop at any scale. Stickiness is one exact int/int IEEE
    // division.
    "q_dau_wau" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val active = load(s, d, "events")
        .select(to_date($"ts").as("day"), $"user_id").distinct()
      val days = active.select($"day").distinct()
      val dau = active.groupBy($"day")
        .agg(count_distinct($"user_id").as("dau"))
      val wau = active
        .select(explode(expr("sequence(day, date_add(day, 6))")).as("day"),
          $"user_id")
        .join(days, "day")
        .groupBy($"day").agg(count_distinct($"user_id").as("wau"))
      dau.join(wau, "day")
        .select(date_format($"day", "yyyy-MM-dd").as("day"), $"dau", $"wau",
          round($"dau".cast("double") / $"wau", 4).as("stickiness"))
        .orderBy("day")
    }),

    // Referential-integrity audit across the star schema: per FK
    // relation, row count + orphan count (fk with no matching pk) via
    // LEFT join against the DISTINCT key set + a null-probe sum — the
    // data-quality gate run before trusting any join's completeness.
    // NULL fks count as orphans (they match nothing), identically in
    // both engines. Scale shape: dims broadcast; the two fact-keyed
    // relations shuffle on their join key only after pruning to the
    // key column — a key-only shuffle, never wide rows; pure integer
    // outputs.
    "q_fk_audit" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      def rel(name: String, fact: org.apache.spark.sql.DataFrame, fk: String,
          dim: org.apache.spark.sql.DataFrame, pk: String) =
        fact.select(col(fk).as("fk"))
          .join(dim.select(col(pk).as("pk")).distinct(),
            $"fk" === $"pk", "left")
          .agg(count(lit(1)).as("n_rows"),
            sum(when($"pk".isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(name).as("relation"), $"n_rows", $"n_orphans")
      val orders = load(s, d, "orders"); val lineitem = load(s, d, "lineitem")
      Seq(
        rel("customer.c_nationkey->nation", load(s, d, "customer"),
          "c_nationkey", load(s, d, "nation"), "n_nationkey"),
        rel("lineitem.l_orderkey->orders", lineitem, "l_orderkey",
          orders, "o_orderkey"),
        rel("lineitem.l_partkey->part", lineitem, "l_partkey",
          load(s, d, "part"), "p_partkey"),
        rel("lineitem.l_suppkey->supplier", lineitem, "l_suppkey",
          load(s, d, "supplier"), "s_suppkey"),
        rel("nation.n_regionkey->region", load(s, d, "nation"),
          "n_regionkey", load(s, d, "region"), "r_regionkey"),
        rel("orders.o_custkey->customer", orders, "o_custkey",
          load(s, d, "customer"), "c_custkey"),
        rel("supplier.s_nationkey->nation", load(s, d, "supplier"),
          "s_nationkey", load(s, d, "nation"), "n_nationkey"))
        .reduce(_ unionAll _)
        .orderBy("relation")
    }),

    // TPC-H Q10 flavor: returned-item revenue per customer — fact⋈fact
    // on the order key, customer dim shuffles on its key, nation
    // broadcast; top-20 on the ROUNDED revenue with custkey tie-break
    // (the q3 determinism contract).
    "q10_returned_item" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val li = load(s, d, "lineitem").filter($"l_returnflag" === "R")
      val ord = load(s, d, "orders")
        .filter($"o_orderdate" >= lit("1998-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1998-04-01").cast("timestamp"))
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(load(s, d, "customer"), $"o_custkey" === $"c_custkey")
        .join(broadcast(load(s, d, "nation")),
          $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2)
          .as("revenue"))
        .select($"c_custkey", $"c_name", $"revenue",
          round($"c_acctbal", 2).as("acctbal"), $"n_name")
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    }),

    // TPC-H Q18 flavor: large-volume orders — the per-order quantity
    // rollup is a map-side-combinable aggregate used as a semi-filter
    // (never a correlated subquery per row); facts join on the order
    // key, customer dim on its key.
    "q18_large_orders" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val big = load(s, d, "lineitem")
        .groupBy($"l_orderkey")
        .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
        .filter($"sum_qty" > 300)
      big.join(load(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(load(s, d, "customer"), $"o_custkey" === $"c_custkey")
        .select($"c_name", $"c_custkey", $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("orderdate"),
          round($"o_totalprice", 2).as("totalprice"), $"sum_qty")
        .orderBy($"totalprice".desc, $"o_orderkey")
        .limit(100)
    }),

    // TPC-H Q5 flavor: 5-way join, broadcast region+nation dims.
    "q5_local_supplier" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val asia = broadcast(load(s, d, "region").filter($"r_name" === "ASIA"))
      val nat = broadcast(load(s, d, "nation"))
      val cust = load(s, d, "customer")
      val ord = load(s, d, "orders")
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
        .filter($"o_orderdate" < lit("1997-01-01").cast("timestamp"))
      val li = load(s, d, "lineitem")
      val sup = load(s, d, "supplier")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .join(sup, $"l_suppkey" === $"s_suppkey" &&
          $"c_nationkey" === $"s_nationkey")
        .join(nat, $"s_nationkey" === $"n_nationkey")
        .join(asia, $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
        .orderBy($"n_name")
    }),

    // Top-3 parts by revenue within each brand (rank window after agg;
    // ordering key uses the ROUNDED revenue so rank is FP-stable).
    "q_topk_per_group" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val li = load(s, d, "lineitem")
      val part = load(s, d, "part")
      val rev = li.join(part, $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"l_partkey")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"))
      val w = Window.partitionBy($"p_brand")
        .orderBy($"revenue".desc, $"l_partkey")
      rev.withColumn("rnk", row_number().over(w).cast("long"))
        .filter($"rnk" <= 3)
        .select($"p_brand", $"l_partkey", $"revenue", $"rnk")
        .orderBy($"p_brand", $"rnk")
    }),

    // TPC-H Q17 flavor: correlated scalar subquery (orders far below
    // their part's average quantity) — Catalyst decorrelates this into
    // an aggregate + join; per-part averages never materialize per row.
    "q17_small_quantity" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val li = load(s, d, "lineitem")
      val partAvg = li.groupBy($"l_partkey".as("pk"))
        .agg((avg($"l_quantity") * 0.4).as("threshold"))
      li.join(partAvg, $"l_partkey" === $"pk")
        .filter($"l_quantity" < $"threshold")
        .agg(round(sum($"l_extendedprice"), 2).as("total_price"),
          count(lit(1)).as("n_items"))
    }),

    // Window-function breadth on events: lag deltas, running totals,
    // rank/ntile distribution per user.
    "q_window_funcs" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, d, "events")
        .filter($"user_id" < 10)
        .select($"user_id", $"event_id",
          round($"value" - lag($"value", 1, 0.0).over(w), 4).as("delta"),
          round(sum($"value").over(wr), 2).as("running_sum"),
          row_number().over(w).cast("long").as("seq"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("user_id", "seq")
    }),

    // Time-RANGE window frames (vs q_window_funcs' row frames): per
    // user, trailing-1-hour event sum and count — the frame is defined
    // by a VALUE range over event time, so frame membership is a set,
    // not a row offset. Money goes through integer cents inside the
    // frame sum: a float accumulation's order within ts-ties is
    // engine-arbitrary, an integer sum is order-free.
    "q_range_frame" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"tsec")
        .rangeBetween(-3600L, 0L)
      load(s, d, "events")
        .filter($"user_id" < 20)
        .select($"user_id", $"event_id",
          unix_timestamp($"ts").as("tsec"),
          round($"value" * 100).cast("long").as("cents"))
        .select($"user_id", $"event_id",
          round(sum($"cents").over(w).cast("double") / 100, 2).as("hour_sum"),
          count(lit(1)).over(w).as("n_in_hour"))
        .orderBy("user_id", "event_id")
    }),

    // Point-in-interval RANGE JOIN, bucketized: every purchase opens a
    // 1-hour attribution window; same-user clicks/views inside it
    // attach to the purchase. A naive range join is a non-equi
    // nested-loop (quadratic per user); bucketizing time at the window
    // width makes it an EQUI-join — anchors explode to their (at most
    // two) covered hour buckets, probes carry their own bucket, and the
    // exact interval predicate filters candidates. Completeness: p_ts ∈
    // [a_ts, a_ts+1h) ⇒ floor-epoch(p) ∈ [e_a, e_a+3600] ⇒ bucket ∈
    // {b_a, b_a+1}. The oracle joins on the RAW interval predicate with
    // no buckets at all, independently proving the bucketization loses
    // nothing. Money crosses the aggregation as integer cents.
    "q_range_join" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val ev = load(s, d, "events")
      val anchors = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("anchor_id"), $"user_id".as("a_uid"),
          $"ts".as("a_ts"),
          (unix_timestamp($"ts") / lit(3600)).cast("long").as("bk"))
        .select($"anchor_id", $"a_uid", $"a_ts",
          explode(array($"bk", $"bk" + 1)).as("a_bucket"))
      val probes = ev.filter($"event_type".isin("click", "view"))
        .select($"user_id".as("p_uid"), $"ts".as("p_ts"),
          round($"value" * 100).cast("long").as("cents"),
          (unix_timestamp($"ts") / lit(3600)).cast("long").as("p_bucket"))
      anchors.join(probes,
          $"a_uid" === $"p_uid" && $"a_bucket" === $"p_bucket" &&
          $"p_ts" >= $"a_ts" &&
          $"p_ts" < $"a_ts" + expr("INTERVAL 1 HOUR"), "left")
        .groupBy($"anchor_id")
        .agg(count($"p_ts").as("n_follow"),
          round(coalesce(sum($"cents"), lit(0L)).cast("double") / 100, 2)
            .as("follow_value"))
        .orderBy("anchor_id")
    }),

    // Semi/anti-join surface: customers active in 1996-97 who churned
    // before 2000 (semi ∧ anti on the same fact table).
    "q_semi_anti" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val cust = load(s, d, "customer")
      val ord = load(s, d, "orders")
      val active = ord
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
        .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      val later = ord.filter($"o_orderdate" >= lit("2000-01-01").cast("timestamp"))
      cust
        .join(active, $"c_custkey" === active("o_custkey"), "left_semi")
        .join(later, $"c_custkey" === later("o_custkey"), "left_anti")
        .select($"c_custkey", $"c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Set operators at (user, hour) granularity: hours where a user
    // purchased AND clicked but reported no error.
    "q_set_ops" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val ev = load(s, d, "events")
      def slots(t: String) =
        ev.filter($"event_type" === t)
          .select($"user_id",
            date_format(date_trunc("hour", $"ts"), TsFmt).as("hour_slot"))
          .distinct()
      slots("purchase")
        .intersect(slots("click"))
        .except(slots("error"))
        .orderBy("user_id", "hour_slot")
    }),

    // Hierarchical rollup totals (grouping-sets family).
    "q_rollup_revenue" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .select(
          coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
          coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
          $"revenue", $"n_items")
        .orderBy("returnflag", "linestatus")
    }),

    // SCD Type-2 dimension history (the Kimball warehouse staple): each
    // customer's order stream becomes versioned attribute rows with
    // [valid_from, valid_to) intervals — valid_to = the NEXT version's
    // start (lead), open versions carry the 9999-12-31 sentinel and an
    // is_current flag. ONE shuffle on the dimension key: version
    // number, lead, and the flag all ride the same (custkey sorted by
    // date, orderkey) window sort. Money as integer cents; the
    // (orderdate, orderkey) tie-break makes versions total-ordered.
    "q_scd2" -> ((s: SparkSession, d: String) =>
      scd2Raw(s, d)
        .transform(DedupQueries.orderedLarge(_, "o_custkey", "version"))),

    // CUBE over (returnflag, linestatus) — the full grouping-sets grid
    // beside q_rollup_revenue's hierarchy: all four aggregation levels
    // in ONE pass (Spark plans an Expand, each input row fanned to its
    // grouping sets, then one map-side-combined aggregate — never four
    // scans). gid pins which dims are aggregated away; money as integer
    // cents (float sums under Expand reorder across partitions).
    "q_grouping_sets" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(
          (grouping($"l_returnflag") * 2 + grouping($"l_linestatus"))
            .cast("long").as("gid"),
          sum(round($"l_extendedprice" * 100).cast("long")).as("price_cents"),
          count(lit(1)).as("n_items"))
        .select($"gid",
          coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
          coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
          round($"price_cents" / 100.0, 2).as("sum_price"),
          $"n_items")
        .orderBy("gid", "returnflag", "linestatus")
    }),

    // Incremental aggregate maintenance (materialized-view refresh): at
    // 100 TB you never recompute an aggregate from scratch — you keep
    // per-key STATE (commutative-monoid partials: integer-cent sums and
    // counts), aggregate only the delta, and fold the two state frames
    // together with ONE elementwise-sum merge (the same mergeability
    // law the sketch aggregates live by). The query runs exactly that:
    // lineitem split at a ship-date cutoff into base ∪ delta, each
    // aggregated independently — in a deployment the base state is a
    // persisted table and only the delta scan runs — then merged. The
    // oracle is the FULL single-pass aggregate: the hash match IS the
    // proof that incremental maintenance loses nothing.
    "q_incremental_agg" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val cutoff = lit("1997-06-01").cast("timestamp")
      val li = load(s, d, "lineitem")
      def state(df: DataFrame): DataFrame =
        df.groupBy($"l_returnflag", $"l_linestatus")
          .agg(sum(round($"l_quantity" * 100).cast("long")).as("qty_cents"),
            sum(round($"l_extendedprice" * 100).cast("long")).as("price_cents"),
            count(lit(1)).as("n_rows"))
      state(li.filter($"l_shipdate" < cutoff))
        .unionByName(state(li.filter($"l_shipdate" >= cutoff)))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"qty_cents").as("qty_cents"),
          sum($"price_cents").as("price_cents"),
          sum($"n_rows").as("n_rows"))
        .select($"l_returnflag", $"l_linestatus",
          round($"qty_cents" / 100.0, 2).as("sum_qty"),
          round($"price_cents" / 100.0, 2).as("sum_price"),
          $"n_rows",
          round(($"price_cents" / 100.0) / $"n_rows", 4).as("avg_price"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    // Snapshot diff — the CDC companion of q_table_checksum: given two
    // versions of a keyed table, classify every key as added / removed
    // / changed / unchanged. v2 is synthesized from orders the way
    // v_hybrid_search synthesizes deltas (every 11th key deleted,
    // every 7th surviving key's price bumped — in integer cents — and
    // fresh keys appended), then the diff is ONE full-outer join on
    // the key comparing row fingerprints — no column-by-column
    // comparison ships across the shuffle, just the 8-byte FNV of each
    // side's canonical rendering. Output: per-status change counts.
    "q_snapshot_diff" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      // every leg derives from ONE base projection carrying both
      // fingerprints (in production v1/v2 are two separate snapshots,
      // one scan each — the triple derivation here is fixture
      // synthesis, so at least the expressions exist once)
      val base = load(s, d, "orders").select(
        $"o_orderkey", $"o_orderstatus",
        orderRowFp(orderCents).as("fp1"),
        orderRowFp(orderCents + 100).as("fp_bumped"))
      val v1 = base.select($"o_orderkey", $"o_orderstatus", $"fp1")
      val v2base = base
        .filter($"o_orderkey" % 11 =!= 0)
        .select($"o_orderkey", $"o_orderstatus",
          when($"o_orderkey" % 7 === 0, $"fp_bumped").otherwise($"fp1")
            .as("fp2"))
      // fresh keys are NEGATIVE (-key-1): they can never collide with a
      // real orderkey at any scale factor, unlike a fixed offset
      val v2new = base
        .filter($"o_orderkey" % 13 === 0)
        .select((-$"o_orderkey" - 1).as("o_orderkey"),
          $"o_orderstatus", $"fp1".as("fp2"))
      val v2 = v2base.unionByName(v2new)
      v1.join(v2, Seq("o_orderkey", "o_orderstatus"), "full_outer")
        .select($"o_orderstatus",
          when($"fp1".isNull, "added")
            .when($"fp2".isNull, "removed")
            .when($"fp1" =!= $"fp2", "changed")
            .otherwise("unchanged").as("change"))
        .groupBy($"o_orderstatus", $"change")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus", "change")
    }),

    // Funnel analysis: how far does each user get through
    // view → click → purchase, where each stage must strictly FOLLOW
    // the previous one in event time? Computed as chained filtered
    // min-aggregates (first view; first click after that view; first
    // purchase after that click) — three map-side-combined aggs and
    // user-keyed joins. The naive form (sort each user's events and
    // scan) collects per-user event lists; this one never materializes
    // an ordered sequence, so a user with 10^9 events costs the same
    // shuffle bytes as one with 10. Pure integer micros — no floats.
    "q_funnel" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val ev = load(s, d, "events")
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      val users = ev.select($"user_id").distinct()
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"us").as("view_us"))
      val c = ev.filter($"event_type" === "click").join(v, "user_id")
        .filter($"us" > $"view_us")
        .groupBy($"user_id").agg(min($"us").as("click_us"))
      val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"us" > $"click_us")
        .groupBy($"user_id").agg(min($"us").as("purchase_us"))
      users.join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select($"user_id",
          (when($"view_us".isNotNull, 1).otherwise(0) +
            when($"click_us".isNotNull, 1).otherwise(0) +
            when($"purchase_us".isNotNull, 1).otherwise(0))
            .cast("long").as("stage"),
          $"view_us", $"click_us", $"purchase_us")
        .orderBy("user_id")
    }),

    // Order-free table checksum — the cross-system reconciliation
    // primitive (is the replica byte-identical to the source?): each
    // row renders to a canonical ASCII string (keys, integer cents,
    // enum text — NO raw float rendering, which differs between
    // engines), FNV-fingerprints scan-side, and XOR-folds per group.
    // XOR is commutative+associative ⇒ partition- and order-
    // independent, mergeable across shards/days like the sketches; a
    // changed, missing, or extra row flips the group checksum (a
    // DUPLICATED row pair cancels — which is why n_rows rides along).
    "q_table_checksum" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "orders")
        .select($"o_orderstatus",
          canonicalFp($"o_orderkey".cast("string"), $"o_custkey".cast("string"),
            orderCents.cast("string"), $"o_orderpriority").as("fp"))
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(fp)").as("checksum"))
        .orderBy("o_orderstatus")
    }),

    // UNPIVOT (melt): lineitem's four measure columns rotated into
    // (metric, value) rows via the Dataset.unpivot API, then profiled
    // per metric — the wide→long inverse of q_pivot. Scale shape:
    // unpivot is a scan-side Expand (rows × 4, no shuffle), and the
    // profile is one map-side-combined aggregate over a 4-row key
    // space. Stats per metric: n + round(avg) (the q1 float-agg
    // discipline) + exact min/max (order-free picks).
    "q_unpivot" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "lineitem")
        .select($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax")
        // no id columns: the profile needs only (metric, value), and an
        // id would ride the Expand as rows × 4 of dead weight
        .unpivot(Array.empty,
          Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
          "metric", "value")
        .groupBy($"metric")
        .agg(count(lit(1)).as("n"),
          round(avg($"value"), 4).as("avg_value"),
          min($"value").as("min_value"),
          max($"value").as("max_value"))
        .orderBy("metric")
    }),

    // Time-series resampling + forward fill: each user's event stream is
    // regularized onto an hourly spine (min..max hour, generated — not
    // joined against a calendar table) and every empty hour carries the
    // user's last observed value forward — the gap-filling step that
    // precedes any fixed-step temporal model. Scale shape: the spine is
    // sequence+explode off a per-user (min,max) aggregate (spine size =
    // Σ user spans, generated scan-side, never a calendar cross join);
    // the fill is ONE user-partitioned window over spine rows. The
    // fill picks a value (max_by over (ts, event_id) — a total order),
    // it never sums floats, so no float discipline is needed beyond
    // output rounding. Fan-out guard (throw-don't-degrade, the
    // ConnectedComponents discipline): one user with a years-long
    // span explodes alone — a single bad timestamp (epoch-0 sentinel,
    // a 2106 overflow) would silently fan one user into millions of
    // spine rows on one task, so spans beyond MaxSpineHours abort the
    // job with the offending user named instead of degrading.
    "q_resample_ffill" -> ((s: SparkSession, d: String) =>
      resampleFfill(load(s, d, "events"))),

    // Semi-structured extraction: events.props is a JSON payload column
    // (the universal shape of event pipelines). Parsed scan-side with
    // from_json + an EXPLICIT schema — the scale contract: schema
    // inference (spark.read.json / schema_of_json sampling) costs an
    // extra pass over the data before the real one, and a declared
    // schema keeps the parse inside codegen. PERMISSIVE mode maps a
    // malformed payload to NULL (counted via n_parsed, never an abort
    // at row 10^12). Integer sums — no float discipline needed.
    "q_json_extract" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val schema = new org.apache.spark.sql.types.StructType()
        .add("k", org.apache.spark.sql.types.LongType)
      load(s, d, "events")
        .select($"event_type",
          from_json($"props", schema).getField("k").as("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          count($"k").as("n_parsed"),
          sum($"k").as("sum_k"),
          min($"k").as("min_k"),
          max($"k").as("max_k"))
        .orderBy("event_type")
    }),

    // PIVOT: hour-of-day × event-type count matrix. The value list is
    // EXPLICIT (pivot(col, values)), which is the scale contract: an
    // unlisted pivot forces a blocking distinct-scan of the key column
    // before the plan can even be built, and an unbounded key set would
    // explode the schema. With listed values this is ONE map-side-
    // combined aggregate producing a fixed 24×5 grid.
    "q_pivot" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      load(s, d, "events")
        .select(hour($"ts").cast("long").as("hour_of_day"), $"event_type")
        .groupBy($"hour_of_day")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        // an hour×type cell with no events is semantically a zero count
        .select($"hour_of_day" +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("hour_of_day")
    }),

    // Histogram quantiles — the MERGEABLE approximate path next to
    // q_percentiles' exact rank-join (the quantile member of the sketch
    // trio: HLL distinct, CMS frequency, histogram quantiles). Two
    // scans, no sort: an exact per-type (min, max, n) pass, then values
    // bucketed into 256 fixed-width bins — integer counts, elementwise-
    // sum mergeable across partitions/days, ≤256 rows per type cross
    // the shuffle. The quantile is read off the cumulated histogram
    // with uniform in-bucket interpolation, so error is bounded by one
    // bin width (spec-asserted). Every float op (bucket index,
    // interpolation) is IEEE-exact arithmetic mirrored op-for-op in the
    // oracle — the sketch sits under the full hash gate.
    "q_hist_quantiles" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val B = 256
      val ps = Seq(0.5, 0.9, 0.99)
      val ev = load(s, d, "events").filter($"value".isNotNull)
        .select($"event_type", $"value")
      // rng feeds BOTH the bucketing join and the target-rank derivation;
      // without materialization each consumer would recompute the full
      // events aggregation (broadcast vs shuffle exchanges don't unify
      // under ReuseExchange) — checkpoint the one-row-per-type result so
      // the data is scanned exactly twice: once for rng, once to bucket
      val rng = ev.groupBy($"event_type").agg(
        min($"value").as("vmin"), max($"value").as("vmax"),
        count(lit(1)).as("n"))
        .localCheckpoint(true)
      val hist = ev.join(broadcast(rng), "event_type")
        .withColumn("bkt", when($"vmax" === $"vmin", lit(0L))
          .otherwise(least(
            floor(($"value" - $"vmin") / ($"vmax" - $"vmin") * B).cast("long"),
            lit(B - 1L))))
        .groupBy($"event_type", $"bkt").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy($"event_type").orderBy($"bkt")
      val cum = hist.withColumn("cum", sum($"c").over(wcum))
      val tgt = rng.select($"event_type", $"vmin", $"vmax", $"n",
          explode(typedLit(ps)).as("p"))
        .withColumn("target", greatest(lit(1L), ceil($"p" * $"n")))
      val est = tgt.join(cum, Seq("event_type"))
        .filter($"cum" >= $"target" && $"cum" - $"c" < $"target")
        .withColumn("est", $"vmin" +
          ($"bkt".cast("double") +
            ($"target" - ($"cum" - $"c")).cast("double") / $"c".cast("double")) *
          (($"vmax" - $"vmin") / lit(B.toDouble)))
      est.groupBy($"event_type")
        .agg(max($"n").as("n"),
          round(max(when($"p" === 0.5, $"est")), 4).as("h50"),
          round(max(when($"p" === 0.9, $"est")), 4).as("h90"),
          round(max(when($"p" === 0.99, $"est")), 4).as("h99"))
        .orderBy("event_type")
    }),

    // Distribution stats per event type: exact interpolated percentiles
    // + exact distinct users.
    // EXACT interpolated percentiles, computed scale-safely: the builtin
    // `percentile()` buffers every group value in its aggregation state —
    // a 100 TB group OOMs the executor. This form shuffles a DISTINCT-
    // value histogram (map-side combined on (type, value)), cumulates
    // counts over distinct values only, and joins the 6 needed ranks per
    // group against the rank ranges — identical results (same
    // position/interpolation math as the builtin), bounded memory.
    "q_percentiles" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val ps = Seq(0.5, 0.9, 0.99)
      val ev = load(s, d, "events")
      // percentile() skips null inputs: keep nulls out of the histogram
      // and use count(value) (non-null count) as n, while n_users still
      // counts every row of the group like the builtin aggregation does
      val hist = ev.filter($"value".isNotNull)
        .groupBy($"event_type", $"value").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy($"event_type").orderBy($"value")
      val cum = hist.withColumn("hi_rank", sum($"c").over(wcum))
        .withColumn("lo_rank", $"hi_rank" - $"c" + 1)
      val counts = ev.groupBy($"event_type")
        .agg(count($"value").as("n"), countDistinct($"user_id").as("n_users"))
      val needed = counts.filter($"n" > 0) // all-NULL groups: no ranks
        .select($"event_type", $"n", explode(typedLit(ps)).as("p"))
        .withColumn("pos", $"p" * ($"n" - 1)) // 0-based fractional rank
        .withColumn("lo", floor($"pos").cast("long"))
        .withColumn("hi", ceil($"pos").cast("long"))
      val ranks = needed.select($"event_type", $"p", $"pos", $"lo", $"hi",
        explode(array($"lo" + 1, $"hi" + 1)).as("rk")).distinct()
      val joined = ranks.join(cum, Seq("event_type"))
        .filter($"rk".between($"lo_rank", $"hi_rank"))
        .groupBy($"event_type", $"p", $"pos", $"lo", $"hi")
        .agg(min_by($"value", $"rk").as("vlo"), max_by($"value", $"rk").as("vhi"))
      // the builtin's interpolation exactly: (hi-pos)·vlo + (pos-lo)·vhi
      val pv = joined.withColumn("pv",
        when($"hi" === $"lo", $"vlo")
          .otherwise(($"hi" - $"pos") * $"vlo" + ($"pos" - $"lo") * $"vhi"))
      // drive the output from counts (LEFT join): a group whose values
      // are all NULL still appears — NULL percentiles, real n_users —
      // exactly as the builtin aggregation would emit it
      counts.join(
          pv.groupBy($"event_type")
            .agg(round(max(when($"p" === 0.5, $"pv")), 4).as("p50"),
              round(max(when($"p" === 0.9, $"pv")), 4).as("p90"),
              round(max(when($"p" === 0.99, $"pv")), 4).as("p99")),
          Seq("event_type"), "left")
        .select($"event_type", $"p50", $"p90", $"p99", $"n_users")
        .orderBy("event_type")
    }),

    // Tumbling 1-hour windows per event type.
    "q_event_window_agg" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "events")
        .groupBy(
          date_format(date_trunc("hour", $"ts"), TsFmt).as("hour_start"),
          $"event_type")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum($"value"), 2).as("sum_value"),
          round(avg($"value"), 4).as("avg_value"))
        .orderBy($"hour_start", $"event_type")
    }),

    // Sessionization: 30-min inactivity gap, exact integer micros math.
    "q_sessionize" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val gapUs = 1800L * 1000000L
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val cum = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, d, "events")
        .withColumn("us", unix_micros($"ts"))
        .withColumn("prev_us", lag($"us", 1).over(byUser))
        .withColumn("new_sess",
          when($"prev_us".isNull || $"us" - $"prev_us" > gapUs, 1L).otherwise(0L))
        .withColumn("session_id", sum($"new_sess").over(cum))
        .groupBy($"user_id", $"session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min($"us").as("start_us"),
          max($"us").as("end_us"))
        .select($"user_id", $"session_id", $"n_events",
          ($"end_us" - $"start_us").as("duration_us"))
        .orderBy($"user_id", $"session_id")
    }),

    // Sessionize via the BUILT-IN session_window operator (streaming-
    // capable form of q_sessionize; same 30-min-gap semantics, session
    // identified by its start timestamp instead of an ordinal).
    "q_session_builtin" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "events")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id",
          date_format($"session_window.start", TsFmt).as("session_start"),
          $"n_events")
        .orderBy("user_id", "session_start")
    }),

    // As-of join: each event picks the user's latest order at-or-before
    // its timestamp (ties on date broken by max orderkey). Implemented as
    // a tagged union + one window pass: a single shuffle on user_id, no
    // per-event probe join — the sort-merge as-of pattern.
    "q_asof_join" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val ev = load(s, d, "events").select(
        $"user_id", $"ts", $"event_id",
        lit(null).cast("long").as("okey"), lit(1).as("tag"))
      val od = load(s, d, "orders").select(
        $"o_custkey".as("user_id"), $"o_orderdate".as("ts"),
        lit(null).cast("long").as("event_id"),
        $"o_orderkey".as("okey"), lit(0).as("tag"))
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"tag", coalesce($"okey", lit(-1L)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(od)
        .withColumn("last_okey", last($"okey", ignoreNulls = true).over(w))
        .filter($"tag" === 1)
        .select($"event_id", $"user_id", $"last_okey")
        .orderBy($"event_id")
    }),

    // Skew-salted join under the oracle gate: every event joins its
    // event_type profile through Salting.saltedJoin — the 5-value key is
    // maximal skew (each key's entire row set would land on ONE reducer
    // in a plain shuffle join; salting spreads it over `factor`). AQE
    // skew splitting is the runtime fix; salting is the declarative
    // fallback when a single key floods past what splitting can carve
    // up (see Salting's scaladoc). The oracle pins row-for-row equality
    // with the unsalted join, and SaltingSpec pins the plan shape —
    // shuffle keys are (event_type, __salt), never event_type alone.
    "q_salted_join" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val events = load(s, d, "events")
      val dim = events.groupBy($"event_type")
        .agg(round(avg($"value"), 4).as("type_avg"))
      graft.operators.Salting
        .saltedJoin(events, dim, "event_type", factor = 8,
          stableLeftCol = "event_id")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          round(sum($"value" - $"type_avg"), 2).as("dev_sum"))
        .orderBy("event_type")
    }),

    // Bloom-pruned join (operators/BloomFilter): the qualifying dim
    // keys are summarized into a fixed-size broadcast Bloom filter and
    // the fact SCAN drops non-members before the join shuffle — at
    // 100 TB the dim's key set outgrows an exact broadcast hash set
    // long before its Bloom summary outgrows a broadcast, and the fact
    // rows that survive are matches + a bounded false-positive mass
    // the exact join then removes. Result therefore EQUALS the plain
    // join (the oracle is the un-bloomed SQL); BloomSpec pins the
    // no-false-negative/merge laws and the actual prune rate, and the
    // plan guard pins the filter to the fact side below the join.
    "q_bloom_join" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import graft.GraftSketch._
      val cust = load(s, d, "customer")
        .filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey")
      val bloom = cust.agg(bloomFilter($"c_custkey").as("bf"))
      load(s, d, "orders")
        .crossJoin(broadcast(bloom))
        .filter(bloomMightContain($"o_custkey", $"bf"))
        .drop("bf")
        .join(cust, $"o_custkey" === $"c_custkey") // exact: kills the FPs
        // money crosses the aggregation as integer cents (the
        // q_range_join discipline: float accumulation order is
        // engine-arbitrary, integer sums are order-free)
        .withColumn("cents", round($"o_totalprice" * 100).cast("long"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum($"cents").cast("double") / 100, 2).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // HyperLogLog distinct counting as a mergeable sketch aggregate
    // (operators/HllAggregate): 256 bytes of state per group cross the
    // shuffle instead of the distinct keys themselves — the cardinality
    // analog of the bounded top-k heap, and the right shape when an
    // exact countDistinct's key shuffle is the bottleneck. Exact counts
    // ride along to exhibit the estimator's error; user_id (150-ish
    // distinct) exercises the linear-counting correction, event_id
    // (tens of thousands) the raw harmonic estimator. The oracle
    // re-derives registers AND estimate in SQL (HUGEINT hashing,
    // DetMath log) — the sketch sits under the full hash gate.
    "q_hll_distinct" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import graft.GraftSketch._
      val ev = load(s, d, "events")
      // both sketches ride ONE narrow pass; the exact counts run as
      // separate distinct-then-count aggregations rather than
      // countDistinct expressions in the same agg — two distincts over
      // different columns would otherwise plan an Expand (rows × 3)
      // feeding one wide multi-phase aggregate (measured ~2× slower)
      val sketches = ev.groupBy($"event_type")
        .agg(hllRegisters($"user_id").as("ru"),
          hllRegisters($"event_id").as("re"))
      def exact(c: String, as: String) =
        // NULLs dropped to match count(DISTINCT c) semantics — a bare
        // distinct() would count NULL as a value and drift from the
        // oracle (and from the sketch, which also skips NULLs)
        ev.select($"event_type", col(c)).filter(col(c).isNotNull)
          .distinct()
          .groupBy($"event_type").agg(count(lit(1)).as(as))
      sketches
        .join(exact("user_id", "n_users_exact"), "event_type")
        .join(exact("event_id", "n_events_exact"), "event_type")
        .select($"event_type",
          $"n_users_exact", hllEstimate($"ru").as("n_users_hll"),
          $"n_events_exact", hllEstimate($"re").as("n_events_hll"))
        .orderBy("event_type")
    }),

    // Cohort retention: users grouped by the epoch-week of their FIRST
    // event; for each (cohort, weeks-since) cell, how many of them were
    // active? Pure integer week indexes (epoch-micros div week-micros)
    // — no calendar truncation, whose week-start convention differs
    // between engines. Shape: one user-keyed agg for first-touch, one
    // user-keyed join back (same key — AQE reuses the exchange), one
    // distinct-count agg on the bounded (cohort, offset) grid. Nothing
    // holds per-user event lists; a user with 10^9 events costs the
    // same state as one with 10.
    "q_retention_cohort" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val weekUs = 7L * 86400L * 1000000L
      val ev = load(s, d, "events")
        .select($"user_id", expr(s"unix_micros(ts) div ${weekUs}L").as("week"))
      val first = ev.groupBy($"user_id").agg(min($"week").as("cohort_week"))
      val sizes = first.groupBy($"cohort_week")
        .agg(count(lit(1)).as("cohort_size"))
      ev.join(first, "user_id")
        .select($"cohort_week", ($"week" - $"cohort_week").as("week_offset"),
          $"user_id")
        .groupBy($"cohort_week", $"week_offset")
        .agg(countDistinct($"user_id").as("active_users"))
        .join(sizes, "cohort_week")
        .select($"cohort_week", $"week_offset", $"active_users", $"cohort_size")
        .orderBy($"cohort_week", $"week_offset")
    }),

    // First-order Markov transition matrix over per-user event
    // sequences (ts order, event_id tiebreak so duplicate timestamps
    // can't make the sequence engine-dependent): the
    // what-follows-what table behind session modeling and funnel
    // design. One user-keyed window pass (single exchange + in-
    // partition sort), then a map-side-combined count over the tiny
    // (from, to) grid; p_next is exact-integer division so the double
    // is bit-identical in any engine.
    "q_event_transitions" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wf = Window.partitionBy($"from_event")
      load(s, d, "events")
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("to_event", lead($"event_type", 1).over(w))
        .filter($"to_event".isNotNull)
        .select($"event_type".as("from_event"), $"to_event")
        .groupBy($"from_event", $"to_event")
        .agg(count(lit(1)).as("n_transitions"))
        .withColumn("p_next",
          $"n_transitions" / sum($"n_transitions").over(wf))
        .select($"from_event", $"to_event", $"n_transitions",
          round($"p_next", 6).as("p_next"))
        .orderBy($"from_event", $"to_event")
    }),

    // Per-group z-score outliers with EXACT arithmetic: |x − μ| > 3s is
    // decided entirely in 128-bit integers by clearing denominators —
    // (n·x − Σx)²·(n−1) > 9·(n·Σx² − (Σx)²)·n — over integer cents, so
    // the flag can never flip on float summation order (a parallel
    // sum(double) is partition-order dependent; a threshold comparison
    // against it is not reproducible, let alone oracle-matchable).
    // Decimal(38) holds the products to n ≈ 10^8 rows per group at
    // cents ≤ 10^5. Shape: one map-side-combined stats agg (5 rows) +
    // a broadcast join back onto the scan — no second shuffle.
    "q_zscore_outliers" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val dec = "decimal(38,0)"
      val ev = load(s, d, "events")
        .select($"event_id", $"event_type",
          round($"value" * 100).cast("long").as("value_cents"))
      val stats = ev.groupBy($"event_type").agg(
        count(lit(1)).cast(dec).as("n"),
        sum($"value_cents".cast(dec)).as("sx"),
        sum(($"value_cents" * $"value_cents").cast(dec)).as("sxx"))
      val xd = $"value_cents".cast(dec)
      val dev = $"n" * xd - $"sx"
      ev.join(broadcast(stats), "event_type")
        .filter(dev * dev * ($"n" - lit(1)) >
          lit(9) * ($"n" * $"sxx" - $"sx" * $"sx") * $"n")
        .select($"event_id", $"event_type", $"value_cents")
        .orderBy($"event_id")
    }),

    // Key-skew profiler — the diagnosis you run BEFORE choosing a join
    // strategy (salting? AQE skew split? broadcast?): the frequency
    // SPECTRUM of each candidate join key as log2 buckets (how many
    // keys occur 2^b..2^(b+1)−1 times, carrying how much row mass),
    // plus the hottest key's share. floor(log2 c) is computed as
    // length(bin(c))−1 — exact integer arithmetic, no float log at
    // bucket boundaries. Two aggregations per key column, both over the
    // per-key count frame (|keys| rows, not |rows|); the bounded
    // summary joins broadcast. Never a global sort: a rank-based
    // profile (Gini over sorted counts) needs a total order over the
    // key frame — this spectrum is order-free and mergeable.
    "q_skew_metrics" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val li = load(s, d, "lineitem")
      def spectrum(keyCol: String): DataFrame = {
        val cnts = li.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
        val hist = cnts
          .groupBy((length(bin($"c")) - 1).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_keys"), sum($"c").as("n_rows"))
        val summary = cnts.agg(max($"c").as("max_cnt"),
          sum($"c").as("total_rows"))
        hist.crossJoin(broadcast(summary))
          .select(lit(keyCol).as("key_col"), $"bucket", $"n_keys", $"n_rows",
            $"total_rows", $"max_cnt",
            round($"max_cnt" / $"total_rows", 6).as("top1_share"))
      }
      spectrum("l_suppkey").unionAll(spectrum("l_partkey"))
        .orderBy($"key_col", $"bucket")
    }),

    // ANALYZE-style table profile (the stats pass planners and data
    // contracts run on every ingest): per column — rows, nulls, min,
    // max, distinct count. Null/min/max for ALL columns ride ONE
    // map-side-combined pass over the scan (typed min/max computed
    // before rendering to canonical strings — string ordering would
    // rank "10" < "9"); money profiles as integer cents, timestamps as
    // formatted UTC. Exact distincts run as per-column distinct
    // aggregations (bounded column count); when exact distinct is the
    // bottleneck at scale, q_hll_distinct's mergeable sketch is the
    // drop-in — same pass, constant state.
    "q_data_profile" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val o = load(s, d, "orders").select(
        $"o_orderkey", $"o_custkey", orderCents.as("o_totalprice_cents"),
        date_format($"o_orderdate", TsFmt).as("o_orderdate"),
        $"o_orderpriority", $"o_orderstatus")
      val cols = o.columns.toSeq
      val aggs = Seq(count(lit(1)).as("n_rows")) ++ cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c"))
      }
      val melted = o.agg(aggs.head, aggs.tail: _*)
        .select($"n_rows", explode(array(cols.map { c =>
          struct(lit(c).as("col_name"), col(s"nn_$c").as("n_null"),
            col(s"min_$c").as("min_val"), col(s"max_$c").as("max_val"))
        }: _*)).as("s"))
        .select($"s.col_name", $"n_rows", $"s.n_null", $"s.min_val",
          $"s.max_val")
      val distincts = cols.map { c =>
        o.select(col(c)).filter(col(c).isNotNull).distinct()
          .agg(count(lit(1)).as("n_distinct"))
          .select(lit(c).as("col_name"), $"n_distinct")
      }.reduce(_ unionAll _)
      melted.join(broadcast(distincts), "col_name")
        .select($"col_name", $"n_rows", $"n_null", $"n_distinct",
          $"min_val", $"max_val")
        .orderBy("col_name")
    })
  )

  def oracles: Map[String, String] = Map(
    // Registers re-derived in HUGEINT arithmetic (FNV-1a of the value's
    // 8 LE bytes; idx = top 8 bits, rho from the bit-length of the
    // low-56 window), then the estimator re-runs with the SAME literals
    // and fold order as GraftSketch.hllEstimate.
    "q_hll_distinct" -> {
      import graft.functions.HashSql
      def regsCte(col: String, tag: String): String =
        s"""h_$tag AS (
           |  SELECT event_type, ${HashSql.fmixSql(HashSql.fnvLongSql("v"))} AS h
           |  FROM (SELECT DISTINCT event_type, $col AS v FROM events)),
           |r_$tag AS (
           |  SELECT event_type, (h // 72057594037927936::HUGEINT)::INT AS idx,
           |    CASE WHEN (h % 72057594037927936::HUGEINT) = 0 THEN 57
           |         ELSE 57 - length(bin((h % 72057594037927936::HUGEINT)::BIGINT)) END AS rho
           |  FROM h_$tag),
           |m_$tag AS (SELECT event_type, idx, max(rho) AS rho
           |           FROM r_$tag GROUP BY event_type, idx),
           |l_$tag AS (
           |  SELECT g.event_type, list(coalesce(m_$tag.rho, 0) ORDER BY r.ri) AS regs
           |  FROM (SELECT DISTINCT event_type FROM events) g
           |  CROSS JOIN range(0, 256) r(ri)
           |  LEFT JOIN m_$tag ON m_$tag.event_type = g.event_type AND m_$tag.idx = r.ri
           |  GROUP BY g.event_type)""".stripMargin
      s"""WITH ${regsCte("user_id", "u")},
         |${regsCte("event_id", "e")},
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
         |       count(DISTINCT event_id) AS n_events_exact
         |       FROM events GROUP BY event_type)
         |SELECT ex.event_type, n_users_exact,
         |  ${graft.GraftSketch.hllEstimateSql("l_u.regs")} AS n_users_hll,
         |  n_events_exact,
         |  ${graft.GraftSketch.hllEstimateSql("l_e.regs")} AS n_events_hll
         |FROM ex JOIN l_u ON l_u.event_type = ex.event_type
         |JOIN l_e ON l_e.event_type = ex.event_type
         |ORDER BY ex.event_type""".stripMargin
    },

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q14_promo_effect" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |    / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-02-01'""".stripMargin,

    // same 7-day cover expansion, same distinct frames, one division
    "q_dau_wau" ->
      """WITH act AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
        |ddays AS (SELECT DISTINCT day FROM act),
        |dau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS dau
        |        FROM act GROUP BY day),
        |cover AS (SELECT unnest([day + i::INTEGER for i in range(0, 7)]) AS day, user_id
        |          FROM act),
        |wau AS (SELECT c.day, count(DISTINCT c.user_id)::BIGINT AS wau
        |        FROM cover c JOIN ddays USING (day) GROUP BY c.day)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
        |  round(d.dau::DOUBLE / w.wau, 4) AS stickiness
        |FROM dau d JOIN wau w USING (day) ORDER BY day""".stripMargin,

    "q_fk_audit" -> {
      def rel(name: String, fact: String, fk: String,
          dim: String, pk: String) =
        s"""SELECT '$name' AS relation, count(*) AS n_rows,
           |  sum(CASE WHEN d.pk IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphans
           |FROM $fact f LEFT JOIN (SELECT DISTINCT $pk AS pk FROM $dim) d
           |  ON f.$fk = d.pk""".stripMargin
      Seq(
        rel("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        rel("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        rel("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        rel("nation.n_regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey"),
        rel("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        rel("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
    },

    "q10_returned_item" ->
      """SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        |  round(c.c_acctbal, 2) AS acctbal, n.n_name AS n_name
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-04-01'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 300)
        |SELECT c.c_name AS c_name, c.c_custkey AS c_custkey,
        |  o.o_orderkey AS o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
        |  round(o.o_totalprice, 2) AS totalprice, b.sum_qty AS sum_qty
        |FROM big b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l.l_orderkey AS l_orderkey,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
        |  o.o_orderpriority AS o_orderpriority
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n.n_name AS n_name,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n.n_name ORDER BY n_name""".stripMargin,

    "q_topk_per_group" ->
      """SELECT p_brand, l_partkey, revenue, rnk FROM (
        |  SELECT p_brand, l_partkey, revenue,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY revenue DESC, l_partkey) AS rnk
        |  FROM (
        |    SELECT p.p_brand AS p_brand, l.l_partkey AS l_partkey,
        |      round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |    GROUP BY p.p_brand, l.l_partkey)
        |) WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin,

    "q17_small_quantity" ->
      """SELECT round(sum(l.l_extendedprice), 2) AS total_price,
        |  count(*) AS n_items
        |FROM lineitem l JOIN (
        |  SELECT l_partkey AS pk, avg(l_quantity) * 0.4 AS threshold
        |  FROM lineitem GROUP BY l_partkey
        |) p ON l.l_partkey = p.pk
        |WHERE l.l_quantity < p.threshold""".stripMargin,

    // the bucket-free independent form: a plain non-equi interval join.
    // If the engine's bucketization dropped or duplicated any candidate,
    // counts and sums here would disagree.
    "q_range_join" ->
      """WITH a AS (
        |  SELECT event_id AS anchor_id, user_id, ts AS a_ts
        |  FROM events WHERE event_type = 'purchase'),
        |p AS (
        |  SELECT user_id, ts AS p_ts, round(value * 100)::BIGINT AS cents
        |  FROM events WHERE event_type IN ('click', 'view'))
        |SELECT anchor_id, count(p_ts) AS n_follow,
        |  round(coalesce(sum(cents), 0)::DOUBLE / 100, 2) AS follow_value
        |FROM a LEFT JOIN p ON a.user_id = p.user_id
        |  AND p.p_ts >= a.a_ts AND p.p_ts < a.a_ts + INTERVAL 1 HOUR
        |GROUP BY anchor_id ORDER BY anchor_id""".stripMargin,

    "q_range_frame" ->
      """SELECT user_id, event_id,
        |  round((sum(cents) OVER w)::DOUBLE / 100, 2) AS hour_sum,
        |  count(*) OVER w AS n_in_hour
        |FROM (SELECT user_id, event_id,
        |        -- floor, not ::BIGINT (nearest): Spark's unix_timestamp
        |        -- FLOORS sub-second fractions, and a rounding mismatch
        |        -- shifts a row across the 3600 s frame boundary
        |        floor(epoch(ts))::BIGINT AS tsec,
        |        round(value * 100)::BIGINT AS cents
        |      FROM events WHERE user_id < 20)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_window_funcs" ->
      """SELECT user_id, event_id,
        |  round(value - lag(value, 1, 0.0) OVER w, 4) AS delta,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum,
        |  row_number() OVER w AS seq,
        |  ntile(4) OVER w AS quartile
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, seq""".stripMargin,

    "q_semi_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q_set_ops" ->
      """SELECT user_id, hour_slot FROM (
        |  SELECT DISTINCT user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_slot
        |  FROM events WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT DISTINCT user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |  FROM events WHERE event_type = 'click'
        |  EXCEPT
        |  SELECT DISTINCT user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |  FROM events WHERE event_type = 'error'
        |) ORDER BY user_id, hour_slot""".stripMargin,

    "q_rollup_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q_scd2" ->
      """SELECT o_custkey,
        |  row_number() OVER w AS version,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  coalesce(strftime(lead(o_orderdate, 1) OVER w, '%Y-%m-%d %H:%M:%S'),
        |           '9999-12-31 00:00:00') AS valid_to,
        |  lead(o_orderdate, 1) OVER w IS NULL AS is_current,
        |  o_orderpriority,
        |  round(o_totalprice * 100)::BIGINT AS price_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, version""".stripMargin,

    "q_grouping_sets" ->
      """SELECT (2 * grouping(l_returnflag) + grouping(l_linestatus))::BIGINT AS gid,
        |  coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  round(sum(round(l_extendedprice * 100)::BIGINT) / 100.0, 2) AS sum_price,
        |  count(*) AS n_items
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, returnflag, linestatus""".stripMargin,

    // the full single-pass aggregate — no split, no merge: equality
    // with the incremental plan is the maintenance-correctness proof
    "q_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(round(l_quantity * 100)::BIGINT) / 100.0, 2) AS sum_qty,
        |  round(sum(round(l_extendedprice * 100)::BIGINT) / 100.0, 2) AS sum_price,
        |  count(*) AS n_rows,
        |  round((sum(round(l_extendedprice * 100)::BIGINT) / 100.0) / count(*), 4) AS avg_price
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the diff re-derived by comparing the underlying VALUES directly
    // (no fingerprints at all — a fully disjoint derivation; a hash
    // collision on the Spark side would surface as a count mismatch)
    "q_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    round(o_totalprice * 100)::BIGINT AS cents
        |  FROM orders),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN cents + 100 ELSE cents END AS cents
        |  FROM v1 WHERE o_orderkey % 11 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey - 1, o_orderstatus, cents
        |  FROM v1 WHERE o_orderkey % 13 = 0)
        |SELECT o_orderstatus, change, count(*) AS n FROM (
        |  SELECT coalesce(a.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |         WHEN b.o_orderkey IS NULL THEN 'removed'
        |         WHEN a.cents <> b.cents THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM v1 a FULL OUTER JOIN v2 b
        |    ON a.o_orderkey = b.o_orderkey AND a.o_orderstatus = b.o_orderstatus)
        |GROUP BY 1, 2 ORDER BY o_orderstatus, change""".stripMargin,

    "q_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |v AS (SELECT user_id, min(us) AS view_us FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.us) AS click_us
        |      FROM ev e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.us > v.view_us
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.us) AS purchase_us
        |      FROM ev e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.us > c.click_us
        |      GROUP BY e.user_id)
        |SELECT u.user_id,
        |  ((view_us IS NOT NULL)::INT + (click_us IS NOT NULL)::INT
        |    + (purchase_us IS NOT NULL)::INT)::BIGINT AS stage,
        |  view_us, click_us, purchase_us
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // the FNV byte fold re-derived in HUGEINT (t_fingerprint's remap),
    // XOR-folded with DuckDB's own bit_xor
    "q_table_checksum" -> {
      import graft.functions.HashSql
      val rowExpr = "concat_ws('|', o_orderkey::VARCHAR, o_custkey::VARCHAR, " +
        "(round(o_totalprice * 100)::BIGINT)::VARCHAR, o_orderpriority)"
      s"""SELECT o_orderstatus, count(*) AS n_rows, bit_xor(fp) AS checksum
         |FROM (
         |  SELECT o_orderstatus,
         |    (CASE WHEN fp_u >= 9223372036854775808::HUGEINT
         |          THEN fp_u - 18446744073709551616::HUGEINT ELSE fp_u END)::BIGINT AS fp
         |  FROM (SELECT o_orderstatus, ${HashSql.fnvSql(rowExpr)} AS fp_u
         |        FROM orders))
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    },

    // UNION ALL per measure — the melt re-derived without any UNPIVOT
    // machinery
    "q_unpivot" -> {
      val metrics = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      metrics.map { m =>
        s"""SELECT '$m' AS metric, count(*) AS n,
           |  round(avg($m), 4) AS avg_value,
           |  min($m) AS min_value, max($m) AS max_value
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY metric")
    },

    // hour bucketing re-derived via epoch_us floor division; the
    // in-hour winner via a rank window (a derivation disjoint from the
    // plan's max_by-over-struct); the same IGNORE NULLS running fill
    "q_resample_ffill" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, value,
        |    epoch_us(ts) // 1000000 // 3600 AS hr,
        |    epoch_us(ts) AS us
        |  FROM events),
        |b AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM ev GROUP BY user_id),
        |spine AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hr FROM b),
        |hourly AS (SELECT user_id, hr, count(*) AS n FROM ev GROUP BY user_id, hr),
        |lastv AS (
        |  SELECT user_id, hr, value AS lastv FROM (
        |    SELECT user_id, hr, value,
        |      row_number() OVER (PARTITION BY user_id, hr
        |        ORDER BY us DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1)
        |SELECT s.user_id, s.hr AS hour_epoch,
        |  coalesce(h.n, 0)::BIGINT AS n_events,
        |  round(last_value(l.lastv IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled_value
        |FROM spine s
        |LEFT JOIN hourly h ON h.user_id = s.user_id AND h.hr = s.hr
        |LEFT JOIN lastv l ON l.user_id = s.user_id AND l.hr = s.hr
        |ORDER BY s.user_id, hour_epoch""".stripMargin,

    // mirrors from_json's PERMISSIVE LongType semantics EXACTLY: only a
    // JSON integer token parses — a string-encoded "7" or a double 7.5
    // is NULL on both engines (json_type gates what TRY_CAST alone
    // would happily coerce)
    "q_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(k) AS n_parsed,
        |  sum(k)::BIGINT AS sum_k,
        |  min(k) AS min_k,
        |  max(k) AS max_k
        |FROM (SELECT event_type,
        |        CASE WHEN json_valid(props)
        |              AND json_type(props::JSON, '$.k') IN ('BIGINT', 'UBIGINT')
        |             THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |        END AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // conditional aggregation — a fully disjoint derivation of the
    // same grid (no PIVOT machinery on the oracle side)
    "q_pivot" ->
      """SELECT hour(ts)::BIGINT AS hour_of_day,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
        |  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
        |FROM events GROUP BY 1 ORDER BY hour_of_day""".stripMargin,

    // the full sketch re-derived: same bucket arithmetic, same
    // cumulation, same interpolation expression, literal for literal
    "q_hist_quantiles" ->
      """WITH ev AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
        |rng AS (
        |  SELECT event_type, min(value) AS vmin, max(value) AS vmax,
        |    count(*) AS n
        |  FROM ev GROUP BY event_type),
        |h AS (
        |  SELECT event_type, bkt, count(*) AS c FROM (
        |    SELECT e.event_type,
        |      CASE WHEN vmax = vmin THEN 0
        |           ELSE least(floor((value - vmin) / (vmax - vmin) * 256)::BIGINT, 255)
        |      END AS bkt
        |    FROM ev e JOIN rng USING (event_type))
        |  GROUP BY event_type, bkt),
        |cum AS (
        |  SELECT event_type, bkt, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bkt)::BIGINT AS cum
        |  FROM h),
        |tgt AS (
        |  SELECT event_type, vmin, vmax, n, p,
        |    greatest(1, ceil(p * n)::BIGINT) AS target
        |  FROM rng, (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p)),
        |est AS (
        |  SELECT t.event_type, t.p, t.n,
        |    t.vmin + (c.bkt::DOUBLE +
        |        (t.target - (c.cum - c.c))::DOUBLE / c.c::DOUBLE) *
        |      ((t.vmax - t.vmin) / 256.0) AS est
        |  FROM tgt t JOIN cum c ON t.event_type = c.event_type
        |    AND c.cum >= t.target AND c.cum - c.c < t.target)
        |SELECT event_type, max(n) AS n,
        |  round(max(CASE WHEN p = 0.5 THEN est END), 4) AS h50,
        |  round(max(CASE WHEN p = 0.9 THEN est END), 4) AS h90,
        |  round(max(CASE WHEN p = 0.99 THEN est END), 4) AS h99
        |FROM est GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_event_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,

    "q_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events
        |), m AS (
        |  SELECT user_id, event_id, us,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
        |  FROM t
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  (max(us) - min(us)) AS duration_us
        |FROM m GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_session_builtin" ->
      """WITH t AS (
        |  SELECT user_id, ts,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
        |    epoch_us(ts) AS us
        |  FROM events
        |), m AS (
        |  -- session_window semantics: windows are [ts, ts+gap), so a gap
        |  -- of EXACTLY 30 min starts a new session (>=, not >)
        |  SELECT user_id, ts,
        |    sum(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM t
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events
        |FROM m GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin,

    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id, NULL::BIGINT AS okey, 1 AS tag FROM events
        |  UNION ALL
        |  SELECT o_custkey, o_orderdate, NULL::BIGINT, o_orderkey, 0 FROM orders
        |)
        |SELECT event_id, user_id,
        |  last_value(okey IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts, tag, coalesce(okey, -1)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_okey
        |FROM u QUALIFY tag = 1 ORDER BY event_id""".stripMargin,

    // the UN-BLOOMED join: pruning must be invisible in the result
    // (no false negatives; false positives die in the exact join)
    "q_bloom_join" ->
      """SELECT o.o_orderpriority AS o_orderpriority,
        |  count(*) AS n_orders,
        |  round(sum(round(o.o_totalprice * 100)::BIGINT)::DOUBLE / 100, 2) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // the UNSALTED join: salting must be invisible in the result
    "q_salted_join" ->
      """WITH dim AS (
        |  SELECT event_type, round(avg(value), 4) AS type_avg
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type AS event_type, count(*) AS n,
        |  round(sum(e.value - d.type_avg), 2) AS dev_sum
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY e.event_type ORDER BY event_type""".stripMargin,

    // integer week indexes on both sides: epoch-micros floor-divided by
    // the week in micros (positive epochs ⇒ floor == truncation)
    "q_retention_cohort" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
        |sz AS (SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY 1),
        |act AS (
        |  SELECT cohort_week, week - cohort_week AS week_offset,
        |    count(DISTINCT ev.user_id) AS active_users
        |  FROM ev JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, active_users, cohort_size
        |FROM act JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q_event_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_event,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_event
        |  FROM events),
        |c AS (
        |  SELECT from_event, to_event, count(*) AS n_transitions
        |  FROM seq WHERE to_event IS NOT NULL GROUP BY 1, 2)
        |SELECT from_event, to_event, n_transitions,
        |  round(n_transitions::DOUBLE /
        |    sum(n_transitions) OVER (PARTITION BY from_event), 6) AS p_next
        |FROM c ORDER BY from_event, to_event""".stripMargin,

    // the cleared-denominator inequality in HUGEINT — DuckDB's sum over
    // BIGINT is already exact 128-bit, mirroring Spark's Decimal(38)
    "q_zscore_outliers" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, round(value * 100)::BIGINT AS value_cents
        |  FROM events),
        |st AS (
        |  SELECT event_type, count(*)::HUGEINT AS n,
        |    sum(value_cents::HUGEINT) AS sx,
        |    sum(value_cents::HUGEINT * value_cents::HUGEINT) AS sxx
        |  FROM ev GROUP BY event_type)
        |SELECT event_id, event_type, value_cents
        |FROM ev JOIN st USING (event_type)
        |WHERE (n * value_cents - sx) * (n * value_cents - sx) * (n - 1)
        |      > 9 * (n * sxx - sx * sx) * n
        |ORDER BY event_id""".stripMargin,

    // identical exact-integer bucketing: length(bin(c)) - 1 == floor(log2 c)
    "q_skew_metrics" -> {
      def one(k: String) =
        s"""sp_$k AS (
           |  SELECT '$k' AS key_col, (length(bin(c)) - 1)::BIGINT AS bucket,
           |    count(*) AS n_keys, sum(c)::BIGINT AS n_rows
           |  FROM c_$k GROUP BY 1, 2),
           |sm_$k AS (
           |  SELECT '$k' AS key_col, max(c)::BIGINT AS max_cnt,
           |    sum(c)::BIGINT AS total_rows
           |  FROM c_$k)""".stripMargin
      s"""WITH c_l_suppkey AS (SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
         |c_l_partkey AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
         |${one("l_suppkey")},
         |${one("l_partkey")}
         |SELECT key_col, bucket, n_keys, n_rows, total_rows, max_cnt,
         |  round(max_cnt::DOUBLE / total_rows, 6) AS top1_share
         |FROM (SELECT * FROM sp_l_suppkey UNION ALL SELECT * FROM sp_l_partkey) sp
         |JOIN (SELECT * FROM sm_l_suppkey UNION ALL SELECT * FROM sm_l_partkey) sm
         |  USING (key_col)
         |ORDER BY key_col, bucket""".stripMargin
    },

    // typed min/max rendered to the same canonical strings (cents,
    // formatted UTC timestamps) — never string-ordered stats
    "q_data_profile" -> {
      def prof(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  sum(($c IS NULL)::INT)::BIGINT AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val
           |FROM t""".stripMargin
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice_cents",
        "o_orderdate", "o_orderpriority", "o_orderstatus")
      s"""WITH t AS (
         |  SELECT o_orderkey, o_custkey,
         |    round(o_totalprice * 100)::BIGINT AS o_totalprice_cents,
         |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
         |    o_orderpriority, o_orderstatus
         |  FROM orders)
         |${cols.map(prof).mkString("", "\nUNION ALL\n", "")}
         |ORDER BY col_name""".stripMargin
    }
  )
}
