package graft

import graft.queries.{AnalyticsQueries, VectorQueries}

/** Physical-plan regression guards: the properties that make these
  * operators scale must stay visible in the plan, not just hold by luck.
  */
class PlanSpec extends SparkSpec {

  private def planOf(block: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame],
      name: String): String =
    freshPlan(block(name)(spark, sfDir))

  test("kNN: broadcast queries + map-side partial top-k, no window-over-crossjoin") {
    val p = planOf(VectorQueries.all, "v_knn_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin"), "queries must broadcast")
    assert(p.contains("partial_v_top_k"), "top-k must partial-aggregate map-side")
    assert(!p.contains("Window"), "kNN must not rank a materialized cross join")
  }

  test("kNN: query-set filter is pushed to the parquet scan") {
    val p = planOf(VectorQueries.all, "v_knn_bruteforce")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,8)]"),
      s"filter not pushed:\n${p.linesIterator.filter(_.contains("Pushed")).mkString("\n")}")
  }

  test("filtered kNN: metadata predicate reaches the parquet scan (pre-filter)") {
    val p = planOf(VectorQueries.all, "v_filtered_knn")
    assert(p.contains("In(label, [1,2,3])"),
      s"label filter not pushed:\n${p.linesIterator.filter(_.contains("Pushed")).mkString("\n")}")
    assert(p.contains("partial_v_top_k"))
  }

  test("q6: all three predicates reach the parquet scan; 4-column read") {
    // formatted mode — the plan toString truncates PushedFilters
    spark.catalog.clearCache()
    val p = AnalyticsQueries.all("q6_forecast_revenue")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)"))
      assert(p.contains(f), s"predicate $f not pushed:\n$pushed")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"))
      assert(read.contains(c), s"$c missing from scan schema: $read")
    assert(!read.contains("l_orderkey") && !read.contains("l_returnflag"),
      s"scan must prune to the 4 referenced columns: $read")
    assert(p.contains("HashAggregate"), "agg must map-side combine")
  }

  test("q14: part dim broadcasts; the month filter reaches the fact scan") {
    val p = planOf(AnalyticsQueries.all, "q14_promo_effect")
    assert(p.contains("BroadcastHashJoin"), s"part must broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate window not pushed to the lineitem scan")
  }

  test("t_ngram_novelty: both gram passes map-side combine; no join ever " +
      "carries the gram key; per-doc distinct grams stay scan-side") {
    val p = freshPlan {
      graft.queries.TextQueries.ngramNoveltyRaw(
        spark.read.parquet(s"$sfDir/documents.parquet"))
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"novelty must never enumerate doc pairs:\n$p")
    assert(p.contains("array_distinct"),
      "per-doc gram dedup must fold into the scan projection, not a shuffle")
    assert(p.contains("partial_min"),
      "gram ownership must partial-aggregate map-side (hot grams collapse " +
        s"in the combine):\n$p")
    // the only joins are the doc-keyed assembly of two doc-sized frames —
    // checked on the plan TREE (string matching misses keys that wrap or
    // truncate off the Join node's line)
    spark.catalog.clearCache()
    val joins = graft.queries.TextQueries.ngramNoveltyRaw(
        spark.read.parquet(s"$sfDir/documents.parquet"))
      .queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
          (j.leftKeys ++ j.rightKeys).mkString(",")
      }
    assert(joins.nonEmpty && joins.forall(!_.contains("gram")),
      s"no join may carry the gram key: $joins")
  }

  test("v_centroid_drift: corpus count broadcasts; BOTH era averages ride " +
      "ONE map-side-combined corpus aggregate") {
    val p = planOf(VectorQueries.all, "v_centroid_drift")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row count must broadcast onto the scan")
    assert(p.contains("partial_v_avg"),
      s"era centroids must partial-aggregate map-side (partial_v_avg):\n$p")
    // a per-(label, era) groupBy filtered twice plans the corpus
    // aggregation twice (measured: 4 partial phases, 7 scans) — the
    // conditional-aggregate form must keep it to one
    assert(p.linesIterator.count(_.contains("partial_v_avg")) <= 2,
      s"corpus aggregated more than once:\n$p")
  }

  test("q5: dimension joins broadcast (no shuffle join for region/nation)") {
    val p = planOf(AnalyticsQueries.all, "q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q1: aggregation has a partial (map-side) phase") {
    val p = planOf(AnalyticsQueries.all, "q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      "q1 must map-side combine")
    // column pruning: only the 7 needed lineitem columns are read
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey"), s"unneeded column read: $read")
  }

  test("sessionize: single exchange on user_id feeds both window and agg") {
    val p = planOf(AnalyticsQueries.all, "q_sessionize")
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange hashpartitioning(user_id"))
    assert(exchanges <= 1, s"sessionization should shuffle on user_id once:\n$p")
  }

  test("scd2: one exchange on the dimension key feeds version, lead, and flag") {
    val p = freshPlan(AnalyticsQueries.scd2Raw(spark, sfDir))
    val exchanges = p.linesIterator
      .count(_.trim.contains("Exchange hashpartitioning(o_custkey"))
    assert(exchanges === 1, s"SCD2 must shuffle on o_custkey exactly once:\n$p")
  }

  test("cube: one Expand-fed aggregate over one scan, not four scans") {
    val p = planOf(AnalyticsQueries.all, "q_grouping_sets")
    assert(p.contains("Expand"), s"cube must plan an Expand:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 1, s"cube must scan lineitem exactly once, saw $scans:\n$p")
  }

  test("incremental agg: base and delta states map-side combine into one merge") {
    val p = planOf(AnalyticsQueries.all, "q_incremental_agg")
    assert(p.contains("Union"), s"base ∪ delta states must union:\n$p")
    assert(!p.toLowerCase.contains("cartesian"), "no cartesian in state merge")
  }

  test("graduated near-dup operators: bucketed equi-joins, no cartesian anywhere") {
    // the round-2 graduation contract at the PLAN level: candidates come
    // from hash-join buckets (LSH bands / rare grams), never from a
    // materialized cross join
    // incremental dedup asserts its PRE-checkpoint plan (the entry's
    // eager checkpoint truncates the executed plan): exact = signature-
    // array equality join, near = pigeonhole part-blocked equi-join
    // with the slim batch key set BROADCAST to the corpus scan (the
    // corpus side never shuffles in the near path)
    val (incrRaw, incrSigs) =
      graft.queries.DedupQueries.dedupIncrementalRaw(spark, sfDir)
    val incrPlan = freshPlan(incrRaw)
    incrSigs.unpersist(false)
    assert(!incrPlan.contains("CartesianProduct"),
      s"d_dedup_incremental has a cartesian:\n$incrPlan")
    // the ONLY tolerated nested-loop is the single-row Bloom carrier
    // broadcast to the corpus scan (the q_bloom_join shape) — a
    // pair-enumerating nest would also trip the Cartesian assert above
    assert(incrPlan.contains("bloom_might_contain") ||
      incrPlan.contains("BloomMightContain"),
      s"corpus exact side must be Bloom-pruned at the scan:\n$incrPlan")
    assert(incrPlan.contains("posexplode"),
      s"near side must explode per-partition hashes:\n$incrPlan")
    assert(incrPlan.contains("BroadcastHashJoin"),
      s"batch part-key set must broadcast to the corpus scan:\n$incrPlan")
    for ((block, name) <- Seq(
        (graft.queries.VectorQueries.all, "v_knn_self_pairs"),
        (graft.queries.DedupQueries.all, "d_embed_neardup"),
        (graft.queries.DedupQueries.all, "d_edit_distance"))) {
      val p = planOf(block, name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name has a nested-loop join:\n$p")
    }
  }

  test("dsir: bits map broadcasts; top-100 is a TakeOrdered, no window, no doc-keyed exchange") {
    // the raw (pre-checkpoint) plan: the entry's eager checkpoint
    // truncates the executed plan to a scan of stored blocks, so the
    // guard must look at the production shape underneath it
    val (raw, _) = graft.queries.DedupQueries.dsirWeightsRaw(spark, sfDir)
    val p = freshPlan(raw)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the one-row bucket-bits map must broadcast to the per-doc fold:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 selection must be a TakeOrdered, not sort-then-limit")
    assert(!p.contains("Window"), "dsir must not rank via a window")
    // the per-doc weight folds scan-side off the checkpoint: the only
    // exchanges left are the 64-key stats aggregate and the broadcast
    assert(!p.contains("hashpartitioning(doc_id"),
      s"no doc-keyed exchange may remain in the weight plan:\n$p")
  }

  test("matryoshka: broadcast queries + partial top-k, no window ranking") {
    val p = planOf(graft.queries.IndexQueries.all, "v_matryoshka_search")
    assert(p.contains("BroadcastNestedLoopJoin"), "queries must broadcast")
    assert(p.contains("partial_v_top_k"), "shortlist must partial-aggregate map-side")
    assert(!p.contains("Window"), "matryoshka must not rank a materialized cross join")
  }

  test("delete merge: one map-side-combinable aggregate, no window") {
    val p = planOf(VectorQueries.all, "v_delete_merge")
    assert(!p.contains("Window"), "tombstone resolution must not use a window")
    assert(p.contains("partial_max_by") || p.contains("HashAggregate"),
      "merge must map-side combine")
  }

  test("fk audit: dimension key sets broadcast to the fact side") {
    val p = planOf(graft.queries.AnalyticsQueries.all, "q_fk_audit")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian in the audit")
  }

  /** Plan of a DataFrame after clearing the relation cache — other
    * suites cache the same parquet relations, which would swap scans
    * for InMemoryTableScan and change pushdown info/exchange counts.
    * The by-name parameter matters: the frame must be BUILT after the
    * cache clear. */
  private def freshPlan(build: => org.apache.spark.sql.DataFrame): String = {
    spark.catalog.clearCache()
    build.queryExecution.executedPlan.toString
  }

  test("line dedup: one segment-hash window exchange + one doc_id rollup, no join") {
    val p = freshPlan {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.queries.DedupQueries.lineDedup(docs, 8)
    }
    assert(!p.contains("Join"),
      "winner election must be a window over the hash, not a groupBy + join-back")
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx === 2,
      s"exactly two shuffles (segment hash for the window, doc_id for reassembly):\n$p")
  }

  test("decontamination: eval side broadcasts, one rollup exchange, no window") {
    val p = freshPlan {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      graft.operators.Decontaminate.mark(
        docs.filter("doc_id >= 20"), docs.filter("doc_id < 20"),
        "doc_id", "text", width = 8)
    }
    assert(p.contains("BroadcastHashJoin"), "eval shingle set must broadcast")
    // the CORPUS may shuffle exactly once (the doc_id rollup); the only
    // other exchange allowed is the eval-set-sized distinct feeding the
    // broadcast
    val corpusExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(doc_id"))
    assert(corpusExchanges == 1, s"corpus must shuffle once (doc_id rollup):\n$p")
    assert(!p.contains("SortMergeJoin"), "corpus side must never shuffle for the join")
  }

  test("mixture sampling: thresholds broadcast, selection is scan-side (no window)") {
    // the production query's own pre-ordering plan, not a replica
    val p = freshPlan(graft.queries.DedupQueries.mixtureSampleRaw(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), "per-lang thresholds must broadcast")
    assert(!p.contains("Window"), "rate sampling must not rank per language")
  }

  test("RP search: projected queries broadcast + map-side partial top-k") {
    import spark.implicits._
    val p = freshPlan {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val q = e.filter($"vec_id" < 8)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      graft.operators.RpSearch.searchRefined(e, "vec_id", "embedding",
        q, inDim = 64, outDim = 16, k = 10)
    }
    assert(p.contains("BroadcastNestedLoopJoin"), "projected queries must broadcast")
    assert(p.contains("partial_v_top_k"), "shortlist must partial-aggregate map-side")
    assert(!p.contains("Window"), "no rank-the-crossjoin window allowed")
  }

  test("range join: bucketized to an equi-join, never a nested loop") {
    val p = planOf(AnalyticsQueries.all, "q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must ride the (user, bucket) equi-keys:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "expected a hash/merge equi-join")
  }

  test("v_pq_search reads the persisted codes table (search, not training)") {
    graft.operators.IndexStore.withRoot("target/tmp-plan-store") {
      spark.catalog.clearCache()
      val df = graft.queries.IndexQueries.all("v_pq_search")(spark, sfDir)
      val inputs = df.inputFiles.toSeq
      assert(inputs.exists(_.contains("/codes/")),
        s"plan must scan persisted codes: $inputs")
      assert(inputs.exists(_.contains("/codebooks/")),
        s"plan must scan persisted codebooks: $inputs")
    }
  }

  test("t_bm25: global top-k is TakeOrdered (map-side partial), never a corpus-wide window sort") {
    val p = planOf(graft.queries.TextQueries.all, "t_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n$p")
    // the only Window allowed is the one over the already-bounded
    // 10-row result — it must sit ABOVE the TakeOrdered, not below
    val winAt = p.indexOf("Window")
    val takeAt = p.indexOf("TakeOrderedAndProject")
    assert(winAt < takeAt,
      "the rank window must run over the bounded top-k, not the corpus")
  }

  test("q_hist_quantiles: histogram aggregates map-side; no sort of the raw data") {
    val p = planOf(AnalyticsQueries.all, "q_hist_quantiles")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "bucket counts must map-side combine")
    // exactly ONE range exchange — the 5-row output ordering; a second
    // one would mean raw values are being globally sorted (the thing
    // this sketch exists to avoid), and none may involve `value`
    assert(p.linesIterator.count(_.contains("rangepartitioning")) === 1,
      s"unexpected range exchange:\n$p")
    assert(!p.contains("rangepartitioning(value"),
      s"raw values must never be range-sorted:\n$p")
  }

  test("d_semantic_dedup: within-cluster pairs come from an equi-join on cluster_id, no cartesian") {
    val p = planOf(graft.queries.IndexQueries.all, "d_semantic_dedup")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in plan:\n$p")
  }

  test("t_chunk_windows: pure scan-side explode — no join, no aggregation") {
    // the raw form: orderedLarge's checkpoint would cut the plan at an
    // ExistingRDD scan and hide the shape under test
    val p = freshPlan(graft.queries.TextQueries.chunkWindowsRaw(
      spark.read.parquet(s"$sfDir/documents.parquet")))
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"chunking must not aggregate:\n$p")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
    assert(p.contains("Generate"), "chunk explosion must be a Generate")
  }

  test("q_percentiles: rank-join form equals the buffering builtin, with no percentile aggregate in the plan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = graft.queries.AnalyticsQueries.all("q_percentiles")(spark, sfDir)
    // the whole point: the collect-every-value percentile() aggregate
    // (per-group O(n) state) must be gone from the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("percentile"), s"buffering percentile aggregate present:\n$plan")
    val builtin = graft.Tables.load(spark, sfDir, "events")
      .groupBy($"event_type")
      .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"),
        countDistinct($"user_id").as("n_users"))
      .orderBy("event_type")
    assert(got.collect().toSeq === builtin.collect().toSeq)
  }

  test("q_zscore_outliers: stats broadcast back onto the scan — no second fact shuffle") {
    val p = planOf(AnalyticsQueries.all, "q_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), "per-type stats must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"fact side must not shuffle for the stats join:\n$p")
  }

  test("q_event_transitions: one user_id exchange feeds the sequence window") {
    val p = planOf(AnalyticsQueries.all, "q_event_transitions")
    val userExchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges === 1,
      s"sequence pass must shuffle on user_id exactly once:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_retention_cohort: first-touch join is user-keyed — no cartesian, no nested loop") {
    val p = planOf(AnalyticsQueries.all, "q_retention_cohort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cohort join must stay key-equi:\n$p")
  }

  test("d_source_overlap: pair counts come from a shingle-keyed equi-join, sizes broadcast") {
    val p = planOf(graft.queries.DedupQueries.all, "d_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"source pairing must be a shingle equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), "per-source sizes must broadcast")
  }

  test("v_maxsim_search: query vectors broadcast, max partial-aggregates map-side, no corpus shuffle before it") {
    val p = planOf(VectorQueries.all, "v_maxsim_search")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the bounded query-vector set must broadcast against the corpus scan")
    assert(p.contains("partial_max"),
      "per-(doc-group, query-vector) max must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct"), s"no materialized cartesian:\n$p")
  }

  test("v_maxsim_pruned: stage-2 corpus joins the bounded candidate set by key (broadcast hash, no full-scan rescore)") {
    val p = planOf(graft.queries.IndexQueries.all, "v_maxsim_pruned")
    assert(p.contains("BroadcastHashJoin [doc_group") ||
      p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("doc_group")),
      s"candidates must broadcast-hash-join the corpus on doc_group:\n$p")
    assert(!p.contains("CartesianProduct"), "stage 2 must never rescore the whole corpus")
  }

  test("p_curation_pipeline: no cartesian anywhere, mixture thresholds broadcast") {
    // the raw (pre-checkpoint) funnel: the entry's eager checkpoint
    // truncates the executed plan to an ExistingRDD scan
    val (raw, caches) =
      graft.queries.PipelineQueries.curationPipelineRaw(spark, sfDir)
    val p = freshPlan(raw)
    caches.foreach(_.unpersist(false))
    assert(!p.contains("CartesianProduct"), s"funnel must stay key-joined:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the bounded per-language threshold frame must broadcast")
  }

  test("v_ivf_split: the member pass reads only the hot cluster's partition") {
    val p = freshPlan {
      val dir = graft.operators.IndexStore.ivf(spark, sfDir, k = 16)
      val cent = spark.read.parquet(s"$dir/centroids")
      val assign = spark.read.parquet(s"$dir/assignments")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.col("cluster_id"))
      graft.operators.IvfMaintenance.splitSides(assign, cent)
    }
    val scanLine = p.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("cluster_id"))
    assert(scanLine.exists(_.contains("isnotnull(cluster_id")) ||
      p.contains("PartitionFilters: [isnotnull(cluster_id"),
      s"hot-member scan must carry a cluster_id partition filter:\n" +
        p.linesIterator.filter(_.contains("Partition")).mkString("\n"))
  }

  test("near-dup edge store: streaming ownership verify — no cartesian, no " +
      "candidate aggregate, pinned band exchange, self-join shuffle reused") {
    import org.apache.spark.sql.functions._
    // plan shape only — the ws projection need not match the entry's
    // tokenizer. Broadcast is disabled for the test: at spec scale the
    // optimizer broadcasts the self-join's right side (fine — tiny
    // corpus), which hides the shuffle-reuse shape this test pins for
    // cluster scale, where neither side of a corpus×bands self-join is
    // broadcastable.
    spark.catalog.clearCache()
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        sort_array(array_distinct(split(lower(col("text")), "\\s+")))
          .as("ws"))
    val (raw, tagged) = graft.queries.DedupQueries.minhashVerifiedEdgesRaw(
      docs, GraftText.jaccardSorted(_, _), 0.8)
    val p = raw.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"edge store has a cartesian:\n$p")
    assert(p.contains("first_eq_index"),
      s"band-ownership emission missing from the join filter:\n$p")
    // the candidate set must never pass through an aggregate: the old
    // distinct()/dropDuplicates shapes spill proportionally to the
    // candidate volume (the sf10 disk-full), the streaming shape has
    // NO aggregate anywhere (exact-dup collapse is a Window)
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate") &&
      !p.contains("ObjectHashAggregate"),
      s"candidate-scaled aggregate reappeared in the edge store:\n$p")
    // the band exchange is user-pinned (AQE-exempt): its fan-out is the
    // quadratic core while its INPUT is corpus-linear, so
    // coalesce-by-input-bytes would serialize it onto one task
    assert(p.contains("REPARTITION_BY_NUM"),
      s"band exchange must be pinned against AQE coalescing:\n$p")
    // executing finalizes the adaptive plan: both self-join sides must
    // feed off the CACHED rep map (the window collapse runs once; each
    // side re-derives only a projection + explode from it), and the
    // corpus×bands frame itself must NOT be cached — persisting it
    // OOM'd the 16 GiB sf10 probe JVM, while the re-derivation is
    // corpus-linear compute off the shared cache. (AQE materializes
    // the two pinned exchanges as separate stages rather than reusing
    // one — acceptable: the duplicated work is the cheap projection,
    // not the window.)
    try {
      // collect() drives THIS frame's QueryExecution (a noop-sink write
      // plans a fresh one), finalizing the adaptive plan in place
      raw.collect()
      val pFinal = raw.queryExecution.executedPlan.toString
      val cacheReads = pFinal.linesIterator
        .count(_.contains("InMemoryTableScan"))
      assert(cacheReads >= 3, // x side, y side, stars side
        s"self-join sides must read the cached rep map, saw $cacheReads " +
          s"InMemoryTableScans:\n$pFinal")
    } finally {
      tagged.unpersist(false)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
  test("m_decode_stats: codec legs are shuffle-free map partitions with " +
      "floored parallelism — no join, no hash exchange") {
    val p = planOf(graft.queries.PipelineQueries.all, "m_decode_stats")
    assert(!p.contains("Join"), s"codec pipeline must not join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"codec pipeline must not hash-shuffle:\n$p")
    assert(p.contains("Exchange roundrobin") || p.contains("RoundRobin"),
      s"codec stage parallelism must be floored (round-robin repartition):\n$p")
    assert(p.contains("MapPartitions"), "encode/decode legs are mapPartitions")
  }

  test("v_hnsw_insert: batch probes broadcast against centroids, members " +
      "hit by cluster key, top-k partial-aggregates — no cartesian") {
    val p = planOf(graft.queries.IndexQueries.all, "v_hnsw_insert")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("partial_v_top_k"),
      "probe ranking must partial-aggregate map-side")
  }

  test("v_hnsw_stats: orphan census is a broadcast anti-join, never a " +
      "sort-merge of the corpus") {
    val p = planOf(graft.queries.IndexQueries.all, "v_hnsw_stats")
    assert(p.contains("LeftAnti"), s"orphan census must anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"layer-sized sides must broadcast:\n$p")
  }

}
