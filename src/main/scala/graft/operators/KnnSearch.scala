package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftVector._

/** Exact kNN for query sets of ANY size — the batch answer to the
  * reference's unbounded query stream (/root/reference/include/engine.h:100
  * `search_knn` serves one request at a time forever; the batch analog is
  * a query TABLE, possibly as large as the corpus) — and the one place a
  * bounded top-k heap becomes an answer ([[ranked]], [[shortlist]]).
  *
  * The single-broadcast plan (broadcast all queries, scan base once,
  * bounded-heap partial agg) is optimal while the query set fits in the
  * broadcast budget, and DIES past it — a billion-row query table cannot
  * broadcast. `searchBatched` splits queries into `numBatches`
  * deterministic hash-batches, runs the same broadcast plan per batch,
  * and unions the per-batch results: each batch stays under the
  * broadcast budget, the base table streams once per batch, and no
  * all-pairs shuffle ever materializes. Batch count is the knob trading
  * base re-scans against broadcast size (at extreme query volume, run
  * batches as separate jobs against a persisted base — same plan shape).
  */
object KnnSearch {

  /** The ranked answer of every vector search: per `group`, the k
    * smallest (`score`, `id`) pairs of `pairs` in one bounded heap
    * ([[TopKByScore]] — ties by id), as rows (group, neighbor_id,
    * rnk 1..k as long, `out`). The heap ranks the raw score and
    * `finish` maps it only at output (the default, round(sqrt, 4),
    * turns squared L2 into the reported distance: sqrt can collapse
    * adjacent doubles, so ranking must happen before it). */
  def ranked(pairs: DataFrame, group: String, score: Column, id: Column,
      k: Int, out: String = "dist",
      finish: Column => Column = s => round(sqrt(s), 4)): DataFrame =
    pairs.groupBy(col(group))
      .agg(topK(score, id, k).as("nn"))
      .select(col(group), posexplode(col("nn")))
      .select(col(group), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rnk"),
        finish(col("col.score")).as(out))

  /** The unranked id set of [[ranked]] — (group, neighbor_id) for the
    * n best pairs per group: the candidate list a refine stage or a
    * recall count joins against. */
  def shortlist(pairs: DataFrame, group: String, score: Column, id: Column,
      n: Int): DataFrame =
    pairs.groupBy(col(group))
      .agg(topK(score, id, n).as("nn"))
      .select(col(group),
        explode(transform(col("nn"), _.getField("id"))).as("neighbor_id"))

  /** queries: (query_id, qv array<float>); base: idCol + vecCol.
    * Returns (query_id, neighbor_id, rnk, dist) — identical rows to the
    * single-broadcast plan, any numBatches >= 1. */
  def searchBatched(base: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, numBatches: Int): DataFrame = {
    require(numBatches >= 1, s"numBatches must be >= 1, got $numBatches")
    val spark = base.sparkSession
    import spark.implicits._
    val batched = queries.withColumn("__batch",
      pmod(hash($"query_id"), lit(numBatches)))
    // per-batch work is |batch|× the base scan — parallelism must not
    // be left to byte-based split sizing (Expand.floorParallelism)
    val spread = Expand.floorParallelism(base)
    (0 until numBatches).map { b =>
      ranked(spread.crossJoin(
          broadcast(batched.filter($"__batch" === b).drop("__batch"))),
        "query_id", l2Sq(col(vecCol), $"qv"), col(idCol), k)
    }.reduce(_ unionByName _)
  }
}
