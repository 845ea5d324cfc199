package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._

/** Matryoshka (prefix-dimension) search — coarse ranking on the FIRST
  * `prefixDim` coordinates of the stored vector, exact refine on the
  * full vector (Kusupati et al. 2022, arXiv:2205.13147: embeddings
  * trained so information concentrates front-to-back make every prefix
  * a usable lower-resolution embedding). Like [[BqSearch]] it is
  * training-free AND seedless — the "index" is a column slice, so there
  * is nothing to fit, persist, or invalidate: streaming ingest gets the
  * fast path for free, and the same stored table serves every fidelity
  * rung (prefix 8/16/32/64) without re-encoding.
  *
  * The reference scans full-precision rows for every candidate
  * (/root/reference/src/distance.cpp:6-23); at 100 TB the prefix
  * columns are the ones that fit in cluster RAM (4× smaller at
  * prefix 16 of 64 — and a parquet reader with nested-column pruning
  * pays only for the bytes of the prefix it reads). Scale shape: one
  * scan of prefix slices against broadcast prefix queries, a bounded
  * top-k heap per query, then an id-equi-join refine touching
  * |queries|×k×refine raw rows — the raw-vector table never shuffles
  * ([[RpSearch]]'s contract with the projection replaced by a slice,
  * which also deletes the mat-vec entirely from the hot scan).
  */
object MatryoshkaSearch {

  /** Prefix-shortlist search with exact refinement: rank by squared L2
    * over `vec[1..prefixDim]` with id tie-break, keep k×refineFactor,
    * then [[PqIndex.refineExact]] on the full vectors decides. */
  def searchRefined(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, dim: Int, prefixDim: Int, k: Int,
      refineFactor: Int = 4): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    require(prefixDim >= 1 && prefixDim <= dim,
      s"need 1 <= prefixDim <= dim, got prefixDim=$prefixDim dim=$dim")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pre = embeddings.select(col(idCol).cast("long").as("neighbor_id"),
      slice(col(vecCol), 1, prefixDim).as("pv"))
    val pq = queries.select($"query_id", slice($"qv", 1, prefixDim).as("pqv"))
    val shortlist = KnnSearch.shortlist(pre.crossJoin(broadcast(pq)),
      "query_id", l2Sq($"pv", $"pqv"), $"neighbor_id", k * refineFactor)
    PqIndex.refineExact(shortlist, embeddings, idCol, vecCol, queries, k)
  }
}
