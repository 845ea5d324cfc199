package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

import graft.GraftVector._
import graft.functions.RandomProject

/** Random-projection (Johnson–Lindenstrauss) ANN search: a seeded ±1
  * sign matrix compresses 64-dim float vectors to `outDim` dims (4× at
  * 16), the shortlist is ranked by squared L2 in the projected space,
  * and the candidates' raw vectors get an exact-L2 refine — the
  * training-free rung of the approximate ladder (SQ8 needs a grid pass,
  * PQ/IVF need a fit; RP needs only a seed). JL concentration puts
  * projected distances within (1±ε) of (outDim/inDim)·d² with high
  * probability, so rank order survives the 4× compression well enough
  * for a k×refine shortlist to contain the true top-k.
  *
  * The reference searches full-precision rows for every candidate
  * (/root/reference/src/distance.cpp:6-23); at 100 TB the projected
  * table is the one that fits in cluster RAM and the raw table is only
  * touched for |queries|×k×refine rows. Scale shape: one scan of the
  * projected corpus against broadcast projected queries, a bounded
  * top-k heap per query, then an id-equi-join refine — no shuffle of
  * raw vectors at all.
  */
object RpSearch {

  /** Deterministic ±1 Achlioptas sign matrix (outDim × inDim,
    * row-major), regenerated identically at every call site and printed
    * into the DuckDB oracle as literals — same seed → same matrix, the
    * [[LshBuckets.planes]] discipline. Splitmix64 finalizer per cell;
    * the low bit decides the sign. */
  def signs(outDim: Int, inDim: Int, seed: Long = 42L): Seq[Double] =
    (0 until outDim * inDim).map { i =>
      var z = seed + (i.toLong + 1L) * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= (z >>> 31)
      if ((z & 1L) == 0L) 1.0 else -1.0
    }

  /** Projection column: vec (array<float>, inDim) → array<float>
    * (outDim) via the literal sign matrix. */
  def project(vec: Column, signMatrix: Seq[Double], outDim: Int): Column =
    Shims.column(RandomProject(Shims.expression(vec), signMatrix, outDim))

  /** RP search with exact refinement: projected-space shortlist of
    * k×refineFactor by (pdist, id), raw vectors fetched for the
    * shortlist only, exact squared-L2 heap decides, sqrt applied to the
    * rounded output — the [[Sq8Index.searchRefined]] contract with the
    * quantizer swapped for a projection. */
  def searchRefined(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, inDim: Int, outDim: Int, k: Int,
      refineFactor: Int = 4, seed: Long = 42L): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    require(inDim >= 1 && outDim >= 1 && outDim <= inDim,
      s"need 1 <= outDim <= inDim, got outDim=$outDim inDim=$inDim")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sm = signs(outDim, inDim, seed)
    val proj = embeddings.select(col(idCol).cast("long").as("neighbor_id"),
      project(col(vecCol), sm, outDim).as("pv"))
    val pq = queries.select($"query_id", project($"qv", sm, outDim).as("pqv"))
    val shortlist = KnnSearch.shortlist(proj.crossJoin(broadcast(pq)),
      "query_id", l2Sq($"pv", $"pqv"), $"neighbor_id", k * refineFactor)
    PqIndex.refineExact(shortlist, embeddings, idCol, vecCol, queries, k)
  }
}
