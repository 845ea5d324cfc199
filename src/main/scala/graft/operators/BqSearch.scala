package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftVector._

/** Binary (sign-bit) quantization search — the 256× rung that completes
  * the compression ladder (BQ 1 bit/dim → SQ8 8 bits → PQ 1 byte/8 dims
  * → raw 32 bits): each 64-dim float vector collapses to 64 sign bits,
  * candidates are ranked by Hamming distance (popcount of XOR — the
  * cheapest distance that exists; sign-concordance is a monotone proxy
  * for angular closeness, the 1-bit limit of the signed-random-
  * projection family behind [[LshBuckets]]), and a k×refineFactor
  * shortlist gets the exact squared-L2 refine that decides. Like RP
  * search it is training-free — no grid pass, no codebook fit, not even
  * a seed: the fingerprint is a pure function of the vector, so
  * streaming ingest can fingerprint scan-side with zero build state.
  *
  * The reference scans full-precision rows for every candidate
  * (/root/reference/src/distance.cpp:6-23); at 100 TB the fingerprint
  * table is 8 bytes/vector — 1/32nd of the raw table, small enough to
  * sit in cluster RAM wholesale — and raw vectors are fetched for
  * |queries|×k×refine rows only. Scale shape: one scan of the
  * fingerprint table against broadcast query fingerprints, a bounded
  * top-k heap per query, then an id-equi-join refine — the raw-vector
  * table never shuffles.
  *
  * The 64 bits are packed as TWO 32-bit halves (bit j of half h set iff
  * vec[32h+j] > 0) rather than one 64-bit word: bit 63 of a signed long
  * is reachable only through overflow-flagged arithmetic in ANSI
  * engines, and the two-word form is what a >64-dim corpus needs
  * anyway. Hamming = popcount(lo⊕lo') + popcount(hi⊕hi').
  */
object BqSearch {

  /** 32-bit sign-fingerprint half over vec[lo..lo+31], packed
    * little-endian (bit j ⇔ vec[lo+j] > 0). A fold in reverse order
    * (acc·2 + bit) keeps every intermediate below 2^32 — no shift-by-
    * column, no overflow, identical arithmetic in the SQL oracle. */
  def fingerprintHalf(vec: Column, lo: Int): Column =
    aggregate(
      reverse(slice(vec, lo + 1, 32)), lit(0L),
      (acc, x) => acc * lit(2L) + when(x > lit(0f), lit(1L)).otherwise(lit(0L)))

  /** Hamming distance between two (lo, hi) fingerprint pairs. */
  def hamming(lo1: Column, hi1: Column, lo2: Column, hi2: Column): Column =
    bit_count(lo1.bitwiseXOR(lo2)) + bit_count(hi1.bitwiseXOR(hi2))

  /** BQ search with exact refinement: Hamming shortlist of
    * k×refineFactor by (hamming, id), raw vectors fetched for the
    * shortlist only, exact squared-L2 heap decides — the
    * [[Sq8Index.searchRefined]]/[[RpSearch.searchRefined]] contract with
    * the quantizer swapped for sign bits. */
  def searchRefined(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, dim: Int, k: Int, refineFactor: Int = 4): DataFrame = {
    require(dim == 64, s"BqSearch packs exactly 64 dims (two 32-bit halves), got $dim")
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val fp = embeddings.select(col(idCol).cast("long").as("neighbor_id"),
      fingerprintHalf(col(vecCol), 0).as("flo"),
      fingerprintHalf(col(vecCol), 32).as("fhi"))
    val fq = queries.select($"query_id",
      fingerprintHalf($"qv", 0).as("qlo"),
      fingerprintHalf($"qv", 32).as("qhi"))
    // integer Hamming casts exactly to float (≤ 64): the heap's
    // (score, id) order is (hamming, id) with no rounding anywhere
    val shortlist = KnnSearch.shortlist(fp.crossJoin(broadcast(fq)),
      "query_id", hamming($"flo", $"fhi", $"qlo", $"qhi").cast("float"),
      $"neighbor_id", k * refineFactor)
    PqIndex.refineExact(shortlist, embeddings, idCol, vecCol, queries, k)
  }
}
