package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftVector._

/** Scalar quantization (SQ8): every dimension linearly quantized to one
  * byte against a per-dimension [min, max] grid learned in one corpus
  * pass — 4× compression at far lower distortion than PQ's 32×; the
  * FAISS IndexScalarQuantizer point on the compression/recall curve,
  * and the natural first rung of this library's quantization ladder
  * (SQ8 → PQ → IVF-PQ as corpus size grows past what 25 %-width rows
  * can serve). The reference stores raw float rows per HNSW node
  * (/root/reference/include/hnsw_node.h); SQ8 is what that becomes
  * when the index must hold 100 TB of vectors in cluster RAM.
  *
  * Unlike IVF/PQ there is NO seeded training step: the grid is the
  * exact per-dim min/max of the data, so the DuckDB oracle re-derives
  * the ENTIRE pipeline — grid, codes, ADC ranking, exact refine — from
  * the raw table with no literals (see the v_sq8_search oracle). Every
  * arithmetic step is an exactly-specified double op evaluated in the
  * same order on both sides.
  *
  * Search mirrors [[PqIndex.searchRefined]]: ADC over decoded bytes
  * proposes k×refine candidates (ranking on squared distance), the
  * candidates' raw vectors are fetched by id, exact L2 decides.
  */
object Sq8Index {

  /** One-pass grid fit: (dim j ∈ 1..dim, mn, mx, scale=(mx−mn)/levels).
    * A plain per-dim min/max aggregation — map-side combined, one
    * bounded shuffle of dim×partitions rows. `levels` = the top code:
    * 255 is SQ8 (4×), 15 is SQ4 (8× — the int4 point modern quantized
    * serving runs at); parquet's bit-packed integer encodings realize
    * the at-rest compression for both. */
  def buildGrid(embeddings: DataFrame, vecCol: String,
      levels: Int = 255): DataFrame = {
    require(levels >= 1 && levels <= 255, s"levels in [1,255], got $levels")
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings
      .select(posexplode(col(vecCol)).as(Seq("j0", "x")))
      .groupBy(($"j0" + 1).as("j"))
      .agg(min($"x").as("mnf"), max($"x").as("mxf"))
      .select($"j", $"mnf".cast("double").as("mn"),
        $"mxf".cast("double").as("mx"),
        (($"mxf".cast("double") - $"mnf".cast("double"))
          / levels.toDouble).as("scale"))
  }

  /** Grid rows collected to (mins, scales) arrays ordered by dim —
    * 2×dim doubles, the broadcast-literal analog of PQ's codebooks. */
  def gridArrays(grid: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = grid.orderBy("j").collect()
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(3)).toSeq)
  }

  /** Distributed encode: code_j = clamp(floor((x_j − mn_j)/scale_j + ½),
    * 0, levels), degenerate dims (scale 0) coding to 0. Scan-side
    * transform against the literal grid — no shuffle. */
  def encode(embeddings: DataFrame, idCol: String, vecCol: String,
      mins: Seq[Double], scales: Seq[Double], levels: Int = 255): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val mn = typedlit(mins); val sc = typedlit(scales)
    embeddings.select(col(idCol).cast("long").as(idCol),
      transform(col(vecCol), (x, j0) => {
        val j = j0 + 1
        when(element_at(sc, j) === 0.0, lit(0)).otherwise(
          least(greatest(
            floor((x.cast("double") - element_at(mn, j)) / element_at(sc, j)
              + 0.5), lit(0L)), lit(levels.toLong)).cast("int"))
      }).as("codes"))
  }

  /** ADC distance of a code array against a query vector: the decoded
    * value mn_j + c_j·scale_j substitutes for x_j, summed in dimension
    * order (the same fold discipline as l2Sq / PqIndex.adcScore) — one
    * native pass ([[graft.functions.Sq8AdcDistance]]). */
  def adcScore(codes: Column, qv: Column, mins: Seq[Double],
      scales: Seq[Double]): Column =
    org.apache.spark.sql.graft.Shims.column(
      graft.functions.Sq8AdcDistance(
        org.apache.spark.sql.graft.Shims.expression(codes),
        org.apache.spark.sql.graft.Shims.expression(qv),
        mins, scales))

  /** SQ8 search with exact refinement: ADC shortlist of k×refineFactor
    * by (adist, id), raw vectors fetched for the shortlist only, exact
    * squared-L2 heap decides, sqrt applied to the rounded output. */
  def searchRefined(grid: DataFrame, codes: DataFrame,
      embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, refineFactor: Int = 4): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    val spark = codes.sparkSession
    import spark.implicits._
    val (mins, scales) = gridArrays(grid)
    val shortlist = KnnSearch.shortlist(codes
        .select(col(idCol).cast("long").as("neighbor_id"), $"codes")
        .crossJoin(broadcast(queries)),
      "query_id", adcScore($"codes", $"qv", mins, scales), $"neighbor_id",
      k * refineFactor)
    PqIndex.refineExact(shortlist, embeddings, idCol, vecCol, queries, k)
  }
}
