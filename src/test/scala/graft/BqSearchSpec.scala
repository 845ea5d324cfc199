package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.BqSearch

/** Property gates for binary (sign-bit) quantization search: the
  * fingerprint is the exact little-endian sign pack, Hamming through
  * the packed halves equals naive per-dim sign disagreement, the
  * shortlist is NESTED in refineFactor, and recall on clustered data —
  * the workload the approximate ladder exists for — clears 0.8 at 256×
  * compression (measured ≈0.9; uniform-random vectors concentrate all
  * angles near 90° and are deliberately not gated).
  */
class BqSearchSpec extends SparkSpec {
  import spark.implicits._

  /** Same planted-cluster fixture as ClusteredRecallSpec/RpSearchSpec. */
  private lazy val clustered: DataFrame =
    PlantedClusters.frame(seed = 123).drop("label").cache()

  private lazy val queries = clustered.filter($"vec_id" < 16)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  private lazy val gt: Map[Long, Set[Long]] =
    clustered.crossJoin(broadcast(queries))
      .groupBy($"query_id")
      .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", 10).as("nn"))
      .select($"query_id", transform($"nn", x => x.getField("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap

  private def resultAt(refineFactor: Int): Map[Long, Seq[Long]] =
    BqSearch.searchRefined(clustered, "vec_id", "embedding",
        queries, dim = 64, k = 10, refineFactor)
      .groupBy($"query_id").agg(collect_list($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("fingerprint is the exact little-endian sign pack") {
    // a vector with known signs: dims 0, 2, 33 positive, rest negative
    val v = Array.fill(64)(-1f)
    v(0) = 1f; v(2) = 0.5f; v(33) = 2f
    val row = Seq((1L, v.toSeq)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .select(BqSearch.fingerprintHalf($"embedding", 0).as("lo"),
        BqSearch.fingerprintHalf($"embedding", 32).as("hi"))
      .head()
    assert(row.getLong(0) === ((1L << 0) | (1L << 2)))
    assert(row.getLong(1) === (1L << 1)) // dim 33 = bit 1 of the high half
    // exactly 0 packs as sign-negative (strict > 0) — pinned, because a
    // build/probe disagreement on the boundary would shift Hamming ranks
    val z = Seq((1L, Seq.fill(64)(0f))).toDF("vec_id", "embedding")
      .select($"embedding".cast("array<float>").as("embedding"))
      .select(BqSearch.fingerprintHalf($"embedding", 0).as("lo")).head()
    assert(z.getLong(0) === 0L)
  }

  test("packed Hamming equals naive per-dim sign disagreement") {
    val pairs = clustered.limit(40).crossJoin(
        clustered.limit(40).select($"vec_id".as("b_id"), $"embedding".as("bv")))
    val viaPack = pairs.select(
      BqSearch.hamming(
        BqSearch.fingerprintHalf($"embedding", 0),
        BqSearch.fingerprintHalf($"embedding", 32),
        BqSearch.fingerprintHalf($"bv", 0),
        BqSearch.fingerprintHalf($"bv", 32)).as("h"))
    val naive = pairs.select(
      size(filter(zip_with($"embedding", $"bv",
        (a, b) => (a > 0f) =!= (b > 0f)), x => x)).as("h"))
    assert(viaPack.collect().map(_.getInt(0)).toSeq ===
      naive.collect().map(_.getInt(0)).toSeq)
  }

  test("shortlists are nested in refineFactor (same Hamming ranking, bigger prefix)") {
    val r2 = resultAt(2)
    val r8 = resultAt(8)
    // the top-10 at refine 8 is at least as close to ground truth as at
    // refine 2, and every query returns exactly k rows at both settings
    assert(r2.values.forall(_.size == 10) && r8.values.forall(_.size == 10))
    val rec2 = gt.map { case (q, ids) => (r2(q).toSet & ids).size }.sum
    val rec8 = gt.map { case (q, ids) => (r8(q).toSet & ids).size }.sum
    assert(rec8 >= rec2, s"refine 8 recall $rec8 below refine 2 recall $rec2")
  }

  test("clustered recall@10 >= 0.8 at 256x compression") {
    val res = resultAt(8)
    val recall = gt.map { case (q, ids) =>
      (res(q).toSet & ids).size.toDouble / ids.size }.sum / gt.size
    assert(recall >= 0.8, s"clustered BQ recall $recall below 0.8")
  }
}
