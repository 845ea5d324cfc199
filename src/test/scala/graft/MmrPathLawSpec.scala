package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.MmrSelect

/** MMR's |Q| routing law (the BeamPathLawSpec pattern, applied to the
  * greedy re-ranker): a bounded candidate frame runs the k greedy
  * rounds as DRIVER arithmetic (one collect instead of k join + window
  * + checkpoint Spark rounds), a corpus-scaled one keeps the
  * distributed rounds — and the two paths are bit-identical on the
  * same input: sims via the spec-pinned kernel twin the codegen'd
  * cosine calls, the same total-order argmax (score desc, cid), the
  * same λ/(1−λ) IEEE arithmetic, rounding and the final sort through
  * Catalyst on both paths. */
class MmrPathLawSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb: DataFrame = {
    val rnd = new scala.util.Random(31)
    // planted near-duplicate pairs so diversification (and its
    // tie-breaks) actually bite: 4 clusters, every 4th vector a copy
    // of its predecessor nudged by one float ulp-scale epsilon
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    (0 until 120).map { i =>
      val c = centers(i % 4)
      val base = c.map(v => v + rnd.nextGaussian().toFloat * 0.2f)
      val v = if (i % 4 == 3) base.map(_ + 1e-4f) else base
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .cache()
  }

  private def mmrRows(): Seq[(Long, Long, Long, Double)] = {
    val queries = emb.filter($"vec_id" < 6)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    MmrSelect.diversify(emb, "vec_id", "embedding", queries,
        nCandidates = 12, k = 5, lambda = 0.7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
  }

  test("driver and distributed MMR rounds are bit-identical (forced routing)") {
    val (driver, dist) = onBothSides("mmr.driver")(mmrRows())
    assert(driver.nonEmpty)
    assert(driver.map(_._1).distinct.size === 6)
    assert(driver === dist)
  }
}
