package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{GraphSearch, IndexStore}

/** The beam engine's |Q| routing law (key `beam.driver`): a batch
  * at or under the threshold runs the DRIVER-RESIDENT rounds, a larger
  * batch runs the DISTRIBUTED TopKByScore rounds — and the two paths
  * are bit-identical on the same input, because both implement the
  * identical expand → exact-L2 score → keep-ef-by-(d, node) round and
  * the identical greedy-stabilization skip (a subset law of the
  * rounds, not an artifact of where the reduction runs). The serving
  * entries rely on the driver path's job economy; the insert/compact
  * batches scale with the corpus and rely on the distributed path
  * (r12's all-driver routing measured v_graph_insert 10.7 → 37.3 s at
  * sf10 — the regression this law closes).
  */
class BeamPathLawSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-beamlaw-spec", seed = 77)

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  /** 40 queries: above a forced tiny threshold, below the default. */
  private lazy val queries = emb.filter($"vec_id" < 40)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  private def searchRows(): Seq[(Long, Long, Long, Double)] = {
    val ivfDir = IndexStore.ivf(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    GraphSearch.search(spark, ivfDir, gDir, emb, queries,
        k = 5, ef = 16, hops = 3)
      .select($"query_id", $"neighbor_id", $"rnk", $"dist")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
  }

  test("driver and distributed beam paths are bit-identical (40 queries, forced routing)") {
    val (driver, dist) = onBothSides("beam.driver")(searchRows())
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("distributed beam rounds without broadcast hints match the hinted ones") {
    // the no-hint side is taken only past 50 M beam rows, which no
    // bench or fixture reaches: force it on the same 40 queries
    val (hinted, shuffled) = Route.forcing("beam.driver", Route.Large)(
      onBothSides("beam.broadcast")(searchRows()))
    assert(hinted.nonEmpty)
    assert(hinted === shuffled)
  }

  test("default threshold covers serving batches and routes corpus-scaled batches away") {
    // spec-pins the production constant: serving shapes (|Q| ≤ a few
    // hundred) stay driver-resident; an insert batch at sf10 (20k) or
    // beyond must not.
    assert(GraphSearch.driverBeamMaxQ === 1024)
  }
}
