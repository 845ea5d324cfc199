package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.RpSearch

/** Property gates for the JL random-projection search: the seeded sign
  * matrix is deterministic and balanced, the projection is the exact
  * literal mat-vec, the shortlist is NESTED in refineFactor (same
  * projected ranking → bigger prefix), and recall on clustered data —
  * the workload the approximate ladder exists for — clears 0.85 at 4×
  * compression (measured 0.94; uniform-random sf vectors, the JL worst
  * case where all pairwise distances concentrate, sit near 0.37 and are
  * deliberately not gated).
  */
class RpSearchSpec extends SparkSpec {
  import spark.implicits._

  /** Same planted-cluster fixture as ClusteredRecallSpec. */
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

  private def recallAt(refineFactor: Int): Double = {
    val res = RpSearch.searchRefined(clustered, "vec_id", "embedding",
        queries, inDim = 64, outDim = 16, k = 10, refineFactor)
      .groupBy($"query_id").agg(collect_list($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    gt.map { case (qid, ids) =>
      (res.getOrElse(qid, Set.empty) & ids).size.toDouble / ids.size
    }.sum / gt.size
  }

  test("sign matrix is deterministic, ±1-valued, balanced, seed-sensitive") {
    val s1 = RpSearch.signs(16, 64)
    assert(s1 == RpSearch.signs(16, 64))
    assert(s1.length === 1024)
    assert(s1.forall(x => x == 1.0 || x == -1.0))
    val pos = s1.count(_ == 1.0)
    assert(pos > 410 && pos < 614, s"unbalanced sign matrix: $pos/1024 positive")
    assert(RpSearch.signs(16, 64, seed = 7L) != s1)
  }

  test("projection equals the literal mat-vec in declared fold order") {
    val sm = RpSearch.signs(2, 4, seed = 1L)
    val v = Seq(1.5f, -2.25f, 3.0f, 0.5f)
    val out = spark.range(1)
      .select(RpSearch.project(typedlit(v), sm, 2).as("p"))
      .head().getSeq[Float](0)
    val expect = (0 until 2).map { i =>
      (0 until 4).foldLeft(0.0)((s, j) => s + sm(i * 4 + j) * v(j)).toFloat
    }
    assert(out == expect)
  }

  test("clustered recall@10 >= 0.85 at 4x compression, refine=4") {
    val r = recallAt(4)
    assert(r >= 0.85, s"clustered RP recall $r < 0.85")
  }

  test("recall is non-decreasing in refineFactor (nested shortlists)") {
    val curve = Seq(1, 2, 4).map(rf => rf -> recallAt(rf))
    curve.sliding(2).foreach { case Seq((f1, r1), (f2, r2)) =>
      assert(r2 >= r1, s"recall fell from $r1 (rf=$f1) to $r2 (rf=$f2)")
    }
  }

  test("every query is its own rank-1 neighbor (projected self-distance is 0)") {
    val selfTop = RpSearch.searchRefined(clustered, "vec_id", "embedding",
        queries, inDim = 64, outDim = 16, k = 1, refineFactor = 1)
      .filter($"query_id" === $"neighbor_id" && $"rnk" === 1)
    assert(selfTop.count() === 16)
  }
}
