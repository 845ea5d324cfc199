package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.MatryoshkaSearch

/** Property gates for prefix-dimension (Matryoshka) search: a full-dim
  * prefix IS the exact search (theorem — same ranking, same tie-break,
  * shortlist ⊇ top-k), the shortlist is nested in refineFactor, and
  * recall on clustered data clears its floor at 4× compression. The
  * sf vectors spread information uniformly across coordinates (the
  * honest no-MRL-training case), so a 16-dim prefix behaves like any
  * 16-dim random subspace — same regime RP search is gated in.
  */
class MatryoshkaSpec extends SparkSpec {
  import spark.implicits._

  /** Same planted-cluster fixture as RpSearchSpec. */
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

  private def recallAt(prefixDim: Int, refineFactor: Int): Double = {
    val res = MatryoshkaSearch.searchRefined(clustered, "vec_id", "embedding",
        queries, dim = 64, prefixDim = prefixDim, k = 10, refineFactor)
      .groupBy($"query_id").agg(collect_list($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    gt.map { case (qid, ids) =>
      (res.getOrElse(qid, Set.empty) & ids).size.toDouble / ids.size
    }.sum / gt.size
  }

  test("full-dim prefix reproduces exact brute-force top-k, rank for rank") {
    val exact = clustered.crossJoin(broadcast(queries))
      .groupBy($"query_id")
      .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", 10).as("nn"))
      .select($"query_id", posexplode($"nn"))
      .select($"query_id", $"col.id".as("neighbor_id"),
        ($"pos" + 1).cast("long").as("rnk"),
        round(sqrt($"col.score"), 4).as("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = MatryoshkaSearch.searchRefined(clustered, "vec_id", "embedding",
        queries, dim = 64, prefixDim = 64, k = 10, refineFactor = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exact)
  }

  test("clustered recall at prefix 16/64 with 4x shortlist clears 0.85") {
    val r = recallAt(prefixDim = 16, refineFactor = 4)
    assert(r >= 0.85, s"matryoshka recall@10 = $r")
  }

  test("recall is monotone in refineFactor (nested shortlists)") {
    val r1 = recallAt(prefixDim = 16, refineFactor = 1)
    val r4 = recallAt(prefixDim = 16, refineFactor = 4)
    val r8 = recallAt(prefixDim = 16, refineFactor = 8)
    assert(r1 <= r4 + 1e-12 && r4 <= r8 + 1e-12, s"$r1 / $r4 / $r8")
  }

  test("refine sweep: recall column is monotone non-decreasing in factor") {
    val out = graft.queries.IndexQueries.all("v_refine_sweep")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(out.map(_._1) === Array(1L, 2L, 4L, 8L))
    val rec = out.map(_._2)
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b + 1e-12 },
      s"recall not monotone: ${rec.toSeq}")
  }

  test("invalid prefix and refine arguments are rejected") {
    intercept[IllegalArgumentException] {
      MatryoshkaSearch.searchRefined(clustered, "vec_id", "embedding",
        queries, dim = 64, prefixDim = 0, k = 10)
    }
    intercept[IllegalArgumentException] {
      MatryoshkaSearch.searchRefined(clustered, "vec_id", "embedding",
        queries, dim = 64, prefixDim = 65, k = 10)
    }
    intercept[IllegalArgumentException] {
      MatryoshkaSearch.searchRefined(clustered, "vec_id", "embedding",
        queries, dim = 64, prefixDim = 16, k = 10, refineFactor = 0)
    }
  }
}
