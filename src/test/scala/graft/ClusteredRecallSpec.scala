package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.{IvfIndex, PqIndex}

/** ANN recall regression guards on PLANTED CLUSTERED data. The sf*
  * embeddings are uniform-random — the ANN-hostile worst case, where the
  * honest recall floors (IVF 0.5, PQ 0.4) are too weak to catch a real
  * regression. Clustered vectors are the workload ANN indexes exist for
  * (the regime benchmark/recall_bench.cpp sweeps); on them the floors
  * tighten to 0.9 / 0.8.
  */
class ClusteredRecallSpec extends SparkSpec {
  import spark.implicits._

  /** 8 well-separated Gaussian clusters, 50 points each, dim 64. */
  private lazy val clustered: DataFrame =
    PlantedClusters.frame(seed = 123).drop("label").cache()

  private lazy val queries = clustered.filter($"vec_id" < 16)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  private def groundTruth(k: Int): Map[Long, Seq[Long]] =
    clustered.crossJoin(broadcast(queries))
      .groupBy($"query_id")
      .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", k).as("nn"))
      .select($"query_id", transform($"nn", x => x.getField("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("IVF nprobe=3/8 recall@10 >= 0.9 on clustered data") {
    val (cent, assign) = IvfIndex.build(clustered, "vec_id", "embedding", k = 8)
    val res = IvfIndex.search(cent, assign, queries, "vec_id", "embedding",
        10, nprobe = 3)
      .groupBy($"query_id").agg(collect_list($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val gt = groundTruth(10)
    val recall = gt.map { case (qid, ids) =>
      (res.getOrElse(qid, Set.empty) & ids.toSet).size.toDouble / ids.size
    }.sum / gt.size
    assert(recall >= 0.9, s"clustered IVF nprobe=3/8 recall $recall < 0.9")
  }

  test("nprobe sweep: recall is non-decreasing and exact at full probe (recall_bench analog)") {
    // the ef_search sweep of benchmark/recall_bench.cpp:80-100, mapped to
    // IVF's probe width: nested probe sets make per-query candidates grow
    // monotonically, so recall must too — and nprobe=k is exact.
    val (cent, assign) = IvfIndex.build(clustered, "vec_id", "embedding", k = 8)
    val gt = groundTruth(10)
    val curve = Seq(1, 2, 4, 8).map { nprobe =>
      val res = IvfIndex.search(cent, assign, queries, "vec_id", "embedding",
          10, nprobe = nprobe)
        .groupBy($"query_id").agg(collect_list($"neighbor_id").as("ids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val recall = gt.map { case (qid, ids) =>
        (res.getOrElse(qid, Set.empty) & ids.toSet).size.toDouble / ids.size
      }.sum / gt.size
      nprobe -> recall
    }
    curve.sliding(2).foreach { case Seq((p1, r1), (p2, r2)) =>
      assert(r2 >= r1, s"recall fell from $r1 (nprobe=$p1) to $r2 (nprobe=$p2)")
    }
    assert(curve.last._2 === 1.0, s"full probe must be exact: $curve")
    assert(curve.head._2 >= 0.5, s"even nprobe=1 should find the home cluster: $curve")
  }

  test("PQ recall@(10 in 50) >= 0.8 on clustered data") {
    val (books, codes) = PqIndex.build(clustered, "vec_id", "embedding",
      dim = 64, numSub = 8, codebookSize = 16)
    val approx = PqIndex.search(books, codes, queries, "vec_id", dim = 64,
        numSub = 8, k = 50)
      .groupBy($"query_id").agg(collect_list($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val gt = groundTruth(10)
    val recall = gt.map { case (qid, ids) =>
      (approx.getOrElse(qid, Set.empty) & ids.toSet).size.toDouble / ids.size
    }.sum / gt.size
    assert(recall >= 0.8, s"clustered PQ recall@(10 in 50) $recall < 0.8")
  }
}
