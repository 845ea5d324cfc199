package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.{GraphSearch, IndexStore}

/** Beam search over the persisted kNN graph (the HNSW-analog serving
  * path). Recall guards run on PLANTED CLUSTERED data — the regime
  * navigable-graph search exists for (ClusteredRecallSpec's argument);
  * the laws (hop monotonicity, determinism) hold on any input.
  */
class GraphSearchSpec extends SparkSpec {
  import spark.implicits._

  /** A self-contained sf-dir fixture: 8 well-separated Gaussian
    * clusters, 50 points each, dim 64, written as embeddings.parquet so
    * the IndexStore build/serve path runs exactly as in production. */
  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-graph-spec", seed = 321)

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  private lazy val queries = emb.filter($"vec_id" < 16)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  private def groundTruth(k: Int): Map[Long, Set[Long]] =
    emb.crossJoin(broadcast(queries))
      .groupBy($"query_id")
      .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", k).as("nn"))
      .select($"query_id", transform($"nn", x => x.getField("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap

  private def recallAt(k: Int, ef: Int, hops: Int): Double = {
    val ivfDir = IndexStore.ivf(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    val res = GraphSearch.search(spark, ivfDir, gDir, emb, queries,
        k, ef, hops)
      .groupBy($"query_id").agg(collect_list($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val gt = groundTruth(k)
    gt.map { case (qid, ids) =>
      (res.getOrElse(qid, Set.empty) & ids).size.toDouble / ids.size
    }.sum / gt.size
  }

  test("beam search recall@10 >= 0.9 on clustered data (production ef/hops)") {
    val r = recallAt(10, ef = 16, hops = 3)
    assert(r >= 0.9, s"clustered graph-search recall $r < 0.9")
  }

  test("recall is non-decreasing in hops (beam ⊆ next candidate set)") {
    // candidates at hop h+1 always include the hop-h beam, so the kept
    // ef-best can only improve — the ef_search-style knob a user turns
    val curve = Seq(1, 2, 3).map(h => h -> recallAt(10, ef = 16, hops = h))
    curve.sliding(2).foreach { case Seq((h1, r1), (h2, r2)) =>
      assert(r2 >= r1, s"recall fell from $r1 (hops=$h1) to $r2 (hops=$h2)")
    }
  }

  test("recall grows with ef on the clustered fixture (regression pin, not a theorem)") {
    // NOT provable in general (a wider beam's extra frontier can
    // displace the carrier node that reached a true neighbor in the
    // narrower run — only the HOPS curve is monotone by proof); the
    // fixture is fully seeded and the traversal deterministic, so the
    // typical wider-beam-finds-more behavior is pinned as a regression
    val curve = Seq(10, 16, 24).map(ef => ef -> recallAt(10, ef = ef, hops = 3))
    curve.sliding(2).foreach { case Seq((e1, r1), (e2, r2)) =>
      assert(r2 >= r1, s"recall fell from $r1 (ef=$e1) to $r2 (ef=$e2)")
    }
  }

  test("insert path: masked links only, dense ranks, links stay in-cluster") {
    // v_graph_insert over the clustered fixture: the InsertBatch slice
    // is "new"; its links must never touch another new vector (the
    // soft-delete mask), every vector gets exactly 5 dense-ranked
    // links, and on 8 well-separated Gaussians the links land in the
    // vector's own planted cluster (membership = vec_id % 8)
    val mod = graft.queries.IndexQueries.InsertBatchMod
    val res = graft.queries.IndexQueries.InsertBatchResidue
    val rows = graft.queries.IndexQueries.all("v_graph_insert")(spark, fixtureDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byVec = rows.groupBy(_._1)
    assert(byVec.nonEmpty && byVec.keys.forall(_ % mod == res))
    byVec.foreach { case (v, links) =>
      assert(links.map(_._3).sorted.toSeq === (1L to 5L), s"ranks not dense for $v")
      assert(links.forall(_._2 % mod != res), s"$v linked to a masked batch node")
    }
    val inCluster = rows.count { case (v, n, _) => v % 8 == n % 8 }
    assert(inCluster.toDouble / rows.length >= 0.9,
      s"links left the planted cluster: $inCluster/${rows.length}")
  }

  test("sweep shares hop-1 but equals an independent search at every point") {
    // the hop-1 scored set is ef-independent up to prefix; the shared
    // form must be decision-for-decision the independent traversal
    val ivfDir = IndexStore.ivf(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    val sw = GraphSearch.sweep(spark, ivfDir, gDir, emb, queries,
      k = 10, efs = Seq(10, 16, 24), hops = 3).toMap
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._3)).toSeq
    Seq(10, 16, 24).foreach { ef =>
      val ind = GraphSearch.search(spark, ivfDir, gDir, emb, queries,
        k = 10, ef = ef, hops = 3)
      assert(rows(sw(ef)) == rows(ind), s"sweep diverged at ef=$ef")
    }
  }

  test("delete path: soft-deleted nodes never surface, ranks stay dense") {
    val mod = graft.queries.IndexQueries.DeleteMod
    val res = graft.queries.IndexQueries.DeleteResidue
    val rows = graft.queries.IndexQueries.all("v_graph_delete")(spark, fixtureDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, links) =>
      // the beam must FILL to k from live nodes (masking shrinks the
      // candidate pool, never the contract)
      assert(links.map(_._3).sorted.toSeq == (1L to 10L), s"ranks for $q")
      assert(links.forall(_._2 % mod != res), s"deleted node surfaced for $q")
    }
  }

  test("traversal is deterministic: two runs return identical rows") {
    val ivfDir = IndexStore.ivf(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    def run() = GraphSearch.search(spark, ivfDir, gDir, emb, queries,
        k = 10, ef = 16, hops = 3)
      .orderBy("query_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(run() == run())
  }

  test("k > ef is rejected (final top-k is read off the ef-beam)") {
    val ivfDir = IndexStore.ivf(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    intercept[IllegalArgumentException] {
      GraphSearch.search(spark, ivfDir, gDir, emb, queries,
        k = 20, ef = 16, hops = 1)
    }
  }
}
