package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.{GraphSearch, IndexStore}

/** Data-sized hierarchy depth (the reference's get_random_level /
  * MAX_HNSW_LEVELS contract, hnsw_index.h:353-358 + hnsw_node.h:12):
  * the layer count grows logarithmically with the corpus
  * (GraphSearch.levelsFor), the store persists layer1..layerL + meta,
  * and search descends every layer. This spec runs the whole layered
  * family at L = 3 — a corpus sized so the occupancy law genuinely
  * adds a third upper layer (2500 rows: 312 / 52 / 9 nodes on layers
  * 1/2/3 under the deterministic level hash) — the depth the
  * two-layer fixtures never reach. */
class HnswLevelsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-hnswlvl-spec", seed = 135, n = 2500)

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  private def levelOf(v: Long): Int = {
    val h = (v * 2654435761L) % 1000003L
    val h2 = (h * h + h) % 999983L
    (GraphSearch.MaxUpperLevels to 1 by -1)
      .find(l => h2 % math.pow(8, l).toLong == 0).getOrElse(0)
  }

  test("levelsFor follows the >=2 expected-occupancy law and caps at " +
      "MaxUpperLevels") {
    assert(GraphSearch.levelsFor(1) == 1)
    assert(GraphSearch.levelsFor(100) == 1)     // 2*64 = 128 > 100
    assert(GraphSearch.levelsFor(128) == 2)
    assert(GraphSearch.levelsFor(500) == 2)     // the sf0.01 gate depth
    assert(GraphSearch.levelsFor(1023) == 2)
    assert(GraphSearch.levelsFor(1024) == 3)    // 2*8^3
    assert(GraphSearch.levelsFor(2000) == 3)    // the sf0.1 depth
    assert(GraphSearch.levelsFor(8192) == 4)
    assert(GraphSearch.levelsFor(2L * 262144) == 6)
    assert(GraphSearch.levelsFor(1000000000L) == 6) // capped
    // logarithmic growth: 10x the corpus adds ~1 layer
    assert(GraphSearch.levelsFor(20000) - GraphSearch.levelsFor(2000) == 1)
  }

  test("hnswLevels sizes the fixture to three layers; a forced override " +
      "wins but still clamps to a populated slice") {
    assert(IndexStore.hnswLevels(spark, fixtureDir) == 3)
    try {
      sys.props("graft.hnsw.levels") = "2"
      assert(IndexStore.hnswLevels(spark, fixtureDir) == 2)
      // a forced depth may only land on a POPULATED slice (id 0's
      // h2 = 0 populates every level here, so 5 is accepted as-is;
      // a corpus without such a node steps down instead)
      sys.props("graft.hnsw.levels") = "5"
      val eff = IndexStore.hnswLevels(spark, fixtureDir)
      assert(eff <= 5 &&
        (0L until 2500L).exists(v => levelOf(v) >= eff), s"clamped to $eff")
    } finally sys.props.remove("graft.hnsw.levels")
  }

  test("the three-layer store persists layer1..layer3 + entry + meta; " +
      "every layer keeps containment and the entry is the min-id " +
      "top-layer node") {
    val hDir = IndexStore.hnsw(spark, fixtureDir)
    assert(GraphSearch.storedLevels(spark, hDir) == 3)
    for (l <- 1 to 3) {
      val edges = spark.read.parquet(s"$hDir/layer$l")
        .select($"vec_id", $"neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(edges.nonEmpty, s"layer$l is empty")
      edges.foreach { case (a, b) =>
        assert(levelOf(a) >= l && levelOf(b) >= l,
          s"layer$l edge $a->$b leaves the level-$l slice")
      }
      edges.groupBy(_._1).foreach { case (v, es) =>
        assert(es.size <= 3, s"layer$l node $v has ${es.size} > k edges")
      }
    }
    val entry = spark.read.parquet(s"$hDir/entry").collect()(0).getLong(0)
    val want = (0L until 2500L).filter(levelOf(_) >= 3).min
    assert(entry == want, s"entry $entry != $want")
  }

  private def search(): Map[Long, Seq[Long]] =
    SparkEntry.queries("v_hnsw_search")(spark, fixtureDir)
      .orderBy("query_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  test("three-layer search: recall@10 >= 0.9 on clustered data and the " +
      "descent is deterministic") {
    val q = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val gt = emb.crossJoin(broadcast(q))
      .groupBy($"query_id")
      .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", 10).as("nn"))
      .select($"query_id", transform($"nn", x => x.getField("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val res = search()
    val recall = gt.map { case (qid, ids) =>
      (res.getOrElse(qid, Seq.empty).toSet & ids).size.toDouble / ids.size
    }.sum / gt.size
    assert(recall >= 0.9, s"three-layer recall $recall < 0.9")
    assert(search() == res, "three-layer traversal is nondeterministic")
  }

  test("v_hnsw_stats reports all three layers with the geometric census") {
    val got = SparkEntry.queries("v_hnsw_stats")(spark, fixtureDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    for (l <- 1 to 3)
      assert(got(l.toLong) ==
        (0L until 2500L).count(levelOf(_) >= l).toLong, s"layer $l census")
    assert(got(1L) > got(2L) && got(2L) > got(3L))
  }
}
