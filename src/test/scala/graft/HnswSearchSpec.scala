package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.{GraphSearch, IndexStore}

/** The layered search path (v_hnsw_search): deterministic level
  * assignment, sparse upper-layer kNN graphs, greedy descent to the
  * layer-0 entry, ef-beam finish. Recall guards run on PLANTED
  * CLUSTERED data (the GraphSearchSpec fixture discipline); the laws
  * (level nesting, layer-edge containment, determinism) hold anywhere.
  */
class HnswSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-hnsw-spec", seed = 321)

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  private lazy val queries = emb.filter($"vec_id" < 16)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  /** The level rule reimplemented independently of the Column code. */
  private def levelOf(v: Long, maxLevel: Int = 2): Int = {
    val h = (v * 2654435761L) % 1000003L
    val h2 = (h * h + h) % 999983L
    (maxLevel to 1 by -1).find(l => h2 % math.pow(8, l).toLong == 0)
      .getOrElse(0)
  }

  test("levelCol matches the reference arithmetic; layers nest and are sparse") {
    val got = emb.select($"vec_id",
        GraphSearch.levelCol($"vec_id", 2).as("lv"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (v, lv) => assert(lv == levelOf(v), s"level($v)") }
    val n1 = got.values.count(_ >= 1)
    val n2 = got.values.count(_ >= 2)
    // geometric occupancy: ~n/8 and ~n/64, and the layers nest
    assert(n1 > 0 && n2 > 0 && n2 < n1 && n1 < got.size / 4,
      s"layer occupancy off: n=${got.size}, n1=$n1, n2=$n2")
  }

  test("levelAtLeast agrees with levelCol at every depth; the fixture " +
      "sizes to two upper layers") {
    for (l <- 1 to 4) {
      val rows = emb.select($"vec_id",
          GraphSearch.levelAtLeast($"vec_id", l).as("in"),
          (GraphSearch.levelCol($"vec_id", 6) >= l).as("want"))
        .collect()
      rows.foreach(r => assert(r.getBoolean(1) == r.getBoolean(2),
        s"levelAtLeast($l) drifts from levelCol at ${r.getLong(0)}"))
    }
    assert(IndexStore.hnswLevels(spark, fixtureDir) == 2)
  }

  test("layer graphs connect only same-or-higher-level nodes") {
    val hDir = IndexStore.hnsw(spark, fixtureDir)
    for ((layer, minLvl) <- Seq("layer1" -> 1, "layer2" -> 2)) {
      val edges = spark.read.parquet(s"$hDir/$layer")
        .select($"vec_id", $"neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(edges.nonEmpty, s"$layer is empty")
      edges.foreach { case (a, b) =>
        assert(levelOf(a) >= minLvl && levelOf(b) >= minLvl,
          s"$layer edge $a->$b leaves the level-$minLvl slice")
      }
    }
  }

  test("entry is the min-id node of the top layer") {
    val hDir = IndexStore.hnsw(spark, fixtureDir)
    val got = spark.read.parquet(s"$hDir/entry").collect()(0).getLong(0)
    val want = (0L until 400L).filter(levelOf(_) >= 2).min
    assert(got == want, s"entry $got != $want")
  }

  private def search(k: Int, ef: Int, hops: Int): Map[Long, Set[Long]] = {
    val hDir = IndexStore.hnsw(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    GraphSearch.hnswSearch(spark, hDir, gDir, emb, queries, k, ef, hops)
      .groupBy($"query_id").agg(collect_list($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
  }

  test("v_hnsw_stats matches a driver-side recomputation from the " +
      "persisted layer tables") {
    val hDir = IndexStore.hnsw(spark, fixtureDir)
    val got = SparkEntry.queries("v_hnsw_stats")(spark, fixtureDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    for ((name, lv) <- Seq("layer1" -> 1L, "layer2" -> 2L)) {
      val nodes = (0L until 400L).filter(levelOf(_) >= lv).toSet
      val edges = spark.read.parquet(s"$hDir/$name")
        .select($"vec_id", $"neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val incoming = edges.map(_._2).toSet
      val want = (nodes.size.toLong, edges.length.toLong,
        edges.length * 1000L / nodes.size,
        (nodes -- incoming).size * 10000L / nodes.size)
      assert(got(lv) == want, s"$name stats ${got(lv)} != $want")
    }
  }

  test("layered search recall@10 >= 0.9 on clustered data (production ef/hops)") {
    val gt = emb.crossJoin(broadcast(queries))
      .groupBy($"query_id")
      .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", 10).as("nn"))
      .select($"query_id", transform($"nn", x => x.getField("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val res = search(10, ef = 16, hops = 3)
    val recall = gt.map { case (q, ids) =>
      (res.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size
    }.sum / gt.size
    assert(recall >= 0.9, s"layered-search recall $recall < 0.9")
  }

  test("traversal is deterministic: two runs return identical maps") {
    assert(search(10, 16, 3) == search(10, 16, 3))
  }

  test("k > ef is rejected") {
    intercept[IllegalArgumentException] {
      search(20, 16, 1)
    }
  }
}
