package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{GraphSearch, IndexStore}

/** The layered-index INSERT path (v_hnsw_insert): batch nodes link into
  * every layer ≤ their level by the layer-build rule (probe → bounded
  * shortlist → select-neighbors heuristic → backfill) with the batch
  * masked out of the candidate pool. Laws: layer containment, batch
  * independence (as-if-first semantics), exact agreement with an
  * independent driver-side reimplementation of the selection rule, and
  * a search-after-insert round trip over the augmented layer tables.
  */
class HnswInsertSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-hnswins-spec", seed = 654)

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  private def levelOf(v: Long): Int = {
    val h = (v * 2654435761L) % 1000003L
    val h2 = (h * h + h) % 999983L
    if (h2 % 64 == 0) 2 else if (h2 % 8 == 0) 1 else 0
  }

  // the fixture batch: every 20th id offset 11 (the entry's slice rule);
  // at n=400 it holds level-1 and level-2 nodes
  private def isNewId(v: Long): Boolean = v % 20 == 11

  private lazy val ivfDir = IndexStore.graphIvf(spark, fixtureDir)
  private lazy val batch = emb.filter(pmod($"vec_id", lit(20)) === 11)
  private lazy val existing = spark.read.parquet(s"$ivfDir/assignments")
    .filter(pmod($"vec_id", lit(20)) =!= 11)

  private def insertLayer(minLevel: Int, nprobe: Int,
      b: DataFrame = batch): Seq[(Long, Long, Long, Double)] =
    GraphSearch.layerInsert(spark, ivfDir, emb, b, existing,
        minLevel = minLevel, k = 3, nprobe = nprobe)
      .select($"vec_id", $"neighbor_id", $"rnk", $"dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq

  test("fixture batch spans the levels (else the laws test nothing)") {
    val lv = (0L until 400L).filter(isNewId).map(levelOf)
    assert(lv.count(_ >= 1) >= 2 && lv.count(_ >= 2) >= 1,
      s"batch level census too thin: $lv")
  }

  test("layer containment: queries and neighbors stay in the layer slice, " +
      "neighbors never in the batch, ranks contiguous from 1") {
    for ((minLvl, np) <- Seq(1 -> 4, 2 -> 16)) {
      val rows = insertLayer(minLvl, np)
      assert(rows.nonEmpty, s"layer-$minLvl insert is empty")
      rows.foreach { case (v, nb, _, _) =>
        assert(isNewId(v) && levelOf(v) >= minLvl, s"bad query $v at layer $minLvl")
        assert(!isNewId(nb), s"neighbor $nb is a batch member")
        assert(levelOf(nb) >= minLvl, s"neighbor $nb below layer $minLvl")
      }
      rows.groupBy(_._1).foreach { case (v, es) =>
        assert(es.map(_._3).sorted == (1L to es.size), s"ranks of $v: $es")
        assert(es.size <= 3, s"$v got ${es.size} > k edges")
      }
    }
  }

  test("batch independence: inserting the batch equals inserting each " +
      "node alone (as-if-first semantics)") {
    val whole = insertLayer(1, 4).toSet
    val oneByOne = (0L until 400L).filter(v => isNewId(v) && levelOf(v) >= 1)
      .flatMap { v =>
        insertLayer(1, 4, b = emb.filter($"vec_id" === v))
      }.toSet
    assert(whole == oneByOne)
  }

  test("selection matches an independent reimplementation of probe -> " +
      "shortlist -> heuristic -> backfill") {
    val cent = spark.read.parquet(s"$ivfDir/centroids")
      .select($"cluster_id".cast("long"), $"centroid")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val assign = spark.read.parquet(s"$ivfDir/assignments")
      .select($"vec_id", $"embedding", $"cluster_id".cast("long"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getLong(2)))
    // the engine's shared lane-4 kernel: rank decisions in this
    // reference replay must compare the same doubles the plan computed
    def l2sq(a: Array[Float], b: Array[Float]): Double =
      graft.functions.VectorKernels.l2sqF(a, b)
    for ((minLvl, np) <- Seq(1 -> 4, 2 -> 16)) {
      val got = insertLayer(minLvl, np)
        .map { case (v, nb, r, _) => (v, nb, r) }.toSet
      val want = assign.filter(a => isNewId(a._1) && levelOf(a._1) >= minLvl)
        .flatMap { case (v, qv, _) =>
          val probes = cent.toSeq.map { case (c, cv) => (l2sq(qv, cv), c) }
            .sorted.take(np).map(_._2).toSet
          val cands = assign
            .filter(a => probes(a._3) && !isNewId(a._1) && a._1 != v &&
              levelOf(a._1) >= minLvl)
            .map(a => (l2sq(a._2, qv), a._1, a._2))
            .sortBy(c => (c._1, c._2)).take(32)
          val sel = cands.foldLeft(Vector.empty[(Double, Long, Array[Float])]) {
            (acc, c) =>
              if (acc.size >= 3) acc
              else if (acc.forall(kept => l2sq(c._3, kept._3) >= c._1)) acc :+ c
              else acc
          }
          val selIds = sel.map(_._2).toSet
          val fin = (sel ++ cands.filterNot(c => selIds(c._2))).take(3)
          fin.zipWithIndex.map { case (c, i) => (v, c._2, (i + 1).toLong) }
        }.toSet
      assert(got == want, s"layer-$minLvl selection drifted from the rule")
    }
  }

  test("search-after-insert: a batch vector queried against the augmented " +
      "index returns itself at rank 1, dist 0") {
    val hDir = IndexStore.hnsw(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    val aug = java.nio.file.Files.createTempDirectory("graft-hnswins-aug")
      .toString
    // union the insert deltas into each layer table (the sibling-dir
    // ingest step), recompute the entry over the augmented top layer
    for ((layer, minLvl, np) <- Seq(("layer1", 1, 4), ("layer2", 2, 16))) {
      val delta = GraphSearch.layerInsert(spark, ivfDir, emb, batch,
        existing, minLevel = minLvl, k = 3, nprobe = np)
      spark.read.parquet(s"$hDir/$layer")
        .unionByName(delta)
        .write.mode("overwrite").parquet(s"$aug/$layer")
    }
    emb.filter(GraphSearch.levelAtLeast($"vec_id", 2))
      .agg(min($"vec_id").as("node"))
      .coalesce(1).write.mode("overwrite").parquet(s"$aug/entry")
    spark.range(1).select(lit(2).as("levels"))
      .coalesce(1).write.mode("overwrite").parquet(s"$aug/meta")
    // layer 0: the flat-graph insert path (v_graph_insert machinery)
    val cent = spark.read.parquet(s"$ivfDir/centroids")
      .select($"cluster_id", $"centroid")
    val med = GraphSearch.medoidsOf(
      spark.read.parquet(s"$ivfDir/assignments")
        .filter(pmod($"vec_id", lit(20)) =!= 11),
      cent.select($"cluster_id".cast("long").as("cluster_id"), $"centroid"))
    val l0old = spark.read.parquet(s"$gDir/edges")
      .filter(pmod($"vec_id", lit(20)) =!= 11 &&
        pmod($"neighbor_id", lit(20)) =!= 11)
      .select($"vec_id".as("node"), $"neighbor_id")
    val l0new = GraphSearch.searchFrames(spark, cent, med,
        l0old, emb.filter(pmod($"vec_id", lit(20)) =!= 11),
        batch.select($"vec_id".as("query_id"), $"embedding".as("qv")),
        k = 5, ef = 16, hops = 3)
      .select($"query_id".as("vec_id"), $"neighbor_id", $"rnk", $"dist")
    val g0 = java.nio.file.Files.createTempDirectory("graft-hnswins-g0")
      .toString
    l0old.select($"node".as("vec_id"), $"neighbor_id")
      .withColumn("rnk", lit(0L)).withColumn("dist", lit(0.0))
      .unionByName(l0new)
      .write.mode("overwrite").parquet(s"$g0/edges")
    spark.read.parquet(s"$gDir/medoids")
      .write.mode("overwrite").parquet(s"$g0/medoids")
    val q = batch.limit(4)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val res = GraphSearch.hnswSearch(spark, aug, g0, emb, q,
        k = 3, ef = 16, hops = 3)
      .filter($"rnk" === 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3)))
    assert(res.nonEmpty)
    res.foreach { case (qid, (nb, d)) =>
      assert(nb == qid && d == 0.0,
        s"query $qid rank-1 = ($nb, $d), not itself at 0")
    }
  }
}
