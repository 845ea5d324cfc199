package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{GraphSearch, IndexStore}

/** Layered-index maintenance (v_hnsw_delete / v_hnsw_compact): the
  * soft-delete masks keep tombstones out of every layer of the
  * traversal, and compaction folds them out of the persisted tables,
  * re-links exactly the under-filled nodes, and leaves everyone else's
  * adjacency untouched. */
class HnswMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-hnswmnt-spec", seed = 987)

  private val DelMod = 17
  private val DelRes = 5
  private def isDelId(v: Long): Boolean = v % DelMod == DelRes
  /** Pure-hash mirror of GraphSearch.levelCol, parametric in depth —
    * the spec must not hardcode the two-layer shape: if the fixture
    * corpus ever crosses a levelsFor boundary the store gains a layer,
    * and a hardcoded list would silently test a truncated descent. */
  private def levelOf(v: Long, maxLevel: Int): Int = {
    val h = (v * 2654435761L) % 1000003L
    val h2 = (h * h + h) % 999983L
    (maxLevel to 1 by -1).find(l => h2 % math.pow(8, l).toLong == 0)
      .getOrElse(0)
  }

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  private def deleteSearch(qids: Seq[Long]): Seq[(Long, Long, Long, Double)] = {
    val hDir = IndexStore.hnsw(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    def isDel(c: org.apache.spark.sql.Column) = pmod(c, lit(DelMod)) === DelRes
    val live = emb.filter(!isDel($"vec_id"))
    val q = emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    def masked(name: String) = spark.read.parquet(s"$hDir/$name")
      .filter(!isDel($"vec_id") && !isDel($"neighbor_id"))
    // layer list from the store's own meta (the v_hnsw_delete idiom) —
    // tracks the data-sized depth instead of pinning two layers
    val levels = GraphSearch.storedLevels(spark, hDir)
    val entry = live.filter(GraphSearch.levelAtLeast($"vec_id", levels))
      .agg(min($"vec_id").as("node"))
    val stored = spark.read.parquet(s"$gDir/edges")
      .filter(!isDel($"vec_id") && !isDel($"neighbor_id"))
    GraphSearch.hnswSearchFrames(spark,
        (levels to 1 by -1).map(l => masked(s"layer$l")),
        entry, stored, live, q, k = 10, ef = 16, hops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
  }

  test("layered delete search never returns a tombstoned node; a deleted " +
      "id may still be a query; ranks are well-formed") {
    val delQ = (0L until 400L).find(isDelId).get
    val res = deleteSearch(Seq(0L, 1L, 2L, delQ))
    assert(res.nonEmpty)
    res.foreach { case (_, nb, _, _) =>
      assert(!isDelId(nb), s"deleted node $nb surfaced")
    }
    val byQ = res.groupBy(_._1)
    assert(byQ.keySet.contains(delQ), "deleted query id got no results")
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted == (1L to rs.size), s"ranks of $q")
    }
  }

  test("delete search is deterministic") {
    assert(deleteSearch(Seq(0L, 3L)).toSet == deleteSearch(Seq(0L, 3L)).toSet)
  }

  test("compacted store: no tombstone endpoint on any layer, entry live, " +
      "affected nodes re-linked to k live neighbors, unaffected rows " +
      "byte-identical to the base") {
    val hDir = IndexStore.hnsw(spark, fixtureDir)
    val cDir = IndexStore.hnswCompacted(spark, fixtureDir, DelMod, DelRes)
    val levels = GraphSearch.storedLevels(spark, hDir)
    for (name <- (1 to levels).map(l => s"layer$l")) {
      val base = spark.read.parquet(s"$hDir/$name")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      val comp = spark.read.parquet(s"$cDir/$name")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      comp.foreach { case (v, nb, _, _) =>
        assert(!isDelId(v) && !isDelId(nb), s"$name keeps tombstone $v->$nb")
      }
      val affected = base.filter(e => !isDelId(e._1) && isDelId(e._2))
        .map(_._1).toSet
      // unaffected live nodes keep their exact as-built rows
      val baseUnaffected = base.filter(e => !isDelId(e._1) && !affected(e._1))
        .toSet
      val compUnaffected = comp.filterNot(e => affected(e._1)).toSet
      assert(compUnaffected == baseUnaffected, s"$name unaffected rows drifted")
      // affected nodes are re-linked: k live neighbors, contiguous ranks
      affected.foreach { v =>
        val es = comp.filter(_._1 == v)
        assert(es.nonEmpty, s"$name affected $v lost all edges")
        assert(es.map(_._3).sorted == (1L to es.size), s"$name ranks of $v")
      }
      if (affected.nonEmpty)
        assert(comp.exists(e => affected(e._1)), s"$name repair delta empty")
    }
    val entry = spark.read.parquet(s"$cDir/entry").collect()(0).getLong(0)
    val want = (0L until 400L)
      .filter(v => levelOf(v, levels) >= levels && !isDelId(v)).min
    assert(entry == want, s"compacted entry $entry != $want")
  }

  test("search over the compacted store returns no tombstoned node") {
    val cDir = IndexStore.hnswCompacted(spark, fixtureDir, DelMod, DelRes)
    val gDir = IndexStore.knnGraphCompacted(spark, fixtureDir, DelMod, DelRes)
    val q = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val res = GraphSearch.hnswSearch(spark, cDir, gDir,
        emb.filter(pmod($"vec_id", lit(DelMod)) =!= DelRes), q,
        k = 10, ef = 16, hops = 3)
      .collect()
    assert(res.nonEmpty)
    res.foreach(r => assert(!isDelId(r.getLong(1)),
      s"tombstone ${r.getLong(1)} surfaced from the compacted store"))
  }
}
