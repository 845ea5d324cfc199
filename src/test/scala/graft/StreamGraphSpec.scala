package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{GraphSearch, IndexStore}
import graft.streaming.GraphDeltaIngest

/** Streaming delta ingest into the persisted kNN graph
  * (GraphDeltaIngest): micro-batches of new vectors link into the
  * growing graph exactly as sequential batch application of the
  * v_graph_insert semantics — proven pair for pair — and later batches
  * can link THROUGH earlier streamed nodes (incremental growth, never
  * a rebuild). */
class StreamGraphSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-sgraph-spec", seed = 321)

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  // "new" slice streams in; base = the rest (the v_graph_insert split)
  private def isNew(id: Long): Boolean = id % 25 == 3
  private lazy val base = emb.filter(!($"vec_id" % 25 === 3))
  private lazy val batch1 = emb.filter(($"vec_id" % 25 === 3) && $"vec_id" < 200)
  private lazy val batch2 = emb.filter(($"vec_id" % 25 === 3) && $"vec_id" >= 200)

  /** Base-graph artifacts with the new slice masked out (the
    * v_graph_insert read discipline). */
  private lazy val masked = {
    val ivfDir = IndexStore.ivf(spark, fixtureDir)
    val gDir = IndexStore.knnGraph(spark, fixtureDir)
    val cent = spark.read.parquet(s"$ivfDir/centroids")
      .select($"cluster_id", $"centroid")
    val med = GraphSearch.medoidsOf(
      spark.read.parquet(s"$ivfDir/assignments")
        .filter(!($"vec_id" % 25 === 3)),
      cent.select($"cluster_id".cast("long").as("cluster_id"), $"centroid"))
      .localCheckpoint(true)
    val edges = spark.read.parquet(s"$gDir/edges")
      .filter(!($"vec_id" % 25 === 3) && !($"neighbor_id" % 25 === 3))
      .select($"vec_id", $"neighbor_id")
      .localCheckpoint(true)
    (cent, med, edges)
  }

  private def directLinks(edges: DataFrame, vecs: DataFrame,
      batch: DataFrame): DataFrame = {
    val (cent, med, _) = masked
    GraphSearch.searchFrames(spark, cent, med,
        edges.select($"vec_id".as("node"), $"neighbor_id"), vecs,
        batch.select($"vec_id".as("query_id"), $"embedding".as("qv")),
        k = 5, ef = 16, hops = 2)
      .select($"query_id".as("vec_id"), $"neighbor_id", $"rnk", $"dist")
  }

  private def collectEdges(df: DataFrame): Set[(Long, Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("two streamed micro-batches equal sequential batch application, pair for pair") {
    val (cent, med, edges) = masked
    val deltaDir = java.nio.file.Files
      .createTempDirectory("graft-gdelta").toString
    val inDir = s"$deltaDir/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    // two delta files = two micro-batches, processed in file order
    batch1.coalesce(1).write.mode("append").parquet(inDir)
    batch2.coalesce(1).write.mode("append").parquet(inDir)

    val q = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        GraphDeltaIngest.appendBatch(s"$deltaDir/delta", cent, med,
          edges, base, b.toDF(), k = 5, ef = 16, hops = 2)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$deltaDir/ckpt")
      .start()
    q.awaitTermination(180000)

    val streamed = collectEdges(
      GraphDeltaIngest.deltaEdges(spark, s"$deltaDir/delta").get)

    // sequential batch application of the same semantics
    val l1 = directLinks(edges, base, batch1).localCheckpoint(true)
    val vecs2 = base.unionByName(batch1.select($"vec_id", $"embedding"))
    val edges2 = edges.unionByName(l1.select($"vec_id", $"neighbor_id"))
    val l2 = directLinks(edges2, vecs2, batch2)
    assert(streamed == (collectEdges(l1) ++ collectEdges(l2)))

    // growth semantics: batch-2 may link through batch-1 nodes, and no
    // link ever targets a node of its own (or a later) micro-batch
    val b1Ids = batch1.select($"vec_id").collect().map(_.getLong(0)).toSet
    val b2Ids = batch2.select($"vec_id").collect().map(_.getLong(0)).toSet
    val b2Links = streamed.filter(e => b2Ids(e._1))
    assert(b2Links.nonEmpty)
    assert(streamed.filter(e => b1Ids(e._1)).forall(e => !isNew(e._2)),
      "batch-1 links must stay in the base graph")
    assert(b2Links.forall(e => !b2Ids(e._2)),
      "a batch must never link to itself")
    val through = b2Links.count(e => b1Ids(e._2))
    info(s"batch-2 links through batch-1 nodes: $through")
  }
}
