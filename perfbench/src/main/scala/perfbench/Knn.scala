package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{IvfIndex, KnnSearch}

/** The batch kNN phase: a seeded corpus written as `.fvecs`, loaded with
  * `sources.Fvecs`, cached, indexed with `IvfIndex.buildSampled`, then
  * queried exactly (`KnnSearch.searchBatched`) and approximately (IVF
  * search at a fixed nprobe). */
object Knn {

  val K = 10

  final case class Setup(corpus: DataFrame, n: Long, readMs: Double,
      cacheMs: Double, cacheMb: Double)

  /** One round: index build, exact top-k and IVF top-k for every query. */
  final case class Round(queries: Int, buildMs: Double, exactMs: Double, annMs: Double,
      exact: Map[Long, Seq[Long]], ann: Map[Long, Seq[Long]],
      exactDist: Map[Long, Seq[Double]], candidatesPerQuery: Double)

  /** Load the `.fvecs` corpus and cache it as (vec_id, embedding). */
  def setup(spark: SparkSession, fvecsPath: String, tracer: Tracer): Setup = {
    val t0 = System.nanoTime()
    val read = tracer.span("knn.load") {
      val df = graft.sources.Fvecs.readFvecs(spark, fvecsPath)
      df.write.mode("overwrite").format("noop").save()
      df
    }
    val t1 = System.nanoTime()
    val corpus = read.select(col("id").as("vec_id"), col("vector").as("embedding"))
      .persist(StorageLevel.MEMORY_ONLY)
    val n = tracer.span("knn.cache")(corpus.count())
    val t2 = System.nanoTime()
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    Setup(corpus, n, (t1 - t0) / 1e6, (t2 - t1) / 1e6, cacheMb)
  }

  def queryFrame(spark: SparkSession, queries: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    queries.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq) }.toSeq
      .toDF("query_id", "qv")
  }

  private def collectTopK(df: DataFrame): (Map[Long, Seq[Long]], Map[Long, Seq[Double]]) = {
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byQ = rows.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).toSeq }
    (byQ.map { case (q, rs) => q -> rs.map(_._2) }, byQ.map { case (q, rs) => q -> rs.map(_._4) })
  }

  def round(spark: SparkSession, s: Setup, queries: DataFrame, nprobe: Int,
      tracer: Tracer): Round = {
    val k = IvfIndex.chooseK(s.n)
    val t0 = System.nanoTime()
    val (centroids, assignments) = tracer.span("knn.build", "clusters" -> k) {
      val (c, a) = IvfIndex.buildSampled(s.corpus, "vec_id", "embedding", k)
      val cc = c.persist(StorageLevel.MEMORY_ONLY)
      val aa = a.persist(StorageLevel.MEMORY_ONLY)
      cc.count(); aa.count()
      (cc, aa)
    }
    val t1 = System.nanoTime()
    val (exact, exactDist) = tracer.span("knn.exact") {
      collectTopK(KnnSearch.searchBatched(s.corpus, queries, "vec_id", "embedding", K, 1))
    }
    val t2 = System.nanoTime()
    val (ann, _) = tracer.span("knn.ann", "nprobe" -> nprobe) {
      collectTopK(IvfIndex.search(centroids, assignments, queries, "vec_id",
        "embedding", K, nprobe))
    }
    val t3 = System.nanoTime()
    val cand = if (tracer.enabled) candidatesPerQuery(centroids, assignments, queries, nprobe) else 0.0
    centroids.unpersist(false); assignments.unpersist(false)
    Round(exact.size, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
      exact, ann, exactDist, cand)
  }

  /** Mean number of corpus rows an IVF query scores at this nprobe: the
    * populations of its nprobe nearest clusters, ranked benchmark-side. */
  private def candidatesPerQuery(centroids: DataFrame, assignments: DataFrame,
      queries: DataFrame, nprobe: Int): Double = {
    val cents = centroids.collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val pops = assignments.groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qs = queries.collect().map(_.getSeq[Float](1).toArray)
    Stats.mean(qs.toSeq.map { q =>
      cents.map { case (id, c) => (GroundTruth.l2sq(c, q), id) }.sorted.take(nprobe)
        .map { case (_, id) => pops.getOrElse(id, 0L).toDouble }.sum
    })
  }
}
