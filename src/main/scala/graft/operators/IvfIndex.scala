package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftVector._

/** IVF (inverted-file) coarse index over an embedding column — the
  * batch-Spark re-expression of the reference's ANN index build + search
  * (/root/reference/include/hnsw_index.h). An HNSW graph is a pointer-
  * chasing, shared-memory structure that cannot be traversed efficiently
  * across executors; the Spark-native equivalent of "don't scan
  * everything" is coarse quantization + partition pruning:
  *
  *  - build: MLlib KMeans (seeded) fits k centroids; every vector is
  *    assigned to its nearest centroid. At scale the assignment table is
  *    written `partitionBy(cluster_id)`, so a probe reads only matching
  *    partitions — predicate pushdown for vectors.
  *  - search: queries are assigned to their `nprobe` nearest centroids
  *    (tiny broadcast cross join), then candidates are fetched by
  *    cluster-id equi-join and ranked with the bounded top-k aggregate.
  *
  * ef_search ↔ nprobe: both trade recall for probe width.
  */
object IvfIndex {

  /** The IVF sizing rule, made first-class: k must GROW with the corpus
    * so cluster populations stay bounded — a fixed k makes every probe
    * (and the kNN-graph build) O(n²/k), the one super-linear wall the
    * sf1 scaling artifact measured (SCALE_sf1.json: knnGraph 155–192 s
    * at k=16 vs 27–45 s at k∝n on the same 10× corpus). FAISS guidance
    * is the same shape (k ≈ √n to n/256). The suite pins k = 16 only
    * because the sf0.01 oracle gate embeds those literal centroids. */
  def chooseK(n: Long, targetPopulation: Int = 256): Int =
    math.max(16, math.ceil(n.toDouble / targetPopulation).toInt)

  /** Fit centroids + assignments. Returns (centroids, assignments):
    * centroids(cluster_id int, centroid array<float>),
    * assignments = input columns + cluster_id.
    */
  def build(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int = 10, seed: Long = 42L)
      : (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    val ds = embeddings.withColumn("__features", array_to_vector(col(vecCol)))
    val model = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__features").setPredictionCol("cluster_id")
      .fit(ds)
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toArray.map(_.toFloat).toSeq) }
      .toDF("cluster_id", "centroid")
    val assignments = model.transform(ds).drop("__features")
    (centroids, assignments)
  }

  /** 100 TB-path build: centroids from a bounded deterministic sample
    * (driver Lloyd — same trainer as PQ), assignment distributed. MLlib's
    * full-corpus fit above is right for moderate sizes; at extreme scale
    * coarse centroids don't improve past ~10⁵ training points, so paying
    * full passes per Lloyd iteration is waste.
    *
    * The sample is the smallest-N rows by a Knuth multiplicative hash of
    * the id (the d_stratified_sample discipline), NOT the first N ids: at
    * corpus scale ids correlate with ingest time, and a first-N sample
    * would train the coarse quantizer on the oldest era of a drifting
    * corpus. Hash order is uniform over the corpus yet fully
    * deterministic; ties (ids ≡ mod 2³²) break on the id itself. The
    * orderBy+limit pair compiles to TakeOrdered — a per-partition bounded
    * heap plus a driver merge, never a full sort shuffle. The SELECTED
    * rows are then re-sorted by id before Lloyd: the trainer's seeding
    * is sample-order-sensitive, and id order makes the trained centroids
    * a function of WHICH rows were picked, not of the hash permutation —
    * in particular, a corpus at or under sampleSize trains on exactly
    * the same ordered sample as a full take would. */
  def buildSampled(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 10, sampleSize: Int = 10000)
      : (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sample = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(pmod(col("id") * lit(2654435761L), lit(4294967296L)), col("id"))
      .limit(sampleSize)
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Float](1).toArray)
    val centroids = DfKMeans.localLloyd(sample, k, iters).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster_id", "centroid")
    val pts = embeddings.select(lit(0).as("group"),
      col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val assignments = DfKMeans.assign(pts,
        centroids.select(lit(0).as("group"),
          $"cluster_id".as("code"), $"centroid"))
      .select($"id".as(idCol), $"code".as("cluster_id"))
      .join(embeddings.withColumnRenamed(idCol, "__id"),
        col(idCol) === col("__id"))
      .drop("__id")
    (centroids, assignments)
  }

  /** query → its nprobe nearest centroids, (query_id, qv, cluster_id):
    * a tiny broadcast cross join ranked by (distance, cluster_id) — the
    * entry-point resolution shared by every probed search form. */
  def resolveProbes(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    resolveProbesRanked(queries, centroids, nprobe).drop("crnk")

  /** [[resolveProbes]] with the rank kept: (query_id, qv, cluster_id,
    * crnk), crnk ∈ 1..nprobe by (cdist, cluster_id). The ranking is
    * nprobe-independent, so a sweep resolves ONCE at its max width and
    * each point's probe set is the crnk ≤ np prefix — the ef-sweep
    * prefix law, applied to the IVF knob. */
  def resolveProbesRanked(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.crossJoin(broadcast(centroids))
      .withColumn("cdist", l2Sq($"qv", $"centroid"))
      .withColumn("crnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"query_id").orderBy($"cdist", $"cluster_id")))
      .filter($"crnk" <= nprobe)
      .select($"query_id", $"qv", $"cluster_id", $"crnk")
  }

  /** The probes' distinct cluster ids, collected driver-side (bounded:
    * ≤ |queries| × nprobe ints) to become a static partition filter. */
  def collectProbeIds(probes: DataFrame): Array[Int] = {
    val spark = probes.sparkSession
    import spark.implicits._
    probes.select($"cluster_id").distinct()
      .collect().map(_.getInt(0)).sorted
  }

  /** ANN top-k against a PERSISTED index directory (see [[IndexStore]]):
    * the nprobe cluster ids are resolved first (a bounded
    * |queries| × nprobe set, collected like the reference resolves its
    * entry points before traversal — hnsw_index.h search touches a
    * neighborhood, never the whole index), then pushed into the
    * partitioned assignments scan as a LITERAL `isin` filter, so the read
    * is file-level partition-pruned: nprobe/k of the data comes off disk.
    *
    * Rows streamed in since the last compaction live in the bounded
    * `delta_log` write buffer (IvfDeltaIngest); [[probedWithBuffer]]
    * makes the newest of them shadow the index.
    */
  def searchPruned(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    val probes = resolveProbes(queries, centroids, nprobe)
    val probeIds = collectProbeIds(probes)
    searchPrunedFrames(spark, indexDir, queries, probes, probeIds, k)
  }

  /** [[searchPruned]] past probe resolution: the pruned scan + buffer
    * shadow ([[probedWithBuffer]]) + top-k over caller-supplied `probes`
    * (query_id, qv, cluster_id) and their distinct `probeIds`. The
    * serving front end ([[graft.streaming.SearchServer]]) resolves
    * probes DRIVER-SIDE against its in-memory centroid copy — the two
    * Spark jobs (cross-join rank + distinct-collect) that per-request
    * plans paid become plain arithmetic there, and this one job is all
    * a request batch costs. `queries` must carry one (query_id, qv) row
    * per query (the buffer brute-force side). */
  def searchPrunedFrames(spark: SparkSession, indexDir: String,
      queries: DataFrame, probes: DataFrame, probeIds: Seq[Int],
      k: Int): DataFrame =
    rankProbed(probedScan(spark, indexDir, probeIds),
      graft.streaming.IvfDeltaIngest.deltaLatest(spark, indexDir),
      queries, probes, k)

  /** Filtered ANN — the pre-filtered variant of [[searchPruned]] (the
    * problem FAISS/Milvus call metadata filtering; post-filtering a
    * plain top-k under-fills when matches are rare): the label
    * predicate lands on the SCAN of the probed cluster partitions
    * (metadata rides in the index — [[IndexStore.ivf]] persists it
    * beside each vector precisely so this is a pushed parquet filter,
    * not a corpus-wide id-join), and the top-k heap only ever sees
    * predicate-passing candidates, so it always fills to k when k
    * matches exist in the probed clusters. Write-buffer rows shadow
    * the index through the same [[probedWithBuffer]] step as
    * searchPruned. A buffer row's label is its own, or the indexed
    * row's for the same vec_id where it has none (a vec_id in neither
    * has no label, so no filter passes it); a buffer row whose label
    * fails keeps shadowing its vec_id with a null embedding, which
    * never ranks. */
  def searchPrunedFiltered(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int, nprobe: Int, labels: Seq[Int]): DataFrame = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$indexDir/centroids")
    val probes = resolveProbes(queries, centroids, nprobe)
    val labelOk = $"label".isin(labels.map(i => i: Any): _*)
    val buffer = graft.streaming.IvfDeltaIngest.deltaLatestMeta(spark, indexDir)
      .map(_.select($"vec_id", when(labelOk, $"embedding").as("embedding")))
    rankProbed(probedScan(spark, indexDir, collectProbeIds(probes), labelOk),
      buffer, queries, probes, k)
  }

  private def assignmentsRead(spark: SparkSession,
      indexDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$indexDir/assignments")

  /** The probed clusters' (vec_id, embedding, cluster_id) rows that
    * pass `filter` — a literal partition filter, so only those clusters
    * come off disk. The assignments table holds one row per vec_id
    * (only the build and compact() write it, and both guarantee it),
    * so no dedup is needed beyond the buffer shadow. */
  private def probedScan(spark: SparkSession, indexDir: String,
      probeIds: Seq[Int], filter: Column = lit(true)): DataFrame = {
    import spark.implicits._
    assignmentsRead(spark, indexDir)
      .filter($"cluster_id".isin(probeIds.map(i => i: Any): _*))
      .filter(filter)
      .select($"vec_id", $"embedding", $"cluster_id")
  }

  /** The probed raw-vector searches' shared tail: `scan` paired with
    * its `probes` (query_id, qv, cluster_id), shadowed by `buffer`
    * ([[probedWithBuffer]]), ranked by exact squared L2. */
  private def rankProbed(scan: DataFrame, buffer: Option[DataFrame],
      queries: DataFrame, probes: DataFrame, k: Int): DataFrame =
    KnnSearch.ranked(
      probedWithBuffer(scan, buffer, queries)(
        _.join(broadcast(probes), "cluster_id")
          .select("query_id", "qv", "vec_id", "embedding")),
      "query_id", l2Sq(col("embedding"), col("qv")), col("vec_id"), k)

  /** Write-buffer fidelity, shared by every probed search over a store
    * with a `delta_log` (engine.h:search_knn consults buffers BEFORE
    * the graph): `pair` joins the pruned `scan` to its probes, minus
    * every row whose vec_id the `buffer` (vec_id, embedding) holds (a
    * broadcast anti-join — never a wide dedup shuffle), and every
    * buffer row is paired with EVERY query, probe set or not, through
    * `pairBuffer` (identity when `pair` already yields buffer-shaped
    * columns). A vector re-ingested into a different cluster is
    * therefore always served at its newest embedding, even when only
    * its old cluster is probed — the "newest buffer entry shadows the
    * index" contract, not an eventual-consistency window. With no
    * buffer (post-compaction steady state) this is the plain probed
    * scan. `queries` carries one (query_id, qv) row per query. */
  private[operators] def probedWithBuffer(scan: DataFrame,
      buffer: Option[DataFrame], queries: DataFrame)(
      pair: DataFrame => DataFrame,
      pairBuffer: DataFrame => DataFrame = identity): DataFrame =
    buffer match {
      case None => pair(scan)
      case Some(b) =>
        val buf = broadcast(b.select("vec_id", "embedding"))
        pair(scan.join(broadcast(buf.select("vec_id")), Seq("vec_id"),
            "left_anti"))
          .unionByName(pairBuffer(buf.crossJoin(
            broadcast(queries.select("query_id", "qv")))))
    }

  /** ANN top-k: probe the nprobe nearest clusters per query. */
  def search(centroids: DataFrame, assignments: DataFrame,
      queries: DataFrame, // (query_id, qv array<float>)
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val spark = assignments.sparkSession
    import spark.implicits._
    // 1. query → nprobe nearest centroids (both sides tiny: broadcast)
    val probes = resolveProbes(queries, centroids, nprobe)
    // 2. fetch candidates by cluster id (partition-pruned read at scale),
    //    rank with the bounded heap.
    KnnSearch.ranked(assignments.join(broadcast(probes), "cluster_id"),
      "query_id", l2Sq(col(vecCol), $"qv"), col(idCol), k)
  }
}
