package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftVector._

/** Composite IVF-PQ search — the two scale levers of this library
  * multiplied together, the classic inverted-list-with-codes design:
  *
  *  - IVF partition pruning picks WHICH vectors to score: the probe set
  *    becomes a literal partition filter, so only ~nprobe/k of the
  *    corpus is read (IvfIndex.searchPruned's file-level pruning);
  *  - PQ compression decides WHAT is read for each of them: the pruned
  *    partitions store 8-byte code arrays, not 256-byte raw vectors —
  *    a 32× narrower scan on top of the 4× pruning.
  *
  * At 100 TB of raw vectors this is the difference between scanning
  * ~6 TB of floats per query batch and ~200 GB of codes. The reference
  * keeps raw floats behind its graph (hnsw_node.h holds `const float*`);
  * IVF-PQ is what that design grows into when the corpus outlives RAM.
  *
  * Search: probes resolve exactly as IvfIndex.searchPruned (broadcast
  * centroid ranking, driver-collected literal probe set); the pruned
  * lists scan joins the per-query broadcast probe map; ADC folds each
  * row's codes through the query's broadcast lookup table (PqIndex's
  * flat-dtab trick); the bounded top-k aggregate ships only k rows per
  * (query, partition). Distances are quantized (adist), as in any PQ
  * system — recall floors are spec-gated on clustered fixtures.
  */
object IvfPq {

  /** queries: (query_id, qv array<float>). Returns (query_id,
    * neighbor_id, rnk, adist). `listsDir` is the cluster-partitioned
    * codes table from IndexStore.ivfpq; centroids/codebooks come from
    * the component indexes, and the subspace geometry is DERIVED from
    * the persisted codebooks (a caller-supplied numSub that disagreed
    * with the artifact would silently mis-slice every query). */
  def searchPruned(spark: SparkSession, ivfDir: String, pqDir: String,
      listsDir: String, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$ivfDir/centroids")
    val codebooks = spark.read.parquet(s"$pqDir/codebooks")
    val (numSub, subDim) = PqIndex.bookGeometry(codebooks)
    val probes = IvfIndex.resolveProbes(queries, centroids, nprobe)
    val probeIds = IvfIndex.collectProbeIds(probes)
    // pruned inverted-list scan: only the probed clusters' CODES are read
    val lists = spark.read.parquet(s"$listsDir/lists")
      .filter($"cluster_id".isin(probeIds.map(i => i: Any): _*))
      .select($"vec_id", $"codes", $"cluster_id")
    val dtab = PqIndex.adcTable(queries, codebooks, subDim)
    // write-buffer fidelity (IvfIndex.probedWithBuffer): rows streamed
    // in since the last compaction shadow their indexed predecessors and
    // are brute-forced against every query at EXACT distance — the
    // buffer is bounded and raw, so exact beats re-quantized
    // approximation, just as engine.h brute-forces its buffers while
    // the graph approximates.
    val pairs = IvfIndex.probedWithBuffer(lists,
        graft.streaming.IvfPqDeltaIngest.deltaLatest(spark, listsDir),
        queries)(
      _.join(broadcast(probes.select($"query_id", $"cluster_id")),
          "cluster_id")
        .join(broadcast(dtab), "query_id")
        .withColumn("adist", PqIndex.adcScore($"codes", $"dtab", numSub))
        .select($"query_id", $"vec_id", $"adist"),
      _.withColumn("adist", l2Sq($"embedding", $"qv"))
        .select($"query_id", $"vec_id", $"adist"))
    KnnSearch.ranked(pairs, "query_id", $"adist", $"vec_id", k,
      out = "adist", finish = round(_, 4))
  }

  /** Residual-encoded IVF-PQ search (FAISS IndexIVFPQ semantics — see
    * [[IndexStore.ivfpqResidual]]): probes resolve on the RAW
    * centroids exactly as [[searchPruned]]; the ADC lookup table is
    * then built PER (query, probed cluster) from the query's residual
    * against that cluster's centroid — |Q|·nprobe·numSub·codebookSize
    * entries, still bounded and broadcast — and joins the pruned lists
    * scan on cluster_id (a vector lives in exactly one cluster, so no
    * dedup). Everything downstream (code fold, bounded top-k) is the
    * shared PQ machinery. */
  def searchPrunedResidual(spark: SparkSession, ivfDir: String,
      rDir: String, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$ivfDir/centroids")
    val codebooks = spark.read.parquet(s"$rDir/codebooks")
    val (numSub, subDim) = PqIndex.bookGeometry(codebooks)
    val probes = IvfIndex.resolveProbes(queries, centroids, nprobe)
    val probeIds = IvfIndex.collectProbeIds(probes)
    val lists = spark.read.parquet(s"$rDir/lists")
      .filter($"cluster_id".isin(probeIds.map(i => i: Any): _*))
      .select($"vec_id", $"codes", $"cluster_id")
    val qres = probes
      .join(broadcast(centroids.select($"cluster_id", $"centroid")),
        "cluster_id")
      .select($"query_id", $"cluster_id",
        zip_with($"qv", $"centroid", (a, b) => a - b).as("qr"))
    val dtab = qres.crossJoin(broadcast(codebooks))
      .select($"query_id", $"cluster_id", $"sub", $"code",
        l2Sq(slice($"qr", $"sub" * subDim + 1, lit(subDim)), $"centroid")
          .as("d"))
      .groupBy($"query_id", $"cluster_id")
      .agg(transform(array_sort(collect_list(struct($"sub", $"code", $"d"))),
        x => x.getField("d")).as("dtab"))
    KnnSearch.ranked(lists.join(broadcast(dtab), "cluster_id"), "query_id",
      PqIndex.adcScore($"codes", $"dtab", numSub), $"vec_id", k,
      out = "adist", finish = round(_, 4))
  }
}
