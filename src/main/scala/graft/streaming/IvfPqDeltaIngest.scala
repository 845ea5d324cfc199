package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.PqIndex

/** Streaming delta ingest into the COMPOSITE IVF-PQ index — the LSM
  * write path (engine.h buffers → background flush → merge) extended to
  * the inverted-list-with-codes layout:
  *
  *  - [[appendBatch]]: each micro-batch is deduplicated and assigned to
  *    its nearest persisted centroid (IvfDeltaIngest.resolveBatch), then
  *    PQ-ENCODED against the persisted codebooks — its codes are
  *    directly comparable to the index's — and committed with ONE append
  *    to the `delta_log` buffer (IvfDeltaIngest.commit). The buffer row
  *    carries BOTH the raw embedding and the codes: searches brute-force
  *    the bounded buffer at EXACT distance (exactly as the reference
  *    brute-forces its write buffers while the graph serves approximate
  *    results), and compaction folds the codes into the lists without
  *    needing the codebooks again.
  *  - [[compact]]: with the build (IndexStore), the only writer of
  *    `lists` — folds lists ∪ buffer to the latest seq per vec_id,
  *    atomically swaps, then truncates the buffer. Compacted rows keep
  *    only codes; their exact-distance serving window ends at
  *    compaction, which is the quantization contract of the index
  *    itself.
  */
object IvfPqDeltaIngest {

  /** Assign + encode one micro-batch of (vec_id, embedding) and commit
    * it to the buffer. Subspace geometry is DERIVED from the persisted
    * codebooks (PqIndex.bookGeometry), so the codes can never be sliced
    * against the wrong boundaries. */
  def appendBatch(spark: SparkSession, listsDir: String, ivfDir: String,
      pqDir: String, batch: DataFrame, seq: Long): Unit = {
    import spark.implicits._
    val cent = spark.read.parquet(s"$ivfDir/centroids")
    val books = spark.read.parquet(s"$pqDir/codebooks")
    val (numSub, subDim) = PqIndex.bookGeometry(books)
    // persisted: referenced by both the encode input and the re-join —
    // recomputing the resolveBatch aggregation twice would also let a
    // nondeterministic source pair codes with a different row's embedding
    val assigned = IvfDeltaIngest.resolveBatch(batch, cent, seq)
      .persist(StorageLevel.MEMORY_AND_DISK)
    IvfDeltaIngest.commit(listsDir, PqIndex
      .encode(assigned, "vec_id", "embedding", books, numSub, subDim)
      .join(assigned, "vec_id")
      .select($"vec_id", $"embedding", $"codes", $"seq", $"cluster_id"))
    assigned.unpersist()
  }

  /** Latest buffered row per vec_id, or None if the buffer is empty. */
  def deltaLatest(spark: SparkSession, listsDir: String): Option[DataFrame] =
    IvfDeltaIngest.deltaLatest(spark, listsDir)

  /** Fold lists ∪ buffer codes (latest seq per vec_id), atomically swap,
    * truncate the buffer. */
  def compact(spark: SparkSession, listsDir: String): Unit = {
    val compacted = IvfDeltaIngest
      .latestTable(spark, listsDir, "lists", Seq("codes"))
      .repartition(col("cluster_id"))
    IvfDeltaIngest.atomicSwap(listsDir, "lists") { tmp =>
      compacted.write.partitionBy("cluster_id").parquet(tmp)
    }
    IvfDeltaIngest.deleteRecursively(new File(s"$listsDir/delta_log"))
  }
}
