package graft

import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, IvfPq}
import graft.streaming.IvfPqDeltaIngest

/** Streaming writes into the composite IVF-PQ index: an update lands in
  * the raw-vector buffer only, which serves it EXACTLY (shadowing stale
  * codes regardless of the probe set), and compaction folds everything
  * down to one coded row per id. */
class IvfPqDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def withStore[T](f: => T): T = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/tmp-ivfpq-delta"))
    graft.operators.IndexStore.withRoot("target/tmp-ivfpq-delta")(f)
  }

  test("streamed update shadows stale codes and serves at exact distance") {
    withStore {
      val ivfDir = IndexStore.ivf(spark, sfDir, k = 8)
      val pqDir = IndexStore.pq(spark, sfDir)
      val listsDir = IndexStore.ivfpq(spark, sfDir, k = 8)
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val e7 = base.filter($"vec_id" === 7).select($"embedding").head().getSeq[Float](0)
      // re-ingest vec 0 with vec 7's embedding
      val delta = Seq((0L, e7)).toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      val listsBefore = dataFiles(s"$listsDir/lists")
      IvfPqDeltaIngest.appendBatch(spark, listsDir, ivfDir, pqDir, delta, seq = 1L)
      assert(new java.io.File(s"$listsDir/delta_log").exists())
      // the append writes the buffer only: the lists are untouched
      assert(dataFiles(s"$listsDir/lists") == listsBefore)

      // query at vec 7's embedding, all clusters probed: vec 0 must be
      // served from the buffer at EXACT distance 0 (not its stale codes'
      // quantized distance), and exactly once
      val q = Seq((42L, e7)).toDF("query_id", "qv")
        .select($"query_id", $"qv".cast("array<float>").as("qv"))
      val rows = IvfPq.searchPruned(spark, ivfDir, pqDir, listsDir, q,
          k = 10, nprobe = 8)
        .filter($"neighbor_id" === 0L).collect()
      assert(rows.length === 1, s"vec 0 must appear exactly once: ${rows.toSeq}")
      assert(rows.head.getDouble(3) === 0.0,
        s"buffered row must be served at exact distance 0, got ${rows.head}")

      // and with nprobe=1 at vec 0's ORIGINAL embedding (old cluster
      // only): the stale coded row must NOT surface as vec 0's result —
      // the buffer's new embedding defines its distance
      val e0 = base.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
      val exact = math.sqrt(e0.zip(e7).map { case (a, b) =>
        val d = a.toDouble - b.toDouble; d * d }.sum)
      val q0 = Seq((43L, e0)).toDF("query_id", "qv")
        .select($"query_id", $"qv".cast("array<float>").as("qv"))
      // k must exceed any possible candidate count (cluster + buffer) so
      // vec 0 is GUARANTEED in the result — a vacuously empty `stale`
      // would silently skip the distance assertion
      val corpusN = base.count().toInt
      val stale = IvfPq.searchPruned(spark, ivfDir, pqDir, listsDir, q0,
          k = corpusN + 1, nprobe = 1)
        .filter($"neighbor_id" === 0L).collect()
      assert(stale.length === 1,
        s"buffered vec 0 must be a candidate for every query: ${stale.toSeq}")
      stale.foreach { r =>
        assert(math.abs(r.getDouble(3) - exact * exact) < 1e-4,
          s"vec 0 served at a stale distance: $r (want adist ~ ${exact * exact})")
      }

      // compaction: one coded row per id, buffer gone, search still pruned
      IvfPqDeltaIngest.compact(spark, listsDir)
      assert(!new java.io.File(s"$listsDir/delta_log").exists())
      val lists = spark.read.option("mergeSchema", "true")
        .parquet(s"$listsDir/lists")
      assert(lists.filter($"vec_id" === 0L).count() === 1)
      assert(lists.count() === base.count())
      // post-compaction the row serves from its codes again (approximate)
      val post = IvfPq.searchPruned(spark, ivfDir, pqDir, listsDir, q,
          k = 10, nprobe = 8)
        .filter($"neighbor_id" === 0L).collect()
      assert(post.length === 1)
    }
  }
}
