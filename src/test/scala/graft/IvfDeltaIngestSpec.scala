package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, IvfIndex}
import graft.streaming.IvfDeltaIngest

/** The write path INTO the index: streamed deltas must land in the
  * write buffer only (searchable at once, no rebuild), newest write
  * must shadow older ones, and compaction must fold them into the right
  * cluster partitions and collapse duplicates — engine.h's buffer →
  * flush → merge cycle. */
class IvfDeltaIngestSpec extends SparkSpec {
  import spark.implicits._

  private def freshIndex(): String = {
    FileUtils.deleteQuietly(new java.io.File("target/tmp-ivf-delta"))
    IndexStore.withRoot("target/tmp-ivf-delta")(
      IndexStore.ivf(spark, sfDir, k = 8))
  }

  test("streamed deltas land partition-pruned and are immediately searchable") {
    val dir = freshIndex()
    // two micro-batches of NEW vectors: copies of existing ones, new ids
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val b1 = base.filter($"vec_id" < 3)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    val b2 = base.filter($"vec_id" >= 3 && $"vec_id" < 6)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    val assignmentsBefore = dataFiles(s"$dir/assignments")
    IvfDeltaIngest.appendBatch(spark, dir, b1, seq = 1L)
    IvfDeltaIngest.appendBatch(spark, dir, b2, seq = 2L)
    // an append writes the buffer only: no assignments file is added,
    // removed or rewritten
    assert(dataFiles(s"$dir/assignments") == assignmentsBefore)

    // a streamed vector's own embedding finds it as nearest (dist 0)
    val q = base.filter($"vec_id" < 3)
      .select(($"vec_id" + 100000).as("query_id"), $"embedding".as("qv"))
    // ...modulo the dist-0 tie with its source vector (smaller id wins
    // the (score, id) tie-break), so top-2 must be {source, streamed copy}
    val hits = IvfIndex.searchPruned(spark, dir, q, k = 2, nprobe = 2)
      .groupBy($"query_id")
      .agg(collect_set($"neighbor_id").as("ids"), max($"dist").as("worst"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSet, r.getDouble(2)))
    assert(hits.length === 3)
    hits.foreach { case (qid, ids, worst) =>
      assert(ids === Set(qid, qid - 100000L),
        s"query $qid should find its streamed self + source, got $ids")
      assert(worst === 0.0, s"both hits must be at distance 0, worst=$worst")
    }

    // compaction folds the deltas INSIDE cluster_id=N partition dirs
    IvfDeltaIngest.compact(spark, dir)
    val deltaFiles = FileUtils.listFiles(
        new java.io.File(s"$dir/assignments"), Array("parquet"), true)
    assert(deltaFiles.size() > 0)
    val all = spark.read.option("mergeSchema", "true").parquet(s"$dir/assignments")
    assert(all.filter($"vec_id" >= 100000L).count() === 6)
  }

  test("a moved vector is served fresh even when only its OLD cluster is probed") {
    val dir = freshIndex()
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val emb0 = base.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val emb7 = base.filter($"vec_id" === 7).select($"embedding").head().getSeq[Float](0)
    // re-insert vec 0 with vec 7's embedding — very likely a different cluster;
    // either way the buffer contract must hold regardless of the probe set
    val delta = Seq((0L, emb7)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    IvfDeltaIngest.appendBatch(spark, dir, delta, seq = 1L)
    assert(new java.io.File(s"$dir/delta_log").exists(), "write buffer must be durable")

    // query at vec 0's ORIGINAL embedding with nprobe=1: probes only the
    // old cluster. The stale row (dist 0) must NOT be served; the buffer
    // must surface vec 0 at its NEW embedding's true distance.
    val q = Seq((42L, emb0)).toDF("query_id", "qv")
      .select($"query_id", $"qv".cast("array<float>").as("qv"))
    val trueDist = math.rint(math.sqrt(
      emb0.zip(emb7).map { case (a, b) =>
        val d = a.toDouble - b.toDouble; d * d }.sum) * 1e4) / 1e4
    val rows = IvfIndex.searchPruned(spark, dir, q, k = 50, nprobe = 1)
      .filter($"neighbor_id" === 0L).collect()
    assert(rows.length <= 1, s"vec 0 must never appear twice: ${rows.toSeq}")
    rows.foreach { r =>
      assert(r.getDouble(3) === trueDist,
        s"vec 0 must be served at its NEW embedding (d=$trueDist), got ${r.getDouble(3)}")
    }

    // compaction folds the buffer in and truncates it
    IvfDeltaIngest.compact(spark, dir)
    assert(!new java.io.File(s"$dir/delta_log").exists(), "compact truncates the buffer")
    assert(!new java.io.File(s"$dir/assignments.compacting").exists())
    assert(!new java.io.File(s"$dir/assignments.old").exists())
    val raw = spark.read.parquet(s"$dir/assignments")
    assert(raw.filter($"vec_id" === 0L).count() === 1)
  }

  test("duplicate vec_id within one micro-batch resolves to one self-consistent row") {
    val dir = freshIndex()
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val e3 = base.filter($"vec_id" === 3).select($"embedding").head().getSeq[Float](0)
    val e7 = base.filter($"vec_id" === 7).select($"embedding").head().getSeq[Float](0)
    // two CONFLICTING updates for vec 0 in the same batch (no intra-batch
    // order exists) — the resolution must pick one whole row, never pair
    // one update's embedding with the other's cluster
    val batch = Seq((0L, e3), (0L, e7)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    IvfDeltaIngest.appendBatch(spark, dir, batch, seq = 1L)
    val rows = spark.read.parquet(s"$dir/delta_log")
      .filter($"vec_id" === 0L).collect()
    assert(rows.length === 1, s"one row per vec_id per batch: ${rows.toSeq}")
    val emb = rows.head.getSeq[Float](rows.head.fieldIndex("embedding"))
    val cid = rows.head.getInt(rows.head.fieldIndex("cluster_id"))
    assert(emb == e3 || emb == e7, "embedding must be one of the updates")
    // the stored cluster must be the nearest centroid OF THE STORED
    // embedding (row integrity)
    val cent = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val want = cent.map { case (c, cv) =>
      (cv.zip(emb).map { case (a, b) =>
        val d = a.toDouble - b.toDouble; d * d }.sum, c)
    }.min._2
    assert(cid === want, s"cluster $cid is not the stored embedding's nearest ($want)")
  }

  test("a row that reached only the buffer (crash window) survives compaction") {
    val dir = freshIndex()
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val total = base.count()
    val emb = base.filter($"vec_id" === 5).select($"embedding").head().getSeq[Float](0)
    // a row written to the buffer only — where every acknowledged
    // insert lives until compaction
    Seq((999999L, emb, 7L, 0))
      .toDF("vec_id", "embedding", "seq", "cluster_id")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"seq", $"cluster_id")
      .write.mode("append").parquet(s"$dir/delta_log")

    // the logical table already sees it...
    val latest = IvfDeltaIngest.latestAssignments(spark, dir)
    assert(latest.filter($"vec_id" === 999999L).count() === 1)
    // ...and compaction folds it in instead of dropping it with the buffer
    IvfDeltaIngest.compact(spark, dir)
    assert(!new java.io.File(s"$dir/delta_log").exists())
    val raw = spark.read.option("mergeSchema", "true").parquet(s"$dir/assignments")
    assert(raw.count() === total + 1)
    assert(raw.filter($"vec_id" === 999999L).count() === 1,
      "acknowledged buffered write must survive compaction")
  }

  test("re-insert shadows the old row; compaction collapses to one row per id") {
    val dir = freshIndex()
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val total = base.count()
    // re-insert vec_id 0 with a different embedding (vector 7's)
    val newEmb = base.filter($"vec_id" === 7).select($"embedding").head().getSeq[Float](0)
    val delta = Seq((0L, newEmb)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    IvfDeltaIngest.appendBatch(spark, dir, delta, seq = 1L)

    // PRE-COMPACTION search: the table holds vec 0's old row and the
    // buffer its new one, but searchPruned must surface only the newest
    // (a query at the new embedding finds vec 0 once, at distance 0 —
    // never a duplicate neighbor, never the stale embedding shadowing
    // the new)
    val qPre = base.filter($"vec_id" === 7)
      .select(lit(99L).as("query_id"), $"embedding".as("qv"))
    val pre = IvfIndex.searchPruned(spark, dir, qPre, k = 5, nprobe = 8)
      .filter($"neighbor_id" === 0L).collect()
    assert(pre.length === 1, s"vec 0 must appear exactly once: ${pre.toSeq}")
    assert(pre.head.getDouble(3) === 0.0, "must be the NEW embedding")

    // latest-wins read: still one logical row per id, newest embedding
    val latest = IvfDeltaIngest.latestAssignments(spark, dir)
    assert(latest.count() === total)
    val got = latest.filter($"vec_id" === 0L).select($"embedding", $"seq").head()
    assert(got.getSeq[Float](0) === newEmb)
    assert(got.getLong(1) === 1L)

    // compaction makes it physical: raw row count returns to total
    IvfDeltaIngest.compact(spark, dir)
    val raw = spark.read.parquet(s"$dir/assignments")
    assert(raw.count() === total)
    assert(raw.filter($"vec_id" === 0L).count() === 1)
    // and the table is still partition-laid-out for pruned searches
    val q = base.filter($"vec_id" === 7)
      .select(lit(0L).as("query_id"), $"embedding".as("qv"))
    val top = IvfIndex.searchPruned(spark, dir, q, k = 2, nprobe = 2)
      .filter($"rnk" === 1).head()
    // vec 0 now carries vec 7's embedding: one of them must be top-1 at dist 0
    assert(Set(0L, 7L).contains(top.getLong(1)))
    assert(top.getDouble(3) === 0.0)
  }
}
