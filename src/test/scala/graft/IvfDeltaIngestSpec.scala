package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.functions.VectorKernels
import graft.operators.{IndexStore, IvfIndex}
import graft.streaming.{IvfDeltaIngest, ResidentIvf}

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

  private def vecsOf(ids: Seq[Long]): Seq[(Long, Array[Float])] =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter($"vec_id".isin(ids: _*)).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  private def batchOf(rows: Seq[(Long, Array[Float])]) =
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))

  private def queriesOf(qs: Seq[Array[Float]]) =
    qs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("query_id", "qv")
      .select($"query_id", $"qv".cast("array<float>").as("qv"))

  private def centroidsOf(dir: String): Seq[(Int, Array[Float])] =
    spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq

  /** Result rows as (query_id, neighbor_id, rnk, dist bits): NaN
    * distances compare equal. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq.sorted

  /** A labelled store with a write buffer that re-ingests existing ids:
    * five vectors moved onto other vectors' embeddings (distance-0 ties
    * with their sources), vec 20 at the centroid farthest from it (its
    * old embedding, queried with nprobe = 2, probes its old cluster
    * only), and vec 40 with a NaN component. Returns the store and the
    * queries: vecs 0..5 and vec 20's old embedding. */
  private def bufferedStore(nprobe: Int): (String, Seq[Array[Float]]) = {
    val dir = freshIndex()
    val cents = centroidsOf(dir)
    val (_, old20) = vecsOf(Seq(20L)).head
    val probes = cents.map { case (c, cv) => (VectorKernels.l2sqF(old20, cv), c) }
      .sorted.take(nprobe).map(_._2)
    val (far, farV) = cents.maxBy { case (_, cv) => VectorKernels.l2sqF(old20, cv) }
    assert(!probes.contains(far))
    val moved = vecsOf(0L until 5L).map { case (id, v) => (id + 30L, v) }
    val nan = vecsOf(Seq(40L)).map { case (id, v) =>
      val w = v.clone(); w(3) = Float.NaN; (id, w) }
    IvfDeltaIngest.appendBatch(spark, dir, batchOf(moved), seq = 1L)
    IvfDeltaIngest.appendBatch(spark, dir, batchOf(Seq(20L -> farV) ++ nan),
      seq = 2L)
    assert(IvfDeltaIngest.deltaLatest(spark, dir).get
      .filter($"vec_id" === 20L).select($"cluster_id").head().getInt(0) == far)
    (dir, vecsOf(0L until 6L).map(_._2) :+ old20)
  }

  /** The filtered search's contract in plain Scala: each query's
    * candidates are the latest row of every vec_id, taken from its
    * probed clusters or from the buffer (every query sees every buffer
    * row), whose indexed row's label is in `labels`; ranked by
    * (squared L2, vec_id), dist rounded like Catalyst. */
  private def filteredModel(dir: String, qs: Seq[Array[Float]], k: Int,
      nprobe: Int, labels: Set[Int]): Seq[(Long, Long, Long, Long)] = {
    val indexed = spark.read.parquet(s"$dir/assignments")
      .select($"vec_id", $"embedding", $"label", $"cluster_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2),
        r.getInt(3))).toSeq
    val labelOf = indexed.map(r => r._1 -> r._3).toMap
    val buffer = IvfDeltaIngest.deltaLatest(spark, dir).get
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cents = centroidsOf(dir)
    qs.zipWithIndex.flatMap { case (q, qi) =>
      val probes = cents.map { case (c, cv) => (VectorKernels.l2sqF(q, cv), c) }
        .sorted.take(nprobe).map(_._2).toSet
      val cands = indexed
        .filter(r => probes(r._4) && !buffer.contains(r._1))
        .map(r => r._1 -> r._2) ++ buffer
      cands.filter { case (id, _) => labelOf.get(id).exists(labels) }
        .map { case (id, v) => (VectorKernels.l2sqF(v, q), id) }
        .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        .take(k).zipWithIndex.map { case ((d, id), r) =>
          (qi.toLong, id, r + 1L, java.lang.Double.doubleToLongBits(
            ResidentIvf.round4(math.sqrt(d))))
        }
    }.sorted
  }

  // k above every probed candidate count: whole ranked lists, the NaN
  // tail included, are compared
  private val FilterK = 500
  private val FilterProbes = 2

  test("filtered search over a buffered store with every label equals searchPruned") {
    val (dir, qs) = bufferedStore(FilterProbes)
    val all = spark.read.parquet(s"$dir/assignments").select($"label")
      .distinct().collect().map(_.getInt(0)).toSeq
    val q = queriesOf(qs)
    val got = rowsOf(IvfIndex.searchPrunedFiltered(spark, dir, q, FilterK,
      FilterProbes, all))
    assert(got == rowsOf(IvfIndex.searchPruned(spark, dir, q, FilterK,
      FilterProbes)))
    assert(got.exists(r => r._2 == 40L && java.lang.Double.isNaN(
      java.lang.Double.longBitsToDouble(r._4))), "the NaN row must rank")
  }

  test("filtered search over a buffered store with a label subset equals " +
      "the brute force over passing latest rows") {
    val (dir, qs) = bufferedStore(FilterProbes)
    val labelOf = spark.read.parquet(s"$dir/assignments")
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val labels = Set(labelOf(20L), labelOf(30L), labelOf(40L))
    assert(labels.size < labelOf.values.toSet.size)
    val q = queriesOf(qs)
    def check(stage: String): Unit = {
      val got = rowsOf(IvfIndex.searchPrunedFiltered(spark, dir, q, FilterK,
        FilterProbes, labels.toSeq))
      assert(got == filteredModel(dir, qs, FilterK, FilterProbes, labels),
        s"$stage: filtered search differs from the brute force")
      assert(got.exists(_._2 == 20L), s"$stage: the moved vector must rank")
    }
    check("buffered store")
    // a vec_id only the buffer holds has no label, so no filter passes it
    IvfDeltaIngest.appendBatch(spark, dir, batchOf(Seq(900000L -> qs.head)),
      seq = 3L)
    check("buffer-only id")
  }

  test("compaction keeps a labelled store's label column and filtered answers") {
    val dir = freshIndex()
    val asg = spark.read.parquet(s"$dir/assignments")
      .select($"vec_id", $"embedding", $"label", $"cluster_id").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getInt(2), r.getInt(3))).toSeq
    val (_, _, label0, c0) = asg.head
    // re-ingest labelled vec 0 onto a vector of another cluster, plus one
    // fresh id; the queries are that cluster's members, so every one of
    // them probes vec 0's new cluster once compaction has moved it there
    val members = asg.filter(_._4 != c0).groupBy(_._4).values
      .filter(_.size > 7).minBy(_.head._1).map(_._2)
    IvfDeltaIngest.appendBatch(spark, dir,
      batchOf(Seq(0L -> members.head, 900000L -> asg(5)._2)), seq = 1L)
    val labels = Seq(label0, (label0 + 1) % 10, (label0 + 2) % 10)
    val q = queriesOf(members.take(7))
    def filtered() = rowsOf(
      IvfIndex.searchPrunedFiltered(spark, dir, q, k = 5, nprobe = 2, labels))
    val before = spark.read.parquet(s"$dir/assignments").columns.toSet
    val pre = filtered()
    assert(pre.exists(_._2 == 0L), "the moved vector must rank before compaction")

    IvfDeltaIngest.compact(spark, dir)
    val table = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/assignments")
    // the fold adds only the seq column it orders by
    assert(table.columns.toSet == before + "seq")
    assert(filtered() == pre)
    assert(table.filter($"vec_id" === 0L).select($"label").head().getInt(0) ==
      label0, "a moved vector keeps its label")
    assert(table.filter($"vec_id" === 900000L).select($"label").head().isNullAt(0),
      "a buffer-only id has no label")
  }

  test("an ingested labelled id passes a filtered search before and after compaction") {
    val dir = freshIndex()
    val label7 = spark.read.parquet(s"$dir/assignments")
      .filter($"vec_id" === 7L).select($"label").head().getInt(0)
    val (l, l2) = ((label7 + 1) % 10, (label7 + 2) % 10)
    val rnd = new scala.util.Random(3)
    def fresh() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val (v1, v2, v3) = (fresh(), fresh(), fresh())
    val v7 = vecsOf(Seq(7L)).head._2
    // a labelled id through each writer, an unlabelled one, and vec 7
    // relabelled at its own embedding
    IvfDeltaIngest.appendBatch(spark, dir,
      Seq((900001L, v1.toSeq, l)).toDF("vec_id", "embedding", "label"), seq = 1L)
    val ingest = new graft.streaming.IngestServer(spark, dir, startSeq = 2L)
    try {
      import graft.streaming.IngestServer.Record
      scala.concurrent.Await.result(ingest.insertRecords(Seq(
          Record(900002L, v2.toSeq, Map("label" -> l)),
          Record(900003L, v3.toSeq),
          Record(7L, v7.toSeq, Map("label" -> l2)))),
        scala.concurrent.duration.Duration(120, "s"))
    } finally ingest.close()
    val q = queriesOf(Seq(v1, v2, v3, v7))
    def filtered(labels: Seq[Int]) =
      rowsOf(IvfIndex.searchPrunedFiltered(spark, dir, q, k = 5, nprobe = 2, labels))
    def check(stage: String): Unit = {
      val got = filtered(Seq(l, l2))
      Seq(0L -> 900001L, 1L -> 900002L, 3L -> 7L).foreach { case (qi, id) =>
        assert(got.contains((qi, id, 1L, 0L)), s"$stage: $id at rank 1 for query $qi")
      }
      assert(!got.exists(_._2 == 900003L), s"$stage: an unlabelled id passes no filter")
      val old = filtered(Seq(label7))
      assert(!old.exists(r => Set(7L, 900001L, 900002L)(r._2)),
        s"$stage: a relabelled id no longer passes its old label")
    }
    check("buffered")
    val pre = (filtered(Seq(l, l2)), filtered(Seq(label7)))
    IvfDeltaIngest.compact(spark, dir)
    check("compacted")
    assert((filtered(Seq(l, l2)), filtered(Seq(label7))) == pre)
    val labels = spark.read.parquet(s"$dir/assignments")
      .filter($"vec_id".isin(7L, 900001L, 900002L, 900003L))
      .select($"vec_id", $"label").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(labels == Map(7L -> l2, 900001L -> l, 900002L -> l, 900003L -> null))
  }
}
