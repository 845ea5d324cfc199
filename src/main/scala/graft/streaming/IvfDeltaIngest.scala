package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftVector._

/** Streaming delta ingest INTO the persisted IVF index — the full LSM
  * story of the reference (engine.h: writes land in buffers, background
  * flush threads merge them into the index) made Spark-native:
  *
  *  - [[appendBatch]] is the foreachBatch flush: each micro-batch of new
  *    vectors is assigned to its nearest persisted centroid (broadcast —
  *    centroids are tiny) and APPENDED to the `delta_log` sidecar, the
  *    durable WRITE BUFFER. That one append is the whole insert: an
  *    acknowledged row lives in the buffer, and nowhere else, until the
  *    next compaction. A batch costs one scan of the batch, never of the
  *    index. Every search consults the buffer exactly like
  *    engine.h:search_knn brute-forces its buffers before the graph:
  *    each buffer row is a candidate for every query, and shadows any
  *    indexed row with its vec_id (see IvfIndex.searchPruned).
  *  - [[compact]] is the background compaction and, with the build
  *    (IndexStore), the only writer of `assignments`: the assignments
  *    table UNION the buffer is folded to latest `seq` per vec_id,
  *    rewritten `cluster_id=N`-partitioned into a SIBLING directory and
  *    atomically swapped into place (never overwriting the files being
  *    read), and the delta log is truncated only after the fold that
  *    includes it — so no acknowledged row is ever dropped.
  *
  * Single-writer assumption: one compactor at a time, no concurrent
  * appends during the swap window (the reference serializes its flush
  * threads the same way). On a cluster this swap becomes a metastore /
  * table-format transactional commit; the directory-rename form is the
  * local-filesystem expression of the same idea.
  */
object IvfDeltaIngest {

  /** Deduplicate a micro-batch to one row per vec_id and assign each to
    * its nearest centroid — per-(vec_id, embedding) assignment first,
    * then the smallest (distance, cluster, hash) row wins, preserving
    * row integrity: an embedding is never paired with another update's
    * cluster (a micro-batch has no intra-batch write order; across
    * batches `seq` orders writes). Shared by the raw-vector and IVF-PQ
    * delta paths. Returns (vec_id, embedding, seq, cluster_id). */
  private[graft] def resolveBatch(batch: DataFrame, cent: DataFrame,
      seq: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.crossJoin(broadcast(cent))
      .withColumn("d", l2Sq($"embedding", $"centroid"))
      .groupBy($"vec_id", $"embedding")
      .agg(min(struct($"d", $"cluster_id")).as("best"))
      .groupBy($"vec_id")
      .agg(min_by(struct($"embedding", $"best.cluster_id".as("cluster_id")),
        struct($"best.d", $"best.cluster_id", hash($"embedding"))).as("r"))
      .select($"vec_id", $"r.embedding".as("embedding"),
        lit(seq).as("seq"), $"r.cluster_id".as("cluster_id"))
  }

  /** Driver-side twin of [[resolveBatch]] for SERVING micro-batches —
    * bounded by construction (|rows| ≤ [[IngestServer.MaxBatch]]·8,
    * k centroids), so the dedup/assign/tie-break law runs as driver
    * arithmetic instead of a per-batch crossJoin+two-aggregate Spark
    * job whose scheduler floor dominated the serving commit wall
    * (BENCHONE insert_split at sf10: the assignment job is
    * ~0.46-0.50 s of a ~1 s commit for 64 rows).
    * Bit-identical to the plan by construction: distances via the
    * spec-pinned lane-4 float[] kernel ([[graft.functions.VectorKernels
    * .l2sqF]]), the tie-break hash via Catalyst's own Murmur3 over the
    * same ArrayData (seed 42 — what `hash($"embedding")` evaluates),
    * and embeddings normalized the way Spark's NormalizeFloatingNumbers
    * rewrites grouping keys (-0.0f → 0.0f, one canonical NaN) before
    * they reach the aggregate; LocalResolveSpec pins equality on the
    * dup/tie/-0.0 fixtures. Returns (vec_id, embedding, seq,
    * cluster_id) rows in ascending vec_id order. */
  private[graft] def resolveBatchLocal(rows: Seq[(Long, Array[Float])],
      cent: Seq[(Int, Array[Float])], seq: Long)
      : Seq[(Long, Array[Float], Long, Int)] = {
    require(cent.nonEmpty, "resolveBatchLocal: no centroids")
    def normalized(a: Array[Float]): Array[Float] = a.map { f =>
      if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
    }
    def catalystHash(a: Array[Float]): Int =
      org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction.hash(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType),
        42L).toInt
    rows
      .map { case (id, e) => (id, normalized(e)) }
      // per (vec_id, embedding): min (d, cluster_id) over centroids
      .groupBy { case (id, e) => (id, e.toSeq) }
      .map { case ((id, _), grp) =>
        val e = grp.head._2
        // min(struct(d, cluster_id)) under Spark's TOTAL order: NaN
        // compares equal to itself and larger than everything, so an
        // all-NaN distance row (a NaN client embedding) takes the MIN
        // cluster id rather than falling through both IEEE branches
        // into a phantom Int.MaxValue cluster no centroid owns.
        // java.lang.Double.compare is that order (l2sqF never returns
        // -0.0, the one value it ranks differently from Spark).
        var bestD = Double.NaN; var bestC = Int.MaxValue
        var first = true
        cent.foreach { case (c, cv) =>
          val d = graft.functions.VectorKernels.l2sqF(e, cv)
          val cmp = if (first) -1 else java.lang.Double.compare(d, bestD)
          if (cmp < 0 || (cmp == 0 && c < bestC)) { bestD = d; bestC = c }
          first = false
        }
        (id, e, bestD, bestC)
      }
      // per vec_id: lexicographic min of (d, cluster_id, hash(embedding))
      .groupBy(_._1)
      .map { case (id, grp) =>
        val (_, e, _, c) = grp.minBy { case (_, e, d, c) =>
          (d, c, catalystHash(e)) }
        (id, e, seq, c)
      }
      .toSeq.sortBy(_._1)
  }

  /** Rows written without a seq column (or with nulls) count as seq 0. */
  private[streaming] def ensureSeq(df: DataFrame): DataFrame =
    if (df.columns.contains("seq"))
      df.withColumn("seq", coalesce(col("seq"), lit(0L)))
    else df.withColumn("seq", lit(0L))

  /** Latest-seq-wins fold to one row per vec_id; `payload` names the
    * value columns to carry (embedding for the raw index, codes for the
    * IVF-PQ lists). */
  private[streaming] def latestBySeq(df: DataFrame,
      payload: Seq[String]): DataFrame = {
    val cols = payload :+ "seq" :+ "cluster_id"
    ensureSeq(df)
      .groupBy(col("vec_id"))
      .agg(max_by(struct(cols.map(col): _*), col("seq")).as("r"))
      .select(col("vec_id") +: cols.map(c => col(s"r.$c").as(c)): _*)
  }

  /** Write a replacement table beside `parent/name` and atomically swap
    * it into place. Crash-safe: the source files are never overwritten —
    * a failure before the swap leaves the old table intact; a failure
    * between the two renames leaves the complete new table in the
    * sibling dir for recovery. */
  private[graft] def atomicSwap(parent: String, name: String)(
      writeTo: String => Unit): Unit = {
    val tmp = new File(s"$parent/$name.compacting")
    val old = new File(s"$parent/$name.old")
    deleteRecursively(tmp); deleteRecursively(old)
    writeTo(tmp.getPath)
    Files.move(Paths.get(s"$parent/$name"), old.toPath,
      StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp.toPath, Paths.get(s"$parent/$name"),
      StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  /** The one ingest write: append resolved (vec_id, embedding, seq,
    * cluster_id[, codes]) rows to `dir/delta_log`. It is the commit
    * point: once it returns, the rows are searchable and the next
    * compaction folds them in; if it throws, nothing is acknowledged. */
  private[streaming] def commit(dir: String, resolved: DataFrame): Unit =
    resolved.write.mode("append").parquet(s"$dir/delta_log")

  /** Assign one micro-batch of (vec_id, embedding) and [[commit]] it. */
  def appendBatch(spark: SparkSession, indexDir: String,
      batch: DataFrame, seq: Long): Unit =
    commit(indexDir,
      resolveBatch(batch, spark.read.parquet(s"$indexDir/centroids"), seq))

  /** Raw buffer rows, or None if no deltas since the last compaction.
    * mergeSchema, like every multi-append table read here: buffer files
    * written by different library versions may carry different columns. */
  private[streaming] def deltaRaw(spark: SparkSession,
      indexDir: String): Option[DataFrame] =
    if (!new File(s"$indexDir/delta_log").exists()) None
    else Some(spark.read.option("mergeSchema", "true")
      .parquet(s"$indexDir/delta_log"))

  /** Latest row per vec_id from the delta log (the write buffer), or
    * None if no deltas have landed since the last compaction. Bounded by
    * the append volume between compactions — broadcastable. */
  def deltaLatest(spark: SparkSession, indexDir: String): Option[DataFrame] =
    deltaRaw(spark, indexDir).map(d =>
      latestBySeq(d.select("vec_id", "embedding", "seq", "cluster_id"),
        Seq("embedding")))

  /** Fail-loud guard for entries whose contract is COMPACTION-STEADY
    * state (they read the persisted tables directly, without the
    * write-buffer branch): throws if the store still carries deltas.
    * Without this, an entry sharing the store with a future
    * delta-writing entry would silently undercount (v_ivf_stats) or
    * drift from its oracle (v_maxsim_pruned's oracle replays
    * searchPruned WITHOUT the buffer branch). */
  def requireCompacted(spark: SparkSession, indexDir: String): Unit =
    deltaRaw(spark, indexDir).foreach { d =>
      val n = d.count()
      if (n > 0) throw new IllegalStateException(
        s"$indexDir has $n uncompacted delta rows; this entry's contract " +
          "is compaction-steady state — run IvfDeltaIngest.compact first")
    }

  /** The current logical content of `dir/table` ∪ the write buffer,
    * folded to the latest seq per vec_id. Buffer rows missing a payload
    * column (written by an older layout, which also wrote the same data
    * into the table itself) are skipped rather than folded in as nulls.
    * The table's other columns (metadata such as `label`, immutable per
    * vec_id) ride through from the indexed row with the same vec_id; a
    * vec_id only the buffer holds gets nulls there. The shared "what
    * does the index logically hold" read for both the raw-vector and
    * IVF-PQ paths. */
  private[streaming] def latestTable(spark: SparkSession, dir: String,
      table: String, payload: Seq[String]): DataFrame = {
    val cols = ("vec_id" +: payload) :+ "seq" :+ "cluster_id"
    def normalized(df: DataFrame): Option[DataFrame] =
      if (!payload.forall(df.columns.contains)) None
      else Some(ensureSeq(df).select(cols.map(col): _*)
        .filter(payload.map(col(_).isNotNull).reduce(_ && _)))
    val stored = ensureSeq(spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/$table"))
    val raw = stored.select(cols.map(col): _*)
    val all = deltaRaw(spark, dir).flatMap(normalized) match {
      case Some(d) => raw.unionByName(d)
      case None => raw
    }
    val latest = latestBySeq(all, payload)
    val meta = stored.columns.filterNot(cols.contains)
    if (meta.isEmpty) latest
    else latest.join(stored.select(("vec_id" +: meta).map(col): _*),
      Seq("vec_id"), "left")
  }

  /** The current logical table: assignments ∪ write buffer with
    * latest-wins duplicate resolution (base rows written without `seq`
    * count as seq 0). Every row acknowledged since the last compaction
    * is in the buffer only, so the buffer must be part of the read. */
  def latestAssignments(spark: SparkSession, indexDir: String): DataFrame =
    latestTable(spark, indexDir, "assignments", Seq("embedding"))

  /** LSM compaction: fold assignments ∪ buffer to one row per vec_id
    * (newest seq), atomically swap, then truncate the buffer. Run
    * periodically, not per batch. */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val compacted = latestAssignments(spark, indexDir)
      .repartition(col("cluster_id"))
    atomicSwap(indexDir, "assignments") { tmp =>
      compacted.write.partitionBy("cluster_id").parquet(tmp)
    }
    deleteRecursively(new File(s"$indexDir/delta_log"))
  }

  private[graft] def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
