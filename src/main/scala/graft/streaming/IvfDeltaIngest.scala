package graft.streaming

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._

import graft.GraftVector._

/** Streaming delta ingest INTO the persisted IVF index — the full LSM
  * story of the reference (engine.h: writes land in buffers, background
  * flush threads merge them into the index) made Spark-native:
  *
  *  - the `delta_log` sidecar is the durable WRITE BUFFER, and one file
  *    appended to it is the whole insert: an acknowledged row lives in
  *    the buffer, and nowhere else, until the next compaction. Every
  *    search consults the buffer exactly like engine.h:search_knn
  *    brute-forces its buffers before the graph: each buffer row is a
  *    candidate for every query, and shadows any indexed row with its
  *    vec_id (see IvfIndex.searchPruned). A buffer row carries the
  *    store's metadata columns (the `assignments` columns beyond vec_id,
  *    embedding, seq and cluster_id, e.g. `label`); a null there falls
  *    back to the indexed row's value.
  *  - two writers append to it. [[appendBatch]] is the foreachBatch
  *    flush for an unbounded micro-batch: the batch is assigned to its
  *    nearest persisted centroid (broadcast — centroids are tiny) and
  *    written by one Spark append job ([[commit]]). The serving
  *    [[IngestServer]]'s rows are bounded and already on the driver, so
  *    [[commitLocal]] writes them as one parquet file from the driver —
  *    a `.`-named temp file, fsynced, atomically renamed into place —
  *    with the schema and footer a Spark append of the same rows would
  *    have. Readers skip `.` names, so the rename is the commit point.
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
    * its nearest centroid — per-(vec_id, embedding, meta) assignment
    * first, then the smallest (distance, cluster, hash) row wins,
    * preserving row integrity: an embedding is never paired with
    * another update's cluster or metadata (a micro-batch has no
    * intra-batch write order; across batches `seq` orders writes).
    * Shared by the raw-vector and IVF-PQ delta paths. Returns
    * (vec_id, embedding, seq, cluster_id, meta…), `meta` naming batch
    * columns carried through. */
  private[graft] def resolveBatch(batch: DataFrame, cent: DataFrame,
      seq: Long, meta: Seq[String] = Nil): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val m = meta.map(col)
    batch.crossJoin(broadcast(cent))
      .withColumn("d", l2Sq($"embedding", $"centroid"))
      .groupBy($"vec_id" +: $"embedding" +: m: _*)
      .agg(min(struct($"d", $"cluster_id")).as("best"))
      .groupBy($"vec_id")
      .agg(min_by(
        struct($"embedding" +: $"best.cluster_id".as("cluster_id") +: m: _*),
        struct($"best.d", $"best.cluster_id", hash($"embedding" +: m: _*)))
        .as("r"))
      .select($"vec_id" +: $"r.embedding".as("embedding") +: lit(seq).as("seq") +:
        $"r.cluster_id".as("cluster_id") +: meta.map(c => col(s"r.$c").as(c)): _*)
  }

  /** A resolved buffer row: (vec_id, embedding, seq, cluster_id, meta),
    * `meta` aligned with the store's metadata fields (null = none). */
  private[graft] type Resolved = (Long, Array[Float], Long, Int, Seq[Any])

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
    * same values (seed 42, chained over the embedding's ArrayData and
    * each metadata value — what `hash($"embedding", meta…)` evaluates),
    * and floats normalized the way Spark's NormalizeFloatingNumbers
    * rewrites grouping keys (-0.0f → 0.0f, one canonical NaN) before
    * they reach the aggregate; LocalResolveSpec pins equality on the
    * dup/tie/-0.0/metadata fixtures. `metaTypes` are the types of each
    * row's metadata values. Rows come back in ascending vec_id order. */
  private[graft] def resolveBatchLocal(rows: Seq[(Long, Array[Float], Seq[Any])],
      metaTypes: Seq[DataType], cent: Seq[(Int, Array[Float])], seq: Long)
      : Seq[Resolved] = {
    require(cent.nonEmpty, "resolveBatchLocal: no centroids")
    def normalF(f: Float): Float =
      if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
    def normal(v: Any): Any = v match {
      case f: Float => normalF(f)
      case d: Double => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
      case o => o
    }
    def catalystHash(e: Array[Float], meta: Seq[Any]): Int =
      meta.zip(metaTypes).foldLeft(Murmur3HashFunction.hash(
          new GenericArrayData(e), ArrayType(FloatType), 42L).toInt) {
        case (h, (v, t)) => Murmur3HashFunction.hash(
          CatalystTypeConverters.convertToCatalyst(v), t, h).toInt
      }
    rows
      .map { case (id, e, meta) =>
        (id, e.map(normalF), meta.map(normal)) }
      // per (vec_id, embedding, meta): min (d, cluster_id) over centroids
      .groupBy { case (id, e, meta) => (id, e.toSeq, meta) }
      .map { case (_, grp) =>
        val (id, e, meta) = grp.head
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
        (id, e, meta, bestD, bestC)
      }
      // per vec_id: lexicographic min of (d, cluster_id, hash(embedding, meta))
      .groupBy(_._1)
      .map { case (id, grp) =>
        val (_, e, meta, _, c) = grp.minBy { case (_, e, meta, d, c) =>
          (d, c, catalystHash(e, meta)) }
        (id, e, seq, c, meta)
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

  /** The Spark ingest write: append resolved (vec_id, embedding, seq,
    * cluster_id, meta…[, codes]) rows to `dir/delta_log`. It is the
    * commit point: once it returns, the rows are searchable and the
    * next compaction folds them in; if it throws, nothing is
    * acknowledged. */
  private[graft] def commit(dir: String, resolved: DataFrame): Unit =
    resolved.write.mode("append").parquet(s"$dir/delta_log")

  private val Keys = Seq("vec_id", "embedding", "seq", "cluster_id")

  /** The store's metadata fields: the columns of `dir/assignments`
    * beyond vec_id, embedding, seq and cluster_id (the build's `label`). */
  private[streaming] def storeMeta(spark: SparkSession,
      dir: String): Seq[StructField] =
    spark.read.parquet(s"$dir/assignments").schema.fields.toSeq
      .filterNot(f => Keys.contains(f.name))

  /** `meta` as columns of `df`: each its own column cast to the store's
    * type, or a typed null where `df` lacks it. */
  private def metaCols(df: DataFrame, meta: Seq[StructField]): Seq[Column] =
    meta.map { f =>
      (if (df.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }

  /** Assign one micro-batch of (vec_id, embedding[, meta…]) and
    * [[commit]] it with the store's metadata columns (null where the
    * batch has none). */
  def appendBatch(spark: SparkSession, indexDir: String,
      batch: DataFrame, seq: Long): Unit = {
    val meta = storeMeta(spark, indexDir)
    val aligned = batch.select(col("vec_id") +: col("embedding") +:
      metaCols(batch, meta): _*)
    commit(indexDir, resolveBatch(aligned,
      spark.read.parquet(s"$indexDir/centroids"), seq, meta.map(_.name)))
  }

  /** The metadata types a driver-written buffer file can hold. */
  private val DriverTypes: Set[DataType] = Set(BooleanType, ByteType,
    ShortType, IntegerType, LongType, FloatType, DoubleType, StringType)

  /** How [[commitLocal]] writes a store's buffer files: the Catalyst
    * schema a Spark append of the same rows has — (vec_id, embedding,
    * seq, cluster_id) as `toDF` types a (Long, Seq[Float], Long, Int)
    * tuple, then the store's metadata fields of a [[DriverTypes]] type —
    * and its parquet schema and footer, from Spark's own converter. */
  private[graft] final case class DeltaLayout(schema: StructType,
      parquet: MessageType, footer: Map[String, String]) {
    val meta: Seq[StructField] = schema.fields.toSeq.drop(Keys.size)

    /** `values` by metadata field, aligned with [[meta]]; throws an
      * IllegalArgumentException for a name that is not a field or a
      * value not of its field's type. */
    def metaValues(values: Map[String, Any]): Seq[Any] = {
      val unknown = values.keySet -- meta.map(_.name)
      require(unknown.isEmpty,
        s"not a driver-writable metadata column of this store: " +
          unknown.mkString(", "))
      meta.map { f =>
        val v = values.getOrElse(f.name, null)
        val ok = (f.dataType, v) match {
          case (_, null) | (BooleanType, _: Boolean) | (ByteType, _: Byte) |
               (ShortType, _: Short) | (IntegerType, _: Int) |
               (LongType, _: Long) | (FloatType, _: Float) |
               (DoubleType, _: Double) | (StringType, _: String) => true
          case _ => false
        }
        require(ok, s"metadata ${f.name}: $v is not ${f.dataType.simpleString}")
        v
      }
    }
  }

  private[graft] def deltaLayout(spark: SparkSession,
      meta: Seq[StructField]): DeltaLayout = {
    val tuple = Encoders.product[(Long, Seq[Float], Long, Int)].schema
    val schema = StructType(tuple.fields.zip(Keys)
      .map { case (f, name) => f.copy(name = name) } ++
      meta.filter(f => DriverTypes(f.dataType)).map(_.copy(nullable = true)))
    val (parquet, footer) = Shims.parquetLayout(spark, schema)
    DeltaLayout(schema, parquet, footer)
  }

  /** A point inside [[commitLocal]] a spec can fail the commit at. */
  private[graft] sealed trait CommitStep
  private[graft] object CommitStep {
    /** A row has been handed to the parquet writer. */
    case object Writing extends CommitStep
    /** The temp file is on disk; it has not been renamed. */
    case object Synced extends CommitStep
  }

  /** The driver ingest write: `rows` as one parquet file in
    * `dir/delta_log`, with `layout`'s schema and footer and SNAPPY
    * pages. The file is written under a `.`-prefixed temp name (which
    * every reader skips), forced to disk, atomically renamed to a
    * unique `part-` name — the commit point — and the directory is
    * forced. On any throw the temp (or renamed) file is deleted, so a
    * failed commit leaves no visible file. `step` runs at each
    * [[CommitStep]] (a no-op outside specs). */
  private[graft] def commitLocal(dir: String, layout: DeltaLayout,
      rows: Seq[Resolved], step: CommitStep => Unit): Unit = {
    val logDir = Paths.get(dir, "delta_log")
    if (!Files.isDirectory(logDir)) {
      Files.createDirectories(logDir) // fails where a non-directory is
      forceDir(logDir.getParent)
    }
    val name = s"part-00000-${UUID.randomUUID}.snappy.parquet"
    val tmp = logDir.resolve(s".$name")
    val done = logDir.resolve(name)
    try {
      val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
        .withConf(new PlainParquetConfiguration())
        .withType(layout.parquet)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withExtraMetaData(layout.footer.asJava)
        .build()
      try rows.foreach { r => w.write(group(layout, r)); step(CommitStep.Writing) }
      finally w.close()
      Using.resource(FileChannel.open(tmp, StandardOpenOption.WRITE))(_.force(true))
      step(CommitStep.Synced)
      Files.move(tmp, done, StandardCopyOption.ATOMIC_MOVE)
      forceDir(logDir)
    } catch {
      case e: Throwable =>
        try { Files.deleteIfExists(tmp); Files.deleteIfExists(done) }
        catch { case d: java.io.IOException => e.addSuppressed(d) }
        throw e
    }
  }

  private def forceDir(d: java.nio.file.Path): Unit =
    Using.resource(FileChannel.open(d, StandardOpenOption.READ))(_.force(true))

  /** One resolved row as a record of `layout.parquet`: a three-level
    * list for the embedding, nothing for a null. */
  private def group(layout: DeltaLayout, r: Resolved): Group = {
    val (id, emb, seq, cid, meta) = r
    val g = new SimpleGroup(layout.parquet)
    g.append("vec_id", id)
    if (emb != null) {
      val list = g.addGroup("embedding")
      if (list.getType.getType(0).isPrimitive) emb.foreach(list.add(0, _))
      else emb.foreach(list.addGroup(0).add(0, _))
    }
    g.append("seq", seq).append("cluster_id", cid)
    layout.meta.zip(meta).foreach {
      case (_, null) =>
      case (f, b: Boolean) => g.append(f.name, b)
      case (f, b: Byte) => g.append(f.name, b.toInt)
      case (f, s: Short) => g.append(f.name, s.toInt)
      case (f, i: Int) => g.append(f.name, i)
      case (f, l: Long) => g.append(f.name, l)
      case (f, x: Float) => g.append(f.name, x)
      case (f, d: Double) => g.append(f.name, d)
      case (f, s: String) => g.append(f.name, s)
      case (f, v) => throw new IllegalArgumentException(s"metadata ${f.name}: $v")
    }
    g
  }

  /** Raw buffer rows, or None if no deltas since the last compaction (no
    * `delta_log`, or one without a visible data file — a commit's temp
    * file is not one). mergeSchema, like every multi-append table read
    * here: buffer files written by different library versions may carry
    * different columns. */
  private[streaming] def deltaRaw(spark: SparkSession,
      indexDir: String): Option[DataFrame] = {
    val logDir = Paths.get(indexDir, "delta_log")
    val visible = Files.isDirectory(logDir) &&
      Using.resource(Files.list(logDir))(_.iterator.asScala
        .exists(p => !ResidentIvf.hidden(p.getFileName.toString)))
    if (!visible) None
    else Some(spark.read.option("mergeSchema", "true")
      .parquet(s"$indexDir/delta_log"))
  }

  /** The highest seq the store holds in `assignments` (compaction keeps
    * each row's) and in the write buffer; 0 where neither has one. */
  private[streaming] def maxSeq(spark: SparkSession, indexDir: String): Long =
    (spark.read.option("mergeSchema", "true").parquet(s"$indexDir/assignments") +:
        deltaRaw(spark, indexDir).toSeq)
      .filter(_.columns.contains("seq"))
      .map(_.agg(coalesce(max(col("seq")), lit(0L))).head().getLong(0))
      .foldLeft(0L)(math.max)

  /** Latest row per vec_id from the delta log (the write buffer), or
    * None if no deltas have landed since the last compaction. Bounded by
    * the append volume between compactions — broadcastable. */
  def deltaLatest(spark: SparkSession, indexDir: String): Option[DataFrame] =
    deltaRaw(spark, indexDir).map(d =>
      latestBySeq(d.select("vec_id", "embedding", "seq", "cluster_id"),
        Seq("embedding")))

  /** [[deltaLatest]] with the store's metadata columns: each the buffer
    * row's own value, or the indexed row's where that is null. */
  private[graft] def deltaLatestMeta(spark: SparkSession,
      indexDir: String): Option[DataFrame] = {
    val meta = storeMeta(spark, indexDir)
    deltaRaw(spark, indexDir).map { d =>
      withIndexedMeta(latestBySeq(
        d.select(Keys.map(col) ++ metaCols(d, meta): _*),
        "embedding" +: meta.map(_.name)),
        spark.read.parquet(s"$indexDir/assignments"), meta.map(_.name))
    }
  }

  /** `latest`'s `meta` columns, each falling back to `stored`'s value
    * for the same vec_id where `latest`'s is null. */
  private def withIndexedMeta(latest: DataFrame, stored: DataFrame,
      meta: Seq[String]): DataFrame =
    if (meta.isEmpty) latest
    else latest.join(stored.select(col("vec_id") +:
        meta.map(m => col(m).as(s"__indexed_$m")): _*), Seq("vec_id"), "left")
      .select(latest.columns.map { c =>
        if (meta.contains(c)) coalesce(col(c), col(s"__indexed_$c")).as(c)
        else col(c)
      }: _*)

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
    * The table's other columns (metadata such as `label`) ride with
    * their row: the winning row's own value, or the indexed row's for
    * the same vec_id where that is null (a buffer row written without
    * metadata). The shared "what does the index logically hold" read
    * for both the raw-vector and IVF-PQ paths. */
  private[streaming] def latestTable(spark: SparkSession, dir: String,
      table: String, payload: Seq[String]): DataFrame = {
    val cols = ("vec_id" +: payload) :+ "seq" :+ "cluster_id"
    val stored = ensureSeq(spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/$table"))
    val meta = stored.schema.fields.toSeq.filterNot(f => cols.contains(f.name))
    val names = meta.map(_.name)
    def normalized(df: DataFrame): Option[DataFrame] =
      if (!payload.forall(df.columns.contains)) None
      else Some(ensureSeq(df).select(cols.map(col) ++ metaCols(df, meta): _*)
        .filter(payload.map(col(_).isNotNull).reduce(_ && _)))
    val raw = stored.select((cols ++ names).map(col): _*)
    val all = deltaRaw(spark, dir).flatMap(normalized) match {
      case Some(d) => raw.unionByName(d)
      case None => raw
    }
    withIndexedMeta(latestBySeq(all, payload ++ names), stored, names)
      .select((cols ++ names).map(col): _*)
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
