package graft.streaming

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{DirectoryIteratorException, Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.functions.VectorKernels
import graft.operators.TopKBuffer

/** A resident, immutable image of a persisted IVF index directory
  * (`assignments/cluster_id=N/…` plus the `delta_log` write buffer),
  * read on the driver with parquet-hadoop's record reader — no Spark
  * job. [[SearchServer]] answers bounded searches from it exactly as
  * [[graft.operators.IvfIndex.searchPrunedFrames]] would:
  *
  *  - candidates: the probed clusters' rows whose vec_id is not in the
  *    buffer, plus every buffer row (latest `seq` per vec_id, a missing
  *    or null seq counting as 0 — [[IvfDeltaIngest.deltaLatest]]'s fold);
  *  - scoring: the lane-4 l2² kernel the scan's generated code calls;
  *  - ranking: [[TopKBuffer]], the state of the scan's top-k aggregate;
  *  - distance: Catalyst's `round(sqrt(score), 4)`.
  *
  * Rows with a null vec_id or a null embedding never rank in the scan
  * (the aggregate skips null scores and ids), so they are not kept;
  * a buffer row with a null embedding still shadows its vec_id. A file
  * the reader cannot reproduce the scan's values from (no vec_id or
  * embedding column, a null inside an embedding, another layout) marks
  * the snapshot unsupported, and the caller takes the Spark route. */
private[graft] object ResidentIvf {
  import Serving.Hit

  /** A listed data file's identity: length and modification time. */
  final case class Stamp(len: Long, mtime: Long)

  /** One cluster's rows: row i is (ids(i), embs(i)), embeddings non-null. */
  final case class Rows(ids: Array[Long], embs: Array[Array[Float]]) {
    def ++(o: Rows): Rows = Rows(ids ++ o.ids, embs ++ o.embs)
  }

  /** A buffer row that won the fold; `emb` is null for a null embedding. */
  final case class Latest(seq: Long, emb: Array[Float])

  /** What the reader got from one file. */
  private final case class Parsed(ids: Array[Long], embs: Array[Array[Float]],
      seqs: Array[Long])

  /** The snapshot: the file table it was built from, the rows per
    * cluster, the folded buffer, and whether every file was readable. */
  final case class Snapshot(files: Map[Path, Stamp], clusters: Map[Int, Rows],
      delta: Map[Long, Latest], ok: Boolean) {
    private lazy val deltaIds: Array[Long] = delta.keys.toArray
    private lazy val deltaEmbs: Array[Array[Float]] = deltaIds.map(delta(_).emb)

    /** Top-k for one query over its probed clusters and the buffer. */
    def answer(qv: Array[Float], probes: Seq[Int], k: Int): Seq[Hit] = {
      val top = new TopKBuffer(k)
      probes.foreach { cid =>
        clusters.get(cid).foreach { r =>
          var i = 0
          while (i < r.ids.length) {
            if (!delta.contains(r.ids(i)))
              top.insert(VectorKernels.l2sqBest(r.embs(i), qv), r.ids(i))
            i += 1
          }
        }
      }
      var j = 0
      while (j < deltaIds.length) {
        if (deltaEmbs(j) != null)
          top.insert(VectorKernels.l2sqBest(deltaEmbs(j), qv), deltaIds(j))
        j += 1
      }
      top.sorted.toSeq.zipWithIndex.map { case ((score, id), i) =>
        Hit(id, i + 1L, round4(math.sqrt(score)))
      }
    }
  }

  val empty: Snapshot = Snapshot(Map.empty, Map.empty, Map.empty, ok = true)

  /** Catalyst's `round(x, 4)` on a double: HALF_UP over the shortest
    * decimal form, NaN and infinities passed through. */
  def round4(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** One listing of an index directory. `clusterOf` maps each
    * assignments data file to its partition value (None for the null
    * partition, which no probe reaches); `ok` is false for a layout
    * the scan would read differently (a file outside a partition
    * directory, a nested directory, a non-integer partition value, or
    * a missing or empty assignments table). A buffer directory without
    * a visible file is an empty buffer, as [[IvfDeltaIngest.deltaRaw]]
    * reads it. */
  final case class Listing(assignments: Map[Path, Stamp],
      clusterOf: Map[Path, Option[Int]], delta: Map[Path, Stamp], ok: Boolean) {
    def bytes: Long = (assignments.valuesIterator ++ delta.valuesIterator)
      .map(_.len).sum
  }

  /** Spark's file-index rule for names it never reads as data. */
  private[streaming] def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** (path, isDirectory, stamp) for every visible entry of `dir`. */
  private def entries(dir: Path): Seq[(Path, Boolean, Stamp)] =
    Using.resource(Files.newDirectoryStream(dir)) { ds =>
      ds.asScala.filterNot(p => hidden(p.getFileName.toString)).map { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        (p, a.isDirectory,
          Stamp(a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS)))
      }.toSeq
    }

  private val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** The listing of `indexDir`; one with `ok` false when an entry
    * vanished or turned unreadable while it was listed (a compaction's
    * swap, a buffer delete), so that batch takes the job route. */
  def list(indexDir: String): Listing =
    try listOrThrow(indexDir)
    catch {
      case _: IOException | _: UncheckedIOException |
          _: DirectoryIteratorException =>
        Listing(Map.empty, Map.empty, Map.empty, ok = false)
    }

  private def listOrThrow(indexDir: String): Listing = {
    var ok = true
    val assignments = mutable.Map.empty[Path, Stamp]
    val clusterOf = mutable.Map.empty[Path, Option[Int]]
    val assignDir = Paths.get(indexDir, "assignments")
    if (!Files.isDirectory(assignDir)) ok = false
    else entries(assignDir).foreach {
      case (dir, true, _) =>
        val name = dir.getFileName.toString
        val cid =
          if (name == s"cluster_id=$NullPartition") Some(None)
          else if (name.startsWith("cluster_id="))
            name.stripPrefix("cluster_id=").toIntOption.map(Some(_))
          else None
        cid match {
          case None => ok = false
          case Some(c) => entries(dir).foreach {
            case (f, false, st) => assignments(f) = st; clusterOf(f) = c
            case _ => ok = false
          }
        }
      case _ => ok = false
    }
    val deltaDir = Paths.get(indexDir, "delta_log")
    val delta = mutable.Map.empty[Path, Stamp]
    if (Files.exists(deltaDir)) {
      entries(deltaDir).foreach {
        case (f, false, st) => delta(f) = st
        case _ => ok = false
      }
    }
    if (assignments.isEmpty) ok = false
    Listing(assignments.toMap, clusterOf.toMap, delta.toMap, ok)
  }

  /** The snapshot of `l`, reusing `prev` when every file `prev` was
    * built from is still listed unchanged (only new files are read);
    * otherwise rebuilt from every listed file. */
  def refresh(prev: Snapshot, l: Listing): Snapshot = {
    val listed = l.assignments ++ l.delta
    val base =
      if (prev.files.forall { case (p, st) => listed.get(p).contains(st) }) prev
      else empty
    val fresh = listed.keys.filterNot(base.files.contains).toSeq.sorted
    var ok = base.ok
    var clusters = base.clusters
    var delta = base.delta
    fresh.foreach { p =>
      read(p) match {
        case None => ok = false
        case Some(rows) if l.delta.contains(p) =>
          var i = 0
          while (i < rows.ids.length) {
            val id = rows.ids(i)
            // max_by keeps the first row of the largest seq
            if (delta.get(id).forall(_.seq < rows.seqs(i)))
              delta = delta.updated(id, Latest(rows.seqs(i), rows.embs(i)))
            i += 1
          }
        case Some(rows) => l.clusterOf(p).foreach { cid =>
          val keep = rows.embs.indices.filter(rows.embs(_) != null)
          val r = Rows(keep.map(rows.ids).toArray, keep.map(rows.embs).toArray)
          clusters = clusters.updated(cid, clusters.get(cid).fold(r)(_ ++ r))
        }
      }
    }
    Snapshot(listed, clusters, delta, ok)
  }

  private def newReader(p: Path): ParquetReader[Group] =
    new ParquetReader.Builder[Group](new LocalInputFile(p),
        new PlainParquetConfiguration()) {
      override protected def getReadSupport: ReadSupport[Group] =
        new GroupReadSupport
    }.build()

  private def intLike(t: org.apache.parquet.schema.Type): Boolean =
    t.isPrimitive && {
      val pt = t.asPrimitiveType
      val name = pt.getPrimitiveTypeName
      (name == PrimitiveTypeName.INT64 || name == PrimitiveTypeName.INT32) &&
        (pt.getLogicalTypeAnnotation == null ||
          pt.getLogicalTypeAnnotation.isInstanceOf[
            LogicalTypeAnnotation.IntLogicalTypeAnnotation])
    }

  private def isFloat(t: org.apache.parquet.schema.Type): Boolean =
    t.isPrimitive &&
      t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.FLOAT

  private def longAt(g: Group, f: Int): Long =
    if (g.getType.getType(f).asPrimitiveType.getPrimitiveTypeName ==
        PrimitiveTypeName.INT64) g.getLong(f, 0)
    else g.getInteger(f, 0).toLong

  /** Reads (vec_id, embedding[, seq]) of every row; None when the file
    * does not hold them in a layout the scan reads the same way. */
  private def read(p: Path): Option[Parsed] =
    try Using.resource(newReader(p)) { reader =>
      val ids = Array.newBuilder[Long]
      val embs = Array.newBuilder[Array[Float]]
      val seqs = Array.newBuilder[Long]
      var ok = true
      // field indexes, checked on the first record (the file's schema)
      var idF = -1; var embF = -1; var seqF = -1; var threeLevel = false
      var g = reader.read()
      if (g != null) {
        val t = g.getType
        ok = t.containsField("vec_id") && t.containsField("embedding") &&
          intLike(t.getType("vec_id")) &&
          (!t.containsField("seq") || intLike(t.getType("seq")))
        if (ok) {
          idF = t.getFieldIndex("vec_id"); embF = t.getFieldIndex("embedding")
          if (t.containsField("seq")) seqF = t.getFieldIndex("seq")
          val e = t.getType(embF)
          ok = !e.isPrimitive && e.getLogicalTypeAnnotation ==
              LogicalTypeAnnotation.listType() &&
            e.asGroupType.getFieldCount == 1 && {
              val rep = e.asGroupType.getType(0)
              threeLevel = !rep.isPrimitive
              if (threeLevel) rep.asGroupType.getFieldCount == 1 &&
                isFloat(rep.asGroupType.getType(0))
              else isFloat(rep)
            }
        }
      }
      while (ok && g != null) {
        if (g.getFieldRepetitionCount(idF) > 0) {
          ids += longAt(g, idF)
          seqs += (if (seqF >= 0 && g.getFieldRepetitionCount(seqF) > 0)
            longAt(g, seqF) else 0L)
          if (g.getFieldRepetitionCount(embF) == 0) embs += null
          else {
            val lg = g.getGroup(embF, 0)
            val v = new Array[Float](lg.getFieldRepetitionCount(0))
            var j = 0
            while (j < v.length) {
              if (!threeLevel) v(j) = lg.getFloat(0, j)
              else {
                val el = lg.getGroup(0, j)
                if (el.getFieldRepetitionCount(0) == 0) ok = false // null element
                else v(j) = el.getFloat(0, 0)
              }
              j += 1
            }
            embs += v
          }
        }
        g = reader.read()
      }
      if (ok) Some(Parsed(ids.result(), embs.result(), seqs.result())) else None
    } catch { case _: IOException | _: RuntimeException => None }
}
