package graft.functions

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.columnar.{CachedBatch, CachedBatchSerializer}
import org.apache.spark.sql.execution.columnar.DefaultCachedBatchSerializer
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Cache serializer that stores FLOAT-VECTOR frames as flat primitive
  * arrays and reads them back as ZERO-COPY columnar batches — the
  * columnar-batch-aware distance scan (optimization guide §1.2 step 2:
  * per-task work; the r13/r14 "scan-path cache-decode floor").
  *
  * The default cache serializer stores an array<float> column as
  * per-row byte blobs and its scan decodes row-at-a-time into UnsafeRow
  * buffers — the measured floor on this box put a cached-embedding scan
  * at ~10–14 Meval/s while the bare float[] kernel runs 40+. A frame
  * whose columns are all primitive-atomic or array<float> (i.e. every
  * vector cache: the distance-bench base, k-means assignment caches)
  * is instead stored per batch as one flat Array[Float] of values plus
  * an Int offsets spine; the read side wraps those arrays in
  * ColumnVector views, so the scan's `toFloatArray` lands on a single
  * bulk copyOfRange instead of a per-element decode. Any other schema
  * delegates verbatim to [[DefaultCachedBatchSerializer]] — behavior
  * (and memory compression) for string-bearing caches is unchanged.
  *
  * Pure storage-format change: values round-trip exactly (floats are
  * copied bit-for-bit, null rows and null elements are tracked), so
  * every cached plan computes identical results — CacheSerializerSpec
  * pins round-trips and the full oracle gate re-ran green over it.
  * Registered via the static conf `spark.sql.cache.serializer` by
  * [[graft.GraftSession]]. */
class GraftCachedBatchSerializer extends CachedBatchSerializer {
  import GraftCachedBatchSerializer._

  private val default = new DefaultCachedBatchSerializer

  override def supportsColumnarInput(schema: Seq[Attribute]): Boolean = false

  override def convertColumnarBatchToCachedBatch(
      input: RDD[ColumnarBatch], schema: Seq[Attribute],
      storageLevel: StorageLevel, conf: SQLConf): RDD[CachedBatch] =
    throw new IllegalStateException(
      "graft cache serializer declares supportsColumnarInput = false")

  override def convertInternalRowToCachedBatch(
      input: RDD[InternalRow], schema: Seq[Attribute],
      storageLevel: StorageLevel, conf: SQLConf): RDD[CachedBatch] = {
    if (!eligible(schema.map(_.dataType)))
      return default.convertInternalRowToCachedBatch(
        input, schema, storageLevel, conf)
    val types = schema.map(_.dataType).toArray
    val batchRows = conf.columnBatchSize
    input.mapPartitions { it =>
      new Iterator[CachedBatch] {
        override def hasNext: Boolean = it.hasNext
        override def next(): CachedBatch = {
          val builders = types.map(newBuilder)
          var n = 0
          var elems = 0L
          // cap on flat element count so one batch of very wide vectors
          // cannot balloon: 8M floats ≈ 32 MB of values per batch
          while (n < batchRows && elems < 8_000_000L && it.hasNext) {
            val row = it.next()
            var c = 0
            while (c < builders.length) {
              builders(c).append(row, c)
              c += 1
            }
            n += 1
            elems = 0L
            var bi = 0
            while (bi < builders.length) { elems += builders(bi).elems; bi += 1 }
          }
          GraftCachedBatch(n, builders.map(_.result(n)))
        }
      }
    }
  }

  override def buildFilter(predicates: Seq[Expression],
      cachedAttributes: Seq[Attribute])
      : (Int, Iterator[CachedBatch]) => Iterator[CachedBatch] =
    if (eligible(cachedAttributes.map(_.dataType))) (_, it) => it
    else default.buildFilter(predicates, cachedAttributes)

  override def supportsColumnarOutput(schema: StructType): Boolean =
    eligible(schema.fields.toSeq.map(_.dataType)) ||
      default.supportsColumnarOutput(schema)

  override def convertCachedBatchToColumnarBatch(
      input: RDD[CachedBatch], cacheAttributes: Seq[Attribute],
      selectedAttributes: Seq[Attribute], conf: SQLConf)
      : RDD[ColumnarBatch] = {
    if (!eligible(cacheAttributes.map(_.dataType)))
      return default.convertCachedBatchToColumnarBatch(
        input, cacheAttributes, selectedAttributes, conf)
    val ordinals = selectionOrdinals(cacheAttributes, selectedAttributes)
    val types = selectedAttributes.map(_.dataType).toArray
    input.map { cb =>
      val b = cb.asInstanceOf[GraftCachedBatch]
      val vecs = new Array[ColumnVector](ordinals.length)
      var i = 0
      while (i < ordinals.length) {
        vecs(i) = wrap(b.cols(ordinals(i)), types(i))
        i += 1
      }
      new ColumnarBatch(vecs, b.numRows)
    }
  }

  override def convertCachedBatchToInternalRow(
      input: RDD[CachedBatch], cacheAttributes: Seq[Attribute],
      selectedAttributes: Seq[Attribute], conf: SQLConf)
      : RDD[InternalRow] = {
    if (!eligible(cacheAttributes.map(_.dataType)))
      return default.convertCachedBatchToInternalRow(
        input, cacheAttributes, selectedAttributes, conf)
    val ordinals = selectionOrdinals(cacheAttributes, selectedAttributes)
    val types = selectedAttributes.map(_.dataType).toArray
    input.mapPartitions { it =>
      // SparkPlan.execute's row contract is UnsafeRow (getByteArrayRdd
      // casts) — project each columnar row view through a reused
      // UnsafeProjection, exactly like ColumnarToRow would
      val proj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(types)
      it.flatMap { cb =>
        val b = cb.asInstanceOf[GraftCachedBatch]
        val vecs = new Array[ColumnVector](ordinals.length)
        var i = 0
        while (i < ordinals.length) {
          vecs(i) = wrap(b.cols(ordinals(i)), types(i))
          i += 1
        }
        new ColumnarBatch(vecs, b.numRows).rowIterator().asScala.map(proj)
      }
    }
  }
}

private[graft] object GraftCachedBatchSerializer {

  /** Fast-path schemas: at least one float-vector column (the frames
    * this exists for) and nothing we cannot store losslessly as flat
    * primitives. Everything else — strings, decimals, structs, other
    * array element types — keeps the default serializer. */
  private[graft] def eligible(types: Seq[DataType]): Boolean =
    types.nonEmpty && types.forall(eligibleType) &&
      types.exists(_.isInstanceOf[ArrayType])

  private def eligibleType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case IntegerType | LongType | FloatType | DoubleType | BooleanType => true
    case _ => false
  }

  private def selectionOrdinals(cacheAttributes: Seq[Attribute],
      selectedAttributes: Seq[Attribute]): Array[Int] = {
    val ids = cacheAttributes.map(_.exprId)
    selectedAttributes.map { a =>
      val i = ids.indexOf(a.exprId)
      require(i >= 0, s"selected attribute $a not found in cache schema")
      i
    }.toArray
  }

  /** One cached batch: column-major flat primitive arrays. */
  private[graft] final case class GraftCachedBatch(numRows: Int,
      cols: Array[GraftCol]) extends CachedBatch {
    override def sizeInBytes: Long =
      math.max(1L, cols.iterator.map(_.sizeInBytes).sum)
  }

  private[graft] sealed trait GraftCol extends Serializable {
    def sizeInBytes: Long
  }
  private[graft] final case class FloatsArrayCol(offsets: Array[Int],
      values: Array[Float], rowNulls: Array[Boolean],
      elemNulls: Array[Boolean]) extends GraftCol {
    override def sizeInBytes: Long =
      4L * offsets.length + 4L * values.length +
        (if (rowNulls == null) 0L else rowNulls.length) +
        (if (elemNulls == null) 0L else elemNulls.length)
  }
  private[graft] final case class IntCol(values: Array[Int],
      nulls: Array[Boolean]) extends GraftCol {
    override def sizeInBytes: Long =
      4L * values.length + (if (nulls == null) 0L else nulls.length)
  }
  private[graft] final case class LongCol(values: Array[Long],
      nulls: Array[Boolean]) extends GraftCol {
    override def sizeInBytes: Long =
      8L * values.length + (if (nulls == null) 0L else nulls.length)
  }
  private[graft] final case class FloatCol(values: Array[Float],
      nulls: Array[Boolean]) extends GraftCol {
    override def sizeInBytes: Long =
      4L * values.length + (if (nulls == null) 0L else nulls.length)
  }
  private[graft] final case class DoubleCol(values: Array[Double],
      nulls: Array[Boolean]) extends GraftCol {
    override def sizeInBytes: Long =
      8L * values.length + (if (nulls == null) 0L else nulls.length)
  }
  private[graft] final case class BoolCol(values: Array[Boolean],
      nulls: Array[Boolean]) extends GraftCol {
    override def sizeInBytes: Long =
      1L * values.length + (if (nulls == null) 0L else nulls.length)
  }

  // ---------- write side ----------

  private sealed trait ColBuilder {
    def append(row: InternalRow, ordinal: Int): Unit
    def result(n: Int): GraftCol
    /** flat element count so far (array builder only; 0 otherwise) —
      * drives the per-batch payload cap */
    def elems: Int
  }

  private def newBuilder(dt: DataType): ColBuilder = dt match {
    case ArrayType(FloatType, _) => new FloatsArrayBuilder
    case IntegerType => new IntBuilder
    case LongType => new LongBuilder
    case FloatType => new FloatBuilder
    case DoubleType => new DoubleBuilder
    case BooleanType => new BoolBuilder
    case other => throw new IllegalStateException(
      s"graft cache builder asked for unsupported type $other")
  }

  private final class FloatsArrayBuilder extends ColBuilder {
    private var values = new Array[Float](1024)
    private var len = 0
    private val offsets = new ArrayBuffer[Int](1025)
    offsets += 0
    private var elemNulls: Array[Boolean] = null
    private val rowNulls = new ArrayBuffer[Boolean]()
    private var anyRowNull = false
    private var anyElemNull = false

    override def elems: Int = len

    private def ensure(cap: Int): Unit = {
      if (cap > values.length) {
        val grown = new Array[Float](math.max(cap, values.length * 2))
        System.arraycopy(values, 0, grown, 0, len)
        values = grown
        if (elemNulls != null) {
          val gn = new Array[Boolean](grown.length)
          System.arraycopy(elemNulls, 0, gn, 0, len)
          elemNulls = gn
        }
      }
    }

    override def append(row: InternalRow, ordinal: Int): Unit = {
      if (row.isNullAt(ordinal)) {
        anyRowNull = true
        rowNulls += true
        offsets += len
      } else {
        rowNulls += false
        val arr = row.getArray(ordinal)
        val n = arr.numElements()
        ensure(len + n)
        var i = 0
        while (i < n) {
          if (arr.isNullAt(i)) {
            anyElemNull = true
            if (elemNulls == null) elemNulls = new Array[Boolean](values.length)
            elemNulls(len) = true
            values(len) = 0f
          } else {
            values(len) = arr.getFloat(i)
          }
          len += 1
          i += 1
        }
        offsets += len
      }
    }

    override def result(n: Int): GraftCol = FloatsArrayCol(
      offsets.toArray,
      java.util.Arrays.copyOf(values, len),
      if (anyRowNull) rowNulls.toArray else null,
      if (anyElemNull) java.util.Arrays.copyOf(elemNulls, len) else null)
  }

  private final class IntBuilder extends ColBuilder {
    private val vs = new ArrayBuffer[Int](); private val ns = new ArrayBuffer[Boolean]()
    private var anyNull = false
    override def elems: Int = 0
    override def append(row: InternalRow, ordinal: Int): Unit =
      if (row.isNullAt(ordinal)) { anyNull = true; ns += true; vs += 0 }
      else { ns += false; vs += row.getInt(ordinal) }
    override def result(n: Int): GraftCol =
      IntCol(vs.toArray, if (anyNull) ns.toArray else null)
  }
  private final class LongBuilder extends ColBuilder {
    private val vs = new ArrayBuffer[Long](); private val ns = new ArrayBuffer[Boolean]()
    private var anyNull = false
    override def elems: Int = 0
    override def append(row: InternalRow, ordinal: Int): Unit =
      if (row.isNullAt(ordinal)) { anyNull = true; ns += true; vs += 0L }
      else { ns += false; vs += row.getLong(ordinal) }
    override def result(n: Int): GraftCol =
      LongCol(vs.toArray, if (anyNull) ns.toArray else null)
  }
  private final class FloatBuilder extends ColBuilder {
    private val vs = new ArrayBuffer[Float](); private val ns = new ArrayBuffer[Boolean]()
    private var anyNull = false
    override def elems: Int = 0
    override def append(row: InternalRow, ordinal: Int): Unit =
      if (row.isNullAt(ordinal)) { anyNull = true; ns += true; vs += 0f }
      else { ns += false; vs += row.getFloat(ordinal) }
    override def result(n: Int): GraftCol =
      FloatCol(vs.toArray, if (anyNull) ns.toArray else null)
  }
  private final class DoubleBuilder extends ColBuilder {
    private val vs = new ArrayBuffer[Double](); private val ns = new ArrayBuffer[Boolean]()
    private var anyNull = false
    override def elems: Int = 0
    override def append(row: InternalRow, ordinal: Int): Unit =
      if (row.isNullAt(ordinal)) { anyNull = true; ns += true; vs += 0.0 }
      else { ns += false; vs += row.getDouble(ordinal) }
    override def result(n: Int): GraftCol =
      DoubleCol(vs.toArray, if (anyNull) ns.toArray else null)
  }
  private final class BoolBuilder extends ColBuilder {
    private val vs = new ArrayBuffer[Boolean](); private val ns = new ArrayBuffer[Boolean]()
    private var anyNull = false
    override def elems: Int = 0
    override def append(row: InternalRow, ordinal: Int): Unit =
      if (row.isNullAt(ordinal)) { anyNull = true; ns += true; vs += false }
      else { ns += false; vs += row.getBoolean(ordinal) }
    override def result(n: Int): GraftCol =
      BoolCol(vs.toArray, if (anyNull) ns.toArray else null)
  }

  // ---------- read side: zero-copy vector views ----------

  private def wrap(col: GraftCol, dt: DataType): ColumnVector = (col, dt) match {
    case (c: FloatsArrayCol, at @ ArrayType(FloatType, _)) =>
      new GraftArrayVector(c, at)
    case (c: IntCol, IntegerType) => new GraftIntVector(c)
    case (c: LongCol, LongType) => new GraftLongVector(c)
    case (c: FloatCol, FloatType) => new GraftFloatColVector(c)
    case (c: DoubleCol, DoubleType) => new GraftDoubleVector(c)
    case (c: BoolCol, BooleanType) => new GraftBoolVector(c)
    case (c, t) => throw new IllegalStateException(
      s"graft cache column ${c.getClass.getSimpleName} cannot serve type $t")
  }

  private abstract class BaseVector(dt: DataType) extends ColumnVector(dt) {
    protected def uoe: UnsupportedOperationException =
      new UnsupportedOperationException(s"graft cache vector over $dt")
    override def close(): Unit = ()
    override def getBoolean(i: Int): Boolean = throw uoe
    override def getByte(i: Int): Byte = throw uoe
    override def getShort(i: Int): Short = throw uoe
    override def getInt(i: Int): Int = throw uoe
    override def getLong(i: Int): Long = throw uoe
    override def getFloat(i: Int): Float = throw uoe
    override def getDouble(i: Int): Double = throw uoe
    override def getArray(i: Int): ColumnarArray = throw uoe
    override def getMap(i: Int): ColumnarMap = throw uoe
    override def getDecimal(i: Int, p: Int, s: Int): Decimal = throw uoe
    override def getUTF8String(i: Int): UTF8String = throw uoe
    override def getBinary(i: Int): Array[Byte] = throw uoe
    override def getChild(i: Int): ColumnVector = throw uoe
    protected def nullsOrNull: Array[Boolean]
    override def hasNull: Boolean = nullsOrNull != null
    override def numNulls: Int = {
      val ns = nullsOrNull
      if (ns == null) 0 else { var c = 0; var i = 0
        while (i < ns.length) { if (ns(i)) c += 1; i += 1 }; c }
    }
    override def isNullAt(i: Int): Boolean = {
      val ns = nullsOrNull
      ns != null && ns(i)
    }
  }

  /** The flat float payload of one array column — `getFloats` is a
    * single bulk copy, which is what the scan path's `toFloatArray`
    * (via ColumnarArray) lands on. */
  private final class GraftFloatsVector(values: Array[Float],
      elemNulls: Array[Boolean]) extends BaseVector(FloatType) {
    override protected def nullsOrNull: Array[Boolean] = elemNulls
    override def getFloat(i: Int): Float = values(i)
    override def getFloats(rowId: Int, count: Int): Array[Float] =
      java.util.Arrays.copyOfRange(values, rowId, rowId + count)
  }

  private final class GraftArrayVector(col: FloatsArrayCol,
      at: ArrayType) extends BaseVector(at) {
    private val child = new GraftFloatsVector(col.values, col.elemNulls)
    override protected def nullsOrNull: Array[Boolean] = col.rowNulls
    override def getArray(i: Int): ColumnarArray =
      new ColumnarArray(child, col.offsets(i), col.offsets(i + 1) - col.offsets(i))
    override def getChild(i: Int): ColumnVector = child
  }

  private final class GraftIntVector(col: IntCol)
      extends BaseVector(IntegerType) {
    override protected def nullsOrNull: Array[Boolean] = col.nulls
    override def getInt(i: Int): Int = col.values(i)
    override def getInts(rowId: Int, count: Int): Array[Int] =
      java.util.Arrays.copyOfRange(col.values, rowId, rowId + count)
  }
  private final class GraftLongVector(col: LongCol)
      extends BaseVector(LongType) {
    override protected def nullsOrNull: Array[Boolean] = col.nulls
    override def getLong(i: Int): Long = col.values(i)
    override def getLongs(rowId: Int, count: Int): Array[Long] =
      java.util.Arrays.copyOfRange(col.values, rowId, rowId + count)
  }
  private final class GraftFloatColVector(col: FloatCol)
      extends BaseVector(FloatType) {
    override protected def nullsOrNull: Array[Boolean] = col.nulls
    override def getFloat(i: Int): Float = col.values(i)
    override def getFloats(rowId: Int, count: Int): Array[Float] =
      java.util.Arrays.copyOfRange(col.values, rowId, rowId + count)
  }
  private final class GraftDoubleVector(col: DoubleCol)
      extends BaseVector(DoubleType) {
    override protected def nullsOrNull: Array[Boolean] = col.nulls
    override def getDouble(i: Int): Double = col.values(i)
    override def getDoubles(rowId: Int, count: Int): Array[Double] =
      java.util.Arrays.copyOfRange(col.values, rowId, rowId + count)
  }
  private final class GraftBoolVector(col: BoolCol)
      extends BaseVector(BooleanType) {
    override protected def nullsOrNull: Array[Boolean] = col.nulls
    override def getBoolean(i: Int): Boolean = col.values(i)
    override def getBooleans(rowId: Int, count: Int): Array[Boolean] =
      java.util.Arrays.copyOfRange(col.values, rowId, rowId + count)
  }
}
