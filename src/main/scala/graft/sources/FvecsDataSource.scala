package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 for the SIFT `.fvecs` format
  * (/root/reference/include/utils.h:load_fvecs):
  * `spark.read.format("fvecs").load(path)` → (file string, id bigint,
  * vector array<float>). One input partition per file — the format has no
  * record markers, so files are the split unit (SIFT distributions shard
  * at write time). `id` is the record index within its file.
  */
class FvecsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fvecs"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FvecsTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FvecsTable(properties.asScala.toMap)
}

object FvecsTable {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false),
      nullable = false)))
}

class FvecsTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"fvecs(${props.getOrElse("path", "?")})"
  override def schema(): StructType = FvecsTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new FvecsScan(options.asScala.getOrElse("path",
      props.getOrElse("path", sys.error("fvecs: no path given"))))
}

class FvecsScan(path: String) extends Scan with Batch {
  override def readSchema(): StructType = FvecsTable.Schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(new Configuration())
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
      else Array(p.toString)
    files.sorted.map(f => FvecsPartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) =>
      new FvecsPartitionReader(partition.asInstanceOf[FvecsPartition].file)
}

case class FvecsPartition(file: String) extends InputPartition

class FvecsPartitionReader(file: String) extends PartitionReader[InternalRow] {
  private val fileUtf8 = org.apache.spark.unsafe.types.UTF8String.fromString(file)
  private val records: Fvecs.Records = {
    val p = new Path(file)
    val fs = p.getFileSystem(new Configuration())
    val len = fs.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    new Fvecs.Records(file, bytes)
  }
  private var idx = -1L
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (!records.hasNext) return false
    val vec = records.nextFloats()
    idx += 1
    current = new GenericInternalRow(
      Array[Any](fileUtf8, idx, ArrayData.toArrayData(vec)))
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
