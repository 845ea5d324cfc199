package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the SIFT `.fvecs` / `.ivecs` binary formats
  * (/root/reference/include/utils.h:load_fvecs/load_ivecs): records of
  * `int32 dim` followed by `dim` little-endian float32 / int32 values.
  *
  * Distributed design: `binaryFile` gives one whole-file blob per row;
  * parsing fans out with flatMap so a directory of shard files
  * parallelizes naturally (the format has no record-boundary markers, so
  * intra-file splits are not possible — shard at write time for scale,
  * as SIFT distributions already do).
  */
object Fvecs {

  /** The one `.fvecs`/`.ivecs` record decoder over a whole file's
    * bytes: each record is `int32 dim` + `dim` little-endian 4-byte
    * values, read one record at a time with a bulk float or int get.
    * A partial trailing header, a negative dim or a record cut short
    * fails with an IOException naming the file and the record index —
    * a truncated file is never read as a shorter valid one. */
  private[sources] final class Records(path: String, bytes: Array[Byte]) {
    private val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    private var idx = 0L

    def hasNext: Boolean = bb.hasRemaining

    /** The next record's dim, with the buffer positioned at its values. */
    private def header(): Int = {
      def fail(why: String): Nothing =
        throw new java.io.IOException(s"$path: record $idx: $why")
      if (bb.remaining() < 4)
        fail(s"partial header (${bb.remaining()} trailing bytes)")
      val dim = bb.getInt()
      if (dim < 0) fail(s"negative dim $dim")
      if (bb.remaining() < 4L * dim)
        fail(s"dim $dim needs ${4L * dim} bytes, ${bb.remaining()} left")
      dim
    }

    private def advance(values: Int): Unit = {
      bb.position(bb.position() + 4 * values); idx += 1
    }

    def nextFloats(): Array[Float] = {
      val v = new Array[Float](header())
      bb.asFloatBuffer().get(v); advance(v.length); v
    }

    def nextInts(): Array[Int] = {
      val v = new Array[Int](header())
      bb.asIntBuffer().get(v); advance(v.length); v
    }
  }

  /** (file, record index, values) for every record of every file
    * `path` matches; `next` reads one record's values. */
  private def decode[A](spark: SparkSession, path: String)(
      next: Records => A): RDD[(String, Long, A)] =
    spark.sparkContext.binaryFiles(path).flatMap { case (file, pds) =>
      val rs = new Records(file, pds.toArray())
      Iterator.unfold(0L) { i =>
        if (rs.hasNext) Some(((file, i, next(rs)), i + 1)) else None
      }
    }

  /** Read .fvecs → (id bigint, vector array<float>). Ids are the record
    * index within each file offset by `idOffset`. */
  def readFvecs(spark: SparkSession, path: String, idOffset: Long = 0L): DataFrame = {
    import spark.implicits._
    decode(spark, path)(_.nextFloats())
      .map { case (_, i, v) => (idOffset + i, v.toSeq) }
      .toDF("id", "vector")
  }

  /** Read .ivecs (ground-truth neighbor lists) → (id, neighbors array<int>). */
  def readIvecs(spark: SparkSession, path: String, idOffset: Long = 0L): DataFrame = {
    import spark.implicits._
    decode(spark, path)(_.nextInts())
      .map { case (_, i, v) => (idOffset + i, v.toSeq) }
      .toDF("id", "neighbors")
  }

  /** Read a DIRECTORY of `part-*.fvecs` shards (the distributed writer's
    * layout) reconstructing GLOBAL ids: files ordered by name, each
    * file's id range = cumulative record counts of the files before it.
    * The count pass collects one (path, n) row per FILE — bounded by
    * shard count, never records. */
  def readFvecsDir(spark: SparkSession, dir: String): DataFrame =
    withGlobalIds(spark, readFvecsLocal(spark, s"$dir/part-*.fvecs"))

  /** Directory form of [[readIvecs]] — see [[readFvecsDir]]. */
  def readIvecsDir(spark: SparkSession, dir: String): DataFrame =
    withGlobalIds(spark, readIvecsLocal(spark, s"$dir/part-*.ivecs"))

  private def readFvecsLocal(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    decode(spark, glob)(_.nextFloats())
      .map { case (p, i, v) => (p, i, v.toSeq) }
      .toDF("path", "local_id", "vector")
  }

  private def readIvecsLocal(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    decode(spark, glob)(_.nextInts())
      .map { case (p, i, v) => (p, i, v.toSeq) }
      .toDF("path", "local_id", "neighbors")
  }

  /** global id = per-file offset (cumulative counts in file-name order)
    * + local record index. The offsets frame is one row per shard —
    * a broadcast join, and the only driver-side state is that row set. */
  private def withGlobalIds(spark: SparkSession, local: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val cached = local.cache()
    cached.count() // populate once before the two readers below
    val offsets = cached.groupBy(col("path"))
      .agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum(col("n")).over(
          Window.orderBy(col("path"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("path"), col("offset"))
    val out = cached
      .join(broadcast(offsets), "path")
      .withColumn("id", col("offset") + col("local_id"))
      .drop("path", "local_id", "offset")
      .select(col("id"), col(cached.columns.last))
      .localCheckpoint(true)
    cached.unpersist(false)
    out
  }

  /** Distributed .fvecs writer: range-partition by id into `numFiles`
    * contiguous shards, each task streams ITS shard to
    * `dir/part-NNNNN.fvecs` through the Hadoop FileSystem API (shared
    * storage on a cluster — no driver collect, no executor-local
    * files). Lexicographic part order == id order, so
    * [[readFvecsDir]]'s cumulative-count ids reproduce the originals
    * when input ids are 0..n-1. For single-file consumers:
    * `cat dir/part-*.fvecs > all.fvecs` — the format is pure
    * concatenation (no header/footer), so the merge is byte-exact. */
  def writeFvecsDir(df: DataFrame, dir: String, numFiles: Int): Unit =
    writeDir(df, dir, numFiles, "fvecs", "vector")

  private def writeDir(df: DataFrame, dir: String, numFiles: Int,
      ext: String, valueCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    val isF = ext == "fvecs"
    // ship the SESSION's Hadoop conf to the tasks (spark.hadoop.* —
    // object-store credentials, filesystem impls — must reach the
    // FileSystem the shard writers open; a bare `new Configuration()`
    // silently drops them)
    val confBc = df.sparkSession.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        df.sparkSession.sparkContext.hadoopConfiguration))
    df.select(col("id"), col(valueCol))
      .repartitionByRange(numFiles, col("id"))
      .sortWithinPartitions("id")
      .rdd
      .mapPartitionsWithIndex { case (pid, rows) =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(dir), confBc.value.value)
        val out = fs.create(new org.apache.hadoop.fs.Path(
          dir, f"part-$pid%05d.$ext"), true)
        try rows.foreach { r =>
          if (isF) {
            val v = r.getSeq[Float](1)
            val bb = ByteBuffer.allocate(4 + 4 * v.length)
              .order(ByteOrder.LITTLE_ENDIAN)
            bb.putInt(v.length); v.foreach(bb.putFloat)
            out.write(bb.array())
          } else {
            val v = r.getSeq[Int](1)
            val bb = ByteBuffer.allocate(4 + 4 * v.length)
              .order(ByteOrder.LITTLE_ENDIAN)
            bb.putInt(v.length); v.foreach(bb.putInt)
            out.write(bb.array())
          }
        } finally out.close()
        Iterator.single(pid)
      }
      .foreach(_ => ())
  }

  /** Distributed .ivecs writer — see [[writeFvecsDir]]. */
  def writeIvecsDir(df: DataFrame, dir: String, numFiles: Int): Unit =
    writeDir(df, dir, numFiles, "ivecs", "neighbors")

  /** Write a DataFrame(id, neighbors array<int>) as a single .ivecs file
    * (utils.h's ground-truth layout) — records in the frame's row order,
    * so callers order by id first. */
  def writeIvecs(df: DataFrame, file: String): Unit = {
    val rows = df.collect()
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file)))
    try rows.foreach { r =>
      val ids = r.getSeq[Int](r.fieldIndex("neighbors"))
      val bb = ByteBuffer.allocate(4 + 4 * ids.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(ids.length)
      ids.foreach(bb.putInt)
      out.write(bb.array())
    } finally out.close()
  }

  /** Write a DataFrame(id, vector array<float>) as a single .fvecs file —
    * test fixture + interop writer. */
  def writeFvecs(df: DataFrame, file: String): Unit = {
    val rows = df.collect()
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file)))
    try rows.foreach { r =>
      val vec = r.getSeq[Float](r.fieldIndex("vector"))
      val bb = ByteBuffer.allocate(4 + 4 * vec.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(vec.length)
      vec.foreach(bb.putFloat)
      out.write(bb.array())
    } finally out.close()
  }
}
