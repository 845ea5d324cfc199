package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** GraftCachedBatchSerializer round-trip laws: caching must never change
  * what a plan computes — for the flat-float fast path (vector frames),
  * the delegated default path (string-bearing frames, and atomic
  * frames the default reads back as columnar batches), and the mixed
  * shape (ineligible cache schema, eligible selection). SparkSpec's
  * session registers the serializer, so the whole suite (and the
  * oracle gate) already runs over it; these tests pin the tricky
  * layouts directly. */
class CacheSerializerSpec extends SparkSpec {

  /** Bit-level normalizer so NaN == NaN and -0.0 != 0.0 in compares. */
  private def norm(v: Any): Any = v match {
    case a: Array[_] => a.toSeq.map(norm)
    case a: scala.collection.Seq[_] => a.map(norm)
    case f: java.lang.Float => java.lang.Float.floatToIntBits(f)
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
    case other => other
  }

  private def assertCacheTransparent(df: DataFrame): Unit = {
    val plain = df.collect().map(r => norm(r.toSeq)).toSeq
    val cached = df.cache()
    try {
      val viaCache = cached.collect().map(r => norm(r.toSeq)).toSeq
      assert(viaCache === plain)
      // a second consumer with a projection reads the same blocks
      val cols = df.columns
      val proj = cached.select(cols.reverse.map(col): _*).collect()
        .map(r => norm(r.toSeq)).toSeq
      val projPlain = df.select(cols.reverse.map(col): _*).collect()
        .map(r => norm(r.toSeq)).toSeq
      assert(proj === projPlain)
    } finally cached.unpersist(true)
  }

  test("fast path: float-vector frame round-trips exactly") {
    val e = Tables.load(spark, sfDir, "embeddings")
    assert(graft.functions.GraftCachedBatchSerializer.eligible(
      e.schema.fields.toSeq.map(_.dataType)))
    assertCacheTransparent(e)
  }

  test("fast path: nulls in rows, elements, and atomics round-trip") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, Array[java.lang.Float])](
      (1L, Array[java.lang.Float](1.0f, 2.0f)),
      (null, Array[java.lang.Float](3.0f, null, -0.0f)),
      (3L, null),
      (4L, Array.empty[java.lang.Float]),
      (5L, Array[java.lang.Float](Float.NaN, Float.MinPositiveValue)))
      .toDF("id", "vec")
    assert(graft.functions.GraftCachedBatchSerializer.eligible(
      df.schema.fields.toSeq.map(_.dataType)))
    assertCacheTransparent(df)
  }

  test("fast path: frames larger than one batch round-trip") {
    import spark.implicits._
    val df = spark.range(25000)
      .select($"id",
        transform(sequence(lit(0), pmod($"id", lit(5)).cast("int")),
          i => (i + $"id").cast("float")).as("vec"),
        ($"id" % 3 === 0).as("flag"),
        ($"id" * 1.5).as("d"),
        $"id".cast("int").as("i"),
        $"id".cast("float").as("f"))
    assertCacheTransparent(df)
  }

  test("delegation: string-bearing frames keep the default serializer") {
    val docs = Tables.load(spark, sfDir, "documents")
    assert(!graft.functions.GraftCachedBatchSerializer.eligible(
      docs.schema.fields.toSeq.map(_.dataType)))
    assertCacheTransparent(docs)
  }

  // The string column makes supportsColumnarOutput false for this cache
  // schema, so the scan reads it back through the delegated row path.
  test("mixed shape: ineligible cache schema, eligible selection (rebuild fallback)") {
    import spark.implicits._
    val df = spark.range(500)
      .select($"id", concat(lit("s"), $"id").as("s"),
        array($"id".cast("float"), lit(2.5f)).as("vec"))
    val cached = df.cache()
    try {
      cached.count() // populate with the DELEGATED (default) format
      val sel = cached.select($"vec", $"id").collect().map(_.toSeq).toSeq
      val plain = df.select($"vec", $"id").collect().map(_.toSeq).toSeq
      assert(sel === plain)
    } finally cached.unpersist(true)
  }

  test("delegation: byte/short cache batches read back as columnar batches") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.types._
    val ser = new graft.functions.GraftCachedBatchSerializer
    val attrs = Seq(AttributeReference("b", ByteType)(),
      AttributeReference("s", ShortType)(), AttributeReference("i", IntegerType)())
    // ineligible for the flat format, but the default serializer
    // promises columnar output for these atomic types
    assert(ser.supportsColumnarOutput(
      StructType(attrs.map(a => StructField(a.name, a.dataType)))))
    val rows = (0 until 300).map(i => (i.toByte, (i * 7).toShort, i * 1000))
    val batches = ser.convertInternalRowToCachedBatch(
      spark.sparkContext.parallelize(
        rows.map { case (b, s, i) => InternalRow(b, s, i) }, 2),
      attrs, org.apache.spark.storage.StorageLevel.MEMORY_ONLY, SQLConf.get)
    val back = ser.convertCachedBatchToColumnarBatch(
        batches, attrs, attrs.reverse, SQLConf.get)
      .flatMap { cb => (0 until cb.numRows).map(r => (cb.column(2).getByte(r),
        cb.column(1).getShort(r), cb.column(0).getInt(r))) }
      .collect().toSeq
    assert(back === rows)
  }

  test("fast path: filters over the cached frame are applied downstream") {
    import spark.implicits._
    val e = Tables.load(spark, sfDir, "embeddings").cache()
    try {
      val filtered = e.filter($"vec_id" < 8).collect().map(_.toSeq).toSeq
      val plain = Tables.load(spark, sfDir, "embeddings")
        .filter($"vec_id" < 8).collect().map(_.toSeq).toSeq
      assert(filtered === plain)
      assert(filtered.nonEmpty)
    } finally e.unpersist(true)
  }
}
