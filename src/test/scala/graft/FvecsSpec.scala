package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.Fvecs

class FvecsSpec extends SparkSpec {
  import spark.implicits._

  test("fvecs round-trip: write then read preserves vectors and order") {
    val dir = Files.createDirectories(Paths.get("target/tmp-fvecs"))
    val f = dir.resolve("sample.fvecs").toString
    val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .orderBy("vec_id").limit(100)
      .select($"vec_id".as("id"), $"embedding".as("vector"))
    Fvecs.writeFvecs(src, f)

    val back = Fvecs.readFvecs(spark, f)
    assert(back.count() === 100)
    val orig = src.collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    val got = back.orderBy("id").collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    // file ids are positional 0..99; original vec_ids are 0..99 ordered
    orig.zip(got).foreach { case ((_, v0), (_, v1)) => assert(v0 === v1) }
  }

  test("DataSource V2: spark.read.format(\"fvecs\") matches the RDD reader") {
    val dir = Files.createDirectories(Paths.get("target/tmp-fvecs"))
    val f = dir.resolve("sample.fvecs").toString
    if (!Files.exists(Paths.get(f))) {
      val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .orderBy("vec_id").limit(100)
        .select($"vec_id".as("id"), $"embedding".as("vector"))
      Fvecs.writeFvecs(src, f)
    }
    val v2 = spark.read.format("fvecs").load(f)
      .orderBy("id").collect()
      .map(r => (r.getLong(1), r.getSeq[Float](2)))
    val rdd = Fvecs.readFvecs(spark, f)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(v2.length === 100)
    assert(v2 === rdd)
  }

  test("ivecs round-trip: write then read preserves lists, order, and widths") {
    val dir = Files.createDirectories(Paths.get("target/tmp-fvecs"))
    val f = dir.resolve("rt.ivecs").toString
    // variable-length records and values beyond one byte exercise the
    // int32 framing (a UInt8/endianness bug would corrupt these)
    val src = Seq(
      (0L, Seq(7, 300, 65539)),
      (1L, Seq(2147483647, -1)),
      (2L, Seq(42)))
      .toDF("id", "neighbors")
    Fvecs.writeIvecs(src, f)
    val back = Fvecs.readIvecs(spark, f).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(back.toSeq === Seq(
      (0L, Seq(7, 300, 65539)),
      (1L, Seq(2147483647, -1)),
      (2L, Seq(42))))
  }

  test("sharded fvecs dir round-trip: global ids and vectors byte-identical") {
    val dir = Files.createTempDirectory("graft-fvecs-dir").toString
    val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .orderBy("vec_id").limit(120)
      .select($"vec_id".as("id"), $"embedding".as("vector"))
    Fvecs.writeFvecsDir(src, dir, numFiles = 4)
    val parts = new java.io.File(dir).list().filter(_.endsWith(".fvecs"))
    assert(parts.length === 4, s"expected 4 shards, got ${parts.toSeq}")
    val back = Fvecs.readFvecsDir(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val orig = src.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    // input ids are 0..119, so cumulative-count global ids reproduce them
    assert(back.map(_._1).toSeq === orig.map(_._1).toSeq)
    back.zip(orig).foreach { case ((_, v1), (_, v0)) => assert(v1 === v0) }
  }

  test("sharded ivecs dir round-trip: variable-width lists survive sharding") {
    val dir = Files.createTempDirectory("graft-ivecs-dir").toString
    val src = (0L until 50L).map(i =>
        (i, (0 to (i % 4).toInt).map(j => (i * 10 + j).toInt)))
      .toDF("id", "neighbors")
    Fvecs.writeIvecsDir(src, dir, numFiles = 3)
    val back = Fvecs.readIvecsDir(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    val orig = src.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(back.toSeq === orig.toSeq)
  }

  test("ivecs reader parses int lists") {
    val dir = Files.createDirectories(Paths.get("target/tmp-fvecs"))
    val f = dir.resolve("gt.ivecs")
    val bb = java.nio.ByteBuffer.allocate(2 * (4 + 3 * 4))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(3).putInt(7).putInt(8).putInt(9)
    bb.putInt(3).putInt(1).putInt(2).putInt(3)
    Files.write(f, bb.array())
    val got = Fvecs.readIvecs(spark, f.toString).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(got === Array((0L, Seq(7, 8, 9)), (1L, Seq(1, 2, 3))))
  }

  test("a truncated .fvecs/.ivecs file fails on every read path, naming file and record") {
    // three records of dim 4 — the same bytes are a valid .fvecs and .ivecs
    val bb = java.nio.ByteBuffer.allocate(3 * (4 + 4 * 4))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 3).foreach { r => bb.putInt(4); (0 until 4).foreach(j => bb.putInt(r * 4 + j)) }
    val whole = bb.array()
    val negative = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-1).array()
    Seq(
      "partial trailing header" -> (whole ++ Array[Byte](1, 2), 3),
      "cut-short last record" -> (whole.dropRight(6), 2),
      "negative dim" -> (whole ++ negative, 3)
    ).foreach { case (what, (bytes, record)) =>
      val dir = Files.createTempDirectory("graft-fvecs-bad")
      Seq("fvecs", "ivecs").foreach(ext =>
        Files.write(dir.resolve(s"part-00000.$ext"), bytes))
      val reads: Seq[(String, String, () => Any)] = Seq(
        ("readFvecs", "fvecs",
          () => Fvecs.readFvecs(spark, s"$dir/part-00000.fvecs").collect()),
        ("readIvecs", "ivecs",
          () => Fvecs.readIvecs(spark, s"$dir/part-00000.ivecs").collect()),
        ("readFvecsDir", "fvecs", () => Fvecs.readFvecsDir(spark, dir.toString)),
        ("readIvecsDir", "ivecs", () => Fvecs.readIvecsDir(spark, dir.toString)),
        ("format(fvecs)", "fvecs", () => spark.read.format("fvecs")
          .load(s"$dir/part-00000.fvecs").collect()))
      reads.foreach { case (path, ext, read) =>
        val e = intercept[Exception](read())
        val msg = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(_.getMessage).mkString(" / ")
        assert(msg.contains(s"part-00000.$ext: record $record:"),
          s"$what via $path: $msg")
      }
    }
  }
}
