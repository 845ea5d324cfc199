package graft

import org.apache.spark.sql.functions._

import graft.streaming.IvfDeltaIngest

/** The driver-side resolveBatchLocal must be BIT-identical to the
  * resolveBatch Spark plan on every law the plan encodes: per-
  * (vec_id, embedding) nearest-centroid with (d, cluster_id)
  * lexicographic tie-break, per-vec_id winner by (d, cluster_id,
  * hash(embedding)), and Spark's NormalizeFloatingNumbers grouping
  * semantics (-0.0f folds into 0.0f before the aggregate). The
  * serving commit path rides the local twin, so a divergence here is
  * a wrong buffer row in production. */
class LocalResolveSpec extends SparkSpec {
  import spark.implicits._

  private val cent: Seq[(Int, Array[Float])] = Seq(
    0 -> Array(0f, 0f),
    1 -> Array(2f, 0f),
    2 -> Array(0f, 2f))

  private def planRows(rows: Seq[(Long, Array[Float])], seq: Long)
      : Map[Long, (Seq[Float], Long, Int)] = {
    val batch = rows.map { case (id, e) => (id, e.toSeq) }
      .toDF("vec_id", "embedding")
    val centDf = cent.map { case (c, v) => (c, v.toSeq) }
      .toDF("cluster_id", "centroid")
    IvfDeltaIngest.resolveBatch(batch, centDf, seq).collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Float](1), r.getLong(2), r.getInt(3))))
      .toMap
  }

  private def localRows(rows: Seq[(Long, Array[Float])], seq: Long)
      : Map[Long, (Seq[Float], Long, Int)] =
    IvfDeltaIngest.resolveBatchLocal(rows.map { case (id, e) => (id, e, Nil) },
        Nil, cent, seq)
      .map { case (id, e, s, c, _) => id -> ((e.toSeq, s, c)) }.toMap

  private def assertSame(rows: Seq[(Long, Array[Float])], seq: Long): Unit = {
    val plan = planRows(rows, seq)
    val local = localRows(rows, seq)
    assert(local.keySet == plan.keySet)
    local.foreach { case (id, (e, s, c)) =>
      val (pe, ps, pc) = plan(id)
      assert(s == ps && c == pc, s"vec $id: local ($s,$c) vs plan ($ps,$pc)")
      assert(e.map(java.lang.Float.floatToRawIntBits) ==
        pe.map(java.lang.Float.floatToRawIntBits),
        s"vec $id embedding bits diverge")
    }
  }

  test("plain batch: nearest centroid, dedup to one row per vec_id") {
    assertSame(Seq(
      10L -> Array(1.9f, 0.1f),  // nearest c1
      11L -> Array(0.1f, 1.9f),  // nearest c2
      12L -> Array(0.1f, 0.1f),  // nearest c0
      12L -> Array(0.1f, 0.1f)), // exact duplicate folds
      seq = 7L)
  }

  test("centroid tie breaks by cluster_id, both paths") {
    // (1,0) is exactly equidistant (d=1) to c0 and c1 -> cluster 0
    assertSame(Seq(20L -> Array(1f, 0f)), seq = 3L)
    val got = localRows(Seq(20L -> Array(1f, 0f)), 3L)
    assert(got(20L)._3 == 0)
  }

  test("same vec_id, equal (d, cluster): hash(embedding) decides — identically") {
    // (1, 0.5) and (1, -0.5) have identical distance to every listed
    // centroid (symmetric about the x-axis between c0 and c1), so the
    // per-vec_id winner rests entirely on the Murmur3 tie-break
    assertSame(Seq(
      30L -> Array(1f, 0.5f),
      30L -> Array(1f, -0.5f)), seq = 11L)
  }

  test("-0.0f groups with 0.0f and the resolved row carries +0.0f") {
    assertSame(Seq(
      40L -> Array(-0.0f, 0.1f),
      40L -> Array(0.0f, 0.1f)), seq = 5L)
    val got = localRows(Seq(40L -> Array(-0.0f, 0.1f)), 5L)
    assert(java.lang.Float.floatToRawIntBits(got(40L)._1.head) == 0)
  }

  test("NaN embedding: all-NaN distances take the MIN cluster id, both paths") {
    // every distance to a NaN vector is NaN; the plan's
    // min(struct(d, cluster_id)) total order (NaN equal-and-largest)
    // assigns the smallest cluster id — the local twin must not fall
    // through its IEEE comparisons into a phantom Int.MaxValue cluster
    assertSame(Seq(50L -> Array(Float.NaN, 0.5f)), seq = 13L)
    val got = localRows(Seq(50L -> Array(Float.NaN, 0.5f)), 13L)
    assert(got(50L)._3 == 0)
    // mixed batch: a NaN row beside finite rows of the same vec_id —
    // finite distances rank below NaN, so the finite row wins
    assertSame(Seq(
      51L -> Array(Float.NaN, 0.5f),
      51L -> Array(1.9f, 0.1f)), seq = 13L)
  }

  test("randomized agreement across a mixed batch") {
    val rnd = new scala.util.Random(4242)
    val rows = (0 until 200).map { i =>
      ((i % 60).toLong,
        Array.fill(2)((rnd.nextInt(9) - 4) * 0.5f)) // coarse grid: many ties
    }
    assertSame(rows, seq = 99L)
  }

  test("metadata rides with its row and enters the tie-break hash, both paths") {
    val rnd = new scala.util.Random(77)
    // the same (vec_id, embedding) under several labels, null included:
    // only hash(embedding, label) tells the rows apart
    val rows = (0 until 120).map { i =>
      ((i % 20).toLong, Array.fill(2)((rnd.nextInt(5) - 2) * 0.5f),
        if (i % 7 == 0) None else Some(rnd.nextInt(3)))
    }
    val batch = rows.map { case (id, e, l) => (id, e.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
    val centDf = cent.map { case (c, v) => (c, v.toSeq) }
      .toDF("cluster_id", "centroid")
    val plan = IvfDeltaIngest.resolveBatch(batch, centDf, 5L, Seq("label"))
      .collect().map(r => r.getLong(0) -> ((bits(r.getSeq[Float](1)), r.getLong(2),
        r.getInt(3), Option(r.get(4))))).toMap
    val local = IvfDeltaIngest.resolveBatchLocal(
        rows.map { case (id, e, l) => (id, e, Seq(l.map(Integer.valueOf).orNull)) },
        Seq(org.apache.spark.sql.types.IntegerType), cent, 5L)
      .map { case (id, e, s, c, m) => id -> ((bits(e.toSeq), s, c, Option(m.head))) }
      .toMap
    assert(local == plan)
  }

  private def bits(v: Seq[Float]): Seq[Int] = v.map(java.lang.Float.floatToRawIntBits)
}
