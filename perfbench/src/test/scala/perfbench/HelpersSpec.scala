package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val spark = {
    val s = SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", 2).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("tail percentile keeps at least 10 samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tailPercentile(xs, 99) == 990.0) // exactly 10 beyond
    val small = (1 to 200).map(_.toDouble)
    // p99 would leave 2 beyond; the rule backs off to 190 (10 beyond)
    assert(Stats.tailPercentile(small, 99) == 190.0)
    assert(small.count(_ > Stats.tailPercentile(small, 95)) >= 10)
    // too few samples for any percentile with 10 beyond: the maximum
    assert(Stats.tailPercentile((1 to 5).map(_.toDouble), 99) == 5.0)
    // failures sort last, at infinite latency
    val withFailures = small ++ Seq.fill(15)(Double.PositiveInfinity)
    assert(Stats.tailPercentile(withFailures, 99).isInfinite)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
  }

  test("interval union counts overlaps once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((3L, 3L))) == 0L)
  }

  test("arrival schedule is a pure function of the seed") {
    val a = Serve.schedule(11L, 30.0, 40.0, 4.0)
    val b = Serve.schedule(11L, 30.0, 40.0, 4.0)
    val c = Serve.schedule(12L, 30.0, 40.0, 4.0)
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != c.toSeq)
    assert(a.map(_.due).toSeq == a.map(_.due).sorted.toSeq)
    assert(a.last.due < 30L * 1000000000L)
    // exactly 40 searches and 4 inserts a second, in the warm-up and after
    val warm = (Serve.WarmSeconds * 1e9).toLong
    val (early, late) = a.partition(_.due < warm)
    assert(early.count(!_.insert) == math.round(40 * Serve.WarmSeconds))
    assert(late.count(!_.insert) == math.round(40 * (30 - Serve.WarmSeconds)))
    assert(late.count(_.insert) == math.round(4 * (30 - Serve.WarmSeconds)))
  }

  test("pipeline draw is a pure function of the seed, with its hot-tail share") {
    val pool = (Pipeline.HotTail ++ Seq("v", "d", "t", "q", "m", "p", "s").flatMap(f =>
      (1 to 6).map(i => s"${f}_entry$i"))).sorted
    Pipeline.Draws.foreach { case (workload, spec) =>
      val a = Pipeline.draw(pool, 5L, spec)
      assert(a == Pipeline.draw(pool.reverse, 5L, spec), workload)
      assert(spec.always.nonEmpty && spec.always.forall(a.contains), workload)
      assert(spec.families.forall(f => a.exists(n => Pipeline.family(n) == f &&
        !spec.always.contains(n))), workload)
      assert(a.size == spec.always.size + spec.families.size, workload)
      assert((1L to 20L).map(Pipeline.draw(pool, _, spec)).distinct.size > 1, workload)
    }
    // together the workloads draw the whole hot tail
    assert(Pipeline.Draws.values.flatMap(_.always).toSet == Pipeline.HotTail.toSet)
  }

  test("ground-truth kNN on a tiny fixture") {
    val corpus = Array(
      0L -> Array(0f, 0f), 1L -> Array(1f, 0f), 2L -> Array(0f, 2f),
      3L -> Array(3f, 3f), 4L -> Array(-1f, 0f))
    val top = GroundTruth.topK(corpus, Array(0f, 0f), 3)
    // ids 1 and 4 tie at distance 1: the tie breaks by id
    assert(top.map(_._1).toSeq == Seq(0L, 1L, 4L))
    assert(top.map(_._2).toSeq == Seq(0.0, 1.0, 1.0))
    assert(GroundTruth.topK(corpus, Array(3f, 2.9f), 1).head._1 == 3L)
    val hits = top.zipWithIndex.map { case ((id, d), i) => GroundTruth.Hit(id, i + 1L, d) }.toSeq
    val vec = corpus.toMap
    assert(GroundTruth.checkAnswer(hits, 3, Array(0f, 0f), vec.get).isEmpty)
    val wrongDist = hits.updated(2, hits(2).copy(dist = 1.5))
    assert(GroundTruth.checkAnswer(wrongDist, 3, Array(0f, 0f), vec.get).nonEmpty)
    assert(GroundTruth.checkAnswer(hits.take(2), 3, Array(0f, 0f), vec.get).nonEmpty)
    assert(GroundTruth.recall(Seq(0L, 1L, 2L), Seq(0L, 1L, 4L)) == 2.0 / 3)
  }

  test("digest ignores row order and partitioning but not content") {
    import spark.implicits._
    val rows = Seq((1L, "a", 0.1 + 0.2, Seq(1.5f, 2.5f)), (2L, "b", 3.0, Seq(0f)),
      (3L, null, -7.25, Seq.empty[Float]))
    val df = rows.toDF("id", "s", "x", "v")
    val d1 = Pipeline.digest(df)
    assert(d1 == Pipeline.digest(rows.reverse.toDF("id", "s", "x", "v").repartition(3)))
    assert(d1._1 == 3L)
    // last-bit noise in a double does not change it
    assert(d1 == Pipeline.digest(Seq((1L, "a", 0.3, Seq(1.5f, 2.5f)), (2L, "b", 3.0, Seq(0f)),
      (3L, null, -7.25, Seq.empty[Float])).toDF("id", "s", "x", "v")))
    assert(d1 != Pipeline.digest(rows.take(2).toDF("id", "s", "x", "v")))
    assert(d1 != Pipeline.digest(Seq((1L, "a", 0.31, Seq(1.5f, 2.5f)), (2L, "b", 3.0, Seq(0f)),
      (3L, null, -7.25, Seq.empty[Float])).toDF("id", "s", "x", "v")))
    val m = Seq((1, Map("k" -> 1.0))).toDF("i", "m")
    assert(Pipeline.digest(m)._1 == 1L)
  }

  test("seeded tables are identical across runs") {
    val dir = new java.io.File("target/spec-tables").getAbsolutePath
    val vecs = Main.vectors("clustered", new scala.util.Random(3), 50, 4)
    Data.writeTables(spark, s"$dir/a", 0.0005, 9L, vecs)
    Data.writeTables(spark, s"$dir/b", 0.0005, 9L, vecs)
    Seq("customer", "lineitem", "events", "documents", "embeddings").foreach { t =>
      assert(Pipeline.digest(spark.read.parquet(s"$dir/a/$t.parquet")) ==
        Pipeline.digest(spark.read.parquet(s"$dir/b/$t.parquet")), t)
    }
    assert(spark.read.parquet(s"$dir/a/lineitem.parquet").count() == 3000L)
  }
}
