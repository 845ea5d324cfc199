package graft

import graft.streaming.Serving.Hit

/** Bench's serve sweep: every point is checked on both routes, its
  * counts add up, its scratch store is gone afterwards, and the answer
  * checker rejects each kind of wrong answer. */
class BenchServeSpec extends SparkSpec {

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-bench-serve-spec", seed = 135)

  private def scratchCopies(): Set[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).list()).toSet.flatten
      .filter(_.startsWith("graft-scratch-ivf"))

  test("serveSweep at depth 2 checks every answer on both routes") {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val before = scratchCopies()
    val points = Bench.serveSweep(spark, fixtureDir, Seq("resident" -> 2, "job" -> 2), errors)
    assert(errors.isEmpty, errors)
    assert(scratchCopies() == before, "the scratch store is deleted")
    assert(points.map(p => p.route -> p.depth) == Seq("resident" -> 2, "job" -> 2))
    points.foreach { p =>
      val route = p.route
      // 2 clients × 32 searches; 1 insert client × 25 requests, one probe each
      assert(p.search.n == 64 && p.insert.n == 25 && p.probes == 25, route)
      assert(p.compared == 16 && p.mismatches == 0 && p.rywMisses == 0, route)
      assert(p.fault.isEmpty, route)
      // + the warm-up search and the 16 compared after the drain
      assert(p.searchSplit.requests == 64 + 25 + 1 + 16, route)
      assert(p.searchSplit.jobBatches == (if (route == "job") p.searchSplit.batches else 0L),
        route)
      assert(p.ingestSplit._2 == 25 + 1, route) // + the warm-up insert
      assert(p.search.p50Ms <= p.search.p99Ms && p.search.qps > 0.0, route)
    }
    assert(points.map(_.json).forall(_.startsWith("{\"route\":")))
    assert(points.find(_.route == "job").exists(_.json.contains("\"searches_per_job\":")))
    assert(!points.find(_.route == "resident").exists(_.json.contains("searches_per_job")))
  }

  test("the answer checker rejects a wrong id, swapped ranks, out-of-order " +
      "distances and a missed probe") {
    val good = Seq(Hit(7L, 1L, 0.0), Hit(3L, 2L, 0.5), Hit(9L, 3L, 0.5))
    assert(Bench.answerFault(good, 3, want = Some(good), probe = Some(7L)).isEmpty)
    assert(Bench.answerFault(good :+ Hit(1L, 4L, Double.NaN), 4).isEmpty)
    val wrongId = good.updated(1, Hit(4L, 2L, 0.5))
    assert(Bench.answerFault(wrongId, 3, want = Some(good)).isDefined)
    val swapped = Seq(Hit(7L, 2L, 0.0), Hit(3L, 1L, 0.5), Hit(9L, 3L, 0.5))
    assert(Bench.answerFault(swapped, 3).isDefined)
    val outOfOrder = Seq(Hit(7L, 1L, 0.5), Hit(3L, 2L, 0.0), Hit(9L, 3L, 0.5))
    assert(Bench.answerFault(outOfOrder, 3).isDefined)
    assert(Bench.answerFault(good, 3, probe = Some(3L)).isDefined)
    assert(Bench.answerFault(good.updated(0, Hit(7L, 1L, 0.1)), 3, probe = Some(7L)).isDefined)
    assert(Bench.answerFault(good.take(2), 3).isDefined)
  }
}
