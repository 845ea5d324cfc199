package graft

/** t_quality_classifier's doc-count routing law (the TextrankPathLawSpec
  * pattern): a bounded feature frame runs the 6 perceptron rounds and
  * the final scoring as driver integer arithmetic, a corpus-scale one
  * keeps the distributed rounds — and the two paths are IDENTICAL on
  * the same input because every operation on both is exact bigint
  * arithmetic (scores, gradients, weights: no float order to pin).
  * The oracle replays the distributed form; the law ties the driver
  * path to it. */
class QualityPathLawSpec extends SparkSpec {

  private def classifierRows(): Seq[(Long, Long, Boolean, Boolean)] =
    graft.queries.TextQueries.all("t_quality_classifier")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
      .toSeq

  test("driver and distributed perceptron rounds are identical (forced routing)") {
    val (driver, dist) = onBothSides("quality.driver")(classifierRows())
    assert(driver.nonEmpty)
    assert(driver === dist)
  }

  test("perceptronTrain routes to the same weight vector both ways") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val (driver, dist) = onBothSides("quality.driver")(
      graft.queries.TextQueries.perceptronTrain(docs, rounds = 6).toSeq)
    assert(driver === dist)
  }
}
