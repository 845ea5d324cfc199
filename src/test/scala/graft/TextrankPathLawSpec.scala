package graft

/** t_textrank's |edges| routing law (the BeamPathLawSpec pattern): a
  * bounded co-occurrence graph runs the 8 damped rounds as driver
  * arithmetic, a corpus-scaled one keeps the distributed rounds — and
  * the two paths are bit-identical on the same input, because both
  * implement the identical two-level deterministic fold (FNV(src)&63
  * buckets, UTF-8-binary src order within a bucket, bucket order
  * across) and the identical damping arithmetic. The oracle replays
  * the distributed form; the law ties the driver path to it. */
class TextrankPathLawSpec extends SparkSpec {

  private def rankRows(): Seq[(Long, String, Double)] =
    graft.queries.TextQueries.all("t_textrank")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq

  test("driver and distributed textrank rounds are bit-identical (forced routing)") {
    val (driver, dist) = onBothSides("textrank.driver")(rankRows())
    assert(driver.size === 20)
    assert(driver === dist)
  }

  test("driver path matches distributed on an ASYMMETRIC edge frame") {
    // The entry only ever builds symmetric co-occurrence graphs, but the
    // driver twin must replay the distributed inner join's semantics on
    // any edge frame: edge x→y where nothing points INTO x means x drops
    // out of r after round 1 (the join drops its out-edges), and a dst
    // whose whole in-edge set dropped leaves r entirely.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val raw = Seq(
      ("x", "y", 3L), // x is never a dst: its rank dies after round 1
      ("y", "z", 1L),
      ("z", "y", 2L),
      ("y", "q", 1L),
      ("q", "y", 1L))
      .toDF("src", "dst", "w")
    val ew = raw.join(
        raw.groupBy($"src").agg(sum($"w").as("wdeg")), "src")
      .select($"src", $"dst", $"w", $"wdeg")
      .localCheckpoint(true)
    val dist = graft.queries.TextQueries.textrankDistributed(spark, ew)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val local = graft.queries.TextQueries.textrankLocal(spark, ew.collect())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(local === dist)
    assert(local.nonEmpty)
  }
}
