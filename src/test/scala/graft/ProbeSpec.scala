package graft

/** graft.Probe's session-taking subcommands on one small entry. The
  * shared spec session is passed in; `Probe.main` is never called here,
  * because it stops the session it runs on. */
class ProbeSpec extends SparkSpec {

  test("explain: formatted physical plan, production and pre-checkpoint") {
    for (raw <- Seq(false, true)) {
      val plans = Probe.explain(spark, sfDir, Seq("t_entropy"), raw = raw)
      assert(plans.map(_._1) === Seq("t_entropy"))
      assert(plans.head._2.contains("== Physical Plan =="), plans.head._2)
    }
  }

  test("time: one wall per rep, job log on, shared state restored") {
    val keep = Bench.persistedRddIds(spark)
    val walls = Probe.time(spark, sfDir, Seq("t_entropy"), reps = 1, jobs = true)
    assert(walls.map(_._1) === Seq("t_entropy"))
    assert(walls.forall(_._2 > 0.0))
    assert(Bench.persistedRddIds(spark).subsetOf(keep))
  }
}
