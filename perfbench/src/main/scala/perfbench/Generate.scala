package perfbench

/** Writes one workload's pipeline tables under `--out`: the measured
  * tables in `sf0.1/` and the small tables of the warm pass in `warm/`.
  * They depend only on the workload (their seed is fixed), so run.py
  * generates them once per build, before the first measured run of the
  * workload, and every run reads them. */
object Generate {

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = m("workload")
    require(Main.Workloads.contains(workload), s"unknown workload $workload")
    val spark = Main.session(m.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()))
    val vectors = Main.tableVectors(workload)
    try {
      Data.writeTables(spark, Main.measuredTables(m("out")), Main.PipelineSf,
        Main.TableSeed, vectors.take(Main.TableRows))
      Data.writeTables(spark, Main.warmTables(m("out")), Main.WarmSf,
        Main.TableSeed, vectors.take(Main.WarmRows), Main.WarmDocs)
    } finally spark.stop()
  }
}
