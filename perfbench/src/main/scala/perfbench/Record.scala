package perfbench

import java.nio.file.{Files, Paths}

/** Records the pipeline reference for one workload: every
  * `SparkEntry.queries` entry runs twice on that workload's tables and its
  * (rows, digest) is written when both runs agree; an entry whose two runs
  * disagree is written with `-` and never drawn. Also records each entry's
  * first-run wall, which decides whether it fits the draw.
  *
  * `--skip a,b` writes `-` for the named entries without running them:
  * for entries far too slow to ever fit a run's budget.
  *
  * Usage: Record --workload <name> --out <scratch dir> --reference <tsv>
  *   [--skip a,b] */
object Record {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = m("workload")
    val out = m("out")
    val spark = Main.session(Runtime.getRuntime.availableProcessors())
    val tables = s"$out/tables"
    Data.writeTables(spark, tables, Main.PipelineSf, Main.TableSeed,
      Main.tableVectors(workload).take(Main.TableRows))
    val names = graft.SparkEntry.queries.keySet.toSeq.sorted
    val skip = m.get("skip").toSeq.flatMap(_.split(",")).map(_.trim).toSet
    def run(name: String): (Either[String, (Long, String)], Double) = {
      val keep = graft.Bench.persistedRddIds(spark)
      val t0 = System.nanoTime()
      val r = try Right(Pipeline.digest(graft.SparkEntry.queries(name)(spark, tables)))
        catch { case e: Throwable => Left(String.valueOf(e.getMessage).linesIterator.take(1).mkString) }
      val wall = (System.nanoTime() - t0) / 1e9
      graft.Bench.resetSharedState(spark, keep)
      (r, wall)
    }
    val lines = names.map { name =>
      val line =
        if (skip(name)) s"$name\t-\t-\tNaN"
        else {
          val (a, wall) = run(name)
          val (b, _) = run(name)
          (a, b) match {
            case (Right((rows, d)), Right(again)) if again == ((rows, d)) =>
              f"$name\t$rows\t$d\t$wall%.3f"
            case _ => f"$name\t-\t-\t$wall%.3f"
          }
        }
      System.err.println(s"[record] $line")
      line
    }
    spark.stop()
    Files.writeString(Paths.get(m("reference")),
      s"# pipeline reference for workload $workload: name, rows, digest, first-run wall s\n" +
        lines.mkString("", "\n", "\n"))
  }
}
