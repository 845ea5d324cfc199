package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.Shims

/** Diagnostic CLI over one graft session (outside the Bench/Verify
  * contracts). Each subcommand is a function of a live session; only
  * `main` creates and stops one.
  *
  * {{{
  * runMain graft.Probe explain [--raw] <sfDir> [name…]
  * runMain graft.Probe time <name[,name…]> [sfDir] [reps] [--jobs]
  * runMain graft.Probe builds [sfDir]
  * }}}
  *
  * A missing sfDir falls back to SPARK_GRAFT_SF_DIR; the session runs
  * on SPARK_GRAFT_CPUS cores (4 by default, as Bench). */
object Probe {

  /** The entries whose declared frame is checkpoint-truncated (a
    * LocalTableScan / ExistingRDD in their plan), with the
    * pre-checkpoint production frame PlanSpec guards. */
  private val raws: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_dsir_weights" -> ((s, d) => queries.DedupQueries.dsirWeightsRaw(s, d)._1),
    "p_curation_pipeline" ->
      ((s, d) => queries.PipelineQueries.curationPipelineRaw(s, d)._1),
    "t_entropy" -> ((s, d) => queries.TextQueries.entropyRaw(s, d)))

  /** (name, formatted physical plan) per entry, for plan review. No
    * names means every entry; `raw` reads the pre-checkpoint frames. */
  def explain(spark: SparkSession, sfDir: String, names: Seq[String],
      raw: Boolean = false): Seq[(String, String)] = {
    val frames = if (raw) raws else SparkEntry.queries
    (if (names.nonEmpty) names else frames.keys.toSeq.sorted).map { n =>
      n -> frames(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
    }
  }

  /** Time each entry `reps` times with Bench's noop-sink full execution,
    * resetting shared state between reps: (name, seconds) per rep,
    * printed as each lands. `probe:<entry>` times the entry's bounded
    * pair probe ([[graft.queries.PairProbes]]). With `jobs`, each rep
    * also prints every Spark job's wall and description. */
  def time(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
      jobs: Boolean = false): Seq[(String, Double)] = {
    val log = new JobLog
    if (jobs) spark.sparkContext.addSparkListener(log)
    try names.flatMap { name =>
      val fn =
        if (name.startsWith("probe:"))
          queries.PairProbes.all(name.stripPrefix("probe:"))
        else SparkEntry.queries(name)
      (0 until reps).map { i =>
        val keep = Bench.persistedRddIds(spark)
        val t0 = System.nanoTime()
        Bench.exhaust(fn(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        if (jobs) {
          Shims.drainListeners(spark)
          log.drain().foreach(println)
        }
        println(f"PROBE time $name rep$i $sec%.3f s")
        Bench.resetSharedState(spark, keep)
        name -> sec
      }
    } finally if (jobs) spark.sparkContext.removeSparkListener(log)
  }

  /** Build every persisted store cold, into a fresh index dir that is
    * removed afterwards: the amortized build cost that the per-query
    * bench keeps out of its timings. (store, seconds) per build. */
  def builds(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import graft.operators.{IndexStore, IvfIndex}
    import graft.queries.{DedupQueries, TextQueries}
    import graft.queries.IndexQueries.{DeleteMod, DeleteResidue}
    val stores: Seq[(String, () => Any)] = Seq(
      "ivf" -> (() => IndexStore.ivf(spark, sfDir, k = 16)),
      "ivf_balanced" -> (() => IndexStore.ivfBalanced(spark, sfDir,
        k = IvfIndex.chooseK(Tables.load(spark, sfDir, "embeddings").count()))),
      "pq" -> (() => IndexStore.pq(spark, sfDir)),
      "opq" -> (() => IndexStore.opq(spark, sfDir)),
      "sq8" -> (() => IndexStore.sq8(spark, sfDir)),
      "sq4" -> (() => IndexStore.sq4(spark, sfDir)),
      "ivfpq" -> (() => IndexStore.ivfpq(spark, sfDir)),
      "ivfpq_residual" -> (() => IndexStore.ivfpqResidual(spark, sfDir)),
      "mips" -> (() => IndexStore.mips(spark, sfDir)),
      "knn_graph" -> (() => IndexStore.knnGraph(spark, sfDir)),
      "hnsw_layers" -> (() => IndexStore.hnsw(spark, sfDir)),
      "knn_graph_compacted" -> (() =>
        IndexStore.knnGraphCompacted(spark, sfDir, DeleteMod, DeleteResidue)),
      "hnsw_compacted" -> (() =>
        IndexStore.hnswCompacted(spark, sfDir, DeleteMod, DeleteResidue)),
      "jaccard_edges" -> (() => DedupQueries.jaccardEdgeStore(spark, sfDir)),
      "components" -> (() => DedupQueries.componentStore(spark, sfDir)),
      "lm_scores" -> (() => TextQueries.lmStore(spark, sfDir)),
      "bpe_merges" -> (() => TextQueries.bpeStore(spark, sfDir)))
    val dir = java.nio.file.Files.createTempDirectory("graft-builds").toString
    try IndexStore.withRoot(dir)(stores.map { case (name, build) =>
      val t0 = System.nanoTime()
      build()
      val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
      println(s"PROBE builds $name $sec s")
      name -> sec
    }) finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  /** Each finished job's wall (listener event times) and description,
    * queued until [[drain]]. */
  private final class JobLog extends SparkListener {
    private val starts = mutable.HashMap.empty[Int, (Long, String)]
    private val done = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      // the description when one is set, else the result stage's call site
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name))
      starts(j.jobId) = (j.time, desc.getOrElse(""))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      starts.remove(j.jobId).foreach { case (t0, desc) =>
        done.add(f"job ${j.jobId}%4d ${(j.time - t0) / 1e3}%7.3f s  ${desc.take(110)}")
      }
    def drain(): Seq[String] =
      Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
  }

  private val Usage =
    """usage: graft.Probe explain [--raw] <sfDir> [name...]
      |       graft.Probe time <name[,name...]> [sfDir] [reps] [--jobs]
      |       graft.Probe builds [sfDir]""".stripMargin

  private def usage(): Nothing = {
    System.err.println(Usage)
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.toSeq.partition(_.startsWith("--"))
    def sfDir(i: Int): String =
      pos.lift(i).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(usage())
    val run: SparkSession => Unit = (pos.headOption, flags.toSet) match {
      case (Some("explain"), fs) if fs.subsetOf(Set("--raw")) =>
        val (d, raw) = (sfDir(1), fs.nonEmpty)
        s => explain(s, d, pos.drop(2), raw).foreach { case (n, plan) =>
          println(s"===== $n${if (raw) " (raw, pre-checkpoint)" else ""} =====")
          println(plan)
        }
      case (Some("time"), fs) if pos.size >= 2 && fs.subsetOf(Set("--jobs")) =>
        val (names, d) = (pos(1).split(",").toSeq, sfDir(2))
        val reps = pos.lift(3).fold(3)(_.toInt)
        s => time(s, d, names, reps, jobs = fs.nonEmpty)
      case (Some("builds"), fs) if fs.isEmpty =>
        val d = sfDir(1)
        s => {
          val times = builds(s, d)
          val js = times.map { case (k, v) => s""""$k":$v""" }.mkString(",")
          println(s"""{"metric":"build_total","value":${
            math.rint(times.map(_._2).sum * 1000) / 1000},"builds":{$js},"sf":"$d"}""")
        }
      case _ => usage()
    }
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark) finally spark.stop()
  }
}
