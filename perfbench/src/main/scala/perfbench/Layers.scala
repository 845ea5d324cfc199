package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-layer metrics of the traced run, named `<layer>.<metric>` after the
  * graft module that owns the code (see perfbench/README.md for the map
  * from each metric to the end-to-end metric it should move). */
object Layers {

  final case class EntryTiming(name: String, wall: Double, build: Double,
      plan: Double, span: Int)

  type Metric = (String, Double, String)

  /** Run `f` for about `seconds`, returning operations per second, where
    * one call of `f` performs `opsPerCall` operations. */
  private def rate(seconds: Double, opsPerCall: Long)(f: => Unit): Double = {
    f // warm-up call
    var calls = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < seconds * 1e9) { f; calls += 1 }
    calls * opsPerCall / ((System.nanoTime() - t0) / 1e9)
  }

  /** The distance kernels: SIMD, scalar, and the codegen'd `l2Sq` over a
    * cached column, in millions of evaluations per second. */
  def functions(spark: SparkSession, vecs: Array[Array[Float]]): Seq[Metric] = {
    val probe = Array.fill(vecs(0).length)(0.5f)
    var sink = 0.0
    val n = vecs.length.toLong
    val simd = rate(0.5, n) {
      var i = 0
      while (i < vecs.length) { sink += graft.functions.VectorSimd.l2sqV(vecs(i), probe); i += 1 }
    }
    val scalar = rate(0.5, n) {
      var i = 0
      while (i < vecs.length) { sink += graft.functions.VectorKernels.l2sqF(vecs(i), probe); i += 1 }
    }
    import spark.implicits._
    // replicate the sample scan-side so one pass is kernel-bound, not
    // job-bound
    val reps = 100
    val base = vecs.toSeq.map(_.toSeq).toDF("embedding")
      .crossJoin(spark.range(reps)).select($"embedding")
      .persist(StorageLevel.MEMORY_ONLY)
    base.count()
    val scan = rate(1.0, n * reps) {
      base.select(graft.GraftVector.l2Sq($"embedding", typedlit(probe.toSeq)).as("d"))
        .write.mode("overwrite").format("noop").save()
    }
    base.unpersist(false)
    require(!sink.isNaN)
    Seq(("functions.l2_simd_meval_s", simd / 1e6, "Meval/s"),
      ("functions.l2_scalar_meval_s", scalar / 1e6, "Meval/s"),
      ("functions.l2_scan_meval_s", scan / 1e6, "Meval/s"))
  }

  /** Millions of `TopKBuffer.insert` calls per second (k = 10) over a
    * seeded stream of scores. */
  def topkInserts(): Double = {
    val rnd = new scala.util.Random(7)
    val scores = Array.fill(1 << 16)(rnd.nextDouble())
    rate(0.5, scores.length.toLong) {
      val b = new graft.operators.TopKBuffer(10)
      var i = 0
      while (i < scores.length) { b.insert(scores(i), i.toLong); i += 1 }
    } / 1e6
  }

  /** Mean ms per `Tables.load` call, analysis included, over every table. */
  def tablesLoadMs(spark: SparkSession, dir: String, tracer: Tracer): Double = {
    val names = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val reps = 3
    val t0 = System.nanoTime()
    tracer.span("tables.load") {
      (0 until reps).foreach(_ => names.foreach { t =>
        graft.Tables.load(spark, dir, t).queryExecution.analyzed
      })
    }
    (System.nanoTime() - t0) / 1e6 / (reps * names.size)
  }

  def all(spark: SparkSession, tracer: Tracer, sr: Serve.Result,
      ingest: (Long, Long, Double, Double), ingest0: (Long, Long, Double, Double),
      indexDir: String, knn: Knn.Setup, rounds: Seq[Knn.Round],
      entries: Seq[EntryTiming], tables: String, steal: Double, gcS: Double,
      sample: Array[Array[Float]], trackedWallNs: Long): Seq[Metric] = {
    tracer.drain()
    val facts = tracer.jobFacts
    val out = Seq.newBuilder[Metric]

    // streaming: search jobs in the serve window, told apart by the
    // component property their server thread inherited
    val searchJobs = facts.filter(f => f.component == "search" &&
      f.start >= sr.windowStart && f.start <= sr.windowEnd)
    out += (("streaming.search_jobs", searchJobs.size.toDouble, "count"))
    out += (("streaming.searches_per_job",
      sr.searches.toDouble / math.max(1, searchJobs.size), "count"))
    out += (("streaming.search_job_ms_p50",
      if (searchJobs.isEmpty) 0.0 else Stats.median(searchJobs.map(f => (f.end - f.start) / 1e6)), "ms"))
    val deltaFiles = Option(new java.io.File(s"$indexDir/delta_log").listFiles())
      .map(_.count(f => f.getName.endsWith(".parquet"))).getOrElse(0)
    val deltaRows = try spark.read.parquet(s"$indexDir/delta_log").count() catch { case _: Throwable => 0L }
    out += (("streaming.delta_files_end", deltaFiles.toDouble, "count"))
    out += (("streaming.delta_rows_end", deltaRows.toDouble, "count"))
    val (b1, r1, w1, c1) = ingest
    val (b0, r0, w0, c0) = ingest0
    val batches = b1 - b0
    val reqs = r1 - r0
    out += (("streaming.ingest_batches", batches.toDouble, "count"))
    out += (("streaming.ingest_requests_per_batch", reqs.toDouble / math.max(1L, batches), "count"))
    out += (("streaming.ingest_queue_wait_ms_mean", (w1 - w0) * 1000 / math.max(1L, reqs), "ms"))
    out += (("streaming.ingest_commit_ms_mean", (c1 - c0) * 1000 / math.max(1L, batches), "ms"))
    out += (("streaming.read_your_writes_misses", sr.rywMisses.toDouble, "count"))

    // operators
    val evals = knn.n.toDouble * rounds.head.queries
    out += (("operators.ivf_build_ms", Stats.median(rounds.map(_.buildMs)), "ms"))
    val exactMs = Stats.median(rounds.map(_.exactMs))
    out += (("operators.knn_exact_ms", exactMs, "ms"))
    out += (("operators.knn_exact_meval_s", evals / (exactMs / 1000) / 1e6, "Meval/s"))
    out += (("operators.topk_buffer_minsert_s", topkInserts(), "M/s"))
    out += (("operators.ivf_search_ms", Stats.median(rounds.map(_.annMs)), "ms"))
    out += (("operators.ivf_candidates_per_query", Stats.median(rounds.map(_.candidatesPerQuery)), "count"))

    out ++= functions(spark, sample)

    out += (("plans.cache_build_ms", knn.cacheMs, "ms"))
    out += (("plans.cache_mb", knn.cacheMb, "MB"))
    out += (("sources.fvecs_read_ms", knn.readMs, "ms"))
    out += (("tables.load_ms", tablesLoadMs(spark, tables, tracer), "ms"))

    // queries: suite totals and per group, from the entry spans and the
    // jobs submitted inside them
    val spans = tracer.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    def rootEntry(spanId: Int): Option[Int] = {
      var cur = byId.get(spanId)
      while (cur.exists(_.name != "pipeline.entry")) cur = cur.flatMap(s => byId.get(s.parent))
      cur.map(_.id)
    }
    val jobsByEntry = facts.groupBy(f => rootEntry(f.span))
    final case class Agg(gap: Double, job: Double)
    val perEntry = entries.map { e =>
      val js = jobsByEntry.getOrElse(Some(e.span), Nil)
      val jobS = Stats.unionLength(js.map(j => (j.start, j.end))) / 1e9
      e -> (js, Agg(math.max(0.0, e.wall - jobS), jobS))
    }
    val allJobs = perEntry.flatMap(_._2._1)
    out += (("queries.build_s", entries.map(_.build).sum, "s"))
    out += (("queries.plan_s", entries.map(_.plan).sum, "s"))
    out += (("queries.job_s", perEntry.map(_._2._2.job).sum, "s"))
    out += (("queries.gap_s", perEntry.map(_._2._2.gap).sum, "s"))
    out += (("queries.jobs", allJobs.size.toDouble, "count"))
    out += (("queries.stages", allJobs.map(_.stages).sum.toDouble, "count"))
    out += (("queries.tasks", allJobs.map(_.tasks).sum.toDouble, "count"))
    out += (("queries.task_cpu_s", allJobs.map(_.taskCpuNs).sum / 1e9, "s"))
    out += (("queries.shuffle_mb", allJobs.map(_.shuffleBytes).sum / 1e6, "MB"))
    out += (("queries.spill_mb", allJobs.map(_.spillBytes).sum / 1e6, "MB"))
    // per group: ROADMAP's hot-tail entries, and the seeded picks (mostly
    // per-query fixed cost)
    Seq("hot" -> true, "picked" -> false).foreach { case (group, hot) =>
      val es = perEntry.filter(p => Pipeline.HotTail.contains(p._1.name) == hot)
      out += ((s"queries.$group.gap_s", es.map(_._2._2.gap).sum, "s"))
      out += ((s"queries.$group.job_s", es.map(_._2._2.job).sum, "s"))
    }

    out += (("bench.steal_s", steal, "s"))
    out += (("bench.gen_lag_ms_max", sr.genLagMsMax, "ms"))
    out += (("spark.gc_s", gcS, "s"))
    out += (("bench.tracer_callback_ms", tracer.callbackNs / 1e6, "ms"))
    out += (("bench.tracer_callback_pct", 100.0 * tracer.callbackNs / math.max(1L, trackedWallNs), "%"))
    out.result()
  }
}
