package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM. Every run sets up and measures all
  * three phases, in this order, against one `local[cpus]` session:
  *
  *  - pipeline: a seeded, family-stratified draw of `SparkEntry.queries`
  *    over tables written before the run ([[Generate]]);
  *  - knn: exact and IVF top-10 over a cached `.fvecs` corpus;
  *  - serve: open-loop searches and inserts through graft's serving layer.
  *
  * The workload picks the vector distribution every phase draws from.
  * Prints one `PERFBENCH_RESULT {json}` line; see perfbench/README.md. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, out: String, tables: String, reference: String, cpus: Int)

  /** Vector distributions, one per workload: unit vectors either uniform on
    * the sphere (the shape of the repo's own test embeddings, where IVF
    * probing is hardest) or drawn around `clusters` random unit centres. */
  def vectors(workload: String, rnd: scala.util.Random, n: Int, clusters: Int)
      : Array[Array[Float]] = workload match {
    case "uniform" => Data.unitSphere(rnd, n, Dim)
    case "clustered" =>
      val centres = Data.unitSphere(rnd, clusters, Dim)
      Array.fill(n) {
        val c = centres(rnd.nextInt(clusters))
        val v = Array.tabulate(Dim)(j => c(j) + rnd.nextGaussian() * ClusterSigma)
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Workloads = Seq("uniform", "clustered")
  val Dim = 64
  val ClusterSigma = 0.25
  /** Seed of the pipeline tables: fixed, so every entry's reference digest
    * holds for any run seed (the run seed picks the draw). The embeddings
    * table holds the workload's vectors. */
  val TableSeed = 42L
  /** Rows of the embeddings table. */
  val TableRows = 2000
  val PipelineSf = 0.1
  /** The warm pass's tables: the same schema at sf0.001, with 200
    * embeddings and 500 documents, so each drawn entry plans and compiles
    * what its measured run needs at a fraction of the cost. */
  val WarmSf = 0.001
  val WarmRows = 200
  val WarmDocs = 500
  def measuredTables(dir: String): String = s"$dir/sf0.1"
  def warmTables(dir: String): String = s"$dir/warm"
  /** Seeded picks come from entries whose recorded first run took at most
    * this long: mostly per-query fixed cost, cheap enough for a run's
    * budget, and close enough in cost that the draw moves `pipeline_s`
    * little. */
  val MaxEntryWall = 0.7
  /** Unmeasured knn rounds, then measured ones; the metrics are medians
    * over the measured rounds. */
  val KnnWarmRounds = 1
  val KnnRounds = 4
  /** Held-out vectors beside the embeddings table, from the same
    * distribution: the run seed picks the serve queries and inserted rows
    * among them. */
  val HeldOut = 8192
  /** Serving load, below the rate at which the server falls behind: at
    * these rates search latency stays flat across the window, so it
    * measures serving cost rather than queueing. */
  val SearchRate = 40.0
  val InsertRate = 4.0
  val KnnCorpus = 5000
  val KnnQueries = 256
  /** Seed of the kNN corpus: fixed, so every run builds the same IVF index
    * and does the same exact-search work; the run seed picks the queries
    * among `KnnHeldOut` vectors drawn beside the corpus. */
  val KnnSeed = 43L
  val KnnHeldOut = 4096
  val KnnNProbe = 8

  /** The embeddings table's vectors, then the held-out ones. The table is
    * fixed (the pipeline references depend on it); the held-out vectors
    * follow from the same generator, so they leave it unchanged. */
  def tableVectors(workload: String): Array[Array[Float]] =
    vectors(workload, new scala.util.Random(TableSeed), TableRows + HeldOut, 10)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("out"), need("tables"), need("reference"),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  /** The session settings graft.Bench uses. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.cache.serializer", "graft.functions.GraftCachedBatchSerializer")
      .config("spark.sql.extensions", "graft.plans.GraftCacheScanExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Host steal ticks (/proc/stat), 0 where unreadable. */
  def stealTicks(): Long = graft.Bench.stealTicks()

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Live memory after a full collection: the heap pools' usage after the
    * collection plus non-heap usage (metaspace, code cache). Unlike the
    * resident set, this leaves out garbage the heap has not yet collected. */
  def liveMbAfterGc(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    val nonHeap = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed
    (heap + nonHeap) / 1e6
  }

  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("")
      line.split("\\s+").lift(1).map(_.toDouble / 1024).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    require(Workloads.contains(conf.workload), s"unknown workload ${conf.workload}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = stealTicks()
    val gc0 = gcMs()
    val out = conf.out
    val spark = session(conf.cpus)
    log(f"session ready at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s")
    val tracer = new Tracer(conf.trace)
    tracer.attach(spark.sparkContext)
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    // ---- inputs, all from the seed
    val rnd = new scala.util.Random(conf.seed)
    val tableAll = tableVectors(conf.workload)
    val tableVecs = tableAll.take(TableRows)
    val heldOut = rnd.shuffle(tableAll.drop(TableRows).toSeq).toArray
    val plan = Serve.schedule(conf.seed, conf.seconds, SearchRate, InsertRate)
    val nSearch = plan.count(!_.insert)
    val nInsert = plan.count(_.insert)
    require(nSearch + nInsert * Serve.RowsPerInsert <= HeldOut, "too few held-out vectors")
    val serveQueries = heldOut.take(nSearch)
    val insertRows = heldOut.slice(nSearch, nSearch + nInsert * Serve.RowsPerInsert)
    val (knnVec, knnPool) = vectors(conf.workload, new scala.util.Random(KnnSeed),
      KnnCorpus + KnnHeldOut, 100).splitAt(KnnCorpus)
    val knnQueries = rnd.shuffle(knnPool.toSeq).take(KnnQueries).toArray
    val refs = Pipeline.readReference(Paths.get(conf.reference))
    val reference = refs.flatMap(r => r.output.map(r.name -> _)).toMap
    val pool = Pipeline.pool(refs, graft.SparkEntry.queries.keySet, MaxEntryWall)
    val drawn = Pipeline.draw(pool, conf.seed, Pipeline.Draws(conf.workload))
    def sinceJvmStartS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log(s"pipeline draw (${drawn.size}): ${drawn.mkString(" ")}")
    log(f"session and inputs ready at $sinceJvmStartS%.1f s")

    // ---- setup: everything up to graft ready to serve and answer. The
    // pipeline tables are inputs, written before the run (Generate).
    val tables = measuredTables(conf.tables)
    // the warm pass: each drawn entry once on the small tables, its output
    // read like the measured run's and discarded. What it caches is dropped
    // as after a measured entry, but without the full collection: the
    // small tables leave little behind.
    val warmWalls = tracer.span("setup.pipeline_warm") {
      drawn.map { name =>
        val keep = graft.Bench.persistedRddIds(spark)
        val t0 = System.nanoTime()
        Pipeline.digest(graft.SparkEntry.queries(name)(spark, warmTables(conf.tables)))
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!keep(id)) rdd.unpersist(false)
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    log(f"pipeline warm pass done at $sinceJvmStartS%.1f s")
    val serve = tracer.span("setup.serve") {
      Serve.setup(spark, tables, s"$out/serve", tableVecs, tracer)
    }
    log(f"serve ready at $sinceJvmStartS%.1f s")
    Files.createDirectories(Paths.get(s"$out/knn"))
    Data.writeFvecs(s"$out/knn/corpus.fvecs", knnVec)
    val knn = tracer.span("setup.knn")(Knn.setup(spark, s"$out/knn/corpus.fvecs", tracer))
    val knnQ = Knn.queryFrame(spark, knnQueries)
    val setupS = sinceJvmStartS
    log(f"knn loaded, setup done at $setupS%.1f s")

    // each phase starts from a collected heap, so no phase pays for the
    // garbage of the one before; live memory is read at each of these points
    val liveMb = mutable.ArrayBuffer(liveMbAfterGc())
    val measure0 = System.nanoTime()

    // ---- pipeline: each drawn entry once, serially, after its warm pass:
    // planning, any index store it reads, and execution all count. The
    // sink is the output digest, which reads every column of every row as
    // the noop sink would, and is checked against the entry's reference.
    val pipeline0 = System.nanoTime()
    val entries = drawn.map { name =>
      attempted += 1
      val keep = graft.Bench.persistedRddIds(spark)
      var build, planS = 0.0
      var spanId = 0
      val t0 = System.nanoTime()
      try tracer.span("pipeline.entry", "name" -> name) {
        spanId = tracer.currentSpan
        val df = tracer.span("entry.build")(graft.SparkEntry.queries(name)(spark, tables))
        val t1 = System.nanoTime()
        tracer.span("entry.plan")(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val got = tracer.span("entry.execute")(Pipeline.digest(df))
        build = (t1 - t0) / 1e9; planS = (t2 - t1) / 1e9
        if (got != reference(name)) {
          failed += 1
          problems += s"pipeline $name: rows/digest $got, reference ${reference(name)}"
        }
      } catch { case e: Throwable =>
        failed += 1; problems += s"pipeline $name failed: ${e.getMessage}"
      }
      val wall = (System.nanoTime() - t0) / 1e9
      graft.Bench.resetSharedState(spark, keep)
      Layers.EntryTiming(name, wall, build, planS, spanId)
    }
    val pipelineS = entries.map(_.wall).sum
    log(f"pipeline: ${entries.size} entries in ${(System.nanoTime() - pipeline0) / 1e9}%.1f s")
    liveMb += liveMbAfterGc()

    // ---- knn: warm-up rounds over the whole corpus compile every plan and
    // kernel the measured rounds run; then measured rounds of build +
    // exact + ann
    val knn0 = System.nanoTime()
    val warmRounds = (1 to KnnWarmRounds).map { _ =>
      tracer.span("knn.warm")(Knn.round(spark, knn, knnQ, KnnNProbe, Tracer.off))
    }
    val rounds = Seq.fill(KnnRounds) {
      tracer.span("knn.round")(Knn.round(spark, knn, knnQ, KnnNProbe, tracer))
    }
    log(f"knn: ${KnnWarmRounds + KnnRounds} rounds in ${(System.nanoTime() - knn0) / 1e9}%.1f s")
    liveMb += liveMbAfterGc()

    // ---- serve: the window lasts `--seconds`, its first `Serve.WarmSeconds`
    // a warm-up that the latencies leave out. It comes last, so the
    // servers meet a JVM the earlier phases have warmed, as a long-running
    // server would.
    val ingest0 = serve.ingest.splitStats
    val sr = tracer.span("serve.window") {
      Serve.run(serve, plan, serveQueries, insertRows, tracer)
    }
    log(f"serve window ${(sr.windowEnd - sr.windowStart) / 1e9}%.1f s")
    val ingestStats = serve.ingest.splitStats
    serve.search.close(); serve.ingest.close()
    attempted += sr.attempted; failed += sr.failed; problems ++= sr.problems
    log(s"serve: ${sr.searches} searches, ${sr.inserts} inserts, ${sr.failed} failed")
    liveMb += liveMbAfterGc()
    val measuredNs = System.nanoTime() - measure0

    // ---- checks outside every timed region
    val truth = {
      val corpus = knnVec.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val res = new Array[Array[(Long, Double)]](KnnQueries)
      java.util.stream.IntStream.range(0, KnnQueries).parallel().forEach { i =>
        res(i) = GroundTruth.topK(corpus, knnQueries(i), Knn.K)
      }
      res
    }
    val recalls = mutable.ArrayBuffer.empty[Double]
    rounds.zipWithIndex.foreach { case (r, ri) =>
      (0 until KnnQueries).foreach { qi =>
        attempted += 2
        val q = knnQueries(qi)
        val ex = r.exact.getOrElse(qi.toLong, Nil)
        val exHits = ex.zip(r.exactDist.getOrElse(qi.toLong, Nil)).zipWithIndex
          .map { case ((id, d), i) => GroundTruth.Hit(id, i + 1L, d) }
        val bad = GroundTruth.checkAnswer(exHits, Knn.K, q,
          id => if (id >= 0 && id < KnnCorpus) Some(knnVec(id.toInt)) else None)
        val same = GroundTruth.sameAsTruth(ex, truth(qi).toSeq,
          id => GroundTruth.l2(knnVec(id.toInt), q))
        if (bad.nonEmpty || !same) {
          failed += 1
          problems += s"knn round $ri query $qi exact: ${bad.mkString("; ")}${if (same) "" else " differs from ground truth"}"
        }
        val ann = r.ann.getOrElse(qi.toLong, Nil)
        if (ann.size != Knn.K) {
          failed += 1; problems += s"knn round $ri query $qi ann: ${ann.size} hits"
        }
        recalls += GroundTruth.recall(ann, truth(qi).map(_._1).toSeq)
      }
    }

    log(f"checks done at $sinceJvmStartS%.1f s")

    // ---- metrics
    val steal = (stealTicks() - steal0) / 100.0
    val gcS = (gcMs() - gc0) / 1000.0
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("live_mb", liveMb.max, "MB"),
      ("search_p50_ms", Stats.percentile(sr.searchMs, 50), "ms"),
      ("search_p99_ms", Stats.tailPercentile(sr.searchMs, 99), "ms"),
      ("insert_p50_ms", Stats.percentile(sr.insertMs, 50), "ms"),
      ("insert_p95_ms", Stats.tailPercentile(sr.insertMs, 95), "ms"),
      ("serve_recall_at_10", sr.recall, "ratio"),
      ("recall_at_10", Stats.mean(recalls.toSeq), "ratio"),
      ("index_build_s", Stats.median(rounds.map(_.buildMs)) / 1000, "s"),
      ("knn_exact_qps", KnnQueries / (Stats.median(rounds.map(_.exactMs)) / 1000), "1/s"),
      ("ann_qps", KnnQueries / (Stats.median(rounds.map(_.annMs)) / 1000), "1/s"),
      ("pipeline_s", pipelineS, "s"))
    val info: Seq[(String, Any)] = Seq(
      "error_rate" -> failed.toDouble / math.max(1L, attempted),
      "searches" -> sr.searches, "inserts" -> sr.inserts,
      "search_samples" -> sr.searchMs.size, "insert_samples" -> sr.insertMs.size,
      "search_p50_ms_warmup" -> sr.warmSearchP50,
      "search_p50_ms_by_quarter" -> sr.p50ByQuarter,
      "knn_build_ms" -> rounds.map(_.buildMs), "knn_exact_ms" -> rounds.map(_.exactMs),
      "knn_ann_ms" -> rounds.map(_.annMs),
      "knn_warm_ms" -> warmRounds.map(r => Seq(r.buildMs, r.exactMs, r.annMs)),
      "pipeline_warm_walls" -> warmWalls.toMap,
      "peak_rss_mb" -> peakRssMb(), "live_mb_at_phase_ends" -> liveMb.toSeq, "pipeline_entries" -> drawn,
      "pipeline_walls" -> entries.map(e => e.name -> e.wall).toMap,
      "bench.steal_s" -> steal, "bench.gen_lag_ms_max" -> sr.genLagMsMax,
      "spark.gc_s" -> gcS, "problems" -> problems.take(20).toSeq)

    val layers: Seq[(String, Double, String)] =
      if (!conf.trace) Nil
      else Layers.all(spark, tracer, sr, ingestStats, ingest0, serve.indexDir, knn,
        rounds, entries, tables, steal, gcS, knnVec.take(4096), measuredNs)

    if (conf.trace) tracer.write(s"$out/spans.jsonl")
    knn.corpus.unpersist(false)
    spark.stop()

    // a latency that is infinite (a failed request) is written as the
    // largest double, so the line stays valid JSON; such a run is not correct
    def metricJson(ms: Seq[(String, Double, String)]): String = ms.map { case (k, v, u) =>
      val x = if (v.isInfinite) Double.MaxValue else v
      Json.str(k) + s""":{"value":${Json.value(x)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val metrics = metricJson(if (conf.trace) layers else e2e)
    val infoJson = info.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }.mkString("{", ",", "}")
    val allE2e = metricJson(e2e)
    Files.writeString(Paths.get(s"$out/detail.json"),
      s"""{"workload":${Json.str(conf.workload)},"seed":${conf.seed},"trace":${conf.trace},"end_to_end":$allE2e,"metrics":$metrics,"info":$infoJson}""" + "\n")
    problems.take(20).foreach(p => log(s"problem: $p"))
    log(f"done at $sinceJvmStartS%.1f s")
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
  }
}
