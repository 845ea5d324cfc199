package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.Serving

/** Per-round benchmark: times every SparkEntry query at the given scale
  * factor and emits one JSON line. A warm-up pass on the flagship query
  * absorbs one-time session/codegen costs so per-query numbers reflect
  * steady-state execution.
  *
  * Measurement: each query is written to the `noop` sink, which executes
  * the COMPLETE plan — every projection expression, aggregation and sort —
  * and discards rows. A bare `count()` would let Catalyst prune all
  * columns, so projection-only queries (token counting, fingerprints,
  * norms) would be timed as empty scans. Failures are NOT swallowed:
  * the query records -1 and its error lands in the `errors` JSON field,
  * so a broken query can never masquerade as a fast green number — and
  * warm-up/store-build failures are recorded the same way (a failed
  * store build would otherwise shift its cost invisibly into the first
  * timed query that touches the artifact).
  *
  * Serving (the client_bench.cpp analog, which times search and insert
  * against one live server): [[serveSweep]] drives one SearchServer and
  * one IngestServer per point with closed-loop clients at several
  * depths, on the resident and the job route, and checks every answer;
  * `throughput` and `throughput_sweep` are its resident search side.
  */
object Bench {

  /** Force full evaluation of a DataFrame without collecting it. */
  def exhaust(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Snapshot of the RDD ids currently persisted — take one BEFORE a
    * query and pass it to [[resetSharedState]] so the reset only drops
    * what the query itself left behind. */
  def persistedRddIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drop every block a finished query left in the storage region:
    * `clearCache` covers SQL-cached relations but NOT eager
    * localCheckpoints (persisted RDDs that linger until the
    * ContextCleaner gets to them) — measured at sf10, the blocks
    * d_dedup_cluster leaves behind inflate the NEXT query's first
    * sample ~3.5× (d_ngram_jaccard 38.7 s after it in one JVM, 11.2 s
    * once the state drains). `keep` holds the ids persisted BEFORE the
    * query ran: only ids that appeared during it are unpersisted, so a
    * component sharing the context (a live server, a caller's own
    * checkpoint — whose truncated lineage an unpersist would destroy
    * unrecoverably, not merely force to recompute) is never touched. */
  def resetSharedState(spark: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!keep(id)) rdd.unpersist(false) }
    // torrent-broadcast blocks release via ContextCleaner, which only
    // acts when the JVM collects the weak refs — nudge it so a heavy
    // query's broadcasts don't occupy the storage region into the next
    // measurement (this is what spark.cleaner.periodicGC exists for;
    // between timed samples is the one place a forced GC is free)
    System.gc()
  }

  /** SPARK_GRAFT_SKIP: comma-separated query names / store keys to
    * exclude from a run. Exists for out-of-contract scale probes (the
    * SCALE_sf10 artifact excludes the suite's DECLARED quadratics —
    * fixed-k graph builds, all-pairs verifiers — whose cost at 100×
    * is the documented failure the k∝n rule prevents, not a number
    * worth hours of wall). Never silent: every skipped name lands in
    * the output JSON's `skipped` field, and an unknown name throws —
    * a typo must not quietly time the query it meant to exclude. */
  def parseSkip(env: Option[String], known: Set[String]): Set[String] = {
    val skip = env.iterator
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSet
    val unknown = skip -- known
    require(unknown.isEmpty,
      s"SPARK_GRAFT_SKIP names nothing known: ${unknown.toSeq.sorted.mkString(",")}")
    skip
  }

  /** Cumulative host-steal ticks (/proc/stat field 8) — CPU time the
    * hypervisor withheld from this guest. The box's contention arrives
    * in multi-minute waves (measured ~1,700 stolen CPU-seconds across
    * one bench run, near zero the next), so per-sample steal deltas
    * are the ground truth for "was this number contaminated". 0 where
    * unreadable. */
  def stealTicks(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
      line.trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  /** SCAN throughput for the codegen'd distance expressions: full
    * DataFrame passes over the (memory-persisted) embedding column
    * against a broadcast probe vector, million evaluations/second.
    * This is deliberately NOT the reference's distance_bench number —
    * columnar-cache row decode (ArrayData accessors, batch iteration)
    * dominates the arithmetic here, so it measures what a distance
    * costs INSIDE a real scan plan. The kernel-only analog of
    * /root/reference/benchmark/distance_bench.cpp (a tight loop over
    * in-RAM primitive arrays, no row plumbing) is
    * [[distanceKernelBench]]; both land in the artifact so the
    * reference comparison reads apples-to-apples. */
  def distanceBench(spark: SparkSession, sfDir: String,
      targetEvals: Long = 10_000_000L): Map[String, Double] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.GraftVector._
    val e = Tables.load(spark, sfDir, "embeddings").select($"embedding")
    val n = math.max(e.count(), 1L)
    // replicate rows scan-side to ~targetEvals per pass, so the timed
    // loop is kernel-bound, not job-scheduling-bound (the reference
    // loops its batch the same way); the non-literal embedding side
    // keeps Catalyst from constant-folding the expression away
    val rep = math.max(1L, targetEvals / n)
    // persisted in memory: the timed loop reads RAM like the
    // reference's in-array batch loop, not parquet + join plumbing
    val base = e.crossJoin(broadcast(spark.range(rep))).select($"embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val evals = n * rep
    val probe = typedlit(Array.fill(64)(0.5f).toSeq)
    def time(name: String, c: org.apache.spark.sql.Column): (String, Double) = {
      exhaust(base.select(c.as("d"))) // warm: codegen + cache populate
      val t0 = System.nanoTime()
      exhaust(base.select(c.as("d")))
      val sec = (System.nanoTime() - t0) / 1e9
      name -> math.rint(evals / sec / 1e3) / 1e3
    }
    try Map(
      time("l2_scan_meval_per_sec", l2($"embedding", probe)),
      time("dot_scan_meval_per_sec", dot($"embedding", probe)),
      time("cosine_scan_meval_per_sec", cosine($"embedding", probe)))
    finally base.unpersist(false)
  }

  /** The distance_bench.cpp analog proper (/root/reference/benchmark/
    * distance_bench.cpp:20-48 times the raw L2 kernel over an in-RAM
    * vector batch, no storage in the loop): single-threaded primitive
    * float[] loops with the EXACT per-element op order the codegen'd
    * expressions emit (float→double subtract/multiply, the lane-4
    * double accumulation — VectorExpressions.scala's fold contract,
    * via the shared VectorKernels twins), timed over
    * enough passes to hit `targetEvals`. Million evals/second per
    * kernel. The gap between this and [[distanceBench]]'s scan numbers
    * is the row-decode cost of running a kernel inside a query plan. */
  def distanceKernelBench(spark: SparkSession, sfDir: String,
      targetEvals: Long = 20_000_000L): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    val vecs: Array[Array[Float]] = Tables.load(spark, sfDir, "embeddings")
      .select(col("embedding")).limit(4096).collect()
      .map(_.getSeq[Float](0).toArray)
    require(vecs.nonEmpty, "no embeddings to bench")
    val probe = Array.fill(vecs(0).length)(0.5f)
    // primary kernels: the SIMD lane-4 twins (VectorSimd — bit-identical
    // to the scalar contract, the honest apples-to-apples against the
    // reference's AVX2 kernel); the *_scalar_* entries time the scalar
    // lane-4 twins the codegen'd scan path actually runs (generated
    // Java can't reach the incubator module)
    import graft.functions.{VectorKernels => K, VectorSimd => S}
    type Kernel = (Array[Float], Array[Float]) => Double
    val scalar = Seq[(String, Kernel)]("l2" -> ((a, b) => math.sqrt(K.l2sqF(a, b))),
      "dot" -> K.dotF, "cosine" -> K.cosineF)
    val primary = if (!S.available) scalar
      else Seq[(String, Kernel)]("l2" -> ((a, b) => math.sqrt(S.l2sqV(a, b))),
        "dot" -> S.dotV, "cosine" -> S.cosineV)
    // blackhole: fold every result into a sum the caller can't see
    // eliminated — a dead-code'd loop would "measure" nothing
    var sink = 0.0
    def time(name: String, f: (Array[Float], Array[Float]) => Double)
        : (String, Double) = {
      def pass(evals: Long): Unit = {
        var e = 0L
        while (e < evals) {
          sink += f(vecs((e % vecs.length).toInt), probe)
          e += 1
        }
      }
      pass(targetEvals / 10) // JIT warm
      val t0 = System.nanoTime()
      pass(targetEvals)
      val sec = (System.nanoTime() - t0) / 1e9
      name -> math.rint(targetEvals / sec / 1e3) / 1e3
    }
    val out = (primary.map { case (n, f) => time(s"${n}_kernel_meval_per_sec", f) } ++
      scalar.map { case (n, f) => time(s"${n}_scalar_kernel_meval_per_sec", f) }).toMap
    require(!sink.isNaN) // keep `sink` observably live
    out
  }

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A JSON object of `kv`, each value as it prints. */
  private def obj(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  private def errMsg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName)
      .linesIterator.take(1).mkString.take(200)

  /** The serve sweep's (route, depth) points. */
  private val ServePoints: Seq[(String, Int)] =
    Seq("resident" -> 8, "resident" -> 32, "resident" -> 96, "job" -> 8)
  private val (serveK, serveNProbe) = (10, 4)

  /** Requests timed, per second over the point's wall, and p50/p99 ms. */
  final case class Lat(n: Int, qps: Double, p50Ms: Double, p99Ms: Double) {
    def json: String = obj(Seq("n" -> n, "qps" -> qps, "p50_ms" -> p50Ms, "p99_ms" -> p99Ms))
  }

  /** One [[serveSweep]] point: its wall, search and insert latencies
    * (probes left out), how many answers failed a check (`mismatches`
    * for searches, `rywMisses` for probes) and the first such fault, and
    * both servers' `splitStats`. */
  final case class ServePoint(route: String, depth: Int, sec: Double,
      search: Lat, insert: Lat, probes: Int, compared: Int, mismatches: Int,
      rywMisses: Int, fault: Option[String], searchSplit: Serving.SearchSplit,
      ingestSplit: (Long, Long, Double, Double)) {
    def json: String = {
      def mean(sec: Double, n: Long) = if (n == 0) 0.0 else r3(sec * 1000 / n)
      val (s, (ib, ir, iw, ic)) = (searchSplit, ingestSplit)
      // searches per job only where jobs ran (as mean requests per batch)
      val perJob = if (s.jobBatches == 0) Nil
        else Seq("searches_per_job" -> r3(s.requests.toDouble / s.batches))
      obj(Seq("route" -> jstr(route), "depth" -> depth, "elapsed_sec" -> sec,
        "search" -> search.json, "insert" -> insert.json, "probes" -> probes,
        "compared" -> compared, "mismatches" -> mismatches, "ryw_misses" -> rywMisses,
        "search_split" -> obj(Seq("batches" -> s.batches, "requests" -> s.requests,
          "queue_wait_ms_mean" -> mean(s.queueWaitSec, s.requests),
          "refresh_ms_mean" -> mean(s.refreshSec, s.batches),
          "answer_ms_mean" -> mean(s.answerSec, s.batches),
          "job_batches" -> s.jobBatches) ++ perJob),
        "ingest_split" -> obj(Seq("batches" -> ib, "requests" -> ir,
          "queue_wait_ms_mean" -> mean(iw, ir), "commit_ms_mean" -> mean(ic, ib)))))
    }
  }

  /** Why `hits` is not a served answer, or None: it must hold `k` hits
    * ranked 1..k with distances that never decrease (NaN last), equal
    * `want` by (id, rank, distance bits) where one is given, and hold
    * `probe` at rank 1 with distance 0 where one is given. */
  private[graft] def answerFault(hits: Seq[Serving.Hit], k: Int,
      want: Option[Seq[Serving.Hit]] = None,
      probe: Option[Long] = None): Option[String] = {
    def key(hs: Seq[Serving.Hit]) =
      hs.map(h => (h.neighborId, h.rnk, java.lang.Double.doubleToLongBits(h.dist)))
    if (hits.size != k) Some(s"${hits.size} hits, not $k")
    else if (hits.map(_.rnk) != (1L to k)) Some(s"ranks ${hits.map(_.rnk)}")
    else if (hits.zip(hits.tail).exists { case (a, b) =>
        java.lang.Double.compare(a.dist, b.dist) > 0 }) Some(s"distances decrease: $hits")
    else if (want.exists(w => key(w) != key(hits))) Some(s"$hits, searchPruned ${want.get}")
    else if (probe.exists(id => hits.head.neighborId != id || hits.head.dist != 0.0))
      Some(s"written id ${probe.get} is not at rank 1, distance 0: ${hits.head}")
    else None
  }

  /** The closed-loop serving sweep, the client_bench.cpp analog, on one
    * scratch copy of the `IndexStore.ivf` store (k = 16) that is deleted
    * at the end. Each (route, depth) point runs one SearchServer (the job
    * route forced by a 0-byte resident bound) and one IngestServer, both
    * warmed outside the clock: `depth` search clients make 32 searches
    * each, and max(1, depth/8) insert clients make 25 requests of 8 fresh
    * rows each, then search one row just written (an untimed probe: it
    * must be at rank 1, distance 0). Every answer must pass
    * [[answerFault]], and once the point drains 16 fixed queries must
    * equal searchPruned on the same store state. A point that fails a
    * check or throws lands in `errors` as `serve:<route>:<depth>` and is
    * left out. */
  def serveSweep(spark: SparkSession, sfDir: String, points: Seq[(String, Int)],
      errors: scala.collection.mutable.Map[String, String]): Seq[ServePoint] = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.{IngestServer, SearchServer}
    def await[T](f: Future[T]): T =
      Await.result(f, scala.concurrent.duration.Duration(600, "s"))
    val emb = Tables.load(spark, sfDir, "embeddings")
    // clients hold their query vectors (the RPC payload)
    val queries = emb.filter($"vec_id" < 256).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val nextId = new AtomicLong(emb.agg(max("vec_id")).head().getLong(0) + 1)
    // fresh ids above the corpus, each at a query vector moved by seeded
    // noise, so no other row is at distance 0 from it
    def freshRows(): Seq[(Long, Seq[Float])] = Seq.fill(8) {
      val id = nextId.getAndIncrement()
      val rnd = new scala.util.Random(id)
      id -> queries((id % queries.length).toInt)
        .map(_ + 0.01f * rnd.nextGaussian().toFloat).toSeq
    }
    val sample = queries.take(16).toSeq
    val dir = graft.operators.IndexStore.scratchIvf(spark, sfDir)
    def point(route: String, depth: Int): ServePoint = {
      val search =
        if (route == "job") new SearchServer(spark, dir, serveK, serveNProbe, residentMaxBytes = 0L)
        else new SearchServer(spark, dir, serveK, serveNProbe)
      val ingest = new IngestServer(spark, dir)
      val inserters = math.max(1, depth / 8)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(depth + inserters)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val (searchMs, insertMs) = (new ConcurrentLinkedQueue[Double], new ConcurrentLinkedQueue[Double])
      val (mismatches, misses) = (new AtomicInteger, new AtomicInteger)
      val faults = new ConcurrentLinkedQueue[String]
      def check(count: AtomicInteger, fault: Option[String]): Unit =
        fault.foreach { f => count.incrementAndGet(); faults.add(f) }
      def timed[T](ms: ConcurrentLinkedQueue[Double])(f: => Future[T]): T = {
        val t0 = System.nanoTime()
        try await(f) finally ms.add((System.nanoTime() - t0) / 1e6)
      }
      def lat(ms: ConcurrentLinkedQueue[Double], sec: Double): Lat = {
        val xs = ms.asScala.toSeq.sorted
        def pct(p: Double) = xs(math.max(0, math.ceil(p * xs.size).toInt - 1))
        Lat(xs.size, r3(xs.size / sec), r3(pct(0.5)), r3(pct(0.99)))
      }
      try {
        await(ingest.insert(freshRows())) // the first round's jobs
        await(search.search(queries(0)))
        val t0 = System.nanoTime()
        val searchers = (0 until depth).map(c => Future((0 until 32).foreach { r =>
          val hits = timed(searchMs)(search.search(queries((c * 32 + r) % queries.length)))
          check(mismatches, answerFault(hits, serveK))
        }))
        val writers = (0 until inserters).map(_ => Future((0 until 25).foreach { r =>
          val rows = freshRows()
          timed(insertMs)(ingest.insert(rows))
          val (id, v) = rows(r % rows.size)
          check(misses, answerFault(await(search.search(v.toArray)), serveK, probe = Some(id)))
        }))
        await(Future.sequence(searchers ++ writers))
        val sec = (System.nanoTime() - t0) / 1e9
        val byQ = graft.operators.IvfIndex.searchPruned(spark, dir,
            sample.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("query_id", "qv"),
            serveK, serveNProbe)
          .collect().groupBy(_.getLong(0))
        sample.zipWithIndex.foreach { case (v, i) =>
          val want = byQ.getOrElse(i.toLong, Array.empty).toSeq
            .map(r => Serving.Hit(r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_.rnk)
          check(mismatches, answerFault(await(search.search(v)), serveK, want = Some(want)))
        }
        ServePoint(route, depth, r3(sec), lat(searchMs, sec), lat(insertMs, sec),
          inserters * 25, sample.size, mismatches.get, misses.get, Option(faults.peek),
          search.splitStats, ingest.splitStats)
      } finally { pool.shutdownNow(); search.close(); ingest.close() }
    }
    try points.flatMap { case (route, depth) =>
      val key = s"serve:$route:$depth"
      try {
        val p = point(route, depth)
        p.fault.foreach(f => errors(key) = s"${p.mismatches} mismatches, " +
          s"${p.rywMisses} read-your-writes misses; first: $f")
        if (p.fault.isEmpty) Some(p) else None
      } catch { case e: Throwable => errors(key) = errMsg(e); None }
    } finally graft.streaming.IvfDeltaIngest.deleteRecursively(new java.io.File(dir))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus)
      // FAIR: up to SearchServer.MaxInFlight job-route batches run at
      // once and share the executor pool instead of FIFO-queueing whole
      // jobs (perfbench's session sets the same)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // warm-up: JVM + codegen + parquet footer caches, plus the one-time
    // ANN index builds (IndexStore) so the *search* entries measure
    // search — the build/serve separation the persisted-index design is
    // for. Index build is an offline/amortized cost by design and is
    // deliberately outside the timed loop (like the JVM warm-up); the
    // spec suite and IndexStore exercise the build path itself.
    // Every query runs once against the SMALLEST scale factor first:
    // whole-stage-codegen compilation is identical across scale factors
    // for the same query, so this strips per-plan compile cost out of
    // the timed numbers (which claim steady-state execution) at
    // near-zero data cost. Warm-up failures are RECORDED (not timed):
    // a query that can only fail at warm-up scale would otherwise hide.
    val warmDir = {
      val w = new java.io.File(new java.io.File(sfDir).getParent, "sf0.001")
      if (w.isDirectory) w.getPath else sfDir
    }
    // store builds fail LOUDLY into `errors`: a silently-failed build
    // shifts its full cost into the first timed query that rebuilds it
    val stores: Seq[(String, () => Any)] = Seq(
      "store:ivf" -> (() => graft.operators.IndexStore.ivf(spark, sfDir, k = 16)),
      // the balanced sibling too: its cold build landed inside the
      // timed v_ivf_balance sample at sf10 (197 s first sample, 5 s
      // warm) and the retime spent the whole budget recovering it
      "store:ivfb" -> (() => {
        val (tp, mp) = graft.queries.IndexQueries.balancePops(spark, sfDir)
        graft.operators.IndexStore.ivfBalanced(spark, sfDir, k = 16,
          targetPop = tp, maxPop = mp)
      }),
      "store:pq" -> (() => graft.operators.IndexStore.pq(spark, sfDir)),
      "store:ivfpq" -> (() => graft.operators.IndexStore.ivfpq(spark, sfDir)),
      "store:knng" -> (() => graft.operators.IndexStore.knnGraph(spark, sfDir)),
      "store:hnsw" -> (() => graft.operators.IndexStore.hnsw(spark, sfDir)),
      // the compacted siblings are build-once artifacts like their
      // bases: warm them here or the first timed compact query after a
      // data regen pays the whole rebuild (the d_cluster_sizes lesson)
      "store:knngc" -> (() => graft.operators.IndexStore.knnGraphCompacted(
        spark, sfDir, graft.queries.IndexQueries.DeleteMod,
        graft.queries.IndexQueries.DeleteResidue)),
      "store:hnswc" -> (() => graft.operators.IndexStore.hnswCompacted(
        spark, sfDir, graft.queries.IndexQueries.DeleteMod,
        graft.queries.IndexQueries.DeleteResidue)),
      "store:mips" -> (() => graft.operators.IndexStore.mips(spark, sfDir)),
      "store:ivfpqr" -> (() => graft.operators.IndexStore.ivfpqResidual(spark, sfDir)),
      "store:sq8" -> (() => graft.operators.IndexStore.sq8(spark, sfDir)),
      "store:sq4" -> (() => graft.operators.IndexStore.sq4(spark, sfDir)),
      "store:opq" -> (() => graft.operators.IndexStore.opq(spark, sfDir)),
      // the LM-score and BPE-merge stores are corpus-build artifacts
      // like the indexes: the timed entries measure inference/read,
      // not the build (t_bpe_train still times the build path itself)
      "store:jedges" -> (() => graft.queries.DedupQueries.jaccardEdgeStore(spark, sfDir)),
      "store:jcomp" -> (() => graft.queries.DedupQueries.componentStore(spark, sfDir)),
      "store:lm" -> (() => graft.queries.TextQueries.lmStore(spark, sfDir)),
      "store:bpe" -> (() => graft.queries.TextQueries.bpeStore(spark, sfDir)))
    // warmup honors the skip list too: a skipped graph query must not
    // build graph stores at warmup scale either
    val skipped: Set[String] = parseSkip(
      sys.env.get("SPARK_GRAFT_SKIP"),
      SparkEntry.queries.keySet ++ stores.map(_._1))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!skipped(name)) {
        try exhaust(fn(spark, warmDir))
        catch { case e: Throwable => errors(s"warmup:$name") = errMsg(e) }
        spark.catalog.clearCache()
      }
    }
    stores.foreach { case (key, build) =>
      if (!skipped(key))
        try build() catch { case e: Throwable => errors(key) = errMsg(e) }
    }

    val runSteal0 = stealTicks()
    // (time, steal seconds observed during the sample) per query
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => skipped(q._1)).map { case (name, fn) =>
      val keep = persistedRddIds(spark)
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      val ok =
        try { exhaust(fn(spark, sfDir)); true }
        catch { case e: Throwable => errors(name) = errMsg(e); false }
      val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
      val steal = (stealTicks() - s0) / 100.0
      // a query may cache its own shared subtrees or leave eager
      // checkpoints; drop them so pinned blocks never bleed into (or
      // evict under) later measurements
      resetSharedState(spark, keep)
      // stderr trail (the Verify discipline): a run killed mid-loop —
      // the sf10 16 GiB OOM — names its in-flight query instead of
      // leaving an unattributable dead JVM
      System.err.println(f"[bench] $name ${if (ok) f"$sec%.2f s" else "FAILED"}")
      (name, if (ok) sec else -1.0, steal)
    }
    // Outlier re-time pass: host CPU steal arrives in waves and inflates
    // different queries each run (t_entropy 14.5 s vs 1.6 s isolated),
    // so a single sample can misstate a query 5-15x. Queries whose
    // first sample exceeds 2 s are re-run once, slowest first under a
    // 120 s wall budget, and the MIN of the two samples is reported —
    // the steady-state claim the warm-up establishes. Failures (-1)
    // are never retimed.
    var retimeBudget = 120.0
    val secondPass = scala.collection.mutable.Map.empty[String, Double]
    // both samples recorded verbatim so the artifact shows its work:
    // a reader can see which numbers came from a retime and how far
    // apart the two samples were (the steal-burst magnitude)
    val retimes = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    // retime-eligible: slow first sample OR measurable steal observed
    // DURING the sample (direct evidence of contamination, whatever
    // the wall time); slowest first so the budget goes to the worst
    firstPass.filter(r => r._2 >= 2.0 || (r._2 >= 0 && r._3 >= 1.0))
      .sortBy(-_._2).foreach { case (name, first, steal) =>
        // a first sample over the remaining budget with no steal seen
        // is retimed no more: its rerun would starve every cheaper
        // contaminated query below it (at sf10 v_knn_batched's 183 s
        // retime ate the budget); steal-evidenced samples stay eligible
        if (retimeBudget > 0 && (first <= retimeBudget || steal >= 1.0)) {
          val keep = persistedRddIds(spark)
          val t0 = System.nanoTime()
          try {
            exhaust(SparkEntry.queries(name)(spark, sfDir))
            val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
            secondPass(name) = math.min(first, sec)
            retimes(name) = (first, sec)
            retimeBudget -= sec
          } catch { case _: Throwable => () } // keep the first sample
          resetSharedState(spark, keep)
        }
      }
    val results = firstPass.map { case (name, sec, _) =>
      name -> secondPass.getOrElse(name, sec)
    }

    // Bounded second-decade probes (PairProbes scaladoc): every SKIPPED
    // pair-emitter still gets a timing at this scale — the identical
    // candidate/verify plan into a count aggregate instead of the
    // contractually-unmaterializable full pair dump. Probe rows land in
    // a separate `probes` map so they are never mistaken for the
    // entry's own (full-output) timing.
    val probeTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    graft.queries.PairProbes.all.toSeq.sortBy(_._1)
      .filter { case (name, _) => skipped(name) }
      .foreach { case (name, fn) =>
        val keep = persistedRddIds(spark)
        val t0 = System.nanoTime()
        try {
          exhaust(fn(spark, sfDir))
          probeTimes(name) = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
        } catch { case e: Throwable => errors(s"probe:$name") = errMsg(e) }
        resetSharedState(spark, keep)
      }

    // the checked serving sweep, AFTER the serial loop so its
    // contention never perturbs per-query numbers
    val serve =
      try serveSweep(spark, sfDir, ServePoints, errors)
      catch { case e: Throwable => errors("serve") = errMsg(e); Nil }

    // distance microbenches: scan throughput (kernel inside a real
    // plan — row decode included) AND kernel-only primitive-array
    // loops (the honest distance_bench.cpp apples-to-apples number)
    val dist = {
      val scan =
        try distanceBench(spark, sfDir)
        catch { case e: Throwable =>
          errors("distance") = errMsg(e); Map.empty[String, Double] }
      val kern =
        try distanceKernelBench(spark, sfDir)
        catch { case e: Throwable =>
          errors("distance_kernel") = errMsg(e); Map.empty[String, Double] }
      scan ++ kern
    }

    // stop BEFORE emitting the result lines: Spark's shutdown logging
    // goes to stderr, and with 2>&1 capture an executor-shutdown WARN
    // interleaved after the headline would displace it as the last
    // line of output — the exact failure mode the capture fix closed
    spark.stop()

    val errs = obj(errors.map { case (k, v) => k -> jstr(v) })
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    // the headline's serving fields: the resident points' search side
    val resident = serve.filter(_.route == "resident")
    def tputPoint(p: ServePoint, more: (String, Any)*) = obj(Seq("clients" -> p.depth,
      "searches" -> p.search.n, "elapsed_sec" -> p.sec, "qps" -> p.search.qps) ++ more)
    val tputJson = resident.lastOption.fold("null")(tputPoint(_))
    val tputSweepJson = resident.map(p => tputPoint(p, "p99_ms" -> p.search.p99Ms))
      .mkString("[", ",", "]")
    val retimesJson = obj(retimes.map { case (k, (a, b)) => k -> s"[$a,$b]" })
    val stealSec = math.rint((stealTicks() - runSteal0) / 100.0 * 10) / 10
    val skippedJson = skipped.toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"timing":"min of up to 2 runs for contaminated samples (>2s or steal observed)","steal_sec":$stealSec,"skipped":$skippedJson,"probes":${obj(probeTimes)},"retimes":$retimesJson,"queries":${obj(results)},"errors":$errs,"throughput":$tputJson,"throughput_sweep":$tputSweepJson,"serve":${serve.map(_.json).mkString("[", ",", "]")},"distance":${obj(dist)},"sf":"$sfDir"}"""
    // The machine-readable artifact: the COMPLETE result object as one
    // JSON file, which no trailing sbt output can displace.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), detail + "\n")
    // Full per-query detail for humans reading the whole log. This line
    // exceeds the harness's bounded tail capture once the inventory
    // passed ~80 queries, so it must NOT be the final line.
    println(detail)
    // Compact headline line LAST, under a hard byte budget so it lands
    // intact in a tail-of-output capture: total, error COUNT, a bounded
    // head of error names, and the slowest successful queries that fit.
    // Full error messages live only in the detail line.
    val budget = 1500
    val errHead = errors.keys.take(5).map(jstr).mkString("[", ",", "]")
    val sfx = s""","n_errors":${errors.size},"n_skipped":${skipped.size},"err_head":$errHead,"throughput":$tputJson,"throughput_sweep":$tputSweepJson,"sf":"$sfDir"}"""
    val head = s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"queries":{"""
    val slowestFirst = results.filter(_._2 >= 0).sortBy(-_._2)
      .map { case (k, v) => jstr(k) + ":" + v }
    val sb = new StringBuilder(head)
    var used = head.length + sfx.length + 1 // +1 for the closing '}'
    var first = true
    slowestFirst.foreach { e =>
      val cost = e.length + (if (first) 0 else 1)
      if (used + cost <= budget) {
        if (!first) sb.append(',')
        sb.append(e); used += cost; first = false
      }
    }
    sb.append('}').append(sfx)
    println(sb.toString)
  }
}
