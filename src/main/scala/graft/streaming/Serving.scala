package graft.streaming

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Future, Promise}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.IvfIndex

/** Micro-batching serving front ends — the Spark-shaped answer to the
  * reference's multi-client server (proto/vector_search.proto:
  * Search/Insert RPCs; client_bench.cpp drives them concurrently).
  * Requests enqueue, and a dispatcher drains whatever is pending
  * (≤ the server's `MaxBatch`) as one batch:
  *
  *  - [[SearchServer]] answers a batch on one of two routes, chosen per
  *    batch. Probes are resolved DRIVER-SIDE against the centroids
  *    collected at construction (bounded index metadata, the same rows
  *    the reference server holds in RAM) on both.
  *     - RESIDENT (the default for bounded indexes): the server keeps an
  *       immutable snapshot of the index directory ([[ResidentIvf]]:
  *       the assignments rows per cluster, the delta log folded to the
  *       latest seq per vec_id, and the file table both were read
  *       from). At the start of every batch, under one lock, it lists
  *       both directories (skipping `_`/`.` names as Spark's file index
  *       does), reads only the new files with parquet-hadoop's record
  *       reader, and rebuilds the snapshot when a file it was built
  *       from vanished or changed (compaction). The batch is then
  *       answered from RAM — no Spark job, so no plan, scheduler or
  *       stage cost per request; the reference's engine.h:search_knn
  *       serves from memory the same way. Ingest acknowledges only
  *       after its delta-log file is renamed into place, so
  *       read-your-writes holds.
  *     - JOB: one [[IvfIndex.searchPrunedFrames]] job for the whole
  *       batch, taken when the listed bytes exceed 1/16 of the max
  *       heap (`SearchServer.ResidentMaxBytes`; the choice is the
  *       `serve.resident` [[graft.Route]] key), when the listing fails
  *       or shows a layout the scan reads differently, or when a file
  *       holds something the snapshot reader does not reproduce (no
  *       vec_id/embedding column, a null inside an embedding). The
  *       pruned search is
  *       per-query independent, so the batched job is answer-identical
  *       to per-request jobs, and its fixed cost amortizes across the
  *       batch.
  *    Both routes return exactly `searchPruned`'s rows (ServingSpec's
  *    path law); `splitStats` splits a request's wall into queue wait,
  *    refresh and answer time.
  *  - [[IngestServer]]: concurrent insert requests coalesce into one
  *    delta-log file per dispatch round under a single writer — the
  *    LSM group-commit discipline (the reference serializes its write
  *    buffer behind a mutex the same way). The round's rows are
  *    assigned to centroids and written on the driver
  *    ([[IvfDeltaIngest.commitLocal]]: temp file, fsync, atomic
  *    rename), so a commit starts no Spark job. That file is the whole
  *    insert: `assignments` is rewritten only by compaction.
  */
object Serving {
  /** One ranked hit. */
  final case class Hit(neighborId: Long, rnk: Long, dist: Double)

  /** [[SearchServer.splitStats]]: batches and requests answered since
    * construction, queue wait (enqueue → dispatch) summed over
    * requests, refresh time (listing + new-file reads) and answer time
    * summed over batches, and how many batches took the job route. */
  final case class SearchSplit(batches: Long, requests: Long,
      queueWaitSec: Double, refreshSec: Double, answerSec: Double,
      jobBatches: Long)

  /** The index's (cluster_id, centroid) rows in cluster_id order —
    * bounded index metadata, which both servers hold in RAM as the
    * reference server does. IVF compaction never rewrites centroids,
    * so one read serves a server's lifetime. */
  private[streaming] def centroids(spark: SparkSession,
      indexDir: String): Seq[(Int, Array[Float])] = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .select(col("cluster_id").cast("int"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    require(cents.nonEmpty, s"no centroids under $indexDir")
    cents
  }
}

object SearchServer {
  /** Listed index bytes up to which a batch is answered from the
    * resident snapshot. Random float embeddings barely compress, so the
    * snapshot holds about as many bytes as the parquet it is read from
    * (measured 0.99–1.05× for 2k–20k rows of 64–128 floats); 1/16 of
    * the heap keeps it, and its brief second copy during a rebuild,
    * well under the driver's memory. */
  private[streaming] val ResidentMaxBytes: Long = Runtime.getRuntime.maxMemory / 16

  /** Requests answered per batch, at most. */
  private[streaming] val MaxBatch = 128

  /** Batches answered concurrently, at most. */
  private[streaming] val MaxInFlight = 3
}

/** See [[Serving]]. `close()` drains the queue, then stops the
  * dispatcher. A batch whose listed index bytes are within
  * `residentMaxBytes` is answered from the resident snapshot; a larger
  * index takes the batched-job route (specs pass 0 to force it: batches
  * run on worker threads, which `Route.forcing` does not reach). */
final class SearchServer private[graft] (spark: SparkSession, indexDir: String,
    k: Int, nprobe: Int, residentMaxBytes: Long) extends AutoCloseable {
  import Serving.{Hit, SearchSplit}
  import SearchServer.{MaxBatch, MaxInFlight}

  def this(spark: SparkSession, indexDir: String, k: Int, nprobe: Int) =
    this(spark, indexDir, k, nprobe, SearchServer.ResidentMaxBytes)

  // a cloned session tuned for bounded serving jobs (shares the
  // SparkContext and all caches; separate SQLConf): a probe batch
  // aggregates a few thousand rows, so the analytics session's
  // shuffle width just mints empty tasks, and AQE's stage-by-stage
  // re-planning adds a barrier per exchange for plans whose joins are
  // all explicit broadcasts anyway. Answers are conf-independent —
  // ServingSpec's equality against searchPruned holds on this session.
  private val serve: SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2
  }
  import serve.implicits._

  private val cents = Serving.centroids(serve, indexDir)

  private final case class Req(rid: Long, qv: Array[Float], p: Promise[Seq[Hit]],
      enq: Long = System.nanoTime())
  private val queue = new LinkedBlockingQueue[Req]()
  private val nextRid = new AtomicLong(0L)
  // gate: the open-check + put must be atomic with respect to close()'s
  // open=false flip — a put that wins this lock lands while the
  // dispatcher loop is provably still live (it exits only after
  // observing open==false), so no request can slip in after the final
  // straggler drain and hang its caller. Uncontended in steady state.
  private val gate = new Object
  @volatile private var open = true

  // split accounting (cumulative, lifetime of the server), the twin of
  // IngestServer's: where a search request's wall goes
  private val waitNs = new AtomicLong(0)
  private val refreshNs = new AtomicLong(0)
  private val answerNs = new AtomicLong(0)
  private val nBatchesDone = new AtomicLong(0)
  private val nReqsDone = new AtomicLong(0)
  private val nJobBatches = new AtomicLong(0)

  /** Since construction; see [[Serving.SearchSplit]]. */
  def splitStats: SearchSplit = SearchSplit(nBatchesDone.get, nReqsDone.get,
    waitNs.get / 1e9, refreshNs.get / 1e9, answerNs.get / 1e9, nJobBatches.get)

  // the resident snapshot; replaced (never mutated) under `refreshLock`
  private val refreshLock = new Object
  private var snapshot: ResidentIvf.Snapshot = ResidentIvf.empty

  /** List the index directory and bring the snapshot up to date: the
    * snapshot to answer from, or None when this batch takes the job
    * route. A listing the scan would read differently (or one an entry
    * vanished from mid-listing) reads nothing; over the byte bound (the
    * `serve.resident` route) the snapshot is dropped. */
  private def refresh(): Option[ResidentIvf.Snapshot] =
    refreshLock.synchronized {
      val listing = ResidentIvf.list(indexDir)
      if (!listing.ok) None
      else if (!graft.Route.fits("serve.resident", listing.bytes,
          residentMaxBytes)) {
        snapshot = ResidentIvf.empty
        None
      } else {
        snapshot = ResidentIvf.refresh(snapshot, listing)
        if (snapshot.ok) Some(snapshot) else None
      }
    }
  refresh() // load the snapshot at construction, not on the first batch

  /** Enqueue one search; completes when its batch is answered. Results
    * are exactly searchPruned's rows for this query vector. Throws
    * (synchronously) once the server is closed — never hands back a
    * promise nobody will complete. */
  def search(qv: Array[Float]): Future[Seq[Hit]] = {
    val p = Promise[Seq[Hit]]()
    gate.synchronized {
      require(open, "SearchServer is closed")
      queue.put(Req(nextRid.getAndIncrement(), qv, p))
    }
    p.future
  }

  // the engine's l2Sq lane-4 fold exactly (VectorKernels — the shared
  // implementation, so it cannot drift): probe ranking must be
  // decision-identical to resolveProbes' (cdist, cluster_id) order
  private def l2sq(a: Array[Float], b: Array[Float]): Double =
    graft.functions.VectorKernels.l2sqF(a, b)

  private def probesOf(qv: Array[Float]): Seq[Int] =
    cents.map { case (cid, cv) => (l2sq(qv, cv), cid) }
      .sorted.take(nprobe).map(_._2)

  /** The batched-job route: one searchPrunedFrames job. */
  private def jobAnswers(reqs: Seq[Req], probes: Seq[Seq[Int]]): Seq[Seq[Hit]] = {
    val probeRows = reqs.zip(probes).flatMap { case (r, ps) =>
      ps.map(cid => (r.rid, r.qv.toSeq, cid))
    }
    val probeIds = probeRows.map(_._3).distinct.sorted
    val probeDf = probeRows.toDF("query_id", "qv", "cluster_id")
    val queries = reqs.map(r => (r.rid, r.qv.toSeq)).toDF("query_id", "qv")
    val byRid = IvfIndex
      .searchPrunedFrames(serve, indexDir, queries, probeDf, probeIds, k)
      .collect()
      .groupBy(_.getLong(0))
    reqs.map { r =>
      byRid.getOrElse(r.rid, Array.empty).toSeq
        .map(row => Hit(row.getLong(1), row.getLong(2), row.getDouble(3)))
        .sortBy(_.rnk)
    }
  }

  private def runBatch(reqs: Seq[Req]): Unit =
    try {
      val t0 = System.nanoTime()
      reqs.foreach(r => waitNs.addAndGet(t0 - r.enq))
      nReqsDone.addAndGet(reqs.size)
      val resident = refresh()
      val t1 = System.nanoTime()
      refreshNs.addAndGet(t1 - t0)
      val probes = reqs.map(r => probesOf(r.qv))
      val answers = resident match {
        case Some(s) =>
          reqs.zip(probes).map { case (r, ps) => s.answer(r.qv, ps, k) }
        case None =>
          nJobBatches.incrementAndGet()
          jobAnswers(reqs, probes)
      }
      answerNs.addAndGet(System.nanoTime() - t1)
      nBatchesDone.incrementAndGet()
      reqs.zip(answers).foreach { case (r, hits) => r.p.success(hits) }
    } catch { case e: Throwable => reqs.foreach(_.p.tryFailure(e)) }

  // PIPELINED dispatch: up to MaxInFlight batches overlap (Spark
  // schedules concurrent jobs fine — stages interleave on the
  // executor pool), so the scheduler's per-job latency stops gating
  // aggregate QPS on the job route. The semaphore doubles as natural
  // batch sizing: while MaxInFlight batches run, arrivals accumulate in
  // the queue and the NEXT drain picks them all up — load adaptively
  // deepens the batches instead of the queue.
  private val inFlight = new java.util.concurrent.Semaphore(MaxInFlight)
  private val workers =
    java.util.concurrent.Executors.newFixedThreadPool(MaxInFlight)
  private val dispatcher = new Thread(() => {
    while (open || !queue.isEmpty) {
      val first = queue.poll(10, TimeUnit.MILLISECONDS)
      if (first != null) {
        inFlight.acquire()
        val drained = new java.util.ArrayList[Req](MaxBatch)
        drained.add(first)
        queue.drainTo(drained, MaxBatch - 1)
        import scala.jdk.CollectionConverters._
        val batch = drained.asScala.toSeq
        workers.submit(new Runnable {
          override def run(): Unit =
            try runBatch(batch) finally inFlight.release()
        })
      }
    }
    inFlight.acquire(MaxInFlight) // wait out the in-flight jobs
    workers.shutdown()
    // belt-and-braces: the gate lock means nothing can be here, but a
    // leftover would hang its caller forever, so drain loudly anyway
    val stragglers = new java.util.ArrayList[Req]()
    queue.drainTo(stragglers)
    stragglers.forEach(r =>
      r.p.tryFailure(new IllegalStateException("SearchServer closed")))
  }, "graft-search-server")
  dispatcher.setDaemon(true)
  dispatcher.start()

  override def close(): Unit = {
    gate.synchronized { open = false }
    dispatcher.join(60000)
  }
}

object IngestServer {
  /** Insert requests committed per group commit, at most. */
  private[graft] val MaxBatch = 64

  /** One row to insert, with values for the store's metadata columns
    * by name (`label` on an `IndexStore.ivf` store); a column left out
    * is written null, so searches fall back to the indexed row's value
    * for the same vec_id. */
  final case class Record(vecId: Long, embedding: Seq[Float],
      meta: Map[String, Any] = Map.empty)
}

/** See [[Serving]]: single-writer group commit into the IVF delta log.
  * Requests drained in one dispatch round share ONE sequence number
  * and ONE delta-log file, written on the driver
  * ([[IvfDeltaIngest.commitLocal]]); per-request ordering between
  * colliding vec_ids within a round is therefore undefined (callers
  * needing it must serialize their own submissions — the reference's
  * mutexed buffer gives the same guarantee boundary). A round whose
  * write fails fails its requests and takes no sequence number: the
  * next round commits under the same one, so acknowledged seqs stay
  * dense. A request whose metadata does not fit the store fails alone.
  * The first round commits at `startSeq` or one above the highest seq
  * the store already holds, whichever is larger, so a writer reopened
  * on a used store never commits under an older row's seq. It reads
  * that seq, the centroids and the store's metadata schema (Spark
  * jobs); every later round starts none. */
final class IngestServer private[graft] (spark: SparkSession,
    indexDir: String, startSeq: Long,
    step: IvfDeltaIngest.CommitStep => Unit) extends AutoCloseable {
  import IngestServer.{MaxBatch, Record}

  def this(spark: SparkSession, indexDir: String, startSeq: Long) =
    this(spark, indexDir, startSeq, _ => ())

  /** A writer whose first round commits just above the store's seqs. */
  def this(spark: SparkSession, indexDir: String) = this(spark, indexDir, 1L)

  private final case class Req(rows: Seq[Record], p: Promise[Long],
      enq: Long = System.nanoTime())
  private val queue = new LinkedBlockingQueue[Req]()
  // rounds committed; read and advanced by the dispatcher thread only
  private var committed = 0L
  // split accounting (cumulative, lifetime of the server): where an
  // insert request's wall goes — QUEUE WAIT (enqueue → its batch's
  // dispatch, the group-commit formation time) vs the COMMIT (the
  // driver-side IVF assignment + the one delta-log file write). p99
  // growth under depth attributes to whichever leg grows; the bench's
  // serve sweep records both per point.
  private val waitNs = new AtomicLong(0)
  private val commitNs = new AtomicLong(0)
  private val nBatchesDone = new AtomicLong(0)
  private val nReqsDone = new AtomicLong(0)

  /** (batches, requests, total queue-wait sec summed over requests,
    * total commit sec — assignment plus file write — summed over
    * batches) since construction. */
  def splitStats: (Long, Long, Double, Double) =
    (nBatchesDone.get, nReqsDone.get, waitNs.get / 1e9, commitNs.get / 1e9)
  // see SearchServer.gate: open-check + put atomic vs close()'s flip
  private val gate = new Object
  @volatile private var open = true

  /** Enqueue one insert batch of (vec_id, embedding) rows with null
    * metadata; see [[insertRecords]]. */
  def insert(rows: Seq[(Long, Seq[Float])]): Future[Long] =
    insertRecords(rows.map { case (id, e) => Record(id, e) })

  /** Enqueue one insert batch; the future completes with the sequence
    * number its group commit landed under, or fails (alone) when a
    * record names a column that is not one of the store's metadata
    * columns or gives a value not of its type. Throws (synchronously)
    * once the server is closed — never hands back a dead promise. */
  def insertRecords(rows: Seq[Record]): Future[Long] = {
    val p = Promise[Long]()
    gate.synchronized {
      require(open, "IngestServer is closed")
      queue.put(Req(rows, p))
    }
    p.future
  }

  // lazy so construction stays job-free
  private lazy val firstSeq =
    math.max(startSeq, IvfDeltaIngest.maxSeq(spark, indexDir) + 1)
  private lazy val centroids = Serving.centroids(spark, indexDir)
  private lazy val layout = IvfDeltaIngest.deltaLayout(spark,
    IvfDeltaIngest.storeMeta(spark, indexDir))

  private def runBatch(reqs: Seq[Req]): Unit =
    try {
      val t0 = System.nanoTime()
      reqs.foreach(r => waitNs.addAndGet(t0 - r.enq))
      nReqsDone.addAndGet(reqs.size)
      val seq = firstSeq + committed
      val parsed = reqs.map(r => r -> Try(r.rows.map(rec =>
        (rec.vecId, rec.embedding.toArray, layout.metaValues(rec.meta)))))
      parsed.foreach { case (r, Failure(e)) => r.p.failure(e); case _ => }
      val ok = parsed.collect { case (r, Success(rows)) => (r, rows) }
      if (ok.nonEmpty) {
        // assignment runs driver-side (resolveBatchLocal — bit-identical
        // to the resolveBatch plan by spec), and so does the write
        val resolved = IvfDeltaIngest.resolveBatchLocal(ok.flatMap(_._2),
          layout.meta.map(_.dataType), centroids, seq)
        IvfDeltaIngest.commitLocal(indexDir, layout, resolved, step)
        committed += 1 // only a committed round consumes its seq
        commitNs.addAndGet(System.nanoTime() - t0)
        nBatchesDone.incrementAndGet()
        ok.foreach(_._1.p.success(seq))
      }
    } catch { case e: Throwable => reqs.foreach(_.p.tryFailure(e)) }

  private val dispatcher = new Thread(() => {
    while (open || !queue.isEmpty) {
      val first = queue.poll(10, TimeUnit.MILLISECONDS)
      if (first != null) {
        val drained = new java.util.ArrayList[Req](MaxBatch)
        drained.add(first)
        queue.drainTo(drained, MaxBatch - 1)
        import scala.jdk.CollectionConverters._
        runBatch(drained.asScala.toSeq)
      }
    }
    // belt-and-braces: the gate lock means nothing can land post-drain,
    // but a leftover would hang its caller forever — drain loudly anyway
    val stragglers = new java.util.ArrayList[Req]()
    queue.drainTo(stragglers)
    stragglers.forEach(r =>
      r.p.tryFailure(new IllegalStateException("IngestServer closed")))
  }, "graft-ingest-server")
  dispatcher.setDaemon(true)
  dispatcher.start()

  override def close(): Unit = {
    gate.synchronized { open = false }
    dispatcher.join(30000)
  }
}
