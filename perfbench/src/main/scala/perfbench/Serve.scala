package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.locks.LockSupport

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

import org.apache.spark.sql.SparkSession

import graft.streaming.{IngestServer, SearchServer, Serving}

/** The serving phase: open-loop Poisson arrivals from one generator thread
  * into graft's async `SearchServer.search` / `IngestServer.insert`. */
object Serve {

  val K = 10
  val NProbe = 4
  val RowsPerInsert = 8
  val ProbeShare = 0.1
  /** Requests due in the window's first seconds warm the servers: they are
    * sent and checked like the rest, but left out of the latency figures. */
  val WarmSeconds = 2.0

  /** One scheduled request. `due` is ns after the window opens. `u` and
    * `v` are per-request uniforms: for a search, `u < ProbeShare` makes it
    * a read-your-writes probe, and `v` picks which acknowledged insert
    * and row it reads back. */
  final case class Arrival(due: Long, insert: Boolean, u: Double, v: Double)

  /** Seeded Poisson schedule over `seconds`: searches and inserts arrive
    * as independent Poisson streams at the given rates, conditioned on
    * their counts. The warm-up (`WarmSeconds`) and the rest of the window
    * each get exactly rate × length requests of each kind, at uniformly
    * drawn times (how a Poisson process spreads a given count), so every
    * run's latency figures rest on the same number of samples. */
  def schedule(seed: Long, seconds: Double, searchRate: Double,
      insertRate: Double): Array[Arrival] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val warm = math.min(WarmSeconds, seconds)
    def part(from: Double, to: Double): Seq[Arrival] = {
      def kind(rate: Double, insert: Boolean) =
        Seq.fill(math.round(rate * (to - from)).toInt) {
          val t = from + rnd.nextDouble() * (to - from)
          Arrival((t * 1e9).toLong, insert, rnd.nextDouble(), rnd.nextDouble())
        }
      kind(searchRate, insert = false) ++ kind(insertRate, insert = true)
    }
    (part(0, warm) ++ part(warm, seconds)).sortBy(_.due).toArray
  }

  /** What happened to one request. `send` and `done` are absolute
    * nanoTime; `done` is -1 for a failed request. */
  final case class Outcome(arrival: Arrival, index: Int, send: Long, due: Long,
      done: Long, hits: Seq[Serving.Hit], probeOf: Option[Long],
      query: Array[Float], error: Option[String])

  /** `corpus` includes the rows of the warm-up insert. */
  final case class Setup(indexDir: String, corpus: Array[(Long, Array[Float])],
      search: SearchServer, ingest: IngestServer, idBase: Long)

  final case class Result(searchMs: Seq[Double], insertMs: Seq[Double],
      attempted: Int, failed: Int, problems: Seq[String], recall: Double,
      rywMisses: Int, genLagMsMax: Double, windowStart: Long, windowEnd: Long,
      searches: Int, inserts: Int, warmSearchP50: Double, p50ByQuarter: Seq[Double])

  /** Serve a copy of the tables' IVF index (`IndexStore.ivf`, k = 16):
    * inserts then land in the copy, and the pipeline entries that read the
    * same index see it unchanged. Both servers start warmed by one search
    * and one insert. `vectors` is the embeddings table, in vec_id order. */
  def setup(spark: SparkSession, tables: String, dir: String,
      vectors: Array[Array[Float]], tracer: Tracer): Setup = {
    val built = tracer.span("serve.index_build") {
      graft.operators.IndexStore.ivf(spark, tables, k = 16)
    }
    val indexDir = s"$dir/ivf"
    copyTree(java.nio.file.Paths.get(built), java.nio.file.Paths.get(indexDir))
    val corpus = vectors.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val sc = spark.sparkContext
    // server threads inherit local properties from the constructing
    // thread; the listener uses this one to tell search from ingest jobs
    sc.setLocalProperty(Tracer.ComponentProp, "search")
    val search = new SearchServer(spark, indexDir, k = K, nprobe = NProbe)
    sc.setLocalProperty(Tracer.ComponentProp, "ingest")
    val ingest = new IngestServer(spark, indexDir, startSeq = 1L)
    sc.setLocalProperty(Tracer.ComponentProp, null)
    // ids above the corpus: the warm-up insert, then the measured inserts
    val idBase = corpus.length.toLong + 1000L
    val warm = Array.tabulate(RowsPerInsert)(j => (idBase - 100 + j, vectors(j)))
    Await.result(ingest.insert(warm.toSeq.map { case (id, v) => (id, v.toSeq) }),
      Duration(120, TimeUnit.SECONDS))
    Await.result(search.search(vectors(0)), Duration(120, TimeUnit.SECONDS))
    Setup(indexDir, corpus ++ warm, search, ingest, idBase)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target)
    } finally walk.close()
  }

  /** Send the schedule, wait for every answer, then check every answer
    * (outside the timed window). `queries` and
    * `insertRows` hold one vector per search and `RowsPerInsert` vectors
    * per insert, in schedule order. */
  def run(s: Setup, plan: Array[Arrival], queries: Array[Array[Float]],
      insertRows: Array[Array[Float]], tracer: Tracer): Result = {
    implicit val ec: ExecutionContext = ExecutionContext.parasitic
    val outcomes = new ConcurrentLinkedQueue[Outcome]()
    // (insert index, ack nanoTime) in ack order
    val acked = new java.util.concurrent.CopyOnWriteArrayList[(Int, Long)]()
    val pending = new ConcurrentLinkedQueue[Future[Unit]]()
    var lagMax = 0L
    var si = 0
    var ii = 0
    val start = System.nanoTime()
    plan.foreach { a =>
      val due = start + a.due
      val wait = due - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val send = System.nanoTime()
      lagMax = math.max(lagMax, send - due)
      if (a.insert) {
        val idx = ii; ii += 1
        val rows = (0 until RowsPerInsert).map { j =>
          (insertId(s, idx, j), insertRows(idx * RowsPerInsert + j).toSeq)
        }
        // record the outcome in a transform, so awaiting the returned
        // future also waits for the outcome to be recorded
        pending.add(s.ingest.insert(rows).transform { r =>
          val done = System.nanoTime()
          r match {
            case Success(_) =>
              acked.add((idx, done))
              outcomes.add(Outcome(a, idx, send, due, done, Nil, None, null, None))
            case Failure(e) =>
              outcomes.add(Outcome(a, idx, send, due, -1, Nil, None, null, Some(msg(e))))
          }
          tracer.record("serve.insert", due, done, "index" -> idx)
          Success(())
        })
      } else {
        val idx = si; si += 1
        // a read-your-writes probe reads back a row of an acknowledged insert
        val ackedNow = acked.size
        val probe =
          if (a.u < ProbeShare && ackedNow > 0) {
            val (ins, _) = acked.get(math.min(ackedNow - 1, (a.v * ackedNow).toInt))
            val j = ((a.v * ackedNow * RowsPerInsert).toLong % RowsPerInsert).toInt
            Some((insertId(s, ins, j), insertRows(ins * RowsPerInsert + j)))
          } else None
        val q = probe.map(_._2).getOrElse(queries(idx))
        pending.add(s.search.search(q).transform { r =>
          val done = System.nanoTime()
          r match {
            case Success(hits) =>
              outcomes.add(Outcome(a, idx, send, due, done, hits, probe.map(_._1), q, None))
            case Failure(e) =>
              outcomes.add(Outcome(a, idx, send, due, -1, Nil, probe.map(_._1), q, Some(msg(e))))
          }
          tracer.record("serve.search", due, done, "index" -> idx,
            "probe" -> probe.isDefined)
          Success(())
        })
      }
    }
    val deadline = System.nanoTime() + 40L * 1000000000L
    pending.asScala.foreach { f =>
      try Await.ready(f, Duration(math.max(1L, deadline - System.nanoTime()), TimeUnit.NANOSECONDS))
      catch { case _: java.util.concurrent.TimeoutException => () }
    }
    val end = System.nanoTime()
    check(s, outcomes.asScala.toSeq, acked.asScala.toSeq, insertRows,
      plan, lagMax, start, end)
  }

  private def insertId(s: Setup, insertIdx: Int, j: Int): Long =
    s.idBase + insertIdx.toLong * RowsPerInsert + j

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(200)

  private def check(s: Setup, outs: Seq[Outcome], acked: Seq[(Int, Long)],
      insertRows: Array[Array[Float]], plan: Array[Arrival], lagMax: Long,
      start: Long, end: Long): Result = {
    val problems = Seq.newBuilder[String]
    val corpusVec: Map[Long, Array[Float]] = s.corpus.toMap
    val ackAt: Map[Int, Long] = acked.toMap
    def insertVec(id: Long): Option[Array[Float]] = {
      val off = id - s.idBase
      if (off >= 0 && off < insertRows.length) Some(insertRows(off.toInt)) else None
    }
    def vectorOf(id: Long): Option[Array[Float]] = corpusVec.get(id).orElse(insertVec(id))
    val searches = outs.filter(!_.arrival.insert)
    val inserts = outs.filter(_.arrival.insert)
    // a request that never completed is a failure at infinite latency
    val lost = plan.length - outs.size
    if (lost > 0) problems += s"$lost requests never completed"
    var failed = lost
    var rywMisses = 0
    val recalls = Seq.newBuilder[Double]
    searches.foreach { o =>
      o.error match {
        case Some(e) => failed += 1; problems += s"search ${o.index} failed: $e"
        case None =>
          val hits = o.hits.map(h => GroundTruth.Hit(h.neighborId, h.rnk, h.dist))
          val bad = GroundTruth.checkAnswer(hits, K, o.query, vectorOf)
          val rywMiss = o.probeOf.exists(id =>
            !hits.headOption.exists(h => h.id == id && h.dist == 0.0))
          if (rywMiss) {
            rywMisses += 1
            problems += s"search ${o.index}: read-your-writes probe for id ${o.probeOf.get} got ${hits.headOption}"
          }
          if (bad.nonEmpty) problems += s"search ${o.index}: ${bad.mkString("; ")}"
          if (bad.nonEmpty || rywMiss) failed += 1
          // truth over the corpus, the inserts acknowledged before the
          // search was sent, and any racing insert the answer already holds
          val visible = ackAt.collect { case (i, t) if t < o.send => i }.toSet ++
            hits.map(_.id).filter(id => insertVec(id).isDefined)
              .map(id => ((id - s.idBase) / RowsPerInsert).toInt)
          val pool = s.corpus ++ visible.toSeq.flatMap { i =>
            (0 until RowsPerInsert).map(j => (insertId(s, i, j), insertRows(i * RowsPerInsert + j)))
          }
          val truth = GroundTruth.topK(pool, o.query, K).map(_._1).toSeq
          recalls += GroundTruth.recall(hits.map(_.id), truth)
      }
    }
    inserts.foreach { o =>
      o.error.foreach { e => failed += 1; problems += s"insert ${o.index} failed: $e" }
    }
    // latencies of the requests due after the warm-up, plus one infinite
    // latency per such request that never completed
    val warmNs = (WarmSeconds * 1e9).toLong
    def lat(os: Seq[Outcome]): Seq[Double] =
      os.map(o => if (o.done < 0) Double.PositiveInfinity else (o.done - o.due) / 1e6)
    def measured(os: Seq[Outcome], insert: Boolean): Seq[Double] = {
      val lostHere = plan.count(a => a.insert == insert && a.due >= warmNs) -
        os.count(_.arrival.due >= warmNs)
      lat(os.filter(_.arrival.due >= warmNs)) ++ Seq.fill(lostHere)(Double.PositiveInfinity)
    }
    val rs = recalls.result()
    // search p50 over each quarter of the measured window, by due time:
    // flat when the server keeps up, rising when a backlog builds
    val byDue = searches.filter(_.arrival.due >= warmNs).sortBy(_.arrival.due)
    val quarter = math.max(1, (byDue.size + 3) / 4)
    val p50ByQuarter = byDue.grouped(quarter).map(q => Stats.percentile(lat(q), 50)).toSeq
    val warm = lat(searches.filter(_.arrival.due < warmNs))
    Result(
      searchMs = measured(searches, insert = false), insertMs = measured(inserts, insert = true),
      attempted = plan.length, failed = failed, problems = problems.result(),
      recall = if (rs.isEmpty) 0.0 else rs.sum / rs.size, rywMisses = rywMisses,
      genLagMsMax = lagMax / 1e6, windowStart = start, windowEnd = end,
      searches = searches.size, inserts = inserts.size,
      warmSearchP50 = if (warm.isEmpty) 0.0 else Stats.percentile(warm, 50),
      p50ByQuarter = p50ByQuarter)
  }
}
