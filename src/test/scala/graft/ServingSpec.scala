package graft

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

import graft.functions.VectorKernels
import graft.operators.IvfIndex
import graft.streaming.{IngestServer, IvfDeltaIngest, ResidentIvf, SearchServer,
  Serving}

/** The micro-batching serving front ends: batched answers must equal
  * per-request searchPruned answers exactly (per-query independence) on
  * both the resident and the job route, group-committed inserts must
  * land in the delta log only (one file per commit, seqs dense even
  * across a failed commit) and shadow the index for subsequent
  * searches, and resident searches must run no Spark job. */
class ServingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-serving-spec", seed = 246)

  /** A scratch copy of the fixture IVF store (inserts must not dirty
    * the shared artifact). */
  private def scratchStore(): String = PlantedClusters.scratchIvf(fixtureDir)

  private def vecsOf(ids: Seq[Long]): Seq[(Long, Array[Float])] =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .filter($"vec_id".isin(ids: _*))
      .select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq

  private def prunedRows(dir: String, ids: Seq[Long], k: Int, nprobe: Int)
      : Map[Long, Seq[(Long, Long, Double)]] = {
    val q = spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .filter($"vec_id".isin(ids: _*))
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    IvfIndex.searchPruned(spark, dir, q, k, nprobe)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (q2, rs) =>
        q2 -> rs.sortBy(_._3).map(t => (t._2, t._3, t._4)).toSeq
      }
  }

  test("concurrent batched searches equal per-request searchPruned exactly") {
    val dir = scratchStore()
    val ids = (0L until 24L)
    val vecs = vecsOf(ids)
    val server = new SearchServer(spark, dir, k = 10, nprobe = 4)
    try {
      // all submitted before any completes: forces multi-request batches
      val futs = vecs.map { case (id, qv) => id -> server.search(qv) }
      val got = futs.map { case (id, f) =>
        id -> Await.result(f, Duration(120, "s"))
          .map(h => (h.neighborId, h.rnk, h.dist))
      }.toMap
      val want = prunedRows(dir, ids, k = 10, nprobe = 4)
      assert(got == want)
    } finally server.close()
  }

  test("group-committed inserts land once and shadow the index for search") {
    val dir = scratchStore()
    val ingest = new IngestServer(spark, dir, startSeq = 1L)
    val rnd = new scala.util.Random(99)
    val newRows = (1000L until 1012L).map { id =>
      id -> Array.fill(64)(rnd.nextGaussian().toFloat)
    }
    try {
      val futs = newRows.map { case (id, v) =>
        ingest.insert(Seq(id -> v.toSeq))
      }
      val seqs = futs.map(Await.result(_, Duration(120, "s")))
      assert(seqs.nonEmpty && seqs.forall(_ >= 1L))
      // every inserted row is in the buffer exactly once
      val buf = graft.streaming.IvfDeltaIngest.deltaLatest(spark, dir).get
        .select($"vec_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(buf == newRows.map(_._1).sorted)
    } finally ingest.close()
    // a search AT an inserted vector finds it at rank 1, dist 0 — and
    // the batched server answer still equals searchPruned's
    val (qid, qv) = newRows.head
    val server = new SearchServer(spark, dir, k = 5, nprobe = 2)
    try {
      val got = Await.result(server.search(qv), Duration(120, "s"))
      assert(got.head.neighborId == qid && got.head.dist == 0.0)
      val want = IvfIndex.searchPruned(spark, dir,
          Seq((qid, qv.toSeq)).toDF("query_id", "qv"), 5, 2)
        .orderBy("rnk").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got.map(h => (h.neighborId, h.rnk, h.dist)) == want)
    } finally server.close()
  }

  test("insert splitStats accounts every request and batch") {
    val dir = scratchStore()
    val ingest = new IngestServer(spark, dir, startSeq = 1L)
    val rnd = new scala.util.Random(7)
    try {
      val futs = (2000L until 2010L).map { id =>
        ingest.insert(Seq(id -> Array.fill(64)(rnd.nextGaussian().toFloat).toSeq))
      }
      futs.foreach(Await.result(_, Duration(120, "s")))
      val (batches, reqs, waitSec, commitSec) = ingest.splitStats
      assert(reqs == 10L)                      // every request counted once
      assert(batches >= 1L && batches <= 10L)  // group commit coalesces
      assert(commitSec > 0.0)                  // the append jobs took time
      assert(waitSec >= 0.0)                   // queue wait is non-negative
    } finally ingest.close()
  }

  test("close() completes every already-enqueued request") {
    val dir = scratchStore()
    val vecs = vecsOf(0L until 8L)
    val server = new SearchServer(spark, dir, k = 5, nprobe = 2)
    val futs = vecs.map { case (_, qv) => server.search(qv) }
    server.close()
    futs.foreach { f =>
      assert(Await.result(f, Duration(120, "s")).nonEmpty)
    }
  }

  test("a request racing close() either completes or throws — never hangs") {
    // the r10 TOCTOU: require(open) passes, close() flips + final-drains,
    // THEN the put lands → a promise nobody completes. The gate lock
    // makes open-check+put atomic vs the flip, so every submitter either
    // gets a completable future or a synchronous IllegalArgumentException.
    // Hammer the window: many submitter threads racing one close().
    val dir = scratchStore()
    val qv = vecsOf(Seq(0L)).head._2
    for (_ <- 1 to 5) {
      val server = new SearchServer(spark, dir, k = 3, nprobe = 2)
      val outcomes =
        new java.util.concurrent.ConcurrentLinkedQueue[
          Either[Throwable, scala.concurrent.Future[Seq[graft.streaming.Serving.Hit]]]]()
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 16).map { _ =>
        val t = new Thread(() => {
          start.await()
          try outcomes.add(Right(server.search(qv)))
          catch { case e: IllegalArgumentException => outcomes.add(Left(e)) }
        })
        t.start(); t
      }
      start.countDown()
      Thread.sleep(1) // let some submits land before, some after the flip
      server.close()
      threads.foreach(_.join(30000))
      import scala.jdk.CollectionConverters._
      assert(outcomes.size == 16)
      outcomes.asScala.foreach {
        case Right(f) =>
          // accepted ⇒ the dispatcher must complete it (success or failure)
          Await.ready(f, Duration(120, "s"))
          assert(f.value.isDefined)
        case Left(e) =>
          assert(e.getMessage.contains("closed"))
      }
    }
    // post-close calls always throw synchronously on both servers
    val closedSearch = new SearchServer(spark, dir, k = 3, nprobe = 2)
    closedSearch.close()
    intercept[IllegalArgumentException](closedSearch.search(qv))
    val closedIngest = new IngestServer(spark, dir, startSeq = 100L)
    closedIngest.close()
    intercept[IllegalArgumentException](
      closedIngest.insert(Seq(5000L -> qv.toSeq)))
  }

  private val await = Duration(120, "s")

  /** A server whose byte bound is 0: every batch takes the job route. */
  private def jobRouteServer(dir: String, k: Int, nprobe: Int): SearchServer =
    new SearchServer(spark, dir, k, nprobe, residentMaxBytes = 0L)

  /** Hits as (id, rank, distance bits): NaN distances compare equal. */
  private def key(hits: Seq[Serving.Hit]): Seq[(Long, Long, Long)] =
    hits.map(h => (h.neighborId, h.rnk, java.lang.Double.doubleToLongBits(h.dist)))

  /** searchPruned's answer for each query vector, in query order. */
  private def prunedByVec(dir: String, qs: Seq[Array[Float]], k: Int,
      nprobe: Int): Seq[Seq[(Long, Long, Long)]] = {
    val df = qs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("query_id", "qv")
    val byQ = IvfIndex.searchPruned(spark, dir, df, k, nprobe).collect()
      .groupBy(_.getLong(0))
    qs.indices.map { i =>
      key(byQ.getOrElse(i.toLong, Array.empty).toSeq
        .map(r => Serving.Hit(r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_.rnk))
    }
  }

  test("path law: resident and job routes equal searchPruned through inserts, " +
      "shadowing, NaN and compaction") {
    val dir = scratchStore()
    // k above every probed candidate count: the whole ranked list,
    // NaN tail included, is compared
    val (k, nprobe) = (100, 2)
    val routes0 = Route.taken("serve.resident")
    val resident = new SearchServer(spark, dir, k, nprobe)
    val job = jobRouteServer(dir, k, nprobe)
    val ingest = new IngestServer(spark, dir, startSeq = 1L)
    def check(stage: String, qs: Seq[Array[Float]]): Unit = {
      val want = prunedByVec(dir, qs, k, nprobe)
      Seq("resident" -> resident, "job" -> job).foreach { case (route, srv) =>
        val got = qs.map(srv.search).map(f => key(Await.result(f, await)))
        assert(got == want, s"$stage: $route route differs from searchPruned")
      }
    }
    try {
      val base = vecsOf(0L until 12L).map(_._2)
      check("fresh store", base)

      val rnd = new scala.util.Random(5)
      val inserted = (3000L until 3010L).map(_ -> Array.fill(64)(rnd.nextGaussian().toFloat))
      inserted.map { case (id, v) => ingest.insert(Seq(id -> v.toSeq)) }
        .foreach(Await.result(_, await))
      check("group-committed inserts", base ++ inserted.map(_._2))

      // re-ingest vec 20 at the centroid farthest from it: searched at
      // its old vector, the probes reach its old cluster only, so the
      // old row must be shadowed by the buffer
      val cents = spark.read.parquet(s"$dir/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      val (vid, old) = vecsOf(Seq(20L)).head
      val oldCluster = spark.read.parquet(s"$dir/assignments")
        .filter($"vec_id" === vid).select($"cluster_id").head().getInt(0)
      val probes = cents.map { case (c, cv) => (VectorKernels.l2sqF(old, cv), c) }
        .sorted.take(nprobe).map(_._2)
      val (far, farV) = cents.maxBy { case (_, cv) => VectorKernels.l2sqF(old, cv) }
      assert(probes.contains(oldCluster) && !probes.contains(far))
      Await.result(ingest.insert(Seq(vid -> farV.toSeq)), await)
      assert(IvfDeltaIngest.deltaLatest(spark, dir).get
        .filter($"vec_id" === vid).select($"cluster_id").head().getInt(0) == far)
      check("delta shadowing", Seq(old))
      assert(!Await.result(resident.search(old), await)
        .exists(h => h.neighborId == vid && h.dist == 0.0))

      val nanRow = old.clone(); nanRow(3) = Float.NaN
      Await.result(ingest.insert(Seq(3100L -> nanRow.toSeq)), await)
      val nanQuery = Array.fill(64)(Float.NaN)
      check("NaN query and NaN-bearing row", Seq(nanQuery, old, nanRow))

      ingest.close()
      IvfDeltaIngest.compact(spark, dir) // removes files: forces a rebuild
      check("after compaction", base ++ Seq(old, nanQuery))

      assert(resident.splitStats.jobBatches == 0L)
      val js = job.splitStats
      assert(js.batches > 0L && js.jobBatches == js.batches)
      // each route's byte check was recorded as a serve.resident decision
      val routes = Route.taken("serve.resident")
      assert(routes(Route.Small) > routes0(Route.Small))
      assert(routes(Route.Large) - routes0(Route.Large) >= js.batches)
    } finally { resident.close(); job.close(); ingest.close() }
  }

  private def randomRows(rnd: scala.util.Random, ids: Seq[Long])
      : Seq[(Long, Seq[Float])] =
    ids.map(_ -> Seq.fill(64)(rnd.nextGaussian().toFloat))

  test("each group commit adds one delta-log file; only compaction writes assignments") {
    val dir = scratchStore()
    val before = dataFiles(dir)
    val rnd = new scala.util.Random(13)
    // fresh ids plus a re-insert of corpus vec 5
    val commits = Seq(Seq(7000L, 7001L, 7002L), Seq(7003L, 5L), Seq(7004L))
      .map(randomRows(rnd, _))
    val ingest = new IngestServer(spark, dir, startSeq = 1L)
    try {
      // awaited one at a time, so each request is its own group commit
      val seqs = commits.map(c => Await.result(ingest.insert(c), await))
      assert(seqs == Seq(1L, 2L, 3L))
    } finally ingest.close()
    val after = dataFiles(dir)
    val added = after.keySet -- before.keySet
    assert(added.size == commits.size, s"added: $added")
    assert(added.forall(_.startsWith("delta_log/")), s"added: $added")
    assert(before.forall { case (p, st) => after.get(p).contains(st) })

    IvfDeltaIngest.compact(spark, dir)
    val acked = commits.flatten.map(_._1)
    val rows = spark.read.parquet(s"$dir/assignments")
      .filter($"vec_id".isin(acked: _*))
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
    assert(rows.map(_._1).sorted == acked.sorted, "each acknowledged row exactly once")
    assert(rows.toMap == commits.flatten.toMap, "each at its acknowledged embedding")
  }

  test("a failed group commit fails its requests and leaves no seq gap") {
    val dir = scratchStore()
    val rnd = new scala.util.Random(11)
    val failed = randomRows(rnd, Seq(6000L))
    val ingest = new IngestServer(spark, dir, startSeq = 1L)
    try {
      // a regular file where the buffer directory goes fails the append
      val blocker = java.nio.file.Paths.get(dir, "delta_log")
      java.nio.file.Files.createFile(blocker)
      intercept[Exception](Await.result(ingest.insert(failed), await))
      java.nio.file.Files.delete(blocker)
      // the next acknowledged commit takes the seq the failed one would have
      assert(Await.result(ingest.insert(randomRows(rnd, Seq(6001L))), await) == 1L)
      assert(Await.result(ingest.insert(randomRows(rnd, Seq(6002L))), await) == 2L)
    } finally ingest.close()
    val buf = IvfDeltaIngest.deltaLatest(spark, dir).get
      .select($"vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(buf == Seq(6001L, 6002L))
    // searched at its own vector, the failed row is never an answer
    val hits = prunedByVec(dir, Seq(failed.head._2.toArray), k = 5, nprobe = 2).head
    assert(hits.nonEmpty && !hits.exists(_._1 == 6000L))
  }

  test("a file the snapshot cannot reproduce sends the batch to the job route") {
    val dir = scratchStore()
    val server = new SearchServer(spark, dir, k = 10, nprobe = 2)
    try {
      // a buffer row whose embedding holds a null element
      val e: Seq[java.lang.Float] =
        Seq.tabulate(64)(i => if (i == 5) null else java.lang.Float.valueOf(0.5f))
      Seq((4000L, e, 9L, 0)).toDF("vec_id", "embedding", "seq", "cluster_id")
        .write.mode("append").parquet(s"$dir/delta_log")
      val qs = vecsOf(0L until 3L).map(_._2)
      val got = qs.map(server.search).map(f => key(Await.result(f, await)))
      assert(got == prunedByVec(dir, qs, 10, 2))
      assert(server.splitStats.jobBatches > 0L)
    } finally server.close()
  }

  test("a listed file removed between batches is dropped by a rebuild") {
    val dir = scratchStore()
    val server = new SearchServer(spark, dir, k = 100, nprobe = 2)
    try {
      val qs = vecsOf(0L until 6L).map(_._2)
      def check(stage: String): Unit = {
        val got = qs.map(server.search).map(f => key(Await.result(f, await)))
        assert(got == prunedByVec(dir, qs, 100, 2), stage)
      }
      check("before the removal")
      // a probed cluster's file vanishes: its rows must leave the answers
      val cents = spark.read.parquet(s"$dir/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      val probed = cents.minBy { case (_, cv) => VectorKernels.l2sqF(qs.head, cv) }._1
      val victim = java.nio.file.Files.list(
          java.nio.file.Paths.get(dir, "assignments", s"cluster_id=$probed"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      java.nio.file.Files.delete(victim)
      check("after the removal")
      assert(server.splitStats.jobBatches == 0L)
    } finally server.close()
  }

  test("an entry that vanishes while listed gives a failed listing, not an exception") {
    val dir = scratchStore()
    val cdir = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "assignments"))
      .filter(_.getFileName.toString.startsWith("cluster_id=")).findFirst().get
    assert(ResidentIvf.list(dir).ok)
    // a dangling link is returned by the directory stream but has no
    // attributes: the same state as a file removed mid-listing
    java.nio.file.Files.createSymbolicLink(cdir.resolve("part-gone.parquet"),
      cdir.resolve("no-such-file"))
    val l = ResidentIvf.list(dir)
    assert(!l.ok && l.assignments.isEmpty)
  }

  test("resident searches start no Spark job") {
    val dir = scratchStore()
    val vecs = vecsOf(0L until 20L)
    val server = new SearchServer(spark, dir, k = 10, nprobe = 4)
    try {
      Shims.drainListeners(spark) // the constructor's centroid read
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val got = vecs.map { case (_, qv) => server.search(qv) }
          .map(Await.result(_, await))
        assert(got.forall(_.size == 10))
        Shims.drainListeners(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.isEmpty, s"jobs started: $jobs")
      assert(server.splitStats.jobBatches == 0L)
    } finally server.close()
  }

  test("search splitStats accounts every request and batch on both routes") {
    val dir = scratchStore()
    val vecs = vecsOf(0L until 10L)
    Seq(false, true).foreach { jobRoute =>
      val server =
        if (jobRoute) jobRouteServer(dir, k = 5, nprobe = 2)
        else new SearchServer(spark, dir, k = 5, nprobe = 2)
      try {
        vecs.map { case (_, qv) => server.search(qv) }.foreach(Await.result(_, await))
        val s = server.splitStats
        assert(s.requests == 10L)                     // every request counted once
        assert(s.batches >= 1L && s.batches <= 10L)   // dispatch coalesces
        assert(s.queueWaitSec >= 0.0 && s.refreshSec > 0.0 && s.answerSec > 0.0)
        assert(s.jobBatches == (if (jobRoute) s.batches else 0L))
      } finally server.close()
    }
  }

  test("resident distances round like Catalyst's round(x, 4)") {
    val xs = Seq(0.0, 0.00005, 0.00015, 1.23445, 2.5e-5, 0.123456789,
      7.99995, 1e-9, 12345.67895, Double.NaN, Double.PositiveInfinity)
    val want = xs.toDF("x").select(round($"x", 4)).collect().map(_.getDouble(0))
    assert(xs.map(ResidentIvf.round4).map(java.lang.Double.doubleToLongBits) ==
      want.toSeq.map(java.lang.Double.doubleToLongBits))
  }
}
