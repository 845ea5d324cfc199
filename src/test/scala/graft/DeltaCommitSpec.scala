package graft

import java.nio.file.{Files, Path, Paths}

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{IntegerType, StringType, StructField}

import graft.operators.IvfIndex
import graft.streaming.{IngestServer, IvfDeltaIngest, ResidentIvf, SearchServer}
import graft.streaming.IvfDeltaIngest.CommitStep

/** The driver-written group commit: `IngestServer` writes its delta-log
  * file on the driver (temp file, fsync, atomic rename). Such a file
  * must be indistinguishable from a Spark-written one to every reader,
  * a `delta_log` holding both must answer as one written by either, a
  * commit must start no Spark job, and a commit that fails anywhere
  * must leave no visible file and take no seq. */
class DeltaCommitSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-delta-commit-spec", seed = 357)

  private val await = Duration(120, "s")

  private def vecsOf(ids: Seq[Long]): Seq[(Long, Array[Float])] =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .filter($"vec_id".isin(ids: _*)).orderBy("vec_id")
      .select($"vec_id", $"embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq

  private def bits(v: Seq[Float]): Seq[Int] =
    v.map(java.lang.Float.floatToRawIntBits)

  /** Visible data files of `dir/delta_log`. */
  private def deltaFiles(dir: String): Seq[Path] =
    Using.resource(Files.list(Paths.get(dir, "delta_log")))(_.iterator.asScala
      .filterNot(p => p.getFileName.toString.startsWith(".") ||
        p.getFileName.toString.startsWith("_"))
      .toSeq.sorted)

  private def footer(p: Path) =
    Using.resource(ParquetFileReader.open(new LocalInputFile(p)))(
      _.getFooter.getFileMetaData)

  /** Rows with NaN components and -0.0f, as the serving commit writes
    * them: (vec_id, embedding, seq, cluster_id, label). */
  private def oddRows(n: Int): Seq[IvfDeltaIngest.Resolved] = {
    val rnd = new scala.util.Random(17)
    (0 until n).map { i =>
      val e = Array.fill(64)(rnd.nextGaussian().toFloat)
      if (i % 3 == 0) e(i % 64) = Float.NaN
      if (i % 5 == 0) e((i + 7) % 64) = -0.0f
      (10000L + i, e, 1L + i % 3, i % 16,
        Seq(if (i % 4 == 0) null else Integer.valueOf(i % 7)))
    }
  }

  /** All buffer rows as (vec_id, embedding bits, seq, cluster_id, label). */
  private def bufferRows(df: DataFrame): Seq[(Long, Seq[Int], Long, Int, Option[Int])] =
    df.select($"vec_id", $"embedding", $"seq", $"cluster_id", $"label").collect()
      .map(r => (r.getLong(0), bits(r.getSeq[Float](1)), r.getLong(2), r.getInt(3),
        Option(r.get(4)).map(_.asInstanceOf[Int])))
      .toSeq.sortBy(r => (r._1, r._3))

  test("a driver-written file reads back as the Spark-written file of the same rows") {
    val rows = oddRows(IngestServer.MaxBatch * 8)
    val spark1 = Files.createTempDirectory("graft-delta-spark").toString
    val driver = Files.createTempDirectory("graft-delta-driver").toString
    // the Spark write the serving commit used to run
    IvfDeltaIngest.commit(spark1, rows
      .map { case (id, e, s, c, m) =>
        (id, e.toSeq, s, c, Option(m.head).map(_.asInstanceOf[Int])) }
      .toDF("vec_id", "embedding", "seq", "cluster_id", "label").coalesce(1))
    val layout = IvfDeltaIngest.deltaLayout(spark,
      Seq(StructField("label", IntegerType)))
    IvfDeltaIngest.commitLocal(driver, layout, rows, _ => ())

    val Seq(sf) = deltaFiles(spark1)
    val Seq(df) = deltaFiles(driver)
    assert(df.getFileName.toString.matches("part-.*\\.snappy\\.parquet"))
    // the same parquet schema and the same Catalyst schema in the footer
    val (sm, dm) = (footer(sf), footer(df))
    assert(dm.getSchema == sm.getSchema)
    Seq("org.apache.spark.sql.parquet.row.metadata", "org.apache.spark.version")
      .foreach(k => assert(dm.getKeyValueMetaData.get(k) ==
        sm.getKeyValueMetaData.get(k), k))
    def read(dir: String) =
      spark.read.option("mergeSchema", "true").parquet(s"$dir/delta_log")
    assert(read(driver).schema == read(spark1).schema)
    assert(bufferRows(read(driver)) == bufferRows(read(spark1)))
    assert(bufferRows(read(driver)).size == rows.size)
    // the resident reader folds both to the same buffer
    def resident(dir: String) = {
      val snap = ResidentIvf.refresh(ResidentIvf.empty, ResidentIvf.list(dir))
      snap.delta.map { case (id, l) => id -> (l.seq, bits(l.emb.toSeq)) }
    }
    assert(resident(driver) == resident(spark1))
    assert(resident(driver).size == rows.size)
  }

  test("the driver layout is Spark's for every metadata type it writes") {
    val meta = Seq(StructField("label", IntegerType), StructField("tag", StringType))
    val layout = IvfDeltaIngest.deltaLayout(spark, meta)
    val want = Seq((1L, Seq(0.5f), 2L, 3, Option(4), Option("a")))
      .toDF("vec_id", "embedding", "seq", "cluster_id", "label", "tag").schema
    assert(layout.schema == want)
    assert(layout.parquet == Shims.parquetLayout(spark, want)._1)
    assert(intercept[IllegalArgumentException](
      layout.metaValues(Map("label" -> "x"))).getMessage.contains("label"))
    assert(intercept[IllegalArgumentException](
      layout.metaValues(Map("nope" -> 1))).getMessage.contains("nope"))
    assert(layout.metaValues(Map("tag" -> "b")) == Seq(null, "b"))
  }

  /** Answers of `srv` for `qs`, as (id, rank, distance bits). */
  private def answers(srv: SearchServer, qs: Seq[Array[Float]]) =
    qs.map(srv.search).map(f => Await.result(f, await)
      .map(h => (h.neighborId, h.rnk, java.lang.Double.doubleToLongBits(h.dist))))

  private def pruned(dir: String, qs: Seq[Array[Float]], k: Int, nprobe: Int) = {
    val byQ = IvfIndex.searchPruned(spark, dir,
        qs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("query_id", "qv"),
        k, nprobe)
      .collect().groupBy(_.getLong(0))
    qs.indices.map(i => byQ.getOrElse(i.toLong, Array.empty).toSeq
      .sortBy(_.getLong(2))
      .map(r => (r.getLong(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))))
  }

  test("a delta_log written by both writers answers as one written by Spark alone") {
    val mixed = PlantedClusters.scratchIvf(fixtureDir)
    val sparkOnly = PlantedClusters.scratchIvf(fixtureDir)
    val rnd = new scala.util.Random(23)
    def fresh(ids: Seq[Long]) = ids.map(_ -> Array.fill(64)(rnd.nextGaussian().toFloat))
    // batch 2 re-ingests batch 1's ids and corpus vec 3, with labels;
    // batch 3 re-ingests batch 2's ids without
    val b1 = fresh(5000L until 5006L).map { case (id, v) => (id, v, Option.empty[Int]) }
    val b2 = (fresh(5003L until 5009L) ++ fresh(Seq(3L)))
      .map { case (id, v) => (id, v, Option((id % 3).toInt)) }
    val b3 = fresh(Seq(5000L, 5007L, 3L)).map { case (id, v) => (id, v, Option.empty[Int]) }
    def frame(b: Seq[(Long, Array[Float], Option[Int])]) =
      b.map { case (id, v, l) => (id, v.toSeq, l) }.toDF("vec_id", "embedding", "label")
    IvfDeltaIngest.appendBatch(spark, mixed, frame(b1), seq = 1L)
    val ingest = new IngestServer(spark, mixed, startSeq = 2L)
    try assert(Await.result(ingest.insertRecords(b2.map { case (id, v, l) =>
      IngestServer.Record(id, v.toSeq, l.map("label" -> _).toMap) }), await) == 2L)
    finally ingest.close()
    IvfDeltaIngest.appendBatch(spark, mixed, frame(b3), seq = 3L)
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      IvfDeltaIngest.appendBatch(spark, sparkOnly, frame(b), seq = i + 1L) }

    def latest(dir: String) = bufferRows(IvfDeltaIngest.deltaLatestMeta(spark, dir).get)
    assert(latest(mixed) == latest(sparkOnly))
    assert(latest(mixed).exists(_._5.isDefined))
    def latestRaw(dir: String) = IvfDeltaIngest.deltaLatest(spark, dir).get
      .collect().map(r => (r.getLong(0), bits(r.getSeq[Float](1)), r.getLong(2),
        r.getInt(3))).toSeq.sortBy(r => (r._1, r._3))
    assert(latestRaw(mixed) == latestRaw(sparkOnly))
    val (k, nprobe) = (100, 2)
    val qs = vecsOf(0L until 6L).map(_._2) ++ b2.map(_._2) ++ b3.map(_._2)
    val want = pruned(sparkOnly, qs, k, nprobe)
    val resident = new SearchServer(spark, mixed, k, nprobe)
    val job = new SearchServer(spark, mixed, k, nprobe, residentMaxBytes = 0L)
    try {
      assert(answers(resident, qs) == want)
      assert(answers(job, qs) == want)
      assert(resident.splitStats.jobBatches == 0L)
    } finally { resident.close(); job.close() }

    Seq(mixed, sparkOnly).foreach(IvfDeltaIngest.compact(spark, _))
    def table(dir: String) = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/assignments")
    assert(table(mixed).schema == table(sparkOnly).schema)
    assert(bufferRows(table(mixed)) == bufferRows(table(sparkOnly)))
  }

  test("after warm-up, group commits start no Spark job") {
    val dir = PlantedClusters.scratchIvf(fixtureDir)
    val ingest = new IngestServer(spark, dir, startSeq = 1L)
    val rnd = new scala.util.Random(31)
    def row(id: Long) = Seq(id -> Seq.fill(64)(rnd.nextGaussian().toFloat))
    try {
      Await.result(ingest.insert(row(8000L)), await) // reads centroids, schema
      Shims.drainListeners(spark)
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val seqs = (8001L to 8010L).map(id => Await.result(ingest.insert(row(id)), await))
        assert(seqs == (2L to 11L))
        Shims.drainListeners(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.isEmpty, s"jobs started: $jobs")
    } finally ingest.close()
    assert(deltaFiles(dir).size == 11)
  }

  test("a commit failing inside the write or before the rename leaves " +
      "no visible file and no seq gap") {
    val dir = PlantedClusters.scratchIvf(fixtureDir)
    @volatile var failAt: Option[CommitStep] = None
    val step: CommitStep => Unit = s => if (failAt.contains(s)) {
      failAt = None
      throw new java.io.IOException(s"injected at $s")
    }
    val rnd = new scala.util.Random(41)
    def rows(ids: Long*) = ids.map(_ -> Seq.fill(64)(rnd.nextGaussian().toFloat))
    val (acked, lost) = (Seq.newBuilder[(Long, Seq[Float])], Seq.newBuilder[(Long, Seq[Float])])
    val (k, nprobe) = (10, 2)
    def checkSearch(stage: String): Unit = {
      val ok = acked.result(); val gone = lost.result()
      val qs = (ok ++ gone).map(_._2.toArray) ++ vecsOf(Seq(0L, 1L)).map(_._2)
      val want = pruned(dir, qs, k, nprobe)
      val resident = new SearchServer(spark, dir, k, nprobe)
      val job = new SearchServer(spark, dir, k, nprobe, residentMaxBytes = 0L)
      try {
        assert(answers(resident, qs) == want, stage)
        assert(answers(job, qs) == want, stage)
      } finally { resident.close(); job.close() }
      ok.zip(want).foreach { case ((id, _), hits) =>
        assert(hits.head._1 == id && hits.head._3 == 0L, s"$stage: $id acknowledged") }
      val ids = want.flatten.map(_._1).toSet
      gone.foreach { case (id, _) => assert(!ids(id), s"$stage: $id not acknowledged") }
      val names = Using.resource(Files.list(Paths.get(dir, "delta_log")))(
        _.iterator.asScala.map(_.getFileName.toString).toSeq)
      assert(names.forall(_.startsWith("part-")), s"$stage: left behind $names")
    }

    val ingest = new IngestServer(spark, dir, startSeq = 1L, step)
    try {
      // the very first commit fails inside the parquet write
      val b = rows(9000L, 9001L)
      failAt = Some(CommitStep.Writing)
      intercept[java.io.IOException](Await.result(ingest.insert(b), await))
      lost ++= b
      assert(deltaFiles(dir).isEmpty)
      val c = rows(9002L)
      assert(Await.result(ingest.insert(c), await) == 1L); acked ++= c
      // a commit fails after the fsync, before the rename
      val d = rows(9003L, 9004L)
      failAt = Some(CommitStep.Synced)
      intercept[java.io.IOException](Await.result(ingest.insert(d), await))
      lost ++= d
      val e = rows(9005L)
      assert(Await.result(ingest.insert(e), await) == 2L); acked ++= e
    } finally ingest.close()
    checkSearch("after the failed commits")

    // a new writer on the same directory continues the dense seqs
    val reopened = new IngestServer(spark, dir, startSeq = 3L)
    try {
      val f = rows(9006L)
      assert(Await.result(reopened.insert(f), await) == 3L); acked ++= f
    } finally reopened.close()
    checkSearch("after reopening")
    assert(IvfDeltaIngest.deltaLatest(spark, dir).get.select($"seq").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(deltaFiles(dir).size == 3)
  }

  test("a record whose metadata does not fit the store fails alone") {
    val dir = PlantedClusters.scratchIvf(fixtureDir)
    val v = vecsOf(Seq(0L)).head._2.toSeq
    val ingest = new IngestServer(spark, dir, startSeq = 1L)
    try {
      Await.result(ingest.insert(Seq(8500L -> v)), await)
      val bad = ingest.insertRecords(Seq(IngestServer.Record(8501L, v, Map("nope" -> 1))))
      val good = ingest.insertRecords(Seq(IngestServer.Record(8502L, v, Map("label" -> 2))))
      intercept[IllegalArgumentException](Await.result(bad, await))
      assert(Await.result(good, await) == 2L)
    } finally ingest.close()
    val rows = IvfDeltaIngest.deltaLatestMeta(spark, dir).get
      .select($"vec_id", $"label").collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(rows == Map(8500L -> null, 8502L -> 2))
  }
}
