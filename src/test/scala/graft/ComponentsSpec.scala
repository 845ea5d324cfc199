package graft

import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents
import graft.queries.DedupQueries

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("chains, stars, and singletons resolve to min-id components") {
    val nodes = (1L to 8L).toDF("id")
    // chain 1-2-3, star 4-(5,6), singleton 7, 8
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (4L, 6L)).toDF("a", "b")
    val comp = ConnectedComponents.minLabel(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 8L))
  }

  test("a 100-node descending chain collapses to one component") {
    // worst case for per-round merging: every round chains merges
    // (L2→L1 while L1→L0) and edge rewrites re-expose merged labels —
    // the exact shape that breaks a compose-once mapping
    val n = 100L
    val nodes = (0L until n).toDF("id")
    val chain = (1L until n).map(i => (i - 1, i)).toDF("a", "b")
    // smallFinish = 0 forces the pure distributed loop — this fixture
    // exists to regression-guard the pointer-jumping rounds themselves
    val comp = ConnectedComponents.minLabel(nodes, "id", chain, "a", "b",
        smallFinish = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet === Set(0L))
  }

  test("a graph needing exactly maxIter merge rounds converges, not throws") {
    val comp = ConnectedComponents.minLabel(
        Seq(1L, 2L).toDF("id"), "id", Seq((1L, 2L)).toDF("a", "b"), "a", "b",
        maxIter = 1, smallFinish = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L))
  }

  test("edges referencing unknown node ids throw instead of silently dropping") {
    val ex = intercept[IllegalArgumentException] {
      ConnectedComponents.minLabel(
        Seq(1L, 2L).toDF("id"), "id", Seq((2L, 3L)).toDF("a", "b"), "a", "b")
    }
    assert(ex.getMessage.contains("absent from the nodes"))
  }

  test("validateNodes=false skips the orphan pass but changes nothing on valid input") {
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    def run(v: Boolean) =
      ConnectedComponents.minLabel(nodes, "id", edges, "a", "b", validateNodes = v)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(run(true) === run(false))
  }

  test("round-1 shortcut (endpoints known) and the full-join round agree, " +
      "with and without the bounded finish") {
    // endpointsKnown=true takes the identity-label round-1 shortcut;
    // validateNodes=false && trustedEndpoints=false keeps the full
    // contraction joins — all four (path × smallFinish) variants must
    // land on one fixpoint. Mixed shapes: dense blob, chain, star,
    // singletons.
    val nodes = (0L until 40L).toDF("id")
    val blob = for (i <- 0L until 8L; j <- i + 1 until 8L) yield (i, j)
    val chain = (10L until 20L).map(i => (i - 1, i))
    val star = (31L to 35L).map(i => (30L, i))
    val edges = (blob ++ chain ++ star).toDF("a", "b")
    def run(trusted: Boolean, sf: Int) =
      ConnectedComponents.minLabel(nodes, "id", edges, "a", "b",
          smallFinish = sf, validateNodes = false, trustedEndpoints = trusted)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val want = run(trusted = false, sf = 0) // full joins, pure loop
    assert(run(trusted = true, sf = 0) === want)       // shortcut, pure loop
    assert(run(trusted = true, sf = 1 << 20) === want) // shortcut + finish
    assert(run(trusted = false, sf = 1 << 20) === want)
  }

  test("unvalidated orphan-endpoint edges are dropped by the join round, " +
      "never merged through") {
    // the round-1 shortcut must NOT fire here (endpoints unknown): edge
    // (5, 3) references absent node 3 with an id LOWER than 5's
    // component min — merging through it would corrupt 5's label to a
    // non-node. The loop's contraction joins drop it instead.
    val nodes = Seq(4L, 5L, 6L).toDF("id")
    val edges = Seq((5L, 3L), (5L, 6L)).toDF("a", "b")
    val comp = ConnectedComponents.minLabel(nodes, "id", edges, "a", "b",
        validateNodes = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("random graph matches a driver-side BFS reference") {
    val n = 200
    val rnd = new scala.util.Random(7)
    // dense enough that big components with internal chains exist
    val edgeList = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val comp = ConnectedComponents.minLabel(
        (0L until n).toDF("id"), "id", edgeList.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: union-find on the driver
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edgeList.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val refComp = (0 until n).map { i =>
      val members = (0 until n).filter(j => find(j) == find(i))
      i.toLong -> members.min.toLong
    }.toMap
    assert(comp === refComp)
  }

  test("small-finish and pure-distributed paths agree on chain + random graphs") {
    val n = 150
    val rnd = new scala.util.Random(11)
    val edgeList = ((1L until 60L).map(i => (i - 1, i)) ++ // 60-node chain
      Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)))
      .filter(e => e._1 != e._2)
    val nodes = (0L until n.toLong).toDF("id")
    def run(sf: Int) = ConnectedComponents.minLabel(
        nodes, "id", edgeList.toDF("a", "b"), "a", "b", smallFinish = sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(0) === run(1 << 20))
  }

  test("a widened contraction loop never changes the caller's shuffle width") {
    // edgesPerTask = 1 widens the loop to |edges| + 1 partitions, a
    // branch no sf0.1 entry takes; the caller's session (here the
    // shared spec session) must read its own width throughout
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val key = "spark.sql.shuffle.partitions"
    val callerSp = spark.conf.get(key)
    val nodes = (0L until 200L).toDF("id")
    val edges = (1L until 200L).filter(_ % 10 != 0).map(i => (i - 1, i))
      .toDF("a", "b")
    def run(perTask: Long) = ConnectedComponents.minLabelBounded(
        nodes, "id", edges, "a", "b", maxIter = 20, smallFinish = 0,
        validateNodes = true, trustedEndpoints = false, edgesPerTask = perTask)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          s.modifiedConfigs.get(key).foreach(planned.add)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val seen = scala.collection.mutable.Set(callerSp)
    val widened = try {
      val f = Future(run(1L))(ExecutionContext.global)
      while (!f.isCompleted) { seen += spark.conf.get(key); Thread.sleep(1) }
      Await.result(f, Duration.Inf)
    } finally {
      org.apache.spark.sql.graft.Shims.drainListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(seen === Set(callerSp))
    assert(planned.contains((edges.count() + 1).toString),
      s"no plan ran at the widened width: $planned")
    assert(widened.values.toSet.size === 20)
    assert(widened === run(ConnectedComponents.edgesPerTask))
  }

  test("d_dedup_cluster: every verified pair is intra-cluster, and chains merge") {
    val clusters = DedupQueries.all("d_dedup_cluster")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = DedupQueries.all("d_jaccard_pairs")(spark, sfDir)
      .select($"doc_a", $"doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"edge ($a,$b) split across clusters")
    }
    // the head of every cluster is its own minimum
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min === cid)
    }
  }
}
