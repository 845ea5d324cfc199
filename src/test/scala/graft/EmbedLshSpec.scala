package graft

import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.LshBuckets

class EmbedLshSpec extends SparkSpec {
  import spark.implicits._

  test("multi-table LSH finds planted near-dups and prunes random pairs") {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // plant near-duplicates: a deterministically perturbed copy of every
    // 10th vector (cos ≈ 0.999 to its original)
    val planted = base.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 100000).as("vec_id"),
        transform($"embedding", x => x * lit(1.01f) + lit(0.002f)).as("embedding"))
    val e = base.select($"vec_id", $"embedding").unionByName(planted).cache()

    val buckets = e.select($"vec_id",
        posexplode(LshBuckets.bucketBands($"embedding", 64)).as(Seq("t", "bk")))
      .select($"vec_id", $"bk")
    val cand = buckets.as("x").join(buckets.as("y"),
        $"x.bk" === $"y.bk" && $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("va_id"), $"y.vec_id".as("vb_id"))
      .distinct()
      .cache()

    // every planted pair (v, v+100000) should collide in some table
    val truth = base.filter($"vec_id" % 10 === 0)
      .select($"vec_id").collect().map(_.getLong(0))
      .map(v => (v, v + 100000L)).toSet
    val candSet = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (candSet & truth).size.toDouble / truth.size
    assert(recall >= 0.95, s"planted near-dup recall $recall < 0.95")

    // and the candidate set must be a small fraction of all pairs
    val n = e.count()
    val frac = candSet.size.toDouble / (n * (n - 1) / 2)
    assert(frac < 0.15, s"LSH did not prune: candidate fraction $frac")
    cand.unpersist(); e.unpersist()
  }

  test("multiprobe strictly dominates single-probe recall (superset law)") {
    // clustered fixture: the workload where bucket collisions carry signal
    val e = PlantedClusters.frame(seed = 123).drop("label").cache()
    val q = e.filter($"vec_id" < 16)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val gt = e.crossJoin(broadcast(q))
      .groupBy($"query_id")
      .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", 10).as("nn"))
      .select($"query_id", transform($"nn", x => x.getField("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def recallOf(res: Map[Long, Set[Long]]): Double =
      gt.map { case (k, ids) =>
        (res.getOrElse(k, Set.empty) & ids).size.toDouble / ids.size
      }.sum / gt.size
    val multi = LshBuckets.multiprobeSearch(e, "vec_id", "embedding", q,
        dim = 64, nPlanes = 8, k = 10)
      .groupBy($"query_id").agg(collect_list($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // single-probe ceiling: the candidates an own-bucket-only probe
    // could ever deliver
    val b = e.select($"vec_id".as("neighbor_id"),
      LshBuckets.bucket($"embedding", 64, 8).as("b"))
    val singleCand = q.select($"query_id",
        LshBuckets.bucket($"qv", 64, 8).as("pb"))
      .join(b, $"pb" === $"b")
      .groupBy($"query_id").agg(collect_set($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val rMulti = recallOf(multi)
    val rSingleCand = gt.map { case (k, ids) =>
      (singleCand.getOrElse(k, Set.empty) & ids).size.toDouble / ids.size
    }.sum / gt.size
    // multiprobe's refined top-10 must recall at least what single-probe
    // CANDIDATES could ever deliver (candidate superset + the k>=10
    // refine keeps every true neighbor present — the matryoshka law)
    assert(rMulti >= rSingleCand - 1e-12, s"$rMulti < $rSingleCand")
    assert(rMulti >= 0.6, s"multiprobe clustered recall $rMulti")
    e.unpersist()
  }
}
