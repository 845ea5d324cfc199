package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.{IndexStore, IvfIndex, IvfPq}

/** Residual-encoded IVF-PQ (v_ivfpq_residual): same probe/prune/ADC
  * machinery as the raw composite, codes over r = x − centroid(x).
  * The point of residual encoding is fidelity per byte — proven here
  * as a DIRECT comparison against the raw-PQ composite on the same
  * fixture, same budget (8×16 codebooks, nprobe=4). */
class ResidualPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-rpq-spec", seed = 321)

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  private lazy val queries = emb.filter($"vec_id" < 16)
    .select($"vec_id".as("query_id"), $"embedding".as("qv"))

  private def gt(k: Int): Map[Long, Set[Long]] =
    emb.crossJoin(broadcast(queries))
      .groupBy($"query_id")
      .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", k).as("nn"))
      .select($"query_id", transform($"nn", x => x.getField("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap

  /** (recall@10, mean |adist − exact d²| over returned rows). */
  private def searchStats(residual: Boolean): (Double, Double) = {
    val ivfDir = IndexStore.ivf(spark, fixtureDir)
    val res =
      if (residual)
        IvfPq.searchPrunedResidual(spark, ivfDir,
          IndexStore.ivfpqResidual(spark, fixtureDir), queries, 10, 4)
      else {
        val pqDir = IndexStore.pq(spark, fixtureDir)
        IvfPq.searchPruned(spark, ivfDir, pqDir,
          IndexStore.ivfpq(spark, fixtureDir), queries, 10, 4)
      }
    val rows = res
      .join(emb.select($"vec_id".as("neighbor_id"), $"embedding".as("nv")),
        "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select($"query_id", $"neighbor_id", $"adist",
        l2Sq($"nv", $"qv").as("d2"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val truth = gt(10)
    val recall = truth.map { case (q, ids) =>
      (rows.filter(_._1 == q).map(_._2).toSet & ids).size.toDouble / ids.size
    }.sum / truth.size
    val err = rows.map(r => math.abs(r._3 - r._4)).sum / rows.length
    (recall, err)
  }

  test("residual codes estimate distances better than raw codes at the same byte budget") {
    // measured on this seeded fixture: residual adc_err 3.09 vs raw
    // 5.19 (1.7×), recall 0.54 vs 0.47 — the tight-cluster geometry
    // (8 planted modes, 2 IVF cells each) caps the win at ~2× because
    // the raw codebooks already split their entries across only 8
    // modes; on spread-out corpora the gap widens. Pinned as strict
    // improvement with margin, not a universal constant.
    val (rRecall, rErr) = searchStats(residual = true)
    val (bRecall, bErr) = searchStats(residual = false)
    info(f"residual: recall=$rRecall%.3f adc_err=$rErr%.3f | raw: recall=$bRecall%.3f adc_err=$bErr%.3f")
    assert(rErr < bErr * 0.75,
      s"residual ADC error $rErr not < 0.75 × raw $bErr")
    assert(rRecall >= bRecall - 0.05,
      s"residual recall $rRecall fell below raw $bRecall")
  }

  test("ranks are dense and bounded per query; determinism across runs") {
    val ivfDir = IndexStore.ivf(spark, fixtureDir)
    val rDir = IndexStore.ivfpqResidual(spark, fixtureDir)
    def run() = IvfPq.searchPrunedResidual(spark, ivfDir, rDir, queries, 10, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._3)).toSeq
    val a = run()
    a.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3) == (1L to rows.length.toLong), s"ranks not dense for $q")
    }
    assert(a == run())
  }
}
