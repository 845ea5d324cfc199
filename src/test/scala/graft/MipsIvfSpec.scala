package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.operators.{IndexStore, IvfIndex}

/** The MIPS reduction (v_mips_ivf): augment with √(m²−‖x‖²), then L2
  * on the augmented space ranks by descending inner product — proven
  * here as a theorem (full-probe == exact MIPS), plus a pruned recall
  * floor on clustered data and the augment-validity law. */
class MipsIvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String =
    PlantedClusters.sfDir("graft-mips-spec", seed = 321)

  private lazy val emb: DataFrame =
    spark.read.parquet(s"$fixtureDir/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()

  /** Exact MIPS top-k per query, independently of any index. */
  private def exactMips(k: Int): Map[Long, Seq[Long]] = {
    val q = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    emb.crossJoin(broadcast(q))
      .groupBy($"query_id")
      .agg(topK(-dot($"embedding", $"qv"), $"vec_id", k).as("nn"))
      .select($"query_id", transform($"nn", x => x.getField("id")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
  }

  private def augSearch(k: Int, nprobe: Int): Map[Long, Seq[Long]] = {
    val dir = IndexStore.mips(spark, fixtureDir)
    val q = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("query_id"),
        concat($"embedding", array(lit(0.0f))).as("qv"))
    IvfIndex.searchPruned(spark, dir, q, k, nprobe)
      .orderBy("query_id", "rnk")
      .groupBy($"query_id")
      .agg(collect_list($"neighbor_id").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
  }

  test("augment is valid: m2 is the exact max and every radicand is >= 0") {
    val dir = IndexStore.mips(spark, fixtureDir)
    val m2 = spark.read.parquet(s"$dir/meta").collect()(0).getDouble(0)
    val norms = emb.select(dot($"embedding", $"embedding").as("n2"))
      .collect().map(_.getDouble(0))
    assert(math.abs(norms.max - m2) == 0.0, s"m2 $m2 != max ${norms.max}")
    assert(norms.forall(_ <= m2))
  }

  test("reduction theorem: full-probe augmented L2 == exact MIPS top-k, rank for rank") {
    // d²(aug q, aug x) = ‖q‖² + m² − 2⟨q,x⟩, so augmented-L2 ascending
    // == inner-product descending; full probes remove the pruning, so
    // the index must reproduce the exact answer ORDER INCLUDED (ties
    // both broken by id). Float rounding of the augment could in
    // principle flip a near-tie; the fixture is generic (random
    // Gaussians), where exact ties have measure zero.
    assert(augSearch(10, nprobe = 16) == exactMips(10))
  }

  test("pruned search recall@10 >= 0.9 vs exact MIPS on clustered data") {
    val gt = exactMips(10)
    val res = augSearch(10, nprobe = 4)
    val recall = gt.map { case (q, ids) =>
      (res.getOrElse(q, Seq.empty).toSet & ids.toSet).size.toDouble / ids.size
    }.sum / gt.size
    assert(recall >= 0.9, s"pruned MIPS recall $recall < 0.9")
  }
}
