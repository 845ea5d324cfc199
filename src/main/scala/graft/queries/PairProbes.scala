package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.Tables.load

/** Bounded second-decade probes for the five pair-EMITTING entries
  * whose declared output is quadratic in the duplicate-saturated
  * synthetic corpus (~2.7 B rows at sf10 — the contractual reason
  * they are skipped there, recorded in the bench `skipped` list).
  *
  * Each probe runs the IDENTICAL candidate/verify plan the entry runs
  * — same joins, same banding, same verify predicates — and replaces
  * only the terminal emission (checkpoint / sort / full row dump) with
  * a map-side-combinable aggregate: pair count, endpoint id range, and
  * the exact-integer sum of the verified metric in 1e-4 units (floats
  * summed as longs so the probe row is deterministic at any
  * parallelism). The plans therefore get a real timing at the decade
  * their full output contractually cannot be materialized at; a probe
  * row is evidence of plan health, never a substitute for the entry's
  * own oracle gate (which runs at sf0.01/sf0.1 where nothing is
  * skipped).
  */
object PairProbes {

  /** Deterministic join-key sampling modulus — the COMPUTE bound (r12's
    * probes were output-bounded but compute-unbounded: ~10⁹ verifies on
    * the duplicate-saturated sf10 corpus, and the 16 g run died in the
    * probe phase at the round's time budget). Keeping only key groups
    * with hash ≡ 0 (mod this) cuts the quadratic-per-group verify work
    * ~linearly; the surviving groups run the identical plan, and the
    * modulus is REPORTED in the probe row (`sample_mod`) so a recorded
    * second-decade number always names its own cap. It bounds executor
    * compute, not driver heap: nothing here is collected. */
  private final val sampleMod = 16

  /** Deterministic per-bucket occupant cap for the LSH probes — the
    * SECOND compute bound (LshBuckets.bandedPairs scaladoc): bucket
    * sampling keeps whole giant buckets on a duplicate-saturated
    * corpus, so per-bucket mass stays quadratic in occupancy
    * (v_knn_self_pairs: 942 s at sf10 even at 1/16 sampling); capping
    * occupants bounds every bucket at cap² verifies. Reported in the
    * probe row (occ_cap, n_spilled) the way sample_mod already is.
    * Executor compute again: at most 64² verifies per bucket. */
  private final val occCap = 64

  /** metric assumed rounded to 4 dp already: ×1e4 is then exact. */
  private def boundedAgg(pairs: DataFrame, a: String, b: String,
      metric: String): DataFrame =
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      min(col(a)).as("min_a"), max(col(a)).as("max_a"),
      min(col(b)).as("min_b"), max(col(b)).as("max_b"),
      sum((col(metric) * 1e4).cast("long")).as(s"sum_${metric}_e4"))
      .withColumn("sample_mod", lit(sampleMod.toLong))

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_jaccard_pairs" -> ((s: SparkSession, d: String) => {
      val (pairs, _) = DedupQueries.jaccardPairsPlan(s, d, keySampleMod = sampleMod)
      // the signature cache is dropped by the caller's reset (the
      // probe is bench-only); the checkpoint the entry pays is the
      // very cost the probe exists to avoid
      boundedAgg(pairs, "doc_a", "doc_b", "jaccard")
    }),

    "d_edit_distance" -> ((s: SparkSession, d: String) => {
      val (pairs, spill) = DedupQueries.editDistancePlanCapped(
        s, d, keySampleMod = sampleMod, occupantCap = occCap)
      boundedAgg(pairs
          .withColumn("edit_dist", col("edit_dist").cast("double")),
        "doc_a", "doc_b", "edit_dist")
        .crossJoin(broadcast(spill))
    }),

    "d_embed_lsh" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val bits = graft.operators.LshBuckets.chooseBits(
        graft.operators.IndexStore.corpusN(s, d))
      val e = load(s, d, "embeddings")
      val pairs = graft.operators.LshBuckets
        .bandedPairs(e, "vec_id", "embedding", 64, bitsPerTable = bits,
          bucketSampleMod = sampleMod, occupantCap = occCap)
        .withColumn("cos_sim", cosine($"va", $"vb"))
        .filter($"cos_sim" > 0.4)
        .select($"vec_a", $"vec_b", round($"cos_sim", 4).as("cos_sim"))
      boundedAgg(pairs, "vec_a", "vec_b", "cos_sim")
        .crossJoin(broadcast(graft.operators.LshBuckets.cappedSpillCount(
          e, "vec_id", "embedding", 64, bitsPerTable = bits,
          bucketSampleMod = sampleMod, occupantCap = occCap)))
    }),

    "d_embed_neardup" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val bits = graft.operators.LshBuckets.chooseBits(
        graft.operators.IndexStore.corpusN(s, d))
      val e = load(s, d, "embeddings")
      val pairs = graft.operators.LshBuckets
        .bandedPairs(e, "vec_id", "embedding", 64, extraKeys = Seq("label"),
          bitsPerTable = bits, bucketSampleMod = sampleMod, occupantCap = occCap)
        .withColumn("cos_sim", cosine($"va", $"vb"))
        .filter($"cos_sim" > 0.4)
        .select($"vec_a", $"vec_b", round($"cos_sim", 4).as("cos_sim"))
      boundedAgg(pairs, "vec_a", "vec_b", "cos_sim")
        .crossJoin(broadcast(graft.operators.LshBuckets.cappedSpillCount(
          e, "vec_id", "embedding", 64, extraKeys = Seq("label"),
          bitsPerTable = bits, bucketSampleMod = sampleMod, occupantCap = occCap)))
    }),

    "v_knn_self_pairs" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val bits = graft.operators.LshBuckets.chooseBits(
        graft.operators.IndexStore.corpusN(s, d))
      val e = load(s, d, "embeddings")
      val pairs = graft.operators.LshBuckets
        .bandedPairs(e, "vec_id", "embedding", 64, bitsPerTable = bits,
          bucketSampleMod = sampleMod, occupantCap = occCap)
        .withColumn("dist", round(l2($"va", $"vb"), 4))
        .filter($"dist" < 1.1)
        .select($"vec_a", $"vec_b", $"dist")
      boundedAgg(pairs, "vec_a", "vec_b", "dist")
        .crossJoin(broadcast(graft.operators.LshBuckets.cappedSpillCount(
          e, "vec_id", "embedding", 64, bitsPerTable = bits,
          bucketSampleMod = sampleMod, occupantCap = occCap)))
    })
  )
}
