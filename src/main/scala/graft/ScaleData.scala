package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling-probe data builder: derive an N× corpus from a driver-written
  * sf directory by unioning key-shifted replicas — NOT new synthetic
  * data, a size amplification of the driver's own tables used only for
  * the SURVEY §5 scaling artifact (correctness stays gated at sf0.01,
  * where the DuckDB oracle runs).
  *
  * Referential integrity is preserved: every surrogate key family
  * shifts by `replica × (max(key)+1)` on BOTH sides of its FK (orders ↔
  * lineitem on orderkey, customer ← orders on custkey, part/supplier ←
  * lineitem), while the FIXED dimensions (region, nation — TPC-H keeps
  * them constant across scale factors) are copied once and their
  * nationkey/regionkey references are left untouched. Replica 0 is the
  * identity copy, so fixed query sets (the vec_id < 8 probe windows)
  * select the same rows at every factor.
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <dstDir> <factor>
  */
object ScaleData {

  /** (table → key columns to shift); key families sharing a stride are
    * listed under the same stride source below. */
  private val ShiftCols: Map[String, Seq[String]] = Map(
    "embeddings" -> Seq("vec_id"),
    "documents" -> Seq("doc_id"),
    "events" -> Seq("event_id", "user_id"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"))

  /** column → the (table, column) its stride derives from, so FK pairs
    * shift in lockstep. */
  private val StrideSource: Map[String, (String, String)] = Map(
    "vec_id" -> ("embeddings", "vec_id"),
    "doc_id" -> ("documents", "doc_id"),
    "event_id" -> ("events", "event_id"),
    "user_id" -> ("events", "user_id"),
    "l_orderkey" -> ("orders", "o_orderkey"),
    "o_orderkey" -> ("orders", "o_orderkey"),
    "l_partkey" -> ("part", "p_partkey"),
    "p_partkey" -> ("part", "p_partkey"),
    "l_suppkey" -> ("supplier", "s_suppkey"),
    "s_suppkey" -> ("supplier", "s_suppkey"),
    "o_custkey" -> ("customer", "c_custkey"),
    "c_custkey" -> ("customer", "c_custkey"))

  private val CopyOnly = Seq("region", "nation")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args(0), args(1), args(2).toInt)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    require(factor >= 1)

    val strides: Map[(String, String), Long] = StrideSource.values.toSet.map {
      (tc: (String, String)) =>
        val (t, c) = tc
        tc -> (spark.read.parquet(s"$src/$t.parquet")
          .agg(max(col(c).cast("long"))).head.getLong(0) + 1L)
    }.toMap

    CopyOnly.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    ShiftCols.foreach { case (t, keys) =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val reps = (0 until factor).map { r =>
        val shifted = keys.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(r * strides(StrideSource(k))))
        }
        // Replica CONTENT must be distinct, not byte-identical: exact
        // copies make every similarity operator's match cardinality grow
        // quadratically in the factor (10 identical texts → 100 matched
        // pairs where real 10× data yields ~10×) — the probe would then
        // measure duplicate blowup, not scaling. Replica r > 0 therefore
        // gets (a) every document token suffixed with "~r" (word SETS
        // become disjoint across replicas — Jaccard/minhash/shingle
        // structure is preserved exactly WITHIN a replica, the corpus
        // behaves as N similar independent shards) and (b) embeddings
        // rotated by r positions (norm and coordinate distribution
        // preserved, cross-replica similarity randomized).
        val diversified =
          if (r == 0) shifted
          else if (t == "documents")
            shifted
              .withColumn("text",
                regexp_replace(col("text"), "(\\S+)", "$1~" + r))
              .withColumn("n_chars", length(col("text")).cast("long"))
          else if (t == "embeddings") {
            // rotation cycles every 63 replicas (r%63+1 ∈ [1,63]); each
            // completed cycle ("era") also offsets the first coordinate
            // so replicas 63 apart never collapse back to exact copies
            val rot = r % 63 + 1
            val rolled = concat(slice(col("embedding"), rot + 1, 64 - rot),
              slice(col("embedding"), 1, rot))
            val era = r / 63
            val emb =
              if (era == 0) rolled
              else concat(
                array(element_at(rolled, 1) + lit(era * 8.0f)),
                slice(rolled, 2, 63))
            shifted.withColumn("embedding", emb)
          } else shifted
        diversified
      }
      reps.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"scaled $t x$factor")
    }
  }
}
