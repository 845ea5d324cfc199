package graft

import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, IvfIndex}

/** The §3 claim made concrete: IVF assignments written
  * `partitionBy(cluster_id)` give nprobe searches physical partition
  * pruning — a probe reads nprobe/k of the files, the vector analog of
  * predicate pushdown. */
class IvfPartitionPruningSpec extends SparkSpec {
  import spark.implicits._

  test("nprobe read prunes cluster partitions at the file level") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (_, assign) = IvfIndex.build(e, "vec_id", "embedding", k = 8)
    val out = "target/tmp-ivf/assignments"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/tmp-ivf"))
    assign.write.partitionBy("cluster_id").mode("overwrite").parquet(out)

    val probed = spark.read.parquet(out).filter($"cluster_id".isin(1, 3))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filters:\n$plan")

    // physical proof: only the probed partitions' files are scanned
    val scanned = probed.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(scanned.nonEmpty)
    assert(scanned.forall(f => f.contains("cluster_id=1") || f.contains("cluster_id=3")),
      s"read files outside probed clusters: $scanned")

    // row-level sanity: the pruned read returns exactly those clusters
    val clusters = probed.select("cluster_id").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(clusters.subsetOf(Set(1, 3)))
  }

  test("filtered search: label predicate pushes into the pruned scan; pre-filter fills to k") {
    IndexStore.withRoot("target/tmp-ivf-store") {
      val df = graft.queries.IndexQueries.all("v_ivf_filtered")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      // both prunings visible on the same scan: cluster partitions at the
      // file level, label at the parquet row-group level
      assert(plan.linesIterator.exists(l =>
          l.contains("PartitionFilters") && l.contains("cluster_id")),
        s"cluster_id not in partition filters:\n$plan")
      assert(plan.linesIterator.exists(l =>
          l.contains("PushedFilters") && l.contains("In(label, [1,2,3])")),
        s"label filter not pushed to the scan:\n$plan")
      val rows = df.collect()
      // pre-filter contract: every query fills to k (matches are ~3/5 of
      // the corpus), and every result carries an allowed label
      assert(rows.length === 8 * 10)
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id", $"label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(rows.forall(r => Set(1, 2, 3)(e(r.getLong(1)))),
        "a result escaped the label predicate")
    }
  }

  test("the new index family inherits the pruning: mips and residual lists scans are partition-filtered") {
    IndexStore.withRoot("target/tmp-ivf-store") {
      for (name <- Seq("v_mips_ivf", "v_ivfpq_residual")) {
        val df = graft.queries.IndexQueries.all(name)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.linesIterator.exists(l =>
            l.contains("PartitionFilters") && l.contains("cluster_id")),
          s"$name: cluster_id not in partition filters:\n$plan")
        assert(df.collect().map(_.getLong(0)).distinct.length === 8)
      }
    }
  }

  test("v_ivf_search operator itself runs partition-pruned against the persisted index") {
    // hermetic store location for the test
    IndexStore.withRoot("target/tmp-ivf-store") {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/tmp-ivf-store"))
      val df = graft.queries.IndexQueries.all("v_ivf_search")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      // the probed cluster ids must appear as literal partition filters on
      // the assignments scan — file-level pruning, not a post-scan join
      assert(plan.contains("PartitionFilters"), s"no partition filters:\n$plan")
      assert(plan.linesIterator.exists(l =>
          l.contains("PartitionFilters") && l.contains("cluster_id")),
        s"cluster_id not in partition filters:\n$plan")
      // k results per query, properly ranked
      val rows = df.collect()
      assert(rows.length === 8 * 10)
      assert(rows.map(_.getLong(0)).distinct.length === 8)
    }
  }
}
