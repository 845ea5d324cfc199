package graft

import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, IvfPq, PqIndex}

/** Composite IVF-PQ: the pruned inverted-list search must equal "PQ
  * ranking restricted to the probed clusters" built naively from the
  * component indexes, and its scan must be both partition-pruned AND
  * codes-only (no raw embedding column read). */
class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private def withStore[T](f: => T): T = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/tmp-ivfpq-store"))
    graft.operators.IndexStore.withRoot("target/tmp-ivfpq-store")(f)
  }

  test("ivfpq search == component PQ ranking restricted to probed clusters") {
    withStore {
      val ivfDir = IndexStore.ivf(spark, sfDir, k = 8)
      val pqDir = IndexStore.pq(spark, sfDir)
      val listsDir = IndexStore.ivfpq(spark, sfDir, k = 8)
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val q = e.filter($"vec_id" < 4)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val got = IvfPq.searchPruned(spark, ivfDir, pqDir, listsDir, q,
        k = 5, nprobe = 3)
        .orderBy("query_id", "rnk").collect()

      // reference: full-corpus ADC ranking, filtered to each query's
      // probed clusters, re-ranked
      val books = spark.read.parquet(s"$pqDir/codebooks")
      val codes = spark.read.parquet(s"$pqDir/codes")
      val assign = spark.read.parquet(s"$ivfDir/assignments")
        .select($"vec_id", $"cluster_id")
      val cent = spark.read.parquet(s"$ivfDir/centroids")
      import graft.GraftVector._
      val probes = q.crossJoin(broadcast(cent))
        .withColumn("cdist", l2Sq($"qv", $"centroid"))
        .withColumn("crnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"query_id").orderBy($"cdist", $"cluster_id")))
        .filter($"crnk" <= 3)
        .select($"query_id", $"cluster_id")
      val corpusN = e.count().toInt
      val fullAdc = PqIndex.search(books, codes, q, "vec_id",
          dim = 64, numSub = 8, k = corpusN) // effectively unbounded rank
        .join(assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(probes, Seq("query_id", "cluster_id")) // keep probed only
        // re-rank by the ORIGINAL (unrounded-score) rank, not by the
        // rounded adist output — two adists that collide at 4 dp would
        // otherwise re-order by neighbor_id and flake the comparison
        .withColumn("rnk2", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"query_id").orderBy($"rnk")))
        .filter($"rnk2" <= 5)
        .select($"query_id", $"neighbor_id", $"rnk2".cast("long").as("rnk"), $"adist")
        .orderBy("query_id", "rnk").collect()

      assert(got.length === fullAdc.length)
      got.zip(fullAdc).foreach { case (g, r) =>
        assert(g.getLong(0) === r.getLong(0))
        assert(g.getLong(1) === r.getLong(1), s"got $g want $r")
        assert(g.getLong(2) === r.getLong(2))
        assert(math.abs(g.getDouble(3) - r.getDouble(3)) < 1e-9)
      }
    }
  }

  test("ivfpq scan is partition-pruned and reads codes, not raw vectors") {
    withStore {
      val df = graft.queries.IndexQueries.all("v_ivfpq_search")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
          l.contains("PartitionFilters") && l.contains("cluster_id")),
        s"cluster_id not in partition filters:\n$plan")
      // the lists scan must project only codes — never the 256-byte
      // embedding column (that is the whole point of the layout). The
      // scan is identified by its projected codes# column (Location
      // paths are truncated in plan strings).
      val listsScanLines = plan.linesIterator
        .filter(l => l.contains("FileScan") && l.contains("codes#")).toSeq
      assert(listsScanLines.nonEmpty, s"no codes scan found:\n$plan")
      assert(listsScanLines.forall(!_.contains("embedding#")),
        s"lists scan reads raw embeddings:\n$listsScanLines")
      assert(listsScanLines.forall(_.contains("PartitionFilters: [cluster_id")),
        s"lists scan not partition-pruned:\n$listsScanLines")
      val rows = df.collect()
      assert(rows.length === 8 * 10)
    }
  }
}
