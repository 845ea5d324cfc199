package graft

import org.apache.spark.sql.DataFrame

/** The planted-cluster vectors the index specs share: `n` 64-d points
  * around 8 Gaussian centres (σ 3), point i at centre i % 8 plus σ 0.3
  * noise, with label i % 4. The seed fixes every value, so a spec's
  * thresholds hold for its own seed. */
object PlantedClusters {

  /** (vec_id, embedding array<float>, label). */
  def frame(seed: Int, n: Int = 400): DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(8)(Array.fill(64)(rnd.nextGaussian().toFloat * 3f))
    (0 until n).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => v + rnd.nextGaussian().toFloat * 0.3f).toSeq,
        i % 4)
    }.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label")
  }

  /** [[frame]] as `embeddings.parquet` in a new temp dir named after
    * `prefix`: the sf-dir layout IndexStore builds its stores from. */
  def sfDir(prefix: String, seed: Int, n: Int = 400): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    frame(seed, n).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** A scratch copy of the `IndexStore.ivf` store (k = 16) of the sf
    * dir `fixture`, which specs that write into a store can dirty. */
  def scratchIvf(fixture: String): String =
    graft.operators.IndexStore.scratchIvf(TestSpark.spark, fixture)
}
