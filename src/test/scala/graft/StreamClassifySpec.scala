package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.queries.TextQueries

/** The trained quality classifier's serving face: inference is ONE
  * scan-side fold against frozen integer weights (perceptronScore), so
  * it must produce identical scores whether the corpus arrives as a
  * static table or as micro-batches — the t_quality_classifier analog
  * of StreamSearchSpec's batch==stream kNN pin. Also pins the
  * fold-vs-grouped-count equivalence: the streaming scorer never
  * groups, the training scorer does, and both must agree doc-for-doc.
  */
case class DocRow(doc_id: Long, text: String, source: String)

class StreamClassifySpec extends SparkSpec {
  import spark.implicits._

  test("streamed corpus scored with frozen weights == batch scoring == training scores") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text", $"source")
    val w = TextQueries.perceptronTrain(docs, rounds = 6)

    val batch = TextQueries.perceptronScore(docs, w).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty)

    // the grouped-count scorer inside training must agree with the
    // scan-side fold the serving path uses
    val trained = TextQueries.perceptronQuality(docs, rounds = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(trained === batch,
      "scan-side fold and grouped-count dot product must agree doc-for-doc")

    val rows = docs.as[DocRow].collect()
    val stream = MemoryStream[DocRow]
    stream.addData(rows.take(rows.length / 2): _*)
    stream.addData(rows.drop(rows.length / 2): _*)
    var served = Map.empty[Long, Long]
    val q = stream.toDS().toDF()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        served = served ++ TextQueries.perceptronScore(b.toDF(), w).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    assert(served === batch,
      "micro-batch inference must equal static-table inference")
  }
}
