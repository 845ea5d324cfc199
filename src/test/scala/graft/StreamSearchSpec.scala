package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftVector._

/** Online serving, Spark-style: the reference answers Search RPCs one at
  * a time (src/server.cpp); the micro-batch equivalent is a stream of
  * query vectors answered per-trigger against the static collection with
  * the same kNN operator the batch path uses.
  */
case class QReq(query_id: Long, qv: Seq[Float])

class StreamSearchSpec extends SparkSpec {
  import spark.implicits._

  test("streamed queries get the same top-k as batch kNN") {
    implicit val sqlCtx = spark.sqlContext
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

    def knn(queries: org.apache.spark.sql.DataFrame) =
      base.crossJoin(broadcast(queries))
        .groupBy($"query_id")
        .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", 10).as("nn"))
        .select($"query_id", transform($"nn", x => x.getField("id")).as("ids"))

    val reqs = base.filter($"vec_id" < 6)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .as[QReq].collect()

    val stream = MemoryStream[QReq]
    stream.addData(reqs.take(3): _*)
    stream.addData(reqs.drop(3): _*)
    var served = Map.empty[Long, Seq[Long]]
    val q = stream.toDS().toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        served = served ++ knn(batch.toDF()).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val batchAnswers = knn(reqs.toSeq.toDS().toDF()).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(served === batchAnswers)
    assert(served.size === 6)
  }
}
