package graft

import org.apache.spark.sql.functions._

/** rle_runs (graft.functions.RleRuns): run-length encoding of a sorted
  * array<bigint> into (bkt, m) structs in element order. An array that
  * may hold nulls is rejected at analysis, so a null can never be
  * counted silently as bucket 0. */
class RleRunsSpec extends SparkSpec {
  import spark.implicits._

  private def rle(xs: org.apache.spark.sql.DataFrame) =
    xs.select(graft.queries.TextQueries.rleRuns($"xs").as("r"))
      .select(explode($"r").as("f")).select($"f.bkt", $"f.m")
      .as[(Long, Long)].collect().toSeq

  test("rle_runs: one (bkt, m) per run, in element order") {
    assert(rle(Seq(Tuple1(Seq(0L, 0L, 3L, 5L, 5L, 5L, 64L))).toDF("xs")) ===
      Seq(0L -> 2L, 3L -> 1L, 5L -> 3L, 64L -> 1L))
    assert(rle(Seq(Tuple1(Seq.empty[Long])).toDF("xs")) === Seq.empty)
  }

  test("rle_runs: an array with a null element is rejected, not counted as bucket 0") {
    val withNull = Seq(Tuple1(Seq[java.lang.Long](0L, null, 3L))).toDF("xs")
    val e = intercept[org.apache.spark.sql.AnalysisException](rle(withNull))
    assert(e.getMessage.contains("rle_runs requires ArrayType(LongType,false)"),
      e.getMessage)
  }
}
