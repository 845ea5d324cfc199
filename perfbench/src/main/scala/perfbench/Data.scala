package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, salt,
  * row id), so a table is identical whatever the partitioning or core
  * count, and the same seed always gives the same bytes. */
object Data {

  /** Uniform 64-bit hash of (seed, salt, id). */
  private def h(seed: Long, salt: Int, id: Column): Column =
    xxhash64(lit(seed), lit(salt), id)

  /** Uniform integer in [0, n). */
  private def uInt(seed: Long, salt: Int, id: Column, n: Long): Column =
    pmod(h(seed, salt, id), lit(n))

  /** Uniform double in [0, 1). */
  private def uDouble(seed: Long, salt: Int, id: Column): Column =
    shiftrightunsigned(h(seed, salt, id), 11).cast("double") / lit(9007199254740992.0)

  private def pick(seed: Long, salt: Int, id: Column, values: Seq[String]): Column =
    element_at(typedlit(values), (uInt(seed, salt, id, values.size) + 1).cast("int"))

  private def ntzFrom(base: String, micros: Column): Column =
    timestamp_micros(lit(java.time.LocalDateTime.parse(base)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L) + micros)
      .cast("timestamp_ntz")

  private val DayMicros = 86400L * 1000000L

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** The TPC-H-shaped star schema plus `events`, `documents` and
    * `embeddings`, one parquet directory per table under `dir`, in the
    * layout `graft.Tables.load` reads. Row counts follow the usual
    * scale-factor rule (lineitem ≈ 6M × sf); documents (`docs`, 5,000 by
    * default) and embeddings (the given vectors, 2,000 × 64-d in the
    * repo's own test data) do not scale. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long,
      vectors: Array[Array[Float]], docs: Int = 5000): Unit = {
    import spark.implicits._
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    def write(name: String, df: DataFrame, files: Int = 1): Unit =
      df.coalesce(files).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLine = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000)

    write("region", Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"))
    write("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uInt(seed, 1, id, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + uDouble(seed, 2, id) * 10999.79, 2).as("c_acctbal"),
      pick(seed, 3, id, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
        "BUILDING", "FURNITURE")).as("c_mktsegment")))
    write("supplier", spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uInt(seed, 4, id, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + uDouble(seed, 5, id) * 10999.79, 2).as("s_acctbal")))
    write("part", spark.range(nPart).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, 6, id, Seq("large", "hot", "blue", "old", "cold",
          "small", "red", "new")),
        pick(seed, 7, id, Seq("ring", "bolt", "plate", "gear", "widget",
          "nut", "screw", "spring"))).as("p_name"),
      format_string("Brand#%d", uInt(seed, 8, id, 25) + 1).as("p_brand"),
      pick(seed, 9, id, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL",
        "MEDIUM", "PROMO")).as("p_type"),
      (uInt(seed, 10, id, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000L)) * 0.1, 1).as("p_retailprice")))
    write("orders", spark.range(nOrders).select(
      id.as("o_orderkey"),
      uInt(seed, 11, id, nCust).as("o_custkey"),
      pick(seed, 12, id, Seq("O", "P", "F")).as("o_orderstatus"),
      round(lit(1000.0) + uDouble(seed, 13, id) * 499000.0, 2).as("o_totalprice"),
      ntzFrom("1995-01-01T00:00:00",
        uInt(seed, 14, id, 2404) * DayMicros).as("o_orderdate"),
      pick(seed, 15, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")), files = 2)
    write("lineitem", spark.range(nLine).select(
      uInt(seed, 16, id, nOrders).as("l_orderkey"),
      uInt(seed, 17, id, nPart).as("l_partkey"),
      uInt(seed, 18, id, nSupp).as("l_suppkey"),
      (uInt(seed, 19, id, 7) + 1).cast("int").as("l_linenumber"),
      (uInt(seed, 20, id, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + uDouble(seed, 21, id) * 104100.0, 2).as("l_extendedprice"),
      (uInt(seed, 22, id, 11).cast("double") / 100).as("l_discount"),
      (uInt(seed, 23, id, 9).cast("double") / 100).as("l_tax"),
      pick(seed, 24, id, Seq("N", "A", "R")).as("l_returnflag"),
      pick(seed, 25, id, Seq("O", "F")).as("l_linestatus"),
      ntzFrom("1995-01-02T00:00:00",
        uInt(seed, 26, id, 2498) * DayMicros).as("l_shipdate")), files = 4)
    // events arrive in id order over 30 days: evenly spaced slots plus a
    // jitter smaller than one slot keep `ts` strictly increasing
    val slot = 30L * DayMicros / nEvents
    write("events", spark.range(nEvents).select(
      id.as("event_id"),
      ntzFrom("2024-01-01T00:00:00",
        id * slot + uInt(seed, 27, id, math.max(1L, slot - 1))).as("ts"),
      uInt(seed, 28, id, nUsers).as("user_id"),
      pick(seed, 29, id, Seq("signup", "click", "error", "view",
        "purchase")).as("event_type"),
      round(-log1p(-uDouble(seed, 30, id)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", uInt(seed, 31, id, 100)).as("props")), files = 2)
    write("documents", documents(spark, seed, docs))
    write("embeddings", embeddings(spark, seed, vectors))
  }

  /** `n` documents of 10–99 words over a 30-word vocabulary; one in 20 of
    * them is another document's text plus a trailing " dup" marker. */
  def documents(spark: SparkSession, seed: Long, n: Int = 5000): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed ^ 0x5d0c5L)
    val texts = Array.fill(n)(Seq.fill(10 + rnd.nextInt(90))(
      Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
    rnd.shuffle((0 until n).toList).take(n / 20).foreach { i =>
      var src = rnd.nextInt(n)
      while (src == i) src = rnd.nextInt(n)
      texts(i) = texts(src) + " dup"
    }
    val langs = Seq("en", "en", "en", "zh", "de", "es", "fr")
    texts.indices.map { i =>
      (i.toLong, texts(i), langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        texts(i).length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The vectors as (vec_id, embedding, label), label uniform in 0..9. */
  def embeddings(spark: SparkSession, seed: Long, vs: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed ^ 0xe3bL)
    vs.indices.map(i => (i.toLong, vs(i).toSeq, rnd.nextInt(10)))
      .toDF("vec_id", "embedding", "label")
  }

  /** `n` Gaussian vectors normalised to unit length. */
  def unitSphere(rnd: scala.util.Random, n: Int, dim: Int): Array[Array[Float]] =
    Array.fill(n) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }

  /** Write vectors in the SIFT `.fvecs` layout: per record an int32
    * dimension then that many little-endian float32 values. */
  def writeFvecs(path: String, vs: Array[Array[Float]]): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    try {
      val dim = if (vs.isEmpty) 0 else vs(0).length
      val bb = ByteBuffer.allocate(4 + 4 * dim).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach { v =>
        bb.clear(); bb.putInt(v.length); v.foreach(bb.putFloat)
        out.write(bb.array(), 0, bb.position())
      }
    } finally out.close()
  }
}
