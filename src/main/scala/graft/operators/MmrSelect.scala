package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

import graft.GraftVector._
import graft.Route

/** Maximal-marginal-relevance diversified retrieval (Carbonell &
  * Goldstein 1998): a plain top-k returns k near-copies when the corpus
  * has duplicates; MMR greedily picks the next result by
  * λ·rel(c, q) − (1−λ)·max_{s∈S} sim(c, s) — relevance to the query
  * discounted by similarity to what is already selected. It is the
  * result-diversification face of the dedup stage: the same
  * cosine-redundancy measure d_embed_neardup removes at corpus build
  * time, applied at query time.
  *
  * Scale shape: the corpus is touched ONCE — a broadcast-query scan
  * with a bounded map-side top-nCandidates heap (the v_knn_bruteforce
  * plan) — and the greedy loop then runs k rounds over the BOUNDED
  * candidate frame (|queries| × nCandidates rows): per round one
  * equi-join against the ≤k selected rows and one argmax. Candidate
  * count per query is a constant, queries scale out, the raw corpus
  * never re-enters. Greedy selection is inherently sequential in k
  * (each pick changes the next round's scores) — k bounded rounds with
  * lineage cut per round, the BpeTrain/ConnectedComponents shape.
  *
  * Determinism: every argmax has the total tie-break (score desc, id);
  * λ and 1−λ are Scala doubles interpolated literal-for-literal into
  * the oracle (1−0.7 is 0.30000000000000004 — interpolation makes the
  * engines share it exactly); max over selected sims is order-free.
  */
object MmrSelect {

  /** A batch of at most this many queries (× nCandidates candidate
    * rows) runs the greedy rounds on the driver — the GraphSearch
    * serving bound (key `mmr.driver`). Driver heap: a collected
    * 64-d candidate row (query_id, cid, rel, cv) costs ~1.4 KB (boxed
    * floats; SizeEstimator on sf0.01 embeddings), ~5.3 KB at 256-d,
    * so 1024 queries × the entry's 30 candidates hold ≤ ~44 MB
    * (≤ ~160 MB at 256-d). */
  final val mmrDriverMaxQueries = GraphSearch.driverBeamMaxQ

  /** Greedy MMR over the top-`nCandidates` cosine candidates of each
    * query. Returns (query_id, rnk, vec_id, mmr_score) with
    * rnk ∈ 1..k; rank 1 carries λ·rel (empty selected set). */
  def diversify(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, nCandidates: Int, k: Int,
      lambda: Double): DataFrame = {
    require(k >= 1 && nCandidates >= k, s"need 1 <= k <= nCandidates")
    require(lambda > 0.0 && lambda <= 1.0, s"lambda in (0, 1], got $lambda")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val oneMinus = 1 - lambda // interpolated into the oracle verbatim

    // one corpus scan: bounded top-n heap per query on (-cos, id)
    val shortlist = embeddings
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"))
      .crossJoin(broadcast(queries))
      .filter($"cid" =!= $"query_id")
      .groupBy($"query_id")
      .agg(topK(-cosine($"cv", $"qv"), $"cid", nCandidates).as("nn"))
      .select($"query_id", explode($"nn").as("x"))
      .select($"query_id", $"x.id".as("cid"), (-$"x.score").as("rel"))
    val candPlan = shortlist
      .join(embeddings.select(col(idCol).cast("long").as("cid"),
        col(vecCol).as("cv")), "cid")

    // Route by |Q| (the GraphSearch.beamLoop law): a bounded serving
    // batch's candidate frame is |Q|·nCandidates rows — the broadcast
    // side of every round's join, i.e. ALREADY driver-collected each
    // round — so the k greedy rounds run as driver arithmetic (one
    // collect + one result job) instead of k (join + window +
    // checkpoint) Spark rounds whose scheduling dominated the entry's
    // sf0.1 wall (per-job walls: 38 jobs, more wall between jobs than in
    // them). Corpus-scaled query sets keep the distributed rounds: per
    // round the frame stays |queries|×nCandidates, queries scale out.
    // MmrPathLawSpec pins bit-equality on a forced-path pair.
    val local = Route.collectUpTo("mmr.driver", candPlan,
      mmrDriverMaxQueries * nCandidates)
    if (local.isDefined)
      return diversifyLocal(spark, candPlan.schema, local.get, k, lambda,
        oneMinus)

    val cand = candPlan.localCheckpoint(true)

    val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"cid")
    // round 1 argmaxes on rel ITSELF (not λ·rel: multiplying two
    // 1-ulp-apart rels by λ can collapse them, flipping the tie-break)
    val w1 = Window.partitionBy($"query_id").orderBy($"rel".desc, $"cid")
    var sel = cand
      .withColumn("r", row_number().over(w1)).filter($"r" === 1)
      .select($"query_id", lit(1L).as("rnk"), $"cid", $"cv",
        (lit(lambda) * $"rel").as("score"))
      .localCheckpoint(true)
    for (round <- 2 to k) {
      val winner = cand
        .join(sel.select($"query_id", $"cid".as("sid"), $"cv".as("sv")),
          "query_id")
        .filter($"cid" =!= $"sid")
        .groupBy($"query_id", $"cid", $"rel", $"cv")
        // count(selected) < |sel| ⇔ cid is already selected (its self
        // pair was filtered) — the anti-join folded into the aggregate
        .agg(max(cosine($"cv", $"sv")).as("msim"),
          count(lit(1)).as("n_sel"))
        .filter($"n_sel" === (round - 1))
        .withColumn("score", lit(lambda) * $"rel" - lit(oneMinus) * $"msim")
        .withColumn("r", row_number().over(w)).filter($"r" === 1)
        .select($"query_id", lit(round.toLong).as("rnk"), $"cid", $"cv",
          $"score")
      sel = sel.unionByName(winner).localCheckpoint(true)
    }
    sel.select($"query_id", $"rnk", $"cid".as("vec_id"),
        round($"score", 4).as("mmr_score"))
      .orderBy("query_id", "rnk")
  }

  /** The driver-resident greedy rounds over the collected candidate
    * frame — value-identical to the distributed rounds by construction:
    * sims via the spec-pinned kernel twin the codegen'd `cosine` calls
    * ([[graft.functions.VectorKernels.cosineBest]] — zero-norm → 0.0 on
    * both paths, so no NaN enters any comparison), max-sim is an
    * order-free max folded with java.lang.Double.compare (Spark's
    * total order for double aggregates), every argmax breaks ties
    * (score desc, cid asc) through the same total order the window's
    * row_number used, and λ·rel − (1−λ)·msim is the identical IEEE
    * expression over the identical doubles (rel was computed by the
    * SAME plan the distributed path reads it from). Rounding and the
    * final sort run through Catalyst on the bounded result frame, so
    * the output projection is shared code, not a replica. */
  private def diversifyLocal(spark: org.apache.spark.sql.SparkSession,
      candSchema: StructType, candRows: Array[Row], k: Int, lambda: Double,
      oneMinus: Double): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorKernels
    val rows = java.util.Arrays.asList(candRows.groupBy(_.get(1)).toSeq
      .flatMap { case (qid, rs) =>
        // (cid, rel, cv) per candidate; cid ascending for stable argmax
        val cands = rs.map(r => (r.getLong(0), r.getDouble(2),
          r.getSeq[Float](3).toArray)).sortBy(_._1)
        val sel = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Array[Float], Double)] // (cid, cv, score)
        val selected = scala.collection.mutable.Set.empty[Long]
        for (round <- 1 to k) {
          var best: (Long, Array[Float], Double) = null
          cands.foreach { case (cid, rel, cv) =>
            if (!selected(cid)) {
              val score =
                if (round == 1) rel // argmax on rel itself (λ·rel ties)
                else {
                  var msim = Double.NegativeInfinity
                  sel.foreach { case (_, sv, _) =>
                    val c = VectorKernels.cosineBest(cv, sv)
                    if (java.lang.Double.compare(c, msim) > 0) msim = c
                  }
                  lambda * rel - oneMinus * msim
                }
              if (best == null ||
                  java.lang.Double.compare(score, best._3) > 0)
                best = (cid, cv, score)
            }
          }
          if (best != null) {
            val score = if (round == 1) lambda * best._3 else best._3
            sel += ((best._1, best._2, score))
            selected += best._1
          }
        }
        sel.iterator.zipWithIndex.map { case ((cid, _, score), i) =>
          Row(qid, (i + 1).toLong, cid, score)
        }
      }: _*)
    val qidType = candSchema("query_id").dataType
    val outSchema = new StructType().add("query_id", qidType)
      .add("rnk", LongType).add("cid", LongType).add("score", DoubleType)
    spark.createDataFrame(rows, outSchema)
      .select($"query_id", $"rnk", $"cid".as("vec_id"),
        round($"score", 4).as("mmr_score"))
      .orderBy("query_id", "rnk")
  }

  /** The DuckDB oracle: same shortlist, k greedy rounds unrolled as
    * chained CTEs — per-candidate max-sim over the selected set, the
    * same λ/(1−λ) literals, the same (score desc, cid) argmax. */
  def oracleSql(nCandidates: Int, k: Int, lambda: Double,
      numQueries: Int): String = {
    val oneMinus = 1 - lambda
    def cos(a: String, b: String) =
      s"list_cosine_similarity($a::DOUBLE[], $b::DOUBLE[])"
    def round(i: Int): String =
      s"""sc$i AS (
         |  SELECT c.query_id, c.cid, c.rel, c.cv,
         |    $lambda * c.rel - $oneMinus * max(${cos("c.cv", "s.cv")}) AS score
         |  FROM cand c JOIN sel${i - 1} s USING (query_id)
         |  WHERE c.cid <> s.cid
         |  GROUP BY c.query_id, c.cid, c.rel, c.cv
         |  HAVING count(*) = ${i - 1}),
         |sel$i AS (
         |  SELECT * FROM sel${i - 1}
         |  UNION ALL
         |  SELECT query_id, ${i}::BIGINT AS rnk, cid, cv, score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, cid) AS r FROM sc$i) WHERE r = 1)""".stripMargin
    s"""WITH c0 AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS cid, b.embedding AS cv,
       |    ${cos("b.embedding", "q.embedding")} AS rel
       |  FROM embeddings b
       |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < $numQueries) q
       |  WHERE b.vec_id <> q.vec_id),
       |cand AS (
       |  SELECT query_id, cid, cv, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cid) AS crnk FROM c0)
       |  WHERE crnk <= $nCandidates),
       |sel1 AS (
       |  SELECT query_id, 1::BIGINT AS rnk, cid, cv, $lambda * rel AS score
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY rel DESC, cid) AS r FROM cand) WHERE r = 1),
       |${(2 to k).map(round).mkString(",\n")}
       |SELECT query_id, rnk, cid AS vec_id, round(score, 4) AS mmr_score
       |FROM sel$k ORDER BY query_id, rnk""".stripMargin
  }
}
