package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector._

/** Late-interaction (MaxSim) retrieval — the ColBERT scoring rule
  * (Khattab & Zaharia 2020): query and document are each a GROUP of
  * vectors, score(Q, D) = Σ_{q∈Q} max_{d∈D} ⟨q, d⟩ — every query
  * vector finds its best-matching document vector, the per-query
  * maxima sum. Retrieval quality between single-vector ANN (one
  * embedding averages the whole text away) and full cross-attention
  * (quadratic in tokens); the reference's single-vector engine has no
  * analog, and at 100 TB this is the multi-vector retrieval shape.
  *
  * Scale shape: the bounded query-vector set broadcasts; the corpus
  * scans ONCE computing per-(corpus-vector, query-vector) dots; the
  * max-per-(doc-group, query-vector) aggregate is map-side combinable
  * (max is distributive), so the only shuffle carries
  * |doc-groups|·|query-vectors| rows — linear in corpus size over the
  * group width, never corpus × queries. The final per-query-group sum
  * folds the ≤|Q| maxima in query-vector order (a bounded
  * deterministic fold — float addition order pinned), and top-k is
  * the bounded-heap aggregate.
  */
object MaxSim {

  /** The gate queries' group layout — ONE definition shared by
    * v_maxsim_search, v_maxsim_pruned, and both oracles (the
    * shardTokens discipline: brute, pruned, and their oracles cannot
    * drift apart on how the multi-vector groups are formed). Groups of
    * [[GroupWidth]] consecutive vec_ids play "documents"; the first
    * [[NumQueryVecs]] vectors form the query groups. */
  val GroupWidth = 8
  val NumQueryVecs = 16

  /** (doc_group, vec_id, vec) over an (vec_id, embedding) frame. */
  def corpusGroups(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(($"vec_id" / GroupWidth).cast("long").as("doc_group"),
      $"vec_id", $"embedding".as("vec"))
  }

  /** (query_group, q_vec_id, qv): the first NumQueryVecs vectors. */
  def queryGroups(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.filter($"vec_id" < NumQueryVecs)
      .select(($"vec_id" / GroupWidth).cast("long").as("query_group"),
        $"vec_id".as("q_vec_id"), $"embedding".as("qv"))
  }

  /** Top-k doc groups per query group by MaxSim score.
    * `corpus`: (doc_group long, vec_id long, vec array<float>);
    * `queries`: (query_group long, q_vec_id long, qv array<float>).
    * Returns (query_group, doc_group, rnk, score) with rnk by
    * (score DESC, doc_group) and score the raw pinned-order sum
    * rounded at output. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankScores(corpus.crossJoin(broadcast(queries)), k)

  /** MaxSim restricted to a CANDIDATE set of (query_group, doc_group)
    * pairs — the second stage of the two-stage serving shape
    * (v_maxsim_pruned): an ANN first stage proposes doc groups per
    * query, exact MaxSim scores only those. The candidate frame is
    * bounded (|Q|·kAnn pairs before distinct) and broadcasts; the
    * corpus side joins it BY doc_group key, so only candidate groups'
    * vectors are scored — never the whole corpus. */
  def topKCandidates(corpus: DataFrame, queries: DataFrame,
      cand: DataFrame, k: Int): DataFrame =
    rankScores(
      corpus.join(broadcast(cand), "doc_group")
        .join(broadcast(queries), "query_group"), k)

  /** Shared scoring tail: per-(query-vector, doc-group) max, maxima
    * summed in q_vec_id order (bounded pinned fold), bounded-heap
    * top-k on the negated score. `pairs` carries (query_group,
    * q_vec_id, doc_group, vec, qv) rows. */
  private def rankScores(pairs: DataFrame, k: Int): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val maxPerQvec = pairs
      .select($"query_group", $"q_vec_id", $"doc_group",
        dot($"vec", $"qv").as("sim"))
      .groupBy($"query_group", $"q_vec_id", $"doc_group")
      .agg(max($"sim").as("mx"))
    val scores = maxPerQvec
      .groupBy($"query_group", $"doc_group")
      // pinned order: fold the per-query-vector maxima in q_vec_id
      // order — a float sum over an unordered aggregate would be
      // partition-order dependent
      .agg(sort_array(collect_list(struct($"q_vec_id", $"mx"))).as("ms"))
      .select($"query_group", $"doc_group",
        aggregate($"ms", lit(0.0), (acc, x) => acc + x.getField("mx"))
          .as("score"))
    // negated: the bounded heap keeps the SMALLEST k, MaxSim wants
    // the largest scores
    KnnSearch.ranked(scores, "query_group", -$"score", $"doc_group", k,
        out = "score", finish = s => round(-s, 4))
      .withColumnRenamed("neighbor_id", "doc_group")
  }
}
