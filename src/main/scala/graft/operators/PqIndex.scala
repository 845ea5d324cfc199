package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftVector._

/** Product Quantization: the compressed-vector sketch the reference
  * never got to (its HNSW stores raw floats — hnsw_node.h keeps a
  * `const float*` per node). PQ splits each vector into `numSub`
  * subvectors, k-means-quantizes each subspace to `codebookSize`
  * centroids, and stores only the centroid ids: 64-dim float32 (256 B)
  * → 8 codes (8 B) at numSub=8 — the difference between an index that
  * fits in cluster RAM at 100 TB of raw vectors and one that doesn't.
  *
  * Search uses Asymmetric Distance Computation as a join-aggregate:
  * a tiny (query × sub × code) distance-table DF joins the exploded
  * codes on (sub, code) and sums per (query, vector) — no UDFs, no
  * driver-side loops, shuffle keys are the bounded code space.
  */
object PqIndex {

  /** Fit per-subspace codebooks and encode every vector.
    * Returns (codebooks, codes):
    *  - codebooks(sub int, code int, centroid array<float>)
    *  - codes(idCol, codes array<int> of length numSub)
    *
    * Codebooks train on a bounded deterministic SAMPLE, driver-side —
    * the standard PQ practice (training needs thousands of examples per
    * subspace, not the full corpus; at 100 TB you could not afford, and
    * do not need, Lloyd iterations over everything). Sampling is a top-N
    * by id (a bounded heap on the cluster); the Lloyd loop on ≤
    * `sampleSize` × dim floats is microseconds of driver flops; encoding
    * of the FULL corpus stays distributed (broadcast codebooks, argmin
    * per row, one aggregation).
    */
  def build(embeddings: DataFrame, idCol: String, vecCol: String,
      dim: Int, numSub: Int = 8, codebookSize: Int = 16,
      iters: Int = 10, sampleSize: Int = 10000): (DataFrame, DataFrame) = {
    require(dim % numSub == 0, "numSub must divide dim")
    val subDim = dim / numSub
    val spark = embeddings.sparkSession
    import spark.implicits._

    val sample = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy("id").limit(sampleSize)
      .collect().map(_.getSeq[Float](1).toArray)

    val books = (0 until numSub).flatMap { s =>
      val subVecs = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      DfKMeans.localLloyd(subVecs, codebookSize, iters).zipWithIndex.map {
        case (c, code) => (s, code, c.toSeq)
      }
    }
    val codebooks = books.toDF("sub", "code", "centroid")

    (codebooks, encode(embeddings, idCol, vecCol, codebooks, numSub, subDim))
  }

  /** Distributed PQ encoding against fitted codebooks: explode per
    * subspace, argmin over broadcast codebooks, regroup to a code array
    * — one shuffle on id. Used by build and by streaming delta ingest
    * (new vectors get encoded with the SAME codebooks the index serves,
    * so appended codes are directly comparable). */
  def encode(embeddings: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, numSub: Int, subDim: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pts = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("__vec"))
      .select($"id",
        posexplode(lit((0 until numSub).toArray)).as(Seq("pos", "group")),
        $"__vec")
      .select($"group", $"id",
        slice($"__vec", $"group" * subDim + 1, lit(subDim)).as("vec"))
    DfKMeans.assign(pts,
        codebooks.select($"sub".as("group"), $"code", $"centroid"))
      .groupBy($"id")
      .agg(transform(array_sort(collect_list(struct($"group", $"code"))),
        x => x.getField("code")).as("codes"))
      .select($"id".as(idCol), $"codes")
  }

  /** ADC top-k: queries(query_id, qv array<float>) → (query_id,
    * neighbor_id, rnk, adist). Distances are approximate (quantized).
    *
    * The distance table (|queries| × numSub × codebookSize entries —
    * bounded and tiny) is folded into ONE flat lookup array per query and
    * broadcast; each code row computes adist with `numSub` array lookups.
    * This is textbook ADC (a table lookup per subspace) and the
    * scale-correct plan: the only shuffle is the bounded top-k partial
    * aggregate. The earlier join-on-(sub,code) formulation shuffled
    * |codes| × numSub × |queries| rows through a (query, vector) group-by
    * — ~8× the input — where this streams the codes table once.
    */
  /** (numSub, subDim) as PERSISTED in a codebooks table: sub count from
    * the codebook keys, subspace width from a centroid's length. Derive
    * geometry from the artifact rather than trusting caller parameters —
    * wrong values silently mis-slice every vector. */
  def bookGeometry(codebooks: DataFrame): (Int, Int) = {
    val row = codebooks.selectExpr("max(sub) + 1", "max(size(centroid))").head()
    require(!row.isNullAt(0) && !row.isNullAt(1),
      "codebooks table is empty — build the PQ index first")
    (row.getInt(0), row.getInt(1))
  }

  /** Per-query flat ADC lookup array (query_id, dtab), ordered by
    * (sub, code): dtab[sub·codebookSize + code] = ‖q_sub − c(sub,code)‖².
    * Bounded (|queries| × numSub × codebookSize) and broadcastable —
    * shared by the flat PQ search and the IVF-PQ inverted-list search. */
  def adcTable(queries: DataFrame, codebooks: DataFrame,
      subDim: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.crossJoin(broadcast(codebooks))
      .select($"query_id", $"sub", $"code",
        l2Sq(slice($"qv", $"sub" * subDim + 1, lit(subDim)), $"centroid").as("d"))
      .groupBy($"query_id")
      .agg(transform(array_sort(collect_list(struct($"sub", $"code", $"d"))),
        x => x.getField("d")).as("dtab"))
  }

  /** ADC distance: fold a row's `codes` through its query's `dtab` in
    * subspace order (numSub array lookups, one running double). */
  def adcScore(codes: Column, dtab: Column, numSub: Int): Column = {
    val csize = (size(dtab) / numSub).cast("int") // codebookSize
    aggregate(sequence(lit(0), lit(numSub - 1)), lit(0.0d),
      (acc, s) => acc + element_at(dtab,
        (s * csize + element_at(codes, s + 1) + 1).cast("int")))
  }

  /** PQ search with exact refinement (FAISS's IndexRefineFlat pattern,
    * and the same shape as the reference's hybrid search: an approximate
    * structure proposes, exact distances decide — engine.h:search_knn
    * brute-forces its write buffers at full precision before merging).
    * ADC proposes `k × refineFactor` candidates per query; only those
    * rows' raw vectors are fetched (a join on id — at scale this reads
    * |queries|·k' full vectors instead of the whole corpus) and exact
    * L2 re-ranks the final top-k. The heap ranks on SQUARED distance
    * and takes sqrt only at output: sqrt can collapse adjacent doubles,
    * and a rank decided after the collapse could disagree with one
    * decided before it. */
  def searchRefined(codebooks: DataFrame, codes: DataFrame,
      embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, refineFactor: Int = 4): DataFrame = {
    require(refineFactor >= 1, s"refineFactor must be >= 1, got $refineFactor")
    val (numSub, subDim) = bookGeometry(codebooks)
    val dim = numSub * subDim
    val spark = codes.sparkSession
    import spark.implicits._
    val shortlist = search(codebooks, codes, queries, idCol, dim, numSub,
        k * refineFactor)
      .select($"query_id", $"neighbor_id")
    refineExact(shortlist, embeddings, idCol, vecCol, queries, k)
  }

  /** Shared exact-refine stage for the quantized searches: join the
    * (query_id, neighbor_id) shortlist to raw vectors by id, broadcast
    * the query set, rank by exact SQUARED L2 in a bounded heap, and
    * take sqrt only on the rounded output — sqrt can collapse adjacent
    * doubles, so ranking must happen before it. One definition serves
    * PQ and SQ8 so the refine contract cannot drift between them. */
  private[operators] def refineExact(shortlist: DataFrame,
      embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    val spark = shortlist.sparkSession
    import spark.implicits._
    KnnSearch.ranked(shortlist
        .join(embeddings.select(col(idCol).cast("long").as("neighbor_id"),
          col(vecCol).as("emb")), "neighbor_id")
        .join(broadcast(queries), "query_id"),
      "query_id", l2Sq($"emb", $"qv"), $"neighbor_id", k)
  }

  def search(codebooks: DataFrame, codes: DataFrame, queries: DataFrame,
      idCol: String, dim: Int, numSub: Int, k: Int): DataFrame = {
    val subDim = dim / numSub
    val spark = codes.sparkSession
    import spark.implicits._
    val dtab = adcTable(queries, codebooks, subDim)
    KnnSearch.ranked(codes.select(col(idCol).as("neighbor_id"), $"codes")
        .crossJoin(broadcast(dtab)),
      "query_id", adcScore($"codes", $"dtab", numSub), $"neighbor_id", k,
      out = "adist", finish = round(_, 4))
  }
}
