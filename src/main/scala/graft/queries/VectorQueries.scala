package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.Tables.load
import graft.operators.KnnSearch

/** Vector-core query surface: the Spark re-expression of the reference's
  * search/insert semantics (/root/reference/include/engine.h,
  * proto/vector_search.proto). Each entry has a DuckDB oracle in
  * [[VectorQueries.oracles]] unless inherently non-SQL.
  *
  * Scale notes:
  *  - kNN never materializes the cross join: queries are broadcast, the
  *    base table is scanned once, and [[graft.operators.TopKByScore]]
  *    keeps per-(query,partition) heaps bounded at k before the shuffle.
  *  - range search is a broadcast-nested-loop filter — a scan, not a join
  *    shuffle; at 100 TB it is embarrassingly parallel over base splits.
  */
object VectorQueries {

  /** Deterministic query set: the first 8 vectors play "search requests"
    * (stand-in for SearchRequest.query_vector). */
  private val NumQueries = 8
  private val K = 10

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v_l2_distance" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val a = e.select($"vec_id", $"embedding".as("va"))
      val b = e.select(($"vec_id" - 1).as("vec_id"), $"embedding".as("vb"))
      a.join(b, "vec_id")
        .select($"vec_id", round(l2($"va", $"vb"), 4).as("dist"))
        .orderBy("vec_id")
    }),

    "v_dot_product" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val a = e.select($"vec_id", $"embedding".as("va"))
      val b = e.select(($"vec_id" - 1).as("vec_id"), $"embedding".as("vb"))
      a.join(b, "vec_id")
        .select($"vec_id", round(dot($"va", $"vb"), 4).as("dp"))
        .orderBy("vec_id")
    }),

    "v_cosine_sim" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val a = e.select($"vec_id", $"embedding".as("va"))
      val b = e.select(($"vec_id" - 1).as("vec_id"), $"embedding".as("vb"))
      a.join(b, "vec_id")
        .select($"vec_id", round(cosine($"va", $"vb"), 4).as("cos_sim"))
        .orderBy("vec_id")
    }),

    "v_norm" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "embeddings")
        .select($"vec_id", round(norm($"embedding"), 4).as("l2_norm"))
        .orderBy("vec_id")
    }),

    // Late-interaction (MaxSim / ColBERT) retrieval — multi-vector
    // scoring the single-vector entries can't express: "documents" are
    // groups of 8 consecutive vectors (the multi-vector layout of a
    // token-embedded corpus), queries the first two groups, score(Q,D)
    // = Σ_{q∈Q} max_{d∈D} ⟨q,d⟩, top-5 doc groups per query group.
    // See operators/MaxSim for the scale shape (one corpus scan,
    // map-side max partials, bounded pinned-order sum fold).
    "v_maxsim_search" -> ((s: SparkSession, d: String) => {
      import graft.operators.MaxSim
      val e = load(s, d, "embeddings")
      MaxSim.topK(MaxSim.corpusGroups(e), MaxSim.queryGroups(e), k = 5)
        .orderBy("query_group", "rnk")
    }),

    // Exact top-k per query over the full collection — the brute-force /
    // recall-ground-truth path of engine.h:search_knn. Broadcast queries,
    // single base scan, bounded-heap partial agg.
    "v_knn_bruteforce" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val q = e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      // rank by squared distance — sqrt is monotone, so the top-k set
      // and order are identical; the sqrt is paid on k rows, not N
      // (distance.cpp pulls the same trick by never rooting sums)
      KnnSearch.ranked(e.crossJoin(broadcast(q)), "query_id",
          l2Sq($"embedding", $"qv"), $"vec_id", K)
        .orderBy("query_id", "rnk")
    }),

    // Maximum-inner-product search (MIPS) — the retrieval metric of
    // dot-product-trained embedding models (DSSM/dual-encoder
    // retrievers), where neither L2 nor cosine ranks correctly because
    // vector NORM carries signal. Exact top-k by descending ⟨b,q⟩ in
    // the v_knn_bruteforce scale shape (broadcast queries, single base
    // scan, bounded-heap partial agg; the heap takes the NEGATED dot —
    // one total order, no separate max-heap variant). MIPS admits no
    // triangle-inequality pruning, so the indexed scale path is the
    // Neyshabur–Srebro reduction (augment each vector with
    // √(M²−‖x‖²) — inner product becomes monotone in L2 on the
    // augmented space) feeding the SAME IVF machinery; the exact
    // entry here is that path's ground-truth side.
    "v_mips_search" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val q = e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      KnnSearch.ranked(e.crossJoin(broadcast(q)), "query_id",
          -dot($"embedding", $"qv"), $"vec_id", K,
          out = "score", finish = s => round(-s, 4))
        .orderBy("query_id", "rnk")
    }),

    // All neighbors within radius r of each query vector.
    "v_range_search" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val q = e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      e.crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id".as("neighbor_id"),
          round(l2($"embedding", $"qv"), 4).as("dist"))
        .filter($"dist" < 1.2)
        .orderBy("query_id", "neighbor_id")
    }),

    // fvecs interop under the correctness gate: embeddings written once
    // to the reference's native SIFT format (utils.h record layout), read
    // back through the `format("fvecs")` DataSource V2, normed. A single
    // bit of format drift (endianness, header, record framing) breaks
    // the hash match against the parquet-derived oracle.
    "v_fvecs_roundtrip" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      // cache keyed by the source data's fingerprint (IndexStore.sfKey
      // folds in mtime/size — regenerated test data self-invalidates);
      // written to a temp name then renamed so a crashed write can never
      // leave a truncated file that passes an exists() check
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-fvecs-" + graft.operators.IndexStore.sfKey(d))
      val file = new java.io.File(dir, "embeddings.fvecs")
      if (!file.exists()) {
        dir.mkdirs()
        val tmp = new java.io.File(dir, "embeddings.fvecs.tmp")
        graft.sources.Fvecs.writeFvecs(
          load(s, d, "embeddings").orderBy("vec_id")
            .select($"vec_id".as("id"), $"embedding".as("vector")),
          tmp.getPath)
        if (!tmp.renameTo(file)) sys.error(s"fvecs cache rename failed: $file")
      }
      s.read.format("fvecs").load(file.getPath)
        .select($"id".as("vec_id"), round(norm($"vector"), 4).as("l2_norm"))
        .orderBy("vec_id")
    }),

    // kNN where the QUERY SET is the whole corpus — too big to broadcast
    // at scale, so it runs in deterministic hash-batches (8 here), each
    // under the broadcast budget; per-batch plans are the same
    // broadcast + bounded-heap shape as v_knn_bruteforce. Results are
    // provably identical to the single-broadcast plan (spec-checked with
    // 10k queries in KnnBatchedSpec) and the DuckDB oracle.
    "v_knn_batched" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val q = e.filter($"vec_id" % 5 === 0)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      // corpus-scale output (|corpus|/5 × k rows): materialize once, then
      // range-sort from stored blocks — a single-partition sort here would
      // funnel the whole result through one task (see DedupQueries's
      // ordered/orderedLarge rule: bounded outputs only for the former)
      graft.operators.KnnSearch
        .searchBatched(e, q, "vec_id", "embedding", k = 3, numBatches = 8)
        .localCheckpoint(false).orderBy("query_id", "rnk")
    }),

    // All-pairs near-neighbor self-join (dist < r) behind the multi-table
    // LSH prefilter: candidates only from seeded 16×8-bit band collisions
    // (bucketed equi-join — shuffle keys are band hashes), verified by
    // exact L2. This IS the operator's declared semantics, replicated
    // band-for-band in the DuckDB oracle, so the hash gate holds by
    // construction; recall against the exact quadratic form is guarded by
    // the planted-near-dup spec (QuadraticGraduationSpec). The quadratic
    // form is verification-only: at r=1.1 on unit 64-d vectors a LOSSLESS
    // prefilter is information-theoretically powerless (any 1-d
    // projection of the data spans less than r), so the scale path is
    // necessarily probabilistic-candidates + exact-verify — the same
    // trade the reference's graph traversal makes (hnsw_index.h finds
    // near-certain, not certain, neighbors).
    "v_knn_self_pairs" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      // pairs arrive with their vectors (streaming ownership emission);
      // the L2 verify folds into the join stage — candidates never
      // materialize
      graft.operators.LshBuckets.bandedPairs(e, "vec_id", "embedding", 64,
          bitsPerTable = graft.operators.LshBuckets.chooseBits(
            graft.operators.IndexStore.corpusN(s, d)))
        .withColumn("dist", round(l2($"va", $"vb"), 4))
        .filter($"dist" < 1.1)
        .select($"vec_a", $"vec_b", $"dist")
        .orderBy("vec_a", "vec_b")
    }),

    // Lexical ∪ semantic hybrid retrieval with reciprocal rank fusion
    // (Cormack et al. 2009): BM25 ranks over `documents` (t_bm25's
    // scorer) fused with vector ranks over the id-aligned `embeddings`
    // (L2 to a fixed query embedding) via Σ 1/(60+rank) across the two
    // top-100 lists. This is the modern two-tower hybrid the reference's
    // buffer∪index merge (engine.h:search_knn) foreshadows — two
    // retrievers, one fused top-k heap. Scale shape: each list is a
    // global TakeOrdered (map-side partial top-k, no single-partition
    // window over the corpus); the fusion join and final re-rank touch
    // only the two bounded lists. RRF scores are sums of exact integer
    // reciprocals — no float discipline needed beyond fixed term order.
    // ivecs interop — the OTHER half of utils.h's I/O surface (fvecs
    // carries vectors, ivecs carries ground-truth neighbor-id lists for
    // recall eval): the exact kNN id lists are written once in the
    // reference's int32 record layout, read back, and re-exploded into
    // the ranked-pairs form. The oracle re-derives the same lists from
    // parquet — one bit of framing/endianness drift breaks the match.
    "v_ivecs_roundtrip" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val dir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivecs-" + graft.operators.IndexStore.sfKey(d))
      val file = new java.io.File(dir, "groundtruth.ivecs")
      if (!file.exists()) {
        dir.mkdirs()
        val e = load(s, d, "embeddings")
        val q = e.filter($"vec_id" < NumQueries)
          .select($"vec_id".as("query_id"), $"embedding".as("qv"))
        val lists = e.crossJoin(broadcast(q))
          .groupBy($"query_id")
          .agg(topK(l2Sq($"embedding", $"qv"), $"vec_id", K).as("nn"))
          .select($"query_id".as("id"),
            transform($"nn", x => x.getField("id").cast("int")).as("neighbors"))
          .orderBy("id")
        val tmp = new java.io.File(dir, "groundtruth.ivecs.tmp")
        graft.sources.Fvecs.writeIvecs(lists, tmp.getPath)
        if (!tmp.renameTo(file)) sys.error(s"ivecs cache rename failed: $file")
      }
      graft.sources.Fvecs.readIvecs(s, file.getPath)
        .select($"id".as("query_id"), posexplode($"neighbors"))
        .select($"query_id", ($"pos" + 1).cast("long").as("rnk"),
          $"col".cast("long").as("neighbor_id"))
        .orderBy("query_id", "rnk")
    }),

    // MMR diversified retrieval (Carbonell & Goldstein 1998): greedy
    // re-ranking of the cosine top-30 shortlist by λ·relevance −
    // (1−λ)·max-similarity-to-selected — the query-time face of the
    // dedup stage's cosine-redundancy measure. One corpus scan builds
    // the bounded shortlist; the k greedy rounds (inherently sequential
    // — each pick reprices the rest) run on the bounded candidate
    // frame only. Oracle unrolls the rounds as chained CTEs with the
    // identical λ/(1−λ) literals and (score desc, id) argmax.
    "v_mmr" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val q = e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      graft.operators.MmrSelect.diversify(e, "vec_id", "embedding", q,
        nCandidates = 30, k = 8, lambda = 0.7)
    }),

    "v_rrf_fusion" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val RrfK = 60
      val Depth = 100
      val lex = TextQueries.bm25TopRanks(load(s, d, "documents"), Depth)
        .select($"doc_id".as("id"), $"rnk".as("lex_rnk"))
      val e = load(s, d, "embeddings")
      val qv = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
      val wVec = org.apache.spark.sql.expressions.Window
        .orderBy($"d2", $"vec_id")
      val vec = e.crossJoin(broadcast(qv))
        .select($"vec_id", l2Sq($"embedding", $"qv").as("d2"))
        .orderBy($"d2", $"vec_id").limit(Depth)
        .withColumn("vec_rnk", row_number().over(wVec).cast("long"))
        .select($"vec_id".as("id"), $"vec_rnk")
      val wFused = org.apache.spark.sql.expressions.Window
        .orderBy($"rrf".desc, $"id")
      lex.join(vec, Seq("id"), "full_outer")
        .select($"id", $"lex_rnk", $"vec_rnk",
          (coalesce(lit(1.0) / ($"lex_rnk" + RrfK).cast("double"), lit(0.0)) +
            coalesce(lit(1.0) / ($"vec_rnk" + RrfK).cast("double"), lit(0.0)))
            .as("rrf"))
        .orderBy($"rrf".desc, $"id").limit(20)
        .withColumn("rnk", row_number().over(wFused).cast("long"))
        .select($"rnk", $"id".as("doc_id"),
          round($"rrf", 6).as("rrf_score"), $"lex_rnk", $"vec_rnk")
    }),

    // Hybrid search (engine.h:search_knn): the reference fans a query out
    // over un-flushed write buffers AND the static index, merging one
    // top-k heap. Spark-natively: resolve latest-wins state (base ∪
    // delta), then kNN over the merged view — same result contract, one
    // declarative plan. Delta here: every 5th vector is "re-inserted"
    // with its successor's embedding.
    "v_hybrid_search" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val delta = e.as("x")
        .join(e.select(($"vec_id" - 1).as("vec_id"), $"embedding".as("emb2")), "vec_id")
        .filter($"vec_id" % 5 === 0)
        .select($"vec_id", $"emb2".as("embedding"), lit(1).as("pri"))
      val merged = e.select($"vec_id", $"embedding", lit(0).as("pri"))
        .unionByName(delta)
        .groupBy($"vec_id")
        .agg(max_by($"embedding", $"pri").as("embedding"))
      val q = merged.filter($"vec_id" < 8)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      KnnSearch.ranked(merged.crossJoin(broadcast(q)), "query_id",
          l2Sq($"embedding", $"qv"), $"vec_id", K)
        .orderBy("query_id", "rnk")
    }),

    // Filtered vector search: top-k restricted to a metadata predicate
    // (label ∈ {1,2,3}) — the filter lands on the scan BEFORE any
    // distance work (pre-filtering, not post-filtering, so k results
    // always come back and non-matching vectors cost nothing).
    "v_filtered_knn" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val q = e.filter($"vec_id" < NumQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      KnnSearch.ranked(e.filter($"label".isin(1, 2, 3))
          .crossJoin(broadcast(q)), "query_id",
          l2Sq($"embedding", $"qv"), $"vec_id", K)
        .orderBy("query_id", "rnk")
    }),

    // Per-label centroids via the distributive VectorAvg aggregate
    // (exploded to scalar rows for the oracle).
    "v_centroids" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "embeddings")
        .groupBy($"label")
        .agg(vectorAvg($"embedding").as("c"))
        .select($"label", posexplode($"c"))
        .select($"label", $"pos".cast("long").as("idx"),
          round($"col", 4).as("v"))
        .orderBy("label", "idx")
    }),

    // Per-label centroid DRIFT between the first and second half of
    // the corpus in vec_id (ingest) order — the monitoring signal that
    // tells a 100 TB pipeline its coarse quantizer was trained on a
    // stale era (the IvfIndex.buildSampled hash-uniform sample exists
    // precisely because ids correlate with ingest time; this entry
    // measures that correlation). Two map-side-combinable aggregates
    // (count + per-label-era vector avg), a broadcast 1-row count, an
    // inner join of two label-sized frames — nothing corpus-scaled
    // crosses the shuffle except the one grouped avg.
    "v_centroid_drift" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val n = e.agg(count(lit(1)).as("n"))
      // BOTH era centroids in ONE corpus aggregate (VectorAvg skips the
      // null branch of the conditional): a per-(label, era) groupBy
      // filtered twice planned the corpus aggregation twice — measured
      // 4 partial_v_avg phases / 7 scans; this form is 2 / 4, and at
      // 100 TB that is the difference between one corpus pass and two
      e.crossJoin(broadcast(n))
        .select($"label",
          when($"vec_id" * 2 < $"n", 0).otherwise(1).as("era"),
          $"embedding")
        .groupBy($"label")
        .agg(
          vectorAvg(when($"era" === 0, $"embedding")).as("c0"),
          vectorAvg(when($"era" === 1, $"embedding")).as("c1"),
          sum(when($"era" === 0, 1L).otherwise(0L)).as("n_old"),
          sum(when($"era" === 1, 1L).otherwise(0L)).as("n_new"))
        .filter($"n_old" > 0 && $"n_new" > 0)
        .select($"label", $"n_old", $"n_new",
          round(sqrt(aggregate(
            zip_with($"c0", $"c1", (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x)), 4).as("drift"))
        .orderBy("label")
    }),

    // Upsert merge: base ∪ delta, latest write wins per id — the batch
    // analog of engine.h insert() + background flush compaction.
    "v_insert_merge" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val base = e.select($"vec_id", $"label".cast("long").as("label"),
        lit(0).as("pri"))
      val delta = e.filter($"vec_id" % 7 === 0)
        .select($"vec_id", ($"label" + 1000).cast("long").as("label"),
          lit(1).as("pri"))
      base.unionAll(delta)
        .groupBy($"vec_id")
        .agg(max_by($"label", $"pri").as("label"))
        .orderBy("vec_id")
    }),

    // Tombstone-aware merge — v_insert_merge completed to full LSM
    // compaction semantics (the delete path every write buffer needs):
    // three generations (base puts, an update wave, a delete wave);
    // per id the HIGHEST-seq operation wins and a winning tombstone
    // removes the row entirely. Both engines resolve via max_by on the
    // unique per-id seq (label and op independently — same unique
    // ordering key, so they cannot disagree); one id-keyed map-side-
    // combinable aggregate, no window, no self-join.
    "v_delete_merge" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      val base = e.select($"vec_id", $"label".cast("long").as("label"),
        lit(0L).as("seq"), lit("put").as("op"))
      val upd = e.filter($"vec_id" % 7 === 0)
        .select($"vec_id", ($"label" + 1000).cast("long").as("label"),
          lit(1L).as("seq"), lit("put").as("op"))
      val del = e.filter($"vec_id" % 11 === 0)
        .select($"vec_id", lit(0L).as("label"),
          lit(2L).as("seq"), lit("del").as("op"))
      base.unionAll(upd).unionAll(del)
        .groupBy($"vec_id")
        .agg(max_by($"label", $"seq").as("label"),
          max_by($"op", $"seq").as("op"),
          max($"seq").as("last_seq"))
        .filter($"op" =!= "del")
        .select($"vec_id", $"label", $"last_seq")
        .orderBy("vec_id")
    }),

    // Top principal component by power iteration — the embedding-space
    // analysis step (dominant direction / ABTT-style common-component
    // removal) done with the t_textrank discipline: a FIXED number of
    // rounds (8) whose every float operation has a pinned order, so the
    // result is bit-reproducible and oracle-matchable. Each round is
    // (XᵀX)v: per-vector dot (LTR fold), then the 64-dim weighted SUM
    // folded in TWO deterministic levels — within a vec_id-div-4096
    // bucket in id order, then across buckets in bucket order — the
    // hierarchical shape that stays a bounded per-group fold at any
    // corpus size (one global id-ordered fold would be a single task
    // holding every vector). v advances through a driver collect of 64
    // doubles per round (the collectProbeIds precedent: bounded driver
    // state, never row data). Normalization splits sqrt/divide in the
    // same pinned order both engines use. Start vector = 1/8 ones
    // (exact in binary); sign of the result is fixed by the iteration
    // itself.
    "v_pca_power" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val v = powerIterate(s, d)
      v.toSeq.zipWithIndex
        .map { case (x, i) => ((i + 1).toLong, x) }
        .toDF("idx", "pc_raw")
        .select($"idx", round($"pc_raw", 6).as("pc"))
        .orderBy("idx")
    }),

    // Common-component removal (the all-but-the-top post-processing of
    // Arora et al. 2017 / Mu & Viswanath 2018): project every embedding
    // off the v_pca_power component — e' = e − (e·v)v — reporting the
    // projection and residual norm. The iteration is shared code with
    // v_pca_power; the removal itself is one scan-side pass with the
    // component as a 64-double literal (no joins, nothing corpus-global
    // at query time).
    "v_pca_remove" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val sv = typedlit(powerIterate(s, d).toSeq)
      load(s, d, "embeddings")
        .select($"vec_id", $"embedding",
          aggregate(zip_with($"embedding", sv, (x, vj) => x.cast("double") * vj),
            lit(0.0), (a, b) => a + b).as("proj"))
        .select($"vec_id", round($"proj", 4).as("proj"),
          round(sqrt(aggregate(
            zip_with($"embedding", sv, (x, vj) =>
              (x.cast("double") - $"proj" * vj) *
                (x.cast("double") - $"proj" * vj)),
            lit(0.0), (a, b) => a + b)), 4).as("resid_norm"))
        .transform(graft.queries.DedupQueries.orderedLarge(_, "vec_id"))
    })
  )

  /** The shared 8-round power iteration behind v_pca_power and
    * v_pca_remove (one definition — the removal can never drift from
    * the component it removes). See v_pca_power's scaladoc for the
    * determinism contract. */
  private def powerIterate(s: SparkSession, d: String): Array[Double] = {
    import s.implicits._
    val dim = 64
    val e = load(s, d, "embeddings").select($"vec_id", $"embedding").cache()
    val zero = typedlit(Seq.fill(dim)(0.0))
    var v = Array.fill(dim)(1.0 / 8.0) // ones / ||ones||, exact
    (1 to 8).foreach { _ =>
      val sv = typedlit(v.toSeq)
      val scored = e.select($"vec_id", $"embedding",
        aggregate(zip_with($"embedding", sv, (x, vj) => x.cast("double") * vj),
          lit(0.0), (a, b) => a + b).as("s"))
      val buckets = scored
        .groupBy(expr("vec_id div 4096").as("bkt"))
        .agg(sort_array(collect_list(struct($"vec_id", $"s", $"embedding")))
          .as("lst"))
        .select($"bkt",
          aggregate($"lst", zero, (acc, p) =>
            zip_with(acc, p("embedding"),
              (a, x) => a + x.cast("double") * p("s"))).as("wb"))
      val w = buckets
        .agg(sort_array(collect_list(struct($"bkt", $"wb"))).as("l2"))
        .select(aggregate($"l2", zero,
          (acc, q) => zip_with(acc, q("wb"), (a, x) => a + x)).as("w"))
        .head().getSeq[Double](0).toArray
      val norm = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
      v = w.map(_ / norm)
    }
    e.unpersist()
    v
  }

  def oracles: Map[String, String] = rawOracles.map {
    // v_mmr's 8 greedy rounds chain sel1..sel8, each re-inlining the
    // whole shortlist derivation under DuckDB's CTE policy —
    // MATERIALIZED measured 3.6 → 0.6 s at sf0.01, identical result
    // (HashSql.materializeCtes scaladoc)
    case (k, sql) if k == "v_mmr" =>
      k -> graft.functions.HashSql.materializeCtes(sql)
    case kv => kv
  }

  private def rawOracles: Map[String, String] = Map(
    "v_l2_distance" ->
      """SELECT a.vec_id AS vec_id,
        |  round(list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS dist
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY vec_id""".stripMargin,

    "v_dot_product" ->
      """SELECT a.vec_id AS vec_id,
        |  round(list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS dp
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY vec_id""".stripMargin,

    "v_cosine_sim" ->
      """SELECT a.vec_id AS vec_id,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY vec_id""".stripMargin,

    "v_norm" ->
      """SELECT vec_id,
        |  round(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // MaxSim fully re-derived, no literals: dots as the kernels'
    // lane-4 fold (raw values feed max and rank, so the fold law
    // must match the native expression bit-for-bit — the dotSelfSql
    // precedent; list_inner_product's order is unspecified), maxima
    // summed in q_vec_id order exactly as the engine's bounded fold
    // (that one is the plan's own sequential fold, not the kernel).
    "v_maxsim_search" -> {
      import graft.operators.MaxSim.{GroupWidth, NumQueryVecs}
      val dotFold = graft.functions.FoldSql.lane4(
        "c.embedding[i]::DOUBLE * q.qv[i]::DOUBLE", 64)
      s"""WITH c AS (SELECT vec_id // $GroupWidth AS doc_group, vec_id, embedding
         |           FROM embeddings),
         |q AS (SELECT vec_id // $GroupWidth AS query_group, vec_id AS q_vec_id,
         |        embedding AS qv
         |      FROM embeddings WHERE vec_id < $NumQueryVecs),
         |mx AS (
         |  SELECT q.query_group, q.q_vec_id, c.doc_group,
         |    max($dotFold) AS mx
         |  FROM c CROSS JOIN q
         |  GROUP BY q.query_group, q.q_vec_id, c.doc_group),
         |sc AS (
         |  SELECT query_group, doc_group,
         |    list_reduce(list_prepend(0.0, list(mx ORDER BY q_vec_id)),
         |      (x, y) -> x + y) AS score
         |  FROM mx GROUP BY query_group, doc_group)
         |SELECT query_group, doc_group, rnk, score FROM (
         |  SELECT query_group, doc_group,
         |    row_number() OVER (PARTITION BY query_group
         |      ORDER BY score DESC, doc_group) AS rnk,
         |    round(score, 4) AS score
         |  FROM sc) WHERE rnk <= 5
         |ORDER BY query_group, rnk""".stripMargin
    },

    "v_knn_bruteforce" ->
      """SELECT query_id, neighbor_id, rnk, dist FROM (
        |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_distance(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), b.vec_id) AS rnk,
        |    round(list_distance(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
        |  FROM embeddings b CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
        |) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "v_mips_search" ->
      """SELECT query_id, neighbor_id, rnk, score FROM (
        |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY -list_inner_product(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), b.vec_id) AS rnk,
        |    round(list_inner_product(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS score
        |  FROM embeddings b CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
        |) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "v_range_search" ->
      """SELECT query_id, neighbor_id, dist FROM (
        |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    round(list_distance(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
        |  FROM embeddings b CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
        |  WHERE b.vec_id != q.vec_id
        |) WHERE dist < 1.2 ORDER BY query_id, neighbor_id""".stripMargin,

    // identical to v_norm's oracle: the fvecs write→read cycle must be
    // value-preserving, so norms from the fvecs path == norms from parquet
    "v_fvecs_roundtrip" ->
      """SELECT vec_id,
        |  round(sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "v_knn_batched" ->
      """SELECT query_id, neighbor_id, rnk, dist FROM (
        |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_distance(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), b.vec_id) AS rnk,
        |    round(list_distance(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
        |  FROM embeddings b CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % 5 = 0) q
        |) WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,

    "v_knn_self_pairs" -> {
      val cand = graft.operators.LshBuckets
        .bandedPairsSql("embeddings", "vec_id", "embedding", 64,
          bitsPerTable = graft.operators.LshBuckets.oracleBits)
      s"""WITH $cand
         |SELECT vec_a, vec_b, dist FROM (
         |  SELECT vec_a, vec_b,
         |    round(list_distance(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS dist
         |  FROM cand
         |  JOIN embeddings ea ON ea.vec_id = cand.vec_a
         |  JOIN embeddings eb ON eb.vec_id = cand.vec_b
         |) WHERE dist < 1.1 ORDER BY vec_a, vec_b""".stripMargin
    },

    // the knn oracle's ranked id lists, minus the distance column —
    // what survives the int32 ivecs cycle
    "v_ivecs_roundtrip" ->
      """SELECT query_id, rnk, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_distance(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), b.vec_id) AS rnk
        |  FROM embeddings b CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
        |) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "v_mmr" -> graft.operators.MmrSelect.oracleSql(
      nCandidates = 30, k = 8, lambda = 0.7, numQueries = NumQueries),

    // BM25 CTEs shared verbatim with t_bm25's oracle; the vector list
    // ranks by list_distance like every knn oracle (monotone with the
    // plan's squared-L2 heap). RRF arithmetic mirrors the plan op-for-op:
    // 1.0 / (rank+60)::DOUBLE, lexical term + vector term in that order.
    "v_rrf_fusion" ->
      s"""WITH ${TextQueries.bm25ScoredSql},
         |lex AS (
         |  SELECT id, lex_rnk FROM (
         |    SELECT doc_id AS id,
         |      row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rnk
         |    FROM bmsc WHERE score > 0)
         |  WHERE lex_rnk <= 100),
         |vec AS (
         |  SELECT id, vec_rnk FROM (
         |    SELECT b.vec_id AS id,
         |      row_number() OVER (ORDER BY
         |        list_distance(b.embedding::DOUBLE[], q.embedding::DOUBLE[]),
         |        b.vec_id) AS vec_rnk
         |    FROM embeddings b
         |    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
         |  WHERE vec_rnk <= 100),
         |fused AS (
         |  SELECT coalesce(l.id, v.id) AS id, l.lex_rnk, v.vec_rnk,
         |    coalesce(1.0 / (l.lex_rnk + 60)::DOUBLE, 0.0)
         |      + coalesce(1.0 / (v.vec_rnk + 60)::DOUBLE, 0.0) AS rrf
         |  FROM lex l FULL OUTER JOIN vec v ON l.id = v.id)
         |SELECT rnk, doc_id, rrf_score, lex_rnk, vec_rnk FROM (
         |  SELECT id AS doc_id, round(rrf, 6) AS rrf_score, lex_rnk, vec_rnk,
         |    row_number() OVER (ORDER BY rrf DESC, id) AS rnk
         |  FROM fused)
         |WHERE rnk <= 20 ORDER BY rnk""".stripMargin,

    "v_hybrid_search" ->
      """WITH delta AS (
        |  SELECT x.vec_id, y.embedding, 1 AS pri
        |  FROM embeddings x JOIN embeddings y ON y.vec_id = x.vec_id + 1
        |  WHERE x.vec_id % 5 = 0
        |), m AS (
        |  SELECT vec_id, max_by(embedding, pri) AS embedding FROM (
        |    SELECT vec_id, embedding, 0 AS pri FROM embeddings
        |    UNION ALL SELECT vec_id, embedding, pri FROM delta
        |  ) GROUP BY vec_id
        |), q AS (SELECT vec_id AS query_id, embedding AS qv FROM m WHERE vec_id < 8)
        |SELECT query_id, neighbor_id, rnk, dist FROM (
        |  SELECT q.query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_distance(b.embedding::DOUBLE[], q.qv::DOUBLE[]), b.vec_id) AS rnk,
        |    round(list_distance(b.embedding::DOUBLE[], q.qv::DOUBLE[]), 4) AS dist
        |  FROM m b CROSS JOIN q
        |) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "v_filtered_knn" ->
      """SELECT query_id, neighbor_id, rnk, dist FROM (
        |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_distance(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), b.vec_id) AS rnk,
        |    round(list_distance(b.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS dist
        |  FROM (SELECT * FROM embeddings WHERE label IN (1, 2, 3)) b
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
        |) WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,

    "v_centroids" ->
      """SELECT label, i - 1 AS idx, round(avg(embedding[i]), 4) AS v
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i ORDER BY label, idx""".stripMargin,

    // same halves split on the same count, same per-(label, era) dim
    // averages; the squared-diff reduction is the engine's EXACT left
    // fold from 0.0 (list_reduce over a dim-ordered list — a grouped
    // SUM may combine partials in engine-private order, and IEEE
    // addition is not associative). The per-dim avg itself is the
    // v_centroids-established risk class (round-4 absorbs partial-sum
    // ULPs).
    "v_centroid_drift" ->
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |e AS (SELECT label,
        |        CASE WHEN vec_id * 2 < n THEN 0 ELSE 1 END AS era, embedding
        |      FROM embeddings, nn),
        |p AS (SELECT label, era, count(*) AS pop FROM e GROUP BY label, era),
        |c AS (SELECT label, era, i, avg(embedding[i]) AS v
        |      FROM e, range(1, 65) t(i) GROUP BY label, era, i),
        |cl AS (SELECT label, era, list(v ORDER BY i) AS av
        |       FROM c GROUP BY label, era),
        |dd AS (SELECT c0.label, list_reduce(list_prepend(0.0,
        |         [(c0.av[i] - c1.av[i]) * (c0.av[i] - c1.av[i])
        |          for i in range(1, 65)]), (x, y) -> x + y) AS ss
        |       FROM cl c0 JOIN cl c1
        |         ON c0.label = c1.label AND c0.era = 0 AND c1.era = 1)
        |SELECT dd.label, p0.pop::BIGINT AS n_old, p1.pop::BIGINT AS n_new,
        |  round(sqrt(dd.ss), 4) AS drift
        |FROM dd
        |JOIN p p0 ON p0.label = dd.label AND p0.era = 0
        |JOIN p p1 ON p1.label = dd.label AND p1.era = 1
        |ORDER BY dd.label""".stripMargin,

    // same unique-seq max_by resolution, same tombstone filter
    "v_delete_merge" ->
      """WITH u AS (
        |  SELECT vec_id, label::BIGINT AS label, 0::BIGINT AS seq, 'put' AS op
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id, (label + 1000)::BIGINT, 1::BIGINT, 'put'
        |  FROM embeddings WHERE vec_id % 7 = 0
        |  UNION ALL
        |  SELECT vec_id, 0::BIGINT, 2::BIGINT, 'del'
        |  FROM embeddings WHERE vec_id % 11 = 0)
        |SELECT vec_id, label, last_seq FROM (
        |  SELECT vec_id, max_by(label, seq) AS label, max_by(op, seq) AS op,
        |    max(seq) AS last_seq
        |  FROM u GROUP BY vec_id)
        |WHERE op <> 'del' ORDER BY vec_id""".stripMargin,

    "v_insert_merge" ->
      """WITH u AS (
        |  SELECT vec_id, label::BIGINT AS label, 0 AS pri FROM embeddings
        |  UNION ALL
        |  SELECT vec_id, (label + 1000)::BIGINT AS label, 1 AS pri
        |  FROM embeddings WHERE vec_id % 7 = 0
        |)
        |SELECT vec_id, max_by(label, pri) AS label FROM u
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // the ENTIRE 8-round iteration re-derived (no engine literals):
    // same LTR dot fold, same two-level id/bucket-ordered vector sum,
    // same split normalization — any order-of-operations drift in
    // either engine breaks the hash
    "v_pca_power" ->
      s"""WITH $pcaRoundsSql
         |SELECT idx::BIGINT AS idx, round(v[idx], 6) AS pc
         |FROM v_8, (SELECT unnest(range(1, 65)) AS idx)
         |ORDER BY idx""".stripMargin,

    // same shared rounds string, then the projection/residual pass with
    // the UNROUNDED proj inside the residual — exactly as the plan
    "v_pca_remove" ->
      s"""WITH $pcaRoundsSql,
         |pr AS (
         |  SELECT vec_id, embedding,
         |    list_reduce(list_prepend(0.0,
         |      [embedding[i]::DOUBLE * v[i] for i in range(1, 65)]),
         |      (a, b) -> a + b) AS proj
         |  FROM embeddings, v_8)
         |SELECT vec_id, round(proj, 4) AS proj,
         |  round(sqrt(list_reduce(list_prepend(0.0,
         |    [(embedding[i]::DOUBLE - proj * v[i])
         |       * (embedding[i]::DOUBLE - proj * v[i])
         |     for i in range(1, 65)]), (a, b) -> a + b)), 4) AS resid_norm
         |FROM pr, v_8 ORDER BY vec_id""".stripMargin
  )

  /** The 8 unrolled power-iteration rounds (CTEs v_0..v_8) shared by
    * the v_pca_power and v_pca_remove oracles. */
  private def pcaRoundsSql: String = {
    val dim = 64
    val v0 = Seq.fill(dim)("0.125").mkString("[", ", ", "]")
    val rounds = (1 to 8).map { r =>
      s"""s_$r AS (
         |  SELECT vec_id, embedding,
         |    list_reduce(list_prepend(0.0,
         |      [embedding[i]::DOUBLE * v[i] for i in range(1, ${dim + 1})]),
         |      (a, b) -> a + b) AS s
         |  FROM embeddings, v_${r - 1}),
         |b_$r AS (
         |  SELECT vec_id // 4096 AS bkt,
         |    list(struct_pack(id := vec_id, s := s, x := embedding)
         |      ORDER BY vec_id) AS lst
         |  FROM s_$r GROUP BY 1),
         |wb_$r AS (
         |  SELECT bkt, [list_reduce(list_prepend(0.0,
         |      list_transform(lst, p -> p.x[j]::DOUBLE * p.s)),
         |      (a, b) -> a + b) for j in range(1, ${dim + 1})] AS wb
         |  FROM b_$r),
         |w_$r AS (
         |  SELECT [list_reduce(list_prepend(0.0,
         |      list_transform(l2, q -> q.wb[j])), (a, b) -> a + b)
         |    for j in range(1, ${dim + 1})] AS w
         |  FROM (SELECT list(struct_pack(bkt := bkt, wb := wb)
         |          ORDER BY bkt) AS l2 FROM wb_$r)),
         |v_$r AS (
         |  SELECT list_transform(w, x -> x / sqrt(list_reduce(
         |    list_prepend(0.0, list_transform(w, y -> y * y)),
         |    (a, b) -> a + b))) AS v
         |  FROM w_$r)""".stripMargin
    }.mkString(",\n")
    s"""v_0 AS (SELECT $v0 AS v),
       |$rounds""".stripMargin
  }
}
