package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.GraftVector._
import graft.Route

/** Graph-traversal ANN search — the distributable analog of the
  * reference's HNSW beam search (/root/reference/include/hnsw_index.h:268-330:
  * greedy descent to an entry point, then best-first expansion over a
  * neighbor graph with an ef-bounded result heap).
  *
  * A literal HNSW port is the wrong shape for Spark — its search walks
  * one node at a time through pointer-chased adjacency, a latency
  * design for a single address space. The same *semantics* re-expressed
  * set-at-a-time: a persisted kNN-graph edge TABLE, an entry point per
  * query (the medoid of its nearest coarse centroid — the "layer-0
  * entry" role HNSW's upper layers play), and a fixed number of
  * BEAM-EXPANSION rounds — each round expands the current beam through
  * the edge table, scores candidates by exact L2, and keeps the ef best
  * per query. Every round is two broadcast-side equi-joins (the beam is
  * |Q|·ef rows — always the broadcast side; the edge and vector tables
  * are the big sides, hit by key), so on a 1000-executor cluster each
  * hop is a map-side probe of the partitioned graph, never a shuffle of
  * it. Fixed rounds instead of converge-detection keeps the operator
  * deterministic and lets an unrolled-CTE oracle replicate it hop for
  * hop; ranks everywhere break ties by node id, so the whole traversal
  * is a pure function of the persisted artifacts.
  */
object GraphSearch {

  /** The approximate kNN graph: every vector probes its `nprobe`
    * nearest persisted-IVF centroids and keeps the `k` nearest members
    * found there (self-pairs dropped before ranking). Output:
    * (vec_id, neighbor_id, rnk, dist) — the v_knn_graph frame. */
  def knnGraph(s: SparkSession, ivfDir: String, e: DataFrame,
      k: Int = 5, nprobe: Int = 2): DataFrame = {
    import s.implicits._
    KnnSearch.ranked(probedPairs(s, ivfDir, e,
        s.read.parquet(s"$ivfDir/assignments"), nprobe),
      "query_id", l2Sq($"nv", $"qv"), $"neighbor_id", k)
      .withColumnRenamed("query_id", "vec_id")
  }

  /** The deepest upper layer the level hash can size exactly: the
    * avalanche modulus 999983 bounds the hash codomain below 2^20, and
    * 8^6 = 262144 is the last power-of-8 bucket inside it — beyond
    * level 6 the geometric law P(≥l) = 8^-l degrades to P(h2 = 0).
    * The reference makes the same move with a constant
    * (hnsw_node.h:12 MAX_HNSW_LEVELS = 16 caps get_random_level); six
    * upper layers cover a ~33M-vector corpus at the ≥2 occupancy law
    * ([[levelsFor]]) — past that, shard the id space (the same
    * guidance [[levelCol]] gives for ids beyond int64 exactness). */
  val MaxUpperLevels = 6

  /** Data-sized upper-layer count — the distributed analog of the
    * reference's max_level_ (hnsw_index.h: max over get_random_level
    * draws, i.e. the deepest layer the corpus actually populates,
    * capped by MAX_HNSW_LEVELS). A drawn max is insert-order state a
    * distributed build doesn't have, so the count comes from the same
    * geometric law the draws follow: the deepest level whose EXPECTED
    * occupancy n/8^l is still ≥ 2 (a 1-node layer is legal — it is
    * the reference's own top — but adds a no-op descent stage), so
    * L(n) = max{l : 2·8^l ≤ n}, clamped to [1, MaxUpperLevels].
    * Growth is logarithmic: 10× the corpus adds ~1.1 layers — the
    * structure ADDS LAYERS rather than widening one, which is what
    * keeps the descent O(log n) hops at any scale. */
  def levelsFor(n: Long): Int = {
    var l = 1
    while (l < MaxUpperLevels && 2L * math.pow(8, l + 1).toLong <= n) l += 1
    l
  }

  /** Deterministic HNSW level assignment (hnsw_index.h:get_random_level
    * draws level = floor(-ln(u)·1/ln(M)) — geometric occupancy
    * P(level≥l) = M^-l). A distributed build can't thread an RNG
    * through insert order, so the level is a pure function of the id:
    * a multiplicative hash folded through a prime modulus, a
    * mid-square avalanche pass, then power-of-two buckets —
    * P(≥l) = 8^-l for l ≤ `maxLevel` (M=8; the buckets nest because
    * 8^l | 8^(l+1)). Both folds matter: `id % 8` alone would tie
    * layer membership to data generation order, and the
    * multiplicative step alone keeps lattice structure (sequential
    * ids land in arithmetic progressions, measured: all top-layer
    * nodes in 2 of 8 planted clusters) — squaring breaks the
    * linearity. Exact in int64 for ids < ~3.4e9 (beyond that, shard
    * the id space before assignment); exact geometric occupancy for
    * maxLevel ≤ [[MaxUpperLevels]] (the avalanche modulus bounds the
    * codomain). */
  def levelCol(id: Column, maxLevel: Int): Column = {
    require(maxLevel >= 1 && maxLevel <= MaxUpperLevels,
      s"maxLevel=$maxLevel outside [1, $MaxUpperLevels]")
    val h = pmod(id * lit(2654435761L), lit(1000003L))
    val h2 = pmod(h * h + h, lit(999983L))
    (maxLevel to 1 by -1).foldLeft(Option.empty[Column]) { (acc, l) =>
      val cond = pmod(h2, lit(math.pow(8, l).toLong)) === 0
      Some(acc.fold(when(cond, l))(_.when(cond, l)))
    }.get.otherwise(0)
  }

  /** Per-layer probe budget: sparser layers must probe more coarse
    * clusters to find any same-layer neighbors (level-l occupancy is
    * n/8^l, so the expected same-layer candidates per cluster fall
    * geometrically), growing 4× per level until the budget covers the
    * whole centroid table — the topmost layers probe ALL clusters,
    * which at their occupancy is still a vanishing row count. */
  def hnswNprobe(level: Int, nClusters: Int): Int =
    math.min(nClusters.toLong, 1L << (2 * level)).toInt

  /** Membership test for the level-≥l slice. Because the level buckets
    * nest (8^l | 8^(l+1)), "level ≥ l" is a single divisibility test
    * independent of the hierarchy's total depth — the predicate every
    * layer filter uses, so a store built at one L and read at another
    * agrees on every slice. */
  def levelAtLeast(id: Column, l: Int): Column = {
    require(l >= 1 && l <= MaxUpperLevels, s"level $l outside [1, $MaxUpperLevels]")
    val h = pmod(id * lit(2654435761L), lit(1000003L))
    val h2 = pmod(h * h + h, lit(999983L))
    pmod(h2, lit(math.pow(8, l).toLong)) === 0
  }

  /** One of HNSW's sparse upper layers as an edge table: a kNN graph
    * over the level-≥`minLevel` nodes, pruned by the reference's
    * SELECT-NEIGHBORS HEURISTIC (hnsw_index.h:add_neighbor_inplace —
    * scan candidates nearest-first, keep c only if it is closer to the
    * node than to every already-kept neighbor, backfill nearest
    * rejected to k). The heuristic is what makes the descent work at
    * all: plain k-nearest edges cluster-collapse (every edge
    * short-range, the graph disconnects across density modes and a
    * greedy walk can never cross), while the diversity rule forces
    * each node's edge budget to SPREAD — the long-range bridges
    * Malkov & Yashunin's paper motivates. Candidates come from the
    * same IVF probe rule as [[knnGraph]], pre-truncated to a bounded
    * `shortlist` (the ef_construction analog — keeps per-node state
    * bounded at any corpus size); `nprobe` is per-layer because
    * sparser layers must probe more clusters to find any same-layer
    * neighbors (the topmost probes all of them — at n/8^l occupancy
    * still a vanishing slice, and a 100 TB build adds layers rather
    * than widening one). The fold is scan-side (one shuffle to group
    * the shortlist, then pure array expressions — no UDF). */
  def layerGraph(s: SparkSession, ivfDir: String, e: DataFrame,
      minLevel: Int, k: Int = 3, nprobe: Int = 4,
      shortlist: Int = 32): DataFrame = {
    import s.implicits._
    val nodes = e.filter(levelAtLeast($"vec_id", minLevel))
    val members = s.read.parquet(s"$ivfDir/assignments")
      .filter(levelAtLeast($"vec_id", minLevel))
    layerGraphFrames(s, ivfDir, e, nodes, members, k, nprobe, shortlist)
  }

  /** The layered-index INSERT rule for one upper layer (hnsw_index.h's
    * add, restricted to layers ≤ the new node's level: find the layer
    * neighborhood, select with the diversity heuristic, link): the
    * `batch` nodes at level ≥ `minLevel` run the SAME probe → shortlist
    * → select-neighbors fold the layer BUILD runs ([[layerGraph]]),
    * with `existingAssigns` supplying candidates — the caller passes
    * assignments with the not-yet-inserted batch filtered out, the
    * v_graph_insert masking discipline. Insert-equals-rebuild by
    * construction: a batch node's selected adjacency is exactly what a
    * fresh [[layerGraph]] over existing∪{node} would give it, so the
    * unioned-in edges never drift from the build rule. Scale shape:
    * identical to the build (the batch rides the probe side; members
    * are hit by cluster key). */
  def layerInsert(s: SparkSession, ivfDir: String, e: DataFrame,
      batch: DataFrame, existingAssigns: DataFrame, minLevel: Int,
      k: Int = 3, nprobe: Int = 4, shortlist: Int = 32): DataFrame = {
    import s.implicits._
    val nodes = batch.filter(levelAtLeast($"vec_id", minLevel))
    val members = existingAssigns.filter(levelAtLeast($"vec_id", minLevel))
    layerGraphFrames(s, ivfDir, e, nodes, members, k, nprobe, shortlist)
  }

  /** The probe → shortlist → select-neighbors-heuristic core shared by
    * the layer BUILD ([[layerGraph]]) and the layer INSERT
    * ([[layerInsert]]): `nodes` carry (vec_id, embedding) — the rows
    * whose adjacency is being computed; `members` carry
    * (vec_id, embedding, cluster_id) — the candidate pool (the insert
    * path pre-masks its batch out). `e` supplies candidate embeddings
    * for the pairwise diversity checks (candidates ⊆ members ⊆ e). */
  private def layerGraphFrames(s: SparkSession, ivfDir: String,
      e: DataFrame, nodes: DataFrame, members: DataFrame, k: Int,
      nprobe: Int, shortlist: Int): DataFrame = {
    import s.implicits._
    val sl = probedPairs(s, ivfDir, nodes, members, nprobe)
      .groupBy($"query_id")
      .agg(topK(l2Sq($"nv", $"qv"), $"neighbor_id", shortlist).as("sl"))
    // re-attach candidate embeddings (bounded: shortlist rows/node) for
    // the pairwise diversity checks, sorted by (d, id) = scan order
    val cands = sl.select($"query_id", explode($"sl").as("c"))
      .select($"query_id", $"c.score".as("d"), $"c.id".as("id"))
      .join(e.select($"vec_id".as("id"), $"embedding".as("cemb")), "id")
      .groupBy($"query_id")
      .agg(sort_array(collect_list(struct($"d", $"id", $"cemb"))).as("cands"))
    // the heuristic: left-fold in scan order; keep iff closer to the
    // node than to every kept neighbor (ties keep, as the reference's
    // strict `<` reject). slice(...,1,0) = the empty accumulator of
    // the right struct type.
    val sel = aggregate($"cands", slice($"cands", 1, 0), (acc, c) =>
      when(size(acc) >= k, acc)
        .when(forall(acc, kept =>
            l2Sq(c.getField("cemb"), kept.getField("cemb")) >= c.getField("d")),
          concat(acc, array(c)))
        .otherwise(acc))
    val withSel = cands.select($"query_id", $"cands", sel.as("sel"))
    val selIds = transform($"sel", x => x.getField("id"))
    val fin = slice(concat($"sel",
      filter($"cands", c => !array_contains(selIds, c.getField("id")))), 1, k)
    withSel.select($"query_id".as("vec_id"), posexplode(fin))
      .select($"vec_id", $"col.id".as("neighbor_id"),
        ($"pos" + 1).cast("long").as("rnk"),
        round(sqrt($"col.d"), 4).as("dist"))
  }

  /** Every `nodes` row (vec_id, embedding) paired with the `members`
    * (vec_id, embedding, cluster_id) of its nprobe nearest persisted-IVF
    * centroids' clusters, self-pairs dropped: (cluster_id, query_id, qv,
    * neighbor_id, nv) — the candidates of the kNN-graph build
    * ([[knnGraph]]) and of the layer build and insert
    * ([[layerGraphFrames]]). */
  private def probedPairs(s: SparkSession, ivfDir: String, nodes: DataFrame,
      members: DataFrame, nprobe: Int): DataFrame = {
    import s.implicits._
    val cent = s.read.parquet(s"$ivfDir/centroids")
      .select($"cluster_id", $"centroid")
    // |cent|× expansion per row — parallelism must not be left to
    // byte-based split sizing (Expand.floorParallelism scaladoc).
    // The query vector RIDES the probe row (first() within the
    // vec_id group — all rows of a group carry the same embedding):
    // scoring then happens AT the members join and the per-row
    // fan-out dies in the same stage's partial top-k, so only
    // |queries|×k result rows ever cross a shuffle. The r7 shape
    // joined qv back AFTER the fan-out instead — re-shuffling
    // population×queries candidate rows, each dragging a 260-byte
    // neighbor embedding, by query_id (~30 GB at sf10 for a 100 MB
    // corpus; the single plan change the second-decade probe paid
    // for most dearly).
    val probes = Expand.floorParallelism(nodes).crossJoin(broadcast(cent))
      .groupBy($"vec_id")
      .agg(topK(l2Sq($"embedding", $"centroid"), $"cluster_id".cast("long"),
        nprobe).as("ps"),
        first($"embedding").as("qv"))
      .select($"vec_id".as("query_id"), $"qv",
        explode(transform($"ps", p => p.getField("id"))).as("cluster_id"))
    // the members join fans out cluster-population × probing-queries
    // rows — k× either input, invisible to both byte-based split
    // sizing AND AQE coalescing/broadcast planning. BOTH sides get an
    // AQE-exempt floor: the probes repartition pins the sort-merge
    // path, the members floor pins the broadcast path (AQE turning
    // the small probes side into a BHJ would otherwise run the whole
    // fan-out over the members SCAN's packed splits — measured at
    // sf10: one task, 31 cores idle).
    Expand.pinJoinParallelism(probes, $"cluster_id")
      .join(Expand.floorParallelism(members
        .select($"vec_id".as("neighbor_id"), $"embedding".as("nv"),
          $"cluster_id".cast("long").as("cluster_id"))), "cluster_id")
      .filter($"neighbor_id" =!= $"query_id")
  }

  /** Per-cluster medoids — the entry-point table: for each cluster, the
    * member nearest its own centroid (ties by vec_id). k rows. */
  def medoids(s: SparkSession, ivfDir: String): DataFrame = {
    import s.implicits._
    val cent = s.read.parquet(s"$ivfDir/centroids")
      .select($"cluster_id".cast("long").as("cluster_id"), $"centroid")
    medoidsOf(s.read.parquet(s"$ivfDir/assignments"), cent)
  }

  /** [[medoids]] over a caller-supplied assignments frame — the ONE
    * definition of the medoid rule (nearest-own-centroid member, ties
    * by vec_id); the insert path passes assignments with the
    * not-yet-inserted batch filtered out. `cent` must carry
    * (cluster_id long, centroid). */
  def medoidsOf(assignments: DataFrame, cent: DataFrame): DataFrame = {
    val s = assignments.sparkSession
    import s.implicits._
    assignments
      .select($"vec_id", $"embedding", $"cluster_id".cast("long").as("cluster_id"))
      .join(broadcast(cent), "cluster_id")
      .groupBy($"cluster_id")
      .agg(topK(l2Sq($"embedding", $"centroid"), $"vec_id", 1).as("m"))
      .select($"cluster_id", element_at($"m", 1).getField("id").as("medoid_id"))
  }

  /** Beam search over the persisted graph: entry = the medoids of each
    * query's `entries` nearest centroids (multi-entry — a query near a
    * cluster boundary starts a frontier in BOTH plausible clusters, the
    * role HNSW's upper-layer descent plays in picking a good layer-0
    * entry; single-entry measured recall@10 0.84 vs ≥0.9 multi-entry on
    * the clustered spec fixture); then `hops` rounds of
    * expand-through-edges → exact-L2 score → keep-ef; final answer =
    * the k best of the last scored candidate set (k ≤ ef, so this
    * equals the k best of the final beam).
    * Output: (query_id, neighbor_id, rnk, dist). */
  def search(s: SparkSession, ivfDir: String, graphDir: String,
      e: DataFrame, q: DataFrame, k: Int, ef: Int, hops: Int,
      entries: Int = 2): DataFrame = {
    import s.implicits._
    val cent = s.read.parquet(s"$ivfDir/centroids")
      .select($"cluster_id", $"centroid")
    val med = s.read.parquet(s"$graphDir/medoids")
    val stored = s.read.parquet(s"$graphDir/edges")
      .select($"vec_id".as("node"), $"neighbor_id")
    searchFrames(s, cent, med, stored, e, q, k, ef, hops, entries)
  }

  /** [[search]] over caller-supplied centroid/medoid/edge FRAMES — the
    * insert path masks "not yet inserted" rows out of each of them and
    * reuses the identical traversal (the reference's soft-delete
    * filtering: hnsw marks nodes deleted and skips them during search,
    * it never restructures the graph per query). */
  def searchFrames(s: SparkSession, cent: DataFrame, med: DataFrame,
      stored: DataFrame, e: DataFrame, q: DataFrame, k: Int, ef: Int,
      hops: Int, entries: Int = 2): DataFrame = {
    require(k <= ef, s"k=$k must be <= ef=$ef")
    require(hops >= 1, s"hops must be >= 1, got $hops")
    require(entries >= 1, s"entries must be >= 1, got $entries")
    import s.implicits._
    val vecs = e.select($"vec_id".as("node"), $"embedding".as("nv"))
    finalTopK(beamLoop(undirected(stored), vecs, q,
      entryBeam(cent, med, q, entries), ef, hops), k)
  }

  /** Entry beam: `entries` nearest centroids per query (rank by
    * (d, cluster_id)) → each cluster's medoid. Distinct medoids by
    * construction (a medoid is a member of its own cluster). ONE
    * definition shared by [[searchFrames]] and [[sweep]] — the
    * sweep≡search law depends on it. */
  private def entryBeam(cent: DataFrame, med: DataFrame, q: DataFrame,
      entries: Int): DataFrame = {
    val s = cent.sparkSession
    import s.implicits._
    q.crossJoin(broadcast(cent))
      .groupBy($"query_id")
      .agg(topK(l2Sq($"qv", $"centroid"), $"cluster_id".cast("long"), entries)
        .as("c"))
      .select($"query_id",
        explode(transform($"c", x => x.getField("id"))).as("cluster_id"))
      .join(broadcast(med), "cluster_id")
      .select($"query_id", $"medoid_id".as("node"))
  }

  /** Every stored a→b edge followed both ways, the role of HNSW's
    * reverse links (its insert wires b→a for every a→b). A directed
    * 5-NN graph strands low in-degree nodes — no out-path reaches
    * them — and measured recall@10 0.86 on the clustered spec fixture
    * vs ≥0.9 undirected. `stored` carries (node, neighbor_id). */
  private def undirected(stored: DataFrame): DataFrame = {
    val s = stored.sparkSession
    import s.implicits._
    stored.union(
      stored.select($"neighbor_id".as("node"), $"node".as("neighbor_id")))
  }

  /** Driver-resident rounds serve batches up to this many queries; a
    * larger batch routes to the distributed reduction. Serving batches
    * are bounded by the request (|Q| ≈ 80 here, a few hundred at most
    * anywhere), but the INSERT / compact / delta batches scale with
    * the corpus (4 % of it at the insert entries' contract — 20 k at
    * sf10, ~2 M at 100×), and per round the driver path materializes
    * and sorts |Q|·ef·(deg+1) boxed rows on ONE thread: measured at
    * sf10, v_graph_insert 10.7 → 37.3 s when r12 routed everything
    * driver-side. 1024 comfortably covers every serving shape while
    * sending corpus-scaled batches to the distributed aggregate
    * ([[beamLoopDistributed]]); BeamPathLawSpec forces either side
    * through [[graft.Route.forcing]] (key `beam.driver`).
    *
    * Driver heap: a collected 64-d query row costs ~1.4 KB (its floats
    * are boxed; SizeEstimator on sf0.01 embeddings) and a 256-d one
    * ~5.2 KB, so the collected batch is ≤ ~1.4 MB (≤ ~5.4 MB at
    * 256-d). */
  private[graft] final val driverBeamMaxQ = 1024

  /** Collect a bounded query frame and re-plant it as a LocalRelation,
    * so every later broadcast of it is a driver-memory copy instead of
    * a scheduled re-scan job. The layered descent and the ef-sweep run
    * their rounds on the driver-resident engine UNCONDITIONALLY (their
    * callers are bounded serving shapes), so a corpus-scaled query
    * frame must fail loudly here rather than funnel single-threaded
    * through driver state — the guard [[beamLoop]] implements by
    * routing, expressed as a require where no distributed twin exists
    * (so no forcing applies). Collects at most maxQ+1 rows. */
  private def localDfBounded(df: DataFrame, what: String): DataFrame = {
    val maxQ = driverBeamMaxQ
    val head = df.limit(maxQ + 1).collect()
    require(head.length <= maxQ,
      s"$what: query batch exceeds GraphSearch.driverBeamMaxQ=$maxQ rows — " +
        "the driver-resident beam engine serves bounded batches only; " +
        "route corpus-scaled batches through the distributed beam loop")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(head: _*), df.schema)
  }

  /** The expand→score→keep-ef beam loop from a caller-supplied entry
    * beam (query_id, node) — shared by the medoid-entry search, the
    * layered descent, and the insert path. Returns the final scored
    * frame (query_id, beam: array⟨(score,id)⟩ ranked by (d, node)).
    *
    * Routes by |Q| ([[driverBeamMaxQ]], key `beam.driver`): bounded
    * serving batches run the driver-resident rounds ([[beamRounds]] —
    * collects the entry beam and query vectors once; both are the
    * broadcast sides of every round's joins, i.e. they were ALREADY
    * driver-collected each round, a broadcast IS a collect), and
    * corpus-scaled batches run the distributed TopKByScore reduction
    * so no per-round keep-ef ever runs single-threaded over
    * corpus-sized state. Both paths implement the same rounds and the
    * same greedy-stabilization skip; BeamPathLawSpec pins bit-equality
    * on a forced-path pair. */
  private def beamLoop(edges: DataFrame, vecs: DataFrame, q: DataFrame,
      entry: DataFrame, ef: Int, hops: Int): DataFrame = {
    val s = edges.sparkSession
    Route.collectUpTo("beam.driver", q, driverBeamMaxQ) match {
      case Some(qHead) =>
        val qLocal = s.createDataFrame(
          java.util.Arrays.asList(qHead: _*), q.schema)
        val (rows, schema) = beamRounds(edges, vecs, qLocal,
          entry.collect(), ef, hops)
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case None => beamLoopDistributed(edges, vecs, q, entry, ef, hops)
    }
  }

  /** Past this many beam rows (|Q|·ef) the distributed rounds drop
    * their broadcast hints (key `beam.broadcast`; see
    * [[beamLoopDistributed]]). Driver heap: a (query_id, node) beam
    * row costs ~100 B as a collected Row (SizeEstimator) and 24 B in
    * the broadcast's binary form, so a broadcast at the cap builds a
    * ~1.2 GB relation on the driver (plus hash-table overhead) — a cap
    * under Spark's 8 GB broadcast limit, not under a small driver's
    * heap. */
  private[graft] final val beamBroadcastMaxRows = 50_000_000L

  /** The distributed beam rounds — the corpus-scaled-batch path: the
    * beam/candidate frames stay the broadcast PROBE side of each
    * round's joins against the corpus-scale edge/vector tables
    * (map-side BHJ, no shuffle of the big sides), but the per-query
    * keep-ef is the TopKByScore partial aggregate — map-side heaps,
    * |Q|-way parallel — instead of driver arithmetic. Lineage is cut
    * per hop (the scored beam is |Q|·ef rows, but lazy it is a plan
    * containing every earlier hop). The greedy-stabilization skip
    * (beamRounds scaladoc: kept beam ⊆ expanded beam ⇒ every later
    * round re-derives the same frame) costs one bounded anti-join
    * probe per round here and saves the remaining rounds' corpus
    * probes. At 100× the insert batch, everything in this loop is
    * partition-parallel; the broadcast beam is the |batch|-bounded
    * frame the insert contract already ships to every executor. */
  private def beamLoopDistributed(edges: DataFrame, vecs: DataFrame,
      q: DataFrame, entry: DataFrame, ef: Int, hops: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // the query vectors are re-joined every round: pin them once so
    // each round is a probe of materialized rows, not a parquet re-scan
    val qc = q.localCheckpoint(true)
    // Broadcast ceiling (SURVEY §3): each round re-broadcasts the
    // |Q|·ef beam and its ≤ |Q|·ef·(deg+1) expansion — right for every
    // measured batch (the insert contract ships the batch to executors
    // anyway), but a 100× batch (~2 M queries × ef 10) pushes the
    // per-hop broadcast toward the 8 GB relation cap and driver-memory
    // limits. Past beamBroadcastMaxRows (on |Q|·ef, counted once
    // off the pinned query frame) the hints DROP and each round's
    // joins key-shuffle the beam against the edge/vector tables
    // instead — slower per hop, memory-safe at any batch size.
    val hintB = Route.fits("beam.broadcast", qc.count() * ef,
      beamBroadcastMaxRows)
    def maybeB(df: DataFrame): DataFrame = if (hintB) broadcast(df) else df
    var beam = entry.localCheckpoint(true)
    var scored: DataFrame = null
    var hop = 0
    var stable = false
    while (hop < hops && !stable) {
      hop += 1
      val cand = beam.union(
          edges.join(maybeB(beam), "node")
            .select($"query_id", $"neighbor_id".as("node")))
        .distinct()
      scored = vecs.join(maybeB(cand), "node")
        .join(maybeB(qc), "query_id")
        .groupBy($"query_id")
        .agg(topK(l2Sq($"nv", $"qv"), $"node", ef).as("beam"))
        .localCheckpoint(true)
      val newBeam = scored.select($"query_id",
        explode(transform($"beam", x => x.getField("id"))).as("node"))
        .localCheckpoint(true)
      if (hop < hops) {
        // subset probe: any kept node NOT already in the expanded beam?
        stable = newBeam
          .join(beam, Seq("query_id", "node"), "left_anti")
          .head(1).isEmpty
      }
      beam = newBeam
    }
    scored
  }

  /** The beam-round engine with DRIVER-RESIDENT beam state. The beam is
    * |Q|·ef (query_id, node) rows and is by declared shape ALWAYS the
    * broadcast side of every join — so it lives on the driver whenever
    * a round runs regardless; keeping it there BETWEEN rounds changes
    * no data movement, but collapses a round from ~4 scheduler jobs
    * (beam broadcast build, candidate broadcast build, query re-scan,
    * eager lineage checkpoint) to 2 (candidate broadcast build + the
    * scored aggregate), with the corpus-scale edge/vector sides still
    * only ever PROBED by key, never shuffled. At test scale the
    * layered family's cost is driver scheduling, not data — this is
    * what recovers it; at cluster scale the shape is unchanged.
    *
    * It also makes the reference's greedy-descent stabilization
    * (hnsw_index.h:268-330 — the walk stops when the frontier stops
    * improving) free driver arithmetic: when a round's kept beam is a
    * SUBSET of the beam it expanded, the next round's candidate set
    * (newBeam ∪ N(newBeam)) is a subset of this round's AND still
    * contains this round's top-ef winners, so its top-ef is provably
    * the SAME set — every remaining round re-derives the identical
    * scored frame and is skipped. Bit-identical results (the oracle
    * replays the full unrolled rounds; the skipped ones are no-ops by
    * the subset argument, per query, since a global subset implies
    * every per-query subset). */
  private def beamRounds(edges: DataFrame, vecs: DataFrame,
      qLocal: DataFrame, entryRows: Array[Row], ef: Int,
      hops: Int): (Array[Row], StructType) = {
    val s = edges.sparkSession
    import s.implicits._
    val qidType = qLocal.schema("query_id").dataType
    val beamSchema = new StructType().add("query_id", qidType)
      .add("node", LongType)
    // (query_id, node) pairs as driver state; dedup driver-side exactly
    // as the old plan's cand.distinct() deduped before the aggregate
    var beam: Array[(Any, Long)] = entryRows.map(r =>
      (r.get(0), r.get(1) match {
        case l: Long => l
        case i: Int => i.toLong
        case other => other.asInstanceOf[Long]
      })).distinct
    // final scored state per query: the ef best (d, node), ascending
    // (d, node) — TopKByScore's exact order
    var scored: Array[(Any, Seq[(Double, Long)])] = null
    var hop = 0
    var stable = false
    while (hop < hops && !stable) {
      hop += 1
      val beamDf = s.createDataFrame(java.util.Arrays.asList(
        beam.map { case (q, n) => Row(q, n) }: _*),
        beamSchema)
      // ONE action per round (the r13 shape paid two — collect the
      // expansion, then score it in a second job, each with its own
      // analysis/planning pass; measured at sf0.1 the layered entries
      // spent more wall between jobs than in them): the expansion
      // probes the corpus-scale edge table with the broadcast beam
      // (map-side BHJ, no shuffle of the big side), feeds the
      // broadcast build of the score join directly, and the score job
      // probes the vector table with it — same codegen'd l2Sq, same
      // ≤ |Q|·ef·(maxDegree+1) collected bound. The beam's own nodes
      // are scored in-plan only on hop 1; later hops merge the beam's
      // (d, node) pairs from the previous round's driver state — the
      // identical doubles the plan would recompute (beam = exactly the
      // previous scored top-ef). Duplicate (query, node) expansion rows
      // carry identical d and collapse in the driver map, exactly as
      // cand.distinct() collapsed them before scoring.
      val nbrsPlan = edges.join(broadcast(beamDf), "node")
        .select($"query_id", $"neighbor_id".as("node"))
      val candPlan = if (hop == 1) beamDf.union(nbrsPlan) else nbrsPlan
      val sc = vecs.join(broadcast(candPlan), "node")
        .join(broadcast(qLocal), "query_id")
        .select($"query_id", $"node", l2Sq($"nv", $"qv").as("d")).collect()
      val merged = scala.collection.mutable.LinkedHashMap
        .empty[Any, scala.collection.mutable.HashMap[Long, Double]]
      sc.foreach { r =>
        merged.getOrElseUpdate(r.get(0),
            scala.collection.mutable.HashMap.empty[Long, Double])
          .update(r.getLong(1), r.getDouble(2))
      }
      if (hop > 1) scored.foreach { case (qid, bs) =>
        val m = merged.getOrElseUpdate(qid,
          scala.collection.mutable.HashMap.empty[Long, Double])
        bs.foreach { case (d, n) => m.update(n, d) }
      }
      scored = merged.iterator.map { case (qid, m) =>
        qid -> m.iterator.map { case (n, d) => (d, n) }.toSeq
          .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
          .take(ef).toSeq
      }.toArray
      val newBeam = scored.flatMap { case (qid, bs) =>
        bs.map(b => (qid, b._2)) }
      if (hop < hops) {
        val old = beam.toSet
        stable = newBeam.forall(old)
      }
      beam = newBeam
    }
    val rows = scored.map { case (qid, bs) =>
      Row(qid, bs.map(b => Row(b._1, b._2))) }
    (rows, new StructType().add("query_id", qidType)
      .add("beam", TopKByScore.resultType))
  }

  /** (query_id, neighbor_id, rnk, dist) off a scored beam frame. */
  private def finalTopK(scored: DataFrame, k: Int): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    scored
      .select($"query_id", posexplode($"beam"))
      .filter($"pos" < k)
      .select($"query_id", $"col.id".as("neighbor_id"),
        ($"pos" + 1).cast("long").as("rnk"),
        round(sqrt($"col.score"), 4).as("dist"))
  }

  /** [[searchFrames]] with the query node EXCLUDED from its own result
    * — the re-link search of graph compaction: an affected node (one
    * that lost tombstoned out-edges) queries the masked graph for its
    * new adjacency, and being a live graph member it would otherwise
    * capture rank 1 at d = 0. The self row is dropped from the final
    * ef-beam and the survivors re-ranked, so k ≤ ef − 1 slots always
    * fill from genuine neighbors. Same scale shape as [[searchFrames]]
    * (the re-rank window runs over ef-bounded arrays, never the
    * corpus). */
  def relinkFrames(s: SparkSession, cent: DataFrame, med: DataFrame,
      stored: DataFrame, e: DataFrame, q: DataFrame, k: Int, ef: Int,
      hops: Int, entries: Int = 2): DataFrame = {
    require(k <= ef - 1, s"k=$k must be <= ef-1=${ef - 1} (self may fill a slot)")
    import s.implicits._
    val vecs = e.select($"vec_id".as("node"), $"embedding".as("nv"))
    val scored = beamLoop(undirected(stored), vecs, q,
      entryBeam(cent, med, q, entries), ef, hops)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"d", $"neighbor_id")
    scored.select($"query_id", explode($"beam").as("c"))
      .select($"query_id", $"c.id".as("neighbor_id"), $"c.score".as("d"))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($"rnk" <= k)
      .select($"query_id", $"neighbor_id", $"rnk",
        round(sqrt($"d"), 4).as("dist"))
  }

  /** The ef-sweep evaluation form of [[search]]: one traversal per ef
    * in `efs`, sharing what is provably ef-independent — the entry
    * beam, and the HOP-1 SCORED SET (hop 1's candidates are
    * entry ∪ N(entry) for every ef, and the ranking is one total
    * order, so each ef's hop-1 beam is just the top-ef PREFIX of the
    * max-ef scored array). Each sweep point continues hops 2..H from
    * its prefix — decision-for-decision identical to an independent
    * [[search]] at that ef (the oracle replays the independent form),
    * at 2 fewer expansion rounds per extra sweep point. */
  def sweep(s: SparkSession, ivfDir: String, graphDir: String,
      e: DataFrame, q: DataFrame, k: Int, efs: Seq[Int], hops: Int,
      entries: Int = 2): Seq[(Int, DataFrame)] = {
    require(efs.nonEmpty && k <= efs.min, s"k=$k must be <= min ef")
    import s.implicits._
    val cent = s.read.parquet(s"$ivfDir/centroids")
      .select($"cluster_id", $"centroid")
    val med = s.read.parquet(s"$graphDir/medoids")
    val stored = s.read.parquet(s"$graphDir/edges")
      .select($"vec_id".as("node"), $"neighbor_id")
    val edges = undirected(stored)
    val vecs = e.select($"vec_id".as("node"), $"embedding".as("nv"))
    // queries localize once for the whole sweep; the shared hop-1
    // scored set and each point's ef-prefix are driver arrays (the
    // prefix law: one total order, so each ef's hop-1 beam is the
    // top-ef PREFIX of the max-ef scored array)
    val qL = localDfBounded(q, "GraphSearch.sweep")
    val (s1rows, s1schema) = beamRounds(edges, vecs, qL,
      entryBeam(cent, med, q, entries).collect(), efs.max, 1)
    efs.map { ef =>
      val scored =
        if (hops <= 1) {
          val sliced = s1rows.map(r => Row(
            r.get(0), r.getSeq[Row](1).take(ef)))
          s.createDataFrame(java.util.Arrays.asList(sliced: _*), s1schema)
        } else {
          val b1 = s1rows.flatMap { r =>
            r.getSeq[Row](1).take(ef).map(c =>
              Row(r.get(0), c.getLong(1)))
          }
          val (rr, rs) = beamRounds(edges, vecs, qL, b1, ef, hops - 1)
          s.createDataFrame(java.util.Arrays.asList(rr: _*), rs)
        }
      ef -> finalTopK(scored, k)
    }
  }

  /** The number of upper layers a persisted [[graft.operators.IndexStore.hnsw]]
    * store carries — read from its one-row `meta` table, so readers
    * never re-derive the sizing law against a corpus that may have
    * grown since the build. */
  def storedLevels(s: SparkSession, hnswDir: String): Int =
    s.read.parquet(s"$hnswDir/meta").collect()(0).getInt(0)

  /** The full layered search (hnsw_index.h:268-330: greedy descent from
    * the global entry point through the sparse upper layers, then an
    * ef-beam search at layer 0). Set-at-a-time: each upper layer is a
    * persisted edge table over its level-≥l nodes ([[layerGraph]]), the
    * descent is the SAME beam loop with a width-`descentEf` beam
    * (ef=1 is the reference's greedy walk; 2 keeps a fallback frontier
    * the way the layer-0 search keeps `entries` medoids), and the final
    * layer-1 beam IS the layer-0 entry — replacing v_graph_search's
    * medoid entry with the structure the reference actually descends.
    * The layer COUNT is data-sized ([[levelsFor]], persisted in the
    * store's meta), so the descent stays O(log n) hops as the corpus
    * grows — the structure adds layers, it never widens one. Every
    * layer's loop is |Q|·descentEf broadcast rows probing
    * key-partitioned edge tables — the upper layers add O(hops·log n)
    * tiny barrier stages, never a corpus-scale shuffle. */
  def hnswSearch(s: SparkSession, hnswDir: String, graphDir: String,
      e: DataFrame, q: DataFrame, k: Int, ef: Int, hops: Int,
      descentEf: Int = 2, descentHops: Int = 2): DataFrame = {
    val levels = storedLevels(s, hnswDir)
    hnswSearchFrames(s,
      (levels to 1 by -1).map(l => s.read.parquet(s"$hnswDir/layer$l")),
      s.read.parquet(s"$hnswDir/entry"),
      s.read.parquet(s"$graphDir/edges"),
      e, q, k, ef, hops, descentEf, descentHops)
  }

  /** [[hnswSearch]] over caller-supplied layer-edge/entry/graph FRAMES
    * — the delete path masks the tombstoned slice out of every layer's
    * edges (both endpoints), recomputes the entry over live top-layer
    * nodes, and reuses the identical traversal: the reference's
    * soft-delete filtering applied per layer, zero index mutation.
    * `upperLayers` carry (vec_id, neighbor_id) ordered TOP layer
    * first (the descent order); `entryDf` one (node) row. */
  def hnswSearchFrames(s: SparkSession, upperLayers: Seq[DataFrame],
      entryDf: DataFrame, stored0: DataFrame, e: DataFrame, q: DataFrame,
      k: Int, ef: Int, hops: Int, descentEf: Int = 2,
      descentHops: Int = 2): DataFrame = {
    require(k <= ef, s"k=$k must be <= ef=$ef")
    require(upperLayers.nonEmpty, "need at least one upper layer")
    import s.implicits._
    val vecs = e.select($"vec_id".as("node"), $"embedding".as("nv"))
    def layerEdges(df: DataFrame) = undirected(
      df.select($"vec_id".as("node"), $"neighbor_id"))
    // the descent threads the frontier through the layers as DRIVER
    // state (≤ |Q|·descentEf rows — the broadcast side everywhere, so
    // driver-resident by definition): queries and entry collect ONCE,
    // each layer's rounds run on [[beamRounds]], and the surviving
    // frontier REPLACES the medoid entry for the layer-0 ef-beam with
    // no per-layer explode/checkpoint plumbing in between.
    val qL = localDfBounded(q, "GraphSearch.hnswSearchFrames")
    // the global entry point: the min-id node of the top layer (the
    // reference's enter_point_ is "first insert to reach the top
    // level" — insert order doesn't exist distributed, min id does)
    val entryNodes = entryDf.select($"node").collect()
    val qids = qL.select($"query_id").collect()
    var frontier = for (qr <- qids; en <- entryNodes)
      yield Row(qr.get(0), en.get(0))
    for (layer <- upperLayers) {
      val (rows, _) = beamRounds(layerEdges(layer), vecs, qL, frontier,
        descentEf, descentHops)
      frontier = rows.flatMap { r =>
        r.getSeq[Row](1).map(c =>
          Row(r.get(0), c.getLong(1)))
      }
    }
    val stored = stored0.select($"vec_id".as("node"), $"neighbor_id")
    val (fr, fs) = beamRounds(undirected(stored), vecs, qL, frontier, ef, hops)
    finalTopK(s.createDataFrame(java.util.Arrays.asList(fr: _*), fs), k)
  }
}
