package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shims

/** Connected components by label-graph contraction — the transitive
  * closure step at the end of every real dedup pipeline (pair/keeper
  * edges only say "these two match"; dedup must keep ONE doc per
  * **component** of the match graph, or chains A~B~C keep both A and C).
  *
  * Each round works on the LABEL graph, not the node graph: every label
  * merges into the minimum of its neighborhood, node labels are mapped
  * through this round's merges, and the edge list is rewritten through
  * them too — self-loops vanish, so the edge set shrinks geometrically
  * (a dense near-dup component collapses to its minimum in 2–3 rounds;
  * a pure path needs O(log n), the pointer-jumping bound — naive
  * min-label propagation is O(diameter) full-size rounds and measured
  * 6× slower on the sf0.1 near-dup graph). Every round is a bounded
  * node-or-edge-keyed shuffle: nothing quadratic, and the same loop
  * holds on a 1000-executor cluster. Lineage is cut per round with a
  * lazy localCheckpoint; termination is "no label edges remain", and
  * hitting maxIter first throws rather than returning a silently
  * partial clustering.
  *
  * The fixpoint is deterministic — min node id per component — so the
  * result is independent of iteration count, partitioning, and
  * scheduling, which is what lets a recursive-CTE oracle verify it.
  */
object ConnectedComponents {

  /** (idCol) → (id, component) where component = min node id reachable
    * through `edges` (undirected; pass each pair once in either
    * direction). Nodes absent from `edges` form singleton components.
    *
    * `smallFinish`: once the LABEL graph (distinct cross-label edges —
    * ≤ #components being merged, shrinking geometrically per round, NOT
    * the node edge set) fits under this many edges, finish it with one
    * bounded driver-side union-find and a broadcast label map instead
    * of paying O(log n) more full shuffle rounds on near-empty data —
    * the coarsen-then-finish shape of multilevel graph algorithms. At
    * 100 TB the first rounds run distributed; the tail always lands
    * here. 2²⁰ edges collect as primitive Long pairs — tens of MB of
    * transient driver heap, well under any realistic driver budget; 0
    * disables the finish (pure distributed loop, spec-compared).
    *
    * `validateNodes`: the throw-don't-degrade guard that every edge
    * endpoint exists in `nodes`. It costs one full pass over the edge
    * set, so a call site where endpoints ⊆ nodes holds BY CONSTRUCTION
    * (both frames projected from the same source) may pass false; any
    * edge set of independent provenance must keep the default. Passing
    * false also forgoes the zero-round small finish — the shortcut is
    * only provably equivalent to the loop on a validated edge set.
    *
    * `trustedEndpoints`: declares endpoints ⊆ nodes BY CONSTRUCTION —
    * both frames are projections of the same source, so the validation
    * pass would re-prove a tautology against corpus-scale data. Skips
    * the check while KEEPING the bounded finish: the finish/loop
    * equivalence needs only the subset property itself, not the means
    * by which it is established. Only for same-source call sites;
    * edges of independent provenance must use `validateNodes`. */
  def minLabel(nodes: DataFrame, idCol: String, edges: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 20,
      smallFinish: Int = 1 << 20, validateNodes: Boolean = true,
      trustedEndpoints: Boolean = false): DataFrame =
    minLabelBounded(nodes, idCol, edges, aCol, bCol, maxIter, smallFinish,
      validateNodes, trustedEndpoints, edgesPerTask)

  /** Edge rows one contraction task may hold: the loop's shuffle width
    * is at least nEdges / this. Executor heap, not driver: an (a, b)
    * edge row costs ~100 B as a collected Row (SizeEstimator) and 24 B
    * in Spark's binary rows, so ~12 MB of edge rows per task at the
    * bound, several times that as join and sort state. */
  final val edgesPerTask = 500_000L

  /** [[minLabel]] with the per-task edge bound as a parameter, so a
    * spec can force the widened loop on a small graph. */
  private[graft] def minLabelBounded(nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String, maxIter: Int,
      smallFinish: Int, validateNodes: Boolean, trustedEndpoints: Boolean,
      edgesPerTask: Long): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    require(smallFinish >= 0, s"smallFinish must be >= 0, got $smallFinish")
    val spark = nodes.sparkSession
    import spark.implicits._
    var labels = nodes
      .select(col(idCol).cast("long").as("id"), col(idCol).cast("long").as("lab"))
      .localCheckpoint(false)
    // the ORIGINAL node edges, contracted through current labels every
    // round. Carrying the contracted edge set forward instead is only
    // sound when labels are idempotent (lab∘lab = lab) — one compress
    // step leaves label chains, an edge recorded against label L then
    // diverges from nodes whose labels already evolved past L, and
    // whole components silently split (observed: a 100-node chain
    // "converged" to 40 components). Contracting the fixed edge set
    // keeps endpoints as original nodes, so no such drift can exist.
    // EDGE-scale checkpoints go MEMORY_AND_DISK_SER: the default level
    // holds the materialized partitions as DESERIALIZED row arrays in
    // the storage region, and at sf10's 70M-edge near-dup graph two or
    // three checkpoint generations (eo + a round's alive/e2) are
    // several GiB each — the named cause of the 16 GiB-heap OOM in the
    // component store build (store:jcomp, task-side OutOfMemoryError).
    // SERIALIZED blocks are the bounded footprint that fixed it (r12
    // shipped DISK_ONLY); letting those same serialized blocks stay in
    // the storage region when there's room — spilling under pressure
    // instead of unconditionally round-tripping every generation
    // through disk — recovers most of the warm-heap speed (DISK_ONLY
    // measured 61.0 s cold at 16 g vs 20.8 s warm at 64 g on
    // d_dedup_cluster's jcomp rebuild) while the heap bound is the
    // same: blocks are byte arrays either way, and eviction under
    // memory pressure is Spark's, not the collector's. Each edge frame
    // is scanned at most twice per round and never joined hot; the
    // NODE-scale label frames keep the default level — they are the
    // per-round join side.
    val EdgeLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    var eo = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter($"a" =!= $"b").distinct().localCheckpoint(false, EdgeLevel)
    // an edge endpoint absent from `nodes` would be silently dropped by
    // the contraction joins below — a partial clustering with no error,
    // against this operator's throw-don't-degrade contract. Costs one
    // pass over the edges; skippable ONLY where endpoints ⊆ nodes holds
    // by construction (see scaladoc).
    val endpointsKnown = validateNodes || trustedEndpoints
    if (validateNodes && !trustedEndpoints) {
      val orphans = eo.select($"a".as("id")).union(eo.select($"b".as("id")))
        .distinct().join(labels.select($"id"), Seq("id"), "left_anti")
      require(orphans.head(1).isEmpty,
        "edges reference node ids absent from the nodes DataFrame")
    }
    // zero-round finish: labels start as identity, so the first round's
    // LABEL graph is exactly eo — if that already fits the bounded
    // finish, the contraction joins would be pure stage overhead (each
    // round is ~6 tiny shuffle stages; on an already-small graph that
    // overhead dominates the whole operator). The count rides the eo
    // checkpoint it forces either way; big graphs fall through to the
    // distributed loop unchanged. Gated on validateNodes: the collected
    // union-find would happily merge components THROUGH an orphan
    // endpoint that the loop's contraction joins drop — with endpoints
    // ⊆ nodes known (checked or by declared construction) the two
    // paths are provably identical; otherwise only the loop runs (no
    // size-dependent semantic fork).
    val nEdges = eo.count() // rides the checkpoint it forces either way
    if (smallFinish > 0 && endpointsKnown && nEdges <= smallFinish) {
      val mapDf = unionFindMap(spark, eo.as[(Long, Long)].collect())
      return labels.join(mapDf, Seq("lab"), "left")
        .select($"id", coalesce($"root", $"lab").as("component"))
    }
    // Scale-adaptive contraction width (guide §2/§5): AQE coalesces
    // small shuffle stages DOWN but can never split ABOVE
    // spark.sql.shuffle.partitions — with the session default at the
    // core count, the second decade's 70 M-edge contraction joins ran
    // 2 M+ edges of join/sort state per task and a cold 32-task 16 g
    // run died of heap (the r14 SCALE_sf10 OOM, reproduced at head).
    // Bound per-task edge mass instead: run the loop's plans on a
    // session clone whose shuffle width is nEdges / edgesPerTask (never
    // below the caller's), and let AQE coalesce healthy rounds back
    // down. The fixpoint is partitioning-independent (min-label,
    // exact), so this is pure memory shaping. A clone, not a write to
    // the caller's conf: that session may be planning other queries
    // meanwhile (ComponentsSpec polls it during a widened call).
    val spKey = "spark.sql.shuffle.partitions"
    val callerSp = spark.conf.get(spKey).toLong
    val wantSp =
      math.min(20_000L, math.max(callerSp, nEdges / edgesPerTask + 1))
    val loop =
      if (wantSp > callerSp) Shims.cloneWith(spark, spKey -> wantSp.toString)
      else spark
    labels = Shims.onSession(loop, labels)
    eo = Shims.onSession(loop, eo)
    var iter = 0
    var converged = false
    while (!converged) {
      // label-graph edges: original edges whose endpoints currently
      // carry different labels; empty ⇔ labels constant per component.
      // Same-label edges are dropped from eo PERMANENTLY — merged
      // classes never re-split, so most edges (intra-cluster ones)
      // stop being rejoined after the first round.
      //
      // ROUND 1 SHORTCUT: labels enter as identity (la = a, lb = b for
      // every edge), so the two contraction joins and the distinct are
      // identity maps over an already-distinct a≠b edge set — three
      // corpus-scale shuffles of pure overhead (measured at sf10's
      // 70M-edge near-dup graph: the closure leg dominates the
      // d_dedup_cluster floor, and round 1 is its biggest slice).
      // Valid ONLY with endpoints ⊆ nodes known: for unvalidated edges
      // the round-1 joins are load-bearing (they DROP orphan-endpoint
      // edges; merging through them would corrupt labels), so that
      // path keeps the full join round.
      val e2 =
        if (iter == 0 && endpointsKnown) eo
        else {
          val alive = eo
            .join(labels.select($"id".as("a"), $"lab".as("la")), "a")
            .join(labels.select($"id".as("b"), $"lab".as("lb")), "b")
            .filter($"la" =!= $"lb")
            .localCheckpoint(false, EdgeLevel)
          eo = alive.select($"a", $"b")
          alive.select($"la".as("a"), $"lb".as("b")).distinct()
            // counted AND scanned twice in sym
            .localCheckpoint(false, EdgeLevel)
        }
      val nLabelEdges = e2.count()
      if (nLabelEdges == 0L) { converged = true }
      // no endpoint gate HERE: the contraction joins above already
      // dropped any edge with an endpoint outside `nodes`, so the
      // label graph is valid by construction inside the loop
      else if (nLabelEdges <= smallFinish && smallFinish > 0) {
        // bounded finish: the label graph fits — close it exactly with
        // one driver union-find (roots are always the component-min
        // label, so the final root IS the min node id) and map every
        // node label through the broadcast result. Same fixpoint as
        // letting the loop run; ComponentsSpec compares the two paths.
        val mapDf = unionFindMap(loop, e2.as[(Long, Long)].collect())
        labels = labels.join(mapDf, Seq("lab"), "left")
          .select($"id", coalesce($"root", $"lab").as("lab"))
        converged = true
      } else {
        // cap counts MERGE rounds; the convergence probe after the
        // final merge must still run (a graph needing exactly maxIter
        // rounds converges, it does not throw)
        require(iter < maxIter,
          s"connected components did not converge within $maxIter rounds")
        val sym = e2.union(e2.select($"b".as("a"), $"a".as("b")))
        // merge: each label adopts the min of its neighborhood (and self)
        val upd = sym.groupBy($"a").agg(min($"b").as("mn"))
          .select($"a".as("oldLab"), least($"a", $"mn").as("newLab"))
          .filter($"oldLab" =!= $"newLab")
        val merged = labels
          .join(upd.withColumnRenamed("oldLab", "lab"), Seq("lab"), "left")
          .select($"id", coalesce($"newLab", $"lab").as("lab"))
          .localCheckpoint(false)
        // compress (pointer jumping): lab ← lab(lab). Without it a path
        // graph moves ONE hop per round (O(n) rounds); jumping halves
        // label-chain depth every round, giving the O(log n) bound.
        labels = merged
          .join(merged.select($"id".as("lab"), $"lab".as("lab2")),
            Seq("lab"), "left")
          .select($"id", coalesce($"lab2", $"lab").as("lab"))
          .localCheckpoint(false)
        iter += 1
      }
    }
    Shims.onSession(spark, labels.select($"id", $"lab".as("component")))
  }

  /** Driver union-find over a bounded edge list → broadcast (lab, root)
    * map. Union-by-min, so every root is the minimum id reachable in
    * the collected graph — the fixpoint the distributed loop converges
    * to. Backed by a PRIMITIVE open-addressing long→long table: the
    * boxed-HashMap form allocated millions of java.lang.Long boxes on
    * dense edge sets (726k collected edges measured 1–5 s, the
    * variance pure GC; primitive probing is a steady ~50 ms). */
  private def unionFindMap(spark: org.apache.spark.sql.SparkSession,
      pairs: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new LongLongMap(math.max(16, pairs.length * 2))
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val nxt = parent.get(c); parent.put(c, r); c = nxt
      }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val mapped = parent.keysArray().map(l => (l, find(l))).toSeq
    broadcast(mapped.toDF("lab", "root"))
  }

  /** Minimal open-addressing long→long map (linear probing, power-of-2
    * capacity, load ≤ 0.5). Keys are node ids; Long.MinValue is the
    * empty sentinel (node ids are non-negative doc/vec ids — asserted
    * on put). Driver-side only, bounded by the smallFinish contract. */
  private final class LongLongMap(expected: Int) {
    private var cap = java.lang.Integer.highestOneBit(
      math.max(16, expected * 2) - 1) << 1
    private var keys = Array.fill[Long](cap)(Long.MinValue)
    private var vals = new Array[Long](cap)
    private var n = 0
    private def idx(k: Long): Int = {
      var h = (k * -7046029254386353131L) >>> (64 - java.lang.Integer
        .numberOfTrailingZeros(cap))
      var i = h.toInt
      while (keys(i) != Long.MinValue && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }
    def get(k: Long): Long = vals(idx(k))
    def getOrDefault(k: Long, dflt: Long): Long = {
      val i = idx(k); if (keys(i) == k) vals(i) else dflt
    }
    def put(k: Long, v: Long): Unit = {
      require(k != Long.MinValue, "Long.MinValue key is reserved")
      var i = idx(k)
      if (keys(i) != k) {
        keys(i) = k; n += 1
        if (n * 2 > cap) { grow(); i = idx(k) } // slot moved with the table
      }
      vals(i) = v
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals
      cap <<= 1
      keys = Array.fill[Long](cap)(Long.MinValue)
      vals = new Array[Long](cap)
      var i = 0
      while (i < ok.length) {
        if (ok(i) != Long.MinValue) { val j = idx(ok(i)); keys(j) = ok(i); vals(j) = ov(i) }
        i += 1
      }
    }
    def keysArray(): Array[Long] = keys.filter(_ != Long.MinValue)
  }
}
