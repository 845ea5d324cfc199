package graft.operators

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** Build-once persistence for the ANN indexes — the separation the
  * reference enforces structurally (an HNSW graph is built by inserts and
  * then SERVES queries — /root/reference/include/engine.h never re-builds
  * per search). Re-fitting KMeans/codebooks inside every query entry made
  * round-1 "search" numbers ~90 % build cost; at scale build-per-query is
  * nonsense. Index layout:
  *
  *   <tmp>/graft-index/<sfKey>/ivf16/centroids/            (k rows)
  *   <tmp>/graft-index/<sfKey>/ivf16/assignments/cluster_id=N/…
  *   <tmp>/graft-index/<sfKey>/pq8x16/codebooks/           (sub×code rows)
  *   <tmp>/graft-index/<sfKey>/pq8x16/codes/               (one row/vector)
  *
  * Assignments are written `partitionBy(cluster_id)` so an nprobe search
  * is a physically pruned scan (the IvfPartitionPruningSpec pattern, now
  * wired into the real operator). `sfKey` folds in the source file's
  * mtime/size so a regenerated dataset can never serve a stale index.
  */
object IndexStore {

  def root: String = sys.props.getOrElse("graft.index.dir",
    new File(sys.props("java.io.tmpdir"), "graft-index").getPath)

  /** `body` with [[root]] at `dir`, then the previous root back. The
    * root is a JVM property: for a process that builds in one place at
    * a time (a spec, the probe CLI). */
  private[graft] def withRoot[T](dir: String)(body: => T): T = {
    val prev = sys.props.get("graft.index.dir")
    sys.props("graft.index.dir") = dir
    try body finally prev match {
      case Some(p) => sys.props("graft.index.dir") = p
      case None => sys.props.remove("graft.index.dir")
    }
  }

  /** Build-recipe version, folded into every cache key: bump when an
    * index BUILD algorithm changes (e.g. the r8 hash-uniform training
    * sample; v4 = the population-bounded graph coarse store) so
    * artifacts persisted by an older build can never serve a newer
    * engine. */
  private val BuildVersion = 4

  /** Cache key folding in the source parquet's mtime/size so regenerated
    * data self-invalidates (shared by every derived-artifact cache —
    * pass the table the artifact actually derives from). */
  private[graft] def sfKey(sfDir: String,
      srcTable: String = "embeddings"): String = {
    val src = new File(sfDir, s"$srcTable.parquet")
    val stamp = Option(src.listFiles()).map(_.map(f => f.lastModified ^ f.length)
      .foldLeft(0L)(_ ^ _)).getOrElse(src.lastModified ^ src.length)
    sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + "-v" + BuildVersion +
      "-" + java.lang.Long.toHexString(stamp)
  }

  private val lock = new Object
  private def done(dir: String, parts: String*): Boolean =
    parts.forall(p => new File(s"$dir/$p/_SUCCESS").exists)

  /** Ensure the IVF index for `sfDir` exists on disk; returns its path.
    * Build is the sampled-Lloyd 100 TB path (coarse centroids saturate at
    * ~10⁴ training points; full-corpus Lloyd passes are waste). */
  def ivf(spark: SparkSession, sfDir: String, k: Int = 16): String =
    lock.synchronized {
      // "m": assignments carry metadata (label) — the filtered-ANN
      // contract is that payload columns ride IN the index partitions,
      // so a metadata predicate pushes into the pruned scan instead of
      // forcing a corpus-wide id-join at query time
      val dir = s"$root/${sfKey(sfDir)}/ivf${k}m"
      if (!done(dir, "centroids", "assignments")) {
        val e = Tables.load(spark, sfDir, "embeddings")
        val (cent, assign) = IvfIndex.buildSampled(e, "vec_id", "embedding", k)
        cent.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
        // one shuffle on cluster_id before the partitioned write — without
        // it every task writes a file per cluster (tasks × k tiny files)
        assign.select("vec_id", "embedding", "cluster_id")
          .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
          .repartition(col("cluster_id"))
          .write.partitionBy("cluster_id").mode("overwrite")
          .parquet(s"$dir/assignments")
      }
      dir
    }

  /** Ensure the PQ index (codebooks + per-vector codes) exists on disk. */
  def pq(spark: SparkSession, sfDir: String, dim: Int = 64,
      numSub: Int = 8, codebookSize: Int = 16): String =
    lock.synchronized {
      val dir = s"$root/${sfKey(sfDir)}/pq${numSub}x$codebookSize"
      if (!done(dir, "codebooks", "codes")) {
        val e = Tables.load(spark, sfDir, "embeddings")
        val (books, codes) = PqIndex.build(e, "vec_id", "embedding",
          dim = dim, numSub = numSub, codebookSize = codebookSize)
        books.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
        codes.write.mode("overwrite").parquet(s"$dir/codes")
      }
      dir
    }

  /** Ensure the SQ8 index (per-dim quantization grid + byte codes)
    * exists on disk. The grid fit is a single min/max pass — in a real
    * ingestion pipeline it is fused with the load, never recomputed per
    * query. */
  def sq8(spark: SparkSession, sfDir: String): String =
    scalarQuantized(spark, sfDir, "sq8", levels = 255)

  /** Int4 sibling of [[sq8]] (levels = 15, 8× at-rest): same grid, same
    * encode, same ADC/refine machinery — one rung coarser. */
  def sq4(spark: SparkSession, sfDir: String): String =
    scalarQuantized(spark, sfDir, "sq4", levels = 15)

  private def scalarQuantized(spark: SparkSession, sfDir: String,
      name: String, levels: Int): String =
    lock.synchronized {
      val dir = s"$root/${sfKey(sfDir)}/$name"
      if (!done(dir, "grid", "codes")) {
        val e = Tables.load(spark, sfDir, "embeddings")
        Sq8Index.buildGrid(e, "embedding", levels)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/grid")
        val (mins, scales) =
          Sq8Index.gridArrays(spark.read.parquet(s"$dir/grid"))
        Sq8Index.encode(e, "vec_id", "embedding", mins, scales, levels)
          .write.mode("overwrite").parquet(s"$dir/codes")
      }
      dir
    }

  /** The population-BOUNDED IVF store: [[ivf]]'s sampled build followed
    * by [[IvfBalance.balance]], so no cluster's population exceeds
    * `maxPop` — the residual-skew repair chooseK can't make (a dense
    * mode under-represented in the global training sample gets giant
    * clusters no matter how k is sized; the second-decade probe
    * measured 2 of 782 clusters holding 37 % of the corpus, an O(pop²)
    * bill for every probe and graph build touching them). Same layout
    * as [[ivf]] plus (parent_id, method) on the centroid rows. */
  def ivfBalanced(spark: SparkSession, sfDir: String, k: Int,
      targetPop: Int = 256, maxPop: Int = 1024): String =
    lock.synchronized {
      val dir = s"$root/${sfKey(sfDir)}/ivf${k}mbal$targetPop-$maxPop"
      if (!done(dir, "centroids", "centroids0", "assignments")) {
        val e = Tables.load(spark, sfDir, "embeddings")
        val (cent0, assign0) =
          IvfIndex.buildSampled(e, "vec_id", "embedding", k)
        val (cent, assign) = IvfBalance.balance(cent0, assign0,
          "vec_id", "embedding", targetPop, maxPop)
        // the PRE-balance coarse centroids, kept beside the balanced
        // table: the audit trail an oracle needs to replay the whole
        // derivation (base argmin → sub argmin → salt hash)
        cent0.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids0")
        cent.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
        assign.select("vec_id", "embedding", "cluster_id")
          .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
          .repartition(col("cluster_id"))
          .write.partitionBy("cluster_id").mode("overwrite")
          .parquet(s"$dir/assignments")
      }
      dir
    }

  /** The GRAPH family's coarse quantizer: k sized by the corpus
    * ([[IvfIndex.chooseK]]) so the kNN-graph build's per-row candidate
    * list (n·nprobe/k) stays bounded — the O(n²/k) wall the SCALE_sf1
    * artifact measured at fixed k (knnGraph 41× for 10× data) — and,
    * past oracle scale, populations bounded by [[ivfBalanced]] (the
    * second-decade probe's residual-skew wall: right k, wrong
    * populations). At oracle scale (sf0.01: 2,000 vectors) chooseK
    * floors at the suite's pinned k=16 and this resolves to the SAME
    * unbalanced ivf16m store the oracle gate's literal-centroid CTEs
    * embed; past that the graph build path self-sizes AND self-bounds.
    * Memoized per sfKey (which folds in the source mtime/size) so the
    * count runs once per dataset. */
  private val corpusNMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Embedding-corpus row count, memoized per sfKey (which folds in the
    * source mtime/size, so regenerated data re-counts) — the input every
    * corpus-self-sizing law shares (graph coarse k, LSH bucket bits). */
  def corpusN(spark: SparkSession, sfDir: String): Long =
    corpusNMemo.getOrElseUpdate(sfKey(sfDir),
      Tables.load(spark, sfDir, "embeddings").count())

  /** [[corpusN]] without a Spark session: sums row counts straight from
    * the parquet footers (a file or a directory of part files). The
    * oracle-SQL renderers size their CTEs with this — it shares the
    * mtime-stamped memo with the engine side, and a missing or
    * unreadable dataset FAILS here (no silent fallback: an oracle sized
    * for the wrong corpus produces confusing hash mismatches; a loud
    * error at render time names the real problem). */
  def corpusNFromFooters(sfDir: String): Long =
    corpusNMemo.getOrElseUpdate(sfKey(sfDir), {
      val conf = new org.apache.hadoop.conf.Configuration()
      val root = new File(sfDir, "embeddings.parquet")
      require(root.exists(), s"no embeddings.parquet under $sfDir")
      // recursive: a partitioned dataset nests part files under
      // subdirectories — a top-level-only listing would silently
      // undercount, exactly the quiet wrong-sizing this method's
      // fail-loudly contract exists to prevent
      def walk(f: File): Seq[File] =
        if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
        else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      val files = walk(root)
      require(files.nonEmpty, s"no parquet part files under $root")
      files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    })

  def graphIvf(spark: SparkSession, sfDir: String): String = {
    val k = IvfIndex.chooseK(corpusN(spark, sfDir))
    if (k <= 16) ivf(spark, sfDir, k) else ivfBalanced(spark, sfDir, k)
  }

  /** Ensure the persisted kNN GRAPH artifact (the reference's navigable
    * graph re-expressed as tables): `edges` — every vector's k nearest
    * neighbors found through nprobe IVF probes (the v_knn_graph frame,
    * written partitioned only by parquet's own row groups; search joins
    * it BY KEY with a broadcast beam, so no layout constraint) — and
    * `medoids` — one entry-point row per cluster. Built once from the
    * persisted [[graphIvf]] coarse index; [[GraphSearch.search]] only
    * reads. */
  def knnGraph(spark: SparkSession, sfDir: String, k: Int = 5,
      nprobe: Int = 2): String =
    lock.synchronized {
      val dir = s"$root/${sfKey(sfDir)}/knng${k}x$nprobe"
      if (!done(dir, "edges", "medoids")) {
        val ivfDir = graphIvf(spark, sfDir)
        val e = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        GraphSearch.knnGraph(spark, ivfDir, e, k, nprobe)
          .write.mode("overwrite").parquet(s"$dir/edges")
        GraphSearch.medoids(spark, ivfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/medoids")
      }
      dir
    }

  /** The COMPACTED sibling of [[knnGraph]]: a copy of the base graph
    * with the (delMod, delResidue) tombstone slice folded out and the
    * under-filled nodes re-linked ([[GraphCompaction.compact]] run
    * in-place on the copy — the real sibling-dir/atomic-swap machinery,
    * exercised against a store of its own so the shared graph the other
    * entries search stays untouched). `_COMPACTED` marks completion
    * separately from the parquet `_SUCCESS`es: the seed copy also
    * writes those, and a crash between copy and compact must re-run the
    * compaction, not serve the uncompacted copy. */
  def knnGraphCompacted(spark: SparkSession, sfDir: String,
      delMod: Int, delResidue: Int, k: Int = 5, nprobe: Int = 2): String =
    lock.synchronized {
      val dir = s"$root/${sfKey(sfDir)}/knng${k}x${nprobe}del$delMod-$delResidue"
      val marker = new File(s"$dir/_COMPACTED")
      if (!marker.exists) {
        graft.streaming.IvfDeltaIngest.deleteRecursively(new File(dir))
        val base = knnGraph(spark, sfDir, k, nprobe)
        val ivfDir = graphIvf(spark, sfDir)
        spark.read.parquet(s"$base/edges")
          .write.mode("overwrite").parquet(s"$dir/edges")
        spark.read.parquet(s"$base/medoids")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/medoids")
        val e = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        GraphCompaction.compact(spark, ivfDir, dir, e,
          c => pmod(c, lit(delMod)) === delResidue, k = k)
        marker.createNewFile()
      }
      dir
    }

  /** Ensure the RESIDUAL IVF-PQ lists (the FAISS IndexIVFPQ default:
    * PQ trained on and encoding r = x − centroid(x), not raw x —
    * within a cluster the residuals concentrate near zero, so the same
    * 8-byte budget spends its codebook resolution on a far smaller
    * spread; ADC on residuals still estimates ‖x−q‖ because both sides
    * subtract the SAME probed centroid). Layout mirrors [[ivfpq]]:
    * `codebooks` (residual-trained) + `lists` (codes inside cluster
    * partitions). Residuals are float32 subtraction — replicated
    * exactly in the oracle (DuckDB REAL arithmetic is IEEE float32). */
  def ivfpqResidual(spark: SparkSession, sfDir: String, k: Int = 16,
      dim: Int = 64, numSub: Int = 8, codebookSize: Int = 16): String =
    lock.synchronized {
      val dir = s"$root/${sfKey(sfDir)}/ivfpqr$k-${numSub}x$codebookSize"
      if (!done(dir, "codebooks", "lists")) {
        val ivfDir = ivf(spark, sfDir, k)
        val cent = spark.read.parquet(s"$ivfDir/centroids")
          .select(col("cluster_id").cast("int").as("cluster_id"),
            col("centroid"))
        val res = spark.read.parquet(s"$ivfDir/assignments")
          .select(col("vec_id"), col("embedding"),
            col("cluster_id").cast("int").as("cluster_id"))
          .join(broadcast(cent), "cluster_id")
          .select(col("vec_id"), col("cluster_id"),
            zip_with(col("embedding"), col("centroid"),
              (a, b) => a - b).as("residual"))
        val (books, codes) = PqIndex.build(res, "vec_id", "residual",
          dim = dim, numSub = numSub, codebookSize = codebookSize)
        books.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
        codes.join(res.select(col("vec_id"), col("cluster_id")), "vec_id")
          .repartition(col("cluster_id"))
          .write.partitionBy("cluster_id").mode("overwrite")
          .parquet(s"$dir/lists")
      }
      dir
    }

  /** Ensure the MIPS index: the Neyshabur–Srebro reduction (augment
    * every vector with √(m²−‖x‖²), where m² = the exact max squared
    * norm — then L2 order on the augmented space equals DESCENDING
    * inner-product order: d² = ‖q‖² + m² − 2⟨q,x⟩) feeding the SAME
    * IVF build/search machinery — maximum-inner-product search with
    * partition pruning, no new index structure. Layout: `centroids` /
    * `assignments` exactly as [[ivf]] (65-dim augmented vectors) plus
    * `meta` (one row: m2). The augmented coordinate is computed with
    * the native double dot fold then rounded to float32 — both steps
    * replicated exactly in the oracle. */
  def mips(spark: SparkSession, sfDir: String, k: Int = 16): String =
    lock.synchronized {
      val dir = s"$root/${sfKey(sfDir)}/mips$k"
      if (!done(dir, "centroids", "assignments", "meta")) {
        val e = Tables.load(spark, sfDir, "embeddings")
        val selfDot = graft.GraftVector.dot(col("embedding"), col("embedding"))
        val m2 = e.agg(max(selfDot)).collect()(0).getDouble(0)
        spark.range(1).select(lit(m2).as("m2"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
        val aug = e.select(col("vec_id"),
          concat(col("embedding"),
            array(sqrt(lit(m2) - selfDot).cast("float"))).as("embedding"))
        val (cent, assign) = IvfIndex.buildSampled(aug, "vec_id", "embedding", k)
        cent.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
        assign.select("vec_id", "embedding", "cluster_id")
          .repartition(col("cluster_id"))
          .write.partitionBy("cluster_id").mode("overwrite")
          .parquet(s"$dir/assignments")
      }
      dir
    }

  /** The hierarchy depth for a corpus — [[GraphSearch.levelsFor]]'s
    * occupancy law over the table's row count, stepped DOWN to the
    * deepest level the id hash actually populates (the distributed
    * analog of the reference's max_level_, which tracks the max drawn
    * level — an expected-occupancy law can land on an empty slice at
    * small n, and an empty top layer would leave the entry table
    * rowless). Overridable via the `graft.hnsw.levels` system property
    * or `GRAFT_HNSW_LEVELS` env (spec/gate forcing), still clamped to
    * a populated slice. */
  /** Populated-slice memo for [[hnswLevels]]: the step-down probe runs
    * up to target−1 isEmpty scans of the corpus, and callers invoke it
    * per entry (v_hnsw_insert) and per oracle render — for a value
    * constant per dataset. Keyed on (sfKey, forced-override) so a
    * GRAFT_HNSW_LEVELS change still takes effect within a session. */
  private val hnswLevelsMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Option[Int]), Int]

  def hnswLevels(spark: SparkSession, sfDir: String): Int = {
    val forced = sys.props.get("graft.hnsw.levels")
      .orElse(sys.env.get("GRAFT_HNSW_LEVELS")).map(_.toInt)
    hnswLevelsMemo.getOrElseUpdate((sfKey(sfDir), forced), {
      val target = forced.getOrElse(GraphSearch.levelsFor(corpusN(spark, sfDir)))
      require(target >= 1 && target <= GraphSearch.MaxUpperLevels,
        s"hnsw levels $target outside [1, ${GraphSearch.MaxUpperLevels}]")
      val e = Tables.load(spark, sfDir, "embeddings")
      (target to 1 by -1).find { l =>
        l == 1 || !e.filter(GraphSearch.levelAtLeast(col("vec_id"), l)).isEmpty
      }.get
    })
  }

  /** Ensure the layered-graph artifact (the HNSW hierarchy as tables):
    * `layer1..layerL` — kNN edge tables over the level-≥l node slices
    * (deterministic level rule, [[GraphSearch.levelCol]]; L data-sized
    * by [[hnswLevels]] — the corpus ADDS layers as it grows, the
    * reference's get_random_level/MAX_HNSW_LEVELS contract), each
    * layer probing geometrically more clusters
    * ([[GraphSearch.hnswNprobe]], the topmost probing ALL of them —
    * at n/8^L occupancy still a vanishing row count) — plus `entry`,
    * the single global entry-point row (min id on the top layer), and
    * `meta`, the one-row layer count readers descend by. Layer 0 is
    * the full kNN graph ([[knnGraph]]); search descends
    * layerL → … → layer1 → layer0. */
  def hnsw(spark: SparkSession, sfDir: String, k: Int = 3): String =
    lock.synchronized {
      val levels = hnswLevels(spark, sfDir)
      val dir = s"$root/${sfKey(sfDir)}/hnsw${k}L$levels"
      val parts = (1 to levels).map(l => s"layer$l") ++ Seq("entry", "meta")
      if (!done(dir, parts: _*)) {
        val ivfDir = graphIvf(spark, sfDir)
        val nClusters = spark.read.parquet(s"$ivfDir/centroids").count().toInt
        val e = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        for (l <- 1 to levels)
          GraphSearch.layerGraph(spark, ivfDir, e, minLevel = l, k = k,
              nprobe = GraphSearch.hnswNprobe(l, nClusters))
            .write.mode("overwrite").parquet(s"$dir/layer$l")
        e.filter(GraphSearch.levelAtLeast(col("vec_id"), levels))
          .agg(min(col("vec_id")).as("node"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/entry")
        spark.range(1).select(lit(levels).as("levels"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      }
      dir
    }

  /** The COMPACTED sibling of [[hnsw]]: each layer table with the
    * (delMod, delResidue) tombstone slice folded out and the
    * under-filled nodes re-linked by the layer BUILD rule over live
    * members only ([[GraphSearch.layerInsert]] with the deleted slice
    * masked — the [[knnGraphCompacted]] contract per layer), plus the
    * entry recomputed over live top-layer nodes. Unaffected nodes keep
    * their as-built adjacency (minus edges INTO tombstones): the
    * repair is local, like the reference's reclamation — a full
    * rebuild would also reshuffle adjacency of untouched nodes.
    * `_COMPACTED` marks completion separately from the parquet
    * `_SUCCESS`es (a crash between fold and re-link must re-run). */
  def hnswCompacted(spark: SparkSession, sfDir: String, delMod: Int,
      delResidue: Int, k: Int = 3): String =
    lock.synchronized {
      val levels = hnswLevels(spark, sfDir)
      val dir = s"$root/${sfKey(sfDir)}/hnsw${k}L${levels}del$delMod-$delResidue"
      val marker = new File(s"$dir/_COMPACTED")
      if (!marker.exists) {
        graft.streaming.IvfDeltaIngest.deleteRecursively(new File(dir))
        val base = hnsw(spark, sfDir, k)
        val ivfDir = graphIvf(spark, sfDir)
        val nClusters = spark.read.parquet(s"$ivfDir/centroids").count().toInt
        def isDel(c: org.apache.spark.sql.Column) =
          pmod(c, lit(delMod)) === delResidue
        val e = Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val liveAssigns = spark.read.parquet(s"$ivfDir/assignments")
          .filter(!isDel(col("vec_id")))
        for (minLvl <- 1 to levels) {
          val name = s"layer$minLvl"
          val np = GraphSearch.hnswNprobe(minLvl, nClusters)
          val edges = spark.read.parquet(s"$base/$name")
          val affected = edges
            .filter(!isDel(col("vec_id")) && isDel(col("neighbor_id")))
            .select(col("vec_id")).distinct()
          val kept = edges
            .filter(!isDel(col("vec_id")) && !isDel(col("neighbor_id")))
            .join(broadcast(affected), Seq("vec_id"), "left_anti")
          val relink = GraphSearch.layerInsert(spark, ivfDir, e,
            batch = e.join(broadcast(affected), "vec_id"),
            existingAssigns = liveAssigns, minLevel = minLvl, k = k,
            nprobe = np)
          kept.select("vec_id", "neighbor_id", "rnk", "dist")
            .unionByName(relink)
            .write.mode("overwrite").parquet(s"$dir/$name")
        }
        e.filter(GraphSearch.levelAtLeast(col("vec_id"), levels) &&
            !isDel(col("vec_id")))
          .agg(min(col("vec_id")).as("node"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/entry")
        spark.range(1).select(lit(levels).as("levels"))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
        marker.createNewFile()
      }
      dir
    }

  /** Ensure the OPQ index (variance-balancing dimension permutation +
    * codebooks trained on the permuted sample + permuted-space codes).
    * The permutation is 64 ints of metadata — it enters search plans as
    * a literal, never a join. See [[OpqIndex]]. */
  def opq(spark: SparkSession, sfDir: String, dim: Int = 64,
      numSub: Int = 8, codebookSize: Int = 16): String =
    lock.synchronized {
      val dir = s"$root/${sfKey(sfDir)}/opq${numSub}x$codebookSize"
      if (!done(dir, "perm", "codebooks", "codes")) {
        val e = Tables.load(spark, sfDir, "embeddings")
        val (perm, books, codes) = OpqIndex.build(e, "vec_id", "embedding",
          dim = dim, numSub = numSub, codebookSize = codebookSize)
        perm.coalesce(1).write.mode("overwrite").parquet(s"$dir/perm")
        books.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
        codes.write.mode("overwrite").parquet(s"$dir/codes")
      }
      dir
    }

  /** Ensure the composite IVF-PQ inverted lists: each vector's PQ codes
    * stored INSIDE its cluster partition, so a probe reads only its
    * clusters' codes — nprobe/k of the corpus at numSub-byte width (the
    * FAISS IVFPQ file layout, as a partitioned parquet table). Built by
    * joining the component indexes once; see [[IvfPq]] for the search. */
  def ivfpq(spark: SparkSession, sfDir: String, k: Int = 16, dim: Int = 64,
      numSub: Int = 8, codebookSize: Int = 16): String =
    lock.synchronized {
      val dir = s"$root/${sfKey(sfDir)}/ivfpq$k-${numSub}x$codebookSize"
      if (!done(dir, "lists")) {
        val ivfDir = ivf(spark, sfDir, k)
        val pqDir = pq(spark, sfDir, dim, numSub, codebookSize)
        val assign = spark.read.parquet(s"$ivfDir/assignments")
          .select(col("vec_id"), col("cluster_id"))
        val codes = spark.read.parquet(s"$pqDir/codes")
        assign.join(codes, "vec_id")
          .repartition(col("cluster_id"))
          .write.partitionBy("cluster_id").mode("overwrite")
          .parquet(s"$dir/lists")
      }
      dir
    }
}
