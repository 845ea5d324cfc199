package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftText, Route}
import graft.GraftVector._
import graft.Tables.load
import graft.operators.KnnSearch

/** Deduplication operators over `documents` / `embeddings` — the dedup
  * stage of a training-data pipeline, at four fidelity levels:
  * exact (content signature), exact-pairwise (word-set Jaccard),
  * MinHash+LSH (sub-quadratic candidate generation), SimHash
  * (Hamming-ball banding), and embedding-cosine near-dup.
  *
  * Scale notes:
  *  - exact dedup shuffles on a bounded-width signature string, never on
  *    raw text.
  *  - MinHash/SimHash candidate generation joins only within LSH buckets:
  *    shuffle keys are (band_id, band_hash) — cost scales with bucket
  *    collision counts, not n². The exact `d_jaccard_pairs` is
  *    deliberately length/lang-banded and exists as the verification
  *    oracle for the approximate paths.
  */
object DedupQueries {

  private def toks(c: Column): Column = GraftText.whitespaceTokens(c)

  /** d_minhash_eval's audit-sample size — a fixed COUNT (smallest-N
    * Knuth-hash docs), not a rate: the eval's exact-truth side is
    * quadratic in the sample, so only an absolute cap keeps the audit
    * corpus-size-independent at 100 TB. Shared verbatim by the Spark
    * plan and the DuckDB oracle. */
  private val MinhashEvalSample = 256

  /** Deterministic total order for a SMALL final result without a
    * range-partitioned sort: `orderBy` samples its child to plan range
    * boundaries, which RE-EXECUTES the whole upstream pipeline a second
    * time — for these queries the upstream is the expensive part and the
    * output is tiny, so a single-partition sort (one extra shuffle of
    * the result rows only) is strictly cheaper and yields the same total
    * order the oracle's ORDER BY prescribes. Only for bounded outputs —
    * corpus-scale results use [[orderedLarge]]. */
  private def ordered(df: DataFrame, cols: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols.head, cols.tail: _*)

  /** Deterministic total order for a CORPUS-SCALE result: materialize the
    * result once (lazy local checkpoint — blocks on executor storage),
    * then range-sort from the stored blocks. Scalable sort, no upstream
    * double-execution; a single-partition sort here would funnel the
    * whole corpus through one task. */
  private[queries] def orderedLarge(df: DataFrame, cols: String*): DataFrame =
    df.localCheckpoint(false).orderBy(cols.head, cols.tail: _*)

  /** MinHash keeper assignment over a (doc_id, ws) frame — the shared
    * core of d_dedup_minhash, d_ngram_jaccard, and the composed
    * p_curation_pipeline near-dedup stage (one definition; the SQL twin
    * is HashSql.minhashKeeperCtes). 64-perm minhash → 16 banded
    * buckets → ≤16 candidate edges per doc to per-bucket min reps →
    * exact-`jaccard`-verified (the caller supplies the verify metric:
    * string-set or packed-gram) → smallest verified neighbor is the
    * keeper. Returns (doc_id, keeper_id); linear output, no pair
    * blowup. `docs` is materialized ONCE in here (callers need not —
    * and should not — cache it). */
  private[graft] def minhashKeeperAssign(docs: DataFrame,
      jaccard: (Column, Column) => Column,
      threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Materialize the (doc_id, ws) frame EAGERLY: it feeds the banding
    // pass, both verify-join legs, and the final left join — with a
    // lazy cache, AQE materializes the two verify legs CONCURRENTLY
    // and each computed the full tokenize scan before the cache
    // populated (the measured equal-duration job pairs). The eager
    // checkpoint also truncates lineage so every consumer plans
    // against stored blocks; blocks free with the RDD.
    val dm = docs.localCheckpoint(true)
    // buckets feed rep election AND edge building — same discipline,
    // so the 64-permutation minhash runs exactly once
    val buckets = dm
      .select($"doc_id",
        posexplode(GraftText.minhashBands($"ws", 1, 64, 16))
          .as(Seq("band_id", "bh")))
      .localCheckpoint(true)
    val reps = buckets.groupBy($"band_id", $"bh")
      .agg(min($"doc_id").as("rep"))
    val edges = buckets.join(reps, Seq("band_id", "bh"))
      .filter($"rep" < $"doc_id")
      .select($"doc_id", $"rep")
      .distinct()
    val verified = edges
      .join(dm.select($"doc_id", $"ws".as("wa")), "doc_id")
      .join(dm.select($"doc_id".as("rep"), $"ws".as("wb")), "rep")
      .filter(jaccard($"wa", $"wb") >= threshold)
      .groupBy($"doc_id")
      .agg(min($"rep").as("keeper"))
    // Materialize the (small, linear) output eagerly — callers get a
    // self-contained frame (the jaccardPairsRaw discipline).
    val out = dm.join(verified, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"keeper", $"doc_id").as("keeper_id"))
      .localCheckpoint(true)
    // the output no longer reads dm or buckets: free their blocks now
    // rather than at GC (Dataset.unpersist does not reach a local
    // checkpoint's RDD)
    Seq(dm, buckets).foreach(checkpointRdd(_).unpersist(blocking = false))
    out
  }

  /** The RDD a `localCheckpoint` frame reads its stored blocks from. */
  private[graft] def checkpointRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.getOrElse(throw new IllegalArgumentException("not a checkpointed frame"))

  /** The UNORDERED mixture sample — the entire production plan of
    * d_mixture_sample before its output ordering, factored out so
    * PlanSpec asserts the shape of the real query, not a replica
    * (private[graft]: its one external caller is that plan guard). */
  private[graft] def mixtureSampleRaw(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = load(s, d, "documents")
      .select($"doc_id", $"lang", size(toks($"text")).cast("long").as("n_toks"))
    docs.join(broadcast(mixtureThresholds(docs, "n_toks")), "lang")
      .filter(mixturePass($"doc_id", $"threshold"))
      .select($"lang", $"doc_id", $"n_toks")
  }

  /** The mixture stage's ONE definition — weights, token budget, and
    * the per-language hash-rate threshold derivation — shared by
    * d_mixture_sample and p_curation_pipeline's stage 4 (which derives
    * thresholds over its post-dedup survivors: compose-time budgets
    * must see what actually survived, or dup-heavy languages
    * under-sample). The SQL oracles carry matching literal copies;
    * Scala-side the definition lives only here. */
  private[graft] val MixtureWeights = Seq(("en", 0.4), ("de", 0.15),
    ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
  private[graft] val MixtureBudget = 8000.0 // target tokens across the mixture

  private[graft] def mixtureThresholds(docs: DataFrame,
      tokCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupBy($"lang").agg(sum(col(tokCol)).as("tok_total"))
      .join(MixtureWeights.toDF("lang", "w"), "lang")
      .select($"lang", floor(
        least(lit(1.0), lit(MixtureBudget) * $"w" / $"tok_total".cast("double"))
          * 4294967296.0).cast("long").as("threshold"))
  }

  /** The deterministic Knuth-hash sampling gate the thresholds feed. */
  private[graft] def mixturePass(docId: Column, threshold: Column): Column =
    pmod(docId * lit(2654435761L), lit(4294967296L)) < threshold

  /** The UNORDERED pre-checkpoint DSIR plan + its shared token cache —
    * factored so PlanSpec asserts the shape of the real query (the
    * entry's eager checkpoint truncates the executed plan to a scan of
    * stored blocks); the mixtureSampleRaw pattern. The second element
    * is the per-doc checkpoint the plan reads (blocks free with the
    * RDD; nothing for the caller to unpersist). */
  private[graft] def dsirWeightsRaw(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    import graft.functions.DetMath
    // Per-doc (bucket, m) counts computed SCAN-SIDE by run-length
    // encoding each doc's own sorted bucket array (the perceptronFeats
    // r15 rewrite — shared TextQueries.rleRuns fold): one narrow row
    // per doc, where the former shape cached a row PER TOKEN and then
    // shuffled doc-keyed rows twice (groupBy(doc_id, bkt) and the
    // collect_list per doc). Materialized once, eagerly (lineage
    // truncation; no concurrent-populate race between the two
    // consumers). A doc whose toks array is empty folds to an empty
    // run list and is filtered — the exploded shape emitted no row
    // for it either.
    val perDoc = load(s, d, "documents")
      .select($"doc_id",
        $"source".isin("src0", "src1", "src2").as("is_t"),
        TextQueries.rleRuns(sort_array(
          transform(toks(coalesce($"text", lit(""))),
            t => GraftText.rollingHash64(t).bitwiseAND(lit(63L))))).as("fs"))
      .filter(size($"fs") > 0)
      .localCheckpoint(true)
    // bucket stats off the <=64-entry run lists: the same integer
    // counts the per-token aggregate produced, from ~50x fewer
    // exploded rows
    val stats = perDoc
      .select($"is_t", explode($"fs").as("f"))
      .groupBy($"f.bkt".as("bkt")).agg(
        sum(when($"is_t", $"f.m").otherwise(0L)).as("ct"),
        sum(when(!$"is_t", $"f.m").otherwise(0L)).as("cr"))
    val totals = stats.agg(sum($"ct").as("nt"), sum($"cr").as("nr"))
    val bits = stats.crossJoin(broadcast(totals))
      .select($"bkt",
        ((DetMath.log2Det($"ct" + 1) - DetMath.log2Det($"nt" + 64)) -
          DetMath.log2Det($"cr" + 1) + DetMath.log2Det($"nr" + 64))
          .as("bits"))
    // one-row broadcast bkt -> bits map; each doc's weight folds its
    // own run list against it SCAN-SIDE, so nothing doc-keyed crosses
    // a shuffle at all (the former shape paid two corpus-scale
    // exchanges). The fold runs in fs order = bkt ascending = exactly
    // the former sort_array (bkt, term) order (bkt unique per doc),
    // and each term is the same m.cast(double) * bits product — the
    // IEEE sum is bit-identical. Every bkt a doc holds appears in the
    // map: stats covers all buckets of all docs.
    val bitsMap = bits.agg(
      map_from_entries(sort_array(collect_list(struct($"bkt", $"bits"))))
        .as("bm"))
    val res = perDoc.filter(!$"is_t")
      .crossJoin(broadcast(bitsMap))
      .select($"doc_id",
        aggregate($"fs", lit(0.0), (acc, f) =>
          acc + f("m").cast("double") * element_at($"bm", f("bkt"))).as("w"))
      .orderBy($"w".desc, $"doc_id")
      .limit(100)
      .select($"doc_id", round($"w", 4).as("li_weight"))
    (res, perDoc)
  }

  /** The per-octave partitioning columns of incremental dedup's near
    * path (see dedupIncrementalRaw's near-path scaladoc), factored so
    * the heavy-tail spec can observe per-doc signature cost directly:
    * band = floor(log2 nw) via the exact binary-string length (no
    * float log), per-octave partition counts CLAMPED to the corpus
    * term `globalNp` (np = min over two individually-lossless sizes is
    * lossless — the pigeonhole only needs np > (na+nb)/9, and fewer
    * partitions still leave one untouched), the boundary up-emission
    * gate, and the one-pass partition signatures. The partition
    * assignment is a pure function of np (element pmod np), so two
    * docs sharing an np value share the partitioning REGARDLESS of
    * which band derived it — the join keys on (lang, np, p, ph), and
    * when the clamp collapses np0 == np1 (a length-uniform corpus,
    * where globalNp is the r13 sizing) a doc emits ONE partitioning,
    * recovering the r13 plan exactly. Input needs (ws array<bigint>
    * sorted-distinct, nw long); output adds one exploded
    * `bk(np, pa)` row per DISTINCT emitted np — np never exceeds the
    * doc's own-octave bound 2·(2^(band+2)−1) div 9 + 1, so signature
    * cost is bounded by the doc's OWN length whatever the corpus max. */
  /** Just the sizing columns (band, np0, np1, upq) — shared by the
    * signature emission below and the broadcast-gate row estimate,
    * which must not pay for the hash arrays it never reads. */
  private[graft] def octaveNpCols(df: DataFrame,
      globalNp: Long): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df
      .withColumn("band",
        when($"nw" > 0, length(bin($"nw")) - 1).otherwise(0).cast("int"))
      .withColumn("np0", least(
        expr("cast((shiftleft(1L, band + 1) - 1) * 2 div 9 + 1 as int)"),
        lit(math.min(globalNp, Int.MaxValue.toLong).toInt)))
      .withColumn("np1", least(
        expr("cast((shiftleft(1L, band + 2) - 1) * 2 div 9 + 1 as int)"),
        lit(math.min(globalNp, Int.MaxValue.toLong).toInt)))
      .withColumn("upq", expr("5 * nw >= shiftleft(1L, band + 3)"))
  }

  private[graft] def octavePartKeys(df: DataFrame,
      globalNp: Long): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    octaveNpCols(df, globalNp)
      .withColumn("bk", explode(
        when($"upq" && $"np1" =!= $"np0", array(
          struct($"np0".as("np"),
            GraftText.partSumHashes($"ws", $"np0").as("pa")),
          struct($"np1".as("np"),
            GraftText.partSumHashes($"ws", $"np1").as("pa"))))
        .otherwise(array(
          struct($"np0".as("np"),
            GraftText.partSumHashes($"ws", $"np0").as("pa"))))))
  }

  /** Batch key rows (doc_id, lang, na, np, p, ph) d_dedup_incremental
    * still broadcasts to the corpus scan (key `dedup.incrBroadcast`);
    * past it the slim key join shuffles. Driver heap: a key row costs
    * ~165 B as a collected Row (SizeEstimator on sf0.01 documents) and
    * 64 B in the broadcast's binary form (null bitmap, six 8-byte
    * slots, the padded lang string), so a broadcast at the cap builds
    * a ~0.5 GB relation on the driver, plus hash-table overhead. */
  private[graft] final val incrBroadcastMaxKeyRows = 8_000_000L

  /** The UNORDERED-cache pre-checkpoint incremental-dedup plan + its
    * shared signature cache — factored so PlanSpec asserts the
    * production shape (the entry's eager checkpoint truncates the
    * executed plan); the dsirWeightsRaw pattern. Caller owns the
    * returned cache. */
  private[graft] def dedupIncrementalRaw(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    // ONE cached signature frame feeds every consumer: the corpus side
    // is read by BOTH the exact join and the part-blocked near join,
    // and the batch side by those plus the final left joins — uncached,
    // the
    // tokenize+hash+sort subtree would run twice over ~95 % of the
    // documents (the jaccardPairsRaw discipline, eager populate and
    // all)
    val docs = load(s, d, "documents")
      .select($"doc_id", $"lang",
        sort_array(array_distinct(
          GraftText.wordShingleHashes(toks($"text"), 1))).as("ws"))
      .withColumn("nw", size($"ws").cast("long"))
      .cache()
    docs.count()
    val batch = docs.filter(pmod($"doc_id", lit(20)) === 7)
    val corpus = docs.filter(pmod($"doc_id", lit(20)) =!= 7)
    // Corpus-side SCAN prunes — the batch ≪ corpus contract is only
    // worth anything at 100 TB if the corpus never shuffles wholesale:
    //  - exact path: a Bloom over the batch's 8-byte signature hashes
    //    (bounded by batch size) broadcasts to the corpus scan; only
    //    might-contain rows — the true exact-dups plus the bounded FP
    //    mass, which the equality join then kills — pay the
    //    signature-keyed shuffle. The hash is engine-internal (both
    //    probe and build compute xxhash64 of the same array), so the
    //    oracle never sees it.
    //  - near path: pigeonhole part-blocking (the PartEnum family,
    //    Arasu et al. VLDB'06), sized PER LENGTH OCTAVE. j >= 0.8
    //    bounds the symmetric difference: u = |a∪b| = na+nb-i and
    //    i >= 0.8u give |aΔb| = u-i <= 0.2u <= (na+nb)/9, so np >
    //    (na+nb)/9 hash-partitions (element pmod np) guarantee at
    //    least one partition IDENTICAL between any qualifying pair —
    //    blocking on (lang, octave, p, partHash) is provably
    //    lossless. The r13 form sized ONE global np from the corpus
    //    MAX doc length: every doc then paid O(np·nw) signature work
    //    (np filter re-scans) and np corpus-side exploded rows — a
    //    single 300 k-word outlier makes np ≈ 67 k and taxes EVERY
    //    document proportionally (the r13 advice's heavy-tail
    //    coupling). De-tailed sizing: the qualifying-pair length gate
    //    4·max <= 5·min caps the pair's length ratio at 1.25, so its
    //    docs share a length octave b = floor(log2 nw) or sit in
    //    adjacent ones; each doc's partition count is its octave
    //    bound CLAMPED to the corpus term,
    //      np = min(2·U_b div 9 + 1, 2·maxNw div 9 + 1),
    //    U_b = 2^(b+1)−1 (octavePartKeys scaladoc — min of two
    //    individually-lossless sizes is lossless). The partitioning
    //    is a pure function of the np VALUE (element pmod np), so
    //    blocking keys on (lang, np, p, partHash):
    //      same-octave pair: both docs derive the same np ✓;
    //      straddling pair (a ∈ b, b' ∈ b+1): a ALSO emits octave
    //        b+1's np exactly when the gate lets it qualify upward
    //        (5·nw >= 4·2^(b+1)) — and only when that np differs
    //        from its own (the clamp collapses them on any
    //        length-uniform corpus, recovering the r13 plan
    //        identically: one partitioning, one emission).
    //    No doc ever computes parts sized beyond ~2.5× its own
    //    length, whatever the corpus max. Signatures are ONE pass
    //    (GraftText.partSumHashes, O(nw+np) per emission — the r13
    //    transform×filter form re-scanned ws once per partition);
    //    the agreement-count lower bound (a second pigeonhole:
    //    agreeing parts >= np - (na+nb) div 9) filters per np key,
    //    and the 4·max<=5·min gate leaves only near-certain pairs to
    //    fetch word arrays and pay the full Jaccard merge. The
    //    candidate fan-out never carries payload and the corpus
    //    never shuffles it: the slim exploded batch key set
    //    broadcasts to the corpus scan while its estimated row count
    //    (Σ np per batch doc, one bounded agg on the shared cache)
    //    stays under incrBroadcastMaxKeyRows; past that the
    //    hint drops and the key join shuffles both slim key streams —
    //    never the payload arrays (the r13 advice's ungated-broadcast
    //    fix).
    val bloomB = batch.agg(
      graft.GraftSketch.bloomFilter(xxhash64($"ws"), numWords = 4096)
        .as("bf"))
    val corpusExact = corpus.crossJoin(broadcast(bloomB))
      .filter(graft.GraftSketch.bloomMightContain(xxhash64($"ws"), $"bf"))
      .drop("bf")
    val exact = batch.select($"doc_id", $"ws")
      .join(corpusExact.select($"doc_id".as("cid"), $"ws"), "ws")
      .groupBy($"doc_id").agg(min($"cid").as("exact_keeper"))
    // the r13 corpus-wide sizing term — one bounded agg on the shared
    // cache; octavePartKeys CLAMPS each doc's octave np to it, so a
    // length-uniform corpus (every sf fixture) collapses to exactly
    // the r13 single-partitioning plan while a heavy-tailed one keeps
    // every doc's signature cost bounded by its own octave
    val maxNw = Option(docs.agg(max($"nw")).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val globalNp = 2L * maxNw / 9L + 1L
    val bKeys = octavePartKeys(batch, globalNp)
      .select($"doc_id", $"lang", $"nw".as("na"), $"bk.np".as("np"),
        posexplode($"bk.pa").as(Seq("p", "ph")))
    // broadcast gate (the r13 advice): the batch key set is Σ np rows
    // per batch doc — bounded by the batch's OWN lengths now, but
    // still broadcast only under the row cap; above it the hint drops
    // and the slim key join shuffles instead of failing at the 8 GB
    // broadcast wall
    val bKeyRowsEst = Option(octaveNpCols(batch, globalNp)
      .agg(sum($"np0".cast("long") +
        when($"upq" && $"np1" =!= $"np0", $"np1".cast("long"))
          .otherwise(lit(0L))))
      .head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val bKeysMaybeB =
      if (Route.fits("dedup.incrBroadcast", bKeyRowsEst,
          incrBroadcastMaxKeyRows)) broadcast(bKeys)
      else bKeys
    // the candidate stream is SLIM — keys and lengths only, no word
    // arrays: the fan-out is the quadratic-shaped mass, so every byte
    // it carries multiplies (90M candidate rows at sf10 — payload
    // arrays here cost ~18 GB of copies; 40-byte slim rows cost 3.6 GB)
    val candSlim = octavePartKeys(corpus, globalNp)
      .select($"doc_id".as("cid"), $"lang", $"nw".as("nb"),
        $"bk.np".as("np"), posexplode($"bk.pa").as(Seq("p", "ph")))
      .join(bKeysMaybeB, Seq("lang", "np", "p", "ph"))
      .filter(lit(5) * least($"na", $"nb") >= lit(4) * greatest($"na", $"nb"))
    // aggregate dedup + the SECOND pigeonhole before any payload moves
    // (near-path scaladoc): agreeing-part count per np KEY against that
    // np; a pair sharing two np values may pass under either —
    // distinct() collapses it to one verify. All rows of one
    // (batch, corpus, np) triple originate from the corpus doc's
    // single source row, so the map-side partial aggregate collapses
    // the fan-out before the slim shuffle.
    val veriPairs = candSlim
      .groupBy($"doc_id", $"cid", $"na", $"nb", $"np")
      .agg(count(lit(1)).as("ac"))
      .filter($"ac" >= $"np" - expr("(na + nb) div 9"))
      .select($"doc_id", $"cid").distinct()
    // only surviving pairs fetch word arrays: corpus payload via one
    // corpus-linear shuffle join, batch payload via the bounded batch
    // frame — then the full-array Jaccard merge decides
    val near = veriPairs
      .join(corpus.select($"doc_id".as("cid"), $"ws".as("wb")), Seq("cid"))
      .join(batch.select($"doc_id", $"ws".as("wa")), Seq("doc_id"))
      .filter(GraftText.jaccardSortedLong($"wa", $"wb") >= 0.8)
      .groupBy($"doc_id").agg(min($"cid").as("near_keeper"))
    val res = batch.select($"doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"exact_keeper", $"near_keeper").as("keeper_id"),
        when($"exact_keeper".isNotNull, "exact")
          .when($"near_keeper".isNotNull, "near")
          .otherwise("unique").as("reason"))
      .transform(ordered(_, "doc_id"))
    (res, docs)
  }

  /** The exact j ≥ 0.8 verifier pairs, unordered — the d_jaccard_pairs
    * entry: the DECLARED bounded-block quadratic that verifies the
    * banded approximations (the production edge store now derives from
    * [[minhashVerifiedEdges]], never from this).
    * Word sets are 64-bit FNV token hashes computed SCAN-SIDE in one
    * native pass (wordShingleHashes width 1): the banded join ships
    * 8-byte keys instead of strings and the merge scan compares longs
    * — with ZERO pre-join shuffles. (The previous dictionary-encoding
    * bijection bought exactness a 64-bit hash already has modulo
    * collisions — which the oracle gate itself would expose, since the
    * oracle computes word-SET Jaccard over the strings: the
    * d_source_overlap hash-vs-string independence argument — but paid
    * an explode, a vocabulary window, a join back, and a collect_list
    * regroup: the measured majority of the whole operator.) */
  private def jaccardPairsRaw(s: SparkSession, d: String): DataFrame = {
    val (pairs, docs) = jaccardPairsPlan(s, d)
    // materialize the verified edge set eagerly (it is the operator's
    // own bounded output), then drop the signature cache: callers — the
    // d_jaccard_pairs entry and the cluster's contraction rounds —
    // re-read EDGES, never the word-id signatures, and a lingering
    // cache occupies executor storage for the rest of a 128-query run
    val out = pairs.localCheckpoint(true)
    docs.unpersist(false)
    out
  }

  /** The verified-pair PLAN of [[jaccardPairsRaw]], lazy, plus the
    * populated signature cache the caller owns (unpersist after the
    * terminal action). Factored so the sf10 bounded probe
    * ([[PairProbes]]) can run the identical plan shape into a count
    * aggregate instead of a 2.7B-row checkpoint. */
  private[graft] def jaccardPairsPlan(s: SparkSession, d: String,
      keySampleMod: Int = 1): (DataFrame, DataFrame) = {
    import s.implicits._
    val docs = load(s, d, "documents")
      .select($"doc_id", $"lang",
        sort_array(array_distinct(
          GraftText.wordShingleHashes(toks($"text"), 1))).as("ws"))
      .withColumn("nw", size($"ws").cast("long"))
      .withColumn("band", ($"nw" / 25).cast("long"))
      // keySampleMod > 1 = the sf10 probes' deterministic compute
      // bound: keep (lang, band) join groups with hash ≡ 0 (mod it) —
      // the verify is quadratic per group, so compute falls ~linearly.
      // Entries pass the default 1 (full plan).
      .filter(lit(keySampleMod <= 1) ||
        pmod(xxhash64($"lang", $"band"), lit(keySampleMod.toLong)) === 0)
      // both sides of the banded self-join read this frame; uncached,
      // the tokenize+hash+sort subtree runs TWICE (the d_ngram_jaccard
      // discipline)
      .cache()
    // populate the cache with one job BEFORE the self-join reads it
    // from two sides: a lazy cache is RACED by the join's concurrent
    // scans — two tasks needing the same uncached partition both
    // compute it (the block manager does not serialize builders), so
    // the subtree ran 1–2x nondeterministically (measured 3.8 s vs
    // 11.3 s bimodality across bench runs)
    docs.count()
    val a = docs.select($"doc_id".as("doc_a"), $"lang", $"band",
      $"ws".as("wa"), $"nw".as("na"))
    val b = docs.select($"doc_id".as("doc_b"), $"lang", $"band",
      $"ws".as("wb"), $"nw".as("nb"))
    val pairs = a.join(b, Seq("lang", "band"))
      .filter($"doc_a" < $"doc_b" &&
        lit(5) * least($"na", $"nb") >= lit(4) * greatest($"na", $"nb"))
      .withColumn("jaccard", GraftText.jaccardSortedLong($"wa", $"wb"))
      .filter($"jaccard" >= 0.8)
      .select($"doc_a", $"doc_b", round($"jaccard", 4).as("jaccard"))
    (pairs, docs)
  }

  /** d_edit_distance's verified-pair frame (unordered) — the entry
    * sorts it; the sf10 bounded probe ([[PairProbes]]) aggregates it. */
  private[graft] def editDistancePairs(s: SparkSession, d: String,
      keySampleMod: Int = 1): DataFrame =
    editDistancePlanCapped(s, d, keySampleMod, occupantCap = 0)._1

  /** The edit-distance candidate/verify plan plus a one-row
    * (occ_cap, n_spilled) report frame. `occupantCap` > 0 is the
    * PROBE-ONLY second compute bound (the LshBuckets.bandedPairs cap,
    * applied to gram blocking): gram-key sampling keeps whole giant
    * gram groups on a duplicate-saturated corpus, where per-group
    * candidate mass is quadratic in occupancy — the cap keeps each
    * (lang, gram) group's (and the tiny all-pairs sliver's, per lang)
    * deterministic top-M occupants (Knuth-hash of doc_id, doc_id
    * tie-break) so per-group work is bounded at M² whatever the
    * saturation, and the spilled-row count is disclosed beside the cap
    * in the probe row. The declared entry passes cap 0: its plan is
    * the uncapped one, unchanged. */
  private[graft] def editDistancePlanCapped(s: SparkSession, d: String,
      keySampleMod: Int, occupantCap: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val MaxEdit = 5
    val Thresh = MaxEdit * 2 // k edits × q=2 distinct grams per edit
    // cached: this subtree feeds the prefix explode, the tiny-doc
    // fallback, and both sides of the verify join — without the cache
    // the scan + bigram computation runs four times in one job
    val short = load(s, d, "documents")
      .filter($"n_chars" < 200)
      // packed bigrams: the prefix filter only needs gram IDENTITY, so
      // long keys make the explode/frequency/join stages primitive-wide
      .select($"doc_id", $"lang", $"text", $"n_chars",
        GraftText.charNgramLongSet($"text", 2).as("grams"))
      .withColumn("ng", size($"grams"))
      .cache()
    val exploded = short.select($"doc_id", $"lang", $"n_chars", $"ng",
      explode($"grams").as("g"))
    // global gram frequencies define the prefix order (freq asc, gram)
    val freq = exploded.groupBy($"g").agg(count(lit(1)).as("gf"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"gf", $"g")
    val prefix = exploded.join(freq, "g")
      .withColumn("rk", row_number().over(wRank))
      .filter($"rk" <= Thresh + 1)
      .select($"doc_id", $"lang", $"n_chars", $"g")
      // keySampleMod > 1 = the sf10 probe's compute bound (gram-keyed
      // candidate groups sampled deterministically; see
      // jaccardPairsPlan). Entries pass the default 1.
      .filter(lit(keySampleMod <= 1) ||
        pmod(xxhash64($"g"), lit(keySampleMod.toLong)) === 0)
    val knuth = (c: org.apache.spark.sql.Column) =>
      pmod(c * lit(2654435761L), lit(4294967296L))
    val prefixKept = if (occupantCap <= 0) prefix else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang", $"g").orderBy(knuth($"doc_id"), $"doc_id")
      prefix.withColumn("__occ", row_number().over(w))
        .filter($"__occ" <= occupantCap).drop("__occ")
    }
    // second lossless gate in the join: |len diff| is a levenshtein
    // lower bound — at sf0.1 it cuts candidates ~14× (267k → 19k)
    val cand = prefixKept.as("x").join(prefixKept.as("y"),
        $"x.lang" === $"y.lang" && $"x.g" === $"y.g" &&
          $"x.doc_id" < $"y.doc_id" &&
          abs($"x.n_chars" - $"y.n_chars") <= MaxEdit)
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
    // vacuous-threshold fallback: both docs have <= k·q distinct
    // bigrams — a bounded sliver of the corpus, joined all-pairs
    val tiny = short.filter($"ng" <= Thresh)
    val tinyKept = if (occupantCap <= 0) tiny else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy(knuth($"doc_id"), $"doc_id")
      tiny.withColumn("__occ", row_number().over(w))
        .filter($"__occ" <= occupantCap).drop("__occ")
    }
    val tinyPairs = tinyKept
      .select($"doc_id".as("doc_a"), $"lang", $"n_chars".as("ca"))
      .join(tinyKept.select($"doc_id".as("doc_b"), $"lang",
        $"n_chars".as("cb")), "lang")
      .filter($"doc_a" < $"doc_b" && abs($"ca" - $"cb") <= MaxEdit)
      .select($"doc_a", $"doc_b")
    // repartition before the verify: the candidate set is only tens of
    // KB, so AQE coalesces its shuffle to ~one task — which would run
    // every O(len²) levenshtein DP serially. The data is tiny but the
    // COMPUTE is not; spread it across the cluster explicitly.
    val pairs = cand.unionByName(tinyPairs).distinct()
      .repartition(s.sparkContext.defaultParallelism)
      .join(short.select($"doc_id".as("doc_a"), $"text".as("ta")), "doc_a")
      .join(short.select($"doc_id".as("doc_b"), $"text".as("tb")), "doc_b")
      .withColumn("edit_dist", levenshtein($"ta", $"tb").cast("long"))
      .filter($"edit_dist" <= MaxEdit)
      .select($"doc_a", $"doc_b", $"edit_dist")
    // one-row disclosure frame off the SAME cached subtrees: rows the
    // cap dropped from gram groups plus the tiny sliver (0 when cap 0)
    val spill = if (occupantCap <= 0)
        s.range(1).select(lit(0L).as("occ_cap"), lit(0L).as("n_spilled"))
      else {
        val wg = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang", $"g").orderBy(knuth($"doc_id"), $"doc_id")
        val wt = org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy(knuth($"doc_id"), $"doc_id")
        val pSpill = prefix.withColumn("__occ", row_number().over(wg))
          .agg(sum(when($"__occ" > occupantCap, 1L).otherwise(0L))
            .as("n"))
        val tSpill = tiny.withColumn("__occ", row_number().over(wt))
          .agg(sum(when($"__occ" > occupantCap, 1L).otherwise(0L))
            .as("n"))
        pSpill.unionAll(tSpill)
          .agg(coalesce(sum($"n"), lit(0L)).as("n_spilled"))
          .select(lit(occupantCap.toLong).as("occ_cap"), $"n_spilled")
      }
    (pairs, spill)
  }

  /** The d_line_dedup core over an explicit (doc_id, text) frame —
    * factored so the planted-fixture spec drives the REAL plan.
    * Unit = non-overlapping `n`-word segment; first (doc_id, pos)
    * occurrence of each distinct segment survives; survivors stitch
    * back in position order (all-removed docs reassemble to ''). */
  private[graft] def lineDedup(docs: DataFrame, n: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val segs = docs
      .select($"doc_id", toks($"text").as("w"))
      .select($"doc_id",
        posexplode(transform(
          sequence(lit(0), floor((size($"w") - lit(1)) / n).cast("int")),
          i => array_join(slice($"w", i * n + 1, lit(n)), " ")))
          .as(Seq("pos", "seg")))
      .withColumn("h", GraftText.rollingHash64($"seg"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"h")
    segs
      .withColumn("kept", struct($"doc_id", $"pos") ===
        min(struct($"doc_id", $"pos")).over(w))
      .groupBy($"doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when($"kept", struct($"pos", $"seg")))),
          x => x("seg"))).as("clean_text"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"kept", 0L).otherwise(1L)).as("n_removed"))
  }

  /** Banded-minhash VERIFIED edge set over a (doc_id, ws) frame — the
    * sub-quadratic near-dup graph: 64-perm minhash → `numBands` banded
    * buckets → intra-BUCKET candidate pairs (deduped across bands) →
    * exact-Jaccard verified at `threshold`. Output (doc_a, doc_b,
    * jaccard), doc_a < doc_b. SQL twin: HashSql.minhashEdgesCtes.
    *
    * Why intra-bucket pairs, and why this scales where the old
    * (lang, length-band)-blocked all-pairs didn't: the quadratic is
    * confined to BUCKET populations — docs sharing a 2-hash minhash
    * band signature, i.e. near-dup families — where the old blocks
    * ("same language, similar length") hold O(corpus/constant) docs.
    * The residual is duplicate-heavy families (a 10⁶-copy boilerplate
    * family is 10¹² candidates); since the sf10 probe the build applies
    * the p_curation_pipeline stage order ITSELF — identical word-sets
    * collapse to a representative before banding, so only families of
    * distinct variants reach the quadratic core. A star/chain sparsification (each doc to its
    * bucket min only) was tried and REJECTED: verify kills star edges
    * whose hub is < threshold to a member even when member pairs are
    * ≥ threshold, and chain-structured families fragment — measured on
    * the sf0.001 fixture as 342 exact-verifier pairs crossing
    * components. Closure over intra-bucket pairs instead equals the
    * full verified-pair closure whenever banding recalls every true
    * pair; at 32 bands × 2 rows that is 1-(1-j²)^32 ≥ 1-1e-14 per
    * j ≥ 0.8 pair (ComponentsSpec pins the equality against the
    * bounded-block exact verifier). */
  private[graft] def minhashVerifiedEdges(docs: DataFrame,
      jaccard: (Column, Column) => Column,
      threshold: Double, numBands: Int = 32): DataFrame = {
    val (plan, tagged) =
      minhashVerifiedEdgesRaw(docs, jaccard, threshold, numBands)
    // eager linear output, the tagged cache released before return
    // (the jaccardPairsRaw discipline)
    val out = plan.localCheckpoint(true)
    tagged.unpersist()
    out
  }

  /** The PRE-CHECKPOINT plan of [[minhashVerifiedEdges]] plus the one
    * cache it holds, for plan-shape specs (the dedupIncrementalRaw
    * pattern: the entry's eager checkpoint truncates the executed
    * plan). Callers must unpersist the returned cache. */
  private[graft] def minhashVerifiedEdgesRaw(docs: DataFrame,
      jaccard: (Column, Column) => Column,
      threshold: Double, numBands: Int = 32): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // EXACT-DUP COLLAPSE first — the production stage order this build's
    // own scaladoc cites, now applied INSIDE the build: on a
    // replica-heavy corpus (web crawls; the sf10 fixture) identical
    // word-sets form families whose banded candidates AND verified
    // edges are both Ω(family²) — the sf10 probe measured the verify
    // join spilling >75 GB on exactly this mass. Every consumer reads
    // this store for CONNECTIVITY only (ConnectedComponents.minLabel),
    // so: identical word-sets collapse to their min-id representative
    // (one window shuffle), the banded verify runs over DISTINCT
    // signatures, and each non-rep doc attaches by one star edge —
    // j(identical sets) = 1.0 ≥ any threshold ≤ 1, rep < member by
    // construction. Closure equivalence: j depends only on ws, so
    // substituting a doc's rep preserves every ≥-threshold relation —
    // components are unchanged (the d_dedup_cluster oracle's
    // INDEPENDENT full-corpus closure re-derivation gates this
    // data-level, not just by argument). Edge volume: linear in
    // replicas + the rep graph's true near-dup families.
    val wm = org.apache.spark.sql.expressions.Window.partitionBy($"ws")
    val tagged = docs
      .select($"doc_id", $"ws", min($"doc_id").over(wm).as("rep"))
      .cache()
    val reps = tagged.filter($"doc_id" === $"rep").select($"doc_id", $"ws")
    val stars = tagged.filter($"doc_id" =!= $"rep")
      .select($"rep".as("doc_a"), $"doc_id".as("doc_b"),
        lit(1.0).as("jaccard"))
    // Bucket rows CARRY the word set, and the exact-Jaccard verify runs
    // INSIDE the bucket join — nothing candidate-sized is ever
    // materialized. The r8 sf10 probe killed the previous shape
    // (candidates → distinct() → attach-ws joins → verify) on a
    // degenerate-vocabulary corpus where BACKGROUND Jaccard sits near
    // the banding floor (measured: 31-word vocab, ~23-token sets, mean
    // pairwise j = 0.55 → 98% of all pairs collide in ≥1 of 32×2-row
    // bands): the billion-row candidate distinct() is a fixed-width
    // hash aggregate whose spill is proportional to the CANDIDATE set,
    // and it filled the disk. No banding parameters fix that corpus —
    // separating j≈0.55 background from a 0.8 threshold is what the
    // exact verify is FOR — so the verify must stream: candidates now
    // exist only as codegen'd join fan-out rows that die in the join
    // filter, and the first materialized frame is the VERIFIED edge
    // set (linear in true near-dup mass). Cost model: ws rides every
    // bucket row (numBands copies), so shuffle volume is
    // numBands × Σ|ws| — corpus-linear — instead of candidate-scaled.
    // A cheap size guard short-circuits the merge-scan: j(A,B) ≥ t
    // implies |A| ≥ t·|B| and |B| ≥ t·|A| (|A∩B| ≤ min, |A∪B| ≥ max),
    // so length-skewed fan-out rows never pay the full intersection.
    // A pair colliding in k bands reaches the fan-out k times; band
    // OWNERSHIP (emit from the FIRST colliding band only — each bucket
    // row carries its doc's full band-hash array, and firstEqIndex is a
    // pure order-free function of the two arrays) makes emission
    // exactly-once per candidate pair, so there is NO post-verify
    // dropDuplicates: on a high-background-similarity corpus that
    // aggregate's shuffle is sized by true-edges × band-duplication
    // (measured at the sf10 probe: ~9% of ALL pairs are true ≥0.8
    // edges, ×~20 colliding bands each — a 1.4-billion-row dedup), and
    // ownership also cuts the exact-verify calls by the same factor.
    // Both join sides are pinned to (band_id, bh) at default
    // parallelism — the r8 AQE lesson: the shuffle INPUT here is MBs
    // while the fan-out is the whole quadratic core, so
    // coalesce-by-input-bytes would serialize it onto one task. The
    // bucket frame is NOT cached: the self-join's two sides are
    // plan-identical up to the pinned exchange, so ReusedExchange
    // serves both reads from ONE shuffle — caching a corpus×bands
    // frame to save a re-projection is the wrong trade at scale (the
    // 16 GiB probe JVM OOM'd on exactly that cache).
    val buckets = reps
      .select($"doc_id", $"ws",
        GraftText.minhashBands($"ws", 1, 64, numBands).as("bands"))
      .select($"doc_id", $"ws", $"bands",
        posexplode($"bands").as(Seq("band_id", "bh")))
      .repartition(spark.sparkContext.defaultParallelism,
        $"band_id", $"bh")
    val sizeGuard =
      size(col("x.ws")).cast("double") >= lit(threshold) * size(col("y.ws")) &&
        size(col("y.ws")).cast("double") >= lit(threshold) * size(col("x.ws"))
    val out = buckets.as("x")
      .join(buckets.as("y"), Seq("band_id", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id") &&
        $"band_id" === GraftText.firstEqIndex(col("x.bands"), col("y.bands")))
      .withColumn("jaccard",
        when(sizeGuard, jaccard(col("x.ws"), col("y.ws")))
          .otherwise(lit(-1.0)))
      .filter($"jaccard" >= threshold)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        round($"jaccard", 4).as("jaccard"))
      .unionByName(stars)
    (out, tagged)
  }

  /** Persisted verified-edge artifact (the IndexStore discipline, keyed
    * on documents.parquet mtime): the near-dup graph is a corpus-BUILD
    * artifact consumed by every graph consumer — cluster assignment,
    * leakage split — exactly the way the ANN search entries read the
    * persisted IVF and t_bpe_encode reads the learned merges. Built by
    * [[minhashVerifiedEdges]] (intra-bucket candidates + exact
    * j ≥ 0.8 verify): the store's r7 recipe persisted the
    * (lang, length-band)-BLOCKED ALL-PAIRS verifier instead, which
    * made the build — and with it every graph consumer's warm-up —
    * quadratic in O(corpus)-sized block populations (measured: the
    * sf10 scale probe spent >16 min inside this one build before the
    * recipe change; the banded build's quadratic is confined to
    * near-dup family buckets). d_jaccard_pairs remains the declared
    * quadratic verifier entry, unchanged. Key "jedges3" (v3 = the
    * exact-dup collapse inside [[minhashVerifiedEdges]]): recipe
    * changes self-invalidate artifacts persisted by the old build (the
    * IndexStore BuildVersion discipline). */
  /** Edge-store recipe version: chained into every downstream artifact
    * key (componentStore) so a recipe bump invalidates derived stores
    * in lockstep — a jcomp keyed only on the corpus would silently
    * serve components of the OLD graph after an edge-recipe change. */
  private val JaccardEdgeRecipe = "jedges3"

  private[graft] def jaccardEdgeStore(s: SparkSession, d: String): String =
    TextQueries.docArtifact(d, JaccardEdgeRecipe) { out =>
      import s.implicits._
      val docs = load(s, d, "documents")
        .select($"doc_id", sort_array(array_distinct(toks($"text"))).as("ws"))
        .cache()
      minhashVerifiedEdges(docs, GraftText.jaccardSorted(_, _), 0.8)
        .write.mode("overwrite").parquet(out)
      docs.unpersist()
    }

  /** Persisted near-dup COMPONENT assignment (doc_id, component) over
    * [[jaccardEdgeStore]] — at 100 TB the transitive closure is a
    * corpus-build artifact consumed by many downstream passes
    * (splitting, auditing, keeper selection), not a per-query
    * recompute; the consumers (d_split_leakage, d_cluster_sizes) read
    * this the way ANN search entries read the persisted IVF, while
    * d_dedup_cluster deliberately keeps timing the live assignment
    * (the family's build-step entry, the lmStore discipline). */
  private[graft] def componentStore(s: SparkSession, d: String): String =
    TextQueries.docArtifact(d, s"jcomp-$JaccardEdgeRecipe") { out =>
      import s.implicits._
      graft.operators.ConnectedComponents.minLabel(
          load(s, d, "documents").select($"doc_id"), "doc_id",
          s.read.parquet(jaccardEdgeStore(s, d)), "doc_a", "doc_b",
          validateNodes = false, trustedEndpoints = true)
        .select($"id".cast("long").as("doc_id"),
          $"component".cast("long").as("component"))
        .write.mode("overwrite").parquet(out)
    }

  /** Banded Hamming-ball pairs over (doc_id, fp bigint): explode each
    * fingerprint into `nChunks` equal bit chunks, equi-join on
    * (chunk_id, chunk value), verify true Hamming on candidates.
    * Pigeonhole guarantee: hamming(a,b) <= nChunks - 1 implies a and b
    * agree on at least one whole chunk, so the result is COMPLETE for
    * any `maxHamming < nChunks`. Shuffle keys are chunk values, never
    * text — candidate cost scales with chunk-collision counts, not n².
    */
  def simhashBandedPairs(docs: DataFrame, maxHamming: Int,
      nChunks: Int = 8): DataFrame = {
    require(maxHamming < nChunks, "banding only guarantees recall below nChunks")
    val s = docs.sparkSession
    import s.implicits._
    val bits = 64 / nChunks
    val mask = (1L << bits) - 1
    val chunkCols = (0 until nChunks).map { c =>
      shiftright($"fp", c * bits).bitwiseAND(lit(mask))
    }
    // Chunk-OWNERSHIP emission, the streaming discipline of
    // minhashVerifiedEdges: each bucket row carries the doc's full
    // chunk-value array, a pair is emitted from exactly its FIRST
    // agreeing chunk, and the true-Hamming verify runs INSIDE the join
    // — so nothing candidate-scaled ever reaches an aggregate. The
    // previous shape dropDuplicates'd the RAW candidate set before the
    // Hamming filter; on a concentrated-fingerprint corpus (the sf10
    // probe: a 31-word vocabulary collapses simhash onto few values,
    // so chunk buckets hold large fractions of a replica) that
    // aggregate's spill is proportional to Σ bucket², and it filled
    // the disk. The pinned exchange is the jedges AQE lesson (input
    // corpus-linear, fan-out quadratic); the self-join reuses it.
    val buckets = docs
      .select($"doc_id", $"fp", array(chunkCols: _*).as("cvs"))
      .select($"doc_id", $"fp", $"cvs",
        posexplode($"cvs").as(Seq("chunk_id", "cv")))
      .repartition(s.sparkContext.defaultParallelism, $"chunk_id", $"cv")
    buckets.as("x").join(buckets.as("y"), Seq("chunk_id", "cv"))
      .filter(col("x.doc_id") < col("y.doc_id") &&
        $"chunk_id" === GraftText.firstEqIndex(col("x.cvs"), col("y.cvs")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long")
          .as("hamming"))
      .filter($"hamming" <= maxHamming)
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup on a canonical bag-of-words signature.
    "d_dedup_exact" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "documents")
        .select($"doc_id",
          concat_ws(" ", sort_array(array_distinct(toks($"text")))).as("sig"))
        .groupBy($"sig")
        .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_dups"))
        .select($"doc_id", $"n_dups")
        .transform(orderedLarge(_, "doc_id"))
    }),

    // Exact pairwise word-set Jaccard within a (lang, length-band)
    // partition. Two prefilters keep the quadratic core small:
    //  - equi-band on len(ws) div 25 (part of the declared semantics,
    //    mirrored in the oracle);
    //  - integer size-ratio gate 5*min >= 4*max, which provably loses no
    //    j >= 0.8 pair (j >= 0.8 ⇒ |min|/|max| >= 0.8) but skips the
    //    expensive set intersection for implausible pairs.
    // orderBy directly: jaccardPairsRaw returns an EAGER checkpoint, so
    // the range-sort's sampling pass re-reads stored blocks — the
    // upstream double-execution orderedLarge exists to prevent cannot
    // occur, and its extra materialization of the same 727k rows was
    // the single largest slice of this entry's bench time
    "d_jaccard_pairs" -> ((s: SparkSession, d: String) =>
      jaccardPairsRaw(s, d).orderBy("doc_a", "doc_b")),

    // Connected components over the verified near-dup graph — the
    // transitive-closure step every real dedup pipeline ends with:
    // pair edges only say "these two match", but dedup must keep ONE
    // doc per COMPONENT (chains A~B~C keep both A and C if you only
    // look at edges). Min-label propagation (ConnectedComponents), a
    // bounded number of node-keyed shuffle rounds: the edges are the
    // banded-minhash verified edge set (minhashVerifiedEdges — exact
    // j>=0.8 over intra-bucket candidates, quadratic only in near-dup
    // FAMILY size), the LSH edge set every corpus-scale pipeline
    // clusters over. d_jaccard_pairs remains the bounded-block exact
    // verifier of the approximation, as its own declared entry.
    "d_dedup_cluster" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val docs = load(s, d, "documents").select($"doc_id")
      // trustedEndpoints: the edge set derives from the SAME documents
      // frame these nodes project from — endpoints ⊆ nodes by
      // construction, so the orphan pass (one full scan of the edge
      // set) would re-prove a tautology; the declared trust keeps the
      // bounded union-find finish qualified.
      // Edges come from the persisted store (jaccardEdgeStore): this
      // entry times COMPONENT ASSIGNMENT over the verified graph, the
      // way the ANN entries time search over the persisted index.
      val comp = graft.operators.ConnectedComponents.minLabel(
        docs, "doc_id", s.read.parquet(jaccardEdgeStore(s, d)),
        "doc_a", "doc_b",
        validateNodes = false, trustedEndpoints = true)
      val sizes = comp.groupBy($"component").agg(count(lit(1)).as("cluster_size"))
      comp.join(sizes, "component")
        .select($"id".as("doc_id"), $"component".as("cluster_id"),
          $"cluster_size", ($"id" =!= $"component").as("is_dup"))
        .transform(orderedLarge(_, "doc_id"))
    }),

    // Duplication PROFILE of the corpus — the audit run before
    // choosing a dedup strategy (exact-only vs near vs semantic) and
    // after it to prove the result: the near-dup cluster-size
    // histogram. size-1 mass = unique docs; a fat tail of giant
    // clusters = template/boilerplate floods where keep-one dedup
    // reclaims the most tokens. Reads the persisted COMPONENT store
    // (componentStore — d_dedup_cluster is the entry that times the
    // live assignment); the histogram itself is two
    // map-side-combinable aggregates over component-sized then
    // size-sized frames — nothing corpus-scaled at all.
    "d_cluster_sizes" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val comp = s.read.parquet(componentStore(s, d))
      val hist = comp.groupBy($"component")
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
      // total from the bounded hist frame (components partition the
      // docs, so Σ size·count == n_docs) — the v_graph_stats idiom;
      // a comp.count() here would scan the corpus-sized store twice
      val total = hist.agg(
        sum($"cluster_size" * $"n_clusters").as("n_docs"))
      hist.crossJoin(broadcast(total))
        .select($"cluster_size", $"n_clusters",
          ($"cluster_size" * $"n_clusters").as("docs_in_size"),
          expr("cluster_size * n_clusters * 10000 DIV n_docs")
            .as("doc_share_bp"))
        .orderBy("cluster_size")
    }),

    // Leakage-safe train/test split — the SPLIT stage that follows
    // dedup in a training-data pipeline. A plain per-doc hash split
    // leaks near-duplicates across the boundary (a test doc whose
    // near-twin sits in train inflates every eval number); the fix is
    // to split by near-dup COMPONENT, so a whole family of mutual
    // near-dups lands on one side. Group = connected component of the
    // banded-minhash verified j >= 0.8 edge store (the d_dedup_cluster
    // machinery, same bounded label-contraction rounds); the 90/10
    // assignment is the
    // Knuth multiplicative hash of the group REPRESENTATIVE (its min
    // doc_id), so membership decides the split, never the individual
    // doc. Scale: one scan of the persisted component store + a
    // scan-side hash compare (the closure is the store's build cost,
    // timed by d_dedup_cluster — the lmStore discipline).
    // 3865470566 = floor(0.9 * 2^32): the literal is shared verbatim
    // with the oracle (and with d_mixture_sample's threshold idiom).
    "d_split_leakage" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      s.read.parquet(componentStore(s, d))
        .select($"doc_id", $"component".as("group_id"),
          when(pmod($"component" * lit(2654435761L), lit(4294967296L))
            < lit(3865470566L), lit("train"))
            .otherwise(lit("test")).as("split"))
        .transform(orderedLarge(_, "doc_id"))
    }),

    // Character-trigram Jaccard dedup — the n-gram flavor of #21/#23 for
    // text where word tokenization is unreliable (no spaces, CJK-ish,
    // code). KEEPER-ASSIGNMENT output: on this corpus ~60 % of all doc
    // pairs are near-dups, so ANY pair enumeration is Ω(dup²) in its own
    // output (an exact trigram-pair form measured 31 s at sf0.1, all of
    // it output-bound) while keep-or-drop stays linear. Same machinery
    // as d_dedup_minhash with trigram tokens: 64-perm minhash → 16
    // bands, ≤16 candidate edges per doc to per-bucket min reps, exact
    // trigram-Jaccard verify (j >= 0.7), smallest verified neighbor
    // becomes the keeper.
    "d_ngram_jaccard" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val docs = load(s, d, "documents")
        // PACKED trigram sets (array<long>, injective 21-bit code-point
        // packing): materializing string-gram arrays — columnar cache
        // encode/decode, shuffle width, byte-wise merge compares — was
        // the pipeline's single largest measured cost, not computing
        // them (see CharNgramLongSet scaladoc)
        .select($"doc_id", GraftText.charNgramLongSet($"text", 3).as("gs"))
        .filter(size($"gs") > 0) // <3-char docs have no trigram identity
      minhashKeeperAssign(docs.select($"doc_id", $"gs".as("ws")),
          GraftText.jaccardSortedLong(_, _), 0.7)
        .select($"doc_id", $"keeper_id",
          $"keeper_id".=!=($"doc_id").as("is_dup"))
        .transform(orderedLarge(_, "doc_id"))
    }),

    // MinHash + LSH dedup, emitting a KEEPER ASSIGNMENT (one row per
    // document), not all near-dup pairs — with heavy duplication, pair
    // enumeration is Ω(dup²) while the decision "keep or drop, and whom
    // do I duplicate" is linear. Word-level minhash (shingle width 1)
    // estimates word-SET Jaccard; 64 permutations, 16 bands × 4 rows
    // (≈99% bucket recall at j=0.7), one pass per row via the native
    // MinHashBands expression. Each doc gets ≤16 candidate edges (to the
    // min doc id of each of its buckets); edges are verified by true
    // Jaccard, and the smallest verified neighbor becomes the keeper.
    "d_dedup_minhash" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      // word sets feed banding + both verify joins + the final left
      // join — minhashKeeperAssign materializes the frame once
      val docs = load(s, d, "documents")
        .select($"doc_id", sort_array(array_distinct(toks($"text"))).as("ws"))
      minhashKeeperAssign(docs, GraftText.jaccardSorted(_, _), 0.7)
        .select($"doc_id", $"keeper_id",
          $"keeper_id".=!=($"doc_id").as("is_dup"))
        .transform(orderedLarge(_, "doc_id"))
    }),

    // The dedup REPORT by source (which feeds are redundant — the
    // number a corpus owner reads before renegotiating an ingest): per
    // source, docs, minhash-keeper dups, and the dup rate by one exact
    // pinned division. Rides the SAME shared keeper core as
    // d_dedup_minhash (one definition — the report cannot drift from
    // the dedup it reports on) plus one source-keyed rollup of the
    // bounded (doc_id, keeper_id) frame.
    "d_source_dup_rate" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val docs = load(s, d, "documents")
        .select($"doc_id", sort_array(array_distinct(toks($"text"))).as("ws"))
      val keepers = minhashKeeperAssign(docs, GraftText.jaccardSorted(_, _), 0.7)
      load(s, d, "documents").select($"doc_id", $"source")
        .join(keepers, "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"keeper_id" =!= $"doc_id", 1L).otherwise(0L)).as("n_dups"))
        .select($"source", $"n_docs", $"n_dups",
          round($"n_dups".cast("double") / $"n_docs", 4).as("dup_rate"))
        .orderBy("source")
    }),

    // SimHash fingerprints + banded Hamming-distance near-dup pairs.
    // 4 × 16-bit chunk bands with a MATCHING `hamming <= 3` filter: by
    // pigeonhole any pair within distance nChunks-1 = 3 shares an exact
    // chunk, so the output is COMPLETE at the declared radius (asserted
    // on planted fingerprints in DedupSpec). 16-bit chunks keep bucket
    // collision rates ~65536× below naive 8-bit banding — the radius/
    // chunk-width pair is chosen together, never independently (round 1
    // filtered at 6 with only distance-3 guarantees; round 2's first fix
    // tried 8×8-bit chunks, whose 256-value buckets blew candidate
    // volume up ~500× at sf0.1).
    "d_dedup_simhash" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val docs = load(s, d, "documents")
        .select($"doc_id", GraftText.simhash64(toks($"text")).as("fp"))
      simhashBandedPairs(docs, maxHamming = 3, nChunks = 4)
        .transform(ordered(_, "doc_a", "doc_b"))
    }),

    // Edit-distance near-dup pairs (levenshtein <= 5 on <200-char docs)
    // behind a PROVABLY LOSSLESS rare-gram prefix filter. Bounds chain:
    // one edit changes at most q=2 distinct bigrams, so edit(a,b) <= 5
    // implies bigram-set overlap >= max(na,nb) - 10; by the prefix-filter
    // theorem (AllPairs/PPJoin), any pair with overlap >= n_i - 10 must
    // share one of each side's FIRST 11 grams under a fixed global order.
    // Ordering grams by ascending corpus frequency makes those 11 grams
    // each doc's RAREST — so join buckets stay small by construction
    // (a naive join on all bigrams is quadratic through stopword-like
    // grams such as "e "). Candidates then pay levenshtein directly.
    // Docs with <= 10 distinct bigrams (vacuous threshold) fall back to
    // an all-pairs join over that tiny sliver — the whole operator stays
    // exactly equal to the quadratic contract (the oracle).
    "d_edit_distance" -> ((s: SparkSession, d: String) =>
      editDistancePairs(s, d).transform(ordered(_, "doc_a", "doc_b"))),

    // Deterministic stratified sampling: 20 docs per language, picked in
    // a pseudo-random but fully reproducible order (Knuth multiplicative
    // hash on doc_id — integer math, replicated exactly in the oracle).
    // The balanced-subset primitive of training-data curation: no rand(),
    // so stage retries and the SQL oracle see identical samples.
    // Selection runs through the bounded-heap top-k AGGREGATE (map-side
    // partial heaps ordered by (shuffle_key, doc_id)), not a window over
    // each language partition — a rank-the-whole-language window funnels
    // every row of a language through one task, which dies on a
    // billion-doc language; the heap form ships 20 rows per partition.
    "d_stratified_sample" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "documents")
        .withColumn("shuffle_key",
          pmod($"doc_id" * lit(2654435761L), lit(4294967296L)))
        // < 2^32, so the double cast is exact
        .transform(KnnSearch.ranked(_, "lang",
          $"shuffle_key".cast("double"), $"doc_id", 20))
        .select($"lang", $"neighbor_id".as("doc_id"), $"rnk")
        .orderBy("lang", "rnk")
    }),

    // Domain-mixture sampling (the Pile/LLaMA data-mixture stage):
    // a token budget is split across languages by declared weights, and
    // each language is down-sampled to its target token share by a
    // deterministic hash-rate threshold — keep iff knuth(doc_id) <
    // floor(min(1, budget·w/total_tokens)·2³²). Rate sampling, NOT
    // per-group ranking: selection is a scan-side integer compare
    // against a broadcast per-lang threshold, so there is no window, no
    // per-language funnel task, and retries/oracles see the identical
    // sample (binomial concentration puts achieved tokens within
    // O(√target) of target). Languages without a declared weight are
    // excluded by contract.
    "d_mixture_sample" -> ((s: SparkSession, d: String) =>
      mixtureSampleRaw(s, d).transform(orderedLarge(_, "lang", "doc_id"))),

    // Cross-document repeated-span statistics (the "exact substring
    // dedup" of Lee et al., Deduplicating Training Data Makes Language
    // Models Better, made distributive): every 8-word shingle is hashed
    // in one native pass, a shingle is "duplicated" when it occurs in
    // ≥2 distinct documents, and each doc reports how much of it is
    // covered by duplicated spans. Scale shape: ONE shuffle keyed on
    // 8-byte shingle hashes (never shingle text) marks duplicates via a
    // min/max-doc window; per-doc span coverage is then a scan-side
    // interval-union fold over each doc's own sorted positions —
    // linear in corpus size, no pair enumeration, no distinct-explode.
    // Docs shorter than the shingle width carry no spans and are
    // excluded by contract (none exist in this corpus).
    "d_substring_dedup" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val n = 8
      val sh = load(s, d, "documents")
        .select($"doc_id", toks($"text").as("toks"))
        .filter(size($"toks") >= n)
        .select($"doc_id", size($"toks").cast("long").as("n_toks"),
          posexplode(GraftText.wordShingleHashes($"toks", n)).as(Seq("p0", "sh")))
        .select($"doc_id", $"n_toks", ($"p0" + 1).cast("long").as("pos"), $"sh")
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"sh")
      val marked = sh.withColumn("is_dup",
        min($"doc_id").over(w) =!= max($"doc_id").over(w))
      marked
        .groupBy($"doc_id", $"n_toks")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when($"is_dup", 1L).otherwise(0L)).as("n_dup_shingles"),
          sort_array(collect_list(when($"is_dup", $"pos"))).as("dps"))
        .select($"doc_id", $"n_shingles", $"n_dup_shingles",
          round($"n_dup_shingles".cast("double") / $"n_shingles", 4)
            .as("dup_shingle_frac"),
          round(aggregate($"dps",
              struct(lit(0L).as("end"), lit(0L).as("total")),
              (st, p) => struct((p + n).as("end"),
                (st("total") + (p + n - greatest(st("end"), p))).as("total")),
              st => st("total")).cast("double") / $"n_toks", 4)
            .as("dup_token_frac"))
        .transform(orderedLarge(_, "doc_id"))
    }),

    // Corpus-level span dedup WITH document reassembly — the C4 /
    // RefinedWeb "line dedup" stage (every line occurring more than
    // once in the corpus is dropped from all but its first occurrence,
    // and the surviving lines are stitched back into a cleaned
    // document). This corpus has no newlines, so the "line" unit is a
    // NON-OVERLAPPING 8-word segment (the segmentation rule is the
    // parameter; the removal/reassembly machinery is the operator —
    // unlike d_substring_dedup, which only REPORTS overlap statistics,
    // this one REWRITES the corpus). Scale shape: ONE shuffle keyed on
    // the 8-byte FNV segment hash elects the first (doc_id, pos)
    // occurrence per distinct segment via a window min — never a
    // groupBy + join-back double-shuffle — then ONE doc_id shuffle
    // reassembles survivors in position order. Segment text rides only
    // the frames that need it for reassembly; the dedup DECISION
    // compares hashes (the d_substring_dedup hash-vs-string
    // independence: the oracle elects winners on the segment STRINGS,
    // so a 64-bit collision would fail the gate itself). A doc whose
    // every segment appeared earlier reassembles to '' — exact-dup
    // docs vanish here exactly as full-line dups vanish in C4.
    "d_line_dedup" -> ((s: SparkSession, d: String) =>
      lineDedup(load(s, d, "documents"), 8)
        .transform(orderedLarge(_, "doc_id"))),

    // Benchmark decontamination (GPT-3 appendix-C style): corpus docs
    // sharing any 8-word shingle with the held-out eval set (stand-in:
    // doc_id < 20; in production an external benchmark table) are
    // flagged. Eval shingle hashes broadcast (eval sets are bounded by
    // construction); one corpus pass, one doc_id rollup shuffle.
    "d_decontaminate" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      graft.operators.Decontaminate.mark(
          docs.filter($"doc_id" >= 20), docs.filter($"doc_id" < 20),
          "doc_id", "text", width = 8)
        .transform(orderedLarge(_, "doc_id"))
    }),

    // Embedding-cosine near-dup via multi-table LSH: candidates only
    // from bucket collisions (16 tables × 4 bits), verified by exact
    // cosine — the sub-quadratic scale path for d_embed_neardup, which
    // at 100 TB replaces its label-banded quadratic join entirely.
    "d_embed_lsh" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      // pairs arrive with their vectors (streaming ownership emission);
      // the cosine verify folds into the join stage — candidates never
      // materialize
      graft.operators.LshBuckets.bandedPairs(e, "vec_id", "embedding", 64,
          bitsPerTable = graft.operators.LshBuckets.chooseBits(
            graft.operators.IndexStore.corpusN(s, d)))
        .withColumn("cos_sim", cosine($"va", $"vb"))
        .filter($"cos_sim" > 0.4)
        .select($"vec_a", $"vec_b", round($"cos_sim", 4).as("cos_sim"))
        .transform(ordered(_, "vec_a", "vec_b"))
    }),

    // Embedding-cosine near-dup pairs within a label partition, behind
    // the same seeded LSH banding (candidates must share a band AND the
    // label), verified by exact cosine. Banding is replicated in the
    // oracle, so the hash gate holds by construction; recall vs the
    // exact within-label quadratic is guarded on planted near-dups in
    // QuadraticGraduationSpec (the quadratic form is verification-only —
    // see v_knn_self_pairs for why no lossless prefilter can exist at
    // this radius).
    "d_embed_neardup" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val e = load(s, d, "embeddings")
      graft.operators.LshBuckets
        .bandedPairs(e, "vec_id", "embedding", 64, extraKeys = Seq("label"),
          bitsPerTable = graft.operators.LshBuckets.chooseBits(
            graft.operators.IndexStore.corpusN(s, d)))
        .withColumn("cos_sim", cosine($"va", $"vb"))
        .filter($"cos_sim" > 0.4)
        .select($"vec_a", $"vec_b", round($"cos_sim", 4).as("cos_sim"))
        .transform(ordered(_, "vec_a", "vec_b"))
    }),

    // Cross-source contamination matrix: for every pair of corpus
    // sources, how much 5-gram shingle mass do they share? The corpus-
    // audit face of d_decontaminate (there: corpus vs a bounded eval
    // set; here: every source against every other). One shingle-keyed
    // aggregate collects each shingle's distinct source set; the pair
    // expansion is scan-side over that sorted set, whose width is
    // bounded by #sources, never by rows — so the plan survives any
    // corpus size with a fixed source vocabulary. Jaccard and
    // containment are exact-integer divisions. Same hash-vs-string
    // independence as the d_decontaminate oracle: the engine groups
    // 8-byte FNV shingle hashes, the oracle joins shingle strings —
    // equal modulo 64-bit collisions, which the hash gate itself
    // would expose.
    "d_source_overlap" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val n = 5
      // ONE shingle-keyed shuffle: aggregate each shingle's distinct
      // source set (bounded by the source VOCABULARY — 20 here, fixed
      // at any corpus size by contract), then expand the ≤ C(|S|,2)
      // ordered source pairs SCAN-SIDE from the sorted set and count
      // per pair; per-source shingle totals ride the same grouped
      // frame as a size-1 "pair". The previous distinct + cached
      // self-join + two size-join broadcasts paid the explode shuffle
      // three times (measured 2.2–4.0 s at sf0.1 vs ~1.2 s here).
      val grouped = load(s, d, "documents")
        .select($"source", toks($"text").as("toks"))
        .filter(size($"toks") >= n)
        .select($"source",
          explode(graft.GraftText.wordShingleHashes($"toks", n)).as("sh"))
        .groupBy($"sh")
        .agg(sort_array(collect_set($"source")).as("ss"))
        .select(explode(flatten(transform($"ss", (a, i) =>
          concat(array(struct(a.as("src_a"), a.as("src_b"))),
            transform(slice($"ss", i + 2, size($"ss")),
              b => struct(a.as("src_a"), b.as("src_b"))))))).as("p"))
        .groupBy($"p.src_a".as("src_a"), $"p.src_b".as("src_b"))
        .agg(count(lit(1)).as("n_common"))
        .localCheckpoint(true)
      val sizes = grouped.filter($"src_a" === $"src_b")
        .select($"src_a".as("source"), $"n_common".as("nsh"))
      grouped.filter($"src_a" =!= $"src_b")
        .join(broadcast(sizes.select($"source".as("src_a"), $"nsh".as("n_a"))),
          "src_a")
        .join(broadcast(sizes.select($"source".as("src_b"), $"nsh".as("n_b"))),
          "src_b")
        .select($"src_a", $"src_b", $"n_common", $"n_a", $"n_b",
          round($"n_common" / ($"n_a" + $"n_b" - $"n_common"), 4).as("jaccard"),
          round($"n_common" / least($"n_a", $"n_b"), 4).as("containment"))
        .orderBy($"src_a", $"src_b")
    }),

    // Hard-negative mining for contrastive retrieval training (the
    // DPR/Contriever data-prep stage): for each query document, the
    // top-5 nearest OTHER-SOURCE documents in the scan-side t_doc_embed
    // space — near enough to be confusable, from a different source so
    // they're (heuristically) not positives. Embedding cells are exact
    // IEEE divisions of integer votes; distances fold per-dim in fixed
    // order (zip_with → left fold, = the oracle's list_reduce), so
    // ranking compares bit-identical doubles with doc_id tie-break.
    // Scale shape: v_knn_bruteforce's — embed scan × broadcast query
    // embeds, bounded map-side top-k heap, source filter BEFORE the
    // heap (pre-filter fill-to-k semantics, the v_ivf_filtered rule).
    "d_hard_negatives" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val emb = load(s, d, "documents")
        .select($"doc_id", $"source", toks($"text").as("tk"))
        .select($"doc_id", $"source",
          transform(graft.GraftText.simhashVotes($"tk"),
            v => v.cast("double") / size($"tk")).as("ev"))
      val q = emb.filter($"doc_id" < 8)
        .select($"doc_id".as("query_id"), $"source".as("q_source"),
          $"ev".as("qv"))
      KnnSearch.ranked(emb.select($"doc_id".as("neighbor_id"), $"source", $"ev")
          .crossJoin(broadcast(q))
          .filter($"source" =!= $"q_source"), "query_id",
          aggregate(zip_with($"ev", $"qv", (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x), $"neighbor_id", 5)
        .orderBy("query_id", "rnk")
    }),

    // Cross-document overlap via winnowing fingerprints — the join
    // t_winnowing's local fingerprints exist for (the MOSS workload):
    // doc pairs sharing >= 3 RARE fingerprints, where rare = document
    // frequency <= 10. The df cap is MOSS's own "too common to mean
    // anything" rule AND the scale guarantee: per-fingerprint fanout is
    // bounded by C(10,2) pairs, so the self-join is linear in the
    // fingerprint count — never quadratic in docs — and the shuffle
    // carries 8-byte keys, never text. Exploded frame consumed three
    // times (df counts + both join sides): cached, the
    // d_source_overlap discipline.
    "d_winnow_overlap" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      // ONE fingerprint-keyed shuffle: group each fingerprint's doc
      // list (winnowFingerprints is per-doc distinct, so the list is
      // duplicate-free), keep df <= 10, and expand the <= C(10,2)
      // ordered pairs SCAN-SIDE with a nested transform over the
      // sorted list — doc_a < doc_b falls out of the sort. The
      // previous semi-join + fp-keyed self-join recomputed the
      // document-frequency aggregate on both join sides and shuffled
      // the exploded frame three times (measured 4.6 s at sf0.1 vs
      // ~1.5 s for this form); per-fp fanout is bounded by the df cap
      // either way, so both scale identically — this one just stops
      // paying for the same aggregate twice.
      load(s, d, "documents")
        .select($"doc_id",
          explode(GraftText.winnowFingerprints(
            coalesce($"text", lit("")), 8, 4)).as("fp"))
        .groupBy($"fp")
        .agg(sort_array(collect_list($"doc_id")).as("ds"))
        .filter(size($"ds").between(2, 10))
        .select(explode(flatten(transform($"ds", (a, i) =>
          transform(slice($"ds", i + 2, size($"ds")),
            b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
        .groupBy($"p.doc_a".as("doc_a"), $"p.doc_b".as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 3)
        .transform(ordered(_, "doc_a", "doc_b"))
    }),

    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169): score every raw document by how much more
    // likely its hashed-token profile is under a TARGET slice's
    // distribution than under the raw pool's — the stage that upsamples
    // Wikipedia-like text out of a web crawl. Target = sources
    // src0/src1/src2 (the "curated" 15 %); features = tokens FNV-hashed
    // into 64 buckets (the t_hash_features space); both distributions
    // add-one smoothed. Log importance weight = Σ_b m_b·bits_b with
    // bits_b = ((log2(ct+1) − log2(Nt+64)) − log2(cr+1)) + log2(Nr+64)
    // — every log2 argument an INTEGER (DetMath ⇒ bit-identical
    // doubles), per-doc fold in sorted bucket order (≤64 terms).
    // Scale shape: bucket stats are a 64-row broadcast frame; each raw
    // doc costs one map-side-combinable (doc, bucket) count plus a
    // bounded fold; top-100 selection is a TakeOrdered on the RAW
    // weight with doc_id tie-break (rounding only in the projection).
    // DSIR proper resamples with Gumbel noise; the deterministic top-k
    // is its documented no-noise variant — and the one a hash-compared
    // oracle can gate.
    "d_dsir_weights" -> ((s: SparkSession, d: String) => {
      // top-100: materialize eagerly (the per-doc checkpoint inside
      // dsirWeightsRaw frees with its RDD)
      dsirWeightsRaw(s, d)._1.localCheckpoint(true)
    }),

    // INCREMENTAL dedup — the corpus-ingestion reality at 100 TB: a
    // new batch (here the doc_id % 20 == 7 slice, ~5 %) is deduped
    // AGAINST the existing corpus instead of re-clustering everything.
    // Per batch doc: reason = 'exact' (identical word SET exists in
    // the corpus — ws-array equality join, the bag-of-words signature
    // of d_dedup_exact), else 'near' (some corpus doc with word-set
    // j >= 0.8 in the same lang — pigeonhole part-blocking makes the
    // bipartite join equi-keyed and provably lossless: j >= 0.8
    // bounds |aΔb| <= (na+nb)/9, so with floor(2·maxNw/9)+1 hash-
    // partitions per word set at least one partition is identical
    // between any qualifying pair), else 'unique'; keeper = the MIN
    // qualifying corpus doc, exact match winning. Scale shape:
    // batch ≪ corpus, both joins are hash-keyed (signature array /
    // (lang, p, part-hash)) — the corpus is never self-joined and
    // never shuffles at all in the near path; same hash-vs-string
    // oracle independence as d_jaccard_pairs.
    "d_dedup_incremental" -> ((s: SparkSession, d: String) => {
      val (res, sigs) = dedupIncrementalRaw(s, d)
      // bounded batch verdicts: materialize, then drop the signatures
      val out = res.localCheckpoint(true)
      sigs.unpersist(false)
      out
    }),

    // Dedup-quality evaluation — the measure-your-recall audit every
    // approximate dedup deployment runs before trusting it at 100 TB.
    // Methodology: a deterministic FIXED-SIZE audit sample — the
    // MinhashEvalSample docs with the smallest Knuth-hash values
    // (injective: the multiplier is odd, so ·2654435761 mod 2³² is a
    // bijection — no ties, retry-safe, no rand()). A fixed COUNT, not a
    // rate: the truth side is quadratic in the sample, so a constant
    // FRACTION of the corpus is unbounded at 100 TB while a constant
    // count costs the same on any corpus (the top-N select itself is
    // one map-side bounded-heap pass — TakeOrderedAndProject).
    // Within the sample, candidate pairs = word-set minhash
    // bucket-mates (the exact d_dedup_minhash banding: 64 perms, 16
    // bands) and truth = ALL pairs with exact word-set j ≥ 0.8 — no
    // language or equi-band restriction. The truth side still never
    // materializes a cartesian: j ≥ 0.8 forces 4·max(|a|,|b|) ≤
    // 5·min(|a|,|b|), so each doc explodes to the bounded RANGE of
    // length-bands a qualifying partner can occupy and the pair
    // generator is an equi-join on that band — lossless by the ratio
    // bound, linear in feasible pairs. One summary row; divisions
    // exact long→double. The oracle's truth side is the UNFILTERED
    // quadratic join over the same sample, so the hash match
    // independently proves the range-banding lossless.
    "d_minhash_eval" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val docs = load(s, d, "documents")
        .withColumn("hk", pmod($"doc_id" * lit(2654435761L), lit(4294967296L)))
        .orderBy($"hk")
        .limit(MinhashEvalSample)
        .select($"doc_id", sort_array(array_distinct(toks($"text"))).as("ws"))
        .withColumn("nw", size($"ws").cast("long"))
        .cache()
      val buckets = docs.select($"doc_id",
        posexplode(GraftText.minhashBands($"ws", 1, 64, 16))
          .as(Seq("band_id", "bh")))
      val cand = buckets.select($"doc_id".as("doc_a"), $"band_id", $"bh")
        .join(buckets.select($"doc_id".as("doc_b"), $"band_id", $"bh"),
          Seq("band_id", "bh"))
        .filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b")
        .distinct()
        .cache()
      val hits = cand
        .join(docs.select($"doc_id".as("doc_a"), $"ws".as("wa")), "doc_a")
        .join(docs.select($"doc_id".as("doc_b"), $"ws".as("wb")), "doc_b")
        .filter(GraftText.jaccardSorted($"wa", $"wb") >= 0.8)
        .agg(count(lit(1)).as("n_hits"))
      // feasible partner lengths for j >= 0.8: nb in [ceil(4na/5),
      // floor(5na/4)] — the left side explodes to that band range, the
      // right side sits in its own single band (monotone div 25)
      val lhs = docs.select($"doc_id".as("doc_a"), $"ws".as("wa"),
          explode(sequence(expr("((nw * 4 + 4) div 5) div 25"),
            expr("(nw * 5 div 4) div 25"))).as("band"))
      val rhs = docs.select($"doc_id".as("doc_b"), $"ws".as("wb"),
        expr("nw div 25").as("band"))
      val truth = lhs.join(rhs, "band")
        .filter($"doc_a" < $"doc_b" &&
          GraftText.jaccardSorted($"wa", $"wb") >= 0.8)
        .agg(count(lit(1)).as("n_truth"))
      val nc = cand.agg(count(lit(1)).as("n_candidates"))
      val res = truth.crossJoin(nc).crossJoin(hits)
        .select($"n_truth", $"n_candidates", $"n_hits",
          // NULL (not 0/0) on a duplicate-free corpus — the guard is
          // mirrored in the oracle (Spark's 0/0 is NULL, DuckDB's NaN)
          when($"n_candidates" > 0, round($"n_hits" / $"n_candidates", 4))
            .as("precision_at_j"),
          when($"n_truth" > 0, round($"n_hits" / $"n_truth", 4))
            .as("recall_at_j"))
        // one summary row: materialize it eagerly so the two audit
        // caches can be dropped before the frame leaves this scope
        .localCheckpoint(true)
      docs.unpersist(false)
      cand.unpersist(false)
      res
    })
  )

  /** The exact-verifier pair SQL without its final ordering — the
    * d_jaccard_pairs oracle, and the edge CTE of the cluster oracle. */
  private val JaccardPairsSqlBase: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws,
      |    len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::BIGINT AS nw
      |  FROM documents)
      |SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.ws, b.ws))::DOUBLE /
      |      len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
      |  FROM d a JOIN d b
      |    ON a.lang = b.lang AND (a.nw // 25) = (b.nw // 25)
      |    AND a.doc_id < b.doc_id
      |    AND 5 * least(a.nw, b.nw) >= 4 * greatest(a.nw, b.nw)
      |) WHERE jaccard >= 0.8""".stripMargin

  /** The minhash/components family re-reads its shared CTE chains (word
    * sets, signatures, buckets, edges, sym) once per reference under
    * DuckDB's re-inlining — MATERIALIZED hints cut the measured sf0.01
    * compare from 62/55/65 s to ~7 s per components oracle, identical
    * results (HashSql.materializeCtes scaladoc). */
  private val MaterializedOracles = Set(
    "d_dedup_cluster", "d_split_leakage", "d_cluster_sizes",
    "d_minhash_eval", "d_dedup_minhash", "d_source_dup_rate",
    "d_winnow_overlap", "d_ngram_jaccard")

  def oracles: Map[String, String] = rawOracles.map {
    case (k, sql) if MaterializedOracles(k) =>
      k -> graft.functions.HashSql.materializeCtes(sql)
    case kv => kv
  }

  private def rawOracles: Map[String, String] = Map(
    // t_doc_embed vectors re-derived, other-source pre-filter, same
    // fixed-order per-dim fold and (d², doc_id) ranking
    "d_hard_negatives" ->
      graft.functions.HashSql.hardNegativesOracle(k = 5, numQueries = 8),

    // shared winnowing CTEs + the same df cap and pair threshold
    "d_winnow_overlap" ->
      s"""WITH ${TextQueries.winnowCtesSql},
         |wrare AS (
         |  SELECT doc_id, fp FROM wexp
         |  WHERE fp IN (SELECT fp FROM wexp GROUP BY fp HAVING count(*) <= 10)),
         |wpair AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM wrare a JOIN wrare b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared FROM wpair
         |WHERE n_shared >= 3 ORDER BY doc_a, doc_b""".stripMargin,

    // same FNV%64 buckets, same add-one-smoothed DetMath log chain in
    // the same left-associative order, same sorted-bucket fold, ranking
    // on the RAW weight with doc_id tie-break
    "d_dsir_weights" -> {
      import graft.functions.{DetMath, HashSql}
      s"""WITH it AS (
         |  SELECT doc_id, source IN ('src0', 'src1', 'src2') AS is_t,
         |    unnest(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) AS tok
         |  FROM documents),
         |ib AS (SELECT doc_id, is_t,
         |    (${HashSql.fnvSql("tok")} % 64)::BIGINT AS bkt FROM it),
         |ist AS (SELECT bkt,
         |    sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS ct,
         |    -- NOT is_t (not ELSE): a NULL source must count into
         |    -- NEITHER pool, matching when(!is_t, 1).otherwise(0)
         |    sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END)::BIGINT AS cr
         |  FROM ib GROUP BY bkt),
         |itot AS (SELECT sum(ct)::BIGINT AS nt, sum(cr)::BIGINT AS nr FROM ist),
         |ibits AS (SELECT bkt,
         |    ((${DetMath.log2DetSql("(ct + 1)")} - ${DetMath.log2DetSql("(nt + 64)")})
         |      - ${DetMath.log2DetSql("(cr + 1)")}) + ${DetMath.log2DetSql("(nr + 64)")} AS bits
         |  FROM ist, itot),
         |im AS (SELECT doc_id, bkt, count(*)::BIGINT AS m
         |  FROM ib WHERE NOT is_t GROUP BY doc_id, bkt),
         |iw AS (SELECT doc_id, list_reduce(list_prepend(0.0,
         |    list(m::DOUBLE * bits ORDER BY bkt)), (a, b) -> a + b) AS w
         |  FROM im JOIN ibits USING (bkt) GROUP BY doc_id)
         |SELECT doc_id, round(w, 4) AS li_weight
         |FROM iw ORDER BY w DESC, doc_id LIMIT 100""".stripMargin
    },

    "d_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM (SELECT doc_id,
        |        array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ') AS sig
        |      FROM documents)
        |GROUP BY sig ORDER BY doc_id""".stripMargin,

    "d_jaccard_pairs" -> s"$JaccardPairsSqlBase ORDER BY doc_a, doc_b",

    // Reachability closure over the STORE's edge derivation (the
    // banded-minhash verified edges, replayed end to end — seeded
    // minhash, star candidates, exact verify): a recursive CTE floods
    // every label through the symmetric edge list; min(label) per node
    // is the component id — derivation entirely disjoint from the
    // plan's label-propagation loop.
    "d_dedup_cluster" ->
      s"""WITH RECURSIVE ${graft.functions.HashSql.minhashEdgesCtes(
              graft.functions.HashSql.wordSetDef, jaccardThreshold = 0.8,
              numBands = 32)},
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
         |        UNION ALL SELECT doc_b, doc_a FROM edges),
         |reach(node, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT sym.b, r.lab FROM reach r JOIN sym ON sym.a = r.node
         |),
         |comp AS (SELECT node AS doc_id, min(lab) AS cluster_id
         |         FROM reach GROUP BY node),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size
         |          FROM comp GROUP BY cluster_id)
         |SELECT c.doc_id, c.cluster_id, z.cluster_size,
         |  c.doc_id != c.cluster_id AS is_dup
         |FROM comp c JOIN sizes z USING (cluster_id)
         |ORDER BY c.doc_id""".stripMargin,

    // Same recursive-CTE components; identical histogram arithmetic
    "d_cluster_sizes" ->
      s"""WITH RECURSIVE ${graft.functions.HashSql.minhashEdgesCtes(
              graft.functions.HashSql.wordSetDef, jaccardThreshold = 0.8,
              numBands = 32)},
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
         |        UNION ALL SELECT doc_b, doc_a FROM edges),
         |reach(node, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT sym.b, r.lab FROM reach r JOIN sym ON sym.a = r.node
         |),
         |comp AS (SELECT node AS doc_id, min(lab) AS cluster_id
         |         FROM reach GROUP BY node),
         |hist AS (SELECT cluster_size, count(*) AS n_clusters FROM (
         |           SELECT cluster_id, count(*) AS cluster_size
         |           FROM comp GROUP BY cluster_id) GROUP BY cluster_size),
         |nn AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT cluster_size::BIGINT AS cluster_size,
         |  n_clusters::BIGINT AS n_clusters,
         |  (cluster_size * n_clusters)::BIGINT AS docs_in_size,
         |  ((cluster_size * n_clusters * 10000) // n_docs)::BIGINT
         |    AS doc_share_bp
         |FROM hist, nn ORDER BY cluster_size""".stripMargin,

    // Same recursive-CTE component derivation as the d_dedup_cluster
    // oracle; the split is the identical Knuth-hash literal arithmetic
    // over the component representative (all values non-negative, so
    // DuckDB % == Spark pmod).
    "d_split_leakage" ->
      s"""WITH RECURSIVE ${graft.functions.HashSql.minhashEdgesCtes(
              graft.functions.HashSql.wordSetDef, jaccardThreshold = 0.8,
              numBands = 32)},
         |sym AS (SELECT doc_a AS a, doc_b AS b FROM edges
         |        UNION ALL SELECT doc_b, doc_a FROM edges),
         |reach(node, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT sym.b, r.lab FROM reach r JOIN sym ON sym.a = r.node
         |),
         |comp AS (SELECT node AS doc_id, min(lab) AS group_id
         |         FROM reach GROUP BY node)
         |SELECT doc_id, group_id,
         |  CASE WHEN KNUTH32 < 3865470566
         |       THEN 'train' ELSE 'test' END AS split
         |FROM comp ORDER BY doc_id""".stripMargin
        .replace("KNUTH32",
          graft.functions.HashSql.knuthSql("group_id", 4294967296L)),

    // The oracle is the straight quadratic contract — the Spark plan's
    // q-gram prefilter is lossless, so both must produce identical rows.
    "d_edit_distance" ->
      """SELECT doc_a, doc_b, edit_dist FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    levenshtein(a.text, b.text)::BIGINT AS edit_dist
        |  FROM documents a JOIN documents b
        |    ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE a.n_chars < 200 AND b.n_chars < 200
        |) WHERE edit_dist <= 5 ORDER BY doc_a, doc_b""".stripMargin,

    "d_stratified_sample" ->
      """SELECT lang, doc_id, rnk FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY KNUTH32, doc_id) AS rnk
        |  FROM documents
        |) WHERE rnk <= 20 ORDER BY lang, rnk""".stripMargin
        .replace("KNUTH32",
          graft.functions.HashSql.knuthSql("doc_id", 4294967296L)),

    // the rate thresholds are re-derived in SQL with the same literal
    // weights and the same IEEE double ops in the same order (mul, div,
    // least, mul, floor), so both engines cut at identical integers
    "d_mixture_sample" ->
      """WITH n AS (
        |  SELECT doc_id, lang,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_toks
        |  FROM documents),
        |w(lang, wt) AS (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
        |  ('fr', 0.15), ('zh', 0.15)),
        |r AS (
        |  SELECT n.lang,
        |    floor(least(1.0::DOUBLE,
        |      8000.0::DOUBLE * wt::DOUBLE / sum(n.n_toks)::DOUBLE)
        |      * 4294967296.0)::BIGINT AS threshold
        |  FROM n JOIN w ON n.lang = w.lang GROUP BY n.lang, wt)
        |SELECT n.lang, n.doc_id, n.n_toks
        |FROM n JOIN r ON n.lang = r.lang
        |WHERE KNUTH32 < r.threshold
        |ORDER BY n.lang, n.doc_id""".stripMargin
        .replace("KNUTH32",
          graft.functions.HashSql.knuthSql("n.doc_id", 4294967296L)),

    // Independent derivation: groups the shingle STRINGS (the plan
    // groups their FNV hashes — equal modulo 64-bit collisions, which
    // the hash gate itself would expose) and computes span coverage by
    // explode + DISTINCT (the plan uses a sorted interval-union fold).
    "d_substring_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, len(toks)::BIGINT AS n_toks, i AS pos,
        |    array_to_string(toks[i:i+7], ' ') AS s
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |        FROM t WHERE len(toks) >= 8)),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT doc_id, count(DISTINCT tp) AS covered FROM (
        |    SELECT dsh.doc_id, unnest(range(dsh.pos, dsh.pos + 8)) AS tp
        |    FROM (SELECT sh.* FROM sh JOIN dup ON sh.s = dup.s) dsh)
        |  GROUP BY doc_id),
        |agg AS (
        |  SELECT sh.doc_id, any_value(n_toks) AS n_toks,
        |    count(*) AS n_shingles, count(dup.s) AS n_dup_shingles
        |  FROM sh LEFT JOIN dup ON sh.s = dup.s GROUP BY sh.doc_id)
        |SELECT agg.doc_id, n_shingles, n_dup_shingles,
        |  round(n_dup_shingles::DOUBLE / n_shingles, 4) AS dup_shingle_frac,
        |  round(coalesce(cov.covered, 0)::DOUBLE / n_toks, 4) AS dup_token_frac
        |FROM agg LEFT JOIN cov ON agg.doc_id = cov.doc_id
        |ORDER BY agg.doc_id""".stripMargin,

    // Winner election on the segment STRINGS (the plan windows over
    // their FNV hashes — equal modulo 64-bit collisions, which this
    // very gate would expose). row_number replaces the plan's window
    // min-struct: disjoint derivations of "first (doc_id, pos)
    // occurrence". Slice arithmetic: DuckDB w[a:b] is 1-based
    // inclusive-clipped == Spark slice(w, a, 8).
    "d_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(w[i*8+1 : i*8+8], ' ') AS seg
        |  FROM (SELECT doc_id, w, unnest(range((len(w)-1)//8 + 1)) AS i
        |        FROM t)),
        |marked AS (
        |  SELECT doc_id, pos, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) = 1
        |      AS kept
        |  FROM segs)
        |SELECT doc_id,
        |  coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE kept),
        |           '') AS clean_text,
        |  count(*) FILTER (WHERE kept) AS n_kept,
        |  count(*) FILTER (WHERE NOT kept) AS n_removed
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same shingle-STRING independence as the substring-dedup oracle:
    // the engine joins 8-byte FNV hashes, the oracle joins the strings
    // themselves — equal modulo 64-bit collisions, which the hash gate
    // itself would expose
    "d_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS s
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |        FROM t WHERE len(toks) >= 8)),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
        |SELECT c.doc_id, count(*) AS n_shingles,
        |  count(ev.s) AS n_eval_shingles,
        |  round(count(ev.s)::DOUBLE / count(*), 4) AS contaminated_frac,
        |  count(ev.s) > 0 AS is_contaminated
        |FROM (SELECT * FROM sh WHERE doc_id >= 20) c
        |LEFT JOIN ev ON c.s = ev.s
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,

    "d_embed_neardup" -> {
      val cand = graft.operators.LshBuckets.bandedPairsSql(
        "embeddings", "vec_id", "embedding", 64, extraKeys = Seq("label"),
        bitsPerTable = graft.operators.LshBuckets.oracleBits)
      s"""WITH $cand
         |SELECT vec_a, vec_b, round(cos_sim, 4) AS cos_sim FROM (
         |  SELECT vec_a, vec_b,
         |    list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS cos_sim
         |  FROM cand
         |  JOIN embeddings ea ON ea.vec_id = cand.vec_a
         |  JOIN embeddings eb ON eb.vec_id = cand.vec_b
         |) WHERE cos_sim > 0.4 ORDER BY vec_a, vec_b""".stripMargin
    },

    // Full hash gate for the multi-table LSH path: the seeded 16×8-bit
    // banding is replicated verbatim in SQL (exact double literals, same
    // sign/offset math as the native LshBands expression), then the same
    // bucket self-join + exact-cosine verify.
    // Full hash gate for the seeded minhash keeper assignments: the
    // whole pipeline — per-token FNV, 64 affine permutations (signed
    // mins, split-multiplier mod-2^64 products), 16-band FNV folds,
    // bucket rep election, exact-Jaccard verify — is replicated in
    // DuckDB HUGEINT arithmetic (HashSql.minhashKeeperOracle).
    "d_dedup_minhash" ->
      graft.functions.HashSql.minhashKeeperOracle(
        graft.functions.HashSql.wordSetDef, jaccardThreshold = 0.7),

    // same keeper CTEs; per-source rollup with the identical division
    "d_source_dup_rate" -> {
      val ctes = graft.functions.HashSql.minhashKeeperCtes(
        graft.functions.HashSql.wordSetDef, jaccardThreshold = 0.7)
      s"""WITH $ctes,
         |srcj AS (
         |  SELECT dd.source,
         |    CASE WHEN ka.keeper_id != ka.doc_id THEN 1 ELSE 0 END AS isd
         |  FROM documents dd JOIN keepassign ka ON dd.doc_id = ka.doc_id)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(isd)::BIGINT AS n_dups,
         |  round(sum(isd)::DOUBLE / count(*), 4) AS dup_rate
         |FROM srcj GROUP BY source ORDER BY source""".stripMargin
    },

    "d_ngram_jaccard" ->
      graft.functions.HashSql.minhashKeeperOracle(
        graft.functions.HashSql.packedTrigramSetDef, jaccardThreshold = 0.7,
        tokenHashSql = graft.functions.HashSql.fnvLongSql),

    // Full hash gate via HUGEINT-replicated SimHash: the oracle is the
    // STRAIGHT QUADRATIC hamming <= 3 contract, while the Spark plan
    // answers through 4×16-bit chunk banding — so the match is a direct,
    // data-level proof of the banding's pigeonhole completeness claim
    // (every <=3 pair shares a chunk), not just of the hash function.
    "d_dedup_simhash" ->
      graft.functions.HashSql.simhashPairsOracle(maxHamming = 3),

    "d_embed_lsh" -> {
      val cand = graft.operators.LshBuckets
        .bandedPairsSql("embeddings", "vec_id", "embedding", 64,
          bitsPerTable = graft.operators.LshBuckets.oracleBits)
      s"""WITH $cand
         |SELECT vec_a, vec_b, round(cos_sim, 4) AS cos_sim FROM (
         |  SELECT vec_a, vec_b,
         |    list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) AS cos_sim
         |  FROM cand
         |  JOIN embeddings ea ON ea.vec_id = cand.vec_a
         |  JOIN embeddings eb ON eb.vec_id = cand.vec_b
         |) WHERE cos_sim > 0.4 ORDER BY vec_a, vec_b""".stripMargin
    },

    // shingle STRINGS where the engine joins shingle hashes — the
    // d_decontaminate equivalence argument
    "d_source_overlap" ->
      """WITH t AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, array_to_string(toks[i:i+4], ' ') AS s
        |  FROM (SELECT source, toks, unnest(range(1, len(toks) - 3)) AS i
        |        FROM t WHERE len(toks) >= 5)),
        |sz AS (SELECT source, count(*) AS nsh FROM sh GROUP BY source),
        |iv AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common, sa.nsh AS n_a, sb.nsh AS n_b,
        |  round(n_common::DOUBLE / (sa.nsh + sb.nsh - n_common), 4) AS jaccard,
        |  round(n_common::DOUBLE / least(sa.nsh, sb.nsh), 4) AS containment
        |FROM iv JOIN sz sa ON iv.src_a = sa.source
        |        JOIN sz sb ON iv.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,

    // bipartite quadratic contract, straight: exact = list equality on
    // the sorted distinct word sets (the engine joins their FNV hash
    // arrays — the d_jaccard_pairs independence argument), near = any
    // same-lang corpus partner at word-set j >= 0.8 (no banding — the
    // hash match proves the engine's range-banding lossless)
    "d_dedup_incremental" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS ws,
        |    len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::BIGINT AS nw
        |  FROM documents),
        |b AS (SELECT * FROM d WHERE doc_id % 20 = 7),
        |c AS (SELECT * FROM d WHERE doc_id % 20 != 7),
        |ex AS (
        |  SELECT b.doc_id, min(c.doc_id) AS ek
        |  FROM b JOIN c ON b.ws = c.ws GROUP BY b.doc_id),
        |nr AS (
        |  SELECT b.doc_id, min(c.doc_id) AS nk
        |  FROM b JOIN c ON b.lang = c.lang
        |    AND 5 * least(b.nw, c.nw) >= 4 * greatest(b.nw, c.nw)
        |    AND len(list_intersect(b.ws, c.ws))::DOUBLE /
        |        len(list_distinct(list_concat(b.ws, c.ws))) >= 0.8
        |  GROUP BY b.doc_id)
        |SELECT b.doc_id, coalesce(ex.ek, nr.nk) AS keeper_id,
        |  CASE WHEN ex.ek IS NOT NULL THEN 'exact'
        |       WHEN nr.nk IS NOT NULL THEN 'near'
        |       ELSE 'unique' END AS reason
        |FROM b LEFT JOIN ex USING (doc_id) LEFT JOIN nr USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // same deterministic fixed-size smallest-N Knuth-hash sample on the
    // wsDef (the hash is injective over doc_id, so ORDER BY … LIMIT is
    // unambiguous); the truth CTE inside is the unfiltered quadratic
    // over that sample
    "d_minhash_eval" ->
      graft.functions.HashSql.minhashEvalOracle(
        graft.functions.HashSql.wordSetDef +
          s" ORDER BY ${graft.functions.HashSql.knuthSql("doc_id", 4294967296L)}" +
          s" LIMIT $MinhashEvalSample", 0.8)
  )
}
