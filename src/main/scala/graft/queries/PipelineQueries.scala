package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftVector._
import graft.Tables.load
import graft.operators.{KnnSearch, Multimodal}

/** Pipeline-surface queries: multimodal feature plumbing and the batch
  * equivalent of the streaming ingest state (latest event per key). The
  * streaming path itself (mapGroupsWithState / foreachBatch) is exercised
  * in StreamIngestSpec against this same batch semantics.
  */
object PipelineQueries {

  /** The curation funnel's PRE-CHECKPOINT plan plus the stage caches it
    * holds — the entry checkpoints the 5-row result and releases the
    * caches; PlanSpec asserts the shape of this real plan (the entry's
    * eager checkpoint truncates the executed plan to an ExistingRDD
    * scan — the mixtureSampleRaw pattern). */
  private[graft] def curationPipelineRaw(s: SparkSession, d: String)
      : (DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    import graft.GraftText
    // Every multiply-read stage frame is materialized ONCE with an
    // EAGER localCheckpoint instead of a cache (guide §1.2 reuse +
    // §3 plan truncation): the gate feeds the 0_raw aggregate AND the
    // stage-1 survivor join, s1 feeds its stat AND exact dedup, s2 its
    // stat AND the minhash keeper assignment, s3 its stat AND the
    // mixture stage — with caches each consumer re-ANALYZED the whole
    // composed funnel (the measured sf0.1 cost: 35 AQE-staged jobs);
    // checkpointing lets every branch plan against stored blocks. The
    // data movement story is unchanged: same joins, same shuffles,
    // narrow (doc_id, lang, n_tokens, fp, ws) survivor frames.
    val gate = TextQueries.filterGateRaw(load(s, d, "documents"))
      .localCheckpoint(true)
    val s1 = load(s, d, "documents")
      .join(gate.filter($"keep").select($"doc_id", $"n_tokens"), "doc_id")
      .select($"doc_id", $"lang", $"n_tokens",
        GraftText.rollingHash64($"text").as("fp"),
        sort_array(array_distinct(
          GraftText.whitespaceTokens($"text"))).as("ws"))
      .localCheckpoint(true)
    val exactKeep = s1.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val s2 = s1.join(exactKeep, "doc_id").localCheckpoint(true)
    val keepers = DedupQueries.minhashKeeperAssign(
        s2.select($"doc_id", $"ws"), GraftText.jaccardSorted(_, _), 0.7)
      .filter($"keeper_id" === $"doc_id")
      .select($"doc_id")
    val s3 = s2.join(keepers, "doc_id").localCheckpoint(true)
    // the mixture stage's shared definition (DedupQueries), derived
    // over the stage-3 survivors
    val s4 = s3.join(
        broadcast(DedupQueries.mixtureThresholds(s3, "n_tokens")), "lang")
      .filter(DedupQueries.mixturePass($"doc_id", $"threshold"))
    // ONE aggregation for all five stage stats instead of five unioned
    // single-row agg branches (each with its own partial/final stages):
    // tag every stage's (stage, n_tokens) rows, group by stage — the
    // 5-key shuffle carries one narrow row per doc per surviving stage.
    // The 5-row stage spine left-joins the grouped stats so an EMPTY
    // stage still emits (0, 0) exactly as the per-branch
    // coalesce(sum, 0) aggregates did.
    val tagged = Seq("0_raw" -> gate, "1_filter_gate" -> s1,
        "2_exact_dedup" -> s2, "3_near_dedup" -> s3,
        "4_mixture_sample" -> s4)
      .map { case (n, df) =>
        df.select(lit(n).as("stage"), $"n_tokens") }
      .reduce(_ unionAll _)
      .groupBy($"stage")
      .agg(count(lit(1)).as("docs"),
        coalesce(sum($"n_tokens"), lit(0L)).as("tokens"))
    val spine = Seq("0_raw", "1_filter_gate", "2_exact_dedup",
      "3_near_dedup", "4_mixture_sample").toDF("stage")
    val funnel = spine.join(broadcast(tagged), Seq("stage"), "left")
      .select($"stage", coalesce($"docs", lit(0L)).as("docs"),
        coalesce($"tokens", lit(0L)).as("tokens"))
      .orderBy("stage")
    // no caches to release: every stage is an eager local checkpoint
    // whose blocks free with the RDD (the textrank ew discipline)
    (funnel, Seq.empty)
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary media columns → typed metadata + stub featurizer → vector
    // ops on the extracted features (rows-only: hash of stub features).
    "m_multimodal_meta" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val media = Multimodal.asMedia(load(s, d, "documents"))
      Multimodal.featurize(media).toDF()
        .select($"doc_id", $"mime", $"n_bytes",
          round(norm($"features"), 4).as("feat_norm"))
        .orderBy("doc_id")
    }),

    // Frame sampling over "video" payloads (fixed 256-byte windows as
    // decoded-frame stand-ins), one row per frame, stub-featurized —
    // oracle replicates the slicing + float histogram math in SQL.
    "m_frame_features" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val media = Multimodal.asMedia(load(s, d, "documents"))
      Multimodal.frameSample(media, frameBytes = 256).toDF()
        .select($"doc_id", $"frame_idx", $"n_bytes",
          round(norm($"features"), 4).as("feat_norm"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Decode → featurize → similarity search: the full multimodal
    // pipeline (the reason media features exist at all) — stub
    // featurizer output treated as a 16-dim embedding, top-5 nearest
    // media per query payload by exact L2 over the feature space. Same
    // scale shape as v_knn_bruteforce: one feature-table scan against
    // the broadcast query features, bounded map-side top-k heap,
    // ranking on RAW d² with doc_id tie-break, sqrt only in the
    // projection. With a real decoder the features column would be CNN
    // embeddings; nothing else in the plan changes.
    "m_feature_knn" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import graft.GraftVector._
      val f = Multimodal.featurize(Multimodal.asMedia(load(s, d, "documents")))
        .toDF().select($"doc_id", $"features")
      // query branch filters BEFORE the featurizer: mapPartitions is an
      // optimization barrier, so a post-featurize filter would re-run
      // the full corpus featurize just to keep 8 rows (the parquet
      // pushdown lands on the scan this way)
      val q = Multimodal.featurize(Multimodal.asMedia(
          load(s, d, "documents").filter($"doc_id" < 8)))
        .toDF().select($"doc_id".as("query_id"), $"features".as("qv"))
      KnnSearch.ranked(f.select($"doc_id".as("neighbor_id"), $"features")
          .crossJoin(broadcast(q)), "query_id",
          l2Sq($"features", $"qv"), $"neighbor_id", 5)
        .orderBy("query_id", "rnk")
    }),

    // Perceptual-hash dedup over the media features — the image-dedup
    // stage every multimodal corpus runs before training (aHash/pHash
    // keep-one at web scale): bit i of the 16-bit hash = feature i
    // above the feature-vector mean (classic average-hash), grouped
    // EXACTLY (hamming-0) with keep-min. A hamming-radius variant
    // would pair-join banded nibbles — deliberately not shipped here,
    // because near-identical histograms (this corpus: ASCII text
    // payloads) concentrate hashes and make any radius join
    // output-quadratic; exact grouping shuffles one 2-byte key per doc
    // regardless. The mean and the bit fold are fixed-order IEEE so the
    // oracle replays them bit-for-bit; with a real decoder the features
    // become CNN embeddings and nothing else changes.
    "m_phash_dedup" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val f = Multimodal.featurize(Multimodal.asMedia(load(s, d, "documents")))
        .toDF().select($"doc_id", $"features")
      // materialize (doc_id, phash) — 16 bytes/row — so the featurizer
      // (the expensive stage with a real decoder) runs ONCE: the
      // group-by consumer, the join probe, and the output ordering
      // would otherwise each re-execute it (the orderedLarge rationale)
      val ph = f
        .withColumn("mu",
          aggregate($"features", lit(0.0), (a, x) => a + x) / 16.0)
        .select($"doc_id", posexplode($"features"), $"mu")
        .groupBy($"doc_id")
        .agg(sum(when($"col" > $"mu",
          expr("shiftleft(1L, pos)")).otherwise(0L)).as("phash"))
        .localCheckpoint(true)
      // g is bounded by 2^16 rows (a 16-bit hash space) — broadcast,
      // so no corpus shuffle happens on the join no matter how the
      // hashes concentrate
      val g = ph.groupBy($"phash")
        .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_same"))
      ph.join(broadcast(g), "phash")
        .select($"doc_id", $"phash", $"keeper_id",
          ($"doc_id" =!= $"keeper_id").as("is_dup"), $"n_same")
        .transform(graft.queries.DedupQueries.orderedLarge(_, "doc_id"))
    }),

    // Similarity search over REALLY-DECODED image features: the synth
    // PNGs decode through the per-partition ImageIO seam and mean-pool
    // their raw raster samples onto a 4×4 grid (integer sums, one
    // double division chain, one float rounding — IEEE-exact, so the
    // oracle re-derives the features from the pixel rule alone), then
    // the v_knn ranking contract runs over the decoded features. This
    // is m_feature_knn with the stub replaced by a genuine decoder in
    // the hash-gated path; with a CNN the pooling becomes the model
    // and nothing else in the plan changes. Query branch filters
    // BEFORE the codec legs (mapPartitions is an optimization barrier
    // — the m_feature_knn pushdown discipline).
    "m_image_knn" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      import graft.GraftVector._
      val f = Multimodal.featurizeWith(
          Multimodal.synthPngMedia(load(s, d, "documents").select($"doc_id")),
          Multimodal.rasterPoolDecoder _)
        .toDF().select($"doc_id", $"features")
      val q = Multimodal.featurizeWith(
          Multimodal.synthPngMedia(
            load(s, d, "documents").filter($"doc_id" < 8).select($"doc_id")),
          Multimodal.rasterPoolDecoder _)
        .toDF().select($"doc_id".as("query_id"), $"features".as("qv"))
      KnnSearch.ranked(f.select($"doc_id".as("neighbor_id"), $"features")
          .crossJoin(broadcast(q)), "query_id",
          l2Sq($"features", $"qv"), $"neighbor_id", 5)
        .orderBy("query_id", "rnk")
    }),

    // Perceptual-hash dedup over REALLY-DECODED features — the
    // m_phash_dedup contract (average-hash, exact hamming-0 keep-min
    // grouping, bounded 2^16 hash space) with the stub features
    // replaced by the decoded-raster pooling of m_image_knn: the
    // image-dedup stage production multimodal curation actually runs,
    // decoder included, inside the hash gate. Same scale shape as
    // m_phash_dedup (one codec pass materialized to 16 bytes/row, a
    // broadcast-bounded group join).
    "m_image_phash" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val f = Multimodal.featurizeWith(
          Multimodal.synthPngMedia(load(s, d, "documents").select($"doc_id")),
          Multimodal.rasterPoolDecoder _)
        .toDF().select($"doc_id", $"features")
      val ph = f
        .withColumn("mu",
          aggregate($"features", lit(0.0), (a, x) => a + x) / 16.0)
        .select($"doc_id", posexplode($"features"), $"mu")
        .groupBy($"doc_id")
        .agg(sum(when($"col" > $"mu",
          expr("shiftleft(1L, pos)")).otherwise(0L)).as("phash"))
        .localCheckpoint(true)
      val g = ph.groupBy($"phash")
        .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_same"))
      ph.join(broadcast(g), "phash")
        .select($"doc_id", $"phash", $"keeper_id",
          ($"doc_id" =!= $"keeper_id").as("is_dup"), $"n_same")
        .transform(graft.queries.DedupQueries.orderedLarge(_, "doc_id"))
    }),

    // REAL media decode in the gated, benched path: synthesize a
    // genuine PNG per document (deterministic grayscale test pattern —
    // pixel = a pure integer function of (doc_id, x, y) — encoded
    // through javax.imageio, real compressed bytes), then DECODE it
    // back through the per-partition ImageIO seam and fold exact
    // integer raster stats. PNG is lossless, so the oracle re-derives
    // the stats from the pixel rule alone in SQL — a full hash gate
    // over a live decoder, no image fixtures shipped. The byte-
    // histogram stub stays the default for the text-payload corpus;
    // this entry is where the decode seam itself is load-bearing.
    // Scale shape: embarrassingly parallel encode and decode legs
    // (mapPartitions, no shuffle), one bounded sort at the output.
    "m_decode_stats" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val media = Multimodal.synthPngMedia(
        load(s, d, "documents").select($"doc_id"))
      Multimodal.decodeStats(media).toDF()
        .select($"doc_id", $"width".cast("long").as("width"),
          $"height".cast("long").as("height"), $"px_sum",
          expr("px_sum * 1000 DIV (width * height)").as("mean_milli"))
        .orderBy("doc_id")
    }),

    // REAL multi-frame (video-shaped) decode — closes the frameSample
    // stand-in: synthesize a genuine ANIMATED GIF per document
    // (2 + id%3 frames of the deterministic grayscale pattern, frame f's
    // pixel = (doc_id·31 + f·17 + x·7 + y·13) mod 256, written as one
    // multi-frame sequence through javax.imageio — the JRE's native
    // multi-frame container, no external codec), then DEMUX + DECODE
    // every stored frame back through the per-partition reader seam and
    // fold exact integer raster stats per frame. GIF's LZW is lossless
    // and the gray ramp palettizes losslessly, so the oracle re-derives
    // each decoded frame from the pixel rule alone — the m_decode_stats
    // fixture-free full-hash gate, extended over the frame axis. One
    // row per REAL decoded frame. Scale shape: embarrassingly parallel
    // encode and demux+decode legs (mapPartitions, floored parallelism,
    // no shuffle), one bounded sort at the output.
    "m_video_frames" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val media = Multimodal.synthGifMedia(
        load(s, d, "documents").select($"doc_id"))
      Multimodal.decodeFrames(media).toDF()
        .select($"doc_id", $"frame_idx",
          $"width".cast("long").as("width"),
          $"height".cast("long").as("height"), $"px_sum",
          expr("px_sum * 1000 DIV (width * height)").as("mean_milli"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Streaming exact dedup's materialized state, batch-gated: the
    // keepers (first doc per content fingerprint, keep-min rule) that
    // streaming/StreamDedup.firstPerFingerprint emits for a
    // doc_id-ordered stream — the stream≡batch equivalence is proven
    // pair-for-pair in StreamDedupSpec; this entry puts the state
    // itself under the DuckDB oracle. Shuffles (fp → min doc_id) 8-byte
    // pairs, never text.
    "s_stream_dedup" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      load(s, d, "documents")
        .select($"doc_id", graft.GraftText.rollingHash64($"text").as("fp"))
        .groupBy($"fp")
        .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_seen"))
        .select($"doc_id", $"fp", $"n_seen")
        .orderBy("doc_id")
    }),

    // The END-TO-END curation funnel — every release pipeline's actual
    // shape, composed from the SAME stage definitions the individual
    // entries gate one at a time: raw corpus → composite filter gate
    // (t_filter_gate's rules) → exact dedup (keep-min per content
    // fingerprint, the s_stream_dedup state) → MinHash near-dedup
    // keeper assignment computed WITHIN the survivor set
    // (d_dedup_minhash's machinery via the shared minhashKeeperAssign)
    // → token-budget mixture sampling with thresholds re-derived over
    // what actually survived (d_mixture_sample's idiom — budgets must
    // be computed on the post-dedup corpus, or dup-heavy languages are
    // under-sampled). One row per stage: docs and tokens remaining.
    // Scale shape: each stage is the same linear plan its standalone
    // entry runs (scan-side gate, 8-byte fingerprint shuffle, banded
    // minhash — never pair enumeration), survivor frames carry only
    // (doc_id, lang, n_tokens, fp, ws), and the per-stage outputs are
    // one-row aggregates. Exact dedup groups 8-byte FNV hashes while
    // the oracle groups raw text — the d_source_overlap independence
    // argument: a 64-bit collision would break the hash match itself.
    "p_curation_pipeline" -> ((s: SparkSession, d: String) => {
      // materialize the 5-row funnel eagerly, then release every stage
      // cache — a lingering cache occupies executor storage for the
      // rest of a 148-query run (the minhashKeeperAssign discipline)
      val (funnel, caches) = curationPipelineRaw(s, d)
      val out = funnel.localCheckpoint(true)
      caches.foreach(_.unpersist())
      out
    }),

    // Latest event per user — the materialized state the streaming
    // ingest maintains incrementally.
    "s_stream_ingest" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
        .orderBy($"ts".desc, $"event_id".desc)
      load(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id".as("last_event_id"),
          round($"value", 2).as("last_value"))
        .orderBy("user_id")
    })
  )

  def oracles: Map[String, String] = rawOracles.map {
    // the funnel's stage CTEs (g_r, p1..p4, the minhash keeper chain)
    // are each read by every later stage AND the 5-row rollup — DuckDB
    // re-inlines them; MATERIALIZED measured 7.1 → 1.9 s at sf0.01,
    // identical result (HashSql.materializeCtes scaladoc)
    case (k, sql) if k == "p_curation_pipeline" =>
      k -> graft.functions.HashSql.materializeCtes(sql)
    case kv => kv
  }

  private def rawOracles: Map[String, String] = Map(
    // The whole funnel re-derived stage for stage: the gate's shared
    // CTE chain (TextQueries.filterGateOracleCtes), exact dedup
    // grouping RAW TEXT where the plan groups 8-byte FNV hashes (the
    // independence argument — a Spark-side collision breaks the match),
    // the full seeded minhash keeper pipeline over the survivor set
    // (HashSql.minhashKeeperCtes), and the mixture thresholds recomputed
    // over what survived with d_mixture_sample's exact literal idiom.
    "p_curation_pipeline" -> {
      import graft.functions.HashSql
      s"""WITH ${TextQueries.filterGateOracleCtes},
         |p1 AS (
         |  SELECT dd.doc_id, dd.lang, g_r.n_tokens, dd.text,
         |    list_sort(list_distinct(
         |      regexp_split_to_array(trim(dd.text), '\\s+'))) AS ws
         |  FROM documents dd JOIN g_r ON dd.doc_id = g_r.doc_id
         |  WHERE g_r.reasons = ''),
         |p2 AS (
         |  SELECT p1.* FROM p1
         |  JOIN (SELECT text, min(doc_id) AS mdoc FROM p1 GROUP BY text) k
         |    ON p1.text = k.text AND p1.doc_id = k.mdoc),
         |${HashSql.minhashKeeperCtes("SELECT doc_id, ws FROM p2", 0.7)},
         |p3 AS (
         |  SELECT p2.* FROM p2 JOIN keepassign ka
         |    ON p2.doc_id = ka.doc_id AND ka.keeper_id = p2.doc_id),
         |p_w(lang, wt) AS (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
         |  ('fr', 0.15), ('zh', 0.15)),
         |p_r AS (
         |  SELECT p3.lang,
         |    floor(least(1.0::DOUBLE,
         |      8000.0::DOUBLE * wt::DOUBLE / sum(p3.n_tokens)::DOUBLE)
         |      * 4294967296.0)::BIGINT AS threshold
         |  FROM p3 JOIN p_w ON p3.lang = p_w.lang GROUP BY p3.lang, wt),
         |p4 AS (
         |  SELECT p3.* FROM p3 JOIN p_r ON p3.lang = p_r.lang
         |  WHERE KNUTH32 < p_r.threshold)
         |SELECT stage, docs, tokens FROM (
         |  SELECT '0_raw' AS stage, count(*)::BIGINT AS docs,
         |    sum(n_tokens)::BIGINT AS tokens FROM g_r
         |  UNION ALL SELECT '1_filter_gate', count(*)::BIGINT,
         |    coalesce(sum(n_tokens), 0)::BIGINT FROM p1
         |  UNION ALL SELECT '2_exact_dedup', count(*)::BIGINT,
         |    coalesce(sum(n_tokens), 0)::BIGINT FROM p2
         |  UNION ALL SELECT '3_near_dedup', count(*)::BIGINT,
         |    coalesce(sum(n_tokens), 0)::BIGINT FROM p3
         |  UNION ALL SELECT '4_mixture_sample', count(*)::BIGINT,
         |    coalesce(sum(n_tokens), 0)::BIGINT FROM p4)
         |ORDER BY stage""".stripMargin
        .replace("KNUTH32", HashSql.knuthSql("p3.doc_id", 4294967296L))
    },
    // Replicates the stub featurizer exactly: 16-bin byte histogram of
    // the UTF-8 payload (ASCII corpus → ord(char) == byte), normalized
    // in FLOAT (matching the operator's float division), L2-normed in
    // DOUBLE. Proves the multimodal plumbing end-to-end against SQL.
    "m_multimodal_meta" ->
      """SELECT doc_id, mime, n_bytes, round(sqrt(list_sum(
        |    [ (len(list_filter([ord(text[i]) for i in range(1, length(text)+1)],
        |         b -> b // 16 = bin))::FLOAT / greatest(length(text), 1)::FLOAT)::DOUBLE
        |      * (len(list_filter([ord(text[i]) for i in range(1, length(text)+1)],
        |         b -> b // 16 = bin))::FLOAT / greatest(length(text), 1)::FLOAT)::DOUBLE
        |      for bin in range(0, 16) ])), 4) AS feat_norm
        |FROM (SELECT doc_id, 'application/x-fake' AS mime,
        |        length(text)::BIGINT AS n_bytes, text FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // same stub-featurizer histogram as the meta oracle, mean as the
    // engine's exact left fold from 0.0, same bit packing, same
    // keep-min grouping
    "m_phash_dedup" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    [ (len(list_filter([ord(text[i]) for i in range(1, length(text)+1)],
        |         b -> b // 16 = bin))::FLOAT
        |       / greatest(length(text), 1)::FLOAT)::DOUBLE
        |      for bin in range(0, 16) ] AS fv
        |  FROM documents),
        |mu AS (SELECT doc_id, fv,
        |         list_reduce(list_prepend(0.0, fv), (x, y) -> x + y) / 16.0
        |           AS mu
        |       FROM f),
        |ph AS (SELECT doc_id,
        |         list_sum([CASE WHEN fv[i+1] > mu THEN 1 << i ELSE 0 END
        |                   for i in range(0, 16)])::BIGINT AS phash
        |       FROM mu),
        |g AS (SELECT phash, min(doc_id) AS keeper_id,
        |        count(*)::BIGINT AS n_same
        |      FROM ph GROUP BY phash)
        |SELECT p.doc_id, p.phash, g.keeper_id,
        |  p.doc_id != g.keeper_id AS is_dup, g.n_same
        |FROM ph p JOIN g USING (phash) ORDER BY p.doc_id""".stripMargin,

    // the decoded-raster pooled features re-derived from the pixel
    // rule (PNG lossless + exact pooling arithmetic), then the same
    // ranking contract as m_feature_knn — every cell of the 4×4 grid
    // is non-empty for w,h >= 8, so the ordered 16-list is total
    "m_image_knn" ->
      s"""WITH px AS (
        |  SELECT doc_id, w, h, i % w AS x, i // w AS y,
        |    (doc_id*31 + (i % w)*7 + (i // w)*13) % 256 AS v
        |  FROM (SELECT doc_id,
        |          (8 + doc_id % 5)::BIGINT AS w,
        |          (8 + doc_id % 3)::BIGINT AS h,
        |          unnest(range(0, (8 + doc_id % 5) * (8 + doc_id % 3))) AS i
        |        FROM documents)),
        |cells AS (
        |  SELECT doc_id,
        |    least(3, y * 4 // h) * 4 + least(3, x * 4 // w) AS cell,
        |    sum(v)::BIGINT AS s, count(*)::BIGINT AS c
        |  FROM px GROUP BY 1, 2),
        |mf AS (
        |  SELECT doc_id,
        |    list((s::DOUBLE / c / 255.0)::FLOAT ORDER BY cell) AS fv
        |  FROM cells GROUP BY doc_id),
        |mq AS (SELECT doc_id AS query_id, fv AS qv FROM mf WHERE doc_id < 8)
        |SELECT query_id, neighbor_id, rnk, dist FROM (
        |  SELECT query_id, doc_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d, doc_id) AS rnk,
        |    round(sqrt(d), 4) AS dist
        |  FROM (SELECT mq.query_id, mf.doc_id,
        |          ${graft.functions.FoldSql.lane4(
              "(mf.fv[i]::DOUBLE - mq.qv[i]::DOUBLE)" +
                " * (mf.fv[i]::DOUBLE - mq.qv[i]::DOUBLE)", 16)} AS d
        |        FROM mf CROSS JOIN mq)
        |) WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // decoded-raster pooled features from the pixel rule (the
    // m_image_knn derivation), then m_phash_dedup's mean fold, bit
    // packing, and keep-min grouping verbatim
    "m_image_phash" ->
      """WITH px AS (
        |  SELECT doc_id, w, h, i % w AS x, i // w AS y,
        |    (doc_id*31 + (i % w)*7 + (i // w)*13) % 256 AS v
        |  FROM (SELECT doc_id,
        |          (8 + doc_id % 5)::BIGINT AS w,
        |          (8 + doc_id % 3)::BIGINT AS h,
        |          unnest(range(0, (8 + doc_id % 5) * (8 + doc_id % 3))) AS i
        |        FROM documents)),
        |cells AS (
        |  SELECT doc_id,
        |    least(3, y * 4 // h) * 4 + least(3, x * 4 // w) AS cell,
        |    sum(v)::BIGINT AS s, count(*)::BIGINT AS c
        |  FROM px GROUP BY 1, 2),
        |f AS (
        |  SELECT doc_id,
        |    list((s::DOUBLE / c / 255.0)::FLOAT ORDER BY cell) AS fv
        |  FROM cells GROUP BY doc_id),
        |mu AS (SELECT doc_id, fv,
        |         list_reduce(list_prepend(0.0, fv::DOUBLE[]), (x, y) -> x + y)
        |           / 16.0 AS mu
        |       FROM f),
        |ph AS (SELECT doc_id,
        |         list_sum([CASE WHEN fv[i+1] > mu THEN 1 << i ELSE 0 END
        |                   for i in range(0, 16)])::BIGINT AS phash
        |       FROM mu),
        |g AS (SELECT phash, min(doc_id) AS keeper_id,
        |        count(*)::BIGINT AS n_same
        |      FROM ph GROUP BY phash)
        |SELECT p.doc_id, p.phash, g.keeper_id,
        |  p.doc_id != g.keeper_id AS is_dup, g.n_same
        |FROM ph p JOIN g USING (phash) ORDER BY p.doc_id""".stripMargin,

    // the engine encodes the deterministic test pattern to REAL PNG
    // and decodes it back (lossless), so the decoded-raster stats
    // equal the pixel rule re-derived directly: pixel i of a w×h grid
    // is (doc_id·31 + (i%w)·7 + (i//w)·13) mod 256 — exact integer
    // arithmetic both sides, one flat range per doc
    "m_decode_stats" ->
      """SELECT doc_id, width, height, px_sum,
        |  (px_sum * 1000) // (width * height) AS mean_milli
        |FROM (
        |  SELECT doc_id,
        |    (8 + doc_id % 5)::BIGINT AS width,
        |    (8 + doc_id % 3)::BIGINT AS height,
        |    list_sum([ (doc_id*31 + (i % (8 + doc_id % 5))*7
        |                + (i // (8 + doc_id % 5))*13) % 256
        |      for i in range(0, (8 + doc_id % 5) * (8 + doc_id % 3)) ]
        |      )::BIGINT AS px_sum
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // the multi-frame pixel rule re-derived per (doc, frame): the
    // engine wrote REAL animated GIFs and decoded every stored frame
    // (lossless both ways), so the decoded stats equal the rule —
    // one unnest over the frame count, then the m_decode_stats fold
    // with the frame term added
    "m_video_frames" ->
      """SELECT doc_id, frame_idx, width, height, px_sum,
        |  (px_sum * 1000) // (width * height) AS mean_milli
        |FROM (
        |  SELECT doc_id, frame_idx,
        |    (8 + doc_id % 5)::BIGINT AS width,
        |    (8 + doc_id % 3)::BIGINT AS height,
        |    list_sum([ (doc_id*31 + frame_idx*17
        |                + (i % (8 + doc_id % 5))*7
        |                + (i // (8 + doc_id % 5))*13) % 256
        |      for i in range(0, (8 + doc_id % 5) * (8 + doc_id % 3)) ]
        |      )::BIGINT AS px_sum
        |  FROM (SELECT doc_id, unnest(range(0, 2 + doc_id % 3)) AS frame_idx
        |        FROM documents))
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // the t_fingerprint FNV fold, keep-min + count per fingerprint —
    // the state StreamDedupSpec proves the live stream converges to
    "s_stream_dedup" -> {
      import graft.functions.HashSql
      s"""WITH sfp AS (
         |  SELECT doc_id,
         |    (CASE WHEN u >= 9223372036854775808::HUGEINT
         |          THEN u - 18446744073709551616::HUGEINT ELSE u END)::BIGINT AS fp
         |  FROM (SELECT doc_id, (${HashSql.fnvSql("text")}) AS u FROM documents))
         |SELECT min(doc_id) AS doc_id, fp, count(*)::BIGINT AS n_seen
         |FROM sfp GROUP BY fp ORDER BY doc_id""".stripMargin
    },

    // same float-exact histogram, then the v_knn ranking contract:
    // shared feature CTE, raw-d² ordering with doc_id tie-break
    "m_feature_knn" ->
      s"""WITH mf AS (
        |  SELECT doc_id,
        |    [ (len(list_filter(bs, b -> b // 16 = bin))::FLOAT
        |       / greatest(n, 1)::FLOAT) for bin in range(0, 16) ] AS fv
        |  FROM (SELECT doc_id,
        |          [ord(text[i]) for i in range(1, length(text)+1)] AS bs,
        |          length(text) AS n
        |        FROM documents)),
        |mq AS (SELECT doc_id AS query_id, fv AS qv FROM mf WHERE doc_id < 8)
        |SELECT query_id, neighbor_id, rnk, dist FROM (
        |  SELECT query_id, doc_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d, doc_id) AS rnk,
        |    round(sqrt(d), 4) AS dist
        |  FROM (SELECT mq.query_id, mf.doc_id,
        |          ${graft.functions.FoldSql.lane4(
              "(mf.fv[i]::DOUBLE - mq.qv[i]::DOUBLE)" +
                " * (mf.fv[i]::DOUBLE - mq.qv[i]::DOUBLE)", 16)} AS d
        |        FROM mf CROSS JOIN mq)
        |) WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // same float-exact histogram replication as m_multimodal_meta, per
    // 256-char frame window
    "m_frame_features" ->
      """SELECT doc_id, frame_idx, length(frame)::BIGINT AS n_bytes,
        |  round(sqrt(list_sum(
        |    [ (len(list_filter([ord(frame[i]) for i in range(1, length(frame)+1)],
        |         b -> b // 16 = bin))::FLOAT / greatest(length(frame), 1)::FLOAT)::DOUBLE
        |      * (len(list_filter([ord(frame[i]) for i in range(1, length(frame)+1)],
        |         b -> b // 16 = bin))::FLOAT / greatest(length(frame), 1)::FLOAT)::DOUBLE
        |      for bin in range(0, 16) ])), 4) AS feat_norm
        |FROM (
        |  SELECT doc_id, frame_idx,
        |    substring(text, (frame_idx * 256 + 1)::INT, 256) AS frame
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, greatest((length(text) + 255) // 256, 1))) AS frame_idx
        |        FROM documents))
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "s_stream_ingest" ->
      """SELECT user_id, event_id AS last_event_id,
        |  round(value, 2) AS last_value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin
  )
}
