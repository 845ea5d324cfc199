package graft

import org.apache.spark.sql.functions._

import graft.queries.DedupQueries

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("minhash LSH keeper assignment flags docs with exact near-dups") {
    val flagged = DedupQueries.all("d_dedup_minhash")(spark, sfDir)
      .filter($"is_dup").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    // any doc that is the larger member of an exact j>=0.8 pair has a
    // smaller near-duplicate, so LSH dedup should flag (nearly) all
    val shouldFlag = DedupQueries.all("d_jaccard_pairs")(spark, sfDir)
      .select($"doc_b").collect().map(_.getLong(0)).toSet
    assert(shouldFlag.nonEmpty)
    val recall = (flagged & shouldFlag).size.toDouble / shouldFlag.size
    assert(recall >= 0.9, s"minhash dedup recall $recall < 0.9")
    // and keepers must be self-consistent: keeper_id <= doc_id
    val bad = DedupQueries.all("d_dedup_minhash")(spark, sfDir)
      .filter($"keeper_id" > $"doc_id").count()
    assert(bad === 0)
  }

  test("simhash of identical token lists is identical; small edit stays close") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox leaps over the lazy dog again and again"),
      (4L, "completely unrelated text about spark query optimization engines")
    ).toDF("id", "text")
      .select($"id", GraftText.simhash64(split($"text", " ")).as("fp"))
    val fp = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) === fp(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(1L), fp(3L)) <= 16)
    assert(ham(fp(1L), fp(4L)) > ham(fp(1L), fp(3L)))
  }

  test("trigram-minhash keeper assignment flags docs with exact trigram near-dups") {
    val flagged = DedupQueries.all("d_ngram_jaccard")(spark, sfDir)
      .filter($"is_dup").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    // exact trigram-Jaccard reference with the standard LSH margin: the
    // operator verifies edges at j>=0.7, so recall is quoted on pairs
    // clearly inside the ball (j>=0.8) — at the exact boundary the
    // bucket-min rep of a doc's bucket need not be its own near-dup
    // (keeper sparsification trades those non-transitive marginals for
    // linear output)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id",
        // same <3-char guard as the operator's trigrams helper —
        // sequence(1, len-2) turns DESCENDING for short strings and
        // would fabricate bogus short "trigrams"
        sort_array(array_distinct(
          when(length($"text") < 3, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), length($"text") - 2),
              i => $"text".substr(i, lit(3)))))).as("gs"))
      .filter(size($"gs") > 0)
    val shouldFlag = docs.select($"doc_id".as("doc_a"), $"gs".as("ga"))
      .crossJoin(docs.select($"doc_id".as("doc_b"), $"gs".as("gb")))
      .filter($"doc_a" < $"doc_b" &&
        GraftText.jaccardSorted($"ga", $"gb") >= 0.8)
      .select($"doc_b").collect().map(_.getLong(0)).toSet
    assert(shouldFlag.nonEmpty, "test data must contain trigram near-dups")
    val recall = (flagged & shouldFlag).size.toDouble / shouldFlag.size
    assert(recall >= 0.9, s"trigram minhash dedup recall $recall < 0.9")
    // keepers self-consistent
    val bad = DedupQueries.all("d_ngram_jaccard")(spark, sfDir)
      .filter($"keeper_id" > $"doc_id").count()
    assert(bad === 0)
  }

  test("simhash banding is COMPLETE at the declared radius (planted pairs)") {
    // plant pairs at every Hamming distance 0..7: the operator's 4×16-bit
    // banding must recall ALL pairs at d <= 3 (pigeonhole: d <= nChunks-1
    // shares a chunk) — the recall_bench.cpp analog for the SimHash
    // operator's contract. The 8-chunk helper variant must likewise be
    // complete through d <= 7.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(200)(rnd.nextLong())
    val rows = base.zipWithIndex.flatMap { case (fp, i) =>
      val d = i % 8 // 0..7 bit flips for the planted partner
      var fp2 = fp
      rnd.shuffle((0 until 64).toList).take(d).foreach(b => fp2 ^= (1L << b))
      Seq((i.toLong * 2, fp), (i.toLong * 2 + 1, fp2))
    }
    val docs = rows.toSeq.toDF("doc_id", "fp")
    def pairsAt(maxHamming: Int, nChunks: Int): Set[(Long, Long)] =
      DedupQueries.simhashBandedPairs(docs, maxHamming, nChunks)
        .select($"doc_a", $"doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found4 = pairsAt(3, 4) // the operator's configuration
    val found8 = pairsAt(7, 8)
    base.indices.foreach { i =>
      val (a, b) = (i.toLong * 2, i.toLong * 2 + 1)
      val d = java.lang.Long.bitCount(rows(2 * i)._2 ^ rows(2 * i + 1)._2)
      if (d > 0 && d <= 3)
        assert(found4.contains((a, b)),
          s"planted pair at Hamming $d missed by 4-chunk banding")
      if (d > 0 && d <= 7)
        assert(found8.contains((a, b)),
          s"planted pair at Hamming $d missed by 8-chunk banding")
    }
  }

  test("rolling hash fingerprint is deterministic and text-sensitive") {
    val a = Seq(("x", 1)).toDF("t", "i")
      .select(GraftText.rollingHash64(lit("hello world")).as("fp")).head().getLong(0)
    val b = Seq(("x", 1)).toDF("t", "i")
      .select(GraftText.rollingHash64(lit("hello world")).as("fp")).head().getLong(0)
    val c = Seq(("x", 1)).toDF("t", "i")
      .select(GraftText.rollingHash64(lit("hello world!")).as("fp")).head().getLong(0)
    assert(a === b)
    assert(a !== c)
  }

  test("adversarial duplication: one 2000-copy cluster dedups linearly to one keeper") {
    // the design claim behind the keeper-assignment output: under heavy
    // duplication, pair enumeration is Ω(dup²) (2M pairs here) while the
    // keeper decision stays linear — every copy gets ≤16 bucket edges to
    // per-bucket min reps, and all copies must resolve to THE smallest id
    val dir = "target/tmp-dup-flood"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val copyText = "the same viral document text repeated across the corpus again"
    val copies = spark.range(2000)
      .select(($"id" + 10000).as("doc_id"), lit(copyText).as("text"),
        lit("en").as("lang"), lit("syn").as("source"),
        lit(copyText.length.toLong).as("n_chars"))
    val uniques = spark.range(50)
      .select($"id".as("doc_id"),
        // mostly-distinct word sets: pairwise Jaccard stays well under
        // the 0.7 dedup threshold (2 shared words, 5 distinct numbers)
        concat_ws(" ", lit("unique"), lit("doc"), $"id",
          ($"id" * 31 + 17).cast("string"), ($"id" * 53 + 29).cast("string"),
          ($"id" * 71 + 5).cast("string"), ($"id" * 97 + 3).cast("string")).as("text"),
        lit("en").as("lang"), lit("syn").as("source"), lit(60L).as("n_chars"))
    copies.unionByName(uniques).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val res = DedupQueries.all("d_dedup_minhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(res.length === 2050, "keeper assignment must stay one row per doc")
    val copyRows = res.filter(_._1 >= 10000L)
    assert(copyRows.forall { case (id, keeper, dup) =>
      (id == 10000L && keeper == 10000L && !dup) ||
        (id > 10000L && keeper == 10000L && dup)
    }, "every copy must resolve to the single smallest-id keeper")
    assert(res.filter(_._1 < 10000L).forall(!_._3),
      "unique docs must not be flagged")
  }

  test("minhash signature estimates jaccard") {
    // two 200-word sets with 50% overlap → sig agreement ≈ 0.5 ± noise
    val w1 = (0 until 200).map(i => s"w$i")
    val w2 = (100 until 300).map(i => s"w$i")
    val df = Seq((1L, w1), (2L, w2)).toDF("id", "ws")
      .select($"id", GraftText.minhashSignature($"ws", 1, 256).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b } / 256.0
    val trueJ = 100.0 / 300.0
    assert(math.abs(agree - trueJ) < 0.1, s"minhash estimate $agree vs $trueJ")
  }

  test("decontamination flags planted eval overlap and nothing else") {
    import spark.implicits._
    val evalDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // doc 100 embeds a verbatim 8-word span of eval doc 1
      (100L, "xx yy beta gamma delta epsilon zeta eta theta iota zz"),
      // doc 101 shares words but no 8-word run
      (101L, "alpha beta gamma qq delta epsilon zeta qq eta theta"),
      (102L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val res = graft.operators.Decontaminate
      .mark(corpus, evalDocs, "doc_id", "text", width = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getBoolean(4)))).toMap
    // doc 100: tokens 3..10 = beta..kappa? no — beta gamma delta epsilon
    // zeta eta theta iota is eval tokens 2..9, one matching shingle
    assert(res(100L) === ((1L, true)), s"planted overlap missed: $res")
    assert(res(101L) === ((0L, false)))
    assert(res(102L) === ((0L, false)))
  }

  test("d_dedup_incremental: exact beats near, near needs j >= 0.8, unique gets no keeper") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_incr").toString
    val ten = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    Seq(
      // corpus (doc_id % 20 != 7)
      (1L, ten, "en", "s1"),                       // exact AND near partner
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz", "en", "s1"), // near-only partner
      (3L, "c1 c2 c3", "en", "s1"),
      // batch (doc_id % 20 == 7)
      (7L, ten, "en", "s1"),                       // exact dup of 1 (also near of 2)
      (27L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 q9", "en", "s1"), // j=9/11=0.818 vs 1 and 2
      (47L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", "en", "s1")) // unique
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val res = DedupQueries.all("d_dedup_incremental")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) -1L else r.getLong(1)),
        r.getString(2))).toMap
    assert(res(7L) === ((1L, "exact")), s"exact must win over near: $res")
    assert(res(27L) === ((1L, "near")), s"min near keeper expected: $res")
    assert(res(47L) === ((-1L, "unique")), s"unique must carry no keeper: $res")
  }

  test("d_dedup_incremental part-blocking is lossless vs the exhaustive quadratic") {
    import spark.implicits._
    // pigeonhole completeness law on REAL data: the part-blocked near
    // join must find exactly the verdicts the unblocked batch×corpus
    // quadratic finds (sf0.001 is small enough to enumerate)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"lang",
        sort_array(array_distinct(GraftText.wordShingleHashes(
          GraftText.whitespaceTokens($"text"), 1))).as("ws"))
    val batch = docs.filter(pmod($"doc_id", lit(20)) === 7)
    val corpus = docs.filter(pmod($"doc_id", lit(20)) =!= 7)
      .select($"doc_id".as("cid"), $"lang".as("cl"), $"ws".as("wb"))
    val truth = batch.crossJoin(corpus)
      .select($"doc_id", $"cid", ($"ws" === $"wb").as("ex"),
        ($"lang" === $"cl" &&
          GraftText.jaccardSortedLong($"ws", $"wb") >= 0.8).as("nr"))
      .groupBy($"doc_id").agg(
        min(when($"ex", $"cid")).as("ek"), min(when($"nr", $"cid")).as("nk"))
    val expect = batch.select($"doc_id").join(truth, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"ek", $"nk").as("keeper_id"),
        when($"ek".isNotNull, "exact").when($"nk".isNotNull, "near")
          .otherwise("unique").as("reason"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getString(2))).toMap
    val got = DedupQueries.all("d_dedup_incremental")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getString(2))).toMap
    assert(got === expect, "part-blocked verdicts diverge from exhaustive")
    assert(expect.exists(_._2._2 != "unique"),
      "fixture must contain at least one dup for the law to bite")
  }

  test("d_dedup_incremental: the shuffled batch-key join matches the broadcast one") {
    // the shuffled side is taken only past 8 M batch key rows, which no
    // bench or fixture reaches; at this size the broadcast side is the
    // default run
    val (hinted, shuffled) = onBothSides("dedup.incrBroadcast")(
      DedupQueries.all("d_dedup_incremental")(spark, sfDir).collect()
        .map(r => (r.getLong(0), Option(r.get(1)), r.getString(2)))
        .toSeq.sortBy(_._1))
    assert(hinted.exists(_._3 != "unique"))
    assert(hinted === shuffled)
  }

  test("d_dedup_incremental: a 100x-length outlier cannot inflate other docs' signature cost") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_incr_tail").toString
    def words(pfx: String, n: Int): String =
      (1 to n).map(i => s"$pfx$i").mkString(" ")
    Seq(
      // corpus: a 16-word doc whose near partner (batch doc 7, 15
      // words) sits in the octave BELOW it — the straddling pair the
      // up-emission rule must catch — plus a 2000-word outlier 100×
      // the median length
      (1L, words("w", 16), "en", "s1"),
      (2L, words("c", 20), "en", "s1"),
      (3L, words("big", 2000), "en", "s1"),
      // batch
      (7L, words("w", 15), "en", "s1"),     // j = 15/16 vs doc 1, cross-octave
      (27L, words("u", 20), "en", "s1"))    // unique
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val res = DedupQueries.all("d_dedup_incremental")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((if (r.isNullAt(1)) -1L else r.getLong(1)),
        r.getString(2))).toMap
    assert(res(7L) === ((1L, "near")),
      s"cross-octave near pair missed (up-emission broken): $res")
    assert(res(27L) === ((-1L, "unique")), s"$res")
    // the heavy-tail law itself: every doc's emitted signature work is
    // bounded by its OWN length (np0 + np1 ≤ (4·nw) div 9 + (8·nw)
    // div 9 + 2) — the r13 global-max scheme would have paid
    // np = 2·2000/9 + 1 = 445 parts PER DOC with this outlier present
    val docsWs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id",
        sort_array(array_distinct(GraftText.wordShingleHashes(
          GraftText.whitespaceTokens($"text"), 1))).as("ws"))
      .withColumn("nw", size($"ws").cast("long"))
    // globalNp exactly as the plan derives it from this fixture — the
    // 2000-word outlier makes it 445, the clamp must ignore it for
    // every shorter doc
    val work = DedupQueries.octavePartKeys(docsWs, 2L * 2000 / 9 + 1)
      .groupBy($"doc_id").agg(first($"nw").as("nw"),
        sum(size($"bk.pa")).as("parts"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    work.foreach { case (id, (nw, parts)) =>
      assert(parts <= (4 * nw) / 9 + (8 * nw) / 9 + 2,
        s"doc $id (nw=$nw) pays $parts parts — not own-length-bounded")
    }
    // the 20-word docs concretely: ≤ 16 parts beside a 2000-word
    // outlier, where the retired corpus-max sizing charged 445
    assert(work(2L)._2 <= 16 && work(27L)._2 <= 16,
      s"short docs' signature cost tracks the outlier: $work")
  }

  test("CharNgramSet equals the composed sort/distinct/transform formulation") {
    import spark.implicits._
    val texts = Seq("", "a", "ab", "abc", "abca", "abcabcabc",
      "the quick brown fox jumps over the lazy dog", "aaaaaaa",
      "mixed  spaces  and.. punctuation!!", "ñandú über née") // non-ASCII too
    val df = texts.toDF("text")
    for (n <- Seq(2, 3)) {
      val composed = df.select(
        sort_array(array_distinct(
          when(length($"text") < n, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), length($"text") - (n - 1)),
              i => $"text".substr(i, lit(n)))))).as("g"))
        .collect().map(_.getSeq[String](0))
      val native = df.select(GraftText.charNgramSet($"text", n).as("g"))
        .collect().map(_.getSeq[String](0))
      assert(native.toSeq === composed.toSeq, s"n=$n")
    }
  }

  test("line dedup: cross-doc, in-doc, and full-dup removal on a planted fixture") {
    import spark.implicits._
    // segment width 2; doc 1 is the canonical source, doc 2 repeats one
    // of doc 1's segments mid-document, doc 3 is an exact dup of doc 1,
    // doc 4 repeats its own first segment, doc 5 is untouched. A short
    // tail (doc 2's trailing single word) is its own segment.
    val docs = Seq(
      (1L, "a b c d"),        // segs: "a b", "c d" — both kept
      (2L, "x y c d z"),      // "x y" kept, "c d" removed, "z" kept
      (3L, "a b c d"),        // exact dup of doc 1 → everything removed
      (4L, "p q p q"),        // "p q" kept once, second occurrence removed
      (5L, "m n o r")         // untouched
    ).toDF("doc_id", "text")
    val out = DedupQueries.lineDedup(docs, 2)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === (("a b c d", 2L, 0L)))
    assert(out(2L) === (("x y z", 2L, 1L)), "mid-doc removal must re-stitch around the gap")
    assert(out(3L) === (("", 0L, 2L)), "an exact-dup doc must reassemble to ''")
    assert(out(4L) === (("p q", 1L, 1L)), "in-doc repeats fall under the same rule")
    assert(out(5L) === (("m n o r", 2L, 0L)))
  }

  test("leakage split: no verified near-dup edge crosses the train/test boundary") {
    import spark.implicits._
    val split = DedupQueries.all("d_split_leakage")(spark, sfDir)
      .select($"doc_id", $"split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split.values.toSet.subsetOf(Set("train", "test")))
    assert(split.values.exists(_ == "train"), "90% side must be populated")
    val edges = DedupQueries.all("d_jaccard_pairs")(spark, sfDir)
      .select($"doc_a", $"doc_b").collect()
    assert(edges.nonEmpty, "fixture must contain verified near-dup edges")
    edges.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(split(a) === split(b),
        s"near-dup pair ($a, $b) split across the boundary: ${split(a)} vs ${split(b)}")
    }
  }

  test("streaming banded verify: exactly-once emission, sound edges, exact closure " +
      "on a high-background-similarity corpus") {
    // Degenerate-vocabulary fixture (the sf10 probe's corpus shape):
    // background Jaccard between UNRELATED docs sits near the verify
    // threshold, so nearly every pair collides in some band — the
    // regime where band-ownership emission and the streaming verify
    // carry the load. Seeded subsets of an 8-word vocab + planted
    // exact-dup families.
    val vocab = Vector("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta")
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map { i =>
      val k = 4 + rnd.nextInt(4)
      i -> rnd.shuffle(vocab).take(k).sorted
    }
    // ids 100+ are exact copies of docs 0-9 (identical word sets)
    val copies = (0L until 10L).map(i => (100L + i) -> base(i.toInt)._2)
    val docs = (base ++ copies)
      .toDF("doc_id", "ws")
      .select($"doc_id", sort_array(array_distinct($"ws")).as("ws"))
    val edges = DedupQueries.minhashVerifiedEdges(
        docs, GraftText.jaccardSorted(_, _), 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly-once: band ownership must never emit a pair twice
    val keys = edges.map(e => (e._1, e._2))
    assert(keys.length === keys.distinct.length,
      s"duplicate edges emitted: ${keys.diff(keys.distinct).take(5).toSeq}")
    // soundness: every emitted edge is a true >= 0.8 pair
    val sets = (base ++ copies).toMap.view.mapValues(_.toSet).toMap
    def j(a: Long, b: Long): Double =
      (sets(a) & sets(b)).size.toDouble / (sets(a) | sets(b)).size
    edges.foreach { case (a, b, jac) =>
      assert(a < b, s"unordered edge ($a, $b)")
      assert(j(a, b) >= 0.8, s"edge ($a, $b) has true j=${j(a, b)} < 0.8")
      assert(math.abs(j(a, b) - jac) < 5e-4, s"edge ($a, $b) jaccard drift")
    }
    // closure: components over the sparsified store == components over
    // the brute-force full >= 0.8 pair set (connectivity is the store's
    // contract; the exact-dup collapse star-sparsifies inside families)
    val ids = sets.keys.toSeq.sorted
    def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      ids.map(i => i -> find(i)).toMap
    }
    val truePairs = for {
      a <- ids; b <- ids if a < b && j(a, b) >= 0.8
    } yield (a, b)
    assert(truePairs.nonEmpty, "fixture produced no true near-dup pairs")
    assert(components(keys.toSeq) === components(truePairs),
      "sparsified edge store changed connected components")
  }

  test("minhashKeeperAssign releases its intermediate checkpoints") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id",
        sort_array(array_distinct(GraftText.whitespaceTokens($"text"))).as("ws"))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = DedupQueries.minhashKeeperAssign(docs,
      GraftText.jaccardSorted(_, _), 0.7)
    // the (doc_id, ws) and bucket checkpoints are gone; only the
    // output's own stays, and it still reads back
    assert((sc.getPersistentRDDs.keySet.toSet -- before) ===
      Set(DedupQueries.checkpointRdd(out).id))
    assert(out.count() === docs.count())
  }
}
