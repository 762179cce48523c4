package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about parliamentary bills and committee minutes here"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "yet another unrelated document mentioning budgets petitions and resolutions instead")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val out = Dedup.exact(docs, "doc_id", "text").orderBy("doc_id").collect()
    val m = out.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(1L) == (1L, 2L)) // canonical 1, two copies
    assert(m(4L) == (1L, 2L))
    assert(m(2L)._2 == 1L)
  }

  test("minhash LSH finds near-dups and jaccard verifies them") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", numHashes = 16, bands = 8)
    val got = pairs.as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 4L))) // exact dup always collides
    assert(got.contains((1L, 2L)) || got.contains((2L, 4L))) // near-dup found
    val verified = Dedup.jaccardFor(pairs, docs, "doc_id", "text")
      .filter($"jaccard" >= 0.5).as[(Long, Long, Double)].collect()
    assert(verified.nonEmpty)
    assert(verified.forall(p => Set((1L, 2L), (1L, 4L), (2L, 4L)).contains((p._1, p._2))))
  }

  test("simhash: identical → same sig; near-dup → small hamming; pairs found") {
    val sigs = docs.select($"doc_id", Dedup.simhash64($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(4L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 16)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 16)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 16)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("simhashPairs == brute-force thresholded pair set (pigeonhole completeness)") {
    // real corpus so block values actually collide and diverge; several
    // thresholds including ones the old fixed-4-block join silently broke
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sigs = real.select($"doc_id", Dedup.simhash64($"text").as("sig"))
      .as[(Long, Long)].collect()
    for (h <- Seq(3, 8, 18)) {
      val brute = (for {
        (a, sa) <- sigs; (b, sb) <- sigs
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= h
      } yield (a, b)).toSet
      val blocked = Dedup.simhashPairs(real, "doc_id", "text", maxHamming = h)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      assert(blocked == brute, s"maxHamming=$h: blocked=${blocked.size} brute=${brute.size}")
      // multi-index variant (pair-of-blocks keys): same completeness
      // guarantee — ≤ h differing bits touch ≤ h of the h+2 blocks, so
      // some PAIR of blocks agrees exactly
      val blocked2 = Dedup.simhashPairs(real, "doc_id", "text", maxHamming = h,
          agreeBlocks = 2)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
      assert(blocked2 == brute, s"maxHamming=$h agreeBlocks=2: ${blocked2.size} vs ${brute.size}")
    }
  }

  test("duplicate-passage coverage: hand-computed interval unions; within-doc repeats don't count") {
    val corpus = Seq(
      (1L, "a b c d e f"),          // all 4 windows shared with 2/4
      (2L, "z z a b c d y"),        // shares "a b c","b c d" -> covers "a b c d"
      (3L, "q r s t u v"),          // unique
      (4L, "a b c d e f"),          // exact dup of 1
      (5L, "m n o p m n o p")       // repeats only within itself
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatePassageCoverage(corpus, "doc_id", "text", w = 3, minDocs = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((6L, 6L, 1.0)))
    assert(out(4L) == ((6L, 6L, 1.0)))
    assert(out(2L)._1 == 7L && out(2L)._2 == 4L) // union of overlapping windows at pos 2,3
    assert(math.abs(out(2L)._3 - 4.0 / 7.0) < 1e-12)
    assert(out(3L) == ((6L, 0L, 0.0)))
    assert(out(5L) == ((8L, 0L, 0.0))) // within-doc repetition is not cross-doc duplication
    // raising minDocs drops the windows only two docs share
    val strict = Dedup.duplicatePassageCoverage(corpus, "doc_id", "text", w = 3, minDocs = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(strict(1L) == 4L && strict(2L) == 4L && strict(4L) == 4L && strict(3L) == 0L)
  }

  test("incremental dedup: batch-2 drops batch-1 content; replay is idempotent; index accumulates") {
    val root = java.nio.file.Files.createTempDirectory("opsspec_inc").toString
    val b1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("doc_id", "text")
    val b2 = Seq((10L, "beta"), (11L, "gamma"), (12L, "gamma"), (13L, "delta")).toDF("doc_id", "text")
    val s1 = Dedup.dedupIncremental(spark, b1, "doc_id", "text", root)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == Set(1L, 2L)) // within-batch first-wins: 3 loses to 1
    val s2 = Dedup.dedupIncremental(spark, b2, "doc_id", "text", root)
      .select("doc_id").as[Long].collect().toSet
    assert(s2 == Set(11L, 13L)) // beta known from batch 1; gamma first-wins 11
    // replaying batch 2 admits nothing (crash-replay safety)
    val s2again = Dedup.dedupIncremental(spark, b2, "doc_id", "text", root)
      .select("doc_id").as[Long].collect().toSet
    assert(s2again.isEmpty)
    // a third batch dedups against EVERYTHING accepted so far
    val b3 = Seq((20L, "alpha"), (21L, "delta"), (22L, "epsilon")).toDF("doc_id", "text")
    val s3 = Dedup.dedupIncremental(spark, b3, "doc_id", "text", root)
      .select("doc_id").as[Long].collect().toSet
    assert(s3 == Set(22L))
  }

  test("incremental dedup write-ahead: persistSurvivors failure leaves the index unadvanced") {
    val root = java.nio.file.Files.createTempDirectory("opsspec_wal").toString
    val b1 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    Dedup.dedupIncremental(spark, b1, "doc_id", "text", root)
    val b2 = Seq((10L, "gamma")).toDF("doc_id", "text")
    // downstream persist crashes AFTER the verdict is pinned but BEFORE
    // the index advances — the batch must be safely replayable
    intercept[RuntimeException] {
      Dedup.dedupIncremental(spark, b2, "doc_id", "text", root,
        persistSurvivors = _ => throw new RuntimeException("sink down"))
    }
    val replay = Dedup.dedupIncremental(spark, b2, "doc_id", "text", root)
      .select("doc_id").as[Long].collect().toSet
    assert(replay == Set(10L)) // gamma was NOT lost to a half-advanced index
  }

  test("incremental LSH gate: batch-2 near-dups hit batch-1 witnesses; survivors extend the index") {
    val root = java.nio.file.Files.createTempDirectory("opsspec_lshinc").toString
    val b1 = docs.filter($"doc_id" <= 2) // docs 1, 2 (near-dups of each other)
    val b2 = docs.filter($"doc_id" >= 3) // 4 = exact dup of 1; 3, 5 unrelated
    val r1 = Dedup.lshIncremental(spark, b1, "doc_id", "text", root)
      .as[(Long, Long, Option[Long])].collect()
    assert(r1.length == 2 && r1.forall(_._2 == 0L)) // empty index: everything survives
    val r2 = Dedup.lshIncremental(spark, b2, "doc_id", "text", root)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(r2(4L)._1 == 4L && r2(4L)._2 == Some(1L)) // exact dup: all 4 bands hit, min witness
    assert(r2(3L) == ((0L, None)) && r2(5L) == ((0L, None)))
    // replay: 3 and 5 are now their own witnesses in the index
    val r3 = Dedup.lshIncremental(spark, b2, "doc_id", "text", root)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(r3(3L) == ((4L, Some(3L))) && r3(5L) == ((4L, Some(5L))))
    assert(r3(4L)._2 == Some(1L)) // a rejected near-dup never became a witness
  }

  test("ANN: LSH top-k recalls brute-force neighbors on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val exact = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(queries, emb, "vec_id", "embedding", 3, planes = 4, tables = 8)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall (exact=${exact.size}, approx=${approx.size})")
    // candidates examined must be far fewer than brute force pairs
    assert(approx.nonEmpty)
  }

  test("ANN: IVF exhaustive probe == brute force; partial probe recall ~ nprobe/nlist") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val exact = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect().toSet
    // nprobe = nlist: the full IVF path must reproduce brute force exactly
    val full = Ann.ivfTopK(queries, emb, "vec_id", "embedding", 3, nlist = 8, nprobe = 8)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(full == exact)
    // isotropic embeddings have no cluster structure: partial probing can
    // only find neighbors that landed in probed lists — recall should sit
    // near nprobe/nlist, far above zero but below one
    val part = Ann.ivfTopK(queries, emb, "vec_id", "embedding", 3, nlist = 8, nprobe = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val pairs = exact.map(t => (t._1, t._3))
    val recall = pairs.count(part.contains).toDouble / pairs.size
    assert(recall >= 0.2 && recall <= 0.95, s"recall=$recall")
  }

  test("ANN: IVF k-means refinement — exhaustive probe stays exact, centroids move") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" % 50 === 0)
    val exact = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect().toSet
    // exhaustive probing is centroid-independent: refinement must not
    // perturb the result set
    val full = Ann.ivfTopK(queries, emb, "vec_id", "embedding", 3,
        nlist = 8, nprobe = 8, kmeansIters = 2)
      .select($"query_id", $"rank", $"neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(full == exact)
    // the Lloyd passes actually refine: centroids are means, not corpus
    // rows, and differ from the hash-sampled seeds; dimensionality kept
    val seed = Ann.ivfCentroids(emb, "vec_id", "embedding", 8, iters = 0)
      .select($"cluster", $"cv").as[(Int, Seq[Double])].collect().toMap
    val refined = Ann.ivfCentroids(emb, "vec_id", "embedding", 8, iters = 2)
      .select($"cluster", $"cv").as[(Int, Seq[Double])].collect().toMap
    assert(refined.keySet == seed.keySet)
    assert(refined.values.forall(v => v.length == seed(0).length))
    assert(seed.keys.count(k => refined(k) != seed(k)) >= 6) // most moved
  }

  test("text stats: counts, ratios, quality, lang id, fingerprint") {
    val df = Seq((1L, "the cat and the dog and the cat"), (2L, "uno dos tres"))
      .toDF("doc_id", "text")
    val r = df.select(
      TextStats.tokenCount($"text").as("n"),
      TextStats.uniqueTokenRatio($"text").as("uniq"),
      TextStats.stopwordRatio($"text", Seq("the", "and")).as("stop"),
      TextStats.langId($"text", Seq(
        "en" -> Seq("the", "and"), "es" -> Seq("uno", "dos"))).as("lang"),
      TextStats.fingerprint($"text").as("fp"))
      .collect()
    assert(r(0).getAs[Long]("n") == 8)
    assert(math.abs(r(0).getAs[Double]("uniq") - 4.0 / 8.0) < 1e-9)
    assert(math.abs(r(0).getAs[Double]("stop") - 5.0 / 8.0) < 1e-9)
    assert(r(0).getAs[String]("lang") == "en")
    assert(r(1).getAs[String]("lang") == "es")
    assert(r(0).getAs[Long]("fp") == r(0).getAs[Long]("fp"))
    val qs = df.select(TextStats.qualityScore($"text", Seq("the", "and")).as("q"))
      .as[Double].collect()
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("recallAtK: set overlap, duplicates collapse, absent query scores 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("qid", "nid")
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 99L), (1L, 12L), (2L, 21L))
      .toDF("qid", "nid") // dup (1,10); extra 99 never counts; qid 3 absent
    val r = Ann.recallAtK(approx, exact, "qid", "nid", k = 3)
      .collect().map(x => x.getAs[Long]("qid") ->
        ((x.getAs[Long]("n_hits"), x.getAs[Double]("recall")))).toMap
    assert(r(1L) == ((2L, 0.666667)))
    // qid 2 has only 2 exact neighbors: denominator is min(k, n_exact),
    // so a perfect index could still reach 1.0 (here 1 of 2 found)
    assert(r(2L) == ((1L, 0.5)))
    assert(r(3L) == ((0L, 0.0)))
    val sum = Ann.recallSummary(Ann.recallAtK(approx, exact, "qid", "nid", 3))
      .collect().head
    assert(sum.getAs[Long]("n_queries") == 3L)
    assert(sum.getAs[Double]("mean_recall") == 0.388889)
  }

  test("interleaved lang profile: media-aware counts, tie-break, und") {
    // spans with multi-token text spans (the real input_hint shape; q100's
    // synthesis degenerates to one token per span, so the multi-token and
    // tie/und branches are pinned here)
    val spans = Seq(
      (1L, 0L, "text", "the cat and the dog", null),
      (1L, 1L, "media", null, "m1_1"),
      (1L, 2L, "text", "der hund", null),
      (2L, 0L, "text", "der the", null),        // en/de tie -> earlier lexicon (en)
      (3L, 0L, "media", null, "m3_0"),          // media only -> und
      (3L, 1L, "text", "zzz qqq", null)         // no hits -> still und
    ).toDF("doc_id", "offset", "kind", "text", "media_ref")
    val out = TextStats.interleavedLangProfile(spans, "doc_id", Seq(
        "en" -> Seq("the", "and"), "de" -> Seq("der", "und")))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_text_spans"), r.getAs[Long]("n_media_spans"),
          r.getAs[Long]("en_hits"), r.getAs[Long]("de_hits"),
          r.getAs[String]("pred_lang")))).toMap
    assert(out(1L) == ((2L, 1L, 3L, 1L, "en")))  // 'und' lexeme absent from doc 1
    assert(out(2L) == ((1L, 0L, 1L, 1L, "en")))  // tie -> earlier lexicon wins
    assert(out(3L) == ((1L, 1L, 0L, 0L, "und"))) // media never votes
  }

  test("multimodal: deterministic stub decode, batching, frame plan") {
    import Multimodal._
    val rows = Seq(
      MediaRow("img1", "image", Array[Byte](1, 2, 3, 4), 640, 480, 0L),
      MediaRow("vid1", "video", Array[Byte](9, 9), 1280, 720, 10000L))
    val media = spark.createDataset(rows)
    val feats = extractFeatures(spark, media, FakeDecoder, partitions = 4)
      .collect().sortBy(_.media_ref)
    assert(feats.length == 2)
    assert(feats(0).media_ref == "img1" && feats(0).n_bytes == 4)
    assert(feats(0).feature.length == 8)
    // determinism: same input → same features
    val again = extractFeatures(spark, media, FakeDecoder, partitions = 2)
      .collect().sortBy(_.media_ref)
    assert(again(0).sha_like == feats(0).sha_like)
    assert(again(0).feature.toSeq == feats(0).feature.toSeq)

    val plan = frameSamplePlan(media.toDF(), everyMs = 4000, maxFrames = 3)
      .as[(String, Int, Long)].collect().sortBy(_._2)
    assert(plan.map(_._3).toSeq == Seq(0L, 4000L, 8000L))
  }

  test("bpeishTokenCount: GPT-2-style pre-tokenizer runs, contractions, CJK") {
    val r = Seq(
      (1L, "can't stop"),          // can | 't | _stop
      (2L, "hello  world 42!"),    // hello | _world | _42 | !
      (3L, "第204回ページ h0 p12"), // 第 | 204 | 回ページ | _h | 0 | _p | 12
      (4L, "")
    ).toDF("doc_id", "text")
      .select($"doc_id", TextStats.bpeishTokenCount($"text").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L, 2L -> 4L, 3L -> 7L, 4L -> 0L))
  }

  test("dhash64: bit layout matches the definitional comparison loop") {
    import Multimodal._
    // 2x3 grid (stride 4): rows [10, 20, 5, 7 | 9, 9, 200, 1]
    val g = Array[Byte](10, 20, 5, 7, 9, 9, -56 /* 200 unsigned */, 1)
    val out = dhash64(spark, spark.createDataset(Seq(GridRow(7L, "m7", g))),
      rows = 2, cols = 3).collect()(0)
    // bits (r*3+c): r0: 10<20 T, 20<5 F, 5<7 T; r1: 9<9 F, 9<200 T, 200<1 F
    assert(out.phash == ((1L << 0) | (1L << 2) | (1L << 4)))
    assert(out.id == 7L && out.media_ref == "m7")
  }

  test("phashPairs: banded index equals brute-force hamming (completeness)") {
    import Multimodal._
    // deterministic pseudo-random 64-bit hashes with planted near-dups
    def scramble(x: Long): Long = {
      var h = x * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32); h *= 0xBF58476D1CE4E5B9L; h ^= (h >>> 29); h
    }
    val hashes = (0L until 60L).map { i =>
      val base = scramble(i / 3) // triples share a base
      val noise = (1L << ((i * 7) % 64)) | (1L << ((i * 13) % 64))
      MediaHash(i, s"m$i", if (i % 3 == 0) base else base ^ noise)
    }
    val got = phashPairs(spark.createDataset(hashes), maxHamming = 4)
      .as[(Long, Long, Long)].collect().toSet
    val want = (for {
      a <- hashes; b <- hashes if a.id < b.id
      h = java.lang.Long.bitCount(a.phash ^ b.phash) if h <= 4
    } yield (a.id, b.id, h.toLong)).toSet
    assert(want.nonEmpty && got == want)
  }

  test("videoNearDupPairs: set jaccard, distinct frames, boilerplate-hash cap") {
    import Multimodal._
    // v1 {A,B,C} / v2 {A,B,C,D} share 3 of 4 (J=0.75); v3 {X,Y} disjoint;
    // hash B repeats inside v1 (distinct semantics: counted once); hash Z
    // is a "black frame" shared by ALL videos — the df cap must drop it
    // BEFORE it links v3 to everything
    val frames = Seq(
      (1L, 100L), (1L, 200L), (1L, 200L), (1L, 300L), (1L, 999L),
      (2L, 100L), (2L, 200L), (2L, 300L), (2L, 400L), (2L, 999L),
      (3L, 700L), (3L, 800L), (3L, 999L)
    ).toDF("vid", "ph")
    val got = videoNearDupPairs(frames, "vid", "ph", threshold = 0.3, maxDf = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 3L, 0.75))) // J over capped sets: 3/(3+4-3)
    // without the cap the black frame links v3 in (J(1,3)=1/6 < 0.3 still
    // dropped by threshold, but shared counts shift: J(1,2) = 4/(4+5-4))
    val uncapped = videoNearDupPairs(frames, "vid", "ph", threshold = 0.3, maxDf = 100)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(uncapped == Set((1L, 2L, 4L, 0.8)))
  }

  test("captionPairs: nearest text span, earlier-wins tie-break, window cutoff") {
    import Multimodal._
    // doc 1: media@2 has text@1 (d=1) and text@3 (d=1) → tie → earlier (1)
    // doc 1: media@6 nearest text below @8 (d=2) vs above @3 (d=3) → next
    // doc 2: media@0 text only above the window (none) and @4 (d=4>3) → dropped
    // doc 3: media@5 with text@2 (d=3, boundary) → kept via prev
    val spans = Seq(
      (1L, 0L, "media", "x", "m1_0"), (1L, 1L, "text", "cap-a", null),
      (1L, 2L, "media", "x", "m1_2"), (1L, 3L, "text", "cap-b", null),
      (1L, 6L, "media", "x", "m1_6"), (1L, 8L, "text", "cap-c", null),
      (2L, 0L, "media", "x", "m2_0"), (2L, 4L, "text", "far", null),
      (3L, 2L, "text", "cap-d", null), (3L, 5L, "media", "x", "m3_5")
    ).toDF("doc_id", "offset", "kind", "text", "media_ref")
    val got = captionPairs(spans, "doc_id", window = 3)
      .select($"media_ref", $"caption", $"caption_offset", $"delta")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("m1_0", "cap-a", 1L, 1L),
      ("m1_2", "cap-a", 1L, 1L), // tie at d=1: earlier span wins
      ("m1_6", "cap-c", 8L, 2L),
      ("m3_5", "cap-d", 2L, 3L)))
  }

  test("globalShuffleLayout: seeded bijection, contiguous shards, deterministic") {
    val ids = spark.range(0, 100).toDF("id")
    // p just above the id domain: a·id wraps mod p, so the map shuffles
    // (with p >> max(id), the affine map is monotonic on a small range)
    val layout = Shard.globalShuffleLayout(ids, "id",
      a = 73L, b = 11L, p = 101L, shardSize = 16L, nParts = 8)
    val rows = layout.select($"id", $"perm_key", $"ordinal", $"shard",
      $"pos_in_shard").as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 100)
    // bijection on the id set: all permuted keys distinct
    assert(rows.map(_._2).distinct.length == 100)
    // ordinals are exactly 0..99 and order-isomorphic to perm_key
    assert(rows.map(_._3).sorted.toSeq == (0L until 100L))
    assert(rows.sortBy(_._2).map(_._3).toSeq == (0L until 100L))
    // shard/pos arithmetic
    assert(rows.forall(r => r._4 == r._3 / 16 && r._5 == r._3 % 16))
    // NOT the identity order (the permutation actually shuffles)
    assert(rows.sortBy(_._1).map(_._3).toSeq != (0L until 100L))
    // same seed → identical layout; different seed → different order
    val again = Shard.globalShuffleLayout(ids, "id", 73L, 11L,
      101L, 16L, nParts = 8)
      .select($"id", $"ordinal").as[(Long, Long)].collect().toMap
    assert(rows.forall(r => again(r._1) == r._3))
    val other = Shard.globalShuffleLayout(ids, "id", 29L, 0L,
      101L, 16L, nParts = 8)
      .select($"id", $"ordinal").as[(Long, Long)].collect().toMap
    assert(rows.exists(r => other(r._1) != r._3))
  }

  test("globalShuffleLayout is partitioning-invariant: same ordinals at any nParts") {
    // the two-level scan's offsets come from per-partition counts — the
    // result must be a pure function of the data, not the partition count
    val ids = spark.range(0, 100).toDF("id")
    def at(n: Int, gate: Int = PrefixScan.MaxDriverDocs) = Shard.globalShuffleLayout(
        ids, "id", a = 73L, b = 11L, p = 101L, shardSize = 16L, nParts = n,
        maxDriverDocs = gate)
      .select($"id", $"ordinal").as[(Long, Long)].collect().toMap
    val ref = at(1)
    assert(at(3) == ref)
    assert(at(8) == ref)
    // gate forced off: nParts reaches the range exchange
    assert(at(1, gate = 0) == ref)
    assert(at(3, gate = 0) == ref)
    assert(at(8, gate = 0) == ref)
  }

  test("shard manifest: sizes, weights, non-overlapping key ranges") {
    val ids = spark.range(0, 100).toDF("id")
      .withColumn("w", $"id" % 7 + 1)
    val layout = Shard.globalShuffleLayout(ids, "id",
      a = 73L, b = 11L, p = 101L, shardSize = 16L, nParts = 8)
    val m = Shard.manifest(layout, "id", ids, "w")
      .orderBy($"shard")
      .select($"shard", $"n_docs", $"weight", $"min_key", $"max_key")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(m.map(_._1).toSeq == (0L until 7L)) // ceil(100/16) = 7 shards
    assert(m.init.forall(_._2 == 16L) && m.last._2 == 4L)
    assert(m.map(_._3).sum == (0L until 100L).map(_ % 7 + 1).sum)
    // contiguous ordinals ⇒ key ranges strictly increase across shards
    assert(m.sliding(2).forall { case Array(a, b) => a._5 < b._4 })
  }
}
