package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the partition-local pure functions (no SparkSession). */
class WaveCoreSpec extends AnyFunSuite {

  private def cand(canon: String, parentSeq: Long, idx: Int, w: Long = 1L) =
    Candidate(url = null, canonical = canon, url_hash = canon.hashCode.toLong,
      host_bucket = 0, parse_fn = "p", meta = Map.empty,
      priority = 0, parent_seq = parentSeq, emission_idx = idx, weight = w)

  test("combineCandidates: first discovery survives, weights are exact") {
    val in = Seq(
      cand("u/a", 10, 2), cand("u/b", 10, 3), cand("u/a", 5, 7),
      cand("u/a", 5, 1), cand("u/c", 99, 0), cand("u/b", 11, 0))
    val out = WaveCore.combineCandidates(in.iterator).toSeq
    assert(out.map(_.canonical).sorted == Seq("u/a", "u/b", "u/c"))
    val byCanon = out.map(c => c.canonical -> c).toMap
    // min (parent_seq, emission_idx) wins — the order advancePartition uses
    assert((byCanon("u/a").parent_seq, byCanon("u/a").emission_idx) == (5L, 1))
    assert((byCanon("u/b").parent_seq, byCanon("u/b").emission_idx) == (10L, 3))
    assert(byCanon("u/a").weight == 3L)
    assert(byCanon("u/b").weight == 2L)
    assert(byCanon("u/c").weight == 1L)
    assert(out.map(_.weight).sum == in.size) // emitted count preserved
  }

  test("combineCandidates: capped map flushes wholesale; partial combine stays sound") {
    val in = (0 until 10).flatMap(i => Seq(cand(s"u/$i", i.toLong, 0), cand(s"u/$i", 100L + i, 0)))
    // cap of 3 live keys forces several flushes; duplicates split across
    // flush batches survive as multiple rows — advancePartition re-dedups
    val out = WaveCore.combineCandidates(in.iterator, maxEntries = 3).toSeq
    assert(out.map(_.weight).sum == in.size)
    assert(out.size >= 10 && out.size <= in.size)
    // every canonical still present, and each flushed row kept a real min
    val grouped = out.groupBy(_.canonical)
    assert(grouped.keySet == (0 until 10).map(i => s"u/$i").toSet)
    grouped.foreach { case (c, rows) =>
      assert(rows.map(_.weight).sum == 2L, s"$c lost a copy")
    }
  }

  test("combineCandidates: weights already > 1 accumulate") {
    val out = WaveCore.combineCandidates(
      Seq(cand("u/a", 1, 0, w = 3), cand("u/a", 0, 0, w = 4)).iterator).toSeq
    assert(out.size == 1 && out.head.weight == 7L && out.head.parent_seq == 0L)
  }

  test("waveCandidates: one lineage mark per bucket, exact; advancePartition folds marks, never counts them") {
    val buckets = 1 << 16
    def host(k: Int) = s"h$k.example.jp"
    def bucket(k: Int) = graft.urls.UrlCanon.hostBucket(host(k), buckets)
    def canon(k: Int, path: String) = graft.urls.UrlCanon.canonicalize(s"http://${host(k)}$path")
    assert(bucket(0) != bucket(1))
    def page(k: Int, i: Int, status: Int) = {
      val url = s"http://${host(k)}/p$i"
      val links = if (status == 200) Seq(s"http://${host(k)}/shared", s"/p${i + 10}") else Nil
      graft.model.FetchResult(url, url, url.hashCode.toLong, host(k), bucket(k), "follow_links",
        Map.empty, 1, i.toLong, status, from_cache = false, 1000L * i, 0L, 0, 0, url,
        links.zipWithIndex.map { case (l, j) => graft.model.Span("link", "", l, j) })
    }
    // bucket 0: 200, 404, 200; bucket 1: 500, 200 — interleaved, as cache
    // hits and live fetches mix in one partition
    val pages = Seq(page(0, 0, 200), page(1, 1, 500), page(0, 2, 404), page(0, 3, 200),
      page(1, 4, 200))
    val parsers = Map[String, PageParser]("follow_links" -> FollowAllLinks)
    for (realtime <- Seq(false, true)) {
      val out = WaveCore.waveCandidates(pages.iterator, parsers, buckets, robotsEnabled = false,
        Map.empty, realtime, rps = 1.0, robotsRps = Map.empty).toSeq
      val (marks, cands) = out.partition(_._2.parse_fn == WaveCore.LineageFn)
      // (in, ok, err) per bucket, keyed and tagged with the bucket
      assert(marks.map { case (b, m) => (b, m.host_bucket, m.parent_seq, m.weight, m.url_hash) }
        .sorted == Seq((bucket(0), bucket(0), 3L, 2L, 1L), (bucket(1), bucket(1), 2L, 1L, 1L)).sorted)
      // the marks follow every candidate, so the combiner never sees one
      assert(out.takeRight(2) == marks)
      val (pace, links) = cands.partition(_._2.parse_fn == WaveCore.PaceFn)
      assert(pace.map(_._1).sorted == (if (realtime) Seq(bucket(0), bucket(1)).sorted else Nil))
      // the links are combined: the shared one carries both copies
      assert(links.map(_._2.canonical).distinct.length == links.length)
      assert(links.map(_._2.weight).sum == 6L)
      assert(links.collect { case (_, c) if c.canonical == canon(0, "/shared") => c.weight } == Seq(2L))

      // a second map partition's marks for the same buckets add up; marks
      // are neither candidates nor novel rows
      def empty(k: Int) = bucket(k) -> BucketSeen(bucket(k), new graft.seen.SeenSet128(16), Nil, 0L)
      val adv = WaveCore.advancePartition(Iterator(empty(0), empty(1)), (out ++ marks).iterator,
        base = 0L, newWave = 2, seedWave = false, nBuckets = buckets.toLong).toMap
      val (w0, w1) = (adv(bucket(0)), adv(bucket(1)))
      assert((w0.nIn, w0.nOk, w0.nErr) == (6L, 4L, 2L))
      assert((w1.nIn, w1.nOk, w1.nErr) == (4L, 2L, 2L))
      assert(w0.nCandidates == 4L && w1.nCandidates == 2L)
      assert(w0.novel.map(_.canonical).toSet == Set(canon(0, "/shared"), canon(0, "/p10"),
        canon(0, "/p13")))
      assert(w1.novel.map(_.canonical).toSet == Set(canon(1, "/shared"), canon(1, "/p14")))
      assert(w0.state.count == 3L && w1.state.count == 2L)
      assert(w0.state.pace.nonEmpty == realtime)
    }
  }

  test("advancePartition is pure: a retried wave recomputes the same rows from the same state") {
    // the input state is shared by every attempt of the wave's task, so
    // advancing it must never mutate it (its seen set is copied first)
    val prior = "http://h0.example.jp/seen"
    val seen0 = new graft.seen.SeenSet128(16)
    seen0.add(prior.hashCode.toLong, graft.urls.UrlCanon.urlHash2(prior))
    val log0 = List(graft.seen.SeenChunk.pack(0, Array(prior.hashCode.toLong), Array(prior)))
    val st = BucketSeen(0, seen0, log0, 1L)
    val cands = Seq(
      cand("http://h0.example.jp/b", 7, 1), cand("http://h0.example.jp/a", 7, 0),
      cand("http://h0.example.jp/b", 9, 0), // within-wave duplicate
      cand(prior, 8, 0)) // already seen
    def advance(): BucketWave = {
      val out = WaveCore.advancePartition(Iterator(0 -> st), cands.iterator.map(c => (0, c)),
        base = 100L, newWave = 1, seedWave = false, nBuckets = 4L).toList
      assert(out.map(_._1) == List(0))
      out.head._2
    }
    val first = advance()
    val retry = advance()
    assert(first.novel.toSeq == retry.novel.toSeq) // same rows, same seqs
    assert(first.novel.map(_.canonical).toSeq ==
      Seq("http://h0.example.jp/a", "http://h0.example.jp/b")) // discovery order, dups dropped
    assert(first.novel.map(_.seq).toSeq == Seq(100L, 104L)) // base + rank·B + bucket
    assert(first.nCandidates == 4L && retry.nCandidates == 4L)
    assert(first.state.seen.size == 3 && retry.state.seen.size == 3)
    assert(first.state.count == 3L)
    // the input state is untouched by both attempts
    assert(st.seen.size == 1)
    assert(!st.seen.contains("http://h0.example.jp/a".hashCode.toLong,
      graft.urls.UrlCanon.urlHash2("http://h0.example.jp/a")))
    assert(st.log.map(ch => (ch.wave, ch.size, ch.canonical(0))) == List((0, 1, prior)))
    assert(first.state.log.tail eq log0) // prior chunks shared by reference
    assert(first.state.log.head.size == 2 && first.state.log.head.wave == 1)
  }
}
