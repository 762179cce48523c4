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
