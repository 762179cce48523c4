package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PackingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // doc i has i+1 tokens -> start of doc i = sum of 1..i = i(i+1)/2
  private def corpus(n: Int) =
    (0 until n).map(i => (i.toLong, (0 to i).map(k => s"t$k").mkString(" ")))
      .toDF("doc_id", "text")

  test("layout: intervals are a gapless partition of the token stream") {
    val rows = Packing.layout(corpus(50), "doc_id", "text", seqLen = 16L)
      .orderBy("doc_id").collect()
    var expectStart = 0L
    for (r <- rows) {
      val i = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_tokens") == i + 1)
      assert(r.getAs[Long]("start_tok") == expectStart, s"doc $i")
      assert(r.getAs[Long]("end_tok") == expectStart + i + 1)
      assert(r.getAs[Long]("first_seq") == expectStart / 16)
      assert(r.getAs[Long]("last_seq") == (expectStart + i) / 16)
      assert(r.getAs[Long]("n_seqs") ==
        (expectStart + i) / 16 - expectStart / 16 + 1)
      expectStart += i + 1
    }
    assert(expectStart == 50L * 51 / 2)
  }

  test("layout is partition-count invariant") {
    val a = Packing.layout(corpus(40), "doc_id", "text", 8L, nParts = 1)
      .orderBy("doc_id").collect().toSeq
    val b = Packing.layout(corpus(40).repartition(13), "doc_id", "text", 8L, nParts = 7)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    // gate forced off: nParts reaches the range exchange
    for (n <- Seq(1, 7)) {
      val c = Packing.layout(corpus(40).repartition(13), "doc_id", "text", 8L,
        nParts = n, maxDriverDocs = 0).orderBy("doc_id").collect().toSeq
      assert(a == c, s"nParts=$n")
    }
  }

  test("empty corpus yields an empty layout, not an analysis error") {
    // both sides of the gate; with it off, the distributed scan runs
    // with no partials at all
    for (gate <- Seq(PrefixScan.MaxDriverDocs, 0)) {
      val out = Packing.layout(corpus(5).filter($"doc_id" > 100), "doc_id", "text", 16L,
        maxDriverDocs = gate)
      assert(out.count() == 0, s"maxDriverDocs=$gate")
      assert(out.columns.contains("start_tok"))
    }
  }

  test("a null-text doc adds no tokens and gets the same row across the gate") {
    val df = Seq((0L, Some("a b")), (1L, None), (2L, Some("c")))
      .toDF("doc_id", "text")
    def at(gate: Int) = Packing.layout(df, "doc_id", "text", 16L, nParts = 2,
      maxDriverDocs = gate).orderBy("doc_id").collect().toSeq
    val rows = at(PrefixScan.MaxDriverDocs)
    assert(rows == at(0))
    assert(rows(1).isNullAt(rows(1).fieldIndex("n_tokens")))
    assert(rows(1).getAs[Long]("start_tok") == 2L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("end_tok")))
    assert(rows(2).getAs[Long]("start_tok") == 2L)
  }

  test("doc straddling a boundary spans both sequences") {
    // two docs of 10 tokens each, seqLen 16: doc 1 covers [10, 20) ->
    // sequences 0 and 1
    val df = Seq((0L, (1 to 10).map("a" + _).mkString(" ")),
      (1L, (1 to 10).map("b" + _).mkString(" "))).toDF("doc_id", "text")
    val r = Packing.layout(df, "doc_id", "text", 16L)
      .filter($"doc_id" === 1L).head()
    assert(r.getAs[Long]("first_seq") == 0L)
    assert(r.getAs[Long]("last_seq") == 1L)
    assert(r.getAs[Long]("n_seqs") == 2L)
  }

  test("interleavedLayout: media spans cost the fixed vision budget") {
    // doc 1: 2 text + 1 media = 2 + 64 = 66 tokens; doc 2: 3 text = 3
    val spans = Seq(
      (1L, "text", "hello world"), (1L, "media", "x"), (1L, "text", "bye"),
      (2L, "text", "a"), (2L, "text", "b c")
    ).toDF("doc_id", "kind", "text")
    val rows = Packing.interleavedLayout(spans, "doc_id",
        seqLen = 32L, mediaTokens = 64L)
      .orderBy("doc_id").collect()
    val d1 = rows(0)
    assert(d1.getAs[Long]("n_tokens") == 67L) // 2 + 64 + 1
    assert(d1.getAs[Long]("start_tok") == 0L && d1.getAs[Long]("end_tok") == 67L)
    assert(d1.getAs[Long]("first_seq") == 0L && d1.getAs[Long]("last_seq") == 2L)
    assert(d1.getAs[Long]("n_seqs") == 3L) // straddles seqs 0,1,2
    val d2 = rows(1)
    assert(d2.getAs[Long]("n_tokens") == 3L)
    assert(d2.getAs[Long]("start_tok") == 67L && d2.getAs[Long]("end_tok") == 70L)
    assert(d2.getAs[Long]("first_seq") == 2L && d2.getAs[Long]("last_seq") == 2L)
    // the stream stays gapless across the span-collapse: same invariant
    // layout guarantees on plain text
    assert(d2.getAs[Long]("start_tok") == d1.getAs[Long]("end_tok"))
  }

  test("chunkIntervals: overlap windows, full coverage, short doc = one chunk, empty = none") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // n=10: chunk 8 stride 4
      (2L, "a b c"),                                   // n=3 <= chunk: one chunk
      (3L, ""),                                        // n=0... tokenCount("")=1 ("" token)
      (4L, (1 to 8).map(i => s"w$i").mkString(" ")),   // n=8 == chunk: exactly one chunk
      (5L, (1 to 9).map(i => s"w$i").mkString(" "))    // n=9: starts 0,4 -> (0,8),(4,9)
    ).toDF("doc_id", "text")
    val out = Packing.chunkIntervals(docs, "doc_id", "text",
        chunkTokens = 8L, strideTokens = 4L)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("chunk_idx"))
        .map(r => (r.getAs[Long]("start_tok"), r.getAs[Long]("end_tok"))).toSeq)
      .toMap
    assert(out(1L) == Seq((0L, 8L), (4L, 10L)))
    assert(out(2L) == Seq((0L, 3L)))
    assert(out(4L) == Seq((0L, 8L)))
    assert(out(5L) == Seq((0L, 8L), (4L, 9L)))
    // whitespace-split of "" yields one empty token under tokenCount's
    // definition — consistent with every other token-counting op
    assert(out(3L) == Seq((0L, 1L)))
    // coverage + bounded-size invariants over all chunks
    for ((_, chunks) <- out; ((s, e), i) <- chunks.zipWithIndex) {
      assert(e - s <= 8L && e > s)
      if (i > 0) assert(s == chunks(i - 1)._1 + 4L) // stride
      if (i == chunks.size - 1) assert(e == chunks.map(_._2).max)
    }
  }
}
