package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, StreamCorruptedException}

/** The candidate-shuffle codec round-trips every field shape the crawl
  * emits, through the key/value calls Spark's shuffle writers and readers
  * make (no SparkSession). */
class CandidateSerializerSpec extends AnyFunSuite {

  private val ser = new CandidateSerializer

  private def write(pairs: Seq[(Int, Candidate)]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = ser.newInstance().serializeStream(bytes)
    pairs.foreach { case (k, c) => out.writeKey(k); out.writeValue(c) }
    out.close()
    bytes.toByteArray
  }

  private def read(bytes: Array[Byte]): Seq[(Int, Candidate)] =
    ser.newInstance().deserializeStream(new ByteArrayInputStream(bytes))
      .asKeyValueIterator.map { case (k, c) => (k.asInstanceOf[Int], c.asInstanceOf[Candidate]) }
      .toVector

  private def cand(i: Int) = Candidate(
    url = null, canonical = s"https://h$i.example.jp/p/$i", url_hash = i * 0x9E3779B97F4A7C15L,
    host_bucket = i % 128, parse_fn = "follow_links", meta = Map.empty,
    priority = 0, parent_seq = i.toLong * 128, emission_idx = i % 7)

  test("every field shape round-trips, across the read buffer") {
    val odd = Seq(
      cand(1).copy(url = "https://h1.example.jp/p/1#frag"),
      cand(2).copy(meta = Map("議員" -> "山田 太郎", "k" -> "", "emoji" -> "😀", "x" -> "y",
        "lone" -> "\uD800")),
      WaveCore.paceMark("h3.example.jp", 3, 1760000000123L),
      cand(4).copy(weight = 17L, priority = -3),
      cand(5).copy(parent_seq = Long.MinValue, url_hash = Long.MaxValue),
      cand(6).copy(parent_seq = Long.MaxValue, url_hash = Long.MinValue),
      cand(7).copy(meta = null, parse_fn = null, canonical = "ü" * 5000),
      cand(8).copy(url = "https://h8.example.jp/" + "a" * 40000))
    import CandidateSerializer.{ReadBufferSize, WriteBufferSize}
    // the long strings cross both buffers, non-ASCII and ASCII alike
    assert(5000 * 2 > WriteBufferSize && 40000 > 2 * ReadBufferSize)
    assert(odd(2).canonical == "" && odd(2).parse_fn == WaveCore.PaceFn)
    val pairs = odd.map(c => (c.host_bucket, c)) ++ (0 until 3000).map(i => (i % 128, cand(i)))
    val bytes = write(pairs)
    assert(bytes.length > 4 * math.max(ReadBufferSize, WriteBufferSize))
    assert(read(bytes) == pairs)
    // a new Candidate field needs a place in the codec's record layout
    assert(cand(0).productArity == 10)
  }

  test("an empty stream ends cleanly; a truncated record fails loudly") {
    assert(read(write(Nil)).isEmpty)
    assert(read(Array.empty[Byte]).isEmpty)
    val bytes = write(Seq((1, cand(1))))
    intercept[StreamCorruptedException](read(bytes.take(bytes.length - 1)))
    intercept[StreamCorruptedException](read(bytes.take(1))) // key without a value
  }

  test("writeObject/readObject round-trip an (Int, Candidate) pair; anything else fails") {
    val inst = ser.newInstance()
    val pair = (42, cand(42).copy(meta = Map("a" -> "b")))
    assert(inst.deserialize[(Int, Candidate)](inst.serialize(pair)) == pair)
    val bytes = new ByteArrayOutputStream()
    val out = inst.serializeStream(bytes)
    out.writeObject(pair).writeObject(pair)
    out.close()
    assert(inst.deserializeStream(new ByteArrayInputStream(bytes.toByteArray))
      .asIterator.toVector == Vector(pair, pair))
    val s = inst.serializeStream(new ByteArrayOutputStream())
    intercept[IllegalArgumentException](s.writeObject("not a pair"))
    intercept[IllegalArgumentException](s.writeObject((1L, cand(1))))
    intercept[IllegalArgumentException](s.writeKey("k"))
    intercept[IllegalArgumentException](s.writeValue((1, cand(1))))
  }
}
