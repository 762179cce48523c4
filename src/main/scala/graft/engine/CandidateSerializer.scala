package graft.engine

import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer, SerializerInstance}

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream, OutputStream, StreamCorruptedException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import scala.reflect.ClassTag

/**
 * The codec of the wave's candidate shuffle: a stream of
 * (host_bucket, [[Candidate]]) pairs, written field by field.
 *
 * The session serializer (Kryo on the bench and in production) costs a
 * fixed set-up per task: every map task deserializes its own copy of the
 * shuffle dependency's serializer, whose Kryo pool starts empty, and then
 * builds one Kryo instance per reduce partition it writes to. At 32+
 * partitions and a few thousand rows per task that set-up outweighs the
 * rows. This codec has no per-stream set-up: a stream is a byte buffer
 * over the underlying stream.
 *
 * Record layout, in `Candidate` field order: `url`, `canonical` (strings),
 * `url_hash` (8 bytes, big-endian — a hash gains nothing from a varint),
 * `host_bucket` (varint), `parse_fn` (string), `meta` (varint entry
 * count + 1, 0 = null, then key/value strings), `priority` (varint),
 * `parent_seq` (varlong), `emission_idx` (varint), `weight` (varlong).
 * The pair's key precedes it as a varint. A string is a varint of its
 * UTF-16 length + 1 (0 = null) and then each char as one to three bytes
 * (the UTF-8 bit patterns applied to single chars, so any Java string,
 * unpaired surrogates included, round-trips exactly). Varints are
 * unsigned LEB128: a negative int takes 5 bytes and a negative long 10,
 * and both round-trip.
 *
 * The read side buffers [[CandidateSerializer.ReadBufferSize]] bytes:
 * Spark hands the reduce side an unbuffered local shuffle-block stream
 * (with shuffle compression off, every read on it is a read call on the
 * block's file). The write side only batches the field-by-field writes in
 * [[CandidateSerializer.WriteBufferSize]] bytes: Spark's disk writer
 * behind it is buffered already, and a map task holds one open stream per
 * reduce partition for its whole run.
 *
 * Only (Int, Candidate) pairs are accepted; anything else fails loudly.
 * A stream that ends inside a record throws [[StreamCorruptedException]],
 * never the [[EOFException]] that ends Spark's record iterators.
 */
final class CandidateSerializer extends Serializer with Serializable {
  def newInstance(): SerializerInstance = CandidateSerializer.Instance
}

object CandidateSerializer {

  /** Read buffer size per stream; also the longest ASCII string read in
    * one copy. */
  val ReadBufferSize: Int = 1 << 14

  /** Write buffer size per stream (at least the 10 bytes of a varlong). */
  val WriteBufferSize: Int = 1 << 10

  private def unsupported(what: String, x: Any): Nothing =
    throw new IllegalArgumentException(
      s"CandidateSerializer $what (Int, Candidate) pairs only, got " +
        (if (x == null) "null" else x.getClass.getName))

  /** Stateless, so one instance serves every stream of every task. */
  private object Instance extends SerializerInstance {
    def serialize[T: ClassTag](t: T): ByteBuffer = {
      val bytes = new ByteArrayOutputStream()
      serializeStream(bytes).writeObject(t).close()
      ByteBuffer.wrap(bytes.toByteArray)
    }

    def deserialize[T: ClassTag](bytes: ByteBuffer): T = {
      val a = new Array[Byte](bytes.remaining)
      bytes.duplicate().get(a)
      val in = deserializeStream(new ByteArrayInputStream(a))
      try in.readObject[T]() finally in.close()
    }

    def deserialize[T: ClassTag](bytes: ByteBuffer, loader: ClassLoader): T =
      deserialize[T](bytes)

    def serializeStream(s: OutputStream): SerializationStream = new Output(s)

    def deserializeStream(s: InputStream): DeserializationStream = new Input(s)
  }

  private final class Output(out: OutputStream) extends SerializationStream {
    private val buf = new Array[Byte](WriteBufferSize)
    private var pos = 0

    private def drain(): Unit =
      if (pos > 0) { out.write(buf, 0, pos); pos = 0 }

    private def room(n: Int): Unit = if (pos + n > buf.length) drain()

    private def varLong(v0: Long): Unit = {
      room(10)
      var v = v0
      while ((v & ~0x7FL) != 0L) {
        buf(pos) = ((v & 0x7F) | 0x80).toByte
        pos += 1
        v >>>= 7
      }
      buf(pos) = v.toByte
      pos += 1
    }

    private def varInt(v: Int): Unit = varLong(v & 0xFFFFFFFFL)

    private def fixed64(v: Long): Unit = {
      room(8)
      var i = 0
      while (i < 8) { buf(pos + i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
      pos += 8
    }

    private def str(s: String): Unit =
      if (s == null) varInt(0)
      else {
        val n = s.length
        varInt(n + 1)
        var i = 0
        while (i < n) {
          room(3)
          val c = s.charAt(i)
          if (c < 0x80) {
            buf(pos) = c.toByte
            pos += 1
          } else if (c < 0x800) {
            buf(pos) = (0xC0 | c >> 6).toByte
            buf(pos + 1) = (0x80 | c & 0x3F).toByte
            pos += 2
          } else {
            buf(pos) = (0xE0 | c >> 12).toByte
            buf(pos + 1) = (0x80 | c >> 6 & 0x3F).toByte
            buf(pos + 2) = (0x80 | c & 0x3F).toByte
            pos += 3
          }
          i += 1
        }
      }

    private def candidate(c: Candidate): Unit = {
      str(c.url)
      str(c.canonical)
      fixed64(c.url_hash)
      varInt(c.host_bucket)
      str(c.parse_fn)
      if (c.meta == null) varInt(0)
      else {
        varInt(c.meta.size + 1)
        c.meta.foreach { case (k, v) => str(k); str(v) }
      }
      varInt(c.priority)
      varLong(c.parent_seq)
      varInt(c.emission_idx)
      varLong(c.weight)
    }

    override def writeKey[T: ClassTag](key: T): SerializationStream = key match {
      case k: Int => varInt(k); this
      case other => unsupported("writes", other)
    }

    override def writeValue[T: ClassTag](value: T): SerializationStream = value match {
      case c: Candidate => candidate(c); this
      case other => unsupported("writes", other)
    }

    def writeObject[T: ClassTag](t: T): SerializationStream = t match {
      case (k: Int, c: Candidate) => varInt(k); candidate(c); this
      case other => unsupported("writes", other)
    }

    def flush(): Unit = { drain(); out.flush() }

    def close(): Unit = { drain(); out.close() }
  }

  private final class Input(in: InputStream) extends DeserializationStream {
    private val buf = new Array[Byte](ReadBufferSize)
    private var pos = 0
    private var lim = 0

    /** Buffers at least `n` (≤ ReadBufferSize) bytes; false if the stream
      * ends first. */
    private def fill(n: Int): Boolean = {
      if (lim - pos < n) {
        System.arraycopy(buf, pos, buf, 0, lim - pos)
        lim -= pos
        pos = 0
        var r = 0
        while (lim < n && r >= 0) {
          r = in.read(buf, lim, buf.length - lim)
          if (r > 0) lim += r
        }
      }
      lim - pos >= n
    }

    private def asciiAhead(n: Int): Boolean = {
      var i = pos
      while (i < pos + n && buf(i) >= 0) i += 1
      i == pos + n
    }

    private def truncated() =
      new StreamCorruptedException("candidate stream ends inside a record")

    private def byte(): Int = {
      if (pos == lim && !fill(1)) throw truncated()
      val b = buf(pos)
      pos += 1
      b
    }

    private def varLong(): Long = {
      var b = byte()
      var v = (b & 0x7F).toLong
      var shift = 7
      while ((b & 0x80) != 0) {
        if (shift > 63) throw new StreamCorruptedException("varint longer than 10 bytes")
        b = byte()
        v |= (b & 0x7FL) << shift
        shift += 7
      }
      v
    }

    private def varInt(): Int = varLong().toInt

    private def fixed64(): Long = {
      if (!fill(8)) throw truncated()
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (buf(pos + i) & 0xFFL); i += 1 }
      pos += 8
      v
    }

    private def str(): String = {
      val h = varInt()
      if (h == 0) null
      else {
        val n = h - 1
        // fast path: an ASCII string wholly in the buffer is its bytes
        if (n <= ReadBufferSize && fill(n) && asciiAhead(n)) {
          val s = new String(buf, pos, n, StandardCharsets.ISO_8859_1)
          pos += n
          s
        } else {
          val cs = new Array[Char](n)
          var i = 0
          while (i < n) {
            val b = byte()
            cs(i) =
              if ((b & 0x80) == 0) b.toChar
              else if ((b & 0xE0) == 0xC0) (((b & 0x1F) << 6) | (byte() & 0x3F)).toChar
              else (((b & 0x0F) << 12) | ((byte() & 0x3F) << 6) | (byte() & 0x3F)).toChar
            i += 1
          }
          new String(cs)
        }
      }
    }

    private def meta(): Map[String, String] = {
      val h = varInt()
      if (h == 0) null
      else if (h == 1) Map.empty
      else {
        val m = Map.newBuilder[String, String]
        var i = 1
        while (i < h) {
          val k = str()
          m += k -> str()
          i += 1
        }
        m.result()
      }
    }

    private def candidate(): Candidate = {
      val url = str()
      val canonical = str()
      val urlHash = fixed64()
      val bucket = varInt()
      val parseFn = str()
      val m = meta()
      val priority = varInt()
      val parentSeq = varLong()
      val idx = varInt()
      Candidate(url, canonical, urlHash, bucket, parseFn, m, priority, parentSeq, idx,
        weight = varLong())
    }

    /** The record's first byte: absent only at a clean end of stream. */
    private def key(): Int = {
      if (pos == lim && !fill(1)) throw new EOFException()
      varInt()
    }

    override def readKey[T: ClassTag](): T = key().asInstanceOf[T]

    override def readValue[T: ClassTag](): T = candidate().asInstanceOf[T]

    def readObject[T: ClassTag](): T = {
      val k = key()
      (k, candidate()).asInstanceOf[T]
    }

    def close(): Unit = in.close()
  }
}
