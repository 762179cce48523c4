package graft.seen

/**
 * A from-scratch cuckoo filter (Fan et al., "Cuckoo Filter: Practically
 * Better Than Bloom", CoNEXT 2014 — public paper) used as the URL-seen
 * pre-filter of the reference-order path only (the scalable path probes
 * its exact per-bucket SeenSet128 directly). One filter per host bucket;
 * keys are xxhash64 values of canonical URLs (the same hash the
 * DataFrame plane computes with Spark's `xxhash64`).
 *
 * Semantics in the engine (SURVEY.md §4 "Request dedup"):
 *  - `contains == false` → URL is DEFINITELY new (no false negatives),
 *    skips the exact anti-join entirely — the common case for novel URLs.
 *  - `contains == true` → maybe seen; verified against the exact seen
 *    table. So the oracle-visible dedup is exact; the filter only prunes.
 *
 * The filters are never checkpointed: a resume rebuilds them from the
 * durable seen changelog.
 *
 * Deterministic: kick eviction uses an LCG seeded from the key, no
 * global randomness — same inserts in the same order produce identical
 * filter bytes.
 *
 * 4-way buckets, 16-bit fingerprints → ~2.1 bytes/key at 95% load,
 * <0.001 false-positive rate. At 10^10 URLs sharded over 2^14 host
 * buckets this is ~1.3 MB per bucket shard — each shard collocated with
 * its host-bucket partition, never a single giant structure.
 */
final class CuckooFilter(requestedCapacity: Int) extends Serializable {
  import CuckooFilter._

  private val numBuckets: Int = {
    val needed = math.max(1, (requestedCapacity / (BucketSize * 0.95)).toInt)
    Integer.highestOneBit(math.max(1, needed - 1)) * 2 // next power of two
  }
  private val indexMask: Int = numBuckets - 1
  private val table: Array[Short] = new Array[Short](numBuckets * BucketSize)
  private var count: Long = 0L
  /** Homeless fingerprints after an exhausted kick chain, encoded as
    * (index << 16 | fp). Bounded and tiny below ~95% load; its growth
    * signals the shard needs resizing. */
  private var stash: scala.collection.mutable.HashSet[Long] = null
  /** Overflow level: a 2×-capacity filter chained when THIS level
    * saturates (≥95% load). A partial-key cuckoo filter cannot rebuild
    * into a bigger table (the table stores fingerprints, not keys), so
    * graceful growth is a chain: inserts past the soft cap go to the
    * next level, `contains` probes every level. Growth points depend
    * only on the insert sequence — determinism is preserved. Without
    * this, every insert past capacity burned the full MaxKicks eviction
    * chain before stashing: the 10×-frontier stress read 6.8× per-event
    * cost from exactly that term when a shard outgrew its configured
    * capacity. */
  private var next: CuckooFilter = null
  /** 95% of slots: beyond this, kick chains thrash (and mostly fail) —
    * new keys go to the next level instead. */
  private val softCap: Long = (numBuckets.toLong * BucketSize * 95L) / 100L

  private def stashKey(i: Int, fp: Short): Long = (i.toLong << 16) | (fp & 0xFFFFL)

  def size: Long = count + (if (next == null) 0L else next.size)

  private def fingerprint(key: Long): Short = {
    val fp = ((key >>> 48) ^ (key >>> 32)).toInt & 0xFFFF
    (if (fp == 0) 1 else fp).toShort
  }
  private def index1(key: Long): Int = (key & 0xFFFFFFFFL).toInt & indexMask
  private def altIndex(i: Int, fp: Short): Int =
    (i ^ (((fp & 0xFFFF) * 0x5bd1e995) & indexMask)) & indexMask

  private def bucketHas(i: Int, fp: Short): Boolean = {
    val base = i * BucketSize
    var j = 0
    while (j < BucketSize) {
      if (table(base + j) == fp) return true
      j += 1
    }
    false
  }

  private def bucketInsert(i: Int, fp: Short): Boolean = {
    val base = i * BucketSize
    var j = 0
    while (j < BucketSize) {
      if (table(base + j) == 0) { table(base + j) = fp; return true }
      j += 1
    }
    false
  }

  def contains(key: Long): Boolean = {
    val fp = fingerprint(key)
    val i1 = index1(key)
    val i2 = altIndex(i1, fp)
    if (bucketHas(i1, fp) || bucketHas(i2, fp)) return true
    if (stash != null &&
      (stash.contains(stashKey(i1, fp)) || stash.contains(stashKey(i2, fp)))) return true
    next != null && next.contains(key)
  }

  /** Insert; idempotent for keys already present (checked first, so a
    * re-inserted key never double-occupies slots). O(1) amortized at ANY
    * load: a saturated level forwards to its (2×) overflow level instead
    * of thrashing the kick chain. */
  def insert(key: Long): Unit = {
    if (contains(key)) return
    if (count >= softCap) {
      if (next == null)
        next = new CuckooFilter(numBuckets * BucketSize * 2)
      next.insert(key)
      return
    }
    val fp = fingerprint(key)
    val i1 = index1(key)
    val i2 = altIndex(i1, fp)
    if (bucketInsert(i1, fp) || bucketInsert(i2, fp)) { count += 1; return }
    // cuckoo kick loop — deterministic slot choice via LCG on the key.
    // Each step evicts a victim, places the current fp, and re-homes the
    // victim at its alternate bucket (altIndex is an involution, so the
    // victim's alternate is always a valid home).
    var curFp = fp
    var curIdx = if ((key & 1L) == 0L) i1 else i2
    var rnd = key * 6364136223846793005L + 1442695040888963407L
    var kicks = 0
    while (kicks < MaxKicks) {
      val slot = ((rnd >>> 33) % BucketSize).toInt
      rnd = rnd * 6364136223846793005L + 1442695040888963407L
      val base = curIdx * BucketSize
      val evicted = table(base + slot)
      table(base + slot) = curFp
      curFp = evicted
      curIdx = altIndex(curIdx, curFp)
      if (bucketInsert(curIdx, curFp)) { count += 1; return }
      kicks += 1
    }
    // Kick chain exhausted: the last victim is homeless — stash it at its
    // current valid index so no false negative is possible.
    if (stash == null) stash = scala.collection.mutable.HashSet[Long]()
    stash.add(stashKey(curIdx, curFp))
    count += 1
  }

  def serialized: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeObject(this)
    out.close()
    bos.toByteArray
  }
}

object CuckooFilter {
  val BucketSize = 4
  val MaxKicks = 500

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    in.readObject().asInstanceOf[CuckooFilter]
  }
}
