package graft.engine

import graft.model.{FetchResult, SpanHash, UrlRecord}

/** A row of the scalable loop's side plane, keyed by host bucket before
  * the plane's one shuffle (see `WaveEngine.sidePlane`). */
private[engine] sealed trait SideRow

/** A `CrawlConfig.hostRpsTable` row: the host's base rate. */
private[engine] final case class HostRate(host: String, rps: Double) extends SideRow

/** One copy of a page from a prior run's fetched table: an S14 validator
  * (`page` null: its span hash is all a conditional fetch needs, so the
  * plane stays fixed-width) or an S11 cache entry (`page` is the copy to
  * serve). */
private[engine] final case class PriorCopy(page: FetchResult, url_hash: Long, canonical: String,
    wave: Int, seq: Long, storedAtMs: Long, spanHash: Long) extends SideRow {

  /** The side plane's one rule for two copies of one URL: the latest
    * (wave, seq) wins, then the later store time, then the larger span
    * hash. The order is total, so which copy a run serves or revalidates
    * against never depends on the order the copies arrive in. */
  def newerThan(o: PriorCopy): Boolean =
    if (wave != o.wave) wave > o.wave
    else if (seq != o.seq) seq > o.seq
    else if (storedAtMs != o.storedAtMs) storedAtMs > o.storedAtMs
    else spanHash > o.spanHash
}

private[engine] object PriorCopy {
  def of(fr: FetchResult, keepPage: Boolean): PriorCopy =
    PriorCopy(if (keepPage) fr else null, fr.url_hash, fr.canonical, fr.wave, fr.seq,
      fr.stored_at_ms, SpanHash.of(if (fr.spans == null) Nil else fr.spans))
}

/** One fetch partition's side plane: the base rates of its hosts (two rows
  * for one host resolve to the slower rate), and the winning S14 validator
  * and S11 cache copy of each (url_hash, canonical) its buckets hold. A map
  * is empty when its table is unset. Built once per run from the
  * partition's `rows`, read by the wave tasks through zipPartitions, never
  * mutated after. */
private[engine] final class SideLookup(rows: Iterator[SideRow]) extends Serializable {
  private val rates = new java.util.HashMap[String, java.lang.Double]()
  private val validators = new java.util.HashMap[(Long, String), PriorCopy]()
  private val cache = new java.util.HashMap[(Long, String), PriorCopy]()
  rows.foreach {
    case HostRate(h, rps) =>
      rates.merge(h, rps, (a, b) => java.lang.Double.valueOf(math.min(a, b)))
    case c: PriorCopy =>
      (if (c.page == null) validators else cache)
        .merge((c.url_hash, c.canonical), c, (a, b) => if (b.newerThan(a)) b else a)
  }

  /** `r` with its host's table rate stamped under [[WaveCore.RpsKey]]
    * (idempotent: a deferred row re-stamps the same value). */
  def stampRate(r: UrlRecord): UrlRecord =
    if (rates.isEmpty) r
    else {
      val v = rates.get(r.host)
      if (v == null) r else r.copy(meta = r.meta + (WaveCore.RpsKey -> v.toString))
    }

  /** Splits one fetch partition's batch into the rows to fetch live and the
    * pages served from the S11 cache. A hit makes no network call and takes
    * no politeness slot: `slot` and `partition_id` are -1, `from_cache` is
    * set, and the copy's status and times survive (a chain of cache-served
    * runs ages an entry from its real fetch). Only a live row carries a
    * validator (S14): hits never touch the network. */
  def serve(batch: Iterator[UrlRecord], fetchWave: Int): (Iterator[UrlRecord], Iterator[FetchResult]) =
    if (cache.isEmpty && validators.isEmpty) (batch, Iterator.empty)
    else {
      val live = scala.collection.mutable.ArrayBuffer.empty[UrlRecord]
      val hits = scala.collection.mutable.ArrayBuffer.empty[FetchResult]
      batch.foreach { r =>
        val key = (r.url_hash, r.canonical)
        val c = cache.get(key)
        if (c != null)
          hits += c.page.copy(url = r.url, canonical = r.canonical, url_hash = r.url_hash,
            host = r.host, host_bucket = r.host_bucket, parse_fn = r.parse_fn, meta = r.meta,
            wave = fetchWave, seq = r.seq, from_cache = true, slot = -1, partition_id = -1)
        else {
          val v = validators.get(key)
          live += (if (v == null) r
            else r.copy(meta = r.meta + (Sources.IfHashKey -> v.spanHash.toString)))
        }
      }
      (live.iterator, hits.iterator)
    }
}
