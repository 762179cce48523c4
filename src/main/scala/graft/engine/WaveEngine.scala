package graft.engine

import graft.fetch.Fetcher
import graft.model._
import graft.urls.UrlCanon
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** A seed request (reference: spider `start_urls` / seed builders,
  * e.g. /root/reference/crawler/spiders/shugiin_spider.py:22-24). */
final case class SeedSpec(
    url: String,
    parseFn: String = "follow_links",
    meta: Map[String, String] = Map.empty,
    priority: Int = 0)

/** A parse callback: fetched document → follow-up requests. Entity
  * extraction runs separately as batch transforms over the fetched
  * documents table; the engine only needs the frontier expansion here. */
trait PageParser extends Serializable {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp]
}

/** Default parser — follow every link span (S9). */
object FollowAllLinks extends PageParser {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] =
    doc.spans.filter(_.kind == "link").map(s => FollowUp(s.media_ref, "follow_links"))
}

/** Terminal parser — no follow-ups. */
object NoFollow extends PageParser {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] = Nil
}

/** Interleaved-payload parser (north rule: text + media documents): follow
  * link spans AND enqueue media spans for binary ingestion. Media refs
  * become ordinary frontier rows tagged `parse_fn = "media"` — they ride
  * the same canonicalize → robots gate → exact dedup → per-host politeness
  * path as pages (one fetch per distinct media URL per crawl, paced
  * against the host's page fetches), and their bytes land in the
  * content-addressed [[graft.sinks.MediaStore]] when
  * `CrawlConfig.mediaStoreDir` is set. */
object FollowLinksAndMedia extends PageParser {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] =
    doc.spans.collect {
      case s if s.kind == "link" => FollowUp(s.media_ref, "follow_links")
      case s if s.kind == "media" && s.media_ref != null && s.media_ref.nonEmpty =>
        FollowUp(s.media_ref, WaveCore.MediaFn)
    }
}

/** Link-rank frontier feedback: wraps any parser and stamps each
  * follow-up whose parser left priority at 0 with the target HOST's
  * priority level (e.g. from [[graft.ops.Graph.hostPriorities]] computed
  * over a previous crawl's fetched table). Priorities steer the engine's
  * existing machinery — budgeted wave admission and politeness slot
  * order (`maxPerHostPerWave`, slot sort (priority desc, seq)) — so a
  * high-rank host's pages fetch earlier under contention. The map is
  * O(hosts) and rides the task closure like a broadcast dim; hosts
  * absent from the map keep priority 0. Relative refs resolve against
  * the emitting document's id (= its canonical URL) exactly as the
  * candidate path will. */
final case class RankPrioritizingParser(inner: PageParser,
    hostPriority: Map[String, Int]) extends PageParser {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] =
    inner.followUps(doc, meta).map { f =>
      if (f.priority != 0) f
      else {
        val abs = graft.urls.UrlCanon.resolve(doc.doc_id, f.url)
        val host = graft.urls.UrlCanon.hostOfOrSame(abs, "")
        val p = hostPriority.getOrElse(host, 0)
        if (p == 0) f else f.copy(priority = p)
      }
    }
}

/** DUST frontier feedback: wraps any parser and strips, per target host,
  * the query parameters a previous crawl judged content-irrelevant
  * ([[graft.ops.Dust.irrelevantParams]] → [[graft.ops.Dust.dropMap]]).
  * The rewrite happens at EMISSION, before the engine's canonicalize →
  * seen-filter path, so an entire session-id URL family collapses to one
  * frontier row — the fetch never happens, which is the point: exact
  * dedup fires only AFTER the wasted fetch, this fires before. The map is
  * O(hosts·params) and rides the task closure like a broadcast dim;
  * remaining pairs keep their original order (canonicalization sorts them
  * downstream), a query that empties loses its `?`, hosts absent from the
  * map pass through untouched. */
final case class DustCanonicalizingParser(inner: PageParser,
    dropParams: Map[String, Set[String]]) extends PageParser {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] =
    inner.followUps(doc, meta).map { f =>
      val abs = graft.urls.UrlCanon.resolve(doc.doc_id, f.url)
      val qi = abs.indexOf('?')
      if (qi < 0) f
      else {
        val host = graft.urls.UrlCanon.hostOfOrSame(abs, "")
        val drop = dropParams.getOrElse(host, Set.empty)
        if (drop.isEmpty) f
        else {
          val hi = abs.indexOf('#', qi)
          val end = if (hi < 0) abs.length else hi
          val kept = abs.substring(qi + 1, end).split("&").filter { kv =>
            kv.nonEmpty && {
              val e = kv.indexOf('=')
              !drop.contains(if (e < 0) kv else kv.substring(0, e))
            }
          }
          val frag = if (hi < 0) "" else abs.substring(hi)
          val rewritten =
            if (kept.isEmpty) abs.substring(0, qi) + frag
            else abs.substring(0, qi) + "?" + kept.mkString("&") + frag
          f.copy(url = rewritten)
        }
      }
    }
}

/** Mirror frontier feedback: wraps any parser and drops follow-ups whose
  * target host a previous crawl's mirror mining judged a non-canonical
  * copy ([[graft.ops.Mirror.mirrorGroups]] → [[graft.ops.Mirror.skipHosts]]).
  * Page-level exact dedup cannot stop a mirror HOST — every mirror page
  * is a new URL, so the fetch happens before the content hash can kill
  * it; this prunes the whole host at link emission, before the
  * canonicalize → seen path. Prune the seed list with the same set. The
  * set is O(hosts) and rides the task closure like a broadcast dim. */
final case class MirrorSkippingParser(inner: PageParser,
    skipHosts: Set[String]) extends PageParser {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] =
    inner.followUps(doc, meta).filter { f =>
      val abs = graft.urls.UrlCanon.resolve(doc.doc_id, f.url)
      !skipHosts.contains(graft.urls.UrlCanon.hostOfOrSame(abs, ""))
    }
}

/** Trap frontier feedback: wraps any parser and drops follow-ups whose
  * (target host, digit-collapsed path template) a previous crawl judged a
  * low-novelty trap family ([[graft.ops.Traps.templateStats]] →
  * [[graft.ops.Traps.trapMap]]). The engine's per-host admission budget
  * caps trap damage blindly (and throttles the GOOD pages with it); this
  * stops admitting the offending template specifically, keeping the rest
  * of the host crawlable. Template derivation is the single-pass
  * regex-free [[graft.ops.Traps.templateOf]] — it must agree with the
  * miner's scan-stage projection, which TrapsSpec pins. The map is
  * O(hosts·templates) and rides the task closure like a broadcast dim. */
final case class TrapSkippingParser(inner: PageParser,
    trapTemplates: Map[String, Set[String]]) extends PageParser {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] =
    inner.followUps(doc, meta).filter { f =>
      val abs = graft.urls.UrlCanon.resolve(doc.doc_id, f.url)
      trapTemplates.get(graft.urls.UrlCanon.hostOfOrSame(abs, "")) match {
        case Some(ts) => !ts.contains(graft.ops.Traps.templateOf(abs))
        case None => true
      }
    }
}

/** URL-quality frontier gate: wraps any parser and drops follow-ups
  * whose URL violates a [[graft.ops.UrlFilter.Config]] (host blocklist,
  * weighted spam-keyword score, structural heuristics — RefinedWeb §3.1
  * runs exactly this BEFORE fetching). Page-level quality gates
  * ([[graft.ops.Curation]]) only fire after the wasted fetch; this stops
  * the URL at link emission, before the canonicalize → seen path. The
  * verdict is the row-local twin [[graft.ops.UrlFilter.verdictOf]] —
  * UrlFilterSpec pins it ≡ the column plane — and the config rides the
  * task closure like a broadcast dim (O(keywords + hosts)). Apply the
  * same gate to the seed list. */
final case class UrlFilterSkippingParser(inner: PageParser,
    cfg: graft.ops.UrlFilter.Config) extends PageParser {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] =
    inner.followUps(doc, meta).filter { f =>
      graft.ops.UrlFilter.verdictOf(
        graft.urls.UrlCanon.resolve(doc.doc_id, f.url), cfg) == "ok"
    }
}

final case class CrawlConfig(
    checkpointDir: String,
    hostBuckets: Int = 64,
    // the frontier's PARTITION count, not its task count: it sets the
    // bucket → partition map, the state and pending partitions, the
    // checkpoint and fetched part files, and one lineage row per partition
    // per wave. Each scalable loop job runs in min(fetchPartitions,
    // defaultParallelism) tasks, each running whole partitions in turn.
    fetchPartitions: Int = 32,
    politenessRps: Double = 1.0, // per host (reference: 1 rps GLOBAL; cross-host parallelism is the whole point)
    maxPerHostPerWave: Int = 256, // politeness budget per wave per host (Int.MaxValue = uncapped fast path)
    realtime: Boolean = false, // actually sleep between same-host fetches
    // replay Scrapy's sequential LIFO order exactly: one Spark task per
    // checkpoint interval pops, fetches and dedups one request at a time
    // at one global `politenessRps` (Scrapy's DOWNLOAD_DELAY)
    referenceOrder: Boolean = false,
    robotsEnabled: Boolean = false, // reference: ROBOTSTXT_OBEY = False (settings.py:20)
    robotsDisallow: Map[String, Seq[String]] = Map.empty, // host -> path prefixes
    // S12 at depth — robots for hosts DISCOVERED mid-crawl: a driver-side
    // callback (new ORIGINS like "https://site.example.jp:8080" → gate-key
    // host → policy, e.g. `os => Robots.fetchPoliciesForOrigins(fetcher,
    // os)`) invoked at the wave boundary for hosts making their first
    // frontier appearance, BEFORE any page of theirs is fetched
    // (real-crawler semantics: robots.txt resolves ahead of page one).
    // Origins carry the scheme+port the host was actually discovered
    // under, so non-default-port / http-only hosts fetch the right
    // robots.txt. Resolved Disallow prefixes UNION into `robotsDisallow`
    // for both the fetch-time gate and subsequent candidate emission; a
    // Crawl-delay (clamped to `maxRobotsDelaySec`) only ever SLOWS a host
    // below its configured pace. None = static maps only (the seed-host
    // workflow); ignored when robotsEnabled = false.
    robotsResolve: Option[Seq[String] => Map[String, graft.fetch.RobotsPolicy]] = None,
    // the per-host politeness override (host → requests/sec): a (host:
    // string, rps: double) DataFrame, e.g. graft.ops.Throttle.rpsTable of
    // an adaptive-delay table, or seed-host robots Crawl-delays as
    // 1/delay. It goes into the run's side plane, bucket-partitioned ONCE
    // with the frontier's own partitioner, and each wave stamps each
    // pending row's rate per partition (zipPartitions — no shuffle, no
    // driver map, no fat task closure: each task ever sees only ITS
    // buckets' hosts). Two rows for one host resolve to the slower rate.
    // Hosts absent here pace at `politenessRps`; robots Crawl-delays
    // discovered mid-crawl min-compose on top (see WaveCore.hostRps).
    // None = no stamping.
    hostRpsTable: Option[DataFrame] = None,
    // upper clamp on a robots Crawl-delay (seconds). Hosts in a partition
    // fetch sequentially, so an unclamped hostile "Crawl-delay: 86400"
    // would stall the partition — and with it the wave barrier — for a
    // day. Real crawlers cap robots delay similarly. The clamp bounds the
    // PER-FETCH delay; `maxHostWaveStallSec` bounds delay × rows-per-wave,
    // which is the quantity that actually stalls the barrier.
    maxRobotsDelaySec: Double = 300.0,
    // realtime-mode bound on ONE host's sequential sleep time within one
    // wave: a host paced below the global rps (robots Crawl-delay) gets a
    // per-wave row budget of ~maxHostWaveStallSec × its rps even when
    // `maxPerHostPerWave` is uncapped — otherwise a 300 s-delay host with
    // 1000 pending rows would hold the wave barrier ~83 hours (the
    // overflow simply defers to later waves, same as the normal budget)
    maxHostWaveStallSec: Double = 600.0,
    maxWaves: Int = 10000,
    maxUrls: Long = Long.MaxValue,
    // per-host crawl budget (trap guard): cap on URLs ever ADMITTED to
    // the frontier per host. Crawler traps — calendar pages, faceted
    // search, session-id link mills — generate unbounded novel URLs under
    // ONE host; at 10^10-frontier scale one trap host otherwise starves
    // the crawl (the reference never hits this: its hand-picked seed
    // domains are finite by construction). Admission order is the
    // deterministic (parent_seq, emission_idx) candidate order, so the
    // surviving set is parallelism- and resume-invariant. URLs refused by
    // the budget are still MARKED SEEN (a rediscovery never re-shuffles
    // them); they are dropped knowingly, like the dedup skew caps.
    // Long.MaxValue = uncapped fast path (no per-host counting at all).
    maxPagesPerHost: Long = Long.MaxValue,
    // S11 — fetch cache: point at a prior run's `fetched` dir to reuse
    // still-fresh pages instead of re-fetching (reference: filesystem HTTP
    // cache with 600 s TTL, /root/reference/crawler/settings.py:84-86).
    // Its 2xx rows stored within `cacheTtlSec` (wall clock) go into the
    // run's side plane, bucket-partitioned once; two copies of one URL
    // resolve to the latest (wave, seq) (see PriorCopy.newerThan).
    fetchCacheDir: Option[String] = None,
    cacheTtlSec: Long = 600,
    // S14 — HTTP revalidation: point at a prior run's `fetched` dir and
    // every frontier row whose (url_hash, canonical) that run fetched
    // successfully carries the stored SpanHash validator into the fetch —
    // the fetcher sends a conditional request and unchanged pages come
    // back as body-less 304 rows (resolve them against the prior corpus
    // with graft.ops.Revalidate.resolve). This is the DISTRIBUTIVE
    // validator path for refresh crawls too big to seed with per-URL meta
    // (Sources.revalidatingSeeds): the validators are one O(urls)
    // fixed-width part of the run's side plane (hash of spans, never
    // spans; latest (wave, seq) copy wins), bucket-partitioned once and
    // looked up per fetch partition. Composes with the S11 cache: cache hits skip
    // the network entirely; only cache MISSES revalidate. Differs from
    // S11 in contract: the cache trusts a TTL and never contacts the
    // host; revalidation always contacts the host (politeness slot and
    // all) but ships no body when nothing changed.
    revalidateFrom: Option[String] = None,
    // compact the seen changelog when more than this many flush dirs are
    // live: resume reads O(compactSeenAfter) dirs instead of one per
    // checkpoint ever taken (10^10-URL design point: thousands of tiny
    // parquet dirs otherwise). Compaction cost is O(seen) every ~K
    // checkpoints — amortized O(seen/K) per wave.
    compactSeenAfter: Int = 16,
    keepFetched: Boolean = true, // write fetched docs table (off for pure-throughput bench)
    // interleaved media plane: when set (and keepFetched), each wave's
    // successful media fetches are ingested into the content-addressed
    // store at this root (blobs CAS'd by md5(bytes), refs by canonical URL
    // — graft.sinks.MediaStore). None = media rows still land in the
    // fetched table; ingestion can run post-hoc via MediaStore.ingestWave.
    mediaStoreDir: Option[String] = None,
    checkpointEvery: Int = 1, // durable checkpoint cadence in waves (always at loop exit)
    // ignored by the engine: no crawl path has a cuckoo filter (the exact
    // seen set is the only URL-seen state); kept so callers that set it
    // still compile
    filterCapacityPerBucket: Int = 1 << 16)

final case class CrawlRunResult(
    waves: Int,
    fetched: Long,
    deduped: Long,
    seen: Long,
    elapsedMs: Long) {
  def urlsPerSec: Double = (fetched + deduped) * 1000.0 / math.max(1, elapsedMs)
}

/** Intermediate: a follow-up candidate before dedup. `weight` counts the
  * emitted copies a map-side-combined row represents (the dedup metric
  * stays exact through the combiner).
  *
  * Shuffle-byte discipline: this row rides the wave's ONE shuffle, so it
  * ships no derivable bytes — `host` is NOT carried (the reduce side
  * re-derives it from `canonical` via the same zero-alloc parse the map
  * side used), and `url` is null whenever it equals `canonical` (the
  * dominant case: clean links canonicalize to themselves). On the bench
  * crawl the three near-identical strings per row were most of the
  * shuffle payload. */
final case class Candidate(
    url: String, // null ⇔ identical to `canonical`
    canonical: String,
    url_hash: Long,
    host_bucket: Int,
    parse_fn: String,
    meta: Map[String, String],
    priority: Int,
    parent_seq: Long,
    emission_idx: Int,
    weight: Long = 1L) {
  def urlOrCanonical: String = if (url == null) canonical else url
}

/**
 * Per-bucket URL-seen state. Membership is the exact 128-bit set
 * ([[graft.seen.SeenSet128]]) alone, which makes dedup
 * collision-proof — a 64-bit key alone would drop a distinct URL on a
 * collision (~3 expected at the 10^10-URL design scale by the birthday
 * bound); the (seed-42, seed-7919) xxhash64 pair pushes that to ~10^-19
 * (Scrapy's SHA1 fingerprint, same idea). Everything is primitive
 * arrays: no per-entry heap nodes, so GC and Spark's SizeEstimator cost
 * O(1) per bucket instead of O(seen) — the round-1 persistent-HashMap
 * state put millions of nodes in the old generation and its stop-the-world
 * GC was the measured Amdahl term that capped frontier scaling.
 *
 * `log` is the bucket's append-only (url_hash, canonical) record as a
 * list of immutable per-wave [[graft.seen.SeenChunk]]s (newest first):
 * a wave APPENDS one packed chunk and shares the rest by reference —
 * O(novel) per wave, not the round-2 O(total seen) full-array copy —
 * and the durable seen-table flush writes only chunks newer than the
 * last flush (a changelog: O(novel since flush), never O(seen)).
 *
 * `pace` (realtime politeness continuity) maps hostHash → the host's
 * next-allowed fetch time in epoch ms, fed by per-host pace marks
 * emitted at the end of each wave's parse stage — so the first fetch of
 * wave W+1 on a host still honors 1/rps spacing from the host's LAST
 * fetch of wave W (the reference's global 1 rps can never violate this;
 * per-wave slot resets could). Keyed by hash, not String: a collision
 * merely couples two hosts' pacing (strictly more polite, never less).
 * Empty in simulated mode — the bench path carries no pace state.
 *
 * `hostN` (per-host crawl budget / trap guard) maps hostHash → URLs
 * ADMITTED to the frontier for that host so far. Maintained only when
 * `maxPagesPerHost` is finite (the default uncapped config never touches
 * it — zero cost on the bench path). All of a host's candidates land in
 * its one bucket (host-bucket co-location), so a per-bucket count is
 * globally exact with no extra shuffle. Keyed by hash like `pace`: a
 * collision couples two hosts' budgets (strictly more conservative).
 *
 * At 10^10-URL scale one bucket holds |seen|/hostBuckets entries; the
 * state lives partitioned across executors (never on the driver, never
 * broadcast). The set is resident in primitive arrays, so a pre-filter in
 * front of it would save no I/O: every probe goes straight to the exact
 * set.
 */
private[engine] final case class BucketSeen(
    bucket: Int,
    seen: graft.seen.SeenSet128,
    log: List[graft.seen.SeenChunk],
    count: Long,
    pace: Map[Long, Long] = Map.empty,
    hostN: Map[Long, Long] = Map.empty)

/** One bucket's wave output: advanced state + novel rows (with assigned
  * seq) + the bucket's exact candidate count (for exact dedup metrics) +
  * the bucket's fetch counts (rows in, 2xx, >= 400) summed from the wave's
  * lineage marks, which its fetch partition's lineage row adds up. */
private[engine] final case class BucketWave(
    state: BucketSeen,
    novel: Array[UrlRecord],
    nCandidates: Long,
    nIn: Long = 0L, nOk: Long = 0L, nErr: Long = 0L)

/** The reference-order replay's state at a checkpoint, in the scalable
  * path's own types: every bucket's seen state (`seen(b)` is bucket b) and
  * the queued requests. An interval's output also carries one lineage row
  * per pop, for the driver's lineage write. */
private[engine] final case class RefState(
    seen: Array[BucketSeen],
    queued: Array[UrlRecord],
    nextSeq: Long,
    lineage: Array[PlaneWriter.LineageRow] = Array.empty)

/** A per-wave checkpoint dir kind: `<parent>/<prefix><N>` under the
  * checkpoint root, committed by the checkpoint at wave N + `lag`. A
  * `snapshot` plane holds the whole state at N, so a newer commit makes it
  * obsolete; the changelogs (seen flushes and compacts, fetched pages,
  * lineage rows) stay until a compaction covers them, or for good. */
private[engine] final case class WaveDirKind(parent: String, prefix: String, lag: Int,
    snapshot: Boolean)

/** A per-host checkpoint row read back by resume: a `pace_w*` row (`pace`)
  * or a `hostn_w*` row, for the host hashed to `hostHash`. */
private[engine] final case class HostMark(pace: Boolean, hostHash: Long, value: Long)

/**
 * Partition-level pure functions of the scalable core. Static (no
 * reference to the engine instance) so task closures never capture the
 * SparkSession-holding WaveEngine.
 */
private[engine] object WaveCore {

  /** Row-level candidate emission: absolutize + canonicalize + robots gate
    * (E2, S9, S12). */
  def candidateIter(
      fr: FetchResult,
      parserMap: Map[String, PageParser],
      buckets: Int,
      robotsEnabled: Boolean,
      robots: Map[String, Seq[String]]): Iterator[Candidate] = {
    if (!fr.ok) Iterator.empty
    else {
      val parser = parserMap.getOrElse(fr.parse_fn, FollowAllLinks)
      // the engine's own stamps (a row's table rate, its revalidation
      // validator) describe THIS url: a parser that copies meta onto its
      // follow-ups must not hand them to other urls or hosts
      val meta = if (fr.meta.isEmpty) fr.meta else fr.meta - RpsKey - Sources.IfHashKey
      // relative hrefs resolve against the page that actually SERVED the
      // document — after a redirect that is the final response URI, which
      // URL-parsing fetchers record as doc_id (Scrapy's response.url);
      // corpus fetchers use opaque doc ids, so fall back to the request URL
      val base =
        if (fr.doc_id != null && fr.doc_id.startsWith("http")) fr.doc_id else fr.url
      // host→bucket memo: a page's links are mostly same-host, and the
      // bucket hash of the one repeated host string is the same value
      var lastHost: String = null
      var lastBucket = 0
      parser.followUps(fr.document, meta).iterator.zipWithIndex.flatMap { case (f, idx) =>
        val abs = UrlCanon.resolve(base, f.url)
        val canon = UrlCanon.canonicalize(abs)
        // reference-identical when the host repeats (the common case) —
        // no substring allocated, and `ne` skips the re-bucketing
        val host = UrlCanon.hostOfOrSame(canon, lastHost)
        val allowed = !robotsEnabled || !robots.getOrElse(host, Nil).exists(p =>
          UrlCanon.parse(canon).path.startsWith(p))
        if (!allowed) Iterator.empty
        else {
          if (host ne lastHost) {
            lastHost = host
            lastBucket = UrlCanon.hostBucket(host, buckets)
          }
          Iterator.single(Candidate(
            url = if (abs == canon) null else abs,
            canonical = canon, url_hash = UrlCanon.urlHash(canon),
            host_bucket = lastBucket,
            parse_fn = f.parse_fn, meta = f.meta, priority = f.priority,
            parent_seq = fr.seq, emission_idx = idx))
        }
      }
    }
  }

  /** Map-side combine of the candidate shuffle (the classic combiner
    * before a shuffled aggregation): duplicate discoveries of one URL
    * within a map partition — above all the per-page back-links every
    * real site emits — collapse BEFORE the shuffle into one row carrying
    * the first discovery (min (parent_seq, emission_idx), the order the
    * authoritative dedup uses) and the emitted-copy count, so the dedup
    * metric stays exact. Same-host pages share a map partition (pending
    * is bucket-partitioned), so within-host duplicate links — the
    * dominant duplicate class — collapse here: the bench crawl's shuffle
    * drops from 6.2M to ~2M rows. Partial combining is always sound
    * (first-discovery is a min over a total order; advancePartition
    * re-dedups), so the live map is capped at `maxEntries` keys and
    * flushed wholesale when full — memory bounded at any wave size. */
  def combineCandidates(it: Iterator[Candidate],
      maxEntries: Int = 1 << 20): Iterator[Candidate] = {
    val m = new java.util.HashMap[String, Candidate]()
    val batches = new Iterator[Iterator[Candidate]] {
      private var done = false
      def hasNext: Boolean = !done
      def next(): Iterator[Candidate] = {
        while (it.hasNext && m.size < maxEntries) {
          val c = it.next()
          val prev = m.get(c.canonical)
          if (prev == null) m.put(c.canonical, c)
          else {
            val first =
              if (c.parent_seq < prev.parent_seq ||
                (c.parent_seq == prev.parent_seq && c.emission_idx < prev.emission_idx)) c
              else prev
            m.put(c.canonical, first.copy(weight = prev.weight + c.weight))
          }
        }
        if (!it.hasNext) done = true
        val out = new Array[Candidate](m.size)
        val e = m.values().iterator()
        var i = 0
        while (e.hasNext) { out(i) = e.next(); i += 1 }
        m.clear()
        out.iterator
      }
    }
    batches.flatten
  }

  /** The map side of a wave's one shuffle, for one fetch partition's
    * fetched rows (live fetches and cache hits alike): parse them into
    * candidates, combine those ([[combineCandidates]]), and append, after
    * the candidates, one [[paceMark]] per host in realtime mode (the
    * host's last fetch + 1/[[hostRps]]) and one [[lineageMark]] per host
    * bucket the rows came from, carrying its exact (in, 2xx, >= 400)
    * fetch counts. The marks ride the shuffle to the bucket's reduce
    * task, so a retried map task's marks replace its earlier ones and the
    * wave's lineage counts each fetched row exactly once. */
  def waveCandidates(it: Iterator[FetchResult], parserMap: Map[String, PageParser], buckets: Int,
      robotsEnabled: Boolean, robots: Map[String, Seq[String]], realtime: Boolean, rps: Double,
      robotsRps: Map[String, Double]): Iterator[(Int, Candidate)] = {
    val counts = new java.util.HashMap[Int, Array[Long]]() // bucket → (in, ok, err)
    // realtime: host → (bucket, last fetch ms, the row's meta, which
    // carries its stamped table rate, so a mark needs no host→rate map)
    val lastMs =
      if (realtime) new java.util.HashMap[String, (Int, Long, Map[String, String])]() else null
    val cands = combineCandidates(it.flatMap { fr =>
      val n = counts.computeIfAbsent(fr.host_bucket, _ => new Array[Long](3))
      n(0) += 1
      if (fr.ok) n(1) += 1
      if (fr.status >= 400) n(2) += 1
      if (realtime) {
        val prev = lastMs.get(fr.host)
        if (prev == null || prev._2 < fr.fetched_at_ms)
          lastMs.put(fr.host, (fr.host_bucket, fr.fetched_at_ms, fr.meta))
      }
      candidateIter(fr, parserMap, buckets, robotsEnabled, robots)
    }).map(c => (c.host_bucket, c))
    // ++ is by-name: the marks build AFTER the candidates are exhausted
    cands ++ {
      val pace =
        if (lastMs == null) Iterator.empty
        else lastMs.entrySet().iterator().asScala.map { e =>
          val (b, ms, meta) = e.getValue
          val hostMs = math.round(1000.0 / hostRps(meta, e.getKey, rps, robotsRps))
          (b, paceMark(e.getKey, b, ms + hostMs))
        }
      pace ++ counts.entrySet().iterator().asScala.map { e =>
        val c = e.getValue
        (e.getKey: Int, lineageMark(e.getKey, c(0), c(1), c(2)))
      }
    }
  }

  /** Per-partition politeness + fetch: per host, slots in (priority desc,
    * seq) order, paced at [[hostRps]] of the host's first row — its
    * stamped table rate or `rps`, slowed by any robots Crawl-delay in
    * `robotsRps`. In realtime mode the pace is
    * enforced with actual sleeps against the wall clock and
    * `fetched_at_ms` records the true fetch time; in simulated mode the
    * planned timestamp is recorded (deterministic). `stored_at_ms` is
    * wall-clock in BOTH modes — it alone feeds the fetch-cache TTL (S11).
    * `pid` is the fetch partition's index, which `partition_id` carries:
    * the caller takes it from `mapPartitionsWithIndex`, because a task that
    * runs several fetch partitions (a coalesced wave) has one `TaskContext`
    * partition id. The lineage counts are not kept here: the parse stage
    * ([[waveCandidates]]) counts every fetched row, cache hits included. */
  def fetchIter(
      it: Iterator[UrlRecord],
      pid: Int,
      f: Fetcher,
      rps: Double,
      realtime: Boolean,
      fetchWave: Int,
      waveStartMs: Long,
      pace: Map[Long, Long] = Map.empty,
      robotsRps: Map[String, Double] = Map.empty): Iterator[FetchResult] = {
    // one comparator sort groups hosts AND orders each host's run by
    // (priority desc, seq) — replaces groupBy + per-host sortBy, which
    // allocated a map, per-host arrays, and a tuple key per row
    val rows = it.toArray
    java.util.Arrays.sort(rows, UrlRecordOrder)
    // STREAMING: each FetchResult (page body + spans) is born when the
    // downstream parse pulls it and is garbage right after — materializing
    // the partition's results up front kept 100s of MB live per task and
    // its survivor-copy cost dominated young-GC pauses (the measured
    // Amdahl term of frontier scaling)
    new Iterator[FetchResult] {
      private var i = 0
      private var slot = 0
      private var prevHost: String = null
      private var hostStartMs = waveStartMs
      private var hostMsPerFetch = 0.0
      private var lastFetchMs = Long.MinValue // actual start of this host's previous fetch

      def hasNext: Boolean = i < rows.length

      def next(): FetchResult = {
        val r = rows(i)
        if (r.host != prevHost) {
          slot = 0
          prevHost = r.host
          lastFetchMs = Long.MinValue
          // cross-wave politeness continuity: the host's first slot this
          // wave starts no earlier than its carried next-allowed time
          hostStartMs =
            if (pace.isEmpty) waveStartMs
            else math.max(waveStartMs, pace.getOrElse(UrlCanon.urlHash(r.host), 0L))
          hostMsPerFetch = 1000.0 / hostRps(r.meta, r.host, rps, robotsRps)
        }
        val plannedMs = hostStartMs + math.round(slot * hostMsPerFetch)
        val fetchedAt = if (realtime) {
          // pace against BOTH the planned slot and the host's actual
          // previous fetch: once the wall clock overruns the plan (a slow
          // server, or a Crawl-delay host sleeping ahead of this one in
          // the partition), every remaining plannedMs is in the past and
          // the plan alone would let the host's rows fire back-to-back at
          // response-latency rate — the actual-spacing bound keeps the
          // ≥ 1/rps same-host promise under overrun too
          val target =
            if (lastFetchMs == Long.MinValue) plannedMs
            else math.max(plannedMs, lastFetchMs + math.round(hostMsPerFetch))
          val now = System.currentTimeMillis()
          if (target > now) Thread.sleep(target - now)
          val t = System.currentTimeMillis() // the ACTUAL fetch time
          lastFetchMs = t
          t
        } else plannedMs
        val out = fetchOne(r, f, fetchWave, fetchedAt, slot, pid)
        slot += 1
        i += 1
        out
      }
    }
  }

  /** Fetch one frontier row, stamped `fetchedAt` by the caller's pacer. */
  def fetchOne(r: UrlRecord, f: Fetcher, fetchWave: Int, fetchedAt: Long, slot: Int,
      pid: Int): FetchResult = {
    // media rows route to the binary plane; both kinds consume a
    // politeness slot on their host (a media GET is a request like any
    // other — the reference's global 1 rps would pace it identically)
    val (status, doc, mediaType, mediaBytes) =
      if (r.parse_fn == MediaFn) {
        val (st, blob) = f.fetchMedia(r.url)
        (st, None: Option[Document],
          blob.map(_.content_type).orNull, blob.map(_.bytes).orNull)
      } else {
        // S14 revalidation: a frontier row carrying a validator (stamped
        // by Sources.revalidatingSeeds from the Revalidate plan) fetches
        // conditionally — unchanged content comes back as a body-less
        // 304 row (the HTTP If-None-Match contract). The meta.isEmpty
        // fast path keeps the bench's hot loop allocation- and
        // lookup-free: ordinary crawl rows carry no meta at all.
        val (st, d) =
          if (r.meta.isEmpty) f.fetch(r.url)
          else r.meta.get(Sources.IfHashKey) match {
            case Some(h) => f.fetchConditional(r.url, java.lang.Long.parseLong(h))
            case None => f.fetch(r.url)
          }
        (st, d, null, null)
      }
    // wall-clock store time in BOTH modes, stamped AFTER the fetch
    // returns: the S11 TTL predicate must never see a simulated
    // planned stamp (future-dated on any warm run), and in realtime
    // mode `stored_at_ms - fetched_at_ms` is the observed fetch
    // latency — the signal ops/Throttle.adaptiveHostDelays feeds on —
    // without a schema field or any cost on the simulated bench path
    val storedAt = System.currentTimeMillis()
    FetchResult(
      url = r.url, canonical = r.canonical, url_hash = r.url_hash,
      host = r.host, host_bucket = r.host_bucket, parse_fn = r.parse_fn,
      meta = r.meta, wave = fetchWave, seq = r.seq, status = status,
      from_cache = false, fetched_at_ms = fetchedAt, stored_at_ms = storedAt, slot = slot,
      partition_id = pid,
      doc_id = doc.map(_.doc_id).getOrElse(r.canonical),
      spans = doc.map(_.spans).getOrElse(Nil),
      media_type = mediaType, media_bytes = mediaBytes)
  }

  private val UrlRecordOrder: java.util.Comparator[UrlRecord] =
    new java.util.Comparator[UrlRecord] with Serializable {
      def compare(a: UrlRecord, b: UrlRecord): Int = {
        val h = a.host.compareTo(b.host)
        if (h != 0) h
        else {
          val p = Integer.compare(b.priority, a.priority) // desc
          if (p != 0) p else java.lang.Long.compare(a.seq, b.seq)
        }
      }
    }

  /** Pace-mark pseudo-candidate marker (realtime politeness continuity):
    * `url_hash` carries the host hash, `parent_seq` the host's
    * next-allowed fetch ms. One per (host, wave) — never enters dedup. */
  val PaceFn = "__pace__"

  /** Meta key carrying a row's base rps from `CrawlConfig.hostRpsTable`:
    * stamped per partition from the run's bucket-co-located side plane, so
    * the rate rides the ROW through every downstream path (budget
    * selection, deferred unions, cache misses) and no task closure ever
    * holds a host→rate map. Read only by [[hostRps]]; stripped before a parser
    * sees the meta. */
  val RpsKey = "__rps__"

  /** The one per-host rate rule: the slower of the host's base rate — the
    * row's stamped [[RpsKey]] rate, or `rps` (`politenessRps`) when it
    * carries none — and its robots Crawl-delay rate in `robotsRps`
    * (+∞ when it has none), so robots can only ever slow a host. Fetch
    * pacing, the realtime stall budget, the pace marks and the robots
    * hook all go through it. Allocation-free when `meta` and `robotsRps`
    * are empty (the bench crawl). */
  def hostRps(meta: Map[String, String], host: String, rps: Double,
      robotsRps: Map[String, Double]): Double = {
    val stamp = if (meta.isEmpty) null else meta.getOrElse(RpsKey, null)
    val base = if (stamp == null) rps else java.lang.Double.parseDouble(stamp)
    if (robotsRps.isEmpty) base
    else math.min(base, robotsRps.getOrElse(host, Double.PositiveInfinity))
  }

  /** parse_fn tag routing a frontier row to [[Fetcher.fetchMedia]] (binary
    * plane). Media rows emit no follow-ups (the engine registers NoFollow
    * for this tag unless the caller overrode it). */
  val MediaFn: String = graft.model.SpanKind.Media

  def paceMark(host: String, bucket: Int, nextAllowedMs: Long): Candidate =
    Candidate(url = null, canonical = "", url_hash = UrlCanon.urlHash(host),
      host_bucket = bucket, parse_fn = PaceFn,
      meta = Map.empty, priority = 0, parent_seq = nextAllowedMs, emission_idx = 0)

  /** Lineage-mark pseudo-candidate marker: one fetch partition's counts for
    * one bucket — `parent_seq` carries the rows fetched, `weight` the 2xx
    * rows, `url_hash` the rows with status >= 400. One per (map partition,
    * bucket) — never enters dedup. */
  val LineageFn = "__lineage__"

  def lineageMark(bucket: Int, nIn: Long, nOk: Long, nErr: Long): Candidate =
    Candidate(url = null, canonical = "", url_hash = nErr, host_bucket = bucket,
      parse_fn = LineageFn, meta = Map.empty, priority = 0, parent_seq = nIn,
      emission_idx = 0, weight = nOk)

  /** Advance every bucket of one partition through one wave: sort the
    * bucket's candidates into discovery order, drop within-wave duplicates
    * and already-seen URLs, assign interleaved seqs (base + rank·B +
    * bucket — globally unique, per-host discovery order, independent of
    * parallelism), and add the novel keys to a fresh copy of the bucket's
    * exact seen set (the log chunks are shared by reference). Pace marks
    * fold into the state and lineage marks into the bucket's fetch counts
    * before the sort; neither counts as a candidate. Pure function of
    * (state, candidates): the input state is never mutated, so a retried
    * task recomputes the same wave. */
  def advancePartition(
      states: Iterator[(Int, BucketSeen)],
      cands: Iterator[(Int, Candidate)],
      base: Long,
      newWave: Int,
      seedWave: Boolean,
      nBuckets: Long,
      maxPerHost: Long = Long.MaxValue): Iterator[(Int, BucketWave)] = {
    val byBucket = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Candidate]]()
    val paceByBucket = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[Candidate]]()
    val lineageByBucket = new java.util.HashMap[Int, Array[Long]]()
    cands.foreach { case (b, c) =>
      if (c.parse_fn == LineageFn) {
        val n = lineageByBucket.computeIfAbsent(b, _ => new Array[Long](3))
        n(0) += c.parent_seq; n(1) += c.weight; n(2) += c.url_hash
      } else {
        val m = if (c.parse_fn == PaceFn) paceByBucket else byBucket
        m.computeIfAbsent(b, _ => scala.collection.mutable.ArrayBuffer.empty[Candidate]) += c
      }
    }
    states.map { case (b, st0) =>
      // fold pace marks first (independent of candidate novelty)
      val paceRows = paceByBucket.get(b)
      val st =
        if (paceRows == null) st0
        else st0.copy(pace = st0.pace ++ paceRows.iterator.map(c =>
          c.url_hash -> math.max(st0.pace.getOrElse(c.url_hash, 0L), c.parent_seq)))
      val n = lineageByBucket.getOrDefault(b, NoFetches)
      val raw = byBucket.get(b)
      if (raw == null) {
        (b, BucketWave(st, Array.empty, 0L, n(0), n(1), n(2)))
      } else {
        val sorted = raw.toArray
        // comparator sort: sortBy would allocate a tuple key per candidate
        java.util.Arrays.sort(sorted, CandidateOrder)
        val novel = scala.collection.mutable.ArrayBuffer[Candidate]()
        val seen = st.seen.copy() // copy-on-write (flat array clone)
        var emittedW = 0L // exact emitted count (weights survive the combiner)
        // per-host budget (trap guard): active only for a finite cap. A
        // refused URL is marked seen AND logged to the changelog chunk
        // (else a resume would rebuild a seen set without it and re-admit
        // what the live run refused — breaking resume-equivalence).
        val budgeted = maxPerHost != Long.MaxValue
        val hostCounts =
          if (!budgeted) null
          else {
            val m = new java.util.HashMap[Long, Long](st.hostN.size * 2 + 16)
            st.hostN.foreach { case (k, v) => m.put(k, v) }
            m
          }
        val refused =
          if (!budgeted) null
          else scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        var budgetHost: String = null // memo for the admit-time host derivation
        sorted.foreach { c =>
          emittedW += c.weight
          val h2 = UrlCanon.urlHash2(c.canonical)
          // evolving copy: the same probe handles within-wave dups and
          // the prior seen set in one pass
          if (!seen.contains(c.url_hash, h2)) {
            seen.add(c.url_hash, h2)
            if (!budgeted) {
              novel += c
            } else {
              budgetHost = UrlCanon.hostOfOrSame(c.canonical, budgetHost)
              val hh = UrlCanon.urlHash(budgetHost)
              val n = hostCounts.getOrDefault(hh, 0L)
              if (n < maxPerHost) {
                hostCounts.put(hh, n + 1L)
                novel += c
              } else {
                refused += ((c.url_hash, c.canonical))
              }
            }
          }
        }
        val nn = novel.length
        val nd = if (refused == null) 0 else refused.length
        val hashes = new Array[Long](nn + nd)
        val canons = new Array[String](nn + nd)
        val recs = new Array[UrlRecord](nn)
        var r = 0
        // host is re-derived here, not shipped through the shuffle; the
        // memo makes same-host runs (the dominant pattern within a
        // bucket) reuse one String instance like the map side did
        var lastHost: String = null
        while (r < nn) {
          val c = novel(r)
          hashes(r) = c.url_hash
          canons(r) = c.canonical
          lastHost = UrlCanon.hostOfOrSame(c.canonical, lastHost)
          recs(r) = UrlRecord(c.urlOrCanonical, c.canonical, c.url_hash, lastHost,
            c.host_bucket,
            c.parse_fn, c.meta, c.priority, is_seed = seedWave, wave = newWave,
            seq = base + r.toLong * nBuckets + b)
          r += 1
        }
        // budget-refused URLs ride the same chunk (durable seen marks)
        var d = 0
        while (d < nd) {
          val (h, cn) = refused(d)
          hashes(nn + d) = h
          canons(nn + d) = cn
          d += 1
        }
        // append ONE packed chunk; prior chunks shared by reference —
        // O(novel) per wave, and the SER persist re-serializes only
        // primitive arrays (no per-URL String objects)
        val log =
          if (nn + nd == 0) st.log
          else graft.seen.SeenChunk.pack(newWave, hashes, canons) :: st.log
        val hostN =
          if (!budgeted) st.hostN
          else {
            val bld = Map.newBuilder[Long, Long]
            hostCounts.forEach((k, v) => bld += (k -> v))
            bld.result()
          }
        (b, BucketWave(BucketSeen(b, seen, log, st.count + nn + nd, st.pace, hostN),
          recs, emittedW, n(0), n(1), n(2)))
      }
    }
  }

  /** The fetch counts of a bucket no lineage mark reached (never written). */
  private val NoFetches = new Array[Long](3)

  private val CandidateOrder: java.util.Comparator[Candidate] =
    new java.util.Comparator[Candidate] with Serializable {
      def compare(a: Candidate, b: Candidate): Int = {
        val c = java.lang.Long.compare(a.parent_seq, b.parent_seq)
        if (c != 0) c else Integer.compare(a.emission_idx, b.emission_idx)
      }
    }

  /** A bucket's state before its first mark. */
  def emptyState(b: Int): BucketSeen = BucketSeen(b, new graft.seen.SeenSet128(16), Nil, 0L)

  /** Rebuild one partition's plane from its checkpoint rows (resume): a
    * state for each of its `buckets`, then its pending rows, the mix
    * [[PlaneWriter.checkpointTask]] writes. A bucket's seen marks (`(url
    * hash, canonical)` rows) are packed into ONE chunk tagged
    * `resumedWave`: they are already durable (read from flush dirs ≤
    * resumedWave), so later changelog flushes — which write only chunks
    * with wave > the last flushed wave — never rewrite them. Its
    * [[HostMark]]s max-merge into its pace map (realtime politeness
    * continuity across a resume) and admission counts (crawl-budget
    * continuity: without them a resumed crawl would restart every host's
    * budget from zero), like the in-run folds. */
  def rebuildPartition(buckets: Seq[Int], rows: Iterator[(Int, AnyRef)],
      resumedWave: Int): Iterator[(Int, AnyRef)] = {
    import scala.collection.mutable.ArrayBuffer
    val marks = new java.util.HashMap[Int, ArrayBuffer[(Long, String)]]()
    val pace = new java.util.HashMap[Int, Map[Long, Long]]()
    val hostN = new java.util.HashMap[Int, Map[Long, Long]]()
    val pending = ArrayBuffer.empty[(Int, AnyRef)]
    rows.foreach {
      case (b, (h: Long, c: String)) =>
        marks.computeIfAbsent(b, _ => ArrayBuffer.empty[(Long, String)]) += ((h, c))
      case (b, HostMark(isPace, h, v)) => (if (isPace) pace else hostN)
        .merge(b, Map(h -> v), (m, _) => m.updated(h, math.max(m.getOrElse(h, 0L), v)))
      case r => pending += r
    }
    buckets.iterator.map { b =>
      val empty = emptyState(b).copy(pace = pace.getOrDefault(b, Map.empty),
        hostN = hostN.getOrDefault(b, Map.empty))
      val rs = marks.get(b)
      if (rs == null) (b, empty)
      else {
        val seen = new graft.seen.SeenSet128(rs.size)
        val marked = rs.filter { case (h, c) => seen.add(h, UrlCanon.urlHash2(c)) } // in order, once
        val chunk = graft.seen.SeenChunk.pack(resumedWave, marked.map(_._1).toArray,
          marked.map(_._2).toArray)
        (b, empty.copy(seen = seen, log = chunk :: Nil, count = marked.length.toLong))
      }
    } ++ pending.iterator
  }

  /** One checkpoint interval of the reference-order replay: Scrapy's
    * sequential loop (CONCURRENT_REQUESTS = 1) from pop `startWave` until
    * pop `endWave`, `maxPops` pops or an empty queue. Each pop takes the
    * next request in [[RefPopOrder]], dropping a start request whose
    * fingerprint is already seen (start requests are fingerprinted when
    * consumed); fetches it as wave = pop index, stamped `t0 + wave ·
    * spacing` in simulated mode, or after sleeping until `spacing` ms past
    * the previous fetch in realtime mode (Scrapy's global DOWNLOAD_DELAY;
    * the seen states' pace maps carry that time between intervals); and
    * marks each novel follow-up seen as it queues it. A pure function of
    * `in`: the seen sets are copied once per interval and the input is
    * never mutated, so a retried task redoes the same pops. The interval's
    * marks form one chunk per bucket, tagged with the interval's last
    * wave. With `fetchedDir`, each page is written as it is fetched to the
    * dir's one part file, which a retried task replaces. */
  def referenceInterval(in: RefState, f: Fetcher, parsers: Map[String, PageParser],
      robotsEnabled: Boolean, robots: Map[String, Seq[String]], rps: Double,
      realtime: Boolean, t0: Long, startWave: Int, endWave: Int, maxPops: Long,
      fetchedDir: Option[String]): RefState = {
    val spacingMs = math.round(1000.0 / rps)
    val pid = TaskContext.getPartitionId()
    val queue = scala.collection.mutable.PriorityQueue.from(in.queued)(RefPopOrder)
    val seen = in.seen.map(st => st.copy(seen = st.seen.copy()))
    val marks = Array.fill(seen.length)(scala.collection.mutable.ArrayBuffer.empty[(Long, String)])
    def mark(b: Int, h: Long, canon: String): Boolean =
      seen(b).seen.add(h, UrlCanon.urlHash2(canon)) && { marks(b) += ((h, canon)); true }
    var nextFetchMs = in.seen.iterator.flatMap(_.pace.valuesIterator).maxOption.getOrElse(0L)
    var nextSeq = in.nextSeq
    val lineage = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Long, Long, Long)]
    val fetched = fetchedDir.map(PlaneWriter.taskPart(_, 0, PlaneWriter.fetchResultSchema))
    var wave = startWave
    while (wave < endWave && wave - startWave < maxPops && !queue.isEmpty) {
      val r = queue.dequeue()
      if (!r.is_seed || mark(r.host_bucket, r.url_hash, r.canonical)) {
        val fetchedAt =
          if (!realtime) t0 + wave * spacingMs
          else {
            var t = System.currentTimeMillis()
            while (t < nextFetchMs) { Thread.sleep(nextFetchMs - t); t = System.currentTimeMillis() }
            nextFetchMs = t + spacingMs
            val st = seen(r.host_bucket)
            seen(st.bucket) = st.copy(pace = st.pace.updated(UrlCanon.urlHash(r.host), nextFetchMs))
            t
          }
        val fr = fetchOne(r, f, wave, fetchedAt, 0, pid)
        val cands = candidateIter(fr, parsers, seen.length, robotsEnabled, robots).toArray
        val novel = cands.filter(c => mark(c.host_bucket, c.url_hash, c.canonical))
        for ((c, i) <- novel.zipWithIndex) queue.enqueue(UrlRecord(c.urlOrCanonical, c.canonical,
          c.url_hash, UrlCanon.hostOf(c.canonical), c.host_bucket, c.parse_fn, c.meta, c.priority,
          is_seed = false, wave = wave + 1, seq = nextSeq + i))
        nextSeq += novel.length
        fetched.foreach(_.write(fr))
        lineage += ((wave, pid, 1L, if (fr.ok) 1L else 0L, if (fr.status >= 400) 1L else 0L,
          (cands.length - novel.length).toLong, novel.length.toLong))
        wave += 1
      }
    }
    fetched.foreach(_.finish())
    val out = seen.zip(marks).map { case (st, m) =>
      if (m.isEmpty) st
      else st.copy(count = st.count + m.length, log =
        graft.seen.SeenChunk.pack(wave, m.map(_._1).toArray, m.map(_._2).toArray) :: st.log)
    }
    RefState(out, queue.toArray, nextSeq, lineage.toArray)
  }

  /** Scrapy's pop order, greatest first: queued follow-ups by priority,
    * then newest (highest seq) first (its LIFO queue); start requests only
    * when no follow-up is queued, in listed (seq) order. */
  private val RefPopOrder: Ordering[UrlRecord] = Ordering.by(r =>
    if (r.is_seed) (false, 0L, -r.seq) else (true, r.priority.toLong, r.seq))
}

/**
 * The wave-synchronous crawl engine (SURVEY.md §7, north rule).
 *
 * Replaces the reference's single-threaded Twisted reactor loop
 * (Scrapy scheduler + dupefilter + download-delay,
 * /root/reference/crawler/settings.py:23,28) with a partitioned Spark
 * frontier iterated in waves:
 *
 *   pending(bucket-partitioned) ─mapPartitions{politeness slots + fetch +
 *   parse}─► candidates ─partitionBy(host_bucket)─► zipPartitions(seen
 *   state) {within-wave dedup + exact seen check + seq assignment +
 *   seen-set add} ─► (new state, novel) = pending(wave+1)
 *
 * Dedup semantics = Scrapy's dupefilter: a URL is marked seen when
 * *enqueued* (never enqueued twice); the key is exact — (url_hash,
 * canonical) — so a 64-bit hash collision can neither drop nor duplicate
 * a URL.
 *
 * Scale design (10^10 frontier):
 *  - the seen set is a bucket-partitioned state RDD co-partitioned with
 *    the candidate shuffle: ONE shuffle per wave, sized by the wave (never
 *    by the accumulated seen set), zero driver collect, zero broadcast —
 *    the keyed-state-store layout Structured Streaming uses for
 *    mapGroupsWithState across micro-batches;
 *  - fine partitions keep hot hosts from straggling only while a task's
 *    fixed cost stays small next to its rows, so the loop carries no
 *    per-task set-up it can avoid: every loop job runs its partitions in
 *    at most one task per core (a narrow coalesce; a bulk wave's map side
 *    writes slots × fetchPartitions shuffle files, not fetchPartitions²),
 *    the candidate shuffle is written by the fixed [[CandidateSerializer]]
 *    codec (no per-task Kryo instances), and a checkpoint is ONE job
 *    whose tasks write every plane with [[PlaneWriter]], coalesced to one
 *    part file per 2^20 rows instead of one per fetch partition, and the
 *    fetched pages are written by the wave's own fetch tasks; every engine
 *    parquet file comes from PlaneWriter, and the loop runs no count or
 *    write job outside resume's count, its waves and its checkpoints;
 *  - one start path: a fresh run commits the wave-0 checkpoint from the
 *    driver (the seeds' pending rows and seen marks, no job) and resumes
 *    from it, so every crawl starts through the resume reader: the tasks
 *    read the checkpoint's part files with [[PlaneReader]] (no Spark SQL)
 *    and ONE shuffle brings every plane to its bucket's partition;
 *  - within-wave dedup, the exact seen check, seq assignment and the
 *    seen-set add are ONE partition-local pass — no per-wave window
 *    shuffle, no re-shuffle of the accumulated seen set, no driver-side
 *    filter map (round 1 collected and re-broadcast all filters per wave:
 *    ~20 GB resident at the 10^10 design point);
 *  - wave lineage is truncated with localCheckpoint (blocks on executor
 *    memory+disk); durability comes from the parquet checkpoint every
 *    `checkpointEvery` waves — a crash replays at most that many waves,
 *    and replay is deterministic and idempotent;
 *  - per-partition lineage rows ride the wave's own shuffle (one lineage
 *    mark per map partition and bucket, summed by the reduce side), so
 *    they are exactly-once under task retry, cache hits included, and the
 *    headline fetched total is their sum; they are written inside the
 *    checkpoint commit, so the orphan rule covers them.
 *
 * Ordering contract (SURVEY.md §2.5): `referenceOrder=true` replays
 * Scrapy's deterministic sequential order (start requests in listed
 * order, consumed lazily; follow-ups LIFO), one pop per wave, inside one
 * Spark task per checkpoint interval on the same core (fetchOne,
 * candidateIter, per-bucket exact seen sets) and the same checkpoint
 * layout; its lineage rows come from the task's output, one per pop,
 * exactly once. The scalable mode relaxes to per-host FIFO by
 * discovery order, preserving the fetched *set* and per-host order across
 * any parallelism level.
 */
class WaveEngine(
    spark: SparkSession,
    fetcher: Fetcher,
    parsers0: Map[String, PageParser],
    cfg: CrawlConfig) {

  // media rows must never fall through to the FollowAllLinks default (their
  // span list is empty, so it would be a silent no-op — register the
  // explicit terminal parser unless the caller bound one)
  private val parsers: Map[String, PageParser] =
    if (parsers0.contains(WaveCore.MediaFn)) parsers0
    else parsers0 + (WaveCore.MediaFn -> NoFollow)

  private val sc = spark.sparkContext
  private val ckpt = cfg.checkpointDir
  import PlaneWriter.{fetchResultSchema, lineageSchema, seenSchema, urlRecordSchema}

  private val partitioner = new HashPartitioner(cfg.fetchPartitions)

  /** Task slots of a scalable loop job: one per core, at most one per
    * fetch partition. */
  private val slots = math.min(cfg.fetchPartitions, sc.defaultParallelism)

  /** `rdd` run in at most [[slots]] tasks. The coalesce is narrow (no
    * shuffle): each task runs whole partitions of `rdd` one after another,
    * so a fetch partition stays the unit of fetch order, lineage and part
    * files while the task count follows the cores. */
  private def inSlots[T](rdd: RDD[T]): RDD[T] =
    if (rdd.getNumPartitions > slots) rdd.coalesce(slots) else rdd

  // ------------------------------------------------------------------
  // checkpointing (north rule: resumable, per-partition lineage + metrics)
  // ------------------------------------------------------------------

  /** Commits the checkpoint at `wave`: the state file, then `LATEST`,
    * which is written to a temp file and renamed into place, so a crash
    * leaves the previous commit readable, never an empty `LATEST`. */
  private def writeState(wave: Int, nextSeq: Long, fetched: Long, deduped: Long): Unit = {
    val json = s"""{"wave":$wave,"next_seq":$nextSeq,"fetched":$fetched,"deduped":$deduped,""" +
      s""""reference_order":${cfg.referenceOrder}}"""
    Files.writeString(Paths.get(s"$ckpt/state_w$wave.json"), json)
    val tmp = Files.writeString(Paths.get(s"$ckpt/LATEST.tmp"), wave.toString)
    Files.move(tmp, Paths.get(s"$ckpt/LATEST"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** (next seq, fetched, deduped) of the checkpoint at `wave`. Fails fast
    * when the checkpoint was written in the other mode: the two modes
    * assign seqs and order the frontier differently. */
  private def readState(wave: Int): (Long, Long, Long) = {
    val p = Paths.get(s"$ckpt/state_w$wave.json")
    if (!Files.exists(p)) throw new IllegalStateException(s"checkpoint state file $p is missing")
    val s = Files.readString(p)
    def modeName(referenceOrder: Boolean) = if (referenceOrder) "referenceOrder" else "scalable"
    """"reference_order":(true|false)""".r.findFirstMatchIn(s).map(_.group(1).toBoolean)
      .foreach(written => require(written == cfg.referenceOrder,
        s"the checkpoint under $ckpt was written in ${modeName(written)} mode; " +
          s"it cannot resume in ${modeName(cfg.referenceOrder)} mode"))
    def field(k: String): Long = s""""$k":(-?\\d+)""".r.findFirstMatchIn(s)
      .getOrElse(throw new IllegalStateException(s"checkpoint state file $p has no '$k' field"))
      .group(1).toLong
    (field("next_seq"), field("fetched"), field("deduped"))
  }

  def latestCheckpointWave: Option[Int] = {
    val p = Paths.get(s"$ckpt/LATEST")
    if (!Files.exists(p)) None
    else {
      val s = Files.readString(p).trim
      Some(s.toIntOption.getOrElse(throw new IllegalStateException(
        s"checkpoint pointer $p holds '$s', not a wave number")))
    }
  }

  /** Durable seen dirs covering waves ≤ `maxWave`. Two dir kinds under
    * `seen/`: `flush_N` holds the DELTA committed at wave N; `compact_N`
    * holds ALL marks ≤ N (see [[writeScalableCheckpoint]]). The read set is the
    * newest compact ≤ maxWave (if any) plus every flush strictly newer
    * than it — O(compactSeenAfter) dirs, however many checkpoints the
    * crawl has taken. Bounding by the committed LATEST wave closes the
    * crash window where a seen flush landed but the state file did not
    * (ADVICE r1): resume must never dedup replayed candidates against
    * marks from an uncommitted future flush. */
  private def seenFlushDirs(maxWave: Int): Seq[String] = {
    val seen = waveDirs().filter { case (k, n, _) => k.parent == "seen" && n <= maxWave }
    val base = seen.collect { case (k, n, _) if k.prefix == "compact_" => n }.maxOption.getOrElse(-1)
    seen.filter { case (k, n, _) => n > base || n == base && k.prefix == "compact_" }
      .sortBy(_._2).map(_._3.getPath)
  }

  /** Every per-wave dir the engine writes. A fetch wave's pages are
    * committed by the next checkpoint, so `fetched/wave_N` lags by one;
    * `lineage/upto_N` holds the rows of the waves the checkpoint at N
    * commits. */
  private val waveDirKinds = Seq(
    WaveDirKind("", "pending_w", 0, snapshot = true),
    WaveDirKind("", "pace_w", 0, snapshot = true),
    WaveDirKind("", "hostn_w", 0, snapshot = true),
    WaveDirKind("seen", "flush_", 0, snapshot = false),
    WaveDirKind("seen", "compact_", 0, snapshot = false),
    WaveDirKind("fetched", "wave_", 1, snapshot = false),
    WaveDirKind("lineage", "upto_", 0, snapshot = false))

  /** The per-wave dirs on disk, with their kind and wave. */
  private def waveDirs(): Seq[(WaveDirKind, Int, java.io.File)] = for {
    k <- waveDirKinds
    f <- Option(new java.io.File(ckpt, k.parent).listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
    if f.isDirectory && f.getName.startsWith(k.prefix)
    n <- f.getName.stripPrefix(k.prefix).toIntOption
  } yield (k, n, f)

  /** Seed URLs as wave-0 candidates (parent_seq = listed index, so listed
    * order is the per-host discovery order), deduped on the canonical. */
  private def seedCandidates(seeds: Seq[SeedSpec]): Seq[Candidate] = {
    seeds.zipWithIndex.map { case (s, i) =>
      val canon = UrlCanon.canonicalize(s.url)
      Candidate(if (s.url == canon) null else s.url, canon, UrlCanon.urlHash(canon),
        UrlCanon.hostBucket(UrlCanon.hostOf(canon), cfg.hostBuckets), s.parseFn, s.meta,
        s.priority, parent_seq = i.toLong, emission_idx = 0)
    }.distinctBy(_.canonical)
  }

  // ------------------------------------------------------------------
  // entry points
  // ------------------------------------------------------------------

  /** A fresh crawl of `seeds`: clears what a previous run left in the
    * checkpoint dir, commits the wave-0 checkpoint from the driver (no
    * job) and resumes from it, so every run starts through [[resume]]'s
    * reader, in both modes. */
  def run(seeds: Seq[SeedSpec]): CrawlRunResult = {
    // the scalable-loop features (S11 cache, live robots, per-host rates,
    // S14 revalidation, crawl budget) have no place in the replay: its
    // contract is Scrapy's exact request sequence (live fetches, robots
    // off, one global rps). Refuse them rather than silently ignore them.
    val scalableOnly = Seq("fetchCacheDir" -> cfg.fetchCacheDir.isDefined,
      "robotsResolve" -> cfg.robotsResolve.isDefined, "hostRpsTable" -> cfg.hostRpsTable.isDefined,
      "revalidateFrom" -> cfg.revalidateFrom.isDefined,
      "maxPagesPerHost" -> (cfg.maxPagesPerHost != Long.MaxValue)).collect { case (k, true) => k }
    require(!cfg.referenceOrder || scalableOnly.isEmpty,
      s"${scalableOnly.mkString(", ")} not supported in referenceOrder mode")
    Files.createDirectories(Paths.get(ckpt))
    clearStaleRun()
    val cands = seedCandidates(seeds)
    val (rows, nextSeq) =
      if (cfg.referenceOrder) {
        // start requests queue unmarked: Scrapy fingerprints one only when
        // it is consumed, so a link-discovered copy can pre-empt it. Their
        // seqs are listed indexes, so follow-up seqs start past the list
        (cands.iterator.map(c => (c.host_bucket, UrlRecord(c.urlOrCanonical, c.canonical,
          c.url_hash, UrlCanon.hostOf(c.canonical), c.host_bucket, c.parse_fn, c.meta, c.priority,
          is_seed = true, wave = 0, seq = c.parent_seq): AnyRef)), seeds.length.toLong)
      } else {
        // the seeds run through the same advance as every wave, over every
        // bucket's empty state: marked seen at enqueue, interleaved seqs,
        // the per-host budget applied
        val nB = cfg.hostBuckets
        val out = WaveCore.advancePartition(
          (0 until nB).iterator.map(b => (b, WaveCore.emptyState(b))),
          cands.iterator.map(c => (c.host_bucket, c)), base = 0L, newWave = 0, seedWave = true,
          nBuckets = nB, maxPerHost = cfg.maxPagesPerHost).toSeq
        (out.iterator.flatMap { case (b, bw) =>
          Iterator((b, bw.state: AnyRef)) ++ bw.novel.iterator.map(r => (b, r: AnyRef))
        }, (out.map(_._2.novel.length.toLong).sum + 1) * nB)
      }
    PlaneWriter.checkpointTask(0, rows, checkpointDirs(0, s"$ckpt/seen/flush_0"), sinceWave = -1)
    writeState(0, nextSeq, 0L, 0L)
    resume()
  }

  /** Continues the crawl from its committed checkpoint (`LATEST`). */
  def resume(): CrawlRunResult =
    if (cfg.referenceOrder) resumeReference() else resumeScalable()

  /** All fetched pages of a finished run, in fetch order columns
    * (wave, host, slot). */
  def fetchedTable(): DataFrame = spark.read.schema(fetchResultSchema)
    .option("recursiveFileLookup", "true").parquet(s"$ckpt/fetched")

  /** The committed per-(wave, partition) lineage rows — the north rule's
    * "per-partition lineage + metrics" as a queryable surface instead of
    * files an operator has to know the layout of. Explicit schema: an
    * interrupted run may leave an empty dir (no parquet footer). */
  def lineageTable(): DataFrame = spark.read.schema(lineageSchema)
    .option("recursiveFileLookup", "true").parquet(s"$ckpt/lineage")

  /** Per-wave rollup of [[lineageTable]] with the partition-balance
    * audit: `skew` = max/mean of per-partition input rows for the wave —
    * the number that says whether one hot bucket is stalling the wave
    * barrier (the north star's "hot domains must not straggle" clause,
    * measured instead of hoped). A committed wave has exactly one row per
    * partition (a scalable wave one per fetch partition, a reference pop
    * one), so the rollup sums them as they are. */
  def lineageReport(): DataFrame =
    lineageTable()
      .groupBy(col("wave"))
      .agg(
        count(lit(1)).as("n_partitions"),
        sum(col("in_count")).as("in_count"),
        sum(col("fetched")).as("fetched"),
        sum(col("errors")).as("errors"),
        max(col("deduped_wave")).as("deduped"), // wave-constant, repeated per row
        max(col("novel_wave")).as("novel"),
        round(max(col("in_count")) /
          greatest(avg(col("in_count")), lit(1e-9)), 4).as("skew"))
      .orderBy(col("wave"))

  // ==================================================================
  // scalable path: bucket-partitioned seen-state RDD core
  // ==================================================================

  /** Part files of a checkpoint write of `rows` rows: one per 2^20 rows,
    * at least one, at most one per fetch partition. */
  private def checkpointFiles(rows: Long): Int =
    math.min(cfg.fetchPartitions.toLong, math.max(1L, (rows + (1L << 20) - 1) >> 20)).toInt

  /** The materializing action of a wave over its output `out`, run in
    * slots: (novel, emitted, seen) summed over the buckets, then (in, ok,
    * err) per fetch partition, each bucket's fetch counts under its
    * partition. */
  private def waveCounts(out: RDD[(Int, BucketWave)]): Array[Long] = {
    val (nParts, part) = (cfg.fetchPartitions, partitioner) // locals: never capture `this`
    inSlots(out).mapPartitions { it =>
      val a = new Array[Long](3 + 3 * nParts)
      it.foreach { case (b, bw) =>
        a(0) += bw.novel.length; a(1) += bw.nCandidates; a(2) += bw.state.count
        val i = 3 + 3 * part.getPartition(b)
        a(i) += bw.nIn; a(i + 1) += bw.nOk; a(i + 2) += bw.nErr
      }
      Iterator.single(a)
    }.reduce((a, b) => Array.tabulate(a.length)(i => a(i) + b(i)))
  }

  /** Novel rows of a wave output, keyed by bucket with the partitioner
    * preserved — the key keeps deferred∪novel a partitioner-aware union
    * (hosts never span partitions), which the per-host budget relies on. */
  private def novelOf(out: RDD[(Int, BucketWave)]): RDD[(Int, UrlRecord)] =
    out.mapPartitions(
      _.flatMap { case (b, bw) => bw.novel.iterator.map(r => (b, r)) },
      preservesPartitioning = true)

  /** ONE Spark job writes the checkpoint at `wave`: `pending_w$wave`,
    * the `seen/flush_$wave` changelog and, when active, `pace_w$wave` and
    * `hostn_w$wave`. The job runs over `state` zipped with `pending` (both
    * keyed by bucket under one partitioner) and coalesced to
    * [[checkpointFiles]] tasks for the larger of `pendingRows` (exact) and
    * `novelRows` (the novel counts since `sinceWave`), so a small wave
    * writes one file per plane in one task. Both inputs are already
    * materialized (the localCheckpointed wave output, the persisted
    * pending union): the coalesce only merges cached blocks. Each task
    * writes its part file of every plane with [[PlaneWriter]].
    *
    * The seen flush is a CHANGELOG: only the log chunks created after
    * `sinceWave` (the last flushed wave), so its size is O(novel since last
    * flush), never O(accumulated seen). Resume unions all flush dirs ≤
    * LATEST; the committed-LATEST bound keeps a flush that landed without
    * its state file invisible (and resume deletes such orphans so a replay
    * at different wave numbers can't double them).
    *
    * Compaction: when this flush would leave more than `compactSeenAfter`
    * live seen dirs, the checkpoint writes `seen/compact_$wave` instead —
    * the bucket states' whole log (every mark, resume's rebuilt chunk
    * included), sized by `seenRows` — in the same job, so resume reads
    * O(compactSeenAfter) dirs however many checkpoints the crawl took.
    *
    * `lineage` (the driver-held rows since the last checkpoint) is written
    * to `lineage/upto_$wave` on the driver once the job returns.
    *
    * Commit order: the driver clears the plane dirs, the job writes them
    * (a retried task replaces its own part files), the lineage is written,
    * and only then are the state file and `LATEST` written. After the
    * commit the obsolete snapshot planes, and after a compaction the seen dirs it
    * covers, are deleted; a crash before that leaves them unread. The
    * per-host planes carry realtime pacing and the crawl budget across
    * resume; the bench path (simulated, uncapped) writes neither. */
  private def writeScalableCheckpoint(
      wave: Int,
      state: RDD[(Int, BucketSeen)],
      pending: RDD[(Int, UrlRecord)],
      pendingRows: Long,
      novelRows: Long,
      seenRows: Long,
      nextSeq: Long,
      totalFetched: Long,
      totalDeduped: Long,
      lineage: Seq[PlaneWriter.LineageRow],
      sinceWave: Int): Unit = {
    val compact = seenFlushDirs(wave - 1).length >= cfg.compactSeenAfter
    val (seenDir, since, seenFiles) =
      if (compact) (s"$ckpt/seen/compact_$wave", -1, checkpointFiles(seenRows))
      else (s"$ckpt/seen/flush_$wave", sinceWave, checkpointFiles(novelRows))
    val dirs = checkpointDirs(wave, seenDir)
    val rows = state.zipPartitions(pending)((st, pd) => st ++ pd: Iterator[(Int, AnyRef)])
      .coalesce(math.max(checkpointFiles(pendingRows), seenFiles))
    sc.runJob(rows, (ctx: TaskContext, it: Iterator[(Int, AnyRef)]) =>
      PlaneWriter.checkpointTask(ctx.partitionId(), it, dirs, since))
    if (lineage.nonEmpty)
      PlaneWriter.writeDir(s"$ckpt/lineage/upto_$wave", lineageSchema, lineage.iterator)
    writeState(wave, nextSeq, totalFetched, totalDeduped)
    waveDirs().filter { case (k, n, _) => n < wave && (k.snapshot || compact && k.parent == "seen") }
      .foreach(d => graft.util.Fs.deleteRecursively(d._3))
  }

  /** The plane dirs of the checkpoint at `wave`, cleared: `pending_w$wave`,
    * `seenDir` and, when active, `pace_w$wave` and `hostn_w$wave`. */
  private def checkpointDirs(wave: Int, seenDir: String): PlaneWriter.Dirs = {
    val dirs = PlaneWriter.Dirs(s"$ckpt/pending_w$wave", seenDir,
      if (cfg.realtime) Some(s"$ckpt/pace_w$wave") else None,
      if (cfg.maxPagesPerHost != Long.MaxValue) Some(s"$ckpt/hostn_w$wave") else None)
    dirs.all.foreach(PlaneWriter.clear)
    dirs
  }

  /** A FRESH run must not inherit ANY durable state from a prior run in
    * the same checkpoint dir:
    *  - seen flushes are changelogs, and resume UNIONS every flush ≤
    *    LATEST — a stale flush whose wave number the new run never
    *    overwrites would smuggle a dead run's URLs into the seen set
    *    (round 2's full-snapshot read was immune; the changelog read is
    *    not);
    *  - the resume lineage (LATEST + state/pending files) goes
    *    FIRST: if only the seen dirs were wiped and the new run crashed
    *    before its first checkpoint, resume() would revive the OLD run's
    *    pending against an empty seen set — now it fails fast ("no
    *    checkpoint") instead;
    *  - the fetched pages and the lineage go too (fetchedTable() and
    *    lineageTable() must not union a dead run's waves), unless the
    *    fetch cache reads from inside this very checkpoint dir (then the
    *    fetched pages stay). */
  private def clearStaleRun(): Unit = {
    val dir = new java.io.File(ckpt)
    new java.io.File(dir, "LATEST").delete()
    Option(dir.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("state_w"))
      .foreach(graft.util.Fs.deleteRecursively)
    val cacheInside = cfg.fetchCacheDir.exists(d =>
      new java.io.File(d).getCanonicalPath.startsWith(dir.getCanonicalPath))
    waveDirs().filter(d => !cacheInside || d._1.parent != "fetched")
      .foreach(d => graft.util.Fs.deleteRecursively(d._3))
  }

  /** The rows of every part file under the `dirs` of each source, read in
    * [[slots]] tasks: a task reads whole files, each with its source's
    * `read` (a [[PlaneReader]] inside), and no Spark SQL runs. */
  private def readPlanes[T: ClassTag](sources: (Seq[String], String => Iterator[T])*): RDD[T] = {
    val reads = sources.map(_._2).toArray
    val files = sources.map(_._1).zipWithIndex
      .flatMap { case (d, k) => PlaneReader.files(d).map((k, _)) }
    sc.parallelize(files, slots).flatMap { case (k, f) => reads(k)(f) }
  }

  /** Reads the committed checkpoint (LATEST): (wave, next seq, fetched,
    * deduped, plane). The plane is every plane of the checkpoint, keyed by
    * bucket and shuffled ONCE under `part` — the frontier partitioner for
    * the scalable loop, one partition for the reference-order replay — and
    * rebuilt per partition ([[WaveCore.rebuildPartition]]): each bucket's
    * state, then the pending rows. */
  private def readCheckpoint(part: HashPartitioner): (Int, Long, Long, Long, RDD[(Int, AnyRef)]) = {
    val wave = latestCheckpointWave.getOrElse(
      throw new IllegalStateException(s"no checkpoint under $ckpt"))
    val (nextSeq, fetched, deduped) = readState(wave)
    // delete every uncommitted per-wave dir from a crash window (a write
    // landed, its checkpoint did not): a replay may checkpoint at other
    // wave numbers, and must never union stale seen marks, fetched pages
    // or lineage rows with its own
    waveDirs().filter { case (k, n, _) => n + k.lag > wave }
      .foreach(d => graft.util.Fs.deleteRecursively(d._3))
    def hostMarks(pace: Boolean) = (f: String) => (if (pace) PlaneReader.pace else PlaneReader.hostN)(f)
      .map { case (b, h, v) => (b, HostMark(pace, h, v)) }
    // the durable seen set = UNION of all changelog flushes ≤ the
    // committed wave (each flush carries only the delta since its
    // predecessor); rebuildPartition dedups, so a replayed overlap is safe.
    // The pace and budget planes are absent when off.
    val rows = readPlanes[(Int, AnyRef)](
      seenFlushDirs(wave) ->
        ((f: String) => PlaneReader.seen(f).map { case (h, c, b, _) => (b, (h, c)) }),
      Seq(s"$ckpt/pace_w$wave") -> hostMarks(pace = true),
      Seq(s"$ckpt/hostn_w$wave") -> hostMarks(pace = false),
      Seq(s"$ckpt/pending_w$wave") -> ((f: String) => PlaneReader.pending(f).map(r => (r.host_bucket, r))))
    val nB = cfg.hostBuckets // local: closures must not capture `this`
    // Java serialization: a Kryo shuffle stream costs a Kryo instance per
    // task and reduce partition, most of a small resume's time
    val plane = new ShuffledRDD[Int, AnyRef, AnyRef](rows, part)
      .setSerializer(new JavaSerializer(sc.getConf)).mapPartitionsWithIndex((p, it) =>
      WaveCore.rebuildPartition((0 until nB).filter(part.getPartition(_) == p), it, wave),
      preservesPartitioning = true)
    (wave, nextSeq, fetched, deduped, plane)
  }

  /** The run's side plane: one [[SideLookup]] per fetch partition, from
    * whichever of `hostRpsTable`, `fetchCacheDir` (its 2xx rows stored
    * within `cacheTtlSec`, on the wall clock) and `revalidateFrom` (its
    * non-media 2xx rows, as span hashes) are set. When none is (the bench
    * loop), each wave task makes an empty lookup, and no job runs; else the
    * tables are read (the prior runs' pages inside tasks, by
    * [[readPlanes]]), keyed by the bucket of their host, shuffled once
    * under the frontier's own partitioner, and each partition's rows
    * become its lookup, persisted: [[resumeScalable]] builds it in ONE job
    * and releases it at loop exit. The wave tasks read it only through
    * zipPartitions, so each sees only its buckets' rows, and nothing of it
    * rides a task closure or the driver. */
  private def sidePlane(): RDD[SideLookup] = {
    val buckets = cfg.hostBuckets // local: closures must not capture `this`
    val rates = cfg.hostRpsTable.map { df =>
      // validate up front, FAIL-FAST: a null host NPEs inside the
      // partitionBy, and rps <= 0 turns into an infinite per-fetch
      // delay that hangs a realtime partition (and the wave barrier)
      // forever. Silently FILTERING a bad row would be worse than
      // failing — a host whose rps was mistyped to 0/negative would
      // fall back to the DEFAULT (faster) pacing, a politeness
      // violation the operator never sees; a malformed plane aborts
      // the crawl with a row-precise message instead.
      df.select(df("host").cast("string"), df("rps").cast("double")).rdd.map { row =>
        require(!row.isNullAt(0),
          "hostRpsTable row with null host")
        require(!row.isNullAt(1) && row.getDouble(1) > 0,
          s"hostRpsTable row for host '${row.getString(0)}' has " +
            s"invalid rps ${if (row.isNullAt(1)) "null" else row.getDouble(1)} (must be > 0)")
        (UrlCanon.hostBucket(row.getString(0), buckets),
          HostRate(row.getString(0), row.getDouble(1)): SideRow)
      }
    }
    def prior(dir: String, keep: FetchResult => Boolean, keepPage: Boolean) =
      readPlanes(Seq(dir) -> ((f: String) => PlaneReader.pages(f))).filter(fr => fr.ok && keep(fr))
        .map(fr => (UrlCanon.hostBucket(UrlCanon.hostOf(fr.canonical), buckets),
          PriorCopy.of(fr, keepPage): SideRow))
    // TTL on the WALL-CLOCK store time — never the politeness-plan stamp
    // (simulated-mode fetched_at_ms are wave-indexed planned times that
    // outrun the wall clock on any warm run)
    val cutoff = System.currentTimeMillis() - cfg.cacheTtlSec * 1000L
    val cache = cfg.fetchCacheDir.map(prior(_, _.stored_at_ms >= cutoff, keepPage = true))
    val validators = cfg.revalidateFrom.map(prior(_, _.parse_fn != WaveCore.MediaFn, keepPage = false))
    val sources = (rates ++ cache ++ validators).toSeq
    if (sources.isEmpty) sc.parallelize(Seq.empty[Int], cfg.fetchPartitions)
      .mapPartitions(_ => Iterator.single(new SideLookup(Iterator.empty)))
    else sc.union(sources).partitionBy(partitioner)
      .mapPartitions(it => Iterator.single(new SideLookup(it.map(_._2))))
      .setName("side plane").persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The scalable loop's driver-side state between waves. No task closure
    * captures it: each phase copies what its tasks need into locals.
    * `held` is every RDD the loop has persisted and not yet released: the
    * resumed plane, then the last wave's output and, on the budget path,
    * its next pending, plus what the wave in flight persists. Each commit
    * releases all but its own wave's; a failed run releases all of it. */
  private final class Loop(
      var wave: Int,
      var state: RDD[(Int, BucketSeen)],
      var pending: RDD[(Int, UrlRecord)],
      var nextSeq: Long,
      fetched: Long,
      deduped: Long,
      var held: List[RDD[_]]) {
    val startWave: Int = wave
    val t0: Long = System.currentTimeMillis()
    var batchCount = 0L // exact: every batch row yields one FetchResult
    var totalSeen = 0L
    var totalFetched: Long = fetched
    var totalDeduped: Long = deduped
    var lastFlushed: Int = wave
    var novelSinceFlush = 0L // sizes the next seen flush
    val lineage = scala.collection.mutable.ArrayBuffer[PlaneWriter.LineageRow]()
    // rows not yet host-scanned by the robots hook: the carried frontier on
    // the first wave, then only each wave's novel rows — deferred rows
    // were scanned when they first entered pending
    var hostScan: RDD[(Int, UrlRecord)] = pending
    // robots rules for hosts discovered mid-crawl extend the static map;
    // host → 1/Crawl-delay of hosts whose robots set one mid-crawl, which
    // WaveCore.hostRps min-composes with each row's stamped table rate;
    // the hosts already resolved
    var robotsMap: Map[String, Seq[String]] = cfg.robotsDisallow
    var robotsRps = Map.empty[String, Double]
    var robotsResolved = Set.empty[String]

    /** `rdd`, persisted at `level` and held until a commit releases it. */
    def hold[T](rdd: RDD[T], level: StorageLevel): RDD[T] = {
      held ::= rdd.persist(level)
      rdd
    }

    def checkpoint(): Unit = {
      writeScalableCheckpoint(wave, state, pending, batchCount, novelSinceFlush, totalSeen,
        nextSeq, totalFetched, totalDeduped, lineage.toSeq, sinceWave = lastFlushed)
      lastFlushed = wave
      novelSinceFlush = 0L
      lineage.clear()
    }
  }

  /** One wave as its phases hand it on: [[select]] fixes the wave's clock,
    * robots rules and rates, its batch and what it defers. */
  private final class Wave(val n: Int, val startMs: Long, val robots: Map[String, Seq[String]],
      val robotsRps: Map[String, Double], val batch: RDD[UrlRecord],
      val deferred: Option[RDD[(Int, UrlRecord)]])

  /**
   * The scalable loop, from the committed checkpoint: resume's plane
   * ([[readCheckpoint]], one shuffle) persisted, locally checkpointed and
   * counted in ONE job (the seen marks and the first batch), then five
   * phases per wave over one [[Wave]] record ([[select]], [[fetch]],
   * [[exchange]], [[advance]], [[commit]]), each optional feature the
   * identity when unset. Per wave: one candidate shuffle (through the
   * [[CandidateSerializer]] codec, which also carries the pace and lineage
   * marks) and one materializing action ([[waveCounts]]: the novel,
   * candidate and seen counts and the per-fetch-partition lineage counts,
   * which also populates the localCheckpoint blocks). With `keepFetched`,
   * the fetch tasks write the wave's pages to `fetched/wave_N` inside that
   * same job, as the shuffle's map side drains them. No driver-side
   * collect of state, no broadcast but the parsers', and no Spark SQL
   * outside the media store's ingest and a `hostRpsTable` DataFrame: the
   * checkpoint planes and the prior runs' pages are read inside tasks
   * ([[PlaneReader]]), and the rate table, the S11 cache and the S14
   * validators are one [[sidePlane]], built before the first wave.
   *
   * Job accounting: the driver keeps the counts it already has, so the
   * loop runs no job of its own outside resume's count, its waves and its
   * checkpoints. Each wave's reduce returns the next batch's novel count,
   * the new seen total and the wave's lineage rows, whose `in_count`s sum
   * to the pages it fetched (cache hits included) on every path. A
   * checkpoint is one job ([[writeScalableCheckpoint]], sized by those
   * counts) that also commits the lineage rows since the previous one; a
   * seen compaction rides the checkpoint's job. A fresh [[run]] commits its
   * wave-0 checkpoint on the driver and resumes, so with the per-host
   * budget uncapped, no robots resolver and no media store, a run or a
   * resume is `waves + 2` jobs at `checkpointEvery` ≥ waves (resume's
   * count and the exit checkpoint), one checkpoint job more per
   * checkpointed wave, and one job more for the side plane when any side
   * table is set, with or without the fetched table. The per-host budget
   * path (a capped `maxPerHostPerWave`, or realtime) runs 2 jobs per wave:
   * the wave, and the count of the next pending (deferred ∪ novel), which
   * also cuts its lineage — `2·waves + 2` at `checkpointEvery` ≥ waves.
   *
   * Task accounting: every job here runs in [[slots]] = min(fetchPartitions,
   * defaultParallelism) tasks through [[inSlots]]. Resume's count is two
   * stages of `slots` tasks: the map stage reads the checkpoint's part
   * files, the reduce stage rebuilds groups of the plane's partitions. A
   * wave is two stages of `slots` tasks: the map stage fetches, parses,
   * writes the fetched pages and combines candidates once per fetch
   * partition (the partition's index, from `mapPartitionsWithIndex`, names
   * its `partition_id` and part file, and its buckets' lineage marks sum to
   * its lineage row); the reduce stage advances groups of the state's
   * partitions and fills the persisted wave output's blocks, which the
   * job's local checkpoint then cuts. A checkpoint job runs in
   * [[checkpointFiles]] tasks. So a 5-wave crawl at 32 fetch partitions on
   * 4 cores, with resume's count and the exit checkpoint, runs 49 tasks.
   *
   * A run that throws releases everything the loop holds (`Loop.held`) and
   * the side plane; a normal exit keeps the last wave's checkpointed
   * output.
   */
  private def resumeScalable(): CrawlRunResult = {
    val (wave, nextSeq, fetched, deduped, plane) = readCheckpoint(partitioner)
    val side = sidePlane()
    val parsersB = sc.broadcast(parsers)
    plane.persist(StorageLevel.MEMORY_AND_DISK).localCheckpoint()
    def part[T](pf: PartialFunction[(Int, AnyRef), (Int, T)]) =
      plane.mapPartitions(_.collect(pf), preservesPartitioning = true)
    val l = new Loop(wave, part { case (b, st: BucketSeen) => (b, st) },
      part { case (b, r: UrlRecord) => (b, r) }, nextSeq, fetched, deduped, held = List(plane))
    try {
      // one job materializes the rebuilt plane, and counts the seen marks
      // and the first batch
      val (seen0, batch0) = inSlots(plane).map {
        case (_, st: BucketSeen) => (st.count, 0L)
        case _ => (0L, 1L)
      }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
      l.totalSeen = seen0
      l.batchCount = batch0
      // build a persisted plane once, ahead of the first wave
      if (side.getStorageLevel.isValid) inSlots(side).count()
      while (l.batchCount > 0 && l.wave < cfg.maxWaves && l.totalFetched < cfg.maxUrls) {
        val w = select(l, side)
        val pages = fetch(l, w, side)
        val (out, counts) = advance(l, exchange(w, pages, parsersB))
        commit(l, w, out, counts)
      }
      // loop exited on maxWaves/maxUrls between checkpoints
      if (latestCheckpointWave.forall(_ < l.wave)) l.checkpoint()
    } catch {
      case t: Throwable =>
        l.held.foreach(_.unpersist(blocking = false))
        throw t
    } finally side.unpersist(blocking = false) // a failed build or wave must not leak it
    CrawlRunResult(l.wave - l.startWave, l.totalFetched, l.totalDeduped, l.totalSeen,
      System.currentTimeMillis() - l.t0)
  }

  /** Select: the S12 robots hook ([[resolveRobots]]), each pending row's
    * table rate stamped from the side plane, and the per-host wave budget.
    * Each is the identity when unset: the bench wave's batch is its
    * pending. */
  private def select(l: Loop, side: RDD[SideLookup]): Wave = {
    if (cfg.robotsEnabled && cfg.robotsResolve.isDefined) resolveRobots(l)
    val robotsRpsW = l.robotsRps // per-wave snapshot for the task closures
    val (maxPerHost, rps, realtime) = (cfg.maxPerHostPerWave, cfg.politenessRps, cfg.realtime)
    val startMs = if (realtime) System.currentTimeMillis() else l.t0 + l.wave.toLong * 1000L
    // zipPartitions with the co-partitioned side plane: zero shuffle, and
    // the only per-task state is the PARTITION's own hosts
    val pending = l.pending.zipPartitions(side, preservesPartitioning = true) { (it, lk) =>
      val rates = lk.next()
      it.map { case (b, r) => (b, rates.stampRate(r)) }
    }
    // batch selection: per-host politeness budget, partition-local
    // (hosts never span buckets, buckets never span partitions). The
    // per-host groupBy+sort runs ONCE, persisted tagged — batch (fetch
    // job) and the deferred complement both read the cached selection
    // instead of re-sorting the partition twice.
    // a host paced SLOWER than the global rps (table rate or robots
    // Crawl-delay) additionally caps at ~maxHostWaveStallSec of
    // sequential sleeping per wave — delay × budget is what stalls the
    // wave barrier, and the per-fetch clamp alone can't bound it.
    // Realtime-only: in simulated mode nothing sleeps, and the bench
    // job's uncapped budget stays a plain constant.
    val stallSec = cfg.maxHostWaveStallSec
    // budget from a representative ROW (not just the host): the base
    // rate rides the row's stamped meta, so the budget function needs
    // no host→rate map beyond the robots deltas
    val slowHostBudget: UrlRecord => Int =
      if (!realtime) _ => maxPerHost
      else { r0 =>
        val hr = WaveCore.hostRps(r0.meta, r0.host, rps, robotsRpsW)
        if (hr >= rps) maxPerHost
        else math.min(maxPerHost.toLong,
          math.max(1L, math.floor(stallSec * hr).toLong)).toInt
      }
    if (maxPerHost == Int.MaxValue && !realtime)
      new Wave(l.wave, startMs, l.robotsMap, robotsRpsW, pending.values, None)
    else {
      // the selection is consumed by the wave's job and the deferred count
      val sel = l.hold(pending.mapPartitions(it =>
        it.map(_._2).toArray.groupBy(_.host).valuesIterator.flatMap { rows =>
          val budget = slowHostBudget(rows.head)
          rows.sortBy(r => (-r.priority, r.seq)).iterator.zipWithIndex
            .map { case (r, i) => (i < budget, r) }
        },
        preservesPartitioning = true), StorageLevel.MEMORY_AND_DISK_SER)
      val batch = sel.mapPartitions(_.collect { case (true, r) => r },
        preservesPartitioning = true)
      val deferred = sel.mapPartitions(_.collect { case (false, r) => (r.host_bucket, r) },
        preservesPartitioning = true)
      new Wave(l.wave, startMs, l.robotsMap, robotsRpsW, batch, Some(deferred))
    }
  }

  /** S12 mid-crawl host discovery: resolves robots for hosts making their
    * first frontier appearance, then drops this wave's pending rows the new
    * rules forbid (their candidate-emission gate necessarily ran before the
    * rules existed). Costs one tiny driver-side job per wave — O(distinct
    * hosts) strings — on the robots-enabled-with-resolver path only; the
    * gate itself is a filter the wave's own job runs. Every host resolves
    * its robots exactly once, INCLUDING hosts with static entries — a
    * static rps override must not suppress a live Disallow, nor a static
    * Disallow a live Crawl-delay (resolution UNIONS into the static maps,
    * never replaces). */
  private def resolveRobots(l: Loop): Unit = {
    // (host, origin) pairs carry the scheme+port each host was
    // actually discovered under — hostOf strips ports from gate keys,
    // and "https://host/robots.txt" would miss http-only or
    // non-default-port sites entirely
    val hostOrigins = inSlots(l.hostScan).map { case (_, r) =>
      val p = UrlCanon.parse(r.canonical)
      val origin =
        if (p.scheme != null && p.authority != null) p.scheme + "://" + p.authority
        else "https://" + r.host
      (r.host, origin)
    }.distinct().collect()
    val novel = hostOrigins.filter(ho => !l.robotsResolved(ho._1))
    if (novel.nonEmpty) {
      l.robotsResolved ++= novel.map(_._1)
      // a host seen under several origins resolves them all — the
      // policies union per gate key (conservative)
      val policies = cfg.robotsResolve.get(novel.map(_._2).distinct.sorted.toSeq)
      policies.foreach { case (h, p) =>
        // Crawl-delay clamped (a hostile 24h delay must not stall the
        // wave barrier); the rate rule keeps the slower of 1/delay and
        // any delay already recorded, and min-composes the result with
        // the host's base rate at every use — robots cannot grant more
        // than the operator configured
        p.crawlDelaySec.map(math.min(_, cfg.maxRobotsDelaySec)).filter(_ > 0).foreach { d =>
          l.robotsRps += h -> WaveCore.hostRps(Map.empty, h, 1.0 / d, l.robotsRps)
        }
      }
      val newRules = policies.collect {
        case (h, p) if p.disallow.nonEmpty =>
          // UNION with any static prefixes — live resolution must
          // never widen what an operator already forbade
          h -> (l.robotsMap.getOrElse(h, Nil) ++ p.disallow).distinct
      }
      if (newRules.nonEmpty) {
        l.robotsMap ++= newRules
        val gate = newRules // local: the closure must not capture vars
        // the filter keeps the partitioner; the gated wave may run
        // empty, and the loop's own exit condition fires at its end
        l.pending = l.pending.filter { case (_, r) =>
          gate.get(r.host) match {
            case None => true
            case Some(prefixes) => // parse once per row, not per prefix
              val path = UrlCanon.parse(r.canonical).path
              !prefixes.exists(path.startsWith)
          }
        }
      }
    }
  }

  /** Fetch: each fetch partition serves its S11 cache hits from its side
    * lookup and live-fetches the rest, each stamped with its S14 validator
    * ([[SideLookup.serve]]), with politeness slots ([[WaveCore.fetchIter]]).
    * In realtime mode each host's first slot is seeded from the carried
    * per-host next-allowed time (cross-wave politeness continuity, cache
    * misses included); the pace map rides the already-persisted state
    * blocks, and simulated mode skips that read entirely. The fetch
    * partition's index comes from mapPartitionsWithIndex (see fetchIter).
    * With `keepFetched`, each partition writes its pages to its part file
    * of `fetched/wave_N` as the exchange pulls them, and commits the file
    * once they run out (++ is by-name). */
  private def fetch(l: Loop, w: Wave, side: RDD[SideLookup]): RDD[FetchResult] = {
    val (f, rps, realtime, n, startMs, robotsRps) =
      (fetcher, cfg.politenessRps, cfg.realtime, w.n, w.startMs, w.robotsRps)
    val dir = Option.when(cfg.keepFetched)(s"$ckpt/fetched/wave_$n")
    dir.foreach(PlaneWriter.clear)
    // simulated mode reads no state: its (empty) pace maps come from the
    // side plane's own partitions
    val pace: RDD[Map[Long, Long]] =
      if (!realtime) side.map(_ => Map.empty[Long, Long])
      else l.state.mapPartitions(st => Iterator.single(st.foldLeft(Map.empty[Long, Long]) {
        case (m, (_, bs)) => bs.pace.foldLeft(m) { case (m1, (h, ms)) =>
          m1.updatedWith(h)(prev => Some(math.max(prev.getOrElse(0L), ms)))
        }
      }))
    w.batch.zipPartitions(side, pace)((it, lk, pc) => Iterator.single((it, lk.next(), pc.next())))
      .mapPartitionsWithIndex { (pid, p) =>
        val (it, lk, pc) = p.next()
        val (live, hits) = lk.serve(it, n)
        val pages = WaveCore.fetchIter(live, pid, f, rps, realtime, n, startMs, pc, robotsRps) ++ hits
        dir.fold(pages) { d =>
          val part = PlaneWriter.taskPart(d, pid, fetchResultSchema)
          pages.map { fr => part.write(fr); fr } ++ { part.finish(); Iterator.empty }
        }
      }
  }

  /** Exchange: parse → candidates, pace marks and lineage marks
    * ([[WaveCore.waveCandidates]]) → the wave's ONE shuffle
    * (bucket-partitioned, sized by the wave, never by the accumulated seen
    * set), written by the fixed [[CandidateSerializer]] codec rather than
    * the session serializer. The map stage runs in slots: each task
    * fetches, parses and combines whole fetch partitions and writes one
    * shuffle output. */
  private def exchange(w: Wave, pages: RDD[FetchResult],
      parsersB: Broadcast[Map[String, PageParser]]): RDD[(Int, Candidate)] = {
    val (buckets, robotsEnabled, realtime, rps, robots, robotsRps) = (cfg.hostBuckets,
      cfg.robotsEnabled, cfg.realtime, cfg.politenessRps, w.robots, w.robotsRps)
    new ShuffledRDD[Int, Candidate, Candidate](inSlots(pages.mapPartitions(it =>
      WaveCore.waveCandidates(it, parsersB.value, buckets, robotsEnabled, robots, realtime, rps,
        robotsRps))), partitioner).setSerializer(new CandidateSerializer)
  }

  /** Advance: the seen state zipped with the candidates — dedup, seq
    * assignment and the seen-set add in one pass — persisted, locally
    * checkpointed and counted by the wave's one materializing action,
    * which runs in slots too: the coalesced tasks fill the output's cache
    * blocks, and the job's checkpoint step still reaches it through the
    * coalesce. Returns the output and its [[waveCounts]]. */
  private def advance(l: Loop, cands: RDD[(Int, Candidate)])
      : (RDD[(Int, BucketWave)], Array[Long]) = {
    val (base, w1, nB, maxPerHost) =
      (l.nextSeq, l.wave + 1, cfg.hostBuckets.toLong, cfg.maxPagesPerHost)
    val out = l.state.zipPartitions(cands, preservesPartitioning = true) { (st, cd) =>
      WaveCore.advancePartition(st, cd, base, w1, seedWave = false, nBuckets = nB,
        maxPerHost = maxPerHost)
    }
    // DESERIALIZED storage: since the state became packed primitive
    // chunks (SeenChunk/SeenSet128 — no per-URL objects),
    // keeping the blocks live costs the GC O(chunks) per bucket, and
    // persist stores references instead of re-serializing the whole
    // accumulated seen state every wave (the r2 SER level paid an
    // O(seen)-byte Kryo pass per wave; with the old String-array logs
    // SER was the right call — millions of live objects dominated
    // young-GC copy time — but that object graph no longer exists)
    l.hold(out, StorageLevel.MEMORY_AND_DISK).localCheckpoint()
    (out, waveCounts(out))
  }

  /** Commit: the wave's totals and one lineage row per fetch partition,
    * however its buckets were fetched; the media store's ingest; the next
    * pending; the release of what the wave no longer needs; and the
    * checkpoint cadence. The next pending is the novel rows, or on the
    * budget path deferred ∪ novel (same partitioner → a partitioner-aware
    * union: partition count fixed, hosts whole), whose count also cuts its
    * lineage: the union reads the previous pending's selection, so its
    * lineage would otherwise grow every wave. */
  private def commit(l: Loop, w: Wave, out: RDD[(Int, BucketWave)], c: Array[Long]): Unit = {
    val novelCount = c(0)
    val dedupedCount = c(1) - novelCount // exact: both from the same pass
    l.nextSeq += (novelCount + 1) * cfg.hostBuckets
    l.totalDeduped += dedupedCount
    l.novelSinceFlush += novelCount
    l.totalSeen = c(2)
    for (p <- 0 until cfg.fetchPartitions) {
      val i = 3 + 3 * p
      l.totalFetched += c(i)
      l.lineage += ((w.n, p, c(i), c(i + 1), c(i + 2), dedupedCount, novelCount))
    }
    if (cfg.keepFetched) ingestMedia(s"$ckpt/fetched/wave_${w.n}")
    val (pending, kept, batchCount) = w.deferred match {
      case None => (novelOf(out), Nil, novelCount)
      case Some(d) =>
        val np = l.hold(d.union(novelOf(out)), StorageLevel.MEMORY_AND_DISK).localCheckpoint()
        (np, List(np), inSlots(np).count())
    }
    // this wave's output and next pending are materialized: release the
    // rest, the previous wave's and this wave's selection
    l.held.filterNot((out :: kept).contains).foreach(_.unpersist(blocking = false))
    l.held = out :: kept
    l.state = out.mapValues(_.state)
    l.pending = pending
    l.hostScan = novelOf(out) // the next wave's robots hook scans only these
    l.batchCount = batchCount
    l.wave += 1
    if (l.wave % cfg.checkpointEvery == 0 || l.batchCount == 0) l.checkpoint()
  }

  /** Interleaved media plane: CAS-ingests the media bytes of the pages
    * just written to `fetchedDir`, when `mediaStoreDir` is set. Idempotent:
    * a replayed wave re-ingests into the same store, and the key-plane
    * anti-join drops every row. */
  private def ingestMedia(fetchedDir: String): Unit = cfg.mediaStoreDir.foreach(dir =>
    graft.sinks.MediaStore.ingestWave(spark, spark.read.schema(fetchResultSchema).parquet(fetchedDir), dir))

  // ==================================================================
  // reference-order (Scrapy LIFO) replay: one task per checkpoint interval
  // ==================================================================

  /**
   * The reference-order loop, from the committed checkpoint: its plane
   * ([[readCheckpoint]] under one partition: every bucket's seen state and
   * the queued requests; a fresh replay's wave-0 checkpoint holds the
   * start requests and no seen marks) is the first interval's input. Then
   * one Spark task per checkpoint interval, each running
   * [[WaveCore.referenceInterval]] over the previous interval's
   * one-partition output, pinned with localCheckpoint like the scalable
   * loop's `out`. Per interval: the interval job, whose collect also
   * returns the task's lineage rows (one per pop, exactly once), the
   * queue size, the next seq and the seen total, and whose task writes
   * the fetched pages to `fetched/wave_<first pop>` when `keepFetched`;
   * and the checkpoint, one job through the scalable path's
   * [[writeScalableCheckpoint]] (a seen compaction included), which also
   * commits the interval's lineage rows. That is 2 jobs per interval,
   * whatever the pages it fetches (plus the media store's, when one is
   * set). The run's seen total is the last interval's; a run always runs
   * at least one interval, so it has one.
   */
  private def resumeReference(): CrawlRunResult = {
    val (startWave, nextSeq0, fetched0, deduped0, plane) = readCheckpoint(new HashPartitioner(1))
    val t0 = System.currentTimeMillis()
    // locals for task closures (never capture `this`)
    val parsersB = sc.broadcast(parsers)
    val (fetcherL, robotsEnabled, robots) = (fetcher, cfg.robotsEnabled, cfg.robotsDisallow)
    val (rps, realtime) = (cfg.politenessRps, cfg.realtime)
    var wave = startWave
    var totalFetched = fetched0
    var totalDeduped = deduped0
    var st = plane.mapPartitions { it =>
      val rows = it.map(_._2).toArray
      Iterator.single(RefState(rows.collect { case b: BucketSeen => b },
        rows.collect { case r: UrlRecord => r }, nextSeq0))
    }
    var seen = 0L
    var done = false
    // at least one interval: one with no pop left to it (a resume at
    // maxWaves or maxUrls) only counts its input's seen marks
    do {
      val start = wave
      val end = math.min(cfg.maxWaves.toLong,
        (start / cfg.checkpointEvery + 1).toLong * cfg.checkpointEvery).toInt
      val maxPops = cfg.maxUrls - totalFetched
      val fetchedDir = Option.when(cfg.keepFetched)(s"$ckpt/fetched/wave_$start")
      fetchedDir.foreach(PlaneWriter.clear)
      val next = st.map(WaveCore.referenceInterval(_, fetcherL, parsersB.value, robotsEnabled,
        robots, rps, realtime, t0, start, end, maxPops, fetchedDir))
      next.persist(StorageLevel.MEMORY_AND_DISK)
      next.localCheckpoint()
      val (lineage, pendingRows, nextSeq, seenCount) = next
        .map(s => (s.lineage, s.queued.length.toLong, s.nextSeq, s.seen.iterator.map(_.count).sum))
        .collect()(0) // materializes
      st.unpersist(blocking = false)
      st = next
      seen = seenCount
      val pops = lineage.length
      // no pop: only seen start requests were left, nothing to commit
      if (pops > 0) {
        wave += pops
        totalFetched += pops
        totalDeduped += lineage.map(_._6).sum
        fetchedDir.foreach(ingestMedia)
        // the scalable path's writer, read back by the same readCheckpoint;
        // every pop marks at most itself and its novel follow-ups
        writeScalableCheckpoint(wave, next.flatMap(_.seen.iterator.map(b => (b.bucket, b))),
          next.flatMap(_.queued.iterator.map(r => (r.host_bucket, r))), pendingRows,
          pops + lineage.map(_._7).sum, seenCount, nextSeq, totalFetched, totalDeduped,
          lineage.toSeq, sinceWave = start)
      }
      done = pendingRows == 0
    } while (!done && wave < cfg.maxWaves && totalFetched < cfg.maxUrls)
    CrawlRunResult(wave - startWave, totalFetched, totalDeduped, seen,
      System.currentTimeMillis() - t0)
  }
}
