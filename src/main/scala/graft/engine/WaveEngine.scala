package graft.engine

import graft.fetch.Fetcher
import graft.model._
import graft.urls.UrlCanon
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.CollectionAccumulator

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

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
    // per-host politeness override (host → requests/sec), e.g. built from
    // seed-host robots Crawl-delay as 1/delay; hosts absent here pace at
    // `politenessRps`. Empty = the scalar fast path (bench unchanged).
    // DRIVER-RESIDENT — right for ≤10^4 hosts; at frontier host
    // cardinality (10^6-10^7) use `hostRpsTable` instead.
    hostRps: Map[String, Double] = Map.empty,
    // TABLE-VALUED per-host pacing — the 10^10-frontier twin of
    // `hostRps`: a (host: string, rps: double) DataFrame (e.g.
    // graft.ops.Throttle.rpsTable of an adaptive-delay table). The
    // engine bucket-partitions it ONCE with the frontier's own
    // partitioner and stamps each pending row's rate per partition
    // (zipPartitions — no shuffle, no driver map, no fat task closure:
    // each task ever sees only ITS buckets' hosts). Robots Crawl-delays
    // discovered mid-crawl min-compose on top (robots can only slow a
    // host, never speed it up). Mutually exclusive with `hostRps`;
    // None = the existing map/scalar paths, bit-for-bit.
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
    // cache with 600 s TTL, /root/reference/crawler/settings.py:84-86)
    fetchCacheDir: Option[String] = None,
    cacheTtlSec: Long = 600,
    // S14 — HTTP revalidation: point at a prior run's `fetched` dir and
    // every frontier row whose (url_hash, canonical) that run fetched
    // successfully carries the stored SpanHash validator into the fetch —
    // the fetcher sends a conditional request and unchanged pages come
    // back as body-less 304 rows (resolve them against the prior corpus
    // with graft.ops.Revalidate.resolve). This is the DISTRIBUTIVE
    // validator path for refresh crawls too big to seed with per-URL meta
    // (Sources.revalidatingSeeds): the validator plane is one O(urls)
    // fixed-width cached frame (hash of spans, never spans), attached by
    // an equi-join per wave. Composes with the S11 cache: cache hits skip
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
  * seq) + the bucket's exact candidate count (for exact dedup metrics). */
private[engine] final case class BucketWave(
    state: BucketSeen,
    novel: Array[UrlRecord],
    nCandidates: Long)

/** The reference-order replay's state at a checkpoint, in the scalable
  * path's own types: every bucket's seen state (`seen(b)` is bucket b) and
  * the queued requests. An interval's output also carries its fetched
  * rows and one lineage row per pop, for the interval's writes. */
private[engine] final case class RefState(
    seen: Array[BucketSeen],
    queued: Array[UrlRecord],
    nextSeq: Long,
    fetched: Array[FetchResult] = Array.empty,
    lineage: Array[(Int, Int, Long, Long, Long, Long, Long)] = Array.empty)

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
      parser.followUps(fr.document, fr.meta).iterator.zipWithIndex.flatMap { case (f, idx) =>
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

  /** Per-partition politeness + fetch: per host, slots in (priority desc,
    * seq) order, paced at `rps` — or at `hostRps(host)` where a per-host
    * override exists (robots Crawl-delay). In realtime mode the pace is
    * enforced with actual sleeps against the wall clock and
    * `fetched_at_ms` records the true fetch time; in simulated mode the
    * planned timestamp is recorded (deterministic). `stored_at_ms` is
    * wall-clock in BOTH modes — it alone feeds the fetch-cache TTL (S11). */
  def fetchIter(
      it: Iterator[UrlRecord],
      f: Fetcher,
      rps: Double,
      realtime: Boolean,
      fetchWave: Int,
      waveStartMs: Long,
      lineageAcc: CollectionAccumulator[(Int, Long, Long, Long)],
      pace: Map[Long, Long] = Map.empty,
      hostRps: Map[String, Double] = Map.empty,
      tablePaced: Boolean = false): Iterator[FetchResult] = {
    // one comparator sort groups hosts AND orders each host's run by
    // (priority desc, seq) — replaces groupBy + per-host sortBy, which
    // allocated a map, per-host arrays, and a tuple key per row
    val rows = it.toArray
    java.util.Arrays.sort(rows, UrlRecordOrder)
    val pid = TaskContext.getPartitionId()
    // STREAMING: each FetchResult (page body + spans) is born when the
    // downstream parse pulls it and is garbage right after — materializing
    // the partition's results up front kept 100s of MB live per task and
    // its survivor-copy cost dominated young-GC pauses (the measured
    // Amdahl term of frontier scaling). Lineage is reported once: at
    // exhaustion, or — when a downstream consumer stops early (take/limit
    // short-circuit) — from the task-completion listener, so partial
    // consumption still emits the partition's lineage row (ADVICE r2).
    new Iterator[FetchResult] {
      private var i = 0
      private var slot = 0
      private var prevHost: String = null
      private var hostStartMs = waveStartMs
      private var hostMsPerFetch = 1000.0 / rps
      private var lastFetchMs = Long.MinValue // actual start of this host's previous fetch
      private var nIn = 0L
      private var nOk = 0L
      private var nErr = 0L
      private var reported = false

      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        if (!reported) { reported = true; lineageAcc.add((pid, nIn, nOk, nErr)) }
      })

      def hasNext: Boolean = {
        if (i < rows.length) true
        else {
          if (!reported) { reported = true; lineageAcc.add((pid, nIn, nOk, nErr)) }
          false
        }
      }

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
          if (tablePaced) {
            // table mode: base rate rides the row (stamped per partition
            // from the co-located rate plane); robots deltas min-compose
            val base = r.meta.get(RpsKey) match {
              case Some(v) => java.lang.Double.parseDouble(v)
              case None => rps
            }
            val eff =
              if (hostRps.isEmpty) base
              else math.min(base, hostRps.getOrElse(r.host, Double.MaxValue))
            hostMsPerFetch = 1000.0 / eff
          } else if (!hostRps.isEmpty) // scalar fast path stays allocation-free
            hostMsPerFetch = 1000.0 / hostRps.getOrElse(r.host, rps)
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
        nIn += 1
        if (out.status >= 200 && out.status < 300) nOk += 1
        if (out.status >= 400) nErr += 1
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

  /** Meta key carrying a row's table-sourced base rps (hostRpsTable
    * mode): stamped per partition from the bucket-co-located rate plane,
    * so the rate rides the ROW through every downstream path (cache
    * misses, validator re-bucketing, unions) and no task closure ever
    * holds a host→rate map. */
  val RpsKey = "__rps__"

  /** parse_fn tag routing a frontier row to [[Fetcher.fetchMedia]] (binary
    * plane). Media rows emit no follow-ups (the engine registers NoFollow
    * for this tag unless the caller overrode it). */
  val MediaFn: String = graft.model.SpanKind.Media

  def paceMark(host: String, bucket: Int, nextAllowedMs: Long): Candidate =
    Candidate(url = null, canonical = "", url_hash = UrlCanon.urlHash(host),
      host_bucket = bucket, parse_fn = PaceFn,
      meta = Map.empty, priority = 0, parent_seq = nextAllowedMs, emission_idx = 0)

  /** Advance every bucket of one partition through one wave: sort the
    * bucket's candidates into discovery order, drop within-wave duplicates
    * and already-seen URLs, assign interleaved seqs (base + rank·B +
    * bucket — globally unique, per-host discovery order, independent of
    * parallelism), and add the novel keys to a fresh copy of the bucket's
    * exact seen set (the log chunks are shared by reference). Pure
    * function of (state, candidates): the input state is never mutated,
    * so a retried task recomputes the same wave. */
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
    cands.foreach { case (b, c) =>
      val m = if (c.parse_fn == PaceFn) paceByBucket else byBucket
      m.computeIfAbsent(b, _ => scala.collection.mutable.ArrayBuffer.empty[Candidate]) += c
    }
    states.map { case (b, st0) =>
      // fold pace marks first (independent of candidate novelty)
      val paceRows = paceByBucket.get(b)
      val st =
        if (paceRows == null) st0
        else st0.copy(pace = st0.pace ++ paceRows.iterator.map(c =>
          c.url_hash -> math.max(st0.pace.getOrElse(c.url_hash, 0L), c.parent_seq)))
      val raw = byBucket.get(b)
      if (raw == null) {
        (b, BucketWave(st, Array.empty, 0L))
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
          recs, emittedW))
      }
    }
  }

  private val CandidateOrder: java.util.Comparator[Candidate] =
    new java.util.Comparator[Candidate] with Serializable {
      def compare(a: Candidate, b: Candidate): Int = {
        val c = java.lang.Long.compare(a.parent_seq, b.parent_seq)
        if (c != 0) c else Integer.compare(a.emission_idx, b.emission_idx)
      }
    }

  /** Rebuild one partition's bucket states from durable seen rows
    * (resume path). Rebuilt entries are packed into ONE chunk tagged
    * `resumedWave`: they are already durable (read from flush dirs ≤
    * resumedWave), so later changelog flushes — which write only chunks
    * with wave > the last flushed wave — never rewrite them. */
  def rebuildPartition(
      states: Iterator[(Int, BucketSeen)],
      rows: Iterator[(Int, (Long, String))],
      resumedWave: Int,
      paceRows: Iterator[(Int, (Long, Long))] = Iterator.empty,
      hostNRows: Iterator[(Int, (Long, Long))] = Iterator.empty): Iterator[(Int, BucketWave)] = {
    val byBucket = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[(Long, String)]]()
    rows.foreach { case (b, hc) =>
      byBucket.computeIfAbsent(b, _ => scala.collection.mutable.ArrayBuffer.empty[(Long, String)]) += hc
    }
    // checkpointed per-host pace (realtime politeness continuity across a
    // resume): hostHash -> next-allowed fetch ms, max-merged like the
    // in-run pace-mark fold
    val paceByBucket = new java.util.HashMap[Int, Map[Long, Long]]()
    paceRows.foreach { case (b, (h, ms)) =>
      val m = paceByBucket.getOrDefault(b, Map.empty)
      paceByBucket.put(b, m.updated(h, math.max(m.getOrElse(h, 0L), ms)))
    }
    // checkpointed per-host admission counts (crawl-budget continuity
    // across a resume — without them a resumed crawl would restart every
    // host's budget from zero)
    val hostNByBucket = new java.util.HashMap[Int, Map[Long, Long]]()
    hostNRows.foreach { case (b, (h, n)) =>
      val m = hostNByBucket.getOrDefault(b, Map.empty)
      hostNByBucket.put(b, m.updated(h, math.max(m.getOrElse(h, 0L), n)))
    }
    states.map { case (b, empty0) =>
      val pace = paceByBucket.getOrDefault(b, Map.empty)
      val hostN = hostNByBucket.getOrDefault(b, Map.empty)
      val empty1 = if (pace.isEmpty) empty0 else empty0.copy(pace = pace)
      val empty = if (hostN.isEmpty) empty1 else empty1.copy(hostN = hostN)
      val rs = byBucket.get(b)
      if (rs == null) (b, BucketWave(empty, Array.empty, 0L))
      else {
        val seen = new graft.seen.SeenSet128(rs.size)
        val hashBuf = new scala.collection.mutable.ArrayBuffer[Long](rs.size)
        val canonBuf = new scala.collection.mutable.ArrayBuffer[String](rs.size)
        rs.foreach { case (h, c) =>
          if (seen.add(h, UrlCanon.urlHash2(c))) {
            hashBuf += h
            canonBuf += c
          }
        }
        val chunk = graft.seen.SeenChunk.pack(resumedWave, hashBuf.toArray, canonBuf.toArray)
        (b, BucketWave(
          BucketSeen(b, seen, chunk :: Nil, hashBuf.length.toLong, empty.pace,
            empty.hostN),
          Array.empty, 0L))
      }
    }
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
    * wave. */
  def referenceInterval(in: RefState, f: Fetcher, parsers: Map[String, PageParser],
      robotsEnabled: Boolean, robots: Map[String, Seq[String]], rps: Double,
      realtime: Boolean, t0: Long, startWave: Int, endWave: Int, maxPops: Long,
      keepFetched: Boolean): RefState = {
    val spacingMs = math.round(1000.0 / rps)
    val pid = TaskContext.getPartitionId()
    val queue = scala.collection.mutable.PriorityQueue.from(in.queued)(RefPopOrder)
    val seen = in.seen.map(st => st.copy(seen = st.seen.copy()))
    val marks = Array.fill(seen.length)(scala.collection.mutable.ArrayBuffer.empty[(Long, String)])
    def mark(b: Int, h: Long, canon: String): Boolean =
      seen(b).seen.add(h, UrlCanon.urlHash2(canon)) && { marks(b) += ((h, canon)); true }
    var nextFetchMs = in.seen.iterator.flatMap(_.pace.valuesIterator).maxOption.getOrElse(0L)
    var nextSeq = in.nextSeq
    val fetched = scala.collection.mutable.ArrayBuffer.empty[FetchResult]
    val lineage = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Long, Long, Long)]
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
        if (keepFetched) fetched += fr
        lineage += ((wave, pid, 1L, if (fr.ok) 1L else 0L, if (fr.status >= 400) 1L else 0L,
          (cands.length - novel.length).toLong, novel.length.toLong))
        wave += 1
      }
    }
    val out = seen.zip(marks).map { case (st, m) =>
      if (m.isEmpty) st
      else st.copy(count = st.count + m.length, log =
        graft.seen.SeenChunk.pack(wave, m.map(_._1).toArray, m.map(_._2).toArray) :: st.log)
    }
    RefState(out, queue.toArray, nextSeq, fetched.toArray, lineage.toArray)
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
 *    per-task set-up it can avoid: the candidate shuffle is written by
 *    the fixed [[CandidateSerializer]] codec (no per-task Kryo instances),
 *    the empty seed/resume state is built in place (no shuffle), and the
 *    pending and seen checkpoint writes coalesce their cached blocks to
 *    one part file per 2^20 rows instead of one per fetch partition;
 *  - within-wave dedup, the exact seen check, seq assignment and the
 *    seen-set add are ONE partition-local pass — no per-wave window
 *    shuffle, no re-shuffle of the accumulated seen set, no driver-side
 *    filter map (round 1 collected and re-broadcast all filters per wave:
 *    ~20 GB resident at the 10^10 design point);
 *  - wave lineage is truncated with localCheckpoint (blocks on executor
 *    memory+disk); durability comes from the parquet checkpoint every
 *    `checkpointEvery` waves — a crash replays at most that many waves,
 *    and replay is deterministic and idempotent;
 *  - per-partition lineage rows are accumulator-fed (at-least-once under
 *    task retry — documented); the headline fetched/deduped/novel totals
 *    are exact counts derived from materialized data.
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

  import spark.implicits._

  // media rows must never fall through to the FollowAllLinks default (their
  // span list is empty, so it would be a silent no-op — register the
  // explicit terminal parser unless the caller bound one)
  private val parsers: Map[String, PageParser] =
    if (parsers0.contains(WaveCore.MediaFn)) parsers0
    else parsers0 + (WaveCore.MediaFn -> NoFollow)

  private val sc = spark.sparkContext
  private val ckpt = cfg.checkpointDir
  private val urlRecordSchema = org.apache.spark.sql.Encoders.product[UrlRecord].schema
  private val fetchResultSchema = org.apache.spark.sql.Encoders.product[FetchResult].schema
  private val seenSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("url_hash", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("canonical", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("host_bucket", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("wave", org.apache.spark.sql.types.IntegerType)))

  private val partitioner = new HashPartitioner(cfg.fetchPartitions)

  // ------------------------------------------------------------------
  // checkpointing (north rule: resumable, per-partition lineage + metrics)
  // ------------------------------------------------------------------

  private def writeState(wave: Int, nextSeq: Long, fetched: Long, deduped: Long): Unit = {
    val json = s"""{"wave":$wave,"next_seq":$nextSeq,"fetched":$fetched,"deduped":$deduped,""" +
      s""""reference_order":${cfg.referenceOrder}}"""
    Files.writeString(Paths.get(s"$ckpt/state_w$wave.json"), json)
    Files.writeString(Paths.get(s"$ckpt/LATEST"), wave.toString,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
  }

  /** (next seq, fetched, deduped) of the checkpoint at `wave`. Fails fast
    * when the checkpoint was written in the other mode: the two modes
    * assign seqs and order the frontier differently. */
  private def readState(wave: Int): (Long, Long, Long) = {
    val s = Files.readString(Paths.get(s"$ckpt/state_w$wave.json"))
    def modeName(referenceOrder: Boolean) = if (referenceOrder) "referenceOrder" else "scalable"
    """"reference_order":(true|false)""".r.findFirstMatchIn(s).map(_.group(1).toBoolean)
      .foreach(written => require(written == cfg.referenceOrder,
        s"the checkpoint under $ckpt was written in ${modeName(written)} mode; " +
          s"it cannot resume in ${modeName(cfg.referenceOrder)} mode"))
    def field(k: String): Long = s""""$k":(-?\\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
    (field("next_seq"), field("fetched"), field("deduped"))
  }

  def latestCheckpointWave: Option[Int] = {
    val p = Paths.get(s"$ckpt/LATEST")
    if (Files.exists(p)) Some(Files.readString(p).trim.toInt) else None
  }

  /** Durable seen dirs covering waves ≤ `maxWave`. Two dir kinds under
    * `seen/`: `flush_N` holds the DELTA committed at wave N; `compact_N`
    * holds ALL marks ≤ N (written by [[compactSeen]]). The read set is the
    * newest compact ≤ maxWave (if any) plus every flush strictly newer
    * than it — O(compactSeenAfter) dirs, however many checkpoints the
    * crawl has taken. Bounding by the committed LATEST wave closes the
    * crash window where a seen flush landed but the state file did not
    * (ADVICE r1): resume must never dedup replayed candidates against
    * marks from an uncommitted future flush. */
  private def seenFlushDirs(maxWave: Int): Seq[String] = {
    val dirs = Option(new java.io.File(s"$ckpt/seen").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
    val compacts = dirs.filter(_.getName.startsWith("compact_"))
      .map(f => (f.getName.stripPrefix("compact_").toInt, f.getPath))
      .filter(_._1 <= maxWave)
    val base = if (compacts.isEmpty) -1 else compacts.map(_._1).max
    val baseDir = compacts.filter(_._1 == base).map(_._2).toSeq
    baseDir ++ dirs.filter(_.getName.startsWith("flush_"))
      .map(f => (f.getName.stripPrefix("flush_").toInt, f.getPath))
      .filter(t => t._1 > base && t._1 <= maxWave).sortBy(_._1).map(_._2).toSeq
  }

  /** Merge every live seen dir ≤ `wave` into ONE `compact_$wave` dir when
    * more than `compactSeenAfter` are live. Crash-safe by construction:
    * the union is written OUTSIDE `seen/` and enters it via an atomic
    * rename, so readers only ever see complete dirs; obsolete inputs are
    * deleted AFTER the rename — a crash in between leaves an overlapping
    * union, which is safe (rebuildPartition dedups) and is cleaned by the
    * next compaction. */
  private def compactSeen(wave: Int): Unit = {
    val dirs = seenFlushDirs(wave)
    if (dirs.length <= cfg.compactSeenAfter) return
    val tmp = new java.io.File(s"$ckpt/seen_compacting")
    graft.util.Fs.deleteRecursively(tmp) // orphan from a crashed attempt
    spark.read.schema(seenSchema).parquet(dirs: _*)
      .write.mode(SaveMode.Overwrite).parquet(tmp.getPath)
    java.nio.file.Files.move(tmp.toPath,
      Paths.get(s"$ckpt/seen/compact_$wave"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Option(new java.io.File(s"$ckpt/seen").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
      .filter { f =>
        (f.getName.startsWith("flush_") && f.getName.stripPrefix("flush_").toInt <= wave) ||
          (f.getName.startsWith("compact_") && f.getName.stripPrefix("compact_").toInt < wave)
      }
      .foreach(graft.util.Fs.deleteRecursively)
  }

  /** Seed URLs as wave-0 candidates (parent_seq = listed index, so listed
    * order is the per-host discovery order), deduped on the canonical. */
  private def seedCandidates(seeds: Seq[SeedSpec]): Seq[Candidate] = {
    val buckets = cfg.hostBuckets
    val rows = seeds.zipWithIndex.map { case (s, i) =>
      val canon = UrlCanon.canonicalize(s.url)
      val host = UrlCanon.hostOf(canon)
      Candidate(if (s.url == canon) null else s.url, canon, UrlCanon.urlHash(canon),
        UrlCanon.hostBucket(host, buckets), s.parseFn, s.meta, s.priority,
        parent_seq = i.toLong, emission_idx = 0)
    }
    val seenC = scala.collection.mutable.HashSet[String]()
    rows.filter(r => seenC.add(r.canonical))
  }

  // ------------------------------------------------------------------
  // entry points
  // ------------------------------------------------------------------

  def run(seeds: Seq[SeedSpec]): CrawlRunResult = {
    // the scalable-loop features (S11 cache, live robots, per-host rates,
    // S14 revalidation, crawl budget) have no place in the replay: its
    // contract is Scrapy's exact request sequence (live fetches, robots
    // off, one global rps). Refuse them rather than silently ignore them.
    val scalableOnly = Seq("fetchCacheDir" -> cfg.fetchCacheDir.isDefined,
      "robotsResolve" -> cfg.robotsResolve.isDefined, "hostRps" -> cfg.hostRps.nonEmpty,
      "hostRpsTable" -> cfg.hostRpsTable.isDefined, "revalidateFrom" -> cfg.revalidateFrom.isDefined,
      "maxPagesPerHost" -> (cfg.maxPagesPerHost != Long.MaxValue)).collect { case (k, true) => k }
    require(!cfg.referenceOrder || scalableOnly.isEmpty,
      s"${scalableOnly.mkString(", ")} not supported in referenceOrder mode")
    require(!(cfg.hostRps.nonEmpty && cfg.hostRpsTable.isDefined),
      "hostRps and hostRpsTable are mutually exclusive (use the table " +
        "form at frontier host cardinality)")
    if (cfg.referenceOrder) runReference(seeds) else runScalable(seeds)
  }

  def resume(): CrawlRunResult =
    if (cfg.referenceOrder) resumeReference() else resumeScalable()

  /** All fetched pages of a finished run, in fetch order columns
    * (wave, host, slot). */
  def fetchedTable(): DataFrame = spark.read.schema(fetchResultSchema)
    .option("recursiveFileLookup", "true").parquet(s"$ckpt/fetched")

  private val lineageSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("wave", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("partition_id", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("in_count", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("fetched", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("errors", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("deduped_wave", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("novel_wave", org.apache.spark.sql.types.LongType)))

  /** The flushed per-(wave, partition) lineage rows — the north rule's
    * "per-partition lineage + metrics" as a queryable surface instead of
    * files an operator has to know the layout of. Explicit schema: an
    * interrupted run may leave an empty flush dir (no parquet footer). */
  def lineageTable(): DataFrame = spark.read.schema(lineageSchema)
    .option("recursiveFileLookup", "true").parquet(s"$ckpt/lineage")

  /** Per-wave rollup of [[lineageTable]] with the partition-balance
    * audit: `skew` = max/mean of per-partition input rows for the wave —
    * the number that says whether one hot bucket is stalling the wave
    * barrier (the north star's "hot domains must not straggle" clause,
    * measured instead of hoped). Lineage rows are accumulator-fed
    * (at-least-once under task retry) so a retried wave can repeat a
    * partition row; the rollup takes max per (wave, partition) first,
    * making the report idempotent under retry. */
  def lineageReport(): DataFrame = {
    import org.apache.spark.sql.functions._
    lineageTable()
      .groupBy(col("wave"), col("partition_id"))
      .agg(max(col("in_count")).as("in_count"), max(col("fetched")).as("fetched"),
        max(col("errors")).as("errors"), max(col("deduped_wave")).as("deduped"),
        max(col("novel_wave")).as("novel"))
      .groupBy(col("wave"))
      .agg(
        count(lit(1)).as("n_partitions"),
        sum(col("in_count")).as("in_count"),
        sum(col("fetched")).as("fetched"),
        sum(col("errors")).as("errors"),
        max(col("deduped")).as("deduped"),   // wave-constant, repeated per row
        max(col("novel")).as("novel"),
        round(max(col("in_count")) /
          greatest(avg(col("in_count")), lit(1e-9)), 4).as("skew"))
      .orderBy(col("wave"))
  }

  // ==================================================================
  // scalable path: bucket-partitioned seen-state RDD core
  // ==================================================================

  /** Empty per-bucket state, built in place: partition p holds the
    * buckets the frontier partitioner maps to p, so no shuffle is needed.
    * The RDD itself carries no partitioner; zip it behind a partitioned
    * parent, whose partitioner the zip output keeps. */
  private def emptyStateRdd(part: HashPartitioner = partitioner): RDD[(Int, BucketSeen)] = {
    val nBuckets = cfg.hostBuckets
    sc.parallelize(0 until part.numPartitions, part.numPartitions)
      .mapPartitionsWithIndex((p, _) =>
        (0 until nBuckets).iterator.filter(part.getPartition(_) == p)
          .map(b => (b, BucketSeen(b, new graft.seen.SeenSet128(16), Nil, 0L))))
  }

  /** The wave's candidate shuffle, bucket-partitioned, through the fixed
    * [[CandidateSerializer]] codec rather than the session serializer. */
  private def shuffleCandidates(cands: RDD[(Int, Candidate)]): RDD[(Int, Candidate)] =
    new ShuffledRDD[Int, Candidate, Candidate](cands, partitioner)
      .setSerializer(new CandidateSerializer)

  /** Part files of a checkpoint write of `rows` rows: one per 2^20 rows,
    * at least one, at most one per fetch partition. */
  private def checkpointFiles(rows: Long): Int =
    math.min(cfg.fetchPartitions.toLong, math.max(1L, (rows + (1L << 20) - 1) >> 20)).toInt

  /** Novel rows of a wave output, keyed by bucket with the partitioner
    * preserved — the key keeps deferred∪novel a partitioner-aware union
    * (hosts never span partitions), which the per-host budget relies on. */
  private def novelOf(out: RDD[(Int, BucketWave)]): RDD[(Int, UrlRecord)] =
    out.mapPartitions(
      _.flatMap { case (b, bw) => bw.novel.iterator.map(r => (b, r)) },
      preservesPartitioning = true)

  /** CHANGELOG seen flush: writes only the log chunks created after
    * `sinceWave` (the last flushed wave) — checkpoint write size is
    * O(novel since last flush), never O(accumulated seen). Resume unions
    * all flush dirs ≤ LATEST; the committed-LATEST bound keeps a flush
    * that landed without its state file invisible (and resume deletes such
    * orphans so a replay at different wave numbers can't double them).
    *
    * The pending and seen writes are sized to their rows: `pendingRows`
    * (exact) and `novelRows` (the novel counts since `sinceWave`) pick
    * [[checkpointFiles]] part files, so a small wave writes one file in
    * one task instead of one per fetch partition. Both inputs are already
    * materialized (the localCheckpointed wave output, the persisted
    * pending union), so the coalesce only merges cached blocks. */
  private def writeScalableCheckpoint(
      wave: Int,
      state: RDD[(Int, BucketSeen)],
      pending: RDD[(Int, UrlRecord)],
      pendingRows: Long,
      novelRows: Long,
      nextSeq: Long,
      totalFetched: Long,
      totalDeduped: Long,
      sinceWave: Int): Unit = {
    spark.createDataset(pending.values.coalesce(checkpointFiles(pendingRows)))
      .write.mode(SaveMode.Overwrite).parquet(s"$ckpt/pending_w$wave")
    val seenRows = state.coalesce(checkpointFiles(novelRows)).flatMap { case (b, st) =>
      st.log.iterator.filter(_.wave > sinceWave).flatMap(ch =>
        (0 until ch.size).iterator.map(i => (ch.hashes(i), ch.canonical(i), b, ch.wave)))
    }
    spark.createDataset(seenRows)
      .toDF("url_hash", "canonical", "host_bucket", "wave")
      .write.mode(SaveMode.Overwrite).parquet(s"$ckpt/seen/flush_$wave")
    // realtime politeness continuity across resume: persist the per-host
    // pace map (O(hosts) rows — tiny next to the seen flush). Simulated
    // mode carries no pace, so the bench path skips the extra write job.
    if (cfg.realtime) {
      val paceRows = state.flatMap { case (b, st) =>
        st.pace.iterator.map { case (h, ms) => (b, h, ms) }
      }
      spark.createDataset(paceRows)
        .toDF("host_bucket", "host_hash", "next_allowed_ms")
        .write.mode(SaveMode.Overwrite).parquet(s"$ckpt/pace_w$wave")
    }
    // crawl-budget continuity across resume: persist per-host admission
    // counts (O(hosts) rows; written only when the budget is active)
    if (cfg.maxPagesPerHost != Long.MaxValue) {
      val hostNRows = state.flatMap { case (b, st) =>
        st.hostN.iterator.map { case (h, n) => (b, h, n) }
      }
      spark.createDataset(hostNRows)
        .toDF("host_bucket", "host_hash", "admitted")
        .write.mode(SaveMode.Overwrite).parquet(s"$ckpt/hostn_w$wave")
    }
    writeState(wave, nextSeq, totalFetched, totalDeduped)
    // AFTER the commit (LATEST now points at `wave`): obsolete per-wave
    // artifacts die here — resume reads only the committed wave's
    // pending/pace, and leaving one dir per checkpoint ever taken is the
    // same unbounded accumulation compactSeen exists to prevent
    val dir = new java.io.File(ckpt)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val nm = f.getName
        (nm.startsWith("pending_w") && nm.stripPrefix("pending_w").toIntOption.exists(_ < wave)) ||
          (nm.startsWith("pace_w") && nm.stripPrefix("pace_w").toIntOption.exists(_ < wave)) ||
          (nm.startsWith("hostn_w") && nm.stripPrefix("hostn_w").toIntOption.exists(_ < wave))
      }
      .foreach(graft.util.Fs.deleteRecursively)
    // compaction must only ever cover committed flushes
    compactSeen(wave)
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
    *  - `fetched/` is cleared too (fetchedTable() must not union a dead
    *    run's waves), unless the fetch cache reads from inside this very
    *    checkpoint dir. */
  private def clearStaleRun(): Unit = {
    val dir = new java.io.File(ckpt)
    new java.io.File(dir, "LATEST").delete()
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("state_w") || f.getName.startsWith("pending_w") ||
        f.getName.startsWith("pace_w") || f.getName.startsWith("hostn_w"))
      .foreach(graft.util.Fs.deleteRecursively)
    graft.util.Fs.deleteRecursively(new java.io.File(dir, "seen"))
    graft.util.Fs.deleteRecursively(new java.io.File(dir, "seen_compacting"))
    graft.util.Fs.deleteRecursively(new java.io.File(dir, "lineage"))
    val cacheInside = cfg.fetchCacheDir.exists(d =>
      new java.io.File(d).getCanonicalPath.startsWith(dir.getCanonicalPath))
    if (!cacheInside) graft.util.Fs.deleteRecursively(new java.io.File(dir, "fetched"))
  }

  private def runScalable(seeds: Seq[SeedSpec]): CrawlRunResult = {
    Files.createDirectories(Paths.get(ckpt))
    clearStaleRun()
    val nB = cfg.hostBuckets.toLong
    val maxPerHostB = cfg.maxPagesPerHost // local: closures must not capture `this`
    val seedCands = shuffleCandidates(
      sc.parallelize(seedCandidates(seeds), cfg.fetchPartitions).map(c => (c.host_bucket, c)))
    // the seed wave runs through the same advance pass as every other wave:
    // seeds are marked seen at enqueue and get interleaved seqs
    val out0 = seedCands.zipPartitions(emptyStateRdd(), preservesPartitioning = true) {
      (cd, st) => WaveCore.advancePartition(st, cd, base = 0L, newWave = 0,
        seedWave = true, nBuckets = nB, maxPerHost = maxPerHostB)
    }
    out0.localCheckpoint()
    val nSeeds = out0.map(_._2.novel.length.toLong).reduce(_ + _)
    val nextSeq = (nSeeds + 1) * nB
    val state0 = out0.mapValues(_.state)
    val pending0 = novelOf(out0)
    writeScalableCheckpoint(0, state0, pending0, nSeeds, nSeeds, nextSeq, 0L, 0L,
      sinceWave = -1)
    loopScalable(0, out0, pending0, None, nextSeq, 0L, 0L, lastFlushed0 = 0)
  }

  /** Reads the committed checkpoint (LATEST): (wave, next seq, fetched,
    * deduped, bucket states rebuilt from the seen changelog, pending rows),
    * keyed by bucket under `part` — the frontier partitioner for the
    * scalable loop, one partition for the reference-order replay. */
  private def readCheckpoint(part: HashPartitioner)
      : (Int, Long, Long, Long, RDD[(Int, BucketWave)], RDD[(Int, UrlRecord)]) = {
    val wave = latestCheckpointWave.getOrElse(
      throw new IllegalStateException(s"no checkpoint under $ckpt"))
    val (nextSeq, fetched, deduped) = readState(wave)
    // delete orphan flushes from a crash window (flush landed, state file
    // did not): a replay may checkpoint at different wave numbers, and a
    // later resume must never union stale marks twice
    Option(new java.io.File(s"$ckpt/seen").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
      .filter(f => f.getName.stripPrefix("flush_").stripPrefix("compact_").toInt > wave)
      .foreach(graft.util.Fs.deleteRecursively)
    // the durable seen set = UNION of all changelog flushes ≤ the
    // committed wave (each flush carries only the delta since its
    // predecessor); rebuildPartition dedups, so a replayed overlap is safe
    val dirs = seenFlushDirs(wave)
    val seenRows: RDD[(Int, (Long, String))] =
      if (dirs.isEmpty) sc.emptyRDD[(Int, (Long, String))].partitionBy(part)
      else spark.read.schema(seenSchema).parquet(dirs: _*)
        .select($"host_bucket", $"url_hash", $"canonical")
        .as[(Int, Long, String)].rdd
        .map { case (b, h, c) => (b, (h, c)) }
        .partitionBy(part)
    def hostPlane(dir: String, value: String): RDD[(Int, (Long, Long))] =
      if (!new java.io.File(dir).isDirectory) sc.emptyRDD[(Int, (Long, Long))].partitionBy(part)
      else spark.read.parquet(dir)
        .select($"host_bucket", $"host_hash", col(value))
        .as[(Int, Long, Long)].rdd
        .map { case (b, h, v) => (b, (h, v)) }
        .partitionBy(part)
    // restore the per-host pace map (absent for simulated-mode checkpoints
    // and checkpoints from before the pace file existed → empty, the
    // pre-round-4 behavior)
    val paceRows = hostPlane(s"$ckpt/pace_w$wave", "next_allowed_ms")
    // per-host crawl-budget counts (absent when the budget is off)
    val hostNRows = hostPlane(s"$ckpt/hostn_w$wave", "admitted")
    val out = seenRows.zipPartitions(paceRows, hostNRows, emptyStateRdd(part),
        preservesPartitioning = true) {
      (rows, pace, hostn, st) =>
        WaveCore.rebuildPartition(st, rows, wave, pace, hostn)
    }
    val pending = spark.read.schema(urlRecordSchema)
      .parquet(s"$ckpt/pending_w$wave").as[UrlRecord].rdd
      .map(r => (r.host_bucket, r)).partitionBy(part)
    (wave, nextSeq, fetched, deduped, out, pending)
  }

  private def resumeScalable(): CrawlRunResult = {
    val (wave, nextSeq, fetched, deduped, out0, pending) = readCheckpoint(partitioner)
    out0.localCheckpoint()
    out0.count()
    val pendingKeyed = pending.persist(StorageLevel.MEMORY_AND_DISK)
    loopScalable(wave, out0, pendingKeyed, Some(pendingKeyed), nextSeq, fetched, deduped,
      lastFlushed0 = wave)
  }

  /**
   * The scalable wave loop. Per wave: one candidate shuffle (through the
   * [[CandidateSerializer]] codec), one materializing action (the
   * per-bucket novel/candidate counts, which also populates the
   * localCheckpoint blocks), plus the optional fetched table write. No
   * driver-side collect of state, no broadcast. A checkpoint's pending
   * and seen writes are sized by the counts the driver already holds (the
   * exact pending count, the novel counts since the last flush).
   */
  private def loopScalable(
      startWave: Int,
      out0: RDD[(Int, BucketWave)],
      pending0: RDD[(Int, UrlRecord)],
      pending0Retained: Option[RDD[_]],
      nextSeq0: Long,
      fetched0: Long,
      deduped0: Long,
      lastFlushed0: Int): CrawlRunResult = {
    val t0 = System.currentTimeMillis()
    val nB = cfg.hostBuckets.toLong
    var wave = startWave
    var lastFlushed = lastFlushed0
    var novelSinceFlush = 0L // sizes the next seen flush
    var nextSeq = nextSeq0
    var totalFetched = fetched0
    var totalDeduped = deduped0
    val lineageBuf = scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Long, Long, Long, Long)]()

    // locals for task closures (never capture `this`)
    val parsersB = sc.broadcast(parsers)
    val buckets = cfg.hostBuckets
    val robotsEnabled = cfg.robotsEnabled
    // rules for hosts discovered mid-crawl extend these maps at the wave
    // boundary (see the hook at the top of the loop); static when no
    // resolver is configured — the common paths never touch them
    var robotsMap = cfg.robotsDisallow
    // in table mode this map holds ONLY mid-crawl robots deltas (it
    // starts empty — the requires forbid combining it with the table);
    // consumers min-compose it with each row's stamped table rate
    var hostRpsMap = cfg.hostRps
    // table-valued pacing plane: bucket-keyed with the frontier's OWN
    // partitioner, so each task's zipPartitions sees exactly its
    // buckets' hosts — the rate plane never rides a task closure and
    // never lives on the driver. Computed once, reused every wave.
    val tablePaced = cfg.hostRpsTable.isDefined
    val hostRpsRdd: Option[RDD[(Int, (String, Double))]] =
      cfg.hostRpsTable.map { df =>
        // validate up front, FAIL-FAST: a null host NPEs inside the
        // partitionBy, and rps <= 0 turns into an infinite per-fetch
        // delay that hangs a realtime partition (and the wave barrier)
        // forever. Silently FILTERING a bad row would be worse than
        // failing — a host whose rps was mistyped to 0/negative would
        // fall back to the DEFAULT (faster) pacing, a politeness
        // violation the operator never sees; a malformed plane aborts
        // the crawl with a row-precise message instead.
        val r = df.select(df("host").cast("string"), df("rps").cast("double"))
          .rdd.map { row =>
            require(!row.isNullAt(0),
              "hostRpsTable row with null host")
            require(!row.isNullAt(1) && row.getDouble(1) > 0,
              s"hostRpsTable row for host '${row.getString(0)}' has " +
                s"invalid rps ${if (row.isNullAt(1)) "null" else row.getDouble(1)} (must be > 0)")
            (UrlCanon.hostBucket(row.getString(0), buckets),
              (row.getString(0), row.getDouble(1)))
          }
          .partitionBy(partitioner)
          .persist(StorageLevel.MEMORY_AND_DISK)
        r.count() // materialize once, ahead of the first wave
        r
      }
    // every host resolves its robots exactly once, INCLUDING hosts with
    // static entries — a static rps override must not suppress a live
    // Disallow, nor a static Disallow a live Crawl-delay (resolution
    // UNIONS into the static maps, never replaces)
    var robotsResolved: Set[String] = Set.empty
    val maxPerHost = cfg.maxPerHostPerWave
    val maxPerHostB = cfg.maxPagesPerHost // whole-crawl budget (trap guard)
    val fetcherL = fetcher
    val rps = cfg.politenessRps
    val realtime = cfg.realtime

    var out = out0 // holds current state (+ last wave's novel); localCheckpointed
    var state = out0.mapValues(_.state)
    var pending = pending0
    var pendingRetained: Option[RDD[_]] = pending0Retained
    // rows not yet host-scanned by the robots hook: the carried frontier on
    // the first iteration, then only each wave's novel rows — deferred rows
    // were scanned when they first entered pending, so re-scanning the
    // whole frontier every wave would be pure waste
    var hostScan: RDD[(Int, UrlRecord)] = pending0

    // S11 fetch cache: fresh rows of a prior run's fetched table
    val cacheDF: Option[DataFrame] = cfg.fetchCacheDir.map { dir =>
      val cutoff = System.currentTimeMillis() - cfg.cacheTtlSec * 1000L
      // TTL on the WALL-CLOCK store time — never the politeness-plan stamp
      // (simulated-mode fetched_at_ms are wave-indexed planned times that
      // outrun the wall clock on any warm run)
      spark.read.schema(fetchResultSchema)
        .option("recursiveFileLookup", "true").parquet(dir)
        .filter($"stored_at_ms" >= cutoff && $"status" >= 200 && $"status" < 300)
        .select($"url_hash", $"canonical".as("c_canonical"), $"status".as("c_status"),
          $"fetched_at_ms".as("c_fetched_at_ms"), $"stored_at_ms".as("c_stored_at_ms"),
          $"doc_id".as("c_doc_id"),
          $"spans".as("c_spans"),
          // binary plane: media rows cache like pages (prior-run parquet
          // without these columns reads them as null — schema-on-read)
          $"media_type".as("c_media_type"), $"media_bytes".as("c_media_bytes"))
        .dropDuplicates("url_hash", "c_canonical")
        .cache()
    }

    // S14 validator plane: one (url_hash, canonical, v_hash) row per page
    // the prior run fetched successfully — latest (wave, seq) copy wins.
    // Fixed-width (8-byte hash of the spans, never the spans) and cached:
    // at the 10^10-URL design point this is the only state the refresh
    // crawl holds about prior content, and it is O(urls), not O(corpus).
    val validatorDF: Option[DataFrame] = cfg.revalidateFrom.map { dir =>
      spark.read.schema(fetchResultSchema)
        .option("recursiveFileLookup", "true").parquet(dir)
        .filter($"status" >= 200 && $"status" < 300 &&
          $"parse_fn" =!= WaveCore.MediaFn)
        .groupBy($"url_hash", $"canonical")
        .agg(max_by(graft.model.SpanHash.column($"spans"),
          struct($"wave", $"seq")).as("v_hash"))
        .cache()
    }

    var batchCount = pending.count() // exact: every batch row yields one FetchResult
    var done = batchCount == 0
    while (!done && wave < cfg.maxWaves && totalFetched < cfg.maxUrls) {
      val tW0 = System.currentTimeMillis()
      val waveStartMs =
        if (realtime) System.currentTimeMillis() else t0 + wave.toLong * 1000L
      val fetchWave = wave

      // S12 mid-crawl host discovery: resolve robots for hosts making
      // their first frontier appearance, then drop this wave's pending
      // rows the new rules forbid (their candidate-emission gate
      // necessarily ran before the rules existed). Costs one tiny
      // driver-side job per wave — O(distinct hosts) strings — on the
      // robots-enabled-with-resolver path only, plus one re-count on the
      // rare wave where a newly resolved host actually carries rules.
      if (robotsEnabled && cfg.robotsResolve.isDefined) {
        // (host, origin) pairs carry the scheme+port each host was
        // actually discovered under — hostOf strips ports from gate keys,
        // and "https://host/robots.txt" would miss http-only or
        // non-default-port sites entirely
        val hostOrigins = hostScan.map { case (_, r) =>
          val p = UrlCanon.parse(r.canonical)
          val origin =
            if (p.scheme != null && p.authority != null) p.scheme + "://" + p.authority
            else "https://" + r.host
          (r.host, origin)
        }.distinct().collect()
        val novel = hostOrigins.filter(ho => !robotsResolved(ho._1))
        if (novel.nonEmpty) {
          robotsResolved ++= novel.map(_._1)
          // a host seen under several origins resolves them all — the
          // policies union per gate key (conservative)
          val policies = cfg.robotsResolve.get(novel.map(_._2).distinct.sorted.toSeq)
          policies.foreach { case (h, p) =>
            // Crawl-delay clamped (a hostile 24h delay must not stall the
            // wave barrier) and only ever SLOWING the host's current pace
            // — robots cannot grant more than the operator configured
            p.crawlDelaySec.foreach { d0 =>
              val d = math.min(d0, cfg.maxRobotsDelaySec)
              // table mode: record the delta unconditionally vs the map's
              // own prior (consumers min-compose with the stamped table
              // rate, so robots still only ever SLOWS the host); map
              // mode: unchanged — write only if slower than effective
              val cur =
                if (tablePaced) hostRpsMap.getOrElse(h, Double.MaxValue)
                else hostRpsMap.getOrElse(h, rps)
              if (d > 0 && 1.0 / d < cur)
                hostRpsMap += h -> 1.0 / d
            }
          }
          val newRules = policies.collect {
            case (h, p) if p.disallow.nonEmpty =>
              // UNION with any static prefixes — live resolution must
              // never widen what an operator already forbade
              h -> (robotsMap.getOrElse(h, Nil) ++ p.disallow).distinct
          }
          if (newRules.nonEmpty) {
            robotsMap ++= newRules
            val gate = newRules // local: the closure must not capture vars
            val gated = pending.filter { case (_, r) =>
              gate.get(r.host) match {
                case None => true
                case Some(prefixes) => // parse once per row, not per prefix
                  val path = UrlCanon.parse(r.canonical).path
                  !prefixes.exists(path.startsWith)
              }
            }.persist(StorageLevel.MEMORY_AND_DISK)
            batchCount = gated.count()
            pendingRetained.foreach(_.unpersist(blocking = false))
            pending = gated
            pendingRetained = Some(gated: RDD[_])
            // batchCount may now be 0: the wave runs empty and the loop's
            // own exit condition fires at its end — no special case
          }
        }
      }
      // per-wave snapshots for the task closures (the vars above advance)
      val robotsW = robotsMap
      val hostRpsW = hostRpsMap

      // table-valued pacing: stamp each pending row's base rate from the
      // co-partitioned rate plane — zipPartitions, zero shuffle, and the
      // only per-task state is the PARTITION's own hosts. Idempotent
      // across waves (deferred rows re-stamp the same value); None = the
      // bench/map paths, untouched.
      val pendingW = hostRpsRdd match {
        case None => pending
        case Some(rates) =>
          pending.zipPartitions(rates, preservesPartitioning = true) { (it, rs) =>
            val m = new java.util.HashMap[String, String]()
            rs.foreach { case (_, (h, rr)) => m.put(h, rr.toString) }
            it.map { case (b, r) =>
              val v = m.get(r.host)
              if (v == null) (b, r)
              else (b, r.copy(meta = r.meta + (WaveCore.RpsKey -> v)))
            }
          }
      }

      // batch selection: per-host politeness budget, partition-local
      // (hosts never span buckets, buckets never span partitions). The
      // per-host groupBy+sort runs ONCE, persisted tagged — batch (fetch
      // job), its count, and the deferred complement all read the cached
      // selection instead of re-sorting the partition three times.
      // a host paced SLOWER than the global rps (robots Crawl-delay)
      // additionally caps at ~maxHostWaveStallSec of sequential sleeping
      // per wave — delay × budget is what stalls the wave barrier, and
      // the per-fetch clamp alone can't bound it. Realtime-only: in
      // simulated mode nothing sleeps, and the scalar no-override path
      // (the bench job) keeps the budget a plain constant.
      val stallSec = cfg.maxHostWaveStallSec
      // budget from a representative ROW (not just the host): in table
      // mode the base rate rides the row's stamped meta, so the budget
      // function needs no host→rate map of any size
      val slowHostBudget: UrlRecord => Int =
        if (!realtime || (hostRpsW.isEmpty && !tablePaced)) _ => maxPerHost
        else { r0 =>
          val hr =
            if (tablePaced) {
              val base = r0.meta.get(WaveCore.RpsKey) match {
                case Some(v) => java.lang.Double.parseDouble(v)
                case None => rps
              }
              if (hostRpsW.isEmpty) base
              else math.min(base, hostRpsW.getOrElse(r0.host, Double.MaxValue))
            } else hostRpsW.getOrElse(r0.host, rps)
          if (hr >= rps) maxPerHost
          else math.min(maxPerHost.toLong,
            math.max(1L, math.floor(stallSec * hr).toLong)).toInt
        }
      val needBudget = maxPerHost != Int.MaxValue ||
        (realtime && (hostRpsW.exists(_._2 < rps) || tablePaced))
      val (batch, deferred, waveBatchCount, selRetained) =
        if (!needBudget) (pendingW.values, None, batchCount, None)
        else {
          val sel = pendingW.mapPartitions(it =>
            it.map(_._2).toArray.groupBy(_.host).valuesIterator.flatMap { rows =>
              val budget = slowHostBudget(rows.head)
              rows.sortBy(r => (-r.priority, r.seq)).iterator.zipWithIndex
                .map { case (r, i) => (i < budget, r) }
            },
            preservesPartitioning = true)
            .persist(StorageLevel.MEMORY_AND_DISK_SER)
          val b = sel.mapPartitions(_.collect { case (true, r) => r },
            preservesPartitioning = true)
          val d = sel.mapPartitions(_.collect { case (false, r) => (r.host_bucket, r) },
            preservesPartitioning = true)
          (b, Some(d), b.count(), Some(sel: RDD[_]))
        }

      // per-partition lineage via accumulator (at-least-once under task
      // retry — documented; headline totals are exact counts below)
      val lineageAcc = new CollectionAccumulator[(Int, Long, Long, Long)]()
      sc.register(lineageAcc, s"lineage_w$wave")

      // live-fetch an already-bucket-partitioned batch with politeness
      // slots. In realtime mode each host's first slot is seeded from the
      // carried per-host next-allowed time (cross-wave politeness
      // continuity); the pace map rides the already-persisted state
      // blocks, and simulated mode skips that read entirely.
      def liveFetch(rows: RDD[UrlRecord]): RDD[FetchResult] =
        if (realtime)
          state.zipPartitions(rows) { (st, it) =>
            var pace = Map.empty[Long, Long]
            st.foreach { case (_, bs) =>
              pace = bs.pace.foldLeft(pace) { case (m, (h, ms)) =>
                m.updatedWith(h)(prev => Some(math.max(prev.getOrElse(0L), ms)))
              }
            }
            WaveCore.fetchIter(it, fetcherL, rps, realtime, fetchWave, waveStartMs,
              lineageAcc, pace, hostRpsW, tablePaced)
          }
        else rows.mapPartitions(it =>
          WaveCore.fetchIter(it, fetcherL, rps, realtime, fetchWave, waveStartMs,
            lineageAcc, hostRps = hostRpsW, tablePaced = tablePaced))

      // S14: stamp each live-fetch row with its stored validator (left
      // join on the O(urls) validator plane; rows the prior run never saw
      // pass through unstamped → ordinary full fetch). The join breaks the
      // host-bucket partitioning, so rows re-bucket after — one extra
      // fixed-width shuffle of THIS WAVE's rows, only on the
      // revalidateFrom path (None = identity, the bench loop untouched).
      def attachValidators(rows: RDD[UrlRecord]): RDD[UrlRecord] =
        validatorDF match {
          case None => rows
          case Some(vd) =>
            val ds = spark.createDataset(rows)
            ds.joinWith(vd,
                ds("url_hash") === vd("url_hash") &&
                  ds("canonical") === vd("canonical"), "left_outer")
              .map { case (r, v) =>
                if (v == null) r
                else r.copy(meta =
                  r.meta + (Sources.IfHashKey -> v.getAs[Long]("v_hash").toString))
              }
              .rdd.map(r => (r.host_bucket, r)).partitionBy(partitioner).values
        }

      // fetch (serving fresh cache hits without politeness slots — S11)
      val fetchedRdd: RDD[FetchResult] = cacheDF match {
        case None => liveFetch(attachValidators(batch))
        case Some(cache) =>
          val batchDS = spark.createDataset(batch)
          val hits = batchDS.joinWith(cache,
              batchDS("url_hash") === cache("url_hash") &&
                batchDS("canonical") === cache("c_canonical"))
            .map { case (r, c) =>
              FetchResult(r.url, r.canonical, r.url_hash, r.host, r.host_bucket,
                r.parse_fn, r.meta, fetchWave, r.seq,
                status = c.getAs[Int]("c_status"), from_cache = true,
                fetched_at_ms = c.getAs[Long]("c_fetched_at_ms"),
                // original write time survives: a chain of cache-served
                // runs ages the entry from its REAL fetch, never refreshes
                stored_at_ms = c.getAs[Long]("c_stored_at_ms"), slot = -1,
                partition_id = -1, doc_id = c.getAs[String]("c_doc_id"),
                spans = c.getAs[scala.collection.Seq[Row]]("c_spans")
                  .map(sp => Span(sp.getAs[String]("kind"), sp.getAs[String]("text"),
                    sp.getAs[String]("media_ref"), sp.getAs[Int]("offset"))).toSeq,
                media_type = c.getAs[String]("c_media_type"),
                media_bytes = c.getAs[Array[Byte]]("c_media_bytes"))
            }.rdd
          val misses = batchDS.join(
              cache.select($"url_hash", $"c_canonical".as("canonical")),
              Seq("url_hash", "canonical"), "left_anti")
            .as[UrlRecord].rdd
            .map(r => (r.host_bucket, r)).partitionBy(partitioner).values
          // cache misses go through the same pace-seeded live fetch, so
          // realtime politeness continuity holds on the S11 path too;
          // with S14 configured, only the misses revalidate (hits never
          // touch the network at all)
          liveFetch(attachValidators(misses)).union(hits)
      }
      val fetched =
        if (cfg.keepFetched) {
          val f = fetchedRdd.persist(StorageLevel.MEMORY_AND_DISK)
          spark.createDataset(f).write.mode(SaveMode.Overwrite)
            .parquet(s"$ckpt/fetched/wave_$wave")
          // interleaved media plane: CAS-ingest this wave's media bytes
          // (idempotent — a replayed wave re-ingests into the same store
          // and the key-plane anti-join drops every row)
          cfg.mediaStoreDir.foreach(dir =>
            graft.sinks.MediaStore.ingestWave(spark, spark.createDataset(f).toDF(), dir))
          f
        } else fetchedRdd

      // parse → candidates → the wave's ONE shuffle (bucket-partitioned,
      // sized by the wave, never by the accumulated seen set). In realtime
      // mode the parse stage also emits one pace mark per host (its
      // last fetch time + 1/rps) so the state advance can carry per-host
      // next-allowed times into the next wave — O(hosts) extra shuffle
      // rows, nothing on the simulated/bench path.
      val candsRaw: RDD[(Int, Candidate)] =
        if (realtime) fetched.mapPartitions { it =>
          // third element: the row-stamped table rate (null = none) so the
          // pace mark can min-compose without any host→rate map in scope
          val lastMs = new java.util.HashMap[String, (Int, Long, String)]()
          val main = WaveCore.combineCandidates(it.flatMap { fr =>
            val prev = lastMs.get(fr.host)
            if (prev == null || prev._2 < fr.fetched_at_ms)
              lastMs.put(fr.host, (fr.host_bucket, fr.fetched_at_ms,
                if (tablePaced) fr.meta.getOrElse(WaveCore.RpsKey, null) else null))
            WaveCore.candidateIter(fr, parsersB.value, buckets, robotsEnabled, robotsW)
          }).map(c => (c.host_bucket, c))
          // ++ is by-name: the marks build AFTER `main` is exhausted
          main ++ lastMs.entrySet().iterator().asScala.map { e =>
            val (b, ms, stamp) = e.getValue
            val eff =
              if (tablePaced) {
                val base =
                  if (stamp == null) rps else java.lang.Double.parseDouble(stamp)
                if (hostRpsW.isEmpty) base
                else math.min(base, hostRpsW.getOrElse(e.getKey, Double.MaxValue))
              } else if (hostRpsW.isEmpty) rps
              else hostRpsW.getOrElse(e.getKey, rps)
            val hostMs = math.round(1000.0 / eff)
            (b, WaveCore.paceMark(e.getKey, b, ms + hostMs))
          }
        }
        else fetched.mapPartitions(it =>
          WaveCore.combineCandidates(it.flatMap(fr =>
              WaveCore.candidateIter(fr, parsersB.value, buckets, robotsEnabled, robotsW)))
            .map(c => (c.host_bucket, c)))
      val cands = shuffleCandidates(candsRaw)

      // advance the seen state: dedup + seq + seen-set add in one pass
      val base = nextSeq
      val w1 = wave + 1
      val newOut = state.zipPartitions(cands, preservesPartitioning = true) { (st, cd) =>
        WaveCore.advancePartition(st, cd, base, w1, seedWave = false, nBuckets = nB,
          maxPerHost = maxPerHostB)
      }
      // DESERIALIZED storage: since the state became packed primitive
      // chunks (SeenChunk/SeenSet128 — no per-URL objects),
      // keeping the blocks live costs the GC O(chunks) per bucket, and
      // persist stores references instead of re-serializing the whole
      // accumulated seen state every wave (the r2 SER level paid an
      // O(seen)-byte Kryo pass per wave; with the old String-array logs
      // SER was the right call — millions of live objects dominated
      // young-GC copy time — but that object graph no longer exists)
      newOut.persist(StorageLevel.MEMORY_AND_DISK)
      newOut.localCheckpoint()
      val (novelCount, emitted) = newOut
        .map { case (_, bw) => (bw.novel.length.toLong, bw.nCandidates) }
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2)) // the materializing action

      nextSeq += (novelCount + 1) * nB
      totalFetched += waveBatchCount
      val dedupedCount = emitted - novelCount // exact: both from the same pass
      totalDeduped += dedupedCount
      novelSinceFlush += novelCount
      lineageAcc.value.asScala.foreach { case (pid, in, ok, err) =>
        lineageBuf += ((wave, pid, in, ok, err, dedupedCount, novelCount))
      }

      // next pending = deferred ∪ novel (same partitioner → the union is
      // partitioner-aware: partition count stays fixed, hosts stay whole)
      val (newPending, newRetained, newBatchCount) = deferred match {
        case None => (novelOf(newOut), None, novelCount)
        case Some(d) =>
          val np = d.union(novelOf(newOut)).persist(StorageLevel.MEMORY_AND_DISK)
          val n = np.count()
          (np, Some(np: RDD[_]), n)
      }

      if (sys.env.contains("GRAFT_DEBUG"))
        println(s"DBG wave=$wave fetched=$batchCount novel=$novelCount " +
          s"deduped=$dedupedCount tWave=${System.currentTimeMillis() - tW0}ms")

      // release the previous wave (this wave's zip has been materialized)
      if (cfg.keepFetched) fetched.unpersist(blocking = false)
      out.unpersist(blocking = false)
      pendingRetained.foreach(_.unpersist(blocking = false))
      // the tagged selection was fully consumed by the fetch job and the
      // deferred-union count above
      selRetained.foreach(_.unpersist(blocking = false))
      out = newOut
      state = newOut.mapValues(_.state)
      pending = newPending
      pendingRetained = newRetained
      hostScan = novelOf(newOut) // next wave's robots hook scans only these
      batchCount = newBatchCount
      done = newBatchCount == 0
      wave += 1

      if (wave % cfg.checkpointEvery == 0 || done) {
        writeScalableCheckpoint(wave, state, pending, batchCount, novelSinceFlush, nextSeq,
          totalFetched, totalDeduped, sinceWave = lastFlushed)
        lastFlushed = wave
        novelSinceFlush = 0L
        flushLineage(wave, lineageBuf)
      }
    }
    if (latestCheckpointWave.forall(_ < wave)) {
      // loop exited on maxWaves/maxUrls between checkpoints
      writeScalableCheckpoint(wave, state, pending, batchCount, novelSinceFlush, nextSeq,
        totalFetched, totalDeduped, sinceWave = lastFlushed)
      lastFlushed = wave
      flushLineage(wave, lineageBuf)
    }
    val totalSeen = state.map(_._2.count).reduce(_ + _)
    hostRpsRdd.foreach(_.unpersist(blocking = false))
    val elapsed = System.currentTimeMillis() - t0
    CrawlRunResult(wave - startWave, totalFetched, totalDeduped, totalSeen, elapsed)
  }

  private def flushLineage(
      wave: Int,
      buf: scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Long, Long, Long, Long)]): Unit = {
    if (buf.nonEmpty) {
      spark.createDataset(buf.toSeq)
        .toDF("wave", "partition_id", "in_count", "fetched", "errors", "deduped_wave", "novel_wave")
        .write.mode(SaveMode.Overwrite).parquet(s"$ckpt/lineage/upto_$wave")
      buf.clear()
    }
  }

  // ==================================================================
  // reference-order (Scrapy LIFO) replay: one task per checkpoint interval
  // ==================================================================

  /** A fresh replay commits the wave-0 checkpoint (the start requests,
    * no seen marks) and resumes from it: one start path, one reader. */
  private def runReference(seeds: Seq[SeedSpec]): CrawlRunResult = {
    Files.createDirectories(Paths.get(ckpt))
    clearStaleRun()
    // start requests queue unmarked: Scrapy fingerprints one only when it
    // is consumed, so a link-discovered copy can pre-empt it
    val seedRows = seedCandidates(seeds).map { c =>
      UrlRecord(c.urlOrCanonical, c.canonical, c.url_hash, UrlCanon.hostOf(c.canonical),
        c.host_bucket, c.parse_fn, c.meta, c.priority, is_seed = true, wave = 0, seq = c.parent_seq)
    }
    spark.createDataset(seedRows).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$ckpt/pending_w0")
    // seed seqs are listed indexes, so follow-up seqs start past the list
    writeState(0, seeds.length.toLong, 0L, 0L)
    resumeReference()
  }

  private def resumeReference(): CrawlRunResult = {
    val (wave, nextSeq, fetched, deduped, out0, pending) = readCheckpoint(new HashPartitioner(1))
    val st0 = out0.zipPartitions(pending) { (bs, rows) =>
      Iterator.single(RefState(bs.map(_._2.state).toArray.sortBy(_.bucket),
        rows.map(_._2).toArray, nextSeq))
    }
    loopReference(wave, st0, fetched, deduped)
  }

  /**
   * The reference-order loop: one Spark task per checkpoint interval, each
   * running [[WaveCore.referenceInterval]] over the previous interval's
   * one-partition output, pinned with localCheckpoint like the scalable
   * loop's `out`. Per interval: the interval job, which also returns the
   * task's lineage rows (one per pop, exactly once); one
   * `fetched/wave_<first pop>` dir; the checkpoint; the lineage write. The
   * job count per interval does not depend on the pages it fetches.
   */
  private def loopReference(startWave: Int, st0: RDD[RefState], fetched0: Long,
      deduped0: Long): CrawlRunResult = {
    val t0 = System.currentTimeMillis()
    // locals for task closures (never capture `this`)
    val parsersB = sc.broadcast(parsers)
    val (fetcherL, robotsEnabled, robots) = (fetcher, cfg.robotsEnabled, cfg.robotsDisallow)
    val (rps, realtime, keepFetched) = (cfg.politenessRps, cfg.realtime, cfg.keepFetched)
    var wave = startWave
    var totalFetched = fetched0
    var totalDeduped = deduped0
    var st = st0
    var done = false
    while (!done && wave < cfg.maxWaves && totalFetched < cfg.maxUrls) {
      val start = wave
      val end = math.min(cfg.maxWaves.toLong,
        (start / cfg.checkpointEvery + 1).toLong * cfg.checkpointEvery).toInt
      val maxPops = cfg.maxUrls - totalFetched
      val next = st.map(WaveCore.referenceInterval(_, fetcherL, parsersB.value, robotsEnabled,
        robots, rps, realtime, t0, start, end, maxPops, keepFetched))
      next.persist(StorageLevel.MEMORY_AND_DISK)
      next.localCheckpoint()
      val (lineage, pendingRows, nextSeq) = next
        .map(s => (s.lineage, s.queued.length.toLong, s.nextSeq)).collect()(0) // materializes
      st.unpersist(blocking = false)
      st = next
      val pops = lineage.length
      // no pop: only seen start requests were left, nothing to commit
      if (pops > 0) {
        wave += pops
        totalFetched += pops
        totalDeduped += lineage.map(_._6).sum
        if (keepFetched) {
          val f = spark.createDataset(next.flatMap(_.fetched.iterator))
          f.write.mode(SaveMode.Overwrite).parquet(s"$ckpt/fetched/wave_$start")
          cfg.mediaStoreDir.foreach(dir => graft.sinks.MediaStore.ingestWave(spark, f.toDF(), dir))
        }
        // the scalable path's writer, read back by the same readCheckpoint;
        // every pop marks at most itself and its novel follow-ups
        writeScalableCheckpoint(wave, next.flatMap(_.seen.iterator.map(b => (b.bucket, b))),
          next.flatMap(_.queued.iterator.map(r => (r.host_bucket, r))), pendingRows,
          pops + lineage.map(_._7).sum, nextSeq, totalFetched, totalDeduped, sinceWave = start)
        flushLineage(wave, scala.collection.mutable.ArrayBuffer.from(lineage))
      }
      done = pendingRows == 0
    }
    CrawlRunResult(wave - startWave, totalFetched, totalDeduped,
      st.map(_.seen.iterator.map(_.count).sum).collect()(0), System.currentTimeMillis() - t0)
  }
}
