package graft.engine

import graft.fetch.Fetcher
import graft.urls.UrlCanon

/**
 * Deterministic in-memory reimplementation of the reference's scheduler
 * semantics — the oracle the Spark engine's `referenceOrder` mode is
 * tested against (SURVEY.md §5.3).
 *
 * Models Scrapy under the reference's settings
 * (the reference crawler's settings.py:23,28 — CONCURRENT_REQUESTS=1,
 * DOWNLOAD_DELAY=1):
 *  - one request in flight at a time (globally sequential, ≤1 rps);
 *  - follow-ups pushed to a LIFO memory queue as yielded, popped
 *    newest-first (Scrapy default memory scheduler, equal priority);
 *  - higher `priority` pops first;
 *  - start requests consumed lazily, in listed order, only when the
 *    queue is empty;
 *  - exact dupefilter on the canonicalized fingerprint, marking at
 *    schedule time (RFPDupeFilter semantics — no override in the repo).
 */
object ReferenceScheduler {

  final case class Req(url: String, canonical: String, parseFn: String,
      meta: Map[String, String], priority: Int, pushSeq: Long)

  /** Runs the crawl; returns fetched canonical URLs in fetch order and the
    * final seen (fingerprint) set. */
  def crawl(
      seeds: Seq[SeedSpec],
      fetcher: Fetcher,
      parsers: Map[String, PageParser],
      maxUrls: Long = Long.MaxValue): (Seq[String], Set[String]) = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    val order = scala.collection.mutable.ArrayBuffer[String]()
    // priority desc, then LIFO (max pushSeq)
    val queue = scala.collection.mutable.PriorityQueue.empty[Req](
      Ordering.by(r => (r.priority, r.pushSeq)))
    var pushSeq = 0L
    val seedIt = seeds.iterator

    def scheduleNextSeed(): Boolean = {
      while (seedIt.hasNext) {
        val s = seedIt.next()
        val canon = UrlCanon.canonicalize(s.url)
        if (seen.add(canon)) {
          queue.enqueue(Req(s.url, canon, s.parseFn, s.meta, s.priority, pushSeq))
          pushSeq += 1
          return true
        } // else: dupefiltered start request
      }
      false
    }

    while ((queue.nonEmpty || scheduleNextSeed()) && order.length < maxUrls) {
      val req = queue.dequeue()
      order += req.canonical
      val (status, doc) = fetcher.fetch(req.url)
      if (status >= 200 && status < 300 && doc.isDefined) {
        val parser = parsers.getOrElse(req.parseFn, FollowAllLinks)
        for (f <- parser.followUps(doc.get, req.meta)) {
          val abs = UrlCanon.resolve(req.url, f.url)
          val canon = UrlCanon.canonicalize(abs)
          if (seen.add(canon)) { // mark at schedule time
            queue.enqueue(Req(abs, canon, f.parse_fn, f.meta, f.priority, pushSeq))
            pushSeq += 1
          }
        }
      }
    }
    (order.toSeq, seen.toSet)
  }
}
