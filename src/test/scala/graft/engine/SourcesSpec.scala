package graft.engine

import graft.SparkTestSession
import graft.fetch.{Fetcher, MapFetcher, SyntheticSite}
import graft.model.{Document, Span}
import org.scalatest.funsuite.AnyFunSuite

import java.time.LocalDate

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("S3 date-range enumeration") {
    val seeds = Sources.dateRangeSeeds("https://tv.example.jp/?date=%s",
      LocalDate.of(2021, 3, 30), LocalDate.of(2021, 4, 2), "tv")
    assert(seeds.map(_.url) == Seq(
      "https://tv.example.jp/?date=2021-03-30",
      "https://tv.example.jp/?date=2021-03-31",
      "https://tv.example.jp/?date=2021-04-01"))
  }

  test("S4+R20 sequential-id cursor stops after N consecutive failures") {
    // ids 0..49 exist, except holes at 10..12 (3 failures, below limit);
    // everything from 50 on is 404 → stop at 50+limit-1
    val fetcher = new Fetcher {
      def fetch(url: String): (Int, Option[Document]) = {
        val id = url.split("=").last.toLong
        if (id < 50 && !(id >= 10 && id <= 12))
          (200, Some(Document(url, Seq(Span("text", s"page$id", "", 0)))))
        else (404, None)
      }
    }
    val res = Sources.sequentialIdCrawl(spark, fetcher,
      "https://v.example.jp/?sid=%d", startId = 0, batchSize = 16,
      failureLimit = 10, maxId = 100000)
    assert(res.stoppedByFailures)
    val fetched = res.fetched.collect()
    assert(fetched.length == 47) // 50 minus 3 holes
    assert(fetched.map(_.seq).toSet == ((0L until 50L).toSet -- Set(10L, 11L, 12L)))
    // stop position: failure run reaches 10 at id 59
    assert(res.finalCursor == 60)
  }

  test("S5 cursor-paginated API follows nextRecordPosition until null") {
    def page(pos: Long, next: Option[Long]): (String, Document) = {
      val json = s"""{"pos": $pos${next.map(n => s""", "next": $n""").getOrElse("")}}"""
      (s"https://api.example.jp/?startRecord=$pos",
        Document(s"api$pos", Seq(Span("json", json, "", 0))))
    }
    val pages = Map(page(1L, Some(6L)), page(6L, Some(11L)), page(11L, None))
    val next = (d: Document) =>
      "\"next\": (\\d+)".r.findFirstMatchIn(d.spans.head.text).map(_.group(1).toLong)
    val (docs, last) = Sources.cursorPagedCrawl(new MapFetcher(pages),
      pos => s"https://api.example.jp/?startRecord=$pos", next)
    assert(docs.map(_.doc_id) == Seq("api1", "api6", "api11"))
    assert(last == 11L)
  }

  test("S11 fetch cache: fresh pages are served from cache, stale re-fetched") {
    import org.apache.spark.sql.functions._
    val site = SyntheticSite(nHosts = 2, basePagesPerHost = 4, branching = 2, hotFactor = 1)
    val seeds = (0 until 2).map(k => SeedSpec(site.pageUrl(k, 0)))
    val parsers: Map[String, PageParser] = Map("follow_links" -> FollowAllLinks)

    // run 1: no cache
    val ckpt1 = SparkTestSession.tmpDir("nocache")
    val e1 = new WaveEngine(spark, site, parsers,
      CrawlConfig(checkpointDir = ckpt1, hostBuckets = 4, fetchPartitions = 2))
    e1.run(seeds)

    // rewrite fetched timestamps to "now" so they are fresh for run 2
    val fresh = SparkTestSession.tmpDir("freshcache")
    e1.fetchedTable().withColumn("stored_at_ms", lit(System.currentTimeMillis()))
      .write.mode("overwrite").parquet(s"$fresh/wave_all")

    // run 2: cache pointed at run 1's pages
    val ckpt2 = SparkTestSession.tmpDir("withcache")
    val e2 = new WaveEngine(spark, site, parsers,
      CrawlConfig(checkpointDir = ckpt2, hostBuckets = 4, fetchPartitions = 2,
        fetchCacheDir = Some(fresh), cacheTtlSec = 600))
    val res2 = e2.run(seeds)

    import spark.implicits._
    val fromCache = e2.fetchedTable().filter($"from_cache").count()
    val total = e2.fetchedTable().count()
    assert(total == site.totalPages)
    assert(fromCache == total) // every page was fresh in the cache
    assert(res2.fetched == total)
    // cache hits are fetched rows of the lineage too
    assert(e2.lineageReport().agg(sum($"in_count")).as[Long].head() == res2.fetched)

    // stale cache (ttl 0) → everything re-fetched live
    val ckpt3 = SparkTestSession.tmpDir("stalecache")
    val e3 = new WaveEngine(spark, site, parsers,
      CrawlConfig(checkpointDir = ckpt3, hostBuckets = 4, fetchPartitions = 2,
        fetchCacheDir = Some(fresh), cacheTtlSec = 0))
    e3.run(seeds)
    assert(e3.fetchedTable().filter($"from_cache").count() == 0)
  }

  test("S12 robots gate filters disallowed paths when enabled") {
    val site = SyntheticSite(nHosts = 2, basePagesPerHost = 6, branching = 2, hotFactor = 1)
    val seeds = (0 until 2).map(k => SeedSpec(site.pageUrl(k, 0)))
    val parsers: Map[String, PageParser] = Map("follow_links" -> FollowAllLinks)
    val ckpt = SparkTestSession.tmpDir("robots")
    // disallow /p1 and /p2 prefixes on h0 — blocks those subtrees' roots
    val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 4, fetchPartitions = 2,
      robotsEnabled = true, robotsDisallow = Map("h0.example.jp" -> Seq("/p1", "/p2")))
    val engine = new WaveEngine(spark, site, parsers, cfg)
    engine.run(seeds)
    import spark.implicits._
    val h0Paths = engine.fetchedTable().filter($"host" === "h0.example.jp")
      .select($"canonical").as[String].collect().toSet
    assert(h0Paths.contains(site.pageUrl(0, 0)))
    assert(!h0Paths.exists(_.matches(".*/p1\\d*$")) || !h0Paths.contains(site.pageUrl(0, 1)))
    assert(!h0Paths.contains(site.pageUrl(0, 1)))
    assert(!h0Paths.contains(site.pageUrl(0, 2)))
  }
}
