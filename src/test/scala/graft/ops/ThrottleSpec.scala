package graft.ops

import graft.SparkTestSession
import graft.engine.{CrawlConfig, SeedSpec, WaveEngine, FollowAllLinks}
import graft.fetch.{Fetcher, SyntheticSite}
import graft.model.Document
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A fetcher with a fixed per-request service time: the latency source
  * for the adaptive-politeness tests (zero egress, deterministic). */
final case class SlowFetcher(inner: SyntheticSite, sleepMs: Long) extends Fetcher {
  def fetch(url: String): (Int, Option[Document]) = {
    Thread.sleep(sleepMs)
    inner.fetch(url)
  }
}

class ThrottleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fetched(rows: (String, Int, Boolean, Long, Long)*) =
    rows.toDF("host", "status", "from_cache", "fetched_at_ms", "stored_at_ms")

  private def delays(rows: (String, Long)*) = rows.toDF("host", "delay_ms")

  test("adaptive delays: EWMA toward latency/target, error backoff, carry, clamps, cache excluded") {
    val f = fetched(
      ("a", 200, false, 1000L, 1400L),  // a: ok latencies 400, 600 -> avg 500
      ("a", 200, false, 2000L, 2600L),
      ("a", 200, true, 3000L, 3001L),   // cache hit: excluded from the signal
      ("b", 500, false, 1000L, 1100L),  // b: errors only, latency 100
      ("c", 200, false, 1000L, 1010L))  // c: fast host, latency 10
    val prev = delays(("a", 300L), ("b", 50L), ("c", 1000L), ("d", 777L))
    val out = Throttle.adaptiveHostDelays(f, prev,
        startDelayMs = 1000L, targetConcurrency = 1.0,
        minDelayMs = 100L, maxDelayMs = 60000L)
      .collect().map(r => r.getAs[String]("host") ->
        ((r.getAs[Long]("delay_ms"), r.getAs[Long]("n_obs"), r.getAs[Long]("n_ok"))))
      .toMap
    assert(out("a") == ((400L, 2L, 2L)))   // (300 + 500)/2
    // b's EWMA candidate (50+100)/2 = 75 would SPEED UP an erroring host;
    // the error rule keeps prev (75 < 50 is false -> max(50,75)=75? no:
    // greatest(prev, cand) = 75, then min clamp 100)
    assert(out("b")._1 == 100L)            // clamped up to minDelayMs
    assert(out("c") == ((505L, 1L, 1L)))   // (1000 + 10)/2
    assert(out("d") == ((777L, 0L, 0L)))   // not fetched: carried unchanged
  }

  test("adaptive delays: unknown host starts at startDelayMs; max clamp holds; errors never speed up") {
    val f = fetched(
      ("new", 200, false, 0L, 200_000L),   // monster latency
      ("err", 503, false, 0L, 10L))        // fast errors
    val out = Throttle.adaptiveHostDelays(f, delays(),
        startDelayMs = 400L, targetConcurrency = 2.0,
        minDelayMs = 100L, maxDelayMs = 5000L)
      .collect().map(r => r.getAs[String]("host") -> r.getAs[Long]("delay_ms")).toMap
    assert(out("new") == 5000L)            // (400 + 200000/2)/2 clamped to max
    assert(out("err") == 400L)             // cand (400+5)/2=202 < prev -> keep 400
  }

  test("delay table is a stable accumulator: crawl-2 output builds on crawl-1's") {
    val crawl1 = fetched(("a", 200, false, 0L, 1000L))
    val d1 = Throttle.adaptiveHostDelays(crawl1, delays(), startDelayMs = 200L,
      minDelayMs = 1L, maxDelayMs = 60000L)
    val crawl2 = fetched(("b", 200, false, 0L, 300L))
    val d2 = Throttle.adaptiveHostDelays(crawl2, d1, startDelayMs = 200L,
        minDelayMs = 1L, maxDelayMs = 60000L)
      .collect().map(r => r.getAs[String]("host") -> r.getAs[Long]("delay_ms")).toMap
    assert(d2("a") == 600L)                // (200+1000)/2 carried through crawl 2
    assert(d2("b") == 250L)                // (200+300)/2
    val rps = Throttle.rpsTable(
      Throttle.adaptiveHostDelays(crawl2, d1, startDelayMs = 200L,
        minDelayMs = 1L, maxDelayMs = 60000L))
      .collect().map(r => r.getAs[String]("host") -> r.getAs[Double]("rps")).toMap
    assert(math.abs(rps("a") - 1000.0 / 600.0) < 1e-9)
  }

  test("hostHealth: counts, rates, exact percentiles; cache rows excluded from latency") {
    val f = fetched(
      ("a", 200, false, 0L, 10L),   // latencies 10, 20, 30, 40
      ("a", 200, false, 0L, 20L),
      ("a", 404, false, 0L, 30L),
      ("a", 200, false, 0L, 40L),
      ("a", 200, true, 0L, 9999L),  // cache hit: counted, never in latency
      ("b", 200, false, 0L, 7L))
    val out = Throttle.hostHealth(f)
      .collect().map(r => r.getAs[String]("host") -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_fetches") == 5L)
    assert(a.getAs[Long]("n_ok") == 4L)       // the cache row is a 200 too
    assert(a.getAs[Double]("ok_rate") == 0.8)
    assert(a.getAs[Long]("n_cache") == 1L)
    assert(a.getAs[Double]("avg_latency_ms") == 25.0)
    assert(a.getAs[Double]("p50_latency_ms") == 25.0)  // interpolated between 20 and 30
    assert(math.abs(a.getAs[Double]("p95_latency_ms") - 38.5) < 1e-9) // 0.95*(4-1)=2.85
    assert(a.getAs[Double]("max_latency_ms") == 40.0)
    assert(out("b").getAs[Double]("p50_latency_ms") == 7.0)
  }

  test("drainForecast: politeness-bounded drain time, wave ceil-division, default delay, straggler flag") {
    val pending = (Seq.fill(40)("hot") ++ Seq.fill(3)("cold") ++ Seq("nodelay"))
      .toDF("host")
    val d = delays(("hot", 1000L), ("cold", 100L))
    val out = Throttle.drainForecast(pending, d, budgetPerWave = 16L,
        stragglerSec = 30.0, defaultDelayMs = 500L)
      .collect().map(r => r.getAs[String]("host") ->
        ((r.getAs[Long]("n_pending"), r.getAs[Long]("delay_ms"),
          r.getAs[Double]("drain_sec"), r.getAs[Long]("waves_to_drain"),
          r.getAs[Boolean]("straggler")))).toMap
    assert(out("hot") == ((40L, 1000L, 40.0, 3L, true)))    // ceil(40/16) = 3
    assert(out("cold") == ((3L, 100L, 0.3, 1L, false)))
    assert(out("nodelay") == ((1L, 500L, 0.5, 1L, false)))  // default delay
  }

  test("e2e: adapted pace honored through the TABLE path at 10^5-host cardinality") {
    // host serves at ~40 ms/request while the crawl is configured at
    // 50 rps (20 ms spacing): the observed latency must be the SERVICE
    // time (stored - fetched), and the adapted delay (start 20 ms ->
    // (20+40)/2 = ~30 ms) must slow the second crawl's same-host spacing.
    // The delay plane reaches the engine as a (host, rps) DataFrame
    // (CrawlConfig.hostRpsTable) padded with 10^5 synthetic host rows to
    // pin the scale posture: no driver map of any size, tasks see only
    // their buckets' hosts via the co-partitioned plane, and the crawl
    // still paces the one real host from its adapted delay.
    val site = SyntheticSite(nHosts = 1, basePagesPerHost = 5, branching = 1, hotFactor = 1)
    val slow = SlowFetcher(site, sleepMs = 40L)
    val parsers = Map("follow_links" -> (FollowAllLinks: graft.engine.PageParser))
    val cfg1 = CrawlConfig(checkpointDir = SparkTestSession.tmpDir("thrt1"),
      hostBuckets = 2, fetchPartitions = 2, politenessRps = 50.0, realtime = true)
    val e1 = new WaveEngine(spark, slow, parsers, cfg1)
    e1.run((0 until 5).map(i => SeedSpec(site.pageUrl(0, i))))
    val f1 = e1.fetchedTable()
    val lat = Throttle.observedLatencies(f1).collect()
    assert(lat.length == 1)
    val avg = lat.head.getAs[Double]("avg_latency_ms")
    assert(avg >= 35.0, s"avg service latency $avg should reflect the 40ms fetcher")
    val adapted = Throttle.adaptiveHostDelays(f1, delays(),
      startDelayMs = 20L, targetConcurrency = 1.0, minDelayMs = 1L, maxDelayMs = 60000L)
    val newDelay = adapted.collect().head.getAs[Long]("delay_ms")
    assert(newDelay >= 27L, s"delay $newDelay should move toward the 40ms latency")

    val filler = spark.range(100000).select(
      concat(lit("filler-"), $"id").as("host"), lit(5.0).as("rps"))
    val plane = Throttle.rpsTable(adapted).union(filler)
    val cfg2 = CrawlConfig(checkpointDir = SparkTestSession.tmpDir("thrt2"),
      hostBuckets = 2, fetchPartitions = 2, politenessRps = 1000.0, realtime = true,
      hostRpsTable = Some(plane))
    val e2 = new WaveEngine(spark, slow, parsers, cfg2)
    e2.run((0 until 5).map(i => SeedSpec(site.pageUrl(0, i))))
    val ts = e2.fetchedTable().select($"fetched_at_ms").as[Long].collect().sorted
    assert(ts.length == 5)
    ts.zip(ts.tail).foreach { case (a, b) =>
      assert(b - a >= newDelay - 1, s"spacing ${b - a}ms under adapted delay ${newDelay}ms")
    }
  }
}
