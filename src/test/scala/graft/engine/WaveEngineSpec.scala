package graft.engine

import graft.SparkTestSession
import graft.fetch.SyntheticSite
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WaveEngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val site = SyntheticSite(nHosts = 3, basePagesPerHost = 4, branching = 2, hotFactor = 2)
  val seeds = (0 until 3).map(k => SeedSpec(site.pageUrl(k, 0)))
  val parsers: Map[String, PageParser] = Map("follow_links" -> FollowAllLinks)

  private val seenReadSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("url_hash", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("canonical", org.apache.spark.sql.types.StringType)))

  def seenCanonSet(ckpt: String): Set[String] = {
    import spark.implicits._
    spark.read.schema(seenReadSchema).option("recursiveFileLookup", "true")
      .parquet(s"$ckpt/seen").select("canonical").as[String].collect().toSet
  }

  def seenHashSet(ckpt: String): Set[Long] = {
    import spark.implicits._
    spark.read.schema(seenReadSchema).option("recursiveFileLookup", "true")
      .parquet(s"$ckpt/seen").select("url_hash").as[Long].collect().toSet
  }

  /** Checkpoint writes are sized to their rows: a small crawl's pending
    * and seen-flush dirs each hold one parquet part file. */
  def assertOneFilePerCheckpointDir(ckpt: String): Unit = {
    val dirs = new java.io.File(ckpt).listFiles().filter(_.getName.startsWith("pending_w")) ++
      new java.io.File(s"$ckpt/seen").listFiles().filter(_.getName.startsWith("flush_"))
    assert(dirs.exists(_.getName.startsWith("pending_w")) && dirs.length >= 3, dirs.toSeq)
    dirs.foreach { d =>
      val parts = d.listFiles().count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(parts == 1, d.getPath)
    }
  }

  def fetchOrder(engine: WaveEngine): Seq[String] = {
    import spark.implicits._
    engine.fetchedTable()
      .orderBy($"wave", $"host", $"slot")
      .select($"canonical").as[String].collect().toSeq
  }

  def perHostOrder(engine: WaveEngine): Map[String, Seq[String]] = {
    import spark.implicits._
    engine.fetchedTable().orderBy($"wave", $"slot")
      .select($"host", $"canonical").as[(String, String)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  def fetchedSet(engine: WaveEngine): Set[(String, Int)] = {
    import spark.implicits._
    engine.fetchedTable().select($"canonical", $"status").as[(String, Int)].collect().toSet
  }

  /** Spark jobs that `body` runs on this thread. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.ListenerDrain(sc)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("reference-order mode replays the Scrapy LIFO order exactly") {
    val (oracleOrder, oracleSeen) = ReferenceScheduler.crawl(seeds, site, parsers)
    assert(oracleOrder.size == site.totalPages) // every page reachable once

    val ckpt = SparkTestSession.tmpDir("refmode")
    val cfg = CrawlConfig(checkpointDir = ckpt, referenceOrder = true,
      hostBuckets = 8, fetchPartitions = 2)
    val engine = new WaveEngine(spark, site, parsers, cfg)
    val res = engine.run(seeds)

    val engineOrder = fetchOrder(engine)
    assert(engineOrder == oracleOrder)
    assert(res.fetched == oracleOrder.size)

    assert(seenCanonSet(ckpt) == oracleSeen)

    // lineage comes from the interval tasks' output: one row per pop,
    // exactly once
    import spark.implicits._
    val lineage = engine.lineageTable().select($"wave", $"in_count", $"fetched")
      .as[(Int, Long, Long)].collect()
    assert(lineage.map(_._1).sorted.toSeq == (0 until res.fetched.toInt))
    assert(lineage.forall(_._2 == 1L))
    assert(lineage.map(_._3).sum == res.fetched)

    // one checkpoint interval runs a fixed number of jobs, whatever the
    // number of pages it fetches (the 4 x 20 site has 140 pages)
    val big = SyntheticSite(nHosts = 4, basePagesPerHost = 20, branching = 2, hotFactor = 4)
    def oneInterval(s: SyntheticSite): (CrawlRunResult, Int, Boolean) = {
      val sd = (0 until s.nHosts).map(k => SeedSpec(s.pageUrl(k, 0)))
      val e = new WaveEngine(spark, s, parsers, CrawlConfig(
        checkpointDir = SparkTestSession.tmpDir("refjobs"), referenceOrder = true,
        hostBuckets = 8, fetchPartitions = 2, checkpointEvery = 1000000))
      val (r, jobs) = jobsOf(e.run(sd))
      (r, jobs, fetchOrder(e) == ReferenceScheduler.crawl(sd, s, parsers)._1)
    }
    val (resSmall, jobsSmall, orderSmall) = oneInterval(site)
    val (resBig, jobsBig, orderBig) = oneInterval(big)
    assert(resSmall.fetched == site.totalPages && resBig.fetched == big.totalPages)
    assert(big.totalPages == 140L)
    assert(orderSmall && orderBig)
    assert(jobsSmall == jobsBig, s"jobs: $jobsSmall for ${site.totalPages} pages, " +
      s"$jobsBig for ${big.totalPages}")
  }

  test("reference-order kill/resume replays the Scrapy LIFO order exactly; no filter blobs") {
    // resume rebuilds the exact seen sets from the durable seen changelog,
    // also when it runs at another fetchPartitions than the killed run
    val (oracleOrder, oracleSeen) = ReferenceScheduler.crawl(seeds, site, parsers)
    for (resumeParts <- Seq(2, 8)) {
      val ckpt = SparkTestSession.tmpDir(s"refresume$resumeParts")
      def cfgOf(maxW: Int, parts: Int) = CrawlConfig(checkpointDir = ckpt, referenceOrder = true,
        hostBuckets = 8, fetchPartitions = parts, maxWaves = maxW)
      val partial = new WaveEngine(spark, site, parsers, cfgOf(5, 2)).run(seeds)
      assert(partial.fetched == 5L && partial.fetched < oracleOrder.size)
      val resumed = new WaveEngine(spark, site, parsers, cfgOf(10000, resumeParts))
      resumed.resume()

      assert(fetchOrder(resumed) == oracleOrder)
      assert(seenCanonSet(ckpt) == oracleSeen)
      assert(new java.io.File(ckpt).listFiles().forall(!_.getName.startsWith("filters_w")))
    }
  }

  test("reference-order realtime mode keeps one global DOWNLOAD_DELAY between fetches") {
    // four pops per checkpoint interval: most gaps fall inside one task,
    // where only the engine's own sleep spaces the fetches; the others
    // cross a task boundary, where the carried pace does
    val ckpt = SparkTestSession.tmpDir("refrt")
    val cfg = CrawlConfig(checkpointDir = ckpt, referenceOrder = true, hostBuckets = 8,
      fetchPartitions = 2, realtime = true, politenessRps = 20.0, checkpointEvery = 4)
    val engine = new WaveEngine(spark, site, parsers, cfg)
    val res = engine.run(seeds)
    import spark.implicits._
    val ts = engine.fetchedTable().orderBy($"wave").select($"fetched_at_ms").as[Long].collect()
    assert(res.fetched == site.totalPages && ts.length == site.totalPages)
    ts.zip(ts.tail).foreach { case (a, b) =>
      assert(b - a >= 50L, s"consecutive fetches ${b - a}ms apart (< 1/rps)")
    }
  }

  test("resume() in the other mode (scalable vs referenceOrder) fails fast, naming both") {
    for (ref <- Seq(false, true)) {
      val ckpt = SparkTestSession.tmpDir(s"mode$ref")
      def cfgOf(r: Boolean) = CrawlConfig(checkpointDir = ckpt, referenceOrder = r,
        hostBuckets = 8, fetchPartitions = 2, maxWaves = 2)
      new WaveEngine(spark, site, parsers, cfgOf(ref)).run(seeds)
      val e = intercept[IllegalArgumentException] {
        new WaveEngine(spark, site, parsers, cfgOf(!ref)).resume()
      }
      assert(e.getMessage.contains("referenceOrder") && e.getMessage.contains("scalable"),
        e.getMessage)
    }
  }

  test("resume deletes an orphan seen flush from a crash before LATEST (scalable and reference-order)") {
    // a crash after a seen flush but before its state file leaves
    // seen/flush_<LATEST+1> behind. A replay that checkpoints at other
    // waves never overwrites it, so a later resume would union its marks
    // unless the first resume deleted it.
    for (ref <- Seq(false, true)) {
      def cfgOf(ckpt: String, maxW: Int = 10000, every: Int = 1) = CrawlConfig(
        checkpointDir = ckpt, referenceOrder = ref, hostBuckets = 8, fetchPartitions = 2,
        maxPerHostPerWave = 1, maxWaves = maxW, checkpointEvery = every)
      val fullCkpt = SparkTestSession.tmpDir(s"orphanfull$ref")
      val full = new WaveEngine(spark, site, parsers, cfgOf(fullCkpt))
      full.run(seeds)

      val ckpt = SparkTestSession.tmpDir(s"orphan$ref")
      new WaveEngine(spark, site, parsers, cfgOf(ckpt, maxW = 2)).run(seeds)
      assert(new WaveEngine(spark, site, parsers, cfgOf(ckpt)).latestCheckpointWave.contains(2))
      val orphan = new java.io.File(s"$ckpt/seen/flush_3")
      spark.read.schema("url_hash BIGINT, canonical STRING, host_bucket INT, wave INT")
        .option("recursiveFileLookup", "true")
        .parquet(s"$fullCkpt/seen").write.parquet(orphan.getPath)

      new WaveEngine(spark, site, parsers, cfgOf(ckpt, maxW = 4, every = 2)).resume()
      assert(!orphan.exists())
      val resumed = new WaveEngine(spark, site, parsers, cfgOf(ckpt))
      resumed.resume()
      assert(fetchedSet(resumed) == fetchedSet(full))
      assert(seenHashSet(ckpt) == seenHashSet(fullCkpt))
      if (ref) assert(fetchOrder(resumed) == fetchOrder(full))
    }
  }

  test("scalable mode fetches the same URL set; per-host order is deterministic across parallelism") {
    val (oracleOrder, _) = ReferenceScheduler.crawl(seeds, site, parsers)

    def run(parts: Int): (Set[String], Map[String, Seq[String]], CrawlRunResult) = {
      val ckpt = SparkTestSession.tmpDir(s"scal$parts")
      val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 8, fetchPartitions = parts,
        maxPerHostPerWave = 3)
      val engine = new WaveEngine(spark, site, parsers, cfg)
      val res = engine.run(seeds)
      import spark.implicits._
      val rows = engine.fetchedTable()
        .orderBy($"wave", $"slot")
        .select($"host", $"canonical").as[(String, String)].collect().toSeq
      val perHost = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      (rows.map(_._2).toSet, perHost, res)
    }

    val (set2, perHost2, res2) = run(2)
    val (set8, perHost8, _) = run(8)
    // above bypassMergeThreshold the candidate codec writes through
    // SortShuffleWriter/ExternalSorter instead of the bypass writer
    assert(spark.sparkContext.getConf.getInt("spark.shuffle.sort.bypassMergeThreshold", 200) < 256)
    val (set256, perHost256, res256) = run(256)
    assert(set2 == oracleOrder.toSet)
    assert(set8 == set2 && set256 == set2)
    // per-host fetch order independent of parallelism
    assert(perHost2 == perHost8 && perHost256 == perHost2)
    assert(res2.fetched == oracleOrder.size)
    assert(res256.deduped == res2.deduped)
  }

  test("lineage surface: per-wave report reconciles with the fetched table; skew audited") {
    val ckpt = SparkTestSession.tmpDir("lineage")
    val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 8, fetchPartitions = 4,
      maxPerHostPerWave = 3)
    val engine = new WaveEngine(spark, site, parsers, cfg)
    val res = engine.run(seeds)
    import spark.implicits._
    val report = engine.lineageReport().collect()
    assert(report.nonEmpty)
    // every wave that fetched something has a lineage row, and the
    // rollup's fetched total reconciles with the materialized table
    val fetchedByWave = engine.fetchedTable().groupBy($"wave").count()
      .as[(Int, Long)].collect().toMap
    val reportByWave = report.map(r =>
      r.getAs[Int]("wave") -> r.getAs[Long]("in_count")).toMap
    assert(fetchedByWave.keySet.subsetOf(reportByWave.keySet))
    assert(reportByWave.values.sum == res.fetched)
    assert(report.map(_.getAs[Long]("novel")).sum >= res.fetched - seeds.size)
    assert(report.forall(_.getAs[Double]("skew") >= 1.0)) // max/mean by construction
  }

  test("politeness: per-host wave budget caps fetches per wave and orders slots") {
    val ckpt = SparkTestSession.tmpDir("polite")
    val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 8, fetchPartitions = 4,
      maxPerHostPerWave = 2, politenessRps = 1.0)
    val engine = new WaveEngine(spark, site, parsers, cfg)
    engine.run(seeds)
    import spark.implicits._
    val byWaveHost = engine.fetchedTable()
      .groupBy($"wave", $"host").agg(count(lit(1)).as("n"), max($"slot").as("max_slot"))
      .as[(Int, String, Long, Int)].collect()
    assert(byWaveHost.forall(_._3 <= 2)) // budget respected
    assert(byWaveHost.forall(r => r._4 == r._3 - 1)) // slots are 0..n-1 per (wave,host)
    // politeness timestamps: 1 rps per host → consecutive slots 1000ms apart
    val ts = engine.fetchedTable()
      .select($"wave", $"host", $"slot", $"fetched_at_ms")
      .as[(Int, String, Int, Long)].collect()
      .groupBy(r => (r._1, r._2)).values
    assert(ts.forall { rows =>
      val sorted = rows.sortBy(_._3)
      sorted.zip(sorted.tail).forall { case (a, b) => b._4 - a._4 == 1000L }
    })
  }

  test("frontier priority: higher-priority follow-ups take the earliest politeness slots") {
    // the reference always uses priority 0 (no Request(priority=) anywhere),
    // but the frontier carries it (Scrapy's scheduler is a priority queue);
    // rows tagged priority 7 must (a) win the budgeted wave selection and
    // (b) take the lowest slots within their (host, wave)
    val s1 = SyntheticSite(nHosts = 1, basePagesPerHost = 13, branching = 3, hotFactor = 1)
    val prioParser = new PageParser {
      def followUps(doc: graft.model.Document, meta: Map[String, String]): Seq[graft.model.FollowUp] =
        doc.spans.filter(_.kind == "link").map { s =>
          val pr = if (s.media_ref.endsWith("3")) 7 else 0
          graft.model.FollowUp(s.media_ref, "follow_links",
            meta = Map("prio" -> pr.toString), priority = pr)
        }
    }
    val ckpt = SparkTestSession.tmpDir("prio")
    val engine = new WaveEngine(spark, s1, Map("follow_links" -> prioParser),
      CrawlConfig(checkpointDir = ckpt, hostBuckets = 2, fetchPartitions = 2,
        maxPerHostPerWave = 2))
    engine.run(Seq(SeedSpec(s1.pageUrl(0, 0))))
    import spark.implicits._
    val rows = engine.fetchedTable()
      .select($"host", $"wave", $"slot", $"meta")
      .collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Int]("wave"), r.getAs[Int]("slot"),
        r.getAs[Map[String, String]]("meta").getOrElse("prio", "0").toInt))
    val prioSeen = rows.count(_._4 == 7)
    assert(prioSeen > 0) // the site actually produced prioritized rows
    rows.groupBy(t => (t._1, t._2)).values.foreach { g =>
      val bySlot = g.toSeq.sortBy(_._3).map(_._4)
      assert(bySlot == bySlot.sortBy(-_),
        s"slots not priority-ordered within a (host, wave): $bySlot")
    }
  }

  test("realtime politeness: spacing holds when the wall clock has overrun the planned slots") {
    // waveStartMs 10 s in the past: every planned slot is already due (the
    // situation after a slow server or a Crawl-delay host slept ahead of
    // this one in the partition), so a plan-only pacer would fire the
    // host's rows back-to-back at response-latency rate; the
    // actual-spacing bound must still keep >= 1/rps between fetches
    val site = SyntheticSite(nHosts = 1, basePagesPerHost = 8, branching = 1, hotFactor = 1)
    val rps = 20.0 // 50 ms spacing keeps the test fast
    val rows = (0 until 5).map { i =>
      val u = site.pageUrl(0, i)
      val c = graft.urls.UrlCanon.canonicalize(u)
      graft.model.UrlRecord(u, c, graft.urls.UrlCanon.urlHash(c),
        graft.urls.UrlCanon.hostOf(c), 0, "follow_links",
        Map.empty, 0, is_seed = true, 0, i.toLong)
    }
    val acc = new org.apache.spark.util.CollectionAccumulator[(Int, Long, Long, Long)]()
    val out = WaveCore.fetchIter(rows.iterator, site, rps, realtime = true,
      fetchWave = 0, waveStartMs = System.currentTimeMillis() - 10000L,
      lineageAcc = acc).toArray
    val ts = out.map(_.fetched_at_ms).sorted
    ts.zip(ts.tail).foreach { case (a, b) =>
      assert(b - a >= 50L, s"overrun fetches ${b - a}ms apart (< 1/rps)")
    }
  }

  test("realtime: a Crawl-delay-slowed host's wave budget is capped by maxHostWaveStallSec") {
    // host paced at 20 rps under a 100 rps global, stall bound 0.2 s →
    // floor(0.2 × 20) = 4 rows per wave even though maxPerHostPerWave is
    // uncapped; the other 8 seeds must defer to later waves instead of
    // holding this wave's barrier for the whole sleep train
    val site = SyntheticSite(nHosts = 1, basePagesPerHost = 12, branching = 1, hotFactor = 1)
    val host = graft.urls.UrlCanon.hostOf(
      graft.urls.UrlCanon.canonicalize(site.pageUrl(0, 0)))
    val ckpt = SparkTestSession.tmpDir("stallcap")
    val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 2, fetchPartitions = 2,
      politenessRps = 100.0, realtime = true, maxPerHostPerWave = Int.MaxValue,
      hostRps = Map(host -> 20.0), maxHostWaveStallSec = 0.2)
    val engine = new WaveEngine(spark, site, parsers, cfg)
    engine.run((0 until 12).map(i => SeedSpec(site.pageUrl(0, i))))
    import spark.implicits._
    val waves = engine.fetchedTable().select($"wave").as[Int].collect()
    assert(waves.length >= 12) // every seed (and any followed link) fetched
    val perWave = waves.groupBy(identity).view.mapValues(_.length).toMap
    assert(perWave.values.forall(_ <= 4), s"wave budget exceeded: $perWave")
    assert(perWave.size >= 3) // the overflow actually deferred across waves
  }

  test("hostRpsTable: stall cap, wave budget and pace marks match the map path exactly") {
    // The SAME crawl as the maxHostWaveStallSec test, but the per-host
    // rate arrives as a (host, rps) DataFrame instead of a driver map:
    // row-stamped rates must drive the budget (4/wave), the deferral
    // across waves, and the per-fetch spacing identically.
    val site = SyntheticSite(nHosts = 1, basePagesPerHost = 12, branching = 1, hotFactor = 1)
    val host = graft.urls.UrlCanon.hostOf(
      graft.urls.UrlCanon.canonicalize(site.pageUrl(0, 0)))
    import spark.implicits._
    val plane = Seq((host, 20.0)).toDF("host", "rps")
    val cfg = CrawlConfig(checkpointDir = SparkTestSession.tmpDir("stallcapT"),
      hostBuckets = 2, fetchPartitions = 2,
      politenessRps = 100.0, realtime = true, maxPerHostPerWave = Int.MaxValue,
      hostRpsTable = Some(plane), maxHostWaveStallSec = 0.2)
    val engine = new WaveEngine(spark, site, parsers, cfg)
    engine.run((0 until 12).map(i => SeedSpec(site.pageUrl(0, i))))
    val rows = engine.fetchedTable()
      .select($"wave", $"fetched_at_ms").as[(Int, Long)].collect()
    assert(rows.length >= 12)
    val perWave = rows.map(_._1).groupBy(identity).view.mapValues(_.length).toMap
    assert(perWave.values.forall(_ <= 4), s"wave budget exceeded: $perWave")
    assert(perWave.size >= 3)
    // per-fetch spacing at the table rate (50 ms), incl. wave boundaries
    // (pace marks must carry the table rate, not the global 100 rps)
    val ts = rows.map(_._2).sorted
    ts.zip(ts.tail).foreach { case (a, b) =>
      assert(b - a >= 49L, s"fetches ${b - a}ms apart (< 1/20rps)")
    }
  }

  test("hostRpsTable: simulated planned stamps are identical to the hostRps map path") {
    // Map path and table path must be semantically interchangeable: the
    // same per-host rates produce byte-identical planned fetch stamps,
    // metrics, and seen sets in simulated mode.
    val site = SyntheticSite(nHosts = 4, basePagesPerHost = 6, branching = 2, hotFactor = 2)
    val hosts = (0 until 4).map(h => graft.urls.UrlCanon.hostOf(
      graft.urls.UrlCanon.canonicalize(site.pageUrl(h, 0))))
    val rates = hosts.zipWithIndex.map { case (h, i) => h -> (0.5 + i * 0.75) }.toMap
    import spark.implicits._
    def crawl(tag: String, mk: CrawlConfig => CrawlConfig) = {
      val cfg = mk(CrawlConfig(checkpointDir = SparkTestSession.tmpDir(tag),
        hostBuckets = 4, fetchPartitions = 2, politenessRps = 2.0))
      val e = new WaveEngine(spark, site, parsers, cfg)
      val res = e.run((0 until 4).map(h => SeedSpec(site.pageUrl(h, 0))))
      val raw = e.fetchedTable()
        .select($"canonical", $"wave", $"slot", $"fetched_at_ms")
        .as[(String, Int, Int, Long)].collect().sortBy(_._1).toSeq
      // planned stamps are offsets from the run's own wave-0 wall-clock
      // start; normalize so the two runs compare on pacing, not on when
      // each happened to start
      val t0 = raw.map(_._4).min
      (res, raw.map { case (c, w, s, t) => (c, w, s, t - t0) })
    }
    val (resM, stampsM) = crawl("eqmap", _.copy(hostRps = rates))
    val (resT, stampsT) = crawl("eqtab",
      _.copy(hostRpsTable = Some(rates.toSeq.toDF("host", "rps"))))
    assert(resM.fetched == resT.fetched && resM.deduped == resT.deduped &&
      resM.seen == resT.seen)
    assert(stampsM == stampsT) // planned politeness stamps byte-identical
  }

  test("realtime politeness: same-host spacing >= 1/rps holds ACROSS wave boundaries") {
    // budget 1/host/wave → every same-host gap is a wave-boundary gap.
    // Without carried per-host pace state, wave W+1's slot-0 restarts at
    // the wave start (~Spark's per-wave overhead after W's last fetch),
    // violating 1 rps; with continuity the first slot is seeded from the
    // host's last actual fetch time + 1/rps.
    val s1 = SyntheticSite(nHosts = 1, basePagesPerHost = 2, branching = 2, hotFactor = 1)
    val ckpt = SparkTestSession.tmpDir("rtpace")
    val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 2, fetchPartitions = 2,
      maxPerHostPerWave = 1, politenessRps = 1.0, realtime = true)
    val engine = new WaveEngine(spark, s1, parsers, cfg)
    engine.run(Seq(SeedSpec(s1.pageUrl(0, 0))))
    import spark.implicits._
    val rows = engine.fetchedTable()
      .select($"host", $"wave", $"fetched_at_ms").as[(String, Int, Long)].collect()
    assert(rows.map(_._2).distinct.length >= 2) // a boundary was actually crossed
    rows.groupBy(_._1).values.foreach { hostRows =>
      val sorted = hostRows.map(_._3).sorted
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(b - a >= 1000L, s"same-host fetches ${b - a}ms apart (< 1/rps)")
      }
    }
  }

  test("realtime politeness continuity holds on the fetch-cache path too") {
    // stale cache (ttl=0): every batch row is a cache MISS, so the fetch
    // runs through the S11 path's live-fetch branch — which must seed
    // per-host slots from the carried pace state exactly like the
    // uncached branch (the r3 review caught this branch dropping it)
    val s1 = SyntheticSite(nHosts = 1, basePagesPerHost = 2, branching = 2, hotFactor = 1)
    val warmCkpt = SparkTestSession.tmpDir("rtcache-warm")
    new WaveEngine(spark, s1, parsers,
      CrawlConfig(checkpointDir = warmCkpt, hostBuckets = 2, fetchPartitions = 2))
      .run(Seq(SeedSpec(s1.pageUrl(0, 0))))
    val ckpt = SparkTestSession.tmpDir("rtcache")
    val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 2, fetchPartitions = 2,
      maxPerHostPerWave = 1, politenessRps = 1.0, realtime = true,
      fetchCacheDir = Some(s"$warmCkpt/fetched"), cacheTtlSec = 0)
    val engine = new WaveEngine(spark, s1, parsers, cfg)
    engine.run(Seq(SeedSpec(s1.pageUrl(0, 0))))
    import spark.implicits._
    val rows = engine.fetchedTable()
      .select($"host", $"wave", $"fetched_at_ms", $"from_cache")
      .as[(String, Int, Long, Boolean)].collect()
    assert(rows.forall(!_._4)) // ttl 0: everything was a live miss
    assert(rows.map(_._2).distinct.length >= 2)
    rows.groupBy(_._1).values.foreach { hostRows =>
      val sorted = hostRows.map(_._3).sorted
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(b - a >= 1000L, s"same-host fetches ${b - a}ms apart (< 1/rps)")
      }
    }
  }

  test("realtime politeness: same-host spacing >= 1/rps holds ACROSS a kill/resume boundary") {
    // rps 0.25 → 4 s same-host spacing. The partial run is killed after 2
    // waves (maxWaves); resume() must seed per-host slots from the
    // CHECKPOINTED pace map — without it the resumed run's first fetch
    // restarts at its own wave start and lands well inside the 4 s window
    // (resume setup on a warm JVM is ~1-2 s).
    val s1 = SyntheticSite(nHosts = 1, basePagesPerHost = 3, branching = 2, hotFactor = 1)
    val ckpt = SparkTestSession.tmpDir("rtresume")
    def cfgOf(maxW: Int) = CrawlConfig(checkpointDir = ckpt, hostBuckets = 2,
      fetchPartitions = 2, maxPerHostPerWave = 1, politenessRps = 0.25,
      realtime = true, maxWaves = maxW)
    new WaveEngine(spark, s1, parsers, cfgOf(2)).run(Seq(SeedSpec(s1.pageUrl(0, 0))))
    val resumed = new WaveEngine(spark, s1, parsers, cfgOf(10000))
    resumed.resume()
    import spark.implicits._
    val rows = resumed.fetchedTable()
      .select($"host", $"wave", $"fetched_at_ms").as[(String, Int, Long)].collect()
    assert(rows.length.toLong == s1.totalPages) // the resume finished the crawl
    assert(rows.map(_._2).distinct.length >= 3) // boundary actually crossed
    rows.groupBy(_._1).values.foreach { hostRows =>
      val sorted = hostRows.map(_._3).sorted
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(b - a >= 4000L, s"same-host fetches ${b - a}ms apart (< 1/rps) across resume")
      }
    }
  }

  test("resume from checkpoint completes identically to an uninterrupted run") {
    val ckptFull = SparkTestSession.tmpDir("full")
    val full = new WaveEngine(spark, site, parsers,
      CrawlConfig(checkpointDir = ckptFull, hostBuckets = 8, fetchPartitions = 4))
    val resFull = full.run(seeds)
    assertOneFilePerCheckpointDir(ckptFull) // the exit pending_w* is empty

    // resuming at another fetchPartitions re-buckets the same durable state
    for (resumeParts <- Seq(4, 8)) {
      val ckptPart = SparkTestSession.tmpDir(s"partial$resumeParts")
      val partial = new WaveEngine(spark, site, parsers,
        CrawlConfig(checkpointDir = ckptPart, hostBuckets = 8, fetchPartitions = 4, maxWaves = 2))
      partial.run(seeds)
      assertOneFilePerCheckpointDir(ckptPart) // a non-empty mid-run pending_w*
      val resumed = new WaveEngine(spark, site, parsers,
        CrawlConfig(checkpointDir = ckptPart, hostBuckets = 8, fetchPartitions = resumeParts))
      val resResumed = resumed.resume()
      assertOneFilePerCheckpointDir(ckptPart)

      assert(fetchedSet(full) == fetchedSet(resumed))
      assert(perHostOrder(resumed) == perHostOrder(full))
      assert(resResumed.seen == resFull.seen) // resume reports the cumulative seen count
      // strict: final seen sets equal
      assert(seenHashSet(ckptFull) == seenHashSet(ckptPart))
    }
  }

  test("seen flushes are a changelog: each flush holds only its delta, union = seen set") {
    import spark.implicits._
    val ckpt = SparkTestSession.tmpDir("changelog")
    val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 8, fetchPartitions = 4,
      checkpointEvery = 1)
    val engine = new WaveEngine(spark, site, parsers, cfg)
    val res = engine.run(seeds)
    val dirs = Option(new java.io.File(s"$ckpt/seen").listFiles()).get
      .filter(_.isDirectory).map(d => d.getName.stripPrefix("flush_").toInt -> d.getPath)
      .sortBy(_._1)
    assert(dirs.length >= 3) // several waves, one flush each
    var total = 0L
    for ((w, path) <- dirs) {
      val marks = spark.read.parquet(path).select($"wave").as[Int].collect()
      total += marks.length
      // delta-only: a flush carries marks enqueued since the previous
      // flush, never the accumulated history (flush_0 = the seed wave)
      assert(marks.forall(_ <= w))
      if (dirs.exists(d => d._1 < w)) {
        val prevW = dirs.filter(_._1 < w).map(_._1).max
        assert(marks.forall(_ > prevW), s"flush_$w re-wrote marks from <= $prevW")
      }
    }
    assert(total == res.seen) // union (disjoint) = exactly the seen set
  }

  test("seen changelog compaction: resume reads O(compactSeenAfter) dirs, crawl unchanged") {
    // many-wave crawl (1 fetch/host/wave), checkpoint every wave,
    // compact aggressively: the flush-dir count must stay bounded while
    // the union still equals the uncompacted seen set, and a kill/resume
    // across a compacted history completes identically
    val s1 = SyntheticSite(nHosts = 2, basePagesPerHost = 8, branching = 2, hotFactor = 1)
    val s1seeds = (0 until 2).map(k => SeedSpec(s1.pageUrl(k, 0)))
    def cfgOf(ckpt: String, maxW: Int = 10000, compactAfter: Int = 3) =
      CrawlConfig(checkpointDir = ckpt, hostBuckets = 4, fetchPartitions = 2,
        maxPerHostPerWave = 1, checkpointEvery = 1, maxWaves = maxW,
        compactSeenAfter = compactAfter)

    val ckptRef = SparkTestSession.tmpDir("compact-ref") // no compaction
    val ref = new WaveEngine(spark, s1, parsers,
      cfgOf(ckptRef, compactAfter = Int.MaxValue))
    val resRef = ref.run(s1seeds)
    assert(resRef.waves >= 8) // enough checkpoints to make compaction meaningful
    val refDirs = Option(new java.io.File(s"$ckptRef/seen").listFiles()).get.count(_.isDirectory)

    val ckpt = SparkTestSession.tmpDir("compact")
    new WaveEngine(spark, s1, parsers, cfgOf(ckpt, maxW = 6)).run(s1seeds)
    val resumed = new WaveEngine(spark, s1, parsers, cfgOf(ckpt))
    val resResumed = resumed.resume()
    // identical completion across the compacted history
    assert(resResumed.seen == resRef.seen)
    assert(seenHashSet(ckpt) == seenHashSet(ckptRef))
    import spark.implicits._
    assert(resumed.fetchedTable().select($"canonical").as[String].collect().toSet ==
      ref.fetchedTable().select($"canonical").as[String].collect().toSet)
    // bounded read set: newest compact + at most compactSeenAfter flushes
    val dirs = Option(new java.io.File(s"$ckpt/seen").listFiles()).get
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("compact_")) == 1, dirs.toSeq)
    assert(dirs.count(_.startsWith("flush_")) <= 3 + 1, dirs.toSeq)
    assert(dirs.length < refDirs, s"compaction did not shrink the dir set: $refDirs -> ${dirs.length}")
  }

  test("fresh run in a reused checkpoint dir does not inherit stale seen flushes") {
    // run A crawls 3 hosts; run B reuses the dir with ONE seed. With
    // changelog flushes, resume UNIONS all dirs ≤ LATEST — if run B left
    // run A's flushes behind, a resume of B would treat A's URLs as seen
    // and silently skip them.
    val ckpt = SparkTestSession.tmpDir("reuse")
    def cfg(maxW: Int = 10000) = CrawlConfig(checkpointDir = ckpt, hostBuckets = 8,
      fetchPartitions = 4, maxWaves = maxW)
    new WaveEngine(spark, site, parsers, cfg()).run(seeds) // run A (all hosts)
    val runB = new WaveEngine(spark, site, parsers, cfg(maxW = 1))
    runB.run(Seq(seeds.head)) // fresh partial run B, host 0 only
    val resumedB = new WaveEngine(spark, site, parsers, cfg())
    val resB = resumedB.resume()
    // resumed B must complete host 0's whole tree: nothing of A's seen
    // state may leak into B's dedup
    val refCkpt = SparkTestSession.tmpDir("reuse-ref")
    val ref = new WaveEngine(spark, site, parsers,
      CrawlConfig(checkpointDir = refCkpt, hostBuckets = 8, fetchPartitions = 4))
    val resRef = ref.run(Seq(seeds.head))
    assert(resB.seen == resRef.seen)
    assert(seenHashSet(ckpt) == seenHashSet(refCkpt))
  }

  test("per-host crawl budget caps admissions deterministically; other hosts unaffected") {
    import spark.implicits._
    val s1 = SyntheticSite(nHosts = 3, basePagesPerHost = 12, branching = 2, hotFactor = 4)
    val sd = (0 until 3).map(k => SeedSpec(s1.pageUrl(k, 0)))

    def run(parts: Int): (Map[String, Long], Set[String], CrawlRunResult) = {
      val ckpt = SparkTestSession.tmpDir(s"budget$parts")
      val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 8, fetchPartitions = parts,
        maxPagesPerHost = 6L)
      val engine = new WaveEngine(spark, s1, parsers, cfg)
      val res = engine.run(sd)
      val perHost = engine.fetchedTable().groupBy($"host").count()
        .as[(String, Long)].collect().toMap
      val canons = engine.fetchedTable().select($"canonical").as[String].collect().toSet
      (perHost, canons, res)
    }

    val (perHost2, canons2, res2) = run(2)
    // every host is capped at exactly the budget (all have >= 6 reachable pages)
    assert(perHost2 == Map("h0.example.jp" -> 6L, "h1.example.jp" -> 6L, "h2.example.jp" -> 6L))
    // refused URLs are still marked seen (never re-shuffled on rediscovery)
    assert(res2.seen > canons2.size)
    // the surviving set is parallelism-invariant (deterministic admit order)
    val (perHost4, canons4, _) = run(4)
    assert(perHost4 == perHost2 && canons4 == canons2)
  }

  test("per-host crawl budget survives kill/resume (admission counts are checkpointed)") {
    import spark.implicits._
    // single-host chain (branching=1): one new page per wave, so the
    // budget boundary lands well after the kill point
    val s1 = SyntheticSite(nHosts = 1, basePagesPerHost = 12, branching = 1, hotFactor = 1)
    val sd = Seq(SeedSpec(s1.pageUrl(0, 0)))
    def cfgOf(ckpt: String, maxW: Int) = CrawlConfig(checkpointDir = ckpt, hostBuckets = 2,
      fetchPartitions = 2, maxPagesPerHost = 5L, maxWaves = maxW)

    val ckptFull = SparkTestSession.tmpDir("budgetfull")
    val full = new WaveEngine(spark, s1, parsers, cfgOf(ckptFull, 10000))
    full.run(sd)
    val fullSet = full.fetchedTable().select($"canonical").as[String].collect().toSet
    assert(fullSet.size == 5) // the budget, not the site size, bounds the crawl

    val ckptPart = SparkTestSession.tmpDir("budgetpart")
    new WaveEngine(spark, s1, parsers, cfgOf(ckptPart, 3)).run(sd)
    val resumed = new WaveEngine(spark, s1, parsers, cfgOf(ckptPart, 10000))
    resumed.resume()
    val resumedSet = resumed.fetchedTable().select($"canonical").as[String].collect().toSet
    // without persisted counts the resumed run would admit a fresh budget
    // on top of the pages fetched before the kill
    assert(resumedSet == fullSet)
  }

  test("404s are data: cursor past the last page does not kill the crawl") {
    val ckpt = SparkTestSession.tmpDir("e404")
    val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 8, fetchPartitions = 2)
    val engine = new WaveEngine(spark, site, parsers, cfg)
    // seed beyond the site: h0 has 8 pages, p99 is a 404
    val res = engine.run(Seq(SeedSpec(site.pageUrl(0, 99)), SeedSpec(site.pageUrl(0, 0))))
    import spark.implicits._
    val statuses = engine.fetchedTable().select($"canonical", $"status").as[(String, Int)].collect().toMap
    assert(statuses(site.pageUrl(0, 99)) == 404)
    assert(res.fetched > 1) // crawl continued from the valid seed
  }
}
