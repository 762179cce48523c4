package graft.engine

import graft.SparkTestSession
import graft.fetch.SyntheticSite
import graft.model.UrlRecord
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

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

  /** A fetched page no crawl of `site` fetches. */
  val staleFetch: graft.model.FetchResult = {
    val canon = "https://stale.example/x"
    graft.model.FetchResult(canon, canon, graft.urls.UrlCanon.urlHash(canon), "stale.example", 0,
      "follow_links", Map.empty, 2, 1L << 40, 200, from_cache = false, 0L, 0L, 0, 0, canon, Nil)
  }

  /** Adds `row` to `dir` as a stale part file: one no attempt of a
    * checkpoint task or fetch task writes (its index is above theirs). */
  def writeStale(dir: String, schema: org.apache.spark.sql.types.StructType, row: Product): Unit = {
    val tmp = SparkTestSession.tmpDir("stale")
    PlaneWriter.writeDir(tmp, schema, Iterator(row))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp, "part-00000-c000.snappy.parquet"),
      java.nio.file.Paths.get(dir, "part-00097-c000.snappy.parquet"))
  }

  /** Spark jobs that `body` runs on this thread, and the task count of
    * every stage they submit. */
  def sparkWorkOf[T](body: => T): (T, Int, Seq[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    def ours(p: java.util.Properties) = p != null && p.getProperty("spark.jobGroup.id") == group
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stageTasks.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.ListenerDrain(sc)
      (out, jobs.get(), stageTasks.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Spark jobs that `body` runs on this thread. */
  def jobsOf[T](body: => T): (T, Int) = {
    val (out, jobs, _) = sparkWorkOf(body)
    (out, jobs)
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
    // exactly: the interval, whose task also writes the fetched pages, and
    // the one-job checkpoint; the start requests, the lineage and the seen
    // total come from the driver
    assert(jobsSmall == 2, s"jobs: $jobsSmall")
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
      // a resume with no pop left to it commits nothing and reports the
      // checkpoint's totals, its seen total included
      val idle = new WaveEngine(spark, site, parsers, cfgOf(5, resumeParts)).resume()
      assert(idle.copy(elapsedMs = 0L) == partial.copy(waves = 0, elapsedMs = 0L))
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

  /** A prior run's fetched pages (the S11 cache and S14 validators of the
    * side-table cases) and a rate table naming every host of `site`. */
  def sideTables(prior: String): Seq[(String, CrawlConfig => CrawlConfig)] = {
    import spark.implicits._
    val fetched = Some(s"$prior/fetched")
    val rates = Some((0 until site.nHosts).map(k => graft.urls.UrlCanon.hostOf(
      graft.urls.UrlCanon.canonicalize(site.pageUrl(k, 0))) -> (10.0 + k)).toDF("host", "rps"))
    Seq(
      "fresh cache" -> (_.copy(fetchCacheDir = fetched)),
      "stale cache" -> (_.copy(fetchCacheDir = fetched, cacheTtlSec = 0)),
      "revalidateFrom" -> (_.copy(revalidateFrom = fetched)),
      "hostRpsTable" -> (_.copy(hostRpsTable = rates)),
      "all three" -> (_.copy(fetchCacheDir = fetched, revalidateFrom = fetched, hostRpsTable = rates)))
  }

  test("scalable run: one job per wave and per checkpoint, and no other job") {
    val prior = SparkTestSession.tmpDir("jobsprior")
    new WaveEngine(spark, site, parsers,
      CrawlConfig(checkpointDir = prior, hostBuckets = 8, fetchPartitions = 4)).run(seeds)
    // the fetched table costs no job: the fetch tasks write it
    for (keep <- Seq(false, true)) {
      def runJobs(every: Int, cap: Int = Int.MaxValue): (CrawlRunResult, Int) = {
        val e = new WaveEngine(spark, site, parsers, CrawlConfig(
          checkpointDir = SparkTestSession.tmpDir(s"jobs$every$cap$keep"), hostBuckets = 8,
          fetchPartitions = 4, maxPerHostPerWave = cap, keepFetched = keep,
          checkpointEvery = every))
        val (r, jobs) = jobsOf(e.run(seeds))
        if (keep) assert(e.fetchedTable().count() == r.fetched)
        (r, jobs)
      }
      val (rare, jobsRare) = runJobs(1000000)
      assert(rare.fetched == site.totalPages && rare.waves >= 3)
      // resume's count (the wave-0 checkpoint is committed on the driver)
      // and the exit checkpoint
      assert(jobsRare == rare.waves + 2, s"keepFetched $keep: $jobsRare jobs for ${rare.waves} waves")
      val (every, jobsEvery) = runJobs(1)
      assert(every == rare.copy(elapsedMs = every.elapsedMs))
      // one checkpoint job per wave; the last wave's is the exit checkpoint
      assert(jobsEvery == 2 * every.waves + 1,
        s"keepFetched $keep: $jobsEvery jobs for ${every.waves} waves")
      // a capped budget adds one job per wave: the next pending's count
      val (capped, jobsCapped) = runJobs(1000000, cap = 1)
      assert(capped.fetched == site.totalPages && capped.waves > rare.waves)
      assert(jobsCapped == 2 * capped.waves + 2,
        s"keepFetched $keep, capped: $jobsCapped jobs for ${capped.waves} waves")
      // each side table, and all three together, add one job: the side
      // plane's build, ahead of the first wave
      for ((name, withSide) <- sideTables(prior)) {
        val e = new WaveEngine(spark, site, parsers, withSide(CrawlConfig(
          checkpointDir = SparkTestSession.tmpDir("jobsside"), hostBuckets = 8,
          fetchPartitions = 4, maxPerHostPerWave = Int.MaxValue, keepFetched = keep,
          checkpointEvery = 1000000)))
        val (r, jobs) = jobsOf(e.run(seeds))
        // the synthetic site answers every validator with a 304, which
        // has no links: revalidateFrom alone crawls the seeds only
        if (name != "revalidateFrom") assert(r == rare.copy(elapsedMs = r.elapsedMs), name)
        assert(jobs == r.waves + 3, s"keepFetched $keep, $name: $jobs jobs for ${r.waves} waves")
      }
    }
  }

  test("run() and resume() read their planes inside tasks: no stage scans files through Spark SQL") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val prior = SparkTestSession.tmpDir("scanprior")
    new WaveEngine(spark, site, parsers,
      CrawlConfig(checkpointDir = prior, hostBuckets = 8, fetchPartitions = 4)).run(seeds)
    val cached: CrawlConfig => CrawlConfig =
      _.copy(fetchCacheDir = Some(s"$prior/fetched"), revalidateFrom = Some(s"$prior/fetched"))
    for ((name, withSide) <- Seq("plain" -> identity[CrawlConfig] _, "cache + validators" -> cached)) {
      val ckpt = SparkTestSession.tmpDir("scan")
      def engine(maxW: Int) = new WaveEngine(spark, site, parsers, withSide(CrawlConfig(
        checkpointDir = ckpt, hostBuckets = 8, fetchPartitions = 4, maxWaves = maxW)))
      val group = s"scan-${java.util.UUID.randomUUID()}"
      val rdds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
            e.stageInfo.rddInfos.foreach(r => rdds.add(r.name))
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, group)
      val res = try {
        engine(1).run(seeds)
        engine(10000).resume()
      } finally {
        org.apache.spark.ListenerDrain(sc)
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      assert(res.fetched >= 1 && !rdds.isEmpty, name)
      assert(!rdds.asScala.exists(_.contains("FileScanRDD")), s"$name: ${rdds.asScala.toSet}")
    }
  }

  test("a run with side tables leaves nothing cached: its side plane is unpersisted at exit") {
    val prior = SparkTestSession.tmpDir("leakprior")
    new WaveEngine(spark, site, parsers,
      CrawlConfig(checkpointDir = prior, hostBuckets = 8, fetchPartitions = 4)).run(seeds)
    val sc = spark.sparkContext
    for ((name, withSide) <- sideTables(prior)) {
      val (frames, firstId) = (org.apache.spark.sql.CachedFrames(spark), sc.emptyRDD[Int].id)
      val res = new WaveEngine(spark, site, parsers, withSide(CrawlConfig(
        checkpointDir = SparkTestSession.tmpDir("leak"), hostBuckets = 8, fetchPartitions = 4)))
        .run(seeds)
      assert(res.fetched >= seeds.length, name)
      assert(org.apache.spark.sql.CachedFrames(spark) == frames,
        s"$name: cached frames left in the session")
      // the run keeps only its last wave's checkpointed output
      val kept = sc.getPersistentRDDs.values.filter(_.id > firstId).toSeq
      assert(!kept.exists(_.name == "side plane"), name)
      kept.foreach(r => assert(r.isCheckpointed, s"$name: ${r.id} ${r.name}\n${r.toDebugString}"))
    }
  }

  test("S11/S14: two copies of one URL resolve to the latest (wave, seq), then a total tie-break") {
    // a cache root holding two copies of each URL, one per part file: p0's
    // differ in (wave, seq), p1's only in store time, p2's only in spans.
    // The winner (cache: the page served; revalidation: the validator, which
    // the live page matches exactly when the winner is the expected copy)
    // does not depend on fetchPartitions or on which file holds which copy
    import graft.model.{Document, FetchResult, Span, SpanHash}
    import spark.implicits._
    val now = System.currentTimeMillis()
    val urls = (0 until 3).map(i => s"https://a.example.jp/p$i")
    def spans(text: String) = Seq(Span("text", text, "", 0))
    def copyOf(i: Int, wave: Int, seq: Long, storedAt: Long, text: String) = FetchResult(urls(i),
      urls(i), graft.urls.UrlCanon.urlHash(urls(i)), "a.example.jp", 0, "follow_links",
      Map.empty, wave, seq, 200, from_cache = false, 0L, storedAt, 0, 0, urls(i), spans(text))
    val (x, y) = ("copy x", "copy y")
    val tieWinner = Seq(x, y).maxBy(t => SpanHash.of(spans(t)))
    val first = Seq(copyOf(0, 1, 9L, now, "old"), copyOf(1, 2, 5L, now - 1000L, "old"),
      copyOf(2, 2, 5L, now, x))
    val second = Seq(copyOf(0, 3, 1L, now - 1000L, "new"), copyOf(1, 2, 5L, now, "new"),
      copyOf(2, 2, 5L, now, y))
    val winners = Map(urls(0) -> "new", urls(1) -> "new", urls(2) -> tieWinner)
    val live = new graft.fetch.MapFetcher(winners.map { case (u, t) => u -> Document(u, spans(t)) })
    val noFollow: Map[String, PageParser] = Map("follow_links" -> NoFollow)
    for (fp <- Seq(2, 4); swap <- Seq(false, true)) {
      val root = SparkTestSession.tmpDir("copies")
      val (a, b) = if (swap) (second, first) else (first, second)
      PlaneWriter.writeDir(s"$root/a", PlaneWriter.fetchResultSchema, a.iterator)
      PlaneWriter.writeDir(s"$root/b", PlaneWriter.fetchResultSchema, b.iterator)
      def crawl(cfg: CrawlConfig => CrawlConfig) = {
        val e = new WaveEngine(spark, live, noFollow, cfg(CrawlConfig(
          checkpointDir = SparkTestSession.tmpDir("copiesrun"), hostBuckets = 8,
          fetchPartitions = fp)))
        e.run(urls.map(SeedSpec(_)))
        e.fetchedTable().select($"canonical", $"status", $"from_cache", $"spans.text")
          .as[(String, Int, Boolean, Seq[String])].collect().toSeq
      }
      val served = crawl(_.copy(fetchCacheDir = Some(root)))
      assert(served.map(r => (r._1, r._3, r._4.mkString)).toSet ==
        winners.map { case (u, t) => (u, true, t) }.toSet, s"fetchPartitions $fp, swap $swap")
      val revalidated = crawl(_.copy(revalidateFrom = Some(root)))
      assert(revalidated.map(r => (r._1, r._2)).toSet == urls.map(_ -> 304).toSet,
        s"fetchPartitions $fp, swap $swap")
    }
  }

  test("a crashed checkpoint write's leftovers are ignored or cleared; resume equals an uninterrupted run") {
    // a task killed mid-write leaves its hidden temp file, in a committed
    // checkpoint's dirs (every reader skips it) and above LATEST; an
    // attempt at the next checkpoint that never committed can also leave
    // whole part files above LATEST: checkpoint planes, a seen compact and
    // fetched pages. Resume deletes every per-wave dir above LATEST, and a
    // checkpoint clears each plane dir before writing it.
    for (ref <- Seq(false, true)) {
      def cfgOf(ckpt: String, maxW: Int = 10000) = CrawlConfig(checkpointDir = ckpt,
        referenceOrder = ref, hostBuckets = 8, fetchPartitions = 2, maxPerHostPerWave = 1,
        maxWaves = maxW)
      val fullCkpt = SparkTestSession.tmpDir(s"tmpfull$ref")
      val full = new WaveEngine(spark, site, parsers, cfgOf(fullCkpt))
      full.run(seeds)

      val ckpt = SparkTestSession.tmpDir(s"tmpleft$ref")
      new WaveEngine(spark, site, parsers, cfgOf(ckpt, maxW = 2)).run(seeds)
      assert(new WaveEngine(spark, site, parsers, cfgOf(ckpt)).latestCheckpointWave.contains(2))
      Seq("pending_w2", "seen/flush_2", "pending_w3", "seen/flush_3", "fetched/wave_3").foreach { d =>
        val f = new java.io.File(s"$ckpt/$d/.part-00000-c000.snappy.parquet.crashed.tmp")
        f.getParentFile.mkdirs()
        java.nio.file.Files.writeString(f.toPath, "a torn write, not parquet")
      }
      // a part file of the uncommitted wave-3 attempt, holding a row no
      // uninterrupted run fetches ...
      writeStale(s"$ckpt/pending_w3", PlaneWriter.urlRecordSchema, UrlRecord(staleFetch.url,
        staleFetch.canonical, staleFetch.url_hash, staleFetch.host, 0, "follow_links", Map.empty, 0,
        is_seed = false, wave = 3, seq = 1L << 40))
      // ... and its fetched page and a seen compact holding its mark
      writeStale(s"$ckpt/fetched/wave_3", PlaneWriter.fetchResultSchema, staleFetch)
      writeStale(s"$ckpt/seen/compact_3", PlaneWriter.seenSchema,
        (staleFetch.url_hash, staleFetch.canonical, 0, 3))
      // ... and its lineage, repeating a committed (wave, partition)
      writeStale(s"$ckpt/lineage/upto_3", PlaneWriter.lineageSchema, (1, 0, 5L, 5L, 0L, 0L, 0L))

      new WaveEngine(spark, site, parsers, cfgOf(ckpt, maxW = 3)).resume()
      for (d <- Seq("pending_w3", "seen/flush_3")) {
        assert(new java.io.File(s"$ckpt/$d").list().toSeq == Seq("part-00000-c000.snappy.parquet"), d)
      }
      for (d <- Seq("seen/compact_3", "fetched/wave_3")) assert(!new java.io.File(s"$ckpt/$d").exists(), d)
      val resumed = new WaveEngine(spark, site, parsers, cfgOf(ckpt))
      val res = resumed.resume()
      assert(resumed.fetchedTable().count() == res.fetched)
      assert(fetchedSet(resumed) == fetchedSet(full))
      assert(seenHashSet(ckpt) == seenHashSet(fullCkpt))
      if (ref) assert(fetchOrder(resumed) == fetchOrder(full))
      // the lineage holds exactly one row per (wave, partition), and sums
      // to the uninterrupted run's
      import spark.implicits._
      val keys = resumed.lineageTable().select($"wave", $"partition_id").as[(Int, Int)].collect()
      assert(keys.length == keys.distinct.length, s"referenceOrder $ref: ${keys.sorted.toSeq}")
      val parts = if (ref) 1 else 2
      assert(keys.groupBy(_._1).values.forall(_.length == parts), keys.sorted.toSeq)
      def sums(e: WaveEngine) =
        e.lineageTable().agg(sum($"in_count"), sum($"fetched")).as[(Long, Long)].head()
      assert(sums(resumed) == sums(full) && sums(full)._1 == res.fetched)
    }
  }

  test("resume deletes uncommitted fetched pages: the fetched table holds exactly the run's pages") {
    // a crash after a fetch wave (or interval) wrote its pages but before
    // its checkpoint committed leaves fetched/wave_<LATEST> (and that
    // checkpoint's lineage) behind; a resume that pops nothing must not
    // count it
    for (ref <- Seq(false, true)) {
      val ckpt = SparkTestSession.tmpDir(s"fetchedorphan$ref")
      def cfgOf(maxW: Int) = CrawlConfig(checkpointDir = ckpt, referenceOrder = ref,
        hostBuckets = 8, fetchPartitions = 2, maxPerHostPerWave = 1, maxWaves = maxW)
      val first = new WaveEngine(spark, site, parsers, cfgOf(2)).run(seeds)
      val idle = new WaveEngine(spark, site, parsers, cfgOf(2))
      assert(idle.latestCheckpointWave.contains(2))
      writeStale(s"$ckpt/fetched/wave_2", PlaneWriter.fetchResultSchema, staleFetch)
      // ... and the lineage rows of that uncommitted checkpoint
      writeStale(s"$ckpt/lineage/upto_3", PlaneWriter.lineageSchema, (2, 0, 1L, 1L, 0L, 0L, 0L))
      val res = idle.resume()
      assert(res.waves == 0 && res.fetched == first.fetched)
      assert(idle.fetchedTable().count() == res.fetched, s"referenceOrder $ref")
      import spark.implicits._
      assert(idle.lineageTable().agg(sum($"in_count")).as[Long].head() == res.fetched,
        s"referenceOrder $ref")
    }
  }

  test("scalable mode fetches the same URL set; per-host order is deterministic across parallelism") {
    val (oracleOrder, _) = ReferenceScheduler.crawl(seeds, site, parsers)
    import spark.implicits._

    // (canonical, status, from_cache) of every page, per-host order (cache
    // hits share slot -1; their seqs order them), and the run's result
    def run(parts: Int, fetcher: graft.fetch.Fetcher = site,
        withSide: CrawlConfig => CrawlConfig = identity)
        : (Set[(String, Int, Boolean)], Map[String, Seq[String]], CrawlRunResult) = {
      val ckpt = SparkTestSession.tmpDir(s"scal$parts")
      val cfg = withSide(CrawlConfig(checkpointDir = ckpt, hostBuckets = 8,
        fetchPartitions = parts, maxPerHostPerWave = 3))
      val engine = new WaveEngine(spark, fetcher, parsers, cfg)
      val res = engine.run(seeds)
      val rows = engine.fetchedTable()
        .orderBy($"wave", $"slot", $"seq")
        .select($"host", $"canonical", $"status", $"from_cache")
        .as[(String, String, Int, Boolean)].collect().toSeq
      val perHost = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      (rows.map(r => (r._2, r._3, r._4)).toSet, perHost, res)
    }

    val (set2, perHost2, res2) = run(2)
    val (set8, perHost8, _) = run(8)
    // above bypassMergeThreshold the candidate codec writes through
    // SortShuffleWriter/ExternalSorter instead of the bypass writer
    assert(spark.sparkContext.getConf.getInt("spark.shuffle.sort.bypassMergeThreshold", 200) < 256)
    val (set256, perHost256, res256) = run(256)
    assert(set2.map(_._1) == oracleOrder.toSet)
    assert(set8 == set2 && set256 == set2)
    // per-host fetch order independent of parallelism
    assert(perHost2 == perHost8 && perHost256 == perHost2)
    assert(res2.fetched == oracleOrder.size)
    assert(res256.deduped == res2.deduped)

    // all three side tables: a fresh cache of host 0's pages, the
    // validators of a prior run of the site's first version, and a rate
    // table; the site changed since, so the misses answer 304 (no links)
    // or 200 (links followed)
    val priorCkpt = SparkTestSession.tmpDir("scalprior")
    val prior = new WaveEngine(spark, graft.fetch.VersionedSite(site, 1), parsers,
      CrawlConfig(checkpointDir = priorCkpt, hostBuckets = 8, fetchPartitions = 2))
    prior.run(seeds)
    val host0 = graft.urls.UrlCanon.hostOf(graft.urls.UrlCanon.canonicalize(site.pageUrl(0, 0)))
    val cache = SparkTestSession.tmpDir("scalcache")
    prior.fetchedTable().filter($"host" === host0).write.mode("overwrite").parquet(s"$cache/h0")
    val rates = (0 until site.nHosts).map(k => graft.urls.UrlCanon.hostOf(
      graft.urls.UrlCanon.canonicalize(site.pageUrl(k, 0))) -> (2.0 + k)).toDF("host", "rps")
    val withSide: CrawlConfig => CrawlConfig = _.copy(fetchCacheDir = Some(cache),
      revalidateFrom = Some(s"$priorCkpt/fetched"),
      hostRpsTable = Some(rates))
    val v2 = graft.fetch.VersionedSite(site, 2)
    val sides = Seq(2, 8, 256).map(run(_, v2, withSide))
    val (sideSet, sidePerHost, _) = sides.head
    sides.tail.foreach { case (set, perHost, _) =>
      assert(set == sideSet && perHost == sidePerHost)
    }
    assert(sideSet.exists(_._3) && sideSet.exists(r => !r._3 && r._2 == 304) &&
      sideSet.exists(r => !r._3 && r._2 == 200), sideSet)
    assert(sideSet.filter(_._3).map(_._1).forall(_.contains(host0)))
  }

  test("waves run in task slots; fetch partitions keep their identity in lineage, rows and part files") {
    // 12 hosts over 64 buckets spread over many fetch partitions, so a
    // coalesced task runs several non-empty ones
    val s12 = SyntheticSite(nHosts = 12, basePagesPerHost = 6, branching = 2, hotFactor = 2)
    val seeds12 = (0 until 12).map(k => SeedSpec(s12.pageUrl(k, 0)))
    val cores = spark.sparkContext.defaultParallelism
    def run(parts: Int): (Set[String], Map[String, Seq[String]], Seq[Int]) = {
      val ckpt = SparkTestSession.tmpDir(s"slots$parts")
      val e = new WaveEngine(spark, s12, parsers, CrawlConfig(checkpointDir = ckpt,
        hostBuckets = 64, fetchPartitions = parts, maxPerHostPerWave = 3))
      val (res, _, stageTasks) = sparkWorkOf(e.run(seeds12))
      assert(res.fetched == s12.totalPages && res.waves >= 3)
      import spark.implicits._
      // one lineage row per fetch partition per wave, ids 0 until parts
      val ids = e.lineageTable().select($"wave", $"partition_id").as[(Int, Int)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      assert(ids.size == res.waves)
      ids.foreach { case (w, ps) => assert(ps == (0 until parts), s"wave $w: $ps") }
      assert(e.lineageReport().select($"n_partitions").as[Long].collect().forall(_ == parts))
      // a page's partition is its bucket's, and its part file is named by it
      val rows = e.fetchedTable()
        .select($"host_bucket", $"partition_id", input_file_name().as("file"))
        .as[(Int, Int, String)].collect()
      assert(rows.length == res.fetched)
      rows.foreach { case (b, pid, file) =>
        assert(pid == b % parts, s"bucket $b in partition $pid")
        assert(file.contains(f"/part-$pid%05d-"), s"partition $pid in $file")
      }
      (fetchedSet(e).map(_._1), perHostOrder(e), stageTasks)
    }
    val (set2, order2, _) = run(2)
    for (parts <- Seq(8, 256)) {
      val (set, order, stageTasks) = run(parts)
      val slots = math.min(parts, cores)
      assert(stageTasks.max == slots, s"fetchPartitions $parts: stage tasks $stageTasks")
      assert(set == set2 && order == order2, s"fetchPartitions $parts")
    }
  }

  test("the state RDD's lineage stays cut when the wave's reduce runs in slots") {
    // the reduce runs over a coalesce of the persisted wave output; the
    // job's checkpoint step must still reach that output and cut it. With
    // a capped budget the next pending (deferred ∪ novel) is kept too, and
    // its count must cut it, however many waves the crawl runs
    val chain = SyntheticSite(nHosts = 2, basePagesPerHost = 12, branching = 1, hotFactor = 1)
    val wide = SyntheticSite(nHosts = 2, basePagesPerHost = 24, branching = 2, hotFactor = 1)
    val sc = spark.sparkContext
    for ((s, cap, minWaves) <- Seq((chain, Int.MaxValue, 5), (wide, 1, 20))) {
      val firstId = sc.emptyRDD[Int].id
      val e = new WaveEngine(spark, s, parsers, CrawlConfig(
        checkpointDir = SparkTestSession.tmpDir("cut"), hostBuckets = 16, fetchPartitions = 8,
        maxPerHostPerWave = cap, checkpointEvery = 1000000))
      val res = e.run((0 until 2).map(k => SeedSpec(s.pageUrl(k, 0))))
      assert(res.fetched == s.totalPages && res.waves >= minWaves, res)
      def depth(r: org.apache.spark.rdd.RDD[_]): Int =
        1 + r.dependencies.map(d => depth(d.rdd)).maxOption.getOrElse(0)
      // simulated, the loop keeps only the last wave's output and, when
      // capped, the next pending
      val kept = sc.getPersistentRDDs.values.filter(_.id > firstId).toSeq
      assert(kept.nonEmpty)
      kept.foreach { r =>
        assert(r.isCheckpointed && depth(r) <= 2, s"${r.id}: depth ${depth(r)}\n${r.toDebugString}")
      }
    }
  }

  test("realtime politeness holds when several fetch partitions share a task") {
    // 8 fetch partitions on the session's 4 cores: each wave task runs
    // two partitions one after another, and each partition's pace map and
    // index come through the explicit-index zip. Budget 2 per host per
    // wave gives same-host pairs inside a wave and across each boundary.
    val s8 = SyntheticSite(nHosts = 8, basePagesPerHost = 4, branching = 2, hotFactor = 1)
    val rps = 4.0
    val ckpt = SparkTestSession.tmpDir("rtslots")
    val e = new WaveEngine(spark, s8, parsers, CrawlConfig(checkpointDir = ckpt,
      hostBuckets = 16, fetchPartitions = 8, maxPerHostPerWave = 2, politenessRps = rps,
      realtime = true))
    val (res, _, stageTasks) = sparkWorkOf(e.run((0 until 8).map(k => SeedSpec(s8.pageUrl(k, 0)))))
    assert(res.fetched == s8.totalPages)
    assert(stageTasks.max <= math.min(8, spark.sparkContext.defaultParallelism), stageTasks)
    import spark.implicits._
    val rows = e.fetchedTable()
      .select($"host", $"wave", $"fetched_at_ms", $"host_bucket", $"partition_id")
      .as[(String, Int, Long, Int, Int)].collect()
    rows.foreach(r => assert(r._5 == r._4 % 8, s"bucket ${r._4} in partition ${r._5}"))
    var within, across = 0
    rows.groupBy(_._1).values.foreach { hostRows =>
      val sorted = hostRows.sortBy(_._3)
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(b._3 - a._3 >= math.round(1000 / rps), s"${a._1}: fetches ${b._3 - a._3}ms apart (< 1/rps)")
        if (a._2 == b._2) within += 1 else across += 1
      }
    }
    assert(within > 0 && across > 0, s"$within same-wave and $across cross-wave pairs")
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
    val out = WaveCore.fetchIter(rows.iterator, 0, site, rps, realtime = true,
      fetchWave = 0, waveStartMs = System.currentTimeMillis() - 10000L).toArray
    val ts = out.map(_.fetched_at_ms).sorted
    ts.zip(ts.tail).foreach { case (a, b) =>
      assert(b - a >= 50L, s"overrun fetches ${b - a}ms apart (< 1/rps)")
    }
  }

  test("hostRpsTable: a slow table rate caps the wave budget and paces every fetch") {
    // host paced at 20 rps by the rate table under a 100 rps global, stall
    // bound 0.2 s → floor(0.2 × 20) = 4 rows per wave even though
    // maxPerHostPerWave is uncapped; the other 8 seeds must defer to later
    // waves instead of holding this wave's barrier for the whole sleep
    // train. The rate rides the rows' stamps into the budget, the
    // deferral and the per-fetch spacing.
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
    assert(rows.length >= 12) // every seed (and any followed link) fetched
    val perWave = rows.map(_._1).groupBy(identity).view.mapValues(_.length).toMap
    assert(perWave.values.forall(_ <= 4), s"wave budget exceeded: $perWave")
    assert(perWave.size >= 3) // the overflow actually deferred across waves
    // per-fetch spacing at the table rate (50 ms), incl. wave boundaries
    // (pace marks must carry the table rate, not the global 100 rps)
    val ts = rows.map(_._2).sorted
    ts.zip(ts.tail).foreach { case (a, b) =>
      assert(b - a >= 49L, s"fetches ${b - a}ms apart (< 1/20rps)")
    }
  }

  test("hostRpsTable: simulated planned stamps follow the closed form of the table rates") {
    // simulated fetched_at_ms is the politeness plan: t0 + wave·1000 +
    // round(slot·1000/rate(host)), t0 being the run's wave-0 start (the
    // stamp of every seed, all at slot 0). One table rate is faster than
    // politenessRps and one slower: the table rate is the base either way.
    val site = SyntheticSite(nHosts = 4, basePagesPerHost = 6, branching = 2, hotFactor = 2)
    val hosts = (0 until 4).map(h => graft.urls.UrlCanon.hostOf(
      graft.urls.UrlCanon.canonicalize(site.pageUrl(h, 0))))
    val rates = hosts.zipWithIndex.map { case (h, i) => h -> (0.5 + i * 0.75) }.toMap
    import spark.implicits._
    val cfg = CrawlConfig(checkpointDir = SparkTestSession.tmpDir("closedform"),
      hostBuckets = 4, fetchPartitions = 2, politenessRps = 2.0,
      hostRpsTable = Some(rates.toSeq.toDF("host", "rps")))
    val e = new WaveEngine(spark, site, parsers, cfg)
    val res = e.run((0 until 4).map(h => SeedSpec(site.pageUrl(h, 0))))
    val rows = e.fetchedTable().select($"host", $"wave", $"slot", $"fetched_at_ms")
      .as[(String, Int, Int, Long)].collect()
    assert(rows.length == res.fetched)
    assert(rows.map(_._1).toSet == hosts.toSet && rows.exists(_._3 > 0))
    val t0 = rows.filter(_._2 == 0).map(_._4).min
    rows.foreach { case (h, w, s, t) =>
      assert(t - t0 == w * 1000L + math.round(s * 1000.0 / rates(h)),
        s"$h wave $w slot $s planned at +${t - t0} ms")
    }
  }

  test("hostRpsTable: two rows for one host resolve to the slower rate at any fetchPartitions") {
    // a plane built as a union can hold two rows for one host; whichever
    // order they arrive in, the slower (0.5 rps) wins: the seeds' gaps are
    // 2000 ms, never the 4 rps row's 250 ms
    val site = SyntheticSite(nHosts = 1, basePagesPerHost = 5, branching = 1, hotFactor = 1)
    val host = graft.urls.UrlCanon.hostOf(
      graft.urls.UrlCanon.canonicalize(site.pageUrl(0, 0)))
    import spark.implicits._
    val (fast, slow) = (Seq((host, 4.0)).toDF("host", "rps"), Seq((host, 0.5)).toDF("host", "rps"))
    for (fp <- Seq(2, 8); plane <- Seq(fast.union(slow), slow.union(fast))) {
      val cfg = CrawlConfig(checkpointDir = SparkTestSession.tmpDir("duprate"),
        hostBuckets = 8, fetchPartitions = fp, maxWaves = 1, hostRpsTable = Some(plane))
      val e = new WaveEngine(spark, site, parsers, cfg)
      e.run((0 until 5).map(i => SeedSpec(site.pageUrl(0, i))))
      val ts = e.fetchedTable().select($"fetched_at_ms").as[Long].collect().sorted
      assert(ts.length == 5)
      assert(ts.zip(ts.tail).map { case (a, b) => b - a }.toSeq == Seq.fill(4)(2000L),
        s"fetchPartitions $fp: ${ts.toSeq}")
    }
  }

  test("hostRpsTable: a null host or an rps <= 0 fails the run by name, and leaves no plane") {
    val site = SyntheticSite(nHosts = 1, basePagesPerHost = 2, branching = 1, hotFactor = 1)
    // a chain: wave n fetches page n, so this fetcher throws in wave 2
    val chain = SyntheticSite(nHosts = 1, basePagesPerHost = 4, branching = 1, hotFactor = 1)
    val bad = chain.pageUrl(0, 2)
    val throwsInWave2: graft.fetch.Fetcher = new graft.fetch.Fetcher {
      def fetch(url: String) =
        if (url == bad) throw new IllegalStateException(s"fetch of $url failed") else chain.fetch(url)
    }
    import spark.implicits._
    val sc = spark.sparkContext
    for ((fetcher, plane, msg) <- Seq(
        (site, Some(Seq((null: String, 1.0)).toDF("host", "rps")), "hostRpsTable row with null host"),
        (site, Some(Seq(("a.example.jp", 0.0)).toDF("host", "rps")),
          "hostRpsTable row for host 'a.example.jp' has invalid rps 0.0 (must be > 0)"),
        (throwsInWave2, None, s"fetch of $bad failed"))) {
      val firstId = sc.emptyRDD[Int].id
      val e = new WaveEngine(spark, fetcher, parsers, CrawlConfig(
        checkpointDir = SparkTestSession.tmpDir("badrate"), hostBuckets = 8,
        fetchPartitions = 2, hostRpsTable = plane))
      val err = intercept[Exception](e.run(Seq(SeedSpec(site.pageUrl(0, 0)))))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(t => t.getMessage != null && t.getMessage.contains(msg)), err)
      // neither the side plane nor the resumed plane, a wave's output or
      // the wave in flight's is left persisted
      val kept = sc.getPersistentRDDs.values.filter(_.id > firstId).toSeq
      assert(kept.isEmpty, s"$msg: ${kept.map(r => s"${r.id} ${r.name}\n${r.toDebugString}")}")
    }
  }

  test("engine meta stamps never reach follow-ups, even through a meta-copying parser") {
    // host a is at 100 rps in the rate table and links to three pages on
    // host c, which is not. A parser that copies its page's meta onto
    // every follow-up (as ShugiinBills.parseHonbun does) must not carry
    // a's __rps__ stamp, nor its if_hash validator, onto c's rows: c paces
    // at politenessRps = 1 (gaps of 1000 ms, not 10 ms), and the parser's
    // own meta still reaches the follow-ups
    import graft.model.{Document, Span}
    def page(url: String, links: String*): (String, Document) =
      url -> Document(url, links.zipWithIndex.map { case (l, i) => Span("link", "", l, i) })
    val pages = Map(
      page("https://a.example.jp/p0",
        "https://c.example.jp/1", "https://c.example.jp/2", "https://c.example.jp/3"),
      page("https://c.example.jp/1"), page("https://c.example.jp/2"),
      page("https://c.example.jp/3"))
    val copyMeta: PageParser = new PageParser {
      def followUps(doc: Document, meta: Map[String, String]): Seq[graft.model.FollowUp] =
        FollowAllLinks.followUps(doc, meta).map(_.copy(parse_fn = "copy_meta", meta = meta))
    }
    import spark.implicits._
    val cfg = CrawlConfig(checkpointDir = SparkTestSession.tmpDir("metaleak"),
      hostBuckets = 2, fetchPartitions = 2, politenessRps = 1.0,
      hostRpsTable = Some(Seq(("a.example.jp", 100.0)).toDF("host", "rps")))
    val e = new WaveEngine(spark, new graft.fetch.MapFetcher(pages), Map("copy_meta" -> copyMeta), cfg)
    e.run(Seq(SeedSpec("https://a.example.jp/p0", parseFn = "copy_meta",
      meta = Map("k" -> "v", Sources.IfHashKey -> "1"))))
    val c = e.fetchedTable().filter($"host" === "c.example.jp")
      .select($"wave", $"fetched_at_ms", $"meta").as[(Int, Long, Map[String, String])].collect()
    assert(c.length == 3 && c.forall(_._1 == 1))
    val ts = c.map(_._2).sorted
    assert(ts.zip(ts.tail).map { case (a, b) => b - a }.toSeq == Seq(1000L, 1000L))
    assert(c.forall(_._3 == Map("k" -> "v")), c.map(_._3).toSeq)
  }

  test("LATEST is renamed into place; a torn LATEST or state file fails resume by name") {
    val ckpt = SparkTestSession.tmpDir("latest")
    val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 2, fetchPartitions = 2, maxWaves = 2)
    new WaveEngine(spark, site, parsers, cfg).run(seeds)
    val names = new java.io.File(ckpt).list().toSeq
    assert(!names.exists(n => n.contains("tmp") || n.contains("compacting")), names)
    val latest = java.nio.file.Paths.get(s"$ckpt/LATEST")
    val wave = java.nio.file.Files.readString(latest).trim.toInt
    // a crash between truncating LATEST and rewriting it
    java.nio.file.Files.writeString(latest, "")
    val torn = intercept[IllegalStateException](new WaveEngine(spark, site, parsers, cfg).resume())
    assert(torn.getMessage.contains(latest.toString), torn.getMessage)
    // a state file without its next_seq field
    java.nio.file.Files.writeString(latest, wave.toString)
    val state = java.nio.file.Paths.get(s"$ckpt/state_w$wave.json")
    java.nio.file.Files.writeString(state,
      java.nio.file.Files.readString(state).replaceAll("\"next_seq\":-?\\d+,", ""))
    val noSeq = intercept[IllegalStateException](new WaveEngine(spark, site, parsers, cfg).resume())
    assert(noSeq.getMessage.contains(state.toString) && noSeq.getMessage.contains("next_seq"),
      noSeq.getMessage)
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
