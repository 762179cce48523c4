package graftbench

import graft.DietParser
import graft.SparkEntry
import graft.engine.{CrawlConfig, CrawlRunResult, PageParser, SeedSpec, WaveEngine}
import graft.fetch.{Fetcher, SyntheticSite}
import graft.seen.{CuckooFilter, SeenSet128}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: one workload, one seed, traced or not. Prints one
  * `GRAFTBENCH_RESULT {json}` line; `perfbench/run.py` turns it into the
  * final result line. See `perfbench/DESIGN.md`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: String, corpus: String, inject: String)

  /** Site shape: hosts × base pages, branching 10, host 0 ×4 pages. */
  final case class Shape(hosts: Int, pages: Int)
  val CrawlShape = Shape(128, 500)
  val DurableShape = Shape(32, 300)
  val DurableFirstLegWaves = 2
  val HostBuckets = 128
  val FetchPartitions = 32
  val FilterCapacity = 1 << 13
  val SetupRepeats = 5
  val MinPasses = 3
  val QueryPasses = 6
  /** Untimed passes after the check pass: the JIT is still compiling the
    * query paths through the first few. */
  val QueryWarmups = 4

  /** The queries corpus_queries times, chosen to fit a run's time limit
    * (all 109 take about 90 s warm at local[4]): the flagship
    * aggregate, the sort_array rewrite, and the three gated driver prefix
    * sums (Packing, Shard, Budget). */
  val QuerySet = Seq("q01_agg_sums", "q05_ordered_concat", "q57_packing_layout",
    "q98_shard_manifest", "q104_budget_select")
  /** A SnapshotTable query, checked and measured in traced runs only: its
    * wall swings by a third with the machine's load, more than any bound
    * the timed passes could hold. */
  val SnapshotQuery = "q54_lsh_incremental"
  val TracedQueries: Seq[String] = QuerySet :+ SnapshotQuery

  // ------------------------------------------------------------------
  // bookkeeping shared by every workload
  // ------------------------------------------------------------------

  final class Run(val args: Args) {
    val runId: String = f"${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}-${System.currentTimeMillis()}%d"
    val spans = new Spans(args.workload, runId)
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** Metric name → (value, unit). */
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
    var firstTimedMs = 0L
    /** Each timed pass's highest heap use after a collection, MB. */
    val passHeapMb = mutable.ArrayBuffer.empty[Double]

    /** Count one operation; `ok = false` marks it failed. */
    def check(what: String, ok: Boolean, info: => String = ""): Boolean = {
      attempted += 1
      if (!ok) { failed += 1; failures += s"$what: $info" }
      ok
    }

    /** Run one operation; a throw counts as a failed operation. */
    def attempt[T](what: String)(body: => T): Option[T] =
      try Some(body)
      catch {
        case e: Throwable =>
          attempted += 1; failed += 1
          failures += s"$what threw ${e.getClass.getName}: ${e.getMessage}"
          None
      }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(out: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrator", "graft.engine.GraftKryoRegistrator")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Creates the session `SetupRepeats` times (stopping the previous one)
    * and builds the inputs each time; returns the last session and inputs
    * with the median set-up wall. */
  def setUp[T](run: Run)(inputs: SparkSession => T): (SparkSession, T, Double) = {
    var spark: SparkSession = null
    var last: T = null.asInstanceOf[T]
    val walls = (1 to SetupRepeats).map { i =>
      if (spark != null) spark.stop()
      val (r, _, ms) = run.spans.timed(s"setup.$i", "setup") {
        spark = session(run.args.out)
        inputs(spark)
      }
      last = r
      ms / 1000.0
    }
    (spark, last, median(walls))
  }

  def dirBytes(f: File): (Long, Long) =
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else Option(f.listFiles).getOrElse(Array.empty).map(dirBytes)
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  def freshDir(out: String, name: String): String = {
    val d = new File(out, s"work/$name")
    graft.util.Fs.deleteRecursively(d)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }

  // ------------------------------------------------------------------
  // crawl workloads
  // ------------------------------------------------------------------

  final case class CrawlInputs(site: SyntheticSite, seeds: Seq[SeedSpec], fetched: Long, deduped: Long)

  /** The site, its seeds, and the exact totals a crawl of it must report:
    * every page is fetched once, and every emitted link (plus every seed)
    * that is not an admitted URL is deduped. */
  def crawlInputs(shape: Shape, seed: Long): CrawlInputs = {
    val site = SyntheticSite(nHosts = shape.hosts, basePagesPerHost = shape.pages,
      branching = 10, hotFactor = 4, seed = seed, textSpansPerPage = 8)
    val seeds = (0 until shape.hosts).map(k => SeedSpec(site.pageUrl(k, 0), parseFn = "diet"))
    var links = 0L
    var k = 0
    while (k < shape.hosts) {
      var i = 0
      val n = site.pagesOf(k)
      while (i < n) { links += site.links(k, i).size; i += 1 }
      k += 1
    }
    CrawlInputs(site, seeds, site.totalPages, links + seeds.size - site.totalPages)
  }

  def crawlConfig(dir: String, durable: Boolean, maxWaves: Int = 10000): CrawlConfig =
    CrawlConfig(checkpointDir = dir, hostBuckets = HostBuckets, fetchPartitions = FetchPartitions,
      maxPerHostPerWave = Int.MaxValue, keepFetched = durable,
      checkpointEvery = if (durable) 1 else 1000000, filterCapacityPerBucket = FilterCapacity,
      maxWaves = maxWaves)

  /** Fetcher and parser as the run drives them: counted when traced, one
    * page dropped under the fetch self-test. */
  final class Plumbing(run: Run, in: CrawlInputs) {
    val base: Fetcher =
      if (run.args.inject == "fetch")
        new DroppingFetcher(in.site, in.site.pageUrl(1, in.site.pagesOf(1) - 1))
      else in.site
    def fetcher(traced: Boolean): Fetcher =
      if (traced) new CountingFetcher(base) else base
    def parsers(traced: Boolean): Map[String, PageParser] =
      Map("diet" -> (if (traced) new CountingParser(DietParser) else DietParser))
  }

  def checkTotals(run: Run, what: String, r: CrawlRunResult, fetched: Long, deduped: Long): Boolean =
    run.check(s"$what fetched", r.fetched == fetched, s"fetched ${r.fetched}, expected $fetched") &
      run.check(s"$what deduped", r.deduped == deduped, s"deduped ${r.deduped}, expected $deduped")

  /** Wrapper counters must agree exactly with the engine's fetched count. */
  def counterChecks(run: Run, what: String, fetched: Long): Unit = {
    import LayerCounters._
    run.check(s"$what fetch.calls equals fetched", fetchCalls.sum == fetched, s"${fetchCalls.sum} calls, $fetched fetched")
    run.check(s"$what parse.calls equals fetched", parseCalls.sum == fetched, s"${parseCalls.sum} calls, $fetched fetched")
  }

  /** Engine, fetch and extract layers of one traced crawl call. */
  def engineLayer(run: Run, g: GroupAgg, span: SpanRec, res: CrawlRunResult): Unit = {
    import LayerCounters._
    val m = run.metrics
    m("engine.waves") = (res.waves.toDouble, "count")
    m("engine.jobs") = (g.jobs.toDouble, "count")
    m("engine.stages") = (g.stages.toDouble, "count")
    m("engine.tasks") = (g.tasks.toDouble, "count")
    m("engine.task_run_ms") = (g.runMs.toDouble, "ms")
    m("engine.task_cpu_ms") = (g.cpuNs / 1e6, "ms")
    m("engine.gc_ms") = (g.gcMs.toDouble, "ms")
    m("engine.shuffle_write_mb") = (g.shuffleWrite / 1048576.0, "MB")
    m("engine.shuffle_read_mb") = (g.shuffleRead / 1048576.0, "MB")
    m("engine.spill_mb") = (g.spill / 1048576.0, "MB")
    m("engine.output_mb") = (g.outBytes / 1048576.0, "MB")
    m("engine.driver_gap_ms") = (g.uncoveredMs(span.start, span.end), "ms")
    m("engine.wave_ms_max") = (g.maxJobMs, "ms")
    m("engine.task_skew") = (g.taskSkew(4), "ratio")
    m("engine.dedup_share") = (res.deduped.toDouble / math.max(1L, res.fetched + res.deduped), "ratio")
    m("fetch.calls") = (fetchCalls.sum.toDouble, "count")
    m("fetch.ms") = (fetchNanos.sum / 1e6, "ms")
    m("fetch.non200") = (fetchNon200.sum.toDouble, "count")
    m("fetch.spans") = (fetchSpans.sum.toDouble, "count")
    m("parse.calls") = (parseCalls.sum.toDouble, "count")
    m("parse.ms") = (parseNanos.sum / 1e6, "ms")
    m("parse.links_out") = (parseLinks.sum.toDouble, "count")
    counterChecks(run, "crawl", res.fetched)
  }

  /** Public seen-layer calls at the per-bucket cardinality the crawl ends with. */
  def seenLayer(run: Run, seen: Long): Unit = {
    val n = math.max(1L, seen / HostBuckets).toInt
    val rnd = new java.util.SplittableRandom(run.args.seed)
    val keys = Array.fill(n)(rnd.nextLong())
    val ins, copies, sers = mutable.ArrayBuffer.empty[Double]
    var bytes = 0
    for (_ <- 1 to 7) {
      val t0 = System.nanoTime()
      val s = new SeenSet128(n)
      var i = 0
      while (i < n) { s.add(keys(i), ~keys(i)); i += 1 }
      val t1 = System.nanoTime()
      val c = s.copy()
      val t2 = System.nanoTime()
      val f = new CuckooFilter(FilterCapacity)
      i = 0
      while (i < n) { f.insert(keys(i)); i += 1 }
      val t3 = System.nanoTime()
      bytes = f.serialized.length
      val t4 = System.nanoTime()
      if (c.size != n) run.check("seen set copy size", ok = false, s"${c.size} != $n")
      ins += (t1 - t0) / 1e6; copies += (t2 - t1) / 1e6; sers += (t4 - t3) / 1e6
    }
    run.metrics("seen.insert_ms") = (median(ins.toSeq), "ms")
    run.metrics("seen.set_copy_ms") = (median(copies.toSeq), "ms")
    run.metrics("seen.filter_serialize_ms") = (median(sers.toSeq), "ms")
    run.metrics("seen.filter_bytes") = (bytes.toDouble, "B")
  }

  def crawl(run: Run): Double = {
    val a = run.args
    val (spark, in, setupS) = setUp(run)(_ => crawlInputs(CrawlShape, a.seed))
    val sc = spark.sparkContext
    val pl = new Plumbing(run, in)
    def once(traced: Boolean, name: String): Option[(CrawlRunResult, Double, Int)] = {
      val dir = freshDir(a.out, name)
      val engine = new WaveEngine(spark, pl.fetcher(traced), pl.parsers(traced), crawlConfig(dir, durable = false))
      if (traced) sc.setJobGroup("crawl.run", "crawl.run")
      val r = run.attempt(s"$name run") { run.spans.timed(s"$name.run", "engine")(engine.run(in.seeds)) }
      sc.clearJobGroup()
      graft.util.Fs.deleteRecursively(new File(dir))
      r.map { case (res, id, ms) => checkTotals(run, name, res, in.fetched, in.deduped); (res, ms / 1000.0, id) }
    }
    // one untimed crawl of the same site: the JIT is still compiling the
    // crawl paths through the first few crawls in a JVM, and how fast it
    // gets there depends on the machine's load
    run.spans.timed("warmup", "setup") {
      val dir = freshDir(a.out, "warmup")
      new WaveEngine(spark, in.site, pl.parsers(traced = false), crawlConfig(dir, durable = false)).run(in.seeds)
      graft.util.Fs.deleteRecursively(new File(dir))
    }
    val passes = timedPasses(run, MinPasses)(i => once(traced = false, s"crawl$i"))
    // best of the passes: the JVM is still warming across them, and the
    // noise from other tenants of a shared machine only ever slows a pass down
    val urlsPerS = passes.map { case (res, s, _) => (res.fetched + res.deduped) / s }.max
    run.detail("urls_per_s") = (urlsPerS, "1/s")
    run.detail("waves") = (passes.head._1.waves.toDouble, "count")
    if (!a.trace) {
      run.metrics("setup_s") = (setupS, "s")
      run.metrics("pass_s") = (passes.map(_._2).min, "s")
      run.metrics("peak_heap_mb") = (median(run.passHeapMb.toSeq), "MB")
    } else {
      val listener = new GroupListener
      sc.addSparkListener(listener)
      LayerCounters.reset()
      once(traced = true, "traced").foreach { case (res, s, id) =>
        org.apache.spark.graftbench.Drain(sc)
        recordJobSpans(run, listener.get("crawl.run"), id)
        engineLayer(run, listener.get("crawl.run"), run.spans.recs(id - 1), res)
        seenLayer(run, res.seen)
        run.metrics("trace.overhead") = (urlsPerS / ((res.fetched + res.deduped) / s), "ratio")
      }
      durableLayer(run, spark, listener)
      sc.removeSparkListener(listener)
      run.metrics("crawl.urls_per_s") = (urlsPerS, "1/s")
    }
    spark.stop()
    setupS
  }

  /** The sinks / checkpoint layer, traced runs only: a durable crawl of
    * `DurableShape` (checkpoint every wave, fetched pages kept) stopped
    * after `DurableFirstLegWaves` waves, resumed to completion by a fresh
    * engine, and read back. */
  def durableLayer(run: Run, spark: SparkSession, listener: GroupListener): Unit = {
    val a = run.args
    val sc = spark.sparkContext
    val in = crawlInputs(DurableShape, a.seed)
    val pl = new Plumbing(run, in)
    // the uninterrupted crawl of the same site
    val ref = run.attempt("durable reference crawl") {
      new WaveEngine(spark, pl.base, pl.parsers(traced = false),
        crawlConfig(freshDir(a.out, "reference"), durable = false)).run(in.seeds)
    }
    ref.foreach(r => checkTotals(run, "durable reference", r, in.fetched, in.deduped))
    val dir = freshDir(a.out, "durable")
    LayerCounters.reset()
    run.attempt("durable cycle") {
      def engine(maxWaves: Int) = new WaveEngine(spark, pl.fetcher(traced = true), pl.parsers(traced = true),
        crawlConfig(dir, durable = true, maxWaves))
      sc.setJobGroup("durable.run", "durable.run")
      val (first, s1, _) = run.spans.timed("durable.run", "engine")(engine(DurableFirstLegWaves).run(in.seeds))
      sc.setJobGroup("durable.resume", "durable.resume")
      val resumer = engine(10000)
      val (resumed, s2, resumeMs) = run.spans.timed("durable.resume", "engine")(resumer.resume())
      sc.setJobGroup("durable.readback", "durable.readback")
      val (rows, s3, readMs) = run.spans.timed("durable.readback", "sinks")(resumer.fetchedTable().count())
      sc.clearJobGroup()
      org.apache.spark.graftbench.Drain(sc)
      val gs = Seq("durable.run", "durable.resume", "durable.readback").map(listener.get)
      gs.zip(Seq(s1, s2, s3)).foreach { case (g, id) => recordJobSpans(run, g, id) }
      // checks
      ref.foreach(r => checkTotals(run, "resumed", resumed, r.fetched, r.deduped))
      run.check("first leg stopped early", first.waves == DurableFirstLegWaves && first.fetched < in.fetched,
        s"first leg ${first.waves} waves, ${first.fetched} fetched")
      run.check("fetchedTable rows", rows == in.fetched, s"$rows rows, expected ${in.fetched}")
      val distinct = resumer.fetchedTable().select(countDistinct(col("canonical"))).head().getLong(0)
      run.check("fetchedTable distinct urls", distinct == in.fetched, s"$distinct, expected ${in.fetched}")
      val lineage = resumer.lineageReport().agg(sum(col("fetched")), max(col("skew"))).head()
      run.check("lineage fetched sum", lineage.getLong(0) == resumed.fetched,
        s"${lineage.getLong(0)}, expected ${resumed.fetched}")
      counterChecks(run, "durable", resumed.fetched)
      // metrics
      val m = run.metrics
      val writes = gs.take(2)
      m("engine.partition_skew") = (lineage.getDouble(1), "ratio")
      m("sink.output_mb") = (writes.map(_.outBytes).sum / 1048576.0, "MB")
      m("sink.output_records") = (writes.map(_.outRecords).sum.toDouble, "count")
      m("sink.write_task_ms") = (writes.map(_.writeTaskMs).sum.toDouble, "ms")
      val (all, files) = dirBytes(new File(dir))
      Seq("fetched", "seen", "lineage").foreach(k => m(s"ckpt.${k}_mb") = (dirBytes(new File(dir, k))._1 / 1048576.0, "MB"))
      m("ckpt.files") = (files.toDouble, "count")
      m("ckpt.bytes_per_page") = (all.toDouble / math.max(1L, resumed.fetched), "B")
      val resumeStart = run.spans.recs(s2 - 1).start
      m("resume.first_job_ms") = (gs(1).jobIntervals.map(_._2).sorted.headOption.fold(0.0)(_ - resumeStart), "ms")
      m("resume.s") = (resumeMs / 1000.0, "s")
      m("readback.ms") = (readMs, "ms")
    }
    sc.clearJobGroup()
    Seq("reference", "durable").foreach(d => graft.util.Fs.deleteRecursively(new File(a.out, s"work/$d")))
  }

  def recordJobSpans(run: Run, g: GroupAgg, parent: Int): Unit =
    g.jobIntervals.zipWithIndex.foreach { case ((s, e), i) => run.spans.add(s"job$i", "spark", s, e, parent) }

  /** Runs `pass` until `seconds` have passed and at least `min` passes
    * succeeded, giving up after `min` failed passes (None; the pass counts
    * its own failure). An untimed full collection precedes each pass, so
    * every pass starts from the live heap and its after-collection peak
    * goes to `run.passHeapMb`. */
  def timedPasses[T](run: Run, min: Int)(pass: Int => Option[T]): Seq[T] = {
    run.firstTimedMs = System.currentTimeMillis()
    val seconds = run.args.seconds
    val deadline = System.nanoTime() + seconds * 1000000000L
    val out = mutable.ArrayBuffer.empty[T]
    var i = 0
    while ((System.nanoTime() < deadline || out.size < min) && i - out.size < min) {
      HeapAfterGc.collect()
      pass(i).foreach(out += _)
      run.passHeapMb += HeapAfterGc.peakMb
      i += 1
    }
    out.toSeq
  }

  // ------------------------------------------------------------------
  // corpus queries
  // ------------------------------------------------------------------

  def expectedRows(corpus: String): Map[String, Long] = {
    val f = Paths.get(corpus, "expected_rows.tsv")
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).asScala.filter(_.contains('\t')).map { l =>
      val Array(k, v) = l.split('\t'); k -> v.toLong
    }.toMap
  }

  def corpusQueries(run: Run): Double = {
    val a = run.args
    val dir = new File(a.corpus).getAbsolutePath
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
    val (spark, order, setupS) = setUp(run) { s =>
      tables.foreach(t => s.read.parquet(s"$dir/$t.parquet").schema)
      new scala.util.Random(a.seed).shuffle(QuerySet.sorted)
    }
    val expected = expectedRows(a.corpus)
    val sc = spark.sparkContext
    val checked = if (a.trace) order :+ SnapshotQuery else order
    // untimed check pass (also the warm-up): every query's row count
    run.spans.timed("check", "setup") {
      checked.zipWithIndex.foreach { case (q, i) =>
        run.attempt(s"$q check") { SparkEntry.queries(q)(spark, dir).count() }.foreach { n0 =>
          val n = if (a.inject == "query" && i == 0) n0 - 1 else n0
          run.check(s"$q rows", expected.get(q).contains(n), s"$n rows, expected ${expected.get(q)}")
        }
      }
    }
    def pass(name: String, qs: Seq[String], traced: Boolean): Option[Seq[(String, Double, Int)]] = {
      val walls = qs.flatMap { q =>
        if (traced) sc.setJobGroup(q, q)
        val r = run.attempt(s"$q $name") {
          run.spans.timed(s"$name.$q", "queries") {
            SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          }
        }
        sc.clearJobGroup()
        r.map { case (_, id, ms) => (q, ms / 1000.0, id) }
      }
      if (walls.size == qs.size) Some(walls) else None
    }
    (1 to QueryWarmups).foreach(i => pass(s"warmup$i", order, traced = false))
    val passes = timedPasses(run, QueryPasses)(i => pass(s"pass$i", order, traced = false))
    // each query's best wall over the passes, for the reason the crawl takes its best pass
    val perQuery = passes.flatten.groupBy(_._1).values.map(_.map(_._2).min).toSeq
    val total = perQuery.sum
    run.detail("query_total_s") = (total, "s")
    run.detail("query_p50_s") = (median(perQuery), "s")
    run.detail("query_max_s") = (perQuery.max, "s")
    if (!a.trace) {
      run.metrics("setup_s") = (setupS, "s")
      run.metrics("pass_s") = (total, "s")
      run.metrics("peak_heap_mb") = (median(run.passHeapMb.toSeq), "MB")
    } else {
      val listener = new GroupListener
      sc.addSparkListener(listener)
      pass("traced", checked, traced = true).foreach { walls =>
        org.apache.spark.graftbench.Drain(sc)
        val m = run.metrics
        val gs = walls.map { case (q, _, id) =>
          val g = listener.get(q)
          recordJobSpans(run, g, id)
          val sp = run.spans.recs(id - 1)
          (q, g, g.uncoveredMs(sp.start, sp.end))
        }
        def sum(f: GroupAgg => Double) = gs.map(x => f(x._2)).sum
        m("query.jobs") = (sum(_.jobs), "count")
        m("query.stages") = (sum(_.stages), "count")
        m("query.tasks") = (sum(_.tasks), "count")
        m("query.shuffle_mb") = (sum(g => (g.shuffleWrite + g.shuffleRead).toDouble) / 1048576.0, "MB")
        m("query.spill_mb") = (sum(_.spill) / 1048576.0, "MB")
        m("query.gc_ms") = (sum(_.gcMs), "ms")
        m("query.cpu_ms") = (sum(_.cpuNs) / 1e6, "ms")
        m("query.driver_gap_ms") = (gs.map(_._3).sum, "ms")
        val wall = walls.map(w => w._1 -> w._2).toMap
        TracedQueries.foreach { q =>
          m(s"$q.s") = (wall.getOrElse(q, 0.0), "s")
          m(s"$q.jobs") = (gs.find(_._1 == q).map(_._2.jobs.toDouble).getOrElse(0.0), "count")
        }
        m("trace.overhead") = (walls.filter(w => QuerySet.contains(w._1)).map(_._2).sum / total, "ratio")
      }
      sc.removeSparkListener(listener)
      run.metrics("query.total_s") = (total, "s")
      run.metrics("query.p50_s") = (median(perQuery), "s")
      run.metrics("query.max_s") = (perQuery.max, "s")
    }
    spark.stop()
    setupS
  }

  // ------------------------------------------------------------------
  // output
  // ------------------------------------------------------------------

  /** Every per-layer metric, so a traced run of any workload reports the
    * full set (zero where the layer does not run). */
  val PerLayer: Seq[(String, String)] = Seq(
    "engine.waves" -> "count", "engine.jobs" -> "count", "engine.stages" -> "count",
    "engine.tasks" -> "count", "engine.task_run_ms" -> "ms", "engine.task_cpu_ms" -> "ms",
    "engine.gc_ms" -> "ms", "engine.shuffle_write_mb" -> "MB", "engine.shuffle_read_mb" -> "MB",
    "engine.spill_mb" -> "MB", "engine.output_mb" -> "MB", "engine.driver_gap_ms" -> "ms", "engine.wave_ms_max" -> "ms",
    "engine.task_skew" -> "ratio", "engine.partition_skew" -> "ratio", "engine.dedup_share" -> "ratio",
    "fetch.calls" -> "count", "fetch.ms" -> "ms", "fetch.non200" -> "count", "fetch.spans" -> "count",
    "parse.calls" -> "count", "parse.ms" -> "ms", "parse.links_out" -> "count",
    "seen.set_copy_ms" -> "ms", "seen.filter_serialize_ms" -> "ms", "seen.filter_bytes" -> "B",
    "seen.insert_ms" -> "ms",
    "sink.output_mb" -> "MB", "sink.output_records" -> "count", "sink.write_task_ms" -> "ms",
    "ckpt.fetched_mb" -> "MB", "ckpt.seen_mb" -> "MB", "ckpt.lineage_mb" -> "MB",
    "ckpt.files" -> "count", "resume.first_job_ms" -> "ms", "readback.ms" -> "ms",
    "query.jobs" -> "count", "query.stages" -> "count", "query.tasks" -> "count",
    "query.shuffle_mb" -> "MB", "query.spill_mb" -> "MB", "query.gc_ms" -> "ms",
    "query.cpu_ms" -> "ms", "query.driver_gap_ms" -> "ms") ++
    TracedQueries.flatMap(q => Seq(s"$q.s" -> "s", s"$q.jobs" -> "count")) ++ Seq(
    "crawl.urls_per_s" -> "1/s", "resume.s" -> "s", "ckpt.bytes_per_page" -> "B",
    "query.total_s" -> "s", "query.p50_s" -> "s", "query.max_s" -> "s", "trace.overhead" -> "ratio")

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
  }

  def metricJson(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1", kv("out"), kv.getOrElse("corpus", "perfbench/corpus"),
      kv.getOrElse("inject", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    HeapAfterGc.install()
    val run = new Run(a)
    new File(a.out).mkdirs()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.currentTimeMillis()
    val setupS = a.workload match {
      case "crawl" => crawl(run)
      case "corpus_queries" => corpusQueries(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace) PerLayer.foreach { case (k, u) => if (!run.metrics.contains(k)) run.metrics(k) = (0.0, u) }
    run.detail("failed_ops") = (run.failed.toDouble / math.max(1L, run.attempted), "ratio")
    // tracing output: spans and per-layer self time (span wall minus child cover)
    if (a.trace) {
      val dir = new File(a.out, s"trace/${run.runId}")
      dir.mkdirs()
      val recs = run.spans.recs.toSeq
      Files.write(new File(dir, "spans.jsonl").toPath, recs.map { r =>
        json(mutable.LinkedHashMap("id" -> r.id, "name" -> r.name, "layer" -> r.layer, "start_ms" -> r.start,
          "end_ms" -> r.end, "parent" -> r.parent, "workload" -> r.workload, "run_id" -> r.runId))
      }.asJava)
      val children = recs.groupBy(_.parent)
      // only the traced calls have their jobs recorded as children
      val self = recs.filter(r => r.layer == "spark" || children.contains(r.id)).groupBy(_.layer).map { case (layer, rs) =>
        val wall = rs.map(r => r.end - r.start).sum
        val selfMs = rs.map { r =>
          Spans.uncovered(children.getOrElse(r.id, Nil).map(c => (c.start, c.end)), r.start, r.end)
        }.sum
        layer -> mutable.LinkedHashMap("wall_ms" -> wall, "self_ms" -> selfMs, "spans" -> rs.size)
      }
      Files.writeString(new File(dir, "selftime.json").toPath, json(self))
    }
    val rt = Runtime.getRuntime
    val context = mutable.LinkedHashMap[String, Any](
      "nproc" -> rt.availableProcessors,
      "loadavg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "heap_max_mb" -> rt.maxMemory / 1048576.0,
      "memcpy_gb_s" -> memcpyProbe(),
      "setup_median_s" -> setupS,
      "pass_heap_after_gc_mb" -> run.passHeapMb.toSeq,
      "jvm_start_to_first_timed_s" -> (run.firstTimedMs - jvmStart) / 1000.0,
      "jvm_uptime_s" -> (System.currentTimeMillis() - jvmStart) / 1000.0,
      "run_wall_s" -> (System.currentTimeMillis() - t0) / 1000.0)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "run_id" -> run.runId,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> metricJson(run.metrics), "detail" -> metricJson(run.detail),
      "failures" -> run.failures.take(20).toSeq, "ops" -> run.spans.recs.filter(r => r.layer != "spark").map(r => Seq(r.name, r.end - r.start)),
      "context" -> context)
    println("GRAFTBENCH_RESULT " + json(out))
  }

  /** Single-thread 64 MB array copy bandwidth, GB/s (median of 5). */
  def memcpyProbe(): Double = {
    val src = new Array[Long](8 << 20)
    val dst = new Array[Long](8 << 20)
    val r = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      System.arraycopy(src, 0, dst, 0, src.length)
      (src.length * 8.0 / 1e9) / ((System.nanoTime() - t0) / 1e9)
    }
    median(r)
  }
}
