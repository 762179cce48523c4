package graft

import graft.engine.{CrawlConfig, PageParser, SeedSpec, WaveEngine}
import graft.fetch.SyntheticSite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Scale-stress harness for the PACED + REVALIDATING frontier path
 * (VERDICT r5 #3) — SEPARATE from the frozen driver bench. The r5 10×
 * stress ran the plain path and caught the cuckoo-chain cliff; the two
 * per-wave state planes it did NOT size are exercised here:
 *
 *  - `hostRpsTable` — the bucket-co-partitioned rate plane, stamped
 *    onto every pending row per wave via zipPartitions;
 *  - `revalidateFrom` — the cached O(urls) validator plane, equi-joined
 *    onto every wave's batch (phase B re-crawls phase A's corpus, so
 *    every fetch carries a validator and comes back 304-shaped).
 *
 * Runs the same deterministic synthetic crawl as `Bench.frontierRun`
 * (same site shape, same 128-bucket / 32-partition job) at a 1×
 * calibration scale and a STRESS_SCALE multiple, both with pacing on,
 * phase B of each with revalidation on. Prints ONE JSON line:
 * per-scale/phase elapsed, fetched, deduped, urls/sec, and the
 * large/small ratios whose linearity is the evidence (a super-linear
 * driver or state term shows up as ratio >> scale).
 *
 * Env: SPARK_GRAFT_CPUS (32), STRESS_HOSTS (1024), STRESS_PAGES (2000),
 * STRESS_SCALE (10 — multiplies pages).
 */
object BenchStress {

  private def session(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-stress-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrator", "graft.engine.GraftKryoRegistrator")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
    val shm = new java.io.File("/dev/shm")
    val s = (if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft-spark-local"); d.mkdirs()
      b.config("spark.local.dir", d.getAbsolutePath)
    } else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Phase(elapsedMs: Long, fetched: Long, deduped: Long,
      waves: Int) {
    def qps: Double = (fetched + deduped) * 1000.0 / math.max(1, elapsedMs)
    def json: String =
      s"""{"elapsed_ms":$elapsedMs,"fetched":$fetched,"deduped":$deduped,""" +
        s""""waves":$waves,"urls_per_sec":$qps}"""
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val hosts = sys.env.getOrElse("STRESS_HOSTS", "1024").toInt
    val basePages = sys.env.getOrElse("STRESS_PAGES", "2000").toInt
    val scale = sys.env.getOrElse("STRESS_SCALE", "10").toInt

    val spark = session(cpus)
    try {
      def crawl(pages: Int, paced: Boolean,
          revalidateFrom: Option[String], siteSeed: Long): (Phase, String) = {
        val site = SyntheticSite(nHosts = hosts, basePagesPerHost = pages,
          branching = 10, hotFactor = 4, seed = siteSeed, textSpansPerPage = 8)
        val seeds = (0 until hosts).map(k => SeedSpec(site.pageUrl(k, 0), parseFn = "diet"))
        val ckpt = java.nio.file.Files.createTempDirectory("stress").toString
        // the rate plane names every synthetic host (rps high enough that
        // simulated-mode pacing never defers — the cost under test is the
        // per-wave zipPartitions stamp + the budget path, not sleeping)
        val rps = spark.range(hosts).select(
          concat(lit("h"), col("id"), lit(".example.jp")).as("host"),
          (lit(1000.0) + pmod(col("id"), lit(7)).cast("double")).as("rps"))
        val cfg = CrawlConfig(checkpointDir = ckpt, hostBuckets = 128,
          fetchPartitions = 32, maxPerHostPerWave = Int.MaxValue,
          keepFetched = revalidateFrom.isEmpty, // phase A keeps the corpus for B
          checkpointEvery = 1000000,
          hostRpsTable = if (paced) Some(rps) else None,
          revalidateFrom = revalidateFrom)
        val engine = new WaveEngine(spark, site,
          Map[String, PageParser]("diet" -> DietParser), cfg)
        val res = engine.run(seeds)
        (Phase(res.elapsedMs, res.fetched, res.deduped, res.waves), ckpt)
      }

      // phase A: paced crawl, corpus kept. Phase B: the REFRESH crawl —
      // same URL universe, CHANGED content (site seed differs), so every
      // frontier row passes the cached validator-plane equi-join and
      // carries an If-None-Match validator into a conditional fetch that
      // comes back 200 (content changed) and keeps link-following: the
      // validator join and the per-fetch hash compare run at FULL crawl
      // volume. (An unchanged corpus 304s everything at wave 0 — the
      // contract case RevalidateSpec pins — and exercises nothing at
      // scale.)
      def scaleRun(pages: Int): (Phase, Phase) = {
        val (a, ckptA) = crawl(pages, paced = true,
          revalidateFrom = None, siteSeed = 42L)
        val (b, ckptB) = crawl(pages, paced = true,
          revalidateFrom = Some(s"$ckptA/fetched"), siteSeed = 43L)
        graft.util.Fs.deleteRecursively(new java.io.File(ckptA))
        graft.util.Fs.deleteRecursively(new java.io.File(ckptB))
        (a, b)
      }

      // warmup (JIT) at 1/4 of the 1x shape
      scaleRun(math.max(50, basePages / 4))
      val (a1, b1) = scaleRun(basePages)
      val (aN, bN) = scaleRun(basePages * scale)
      def ratio(x: Long, y: Long): Double = x.toDouble / math.max(1L, y)
      println(
        s"""{"metric":"paced+revalidating frontier stress","scale":$scale,""" +
          s""""hosts":$hosts,"base_pages":$basePages,""" +
          s""""paced_1x":${a1.json},"revalidating_1x":${b1.json},""" +
          s""""paced_${scale}x":${aN.json},"revalidating_${scale}x":${bN.json},""" +
          s""""ratios":{"paced_fetched":${ratio(aN.fetched, a1.fetched)},""" +
          s""""paced_deduped":${ratio(aN.deduped, a1.deduped)},""" +
          s""""paced_elapsed":${ratio(aN.elapsedMs, a1.elapsedMs)},""" +
          s""""revalidating_fetched":${ratio(bN.fetched, b1.fetched)},""" +
          s""""revalidating_elapsed":${ratio(bN.elapsedMs, b1.elapsedMs)}}}""")
    } finally spark.stop()
  }
}
