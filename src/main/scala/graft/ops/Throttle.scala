package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Latency-adaptive per-host politeness (the AutoThrottle idea: pace each
 * host from its OBSERVED response latency instead of one fixed delay).
 * The reference crawls at a fixed global 1 req/s
 * (`/root/reference/crawler/settings.py:23,28`); a 10^10-URL frontier
 * over thousands of hosts needs the crawl-side feedback loop real
 * crawlers run: a slow (loaded) host gets backed off, a fast host is
 * paced up toward the configured floor — per host, from data the crawl
 * already produced.
 *
 * This is a FRONTIER-FEEDBACK op like [[Mirror]]/[[Dust]]/[[Recrawl]]:
 * it consumes the fetched table of crawl N and emits the per-host rate
 * table crawl N+1 passes as `CrawlConfig.hostRpsTable` via [[rpsTable]]
 * (the engine always honors the SLOWER of a table rate and a robots
 * Crawl-delay, so composing with robots is automatic). Latency needs no schema field:
 * in realtime mode the engine stamps `fetched_at_ms` after the
 * politeness sleep and `stored_at_ms` after the fetch returns, so
 * `stored_at_ms - fetched_at_ms` IS the per-fetch service time.
 *
 * Update rule (per host, per crawl — the batch form of AutoThrottle's
 * per-response EWMA):
 *
 *   cand = (prev_delay + avg_latency / targetConcurrency) / 2
 *   new  = clamp(cand, minDelayMs, maxDelayMs)        if the host had 2xx rows
 *   new  = clamp(max(prev_delay, cand), …)            if it had only errors
 *          (an erroring host may be backed off, never sped up)
 *   new  = prev_delay                                 if it wasn't fetched
 *
 * Scale shape: ONE map-side-combinable groupBy(host) over the fetched
 * rows (the exchange carries (host, 3 longs) — never bodies or spans),
 * then an O(hosts)⋈O(hosts) equi-join with the previous delay table.
 * Both sides are host-cardinality; AQE broadcasts the smaller.
 */
object Throttle {

  /** Per-host observed service latency from a realtime crawl's fetched
    * table: (host, n_obs, n_ok, avg_latency_ms). Cache hits are excluded
    * (their "latency" is a local read, and AutoThrottle must pace the
    * SERVER, not the cache).
    *
    * CONTRACT: feed this REALTIME fetched tables only. The
    * `stored >= fetched` filter below is a best-effort guard, not a mode
    * detector — a simulated table's early-slot rows can carry planned
    * stamps at/near the wave's wall-clock start, pass the filter, and
    * contribute wall-minus-plan garbage as "latency". Simulated runs
    * have no service latency to observe; don't pace from them. */
  def observedLatencies(fetched: DataFrame): DataFrame =
    fetched
      .filter(!col("from_cache"))
      // guard against simulated-mode tables: there fetched_at_ms is a
      // PLANNED (often future-dated) stamp, so stored−fetched is negative
      // garbage that would collapse every adaptive delay to the floor;
      // only realtime rows carry a real service time
      .filter(col("stored_at_ms") >= col("fetched_at_ms"))
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(when(col("status") >= 200 && col("status") < 300, 1L).otherwise(0L)).as("n_ok"),
        avg(col("stored_at_ms") - col("fetched_at_ms")).as("avg_latency_ms"))

  /** The adaptive-delay update. `prevDelays` is (host, delay_ms) from the
    * previous crawl (empty on the first: every observed host starts at
    * `startDelayMs`). Hosts present in `prevDelays` but unfetched this
    * crawl carry their delay unchanged, so the table is a stable
    * accumulator across crawls. Returns (host, delay_ms, n_obs, n_ok,
    * avg_latency_ms) — n_obs = 0 for carried-only hosts. */
  def adaptiveHostDelays(fetched: DataFrame, prevDelays: DataFrame,
      startDelayMs: Long = 1000L, targetConcurrency: Double = 1.0,
      minDelayMs: Long = 100L, maxDelayMs: Long = 60000L): DataFrame = {
    require(targetConcurrency > 0, s"targetConcurrency=$targetConcurrency")
    require(minDelayMs <= maxDelayMs, s"min=$minDelayMs > max=$maxDelayMs")
    val obs = observedLatencies(fetched)
    val prev = prevDelays.select(col("host"), col("delay_ms").as("__prev"))
    val joined = obs.join(prev, Seq("host"), "full_outer")
      .withColumn("__p", coalesce(col("__prev"), lit(startDelayMs)))
    val cand = (col("__p") + col("avg_latency_ms") / targetConcurrency) / 2.0
    val updated = when(col("n_obs").isNull, col("__p").cast("double")) // carried host
      .when(col("n_ok") > 0, cand)                                     // normal update
      .otherwise(greatest(col("__p").cast("double"), cand))            // errors: back off only
    joined.select(
      col("host"),
      // floor, not a bare long cast: double→long truncation is engine-
      // specific (DuckDB rounds); floor pins the same integer everywhere
      floor(least(lit(maxDelayMs).cast("double"),
        greatest(lit(minDelayMs).cast("double"), updated))).cast("long").as("delay_ms"),
      coalesce(col("n_obs"), lit(0L)).as("n_obs"),
      coalesce(col("n_ok"), lit(0L)).as("n_ok"),
      col("avg_latency_ms"))
  }

  /** Glue for the next crawl: (host, rps = 1000 / delay_ms) from a
    * delay table, as the DataFrame `CrawlConfig.hostRpsTable` takes.
    * Nothing is collected — the engine bucket-partitions this plane with
    * the frontier's own partitioner and stamps rates per partition, so a
    * 10^7-host delay table costs each task only ITS buckets' hosts; the
    * engine keeps the slower of this and any robots Crawl-delay per host. */
  def rpsTable(delays: DataFrame): DataFrame =
    delays.select(col("host"),
      (lit(1000.0) / greatest(lit(1L), col("delay_ms"))).as("rps"))

  /** Per-host crawl health rollup — the dashboard row a crawl run logs
    * per host: fetch/ok/cache counts, ok rate, and the service-latency
    * distribution (cache hits excluded from latency, like
    * [[observedLatencies]]). One groupBy(host) exchange.
    *
    * `approx = false` (default) uses EXACT interpolated percentiles —
    * engine-portable (DuckDB `quantile_cont` computes the identical
    * interpolation) and fine wherever one host's latencies fit a task
    * (they do: a host's fetch count is politeness-bounded). At extreme
    * per-host cardinality pass `approx = true` for the t-digest sketch
    * (map-side combinable, rank error ≤ 1/accuracy). */
  def hostHealth(fetched: DataFrame, approx: Boolean = false): DataFrame = {
    val ok = col("status") >= 200 && col("status") < 300
    // same simulated-stamp guard as observedLatencies: latency only from
    // rows whose stamps are a real before/after pair
    val lat = when(!col("from_cache") &&
        col("stored_at_ms") >= col("fetched_at_ms"),
      (col("stored_at_ms") - col("fetched_at_ms")).cast("double"))
    // round(…, 6) like avg: Spark's Percentile interpolates as
    // lower·(1−f)+upper·f, DuckDB's quantile_cont as lower+(upper−lower)·f
    // — algebraically equal, ulp-divergent; unrounded values would make
    // the cross-engine hash compare data-dependent
    def pct(p: Double) =
      if (approx) percentile_approx(lat, lit(p), lit(10000)).cast("double")
      else round(percentile(lat, lit(p)), 6)
    fetched.groupBy(col("host")).agg(
      count(lit(1)).as("n_fetches"),
      sum(when(ok, 1L).otherwise(0L)).as("n_ok"),
      round(sum(when(ok, 1L).otherwise(0L)).cast("double") / count(lit(1)), 6)
        .as("ok_rate"),
      sum(when(col("from_cache"), 1L).otherwise(0L)).as("n_cache"),
      round(avg(lat), 6).as("avg_latency_ms"),
      pct(0.5).as("p50_latency_ms"),
      pct(0.95).as("p95_latency_ms"),
      max(lat).as("max_latency_ms"))
  }

  /** Frontier drain forecast — the skew audit of the north star's "hot
    * domains must not straggle" clause, as data: given the pending
    * frontier and each host's politeness delay, how long does each host
    * take to drain, how many waves at the per-wave budget, and which
    * hosts exceed the straggler threshold (candidates for a tighter
    * per-wave cap, a politeness renegotiation, or partition isolation).
    *
    * `pending` is any (host, …) frontier slice; `delays` is (host,
    * delay_ms) (e.g. [[adaptiveHostDelays]] output); hosts without a
    * row use `defaultDelayMs`. Politeness is per-host sequential — the
    * engine's invariant — so drain time is exactly
    * `n_pending · delay_ms / 1000` regardless of cluster size: the ONE
    * quantity more executors cannot improve, which is why it deserves
    * its own report. One map-side-combinable count + an O(hosts) join.
    *
    * Output: (host, n_pending, delay_ms, drain_sec, waves_to_drain,
    * straggler). */
  def drainForecast(pending: DataFrame, delays: DataFrame,
      budgetPerWave: Long, stragglerSec: Double,
      defaultDelayMs: Long = 1000L): DataFrame = {
    require(budgetPerWave > 0, s"budgetPerWave=$budgetPerWave")
    val counts = pending.groupBy(col("host")).agg(count(lit(1)).as("n_pending"))
    counts.join(delays.select(col("host"), col("delay_ms")), Seq("host"), "left")
      .withColumn("delay_ms", coalesce(col("delay_ms"), lit(defaultDelayMs)))
      .withColumn("drain_sec",
        round(col("n_pending") * col("delay_ms") / 1000.0, 6))
      .withColumn("waves_to_drain",
        floor((col("n_pending") + budgetPerWave - 1) / budgetPerWave.toDouble)
          .cast("long"))
      .withColumn("straggler", col("drain_sec") > stragglerSec)
  }
}
