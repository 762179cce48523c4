package graftbench

import graft.engine.PageParser
import graft.fetch.Fetcher
import graft.model.{Document, FollowUp}
import org.apache.spark.scheduler._

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One recorded interval. Times are epoch milliseconds (fractional), so
  * client-call spans and Spark job spans share one clock. */
final case class SpanRec(id: Int, name: String, layer: String, start: Double, end: Double,
    parent: Int, workload: String, runId: String)

object Spans {
  /** Part of [start, end] that none of `intervals` covers. */
  def uncovered(intervals: Seq[(Double, Double)], start: Double, end: Double): Double = {
    var covered = 0.0
    var cursor = start
    intervals.map(i => (math.max(i._1, start), math.min(i._2, end)))
      .filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    math.max(0.0, (end - start) - covered)
  }
}

/** In-memory span log; written out once the run ends. */
final class Spans(workload: String, runId: String) {
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  val recs = mutable.ArrayBuffer.empty[SpanRec]

  def nowMs: Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  def add(name: String, layer: String, start: Double, end: Double, parent: Int): Int = synchronized {
    val id = recs.size + 1
    recs += SpanRec(id, name, layer, start, end, parent, workload, runId)
    id
  }

  /** Time `body` as a span; returns (result, span id, wall ms). */
  def timed[T](name: String, layer: String)(body: => T): (T, Int, Double) = {
    val t0 = nowMs
    val r = body
    val t1 = nowMs
    (r, add(name, layer, t0, t1, parent = 0), t1 - t0)
  }
}

/** Task and job metrics aggregated per Spark job group. */
final class GroupAgg {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var outBytes = 0L
  var outRecords = 0L
  var writeTaskMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** Slowest over median task wall, max over stages with at least `minTasks` tasks. */
  def taskSkew(minTasks: Int): Double = {
    val ratios = stageTaskMs.values.filter(_.size >= minTasks).map { ds =>
      val s = ds.sorted
      s.last.toDouble / math.max(1.0, s(s.size / 2).toDouble)
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }

  def maxJobMs: Double = if (jobIntervals.isEmpty) 0.0 else jobIntervals.map(i => i._2 - i._1).max

  /** Part of [start, end] covered by no job of this group. */
  def uncoveredMs(start: Double, end: Double): Double = Spans.uncovered(jobIntervals.toSeq, start, end)
}

/** Aggregates stage and task metrics by job group (`spark.jobGroup.id`). */
final class GroupListener extends SparkListener {
  val groups = mutable.LinkedHashMap.empty[String, GroupAgg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Double]

  private def agg(g: String): GroupAgg = groups.getOrElseUpdate(g, new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time.toDouble
    e.stageIds.foreach(s => stageGroup(s) = g)
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    agg(g).jobIntervals += ((jobStart.getOrElse(e.jobId, e.time.toDouble), e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      val ob = m.outputMetrics.bytesWritten
      a.outBytes += ob
      a.outRecords += m.outputMetrics.recordsWritten
      if (ob > 0) a.writeTaskMs += m.executorRunTime
    }
  }

  def get(g: String): GroupAgg = synchronized(groups.getOrElse(g, new GroupAgg))
}

/** Counters the counting wrappers feed. JVM-wide adders rather than
  * Spark accumulators: the engine ships its parsers in a broadcast, which
  * local mode hands to every task as the same object, and accumulator
  * adds from several task threads on one instance lose updates. Spark
  * runs in this one JVM (local[N]), so the adders see every call. */
object LayerCounters {
  import java.util.concurrent.atomic.LongAdder
  val fetchCalls, fetchNanos, fetchNon200, fetchSpans = new LongAdder
  val parseCalls, parseNanos, parseLinks = new LongAdder

  def reset(): Unit = Seq(fetchCalls, fetchNanos, fetchNon200, fetchSpans,
    parseCalls, parseNanos, parseLinks).foreach(_.reset())
}

/** Counts and times every page fetch of `inner`. */
final class CountingFetcher(inner: Fetcher) extends Fetcher {
  import LayerCounters._

  def fetch(url: String): (Int, Option[Document]) = {
    val t0 = System.nanoTime()
    val r = inner.fetch(url)
    fetchNanos.add(System.nanoTime() - t0)
    fetchCalls.increment()
    if (r._1 != 200) fetchNon200.increment()
    r._2.foreach(d => fetchSpans.add(d.spans.size.toLong))
    r
  }

  override def fetchMedia(url: String) = inner.fetchMedia(url)
}

/** Counts and times every parse of `inner`. */
final class CountingParser(inner: PageParser) extends PageParser {
  import LayerCounters._

  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] = {
    val t0 = System.nanoTime()
    val r = inner.followUps(doc, meta)
    parseNanos.add(System.nanoTime() - t0)
    parseCalls.increment()
    parseLinks.add(r.size.toLong)
    r
  }
}

/** Fault injection for the self-test: serves every page of `inner` but one. */
final class DroppingFetcher(inner: Fetcher, dropped: String) extends Fetcher {
  def fetch(url: String): (Int, Option[Document]) =
    if (url == dropped) (404, None) else inner.fetch(url)
}

/** Heap in use right after each garbage collection: the data the program
  * keeps alive, without the young space that only waits to be collected.
  * `collect` runs a full collection and restarts the peak from its result. */
object HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
    }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def collect(): Unit = {
    System.gc()
    peak.set(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak.get / 1048576.0
}
