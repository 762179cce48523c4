package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}

/**
 * Corpus-wide prefix scan over a total order — the one order-coupled
 * primitive behind [[Packing.layout]] (token offsets), [[Budget]]
 * (ranked cumulative tokens), [[Shard.globalShuffleLayout]] (global
 * ordinals) and [[SuffixArray]] (global ranks). It runs as the textbook
 * two-level distributed scan ([[scan]]):
 *   1. the slim fixed-width rows (text dies at the caller's scan
 *      projection) are range-partitioned by the order keys — one range
 *      exchange;
 *   2. one partial per partition (nParts rows) comes to the driver and
 *      turns into a broadcast offset map;
 *   3. each partition finishes with a partition-local window plus its
 *      offset — no further exchange.
 * A global `Window.orderBy` (no partition) would instead drag the whole
 * corpus through ONE task — the plan this object exists to avoid. The
 * range exchange is also the one skew-sensitive step of every caller.
 *
 * [[exclusiveSum]] puts a size gate in front of the scan: when the slim
 * plane fits the driver, one limit-collect + an in-memory sort + prefix
 * sum replaces the range-sample job, the checkpoint materialization and
 * the partials collect — three driver barriers per call. Both sides emit
 * the same frame (the slim columns plus [[Prefix]]), so a caller derives
 * its own columns with one projection whichever side fired, and its
 * output schema cannot change with corpus size.
 */
object PrefixScan {

  /** Row-count gate for the driver path: slim rows are 16–24 bytes, so
    * 2^20 of them is ~16–24 MB of driver rows — the same
    * bounded-driver-plane posture as Cluster's union-find gate. At corpus
    * scale the gate never fires and the two-level scan is the path. */
  private[ops] val MaxDriverDocs = 1 << 20

  /** The exclusive prefix column [[exclusiveSum]] appends. */
  val Prefix = "__prefix"

  /** One order key: a column of the scanned frame, ascending unless
    * `desc`. */
  final case class Key(name: String, desc: Boolean = false) {
    def column: Column = if (desc) col(name).desc else col(name)
  }

  /** A range-partitioned, pinned frame: `pinned` carries `__pid`, whose
    * order IS the global order (the range partitioner numbers partitions
    * in key order); `window` is the partition-local window in key order;
    * `offset` is the sum of the partials of every earlier partition;
    * `total` is the sum of all partials. */
  final case class Scan(pinned: DataFrame, window: WindowSpec, offset: Column,
      total: Long)

  /** The two-level scan of `df` over `order`, with `partial` the
    * per-partition aggregate the offsets accumulate (a long: a sum, a
    * count, a distinct count; null counts 0). */
  def scan(df: DataFrame, order: Seq[Column], nParts: Int,
      partial: Column): Scan = {
    // localCheckpoint (eager), NOT cache: the offsets below are computed
    // from ONE materialization of this range shuffle, and the returned
    // (lazy) frame must read the very same partitioning — a cache could
    // be evicted (or unpersisted before the caller executes) and the
    // re-run RangePartitioner may sample different bounds, silently
    // pairing local sums with offsets from a different partitioning.
    val pinned = df
      .repartitionByRange(nParts, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val partials = pinned.groupBy(col("__pid"))
      .agg(coalesce(partial, lit(0L)).as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val starts = partials.scanLeft(0L)(_ + _._2)
    // empty corpus: map() would be map<string,string> and poison the
    // arithmetic types downstream; any typed single-entry map works
    // because no row will look anything up
    val offsets =
      if (partials.isEmpty) map(lit(0), lit(0L))
      else map(partials.zip(starts).flatMap { case ((pid, _), off) =>
        Seq(lit(pid), lit(off)) }.toIndexedSeq: _*)
    Scan(pinned, Window.partitionBy(col("__pid")).orderBy(order: _*),
      element_at(offsets, col("__pid")), starts.last)
  }

  /** `slim` plus [[Prefix]]: the sum of `weight` (a column of `slim`;
    * `None` weighs every row 1, giving the 0-based ordinal) over all rows
    * before this one in `order`, and the total over all rows. A null
    * weight counts 0. `order` must be total for the result to be
    * deterministic (ties get an arbitrary but contiguous placement).
    *
    * Under `maxDriverDocs` rows the driver computes it when every order
    * key and the weight are integral (the driver's Long order is then
    * Spark's) and none is null (null ordering and propagation stay with
    * Spark); otherwise, and with `maxDriverDocs = 0`, the two-level
    * [[scan]] does. */
  def exclusiveSum(slim: DataFrame, order: Seq[Key], weight: Option[String],
      nParts: Int, maxDriverDocs: Int): (DataFrame, Long) = {
    val gated = order.map(_.name) ++ weight
    val integral = gated.forall(c => slim.schema(c).dataType match {
      case LongType | IntegerType | ShortType => true
      case _ => false
    })
    if (maxDriverDocs > 0 && integral) {
      val head = slim.limit(maxDriverDocs + 1).collect()
      val idx = gated.map(slim.schema.fieldIndex)
      if (head.length <= maxDriverDocs && !head.exists(r => idx.exists(r.isNullAt)))
        return driverSum(slim, head, order, weight)
      // over the gate: the probe cost one bounded collect
    }
    val w = weight.fold(lit(1L))(col)
    val s = scan(slim, order.map(_.column), nParts, sum(w))
    val before = s.window.rowsBetween(Window.unboundedPreceding, -1)
    (s.pinned
      .withColumn(Prefix, coalesce(sum(w).over(before), lit(0L)) + s.offset)
      .drop("__pid"), s.total)
  }

  private def driverSum(slim: DataFrame, rows: Array[Row], order: Seq[Key],
      weight: Option[String]): (DataFrame, Long) = {
    def long(r: Row, i: Int): Long = r.getAs[Number](i).longValue()
    val keys = order.map(k => (slim.schema.fieldIndex(k.name), k.desc)).toArray
    val byKeys: Ordering[Row] = (a, b) => {
      var c = 0
      var i = 0
      while (c == 0 && i < keys.length) {
        val (f, desc) = keys(i)
        c = java.lang.Long.compare(long(a, f), long(b, f))
        if (desc) c = -c
        i += 1
      }
      c
    }
    val wi = weight.map(slim.schema.fieldIndex)
    var acc = 0L
    val out = rows.sorted(byKeys).map { r =>
      val row = Row.fromSeq(r.toSeq :+ acc)
      acc += wi.fold(1L)(long(r, _))
      row
    }
    // nullable like the distributed prefix, whose offset is a map lookup
    val schema = slim.schema.add(Prefix, LongType, nullable = true)
    (slim.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), schema),
      acc)
  }
}
