package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Distributed W-bounded suffix array by prefix doubling (Manber–Myers,
 * SIAM J. Comput. 1993), the index behind ExactSubstr deduplication
 * (Lee et al. 2022 arXiv:2107.06499 §4.1: sort all corpus suffixes,
 * adjacent entries sharing ≥L chars are the duplicated passages).
 *
 * The corpus string S is the documents' text in id order, each doc
 * followed by a sentinel code point 1 — below every corpus character
 * (the corpus contract is ASCII text, code points 32..127, SURVEY
 * §1.3), exactly Lee et al.'s concatenated byte array with separators.
 * Suffixes are ordered by their first `window` code points of S —
 * reads past a doc boundary see the sentinel first, so two suffixes
 * from different docs stop matching at the shorter doc's end — with
 * ties beyond `window` broken by position. The W-bound is semantic,
 * not a shortcut: substring dedup only ever compares up to its match
 * length L ≤ W, and it makes the op's cost INDEPENDENT of the longest
 * repeat — an exact suffix sort of a web corpus with two identical
 * 1 MB documents must compare 1 MB of characters to order their
 * suffixes; the bounded sort never looks past W. It also keeps the
 * round count deterministic: the 8-char packed base then exactly
 * log2(W/8) doubling rounds (fewer when ranks go unique early).
 *
 * Scale shape (the 100 TB story):
 *   - one row per corpus code point: (gpos, cp) — 16 bytes, fixed width;
 *     text explodes at the scan and never travels as strings again.
 *   - global positions come from [[Packing.layout]]'s [[PrefixScan]]
 *     (range exchange of (id, len) pairs + broadcast offsets), never a
 *     global window.
 *   - the base rank is a base-256 pack of 8 code points — ONE map-side-
 *     combinable groupBy (each char row contributes its byte to the 8
 *     packs that cover it) replaces the first three doubling rounds;
 *     order equals memcmp because ASCII keeps every byte, and hence the
 *     packed long, in [0, 128) with the top bit clear.
 *   - each doubling round is ONE hash self-join on gpos (rank of the
 *     suffix k positions ahead) + ONE range exchange for the dense rank:
 *     range-partition by (r1, r2) — equal keys never straddle partitions
 *     (RangePartitioner assigns by key) — then partition-local
 *     dense_rank + broadcast per-partition distinct counts as offsets
 *     (the [[PrefixScan]] idiom). No stage ever holds more than
 *     (gpos, r1, r2) 24-byte rows; nothing corpus-sized touches the
 *     driver.
 *   - rounds localCheckpoint, so lineage stays O(1) per round instead of
 *     compounding log(W) joins into one exponential plan.
 */
object SuffixArray {

  /** Doc separator: below every corpus char (ASCII ≥ 32 contract). */
  val Sentinel = "\u0001"

  /** One row per code point of S = concat over id order of
    * (text + sentinel): (gpos: long, cp: long). `docs` must have unique
    * ids; text is ASCII (one split cell = one code point, every pack
    * byte < 128) and must not contain the sentinel. */
  def charTable(docs: DataFrame, idCol: String, textCol: String,
      nParts: Int = 32): DataFrame = {
    val offsets = Packing
      .layout(docs.select(col(idCol), col(textCol)), idCol, textCol,
        seqLen = 1L, nParts = nParts, tokenCount = c => length(c) + 1)
      .select(col(idCol), col("start_tok"))
    // spread the doc rows across the executors BEFORE the ~len× char
    // explode (and the W× pack explode downstream): a small input — at
    // bench scale ONE parquet file, one scan task — would otherwise run
    // the whole super-linear map expansion on a single core (guide §2.5
    // input skew). The width probe reads the DOC SCAN's partition count,
    // not the join's: under AQE, `.rdd` on a plan containing exchanges
    // MATERIALIZES its shuffle stages (AdaptiveSparkPlanExec finalizes
    // the plan by running query stages), so probing `joined.rdd` would
    // execute the offsets-join shuffle once for the probe and again for
    // the real query — the scan-only probe builds a FileScanRDD without
    // running anything, and the scan's width is the signal the gate
    // actually wants.
    val joined = docs.select(col(idCol), col(textCol)).join(offsets, Seq(idCol))
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (docs.select(col(idCol)).rdd.getNumPartitions < p) joined.repartition(p)
      else joined
    spread
      .select(col("start_tok"),
        posexplode(split(concat(col(textCol), lit(Sentinel)), ""))
          .as(Seq("pos", "ch")))
      .select((col("start_tok") + col("pos")).as("gpos"),
        ascii(col("ch")).cast("long").as("cp"))
  }

  /** All W/8 covering packs of every suffix window in ONE map-side-
    * combinable groupBy: (gpos, w0..w{nw-1}) where wj is the base-256
    * pack of code points [gpos+8j, gpos+8j+8) of S (width `window` when
    * window < 8), 0-filled past the corpus end. 0-pad bytes sort below
    * the sentinel, so lexicographic order on (w0..w{nw-1}) IS memcmp on
    * the 0-padded W-char window (shorter suffix first); and since a pack
    * whose window start is inside the corpus always has a first byte
    * ≥ 1, an all-zero pack unambiguously means "suffix exhausted".
    *
    * Each char row emits one (window-start, slot, byte-weight) term per
    * window position covering it — a W× map-side explode that the
    * partial aggregation collapses back to one row per gpos BEFORE the
    * exchange, so the one shuffle carries exactly (gpos, nw longs) rows:
    * fewer bytes and one exchange fewer than building 8-char packs first
    * and assembling windows from them in a second pass. */
  private def packedWindows(chars: DataFrame, window: Int): DataFrame = {
    val b = math.min(8, window) // pack width (window itself below 8)
    val nw = (window + b - 1) / b
    val terms = array((0 until window).map { off =>
      struct(lit(off.toLong).as("o"), lit(off / b).as("j"),
        lit(1L << (8 * (b - 1 - off % b))).as("m"))
    }: _*)
    val aggs = (0 until nw).map { j =>
      coalesce(sum(when(col("j") === j, col("term"))), lit(0L)).as(s"w$j")
    }
    chars.select(col("gpos"), col("cp"), explode(terms).as("t"))
      .select((col("gpos") - col("t.o")).as("gpos"), col("t.j").as("j"),
        (col("cp") * col("t.m")).as("term"))
      .filter(col("gpos") >= 0)
      .groupBy(col("gpos"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Base-256 pack of the `b` ≤ 8 code points at [gpos, gpos+b) of S:
    * (gpos, r) where r compares as memcmp on the b-char window,
    * 0-padded past the corpus end (the pad sorts below the sentinel:
    * a shorter suffix sorts first). One map-side-combinable groupBy —
    * each char row emits its byte into the b packs covering it. */
  private def packedBase(chars: DataFrame, b: Int): DataFrame = {
    require(b >= 1 && b <= 8, s"pack width must be in [1, 8], got $b")
    val terms = array((0 until b).map { j =>
      struct(lit(j.toLong).as("j"),
        lit(1L << (8 * (b - 1 - j))).as("m")) }: _*)
    chars.select(col("gpos"), col("cp"), explode(terms).as("t"))
      .select((col("gpos") - col("t.j")).as("gpos"),
        (col("cp") * col("t.m")).as("term"))
      .filter(col("gpos") >= 0)
      .groupBy(col("gpos")).agg(sum(col("term")).as("r"))
  }

  /** Distributed dense rank of (r1, r2) pairs over rows (gpos, r1, r2):
    * returns ((gpos, r) with r 0-based, number of distinct pairs) — the
    * [[PrefixScan.scan]] with distinct pairs as the partition partial
    * (equal pairs never straddle a range partition). */
  private def denseRankPairs(df: DataFrame, nParts: Int): (DataFrame, Long) = {
    val s = PrefixScan.scan(df, Seq(col("r1"), col("r2")), nParts,
      count_distinct(struct(col("r1"), col("r2"))))
    (s.pinned.select(col("gpos"),
      ((dense_rank().over(s.window) - 1).cast("long") + s.offset).as("r")), s.total)
  }

  /** The doubling ladder + fused final pass over an (eagerly pinned)
    * packed base of width `baseWidth`: (sa_rank, gpos). A missing row at
    * a lookup position (the corpus tail) ranks as -1: "end of string"
    * sorts below every rank, i.e. a shorter prefix sorts first —
    * exactly memcmp on the truncated window. */
  private def saFromBase(base: DataFrame, baseWidth: Int, window: Int,
      nParts: Int): DataFrame = {
    // count() on the pinned base is the corpus length (one row per gpos)
    val n = base.count()
    val upTo = math.max(window / 2, baseWidth)
    var r = base
    var k = baseWidth.toLong
    // NOT `n <= 1`: unique=true promises r is a DENSE rank, and the raw
    // packed base isn't one — a 1-row corpus must still pass through a
    // rank round (or the final row_number pass) to get sa_rank 0
    var unique = false
    while (!unique && k < upTo) {
      val shifted = r.select((col("gpos") - k).as("gpos"), col("r").as("r2"))
      val paired = r.select(col("gpos"), col("r").as("r1"))
        .join(shifted, Seq("gpos"), "left")
        .withColumn("r2", coalesce(col("r2"), lit(-1L)))
      val (ranked, nd) = denseRankPairs(paired, nParts)
      r = ranked
      k *= 2
      unique = nd == n
    }
    if (unique) r.select(col("r").as("sa_rank"), col("gpos"))
    else {
      // last pairing round fuses with the position tie-break: one
      // row_number pass over (rank_k(p), rank_k(p+k), gpos)
      val paired =
        if (k >= window) // the ranks already cover W: ties → gpos only
          r.select(col("gpos"), col("r").as("r1"), lit(0L).as("r2"))
        else r.select(col("gpos"), col("r").as("r1"))
          .join(r.select((col("gpos") - k).as("gpos"), col("r").as("r2")),
            Seq("gpos"), "left")
          .withColumn("r2", coalesce(col("r2"), lit(-1L)))
      rowNumberByPairPos(paired, nParts)
    }
  }

  /** Global 0-based row_number over `keys` order (keys must be a total
    * order) as `sa_rank` — a [[PrefixScan]] row count, always distributed
    * (the char plane is corpus-sized). All input columns are kept. */
  private def globalRowNumber(df: DataFrame, keys: Seq[String],
      nParts: Int): DataFrame =
    PrefixScan.exclusiveSum(df, keys.map(PrefixScan.Key(_)), None, nParts,
        maxDriverDocs = 0)._1
      .withColumnRenamed(PrefixScan.Prefix, "sa_rank")

  /** Global row_number over (r1, r2, gpos) order — the final SA rank in
    * one range exchange. */
  private def rowNumberByPairPos(df: DataFrame, nParts: Int): DataFrame =
    globalRowNumber(df, Seq("r1", "r2", "gpos"), nParts)
      .select(col("sa_rank"), col("gpos"))

  /** The W-bounded suffix array of `chars` (from [[charTable]]):
    * (sa_rank: long 0-based, gpos). Order = (first `window` code points
    * of the suffix, gpos). The doubling ladder stops at W/2; the last
    * pairing round and the position tie-break fuse into one
    * row_number pass over (rank_{W/2}(p), rank_{W/2}(p+W/2), gpos). */
  def boundedSuffixArray(chars: DataFrame, window: Int = 64,
      nParts: Int = 32): DataFrame = {
    require(window >= 2 && (window & (window - 1)) == 0,
      s"window must be a power of two >= 2, got $window")
    if (window <= 64) {
      // direct packed-window sort: at W ≤ 64 the whole W-char window fits
      // W/8 ≤ 8 longs, so the suffix order is ONE global row_number over
      // (w0..w{nw-1}, gpos) — the doubling ladder's log2(W/8) extra
      // rounds (each a hash self-join + range exchange + driver offset
      // round-trip) buy nothing when the full key is one cache line.
      // Measured at bench scale: 3.9 s → ~1.5 s for q85 (see
      // OPTIMIZATION_r06.md); at 100 TB the same trade holds — one
      // exchange of (gpos, W/8 longs) rows vs three exchanges plus three
      // joins of (gpos, 2-long) rows.
      val nw = (window + math.min(8, window) - 1) / math.min(8, window)
      val pw = packedWindows(chars, window).localCheckpoint(true)
      globalRowNumber(pw,
          (0 until nw).map(j => s"w$j") :+ "gpos", nParts)
        .select(col("sa_rank"), col("gpos"))
    } else {
      val b = 8
      // pin the base: the first ladder round reads it twice (self + shifted)
      val base = packedBase(chars, b).localCheckpoint(true)
      saFromBase(base, b, window, nParts)
    }
  }

  /** Convenience: documents straight to the bounded suffix array. */
  def ofDocs(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 64, nParts: Int = 32): DataFrame =
    boundedSuffixArray(charTable(docs, idCol, textCol, nParts), window, nParts)

  /**
   * The LCP array of the W-bounded suffix array — Lee et al. 2022's
   * actual repeat-mining primitive (§4.1: adjacent suffixes in SA order
   * sharing ≥ L characters ARE the duplicated passages; the LCP array
   * also answers longest-repeated-substring and repeat-length histogram
   * queries that fixed-L gram mining cannot). Rows: (sa_rank, gpos,
   * next_gpos, lcp) for every adjacent pair (sa_rank, sa_rank+1), with
   * lcp = common-prefix length of the two suffixes in code points of
   * the sentinel-joined corpus, capped at `window`.
   *
   * The LCP never rescans characters: each position carries its W/8
   * covering 8-char packs (one map-side emit + groupBy over the pinned
   * base — the same table the SA ladder starts from), and the LCP of two
   * positions is a FIXED when-chain over at most W/8 pack XORs (first
   * differing byte of the first differing pack; a missing tail pack is
   * an exhausted suffix — 0 further common bytes). Everything after the
   * char explode shuffles fixed-width rows only.
   */
  def adjacentLcp(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 64, nParts: Int = 32): DataFrame = {
    require(window >= 8 && (window & (window - 1)) == 0,
      s"window must be a power of two >= 8, got $window")
    val chars = charTable(docs, idCol, textCol, nParts)
    val nw = window / 8
    // ONE pack table serves both the suffix SORT and the LCP compare:
    // the W/8 covering packs per position are the sort key AND the
    // byte material the LCP XOR-chain reads, so ranking keeps them
    // attached (globalRowNumber preserves its input columns) and the
    // old separate pack-array build + its two re-attach joins vanish.
    // A fully-0 pack means "suffix exhausted here" (a real pack's first
    // byte is a code point ≥ 1): XOR against a real pack differs at its
    // first byte — 0 further common bytes, exactly the old null
    // semantics — and two suffixes can never exhaust at the same pack
    // with all earlier packs equal (equal 0-pad tails would force equal
    // suffix lengths, i.e. the same position).
    val pw = packedWindows(chars, window).localCheckpoint(true)
    // pin: read twice by the adjacent-pair self-join
    val sa = globalRowNumber(pw,
        (0 until nw).map(j => s"w$j") :+ "gpos", nParts)
      .localCheckpoint(true)
    val pairs = sa
      .join(sa.select(Seq((col("sa_rank") - 1).as("sa_rank"),
        col("gpos").as("next_gpos")) ++
        (0 until nw).map(j => col(s"w$j").as(s"b$j")): _*), Seq("sa_rank"))
    // common bytes of two packs: position of the top non-zero XOR byte
    def commonBytes(a: Column, b: Column): Column = {
      val x = a.bitwiseXOR(b)
      (0 until 8).foldRight(lit(8L): Column) { (i, rest) =>
        when(shiftrightunsigned(x, 8 * (7 - i)) =!= 0, lit(i.toLong))
          .otherwise(rest)
      }
    }
    val lcp = (0 until nw).foldRight(lit(window.toLong): Column) { (j, rest) =>
      val c = commonBytes(col(s"w$j"), col(s"b$j"))
      when(c < 8, lit(8L * j) + c).otherwise(rest)
    }
    pairs.select(col("sa_rank"), col("gpos"), col("next_gpos"),
      lcp.as("lcp"))
  }

  /**
   * ExactSubstr deduplication (Lee et al. 2022 §4.1): every maximal
   * per-document span covered by length-`minLen` substrings that occur
   * ≥ 2 times in the corpus (any doc, including self-repeats). Output:
   * (idCol, span_start, span_end, span_text), offsets 0-based
   * half-open in code points.
   *
   * The suffix SORT is deliberately not used here: with the match
   * length fixed at L, "this position starts a duplicated L-gram" is
   * pure key equality, and the L-gram itself — cut from the document
   * map-side — is the exact key. That turns Lee et al.'s sort-adjacent-
   * LCP step (built for one machine and unbounded match lengths) into
   * ONE exchange keyed by gram: no corpus char table, no rank rounds,
   * no position arithmetic. Grams never cross doc boundaries by
   * construction (they are substrings of one document), which is the
   * same semantics the sentinel enforces in the SA path. Use
   * [[boundedSuffixArray]] when the ORDER of suffixes matters (range
   * scans, adjacency, unbounded-L analysis); use this when it doesn't.
   *
   * Scale: explode and substring are map-side; the gram exchange
   * carries (id, loc, L chars) rows; the per-gram window state is one
   * running count. A pathologically hot gram (one string repeated 10^8
   * times) lands in one task — AQE skew split applies to the exchange,
   * and every position must be marked, so unlike the LSH pair miners
   * there is no sound cap to sacrifice. The only per-doc state is the
   * interval-merge window, bounded by a single document's dup
   * positions.
   */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, nParts: Int = 32): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    // spread before the ~len× gram explode — same single-scan-task
    // hazard (and gate) as [[charTable]]
    val base = docs.select(col(idCol), col(textCol))
      .filter(length(col(textCol)) >= minLen)
    val p = docs.sparkSession.sparkContext.defaultParallelism
    val spreadDocs =
      if (base.rdd.getNumPartitions < p) base.repartition(p) else base
    // every in-doc L-gram start: (id, loc, gram), all map-side
    val grams = spreadDocs
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0L), length(col(textCol)).cast("long") - minLen))
          .as("loc"))
      .select(col(idCol), col("loc"),
        expr(s"substring($textCol, loc + 1, $minLen)").as("gram"))
    // corpus-wide multiplicity: one exchange keyed by the gram itself.
    // The window partitions by (xxhash64(gram), gram) — semantically
    // identical groups (the hash is a function of the gram), but the
    // partition sort decides almost every comparison on the leading
    // 8-byte hash instead of a 16+-char string compare, which is where
    // the sort-based window aggregate spends its time (measured: the
    // gram-count job was 2.0 s of this query's 2.8 s at sf0.1).
    val d = grams
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(xxhash64(col("gram")), col("gram"))))
      .filter(col("cnt") > 1)
      .select(col(idCol), col("loc"))
    // merge overlapping/adjacent [loc, loc+L) intervals per doc
    val w = Window.partitionBy(col(idCol)).orderBy(col("loc"))
    val spans = d
      .withColumn("prev_end",
        max(col("loc") + minLen).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ns",
        when(col("prev_end").isNull || col("loc") > col("prev_end"), 1)
          .otherwise(0))
      .withColumn("sid", sum(col("ns")).over(w))
      .groupBy(col(idCol), col("sid"))
      .agg(min(col("loc")).as("span_start"),
        (max(col("loc")) + minLen).as("span_end"))
    spans.join(docs.select(col(idCol), col(textCol)), Seq(idCol))
      .select(col(idCol),
        col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        expr(s"substring($textCol, span_start + 1, span_end - span_start)")
          .as("span_text"))
  }
}
