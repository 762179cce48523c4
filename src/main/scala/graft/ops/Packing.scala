package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Sequence-packing layout (training-data op): the "concatenate the corpus,
 * then cut fixed-length windows" batching layout LLM training uses
 * (GPT-style packing — documents are laid end-to-end in a deterministic
 * order and the token stream is sliced into `seqLen`-token training
 * sequences; a document may straddle a slice boundary). The op computes
 * each document's interval in that stream and the sequences it spans —
 * the metadata a data loader needs to materialize packed batches without
 * ever re-scanning text.
 *
 * Output per doc: (id, n_tokens, start_tok, end_tok, first_seq, last_seq,
 * n_seqs) with end_tok exclusive and seq indices 0-based.
 *
 * Scale shape: this is a corpus-wide prefix sum over a total order — the
 * one genuinely order-coupled op in the pipeline — so it runs as
 * [[PrefixScan]] over (id, n_tokens) rows: tokens are counted by the
 * codegen'd counter at the scan and TEXT never leaves the scan
 * projection.
 */
object Packing {

  /** The stream is in `idCol` order, so ids should be unique (equal ids
    * get an arbitrary but range-contiguous placement). Under
    * `maxDriverDocs` docs the prefix sum runs on the driver (see
    * [[PrefixScan.exclusiveSum]]). */
  def layout(docs: DataFrame, idCol: String, textCol: String, seqLen: Long,
      nParts: Int = 32, tokenCount: Column => Column = TextStats.tokenCount,
      maxDriverDocs: Int = PrefixScan.MaxDriverDocs): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    // n_tokens keeps the tokenCount expression's OWN type (charTable
    // passes length+1 = int)
    val slim = docs.select(col(idCol), tokenCount(col(textCol)).as("n_tokens"))
    val (scanned, _) = PrefixScan.exclusiveSum(slim, Seq(PrefixScan.Key(idCol)),
      Some("n_tokens"), nParts, maxDriverDocs)
    val start = PrefixScan.Prefix
    val firstSeq = expr(s"$start DIV $seqLen")
    val lastSeq = expr(s"($start + n_tokens - 1) DIV $seqLen")
    scanned.select(col(idCol), col("n_tokens"), col(start).as("start_tok"),
      (col(start) + col("n_tokens")).as("end_tok"), firstSeq.as("first_seq"),
      lastSeq.as("last_seq"), (lastSeq - firstSeq + lit(1L)).as("n_seqs"))
  }

  /** Interleaved multimodal packing layout (the Flamingo/MM1-style batch
    * layout for image-text training): the same concat-then-chunk layout
    * over an interleaved span table — columns (idCol, kind, text) per the
    * input_hint shape — where each media span costs a FIXED `mediaTokens`
    * budget (the vision encoder emits a constant patch-token count per
    * image) and each text span costs its word count.
    *
    * Per-document costs collapse map-side out of the span table (one
    * combinable groupBy of (id, long) rows — span text dies at its scan),
    * then ride [[layout]]'s prefix scan unchanged: the cost table IS the
    * (id, n_tokens) input, tokenCount = identity. */
  def interleavedLayout(spans: DataFrame, idCol: String, seqLen: Long,
      mediaTokens: Long, nParts: Int = 32,
      tokenCount: Column => Column = TextStats.tokenCount): DataFrame = {
    require(mediaTokens >= 0, "mediaTokens must be non-negative")
    val costs = spans
      .select(col(idCol),
        when(col("kind") === "media", lit(mediaTokens))
          .otherwise(tokenCount(col("text"))).as("c"))
      .groupBy(col(idCol)).agg(sum(col("c")).as("cost"))
    layout(costs, idCol, "cost", seqLen, nParts, identity)
  }

  /** Per-document overlapping chunk intervals — the RAG/embedding prep
    * shape next to [[layout]]'s corpus-wide packing: each document is
    * cut into windows of `chunkTokens` advancing by `strideTokens`
    * (overlap = chunk − stride), with full coverage and no chunk past
    * the text. A document with `n ≤ chunkTokens` yields exactly one
    * chunk (0, n); a null text yields none (an empty string still counts
    * one empty token under [[TextStats.tokenCount]]'s whitespace-split
    * definition, so it chunks as n = 1). The last chunk starts
    * at `ceil((n − chunk)/stride)·stride` — the first window whose end
    * reaches `n` — so tails are covered without emitting windows that
    * add no new tokens.
    *
    * Scale shape: pure row-local arithmetic — one codegen'd `sequence` +
    * `posexplode` per doc, no exchange at all; output is O(total
    * chunks) fixed-width rows. Token counting shares [[TextStats
    * .tokenCount]]'s definition so chunk indices line up with every
    * other token-counting op. */
  def chunkIntervals(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Long, strideTokens: Long,
      tokenCount: Column => Column = TextStats.tokenCount): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens=$chunkTokens")
    require(strideTokens > 0 && strideTokens <= chunkTokens,
      s"strideTokens=$strideTokens must be in [1, chunkTokens]")
    val n = tokenCount(col(textCol))
    val kMax = ceil(greatest(n - chunkTokens, lit(0L)) / strideTokens.toDouble)
      .cast("long")
    docs
      .select(col(idCol), n.as("__n"), kMax.as("__k"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__n"),
        posexplode(sequence(lit(0L), col("__k"))).as(Seq("chunk_idx", "__kk")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("__kk") * strideTokens).as("start_tok"),
        least(col("__kk") * strideTokens + chunkTokens, col("__n")).as("end_tok"))
  }
}
