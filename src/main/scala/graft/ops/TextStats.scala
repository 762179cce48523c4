package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis column functions for training-data pipelines — all pure
 * `org.apache.spark.sql.functions` compositions (whole-stage codegen,
 * no UDFs).
 */
object TextStats {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** size(split(trim(text), "\\s+")) — computed by the native one-scan
    * counter (TokenCountExpr, equality pinned in TokenCountSpec): the
    * split form materialized the whole token array per row everywhere
    * only the count was needed. NULL text counts NULL (also pinned
    * there), where the legacy `size(split(...))` form gave −1 under
    * `spark.sql.legacy.sizeOfNull`: sums skip the row, and the
    * [[PrefixScan]] ops (Packing, Budget) give it no tokens. */
  def tokenCount(text: Column): Column = graft.functions.TextStatFns.tokenCountFast(text)

  /** BPE-ish subword count estimate: whitespace tokens plus an extra unit
    * per 4 chars of long tokens (the common len/4 heuristic). */
  def subwordCountEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + greatest(lit(1L), ceil(length(t) / 4.0).cast("long")))

  /** GPT-2-style pre-tokenizer pattern (Radford et al. 2019):
    * contractions, letter runs, digit runs, punctuation runs, each run
    * absorbing one optional leading space. Deliberately LOOKAHEAD-FREE
    * (the original's `\s+(?!\S)` tail is dropped, pure-whitespace runs
    * are simply not tokens) so the same string runs identically on
    * java.util.regex (Spark codegen) and RE2 (the DuckDB oracle). */
  val BpeishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Pre-tokenizer token count over [[BpeishPattern]] — the "how many
    * BPE merge inputs" estimate a mixed-script corpus report wants
    * (CJK text counts letter runs, not characters), without training or
    * applying an actual merge table (that is [[Bpe]]). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0))).cast("long")

  /** Stopword hit ratio against a given lexicon. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val set = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(set, t))).cast("double") /
      greatest(size(tokens(text)).cast("double"), lit(1.0))
  }

  /** Distinct-token ratio (repetition detector). */
  def uniqueTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") /
      greatest(size(tokens(text)).cast("double"), lit(1.0))

  /** Punctuation density per character. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:、。！？]", ""))).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  /** Mean token length. */
  def meanTokenLen(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(tokens(text)).cast("double"), lit(1.0))

  /** Composite quality score in [0,1]: favors mid-length tokens, lexical
    * diversity, and moderate punctuation (C4/Gopher-style heuristics,
    * deterministic and unit-tested rather than model-based). */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = when(tokenCount(text).between(10, 100000), 1.0).otherwise(0.3)
    val divScore = least(uniqueTokenRatio(text) * 2.0, lit(1.0))
    val punct = punctRatio(text)
    val punctScore = when(punct <= 0.2, 1.0).otherwise(0.5)
    val stopScore = when(stopwordRatio(text, stopwords) >= 0.05, 1.0).otherwise(0.6)
    round((lenScore * 0.25 + divScore * 0.25 + punctScore * 0.25 + stopScore * 0.25), 4)
  }

  /** Language-ID by stopword voting over per-language lexicons; returns
    * the best language or `und` when nothing hits. */
  def langId(text: Column, lexicons: Seq[(String, Seq[String])]): Column = {
    val hits = lexicons.map { case (lang, words) =>
      val set = array(words.map(lit): _*)
      struct(size(filter(tokens(text), t => array_contains(set, t))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(hits: _*)) // max by (hits, lang)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  /** Rolling polynomial fingerprint (content-defined, order-sensitive) —
    * native codegen'd loop (graft.functions.PolyHash), same math as the
    * round-1 per-character HOF fold. */
  def fingerprint(text: Column): Column =
    graft.functions.HashFns.polyHash(trim(text))

  /** Per-document language profile over an INTERLEAVED span table (the
    * input_hint shape: one row per span, text spans carry prose, media
    * spans a media_ref). The doc-level [[langId]] can't run on an
    * interleaved doc without first reassembling its text; this op skips
    * the reassembly: per-span stopword hits are row-local (span text dies
    * at its scan), and the per-doc profile is ONE map-side-combinable
    * groupBy of fixed-width rows — at 100 TB the exchange carries
    * `(doc_id, 2 + |langs| longs)` per doc, never a span body.
    *
    * Verdict: most hits wins; a hit TIE goes to the EARLIER lexicon in
    * `lexicons` (the caller's preference order — note [[langId]]'s
    * `array_max` breaks ties toward the lexicographically LAST language
    * name instead, so the two ops only agree on tie-free documents);
    * `und` when no lexicon hits at all. Media spans count into
    * `n_media_spans` but never vote. */
  def interleavedLangProfile(spans: DataFrame, idCol: String,
      lexicons: Seq[(String, Seq[String])]): DataFrame = {
    require(lexicons.nonEmpty, "need at least one lexicon")
    // ONE tokenize + explode, then every per-token test is a codegen'd
    // `In` over the lexicon literals. (The first cut ran an interpreted
    // higher-order filter PER LEXICON PER SPAN — HOF lambdas never enter
    // whole-stage codegen, and on a span-exploded corpus that was 9× the
    // cost of this plan at sf0.1.) Media spans carry a null token array,
    // so posexplode_outer emits exactly one counting row for them.
    val isText = col("kind") === "text"
    val toks = spans.select(col(idCol), col("kind"),
      posexplode_outer(when(isText, tokens(col("text")))).as(Seq("pos", "tok")))
    val hitAggs = lexicons.map { case (lang, words) =>
      sum(when(col("kind") === "text" && col("tok").isin(words.map(w => w: Any): _*), 1L)
        .otherwise(0L)).as(s"${lang}_hits")
    }
    val counts = Seq(
      // a text span contributes one row per token: count it at token 0.
      // A NULL-text text span still yields exactly one posexplode_outer
      // row — with a null pos — so the isNull arm attributes it here
      // instead of silently dropping it from both counters
      sum(when(col("kind") === "text" &&
          (col("pos") === 0 || col("pos").isNull), 1L).otherwise(0L))
        .as("n_text_spans"),
      // a non-text span contributes exactly its one null-token row
      sum(when(col("kind") =!= "text", 1L).otherwise(0L)).as("n_media_spans"))
    val agg = toks.groupBy(col(idCol)).agg(counts.head, (counts.tail ++ hitAggs): _*)
    val hitCols = lexicons.map { case (lang, _) => col(s"${lang}_hits") }
    val total = hitCols.reduce(_ + _)
    // argmax with earlier-lexicon tie-win, as a when-chain (same shape
    // the q31 oracle uses, so the SQL mirror is definitional)
    def pick(i: Int): Column =
      if (i == lexicons.size - 1) lit(lexicons(i)._1)
      else {
        val rest = hitCols.drop(i + 1).reduce((a, b) => greatest(a, b))
        when(hitCols(i) >= rest, lexicons(i)._1).otherwise(pick(i + 1))
      }
    agg.withColumn("pred_lang", when(total === 0, "und").otherwise(pick(0)))
  }
}
