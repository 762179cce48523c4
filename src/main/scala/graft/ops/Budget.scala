package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Budgeted corpus assembly (training-data op): "fill a token budget with
 * the best documents" — rank the corpus by a quality score and keep the
 * ranked prefix whose cumulative token count fits the budget. This is
 * the selection step that turns scored candidates ([[TextStats
 * .qualityScore]], [[QualityClassifier]] margins, [[Perplexity]] NLL,
 * [[Dsir]] importance weights) into an actual N-token training set.
 *
 * Semantics: total order = (score DESC, id ASC); a document is kept iff
 * its INCLUSIVE cumulative token count ≤ `budgetTokens` (the document
 * that would cross the budget is dropped, as is everything below it —
 * the largest budget-respecting prefix of the ranked corpus).
 *
 * Scale shape: the corpus-wide prefix sum is the one genuinely
 * order-coupled step, so it runs as [[PrefixScan]] — the same scan as
 * [[Packing.layout]] but over the SCORE order instead of the id order,
 * on fixed-width (id, score, n_tokens) rows (text dies at the scan).
 */
object Budget {

  /** Returns one row per input doc: (idCol, scoreCol, n_tokens,
    * cum_tokens, kept) with `cum_tokens` the inclusive prefix sum in
    * rank order. Callers wanting only the training set filter on
    * `kept`; emitting the full ranked ledger makes the budget boundary
    * auditable (the first dropped doc is the budget's witness). */
  def selectByBudget(docs: DataFrame, idCol: String, scoreCol: String,
      textCol: String, budgetTokens: Long, nParts: Int = 32,
      tokenCount: Column => Column = TextStats.tokenCount,
      maxDriverDocs: Int = PrefixScan.MaxDriverDocs): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens=$budgetTokens")
    selectRanked(docs, idCol, scoreCol, textCol, nParts, tokenCount,
      _ => budgetTokens, maxDriverDocs)
  }

  /** [[selectByBudget]] with the budget given as a fraction
    * `num/den` of the corpus's own total token count. The total falls
    * out of the per-partition sums the prefix scan collects anyway, so
    * a fractional budget costs ZERO extra passes — callers that first
    * ran their own corpus-wide sum(token_count) aggregate just to
    * compute `total * num / den` paid one full extra scan for a number
    * this op already had. */
  def selectByBudgetFraction(docs: DataFrame, idCol: String, scoreCol: String,
      textCol: String, num: Long, den: Long, nParts: Int = 32,
      tokenCount: Column => Column = TextStats.tokenCount,
      maxDriverDocs: Int = PrefixScan.MaxDriverDocs): DataFrame = {
    require(num >= 0 && den > 0, s"fraction=$num/$den")
    selectRanked(docs, idCol, scoreCol, textCol, nParts, tokenCount,
      total => total * num / den, maxDriverDocs)
  }

  private def selectRanked(docs: DataFrame, idCol: String, scoreCol: String,
      textCol: String, nParts: Int, tokenCount: Column => Column,
      budgetOf: Long => Long, maxDriverDocs: Int): DataFrame = {
    val slim = docs
      .select(col(idCol), col(scoreCol), tokenCount(col(textCol)).as("n_tokens"))
    val (scanned, total) = PrefixScan.exclusiveSum(slim,
      Seq(PrefixScan.Key(scoreCol, desc = true), PrefixScan.Key(idCol)),
      Some("n_tokens"), nParts, maxDriverDocs)
    // inclusive: a doc's own tokens count toward its cut; a null count
    // (null text) adds nothing, as it adds nothing to the prefix
    val cum = col(PrefixScan.Prefix) + coalesce(col("n_tokens"), lit(0L))
    scanned.select(col(idCol), col(scoreCol), col("n_tokens"),
      cum.as("cum_tokens"), (cum <= budgetOf(total)).as("kept"))
  }
}
