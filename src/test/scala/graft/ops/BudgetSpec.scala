package graft.ops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class BudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // rank order (score desc, id): 3(20tok) -> 1(30tok) -> 4(30tok) -> 2(5tok)
  private def docs = Seq(
    (1L, 8L, Seq.fill(30)("w").mkString(" ")),
    (2L, 1L, Seq.fill(5)("w").mkString(" ")),
    (3L, 9L, Seq.fill(20)("w").mkString(" ")),
    (4L, 8L, Seq.fill(30)("w").mkString(" "))).toDF("doc_id", "score", "text")

  private def run(budget: Long, nParts: Int = 3,
      maxDriverDocs: Int = PrefixScan.MaxDriverDocs) =
    Budget.selectByBudget(docs, "doc_id", "score", "text", budget, nParts,
        maxDriverDocs = maxDriverDocs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cum_tokens"), r.getAs[Boolean]("kept")))).toMap

  test("ranked prefix: cum follows (score desc, id), boundary doc dropped, no back-fill") {
    val out = run(budget = 55L)
    assert(out(3L) == ((20L, true)))
    assert(out(1L) == ((50L, true)))   // tie on score 8 -> id 1 before id 4
    assert(out(4L) == ((80L, false)))  // crosses 55
    // doc 2 (5 tokens) WOULD fit the remaining budget but sits below the
    // cut — the contract is a prefix, not a knapsack
    assert(out(2L) == ((85L, false)))
  }

  test("exact-fit budget keeps the boundary doc; zero budget keeps nothing; huge keeps all") {
    assert(run(50L).view.filterKeys(Set(3L, 1L)).values.forall(_._2))
    assert(!run(50L)(4L)._2)
    assert(run(0L).values.forall(!_._2))
    assert(run(1000L).values.forall(_._2))
  }

  test("partition-invariant: same ledger at any nParts") {
    val a = run(55L, nParts = 1)
    val b = run(55L, nParts = 7)
    assert(a == b)
    // gate forced off: nParts reaches the range exchange
    assert(run(55L, nParts = 1, maxDriverDocs = 0) == a)
    assert(run(55L, nParts = 3, maxDriverDocs = 0) == a)
  }

  test("a null-text doc adds no tokens and gets the same row across the gate") {
    // ranked first, so under the distributed path it heads a range
    // partition: its cumulative count is still the (empty) prefix
    val withNull = Seq[(Long, Long, Option[String])](
      (5L, 99L, None), (1L, 8L, Some("w w")), (2L, 1L, Some("w"))
    ).toDF("doc_id", "score", "text")
    def at(gate: Int) = Budget.selectByBudget(withNull, "doc_id", "score", "text",
        2L, nParts = 3, maxDriverDocs = gate)
      .orderBy("doc_id").collect().toSeq
    val rows = at(PrefixScan.MaxDriverDocs)
    assert(rows == at(0))
    assert(rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum_tokens"),
      r.getAs[Boolean]("kept"))) == Seq((1L, 2L, true), (2L, 3L, false), (5L, 0L, true)))
  }
}
