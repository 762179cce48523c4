package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Pins the native one-scan token counter (TokenCountExpr) exactly
 * against the size(split(trim(text), "\\s+")) composition it replaced —
 * including the boundary-empty semantics (leading/trailing non-space
 * whitespace yields empty tokens; Spark split keeps them) and the
 * empty/whitespace-only strings (trim 0x20 only; split("") = [""]).
 */
class TokenCountSpec extends AnyFunSuite {

  /** Deterministic sampling (no scalatestplus bridge in the offline cache). */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def oldCount = size(split(trim(col("s")), "\\s+")).cast("long")

  private def check(strings: Seq[String]): Unit = {
    val df = strings.toDF("s")
    val rows = df.select(col("s"), oldCount.as("old"),
        TextStatFns.tokenCountFast(col("s")).as("fast"))
      .collect()
    rows.foreach { r =>
      // tokenCount(NULL) is NULL (the legacy split form gave -1)
      if (r.isNullAt(0)) assert(r.isNullAt(2), "tokenCount(NULL) must be NULL")
      else assert(r.getLong(1) == r.getLong(2),
        s"mismatch for ${r.getString(0).map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("fixed corner cases") {
    check(Seq(
      null, "", " ", "   ", "a", " a ", "a b", "  a   b  ",
      "\ta", "a\t", "\ta\t", "\na\nb\n", "ab", "a\fb", "a\rb",
      "a\r\n\t b", " a",
      "a b",           // NBSP is NOT java-regex \s
      "　全角　space　", // ideographic space is not \s either
      "mixed \t\n ws", "a  b   c", "\t", "\r\n", "ab"))
  }

  test("property: equal to size(split(trim, \\s+)) on random whitespace-mixed strings") {
    val ws = Gen.oneOf(' ', '\t', '\n', '', '\f', '\r')
    val ch = Gen.frequency(
      3 -> Gen.alphaNumChar, 2 -> ws,
      1 -> Gen.oneOf('法', '案', 'é', ' ', '　'))
    val str = Gen.listOf(ch).map(_.mkString)
    check(samples(str, 400))
  }
}
