package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PortableNgramHash

/** The native portable_ngram_hashes kernel must agree bit-for-bit with
  * the composed split + slide + concat_ws(" ") + strHash chain it
  * replaces — the MinHash signatures and DSIR buckets are FUNCTIONS of
  * these hash values, so the oracle replays them; any divergence is a
  * wrong answer, not a performance note. */
class NgramHashParitySpec extends AnyFunSuite with SparkSpec {

  /** Compare against the composed reference: all n-grams of
    * split(text, " ") joined with one space, hashed with Parity.strHash —
    * exactly the former shingles3Raw/dsirScores construction generalized
    * over n. */
  private def check(texts: Seq[String], n: Int): Unit = {
    val s = spark; import s.implicits._
    val df = texts.toDF("text")
    val ws = split(col("text"), " ")
    val ref = when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - lit(n)),
        i => graft.queries.Parity.strHash(
          concat_ws(" ", (0 until n).map(k => element_at(ws, i + lit(k + 1))): _*))))
      .otherwise(array().cast("array<bigint>"))
    val rows = df.select(
        PortableNgramHash.of(col("text"), n).as("fast"), ref.as("slow"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.zip(texts).foreach { case ((f, sl), t) =>
      assert(f == sl, s"n=$n text='$t': $f vs $sl")
    }
  }

  private val edgeTexts = Seq(
    "one two three four five",
    "a b",
    "a",
    "",
    " ",
    "  double  spaces  here",
    " leading and trailing ",
    "tab\tis not a separator",
    "exactly three words")

  test("3-gram kernel == composed strHash(concat_ws) on edge cases") {
    check(edgeTexts, 3)
  }

  test("2-gram kernel == composed strHash(concat_ws) on edge cases") {
    check(edgeTexts, 2)
  }

  test("non-ASCII falls back to the char-indexed loop, same values") {
    check(Seq("naïve café words", "日本語 テスト 文章 です", "mixé ascii rändom"), 2)
    check(Seq("naïve café words déjà", "日本語 テスト 文章 です"), 3)
  }

  test("kernel == composed on the real documents fixture (sf0.001)") {
    val s = spark; import s.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text")).as[String].collect().toSeq
    check(docs, 3)
    check(docs, 2)
  }
}
