package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{AggregationEvaluator, TaxTags}

/** Golden matrices transcribed from the REFERENCE'S OWN tax-grid test
  * (account_reports/tests/test_tax_report.py test_tax_report_grid,
  * :604-1030): one 100.0 invoice through two taxes whose repartition
  * lines split and sign the amounts into signed tax grids —
  *
  *  - the 42% tax splits its 42.0 into 25%/75% factor repartitions
  *    (10.5 / 31.5) plus a -10% factor (−4.2) booked against a MINUS
  *    expression, which lands POSITIVE (+4.2) on the report through the
  *    signed-tag × invert double sign (A8);
  *  - section lines aggregate their children (Base 200, Tax 57.20, the
  *    Tax difference formula 42 − 11 = 31), ordered by SEQUENCE not by
  *    creation order;
  *  - the full refund books the same amounts against the minus
  *    expressions and zeroes every line (:794-819).
  */
class GoldenTaxGridSpec extends AnyFunSuite with SparkSpec {

  private def r2(v: Double): Double = math.floor(v * 100 + 0.5) / 100

  /** (fact_id, balance, invert, tags) — the journal lines a posted
    * invoice/refund books, with their signed tax grids. */
  private def gridTotals(rows: Seq[(Long, Double, Boolean, Seq[String])]): Map[String, Double] = {
    val s = spark; import s.implicits._
    val facts = rows.map(r => (r._1, r._2, r._3))
      .toDF("fact_id", "amount", "tax_tag_invert")
    val tagNames = rows.flatMap(_._4).distinct
    val tags = tagNames.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("tag_id", "tag_name")
    val tagId = tagNames.zipWithIndex.toMap
    val bridge = rows.flatMap(r => r._4.map(t => (r._1, tagId(t).toLong)))
      .toDF("fact_id", "tag_id")
    TaxTags.evaluate(facts, bridge, tags)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      .withDefaultValue(0.0)
  }

  /** The invoice's journal lines (:739-763 via the repartitions
    * :640-736): revenue −100 carrying both base grids (inverted — sale
    * documents book credits the report shows positive), the 11% tax
    * line, the 42% tax split 25/75, and the −10% factor line booked
    * against the minus expression. */
  private val invoiceLines = Seq(
    (1L, -100.0, true, Seq("+base_42", "+base_11")),
    (2L, -11.0, true, Seq("+tax_11")),
    (3L, -10.5, true, Seq("+tax_10_5")),
    (4L, -31.5, true, Seq("+tax_31_5")),
    (5L, 4.2, true, Seq("-tax_neg_10")))

  /** The full refund mirrors every amount against the MINUS expressions
    * (:786-792 refund_repartition_line_ids). */
  private val refundLines = Seq(
    (11L, 100.0, false, Seq("-base_42", "-base_11")),
    (12L, 11.0, false, Seq("-tax_11")),
    (13L, 10.5, false, Seq("-tax_10_5")),
    (14L, 31.5, false, Seq("-tax_31_5")),
    (15L, -4.2, false, Seq("+tax_neg_10")))

  /** Section formulas (:628-637), resolved by the aggregation engine. */
  private def sections(leaves: Map[String, Double]): Map[String, Double] =
    AggregationEvaluator.evaluate(Map(
      "Base" -> AggregationEvaluator.Expr("base_11.balance + base_42.balance"),
      "Tax" -> AggregationEvaluator.Expr("tax_42.balance + tax_11.balance + tax_neg_10.balance"),
      "tax_42.balance" -> AggregationEvaluator.Expr("tax_31_5.balance + tax_10_5.balance"),
      "TaxDifference" -> AggregationEvaluator.Expr("tax_42.balance - tax_11.balance")),
      leaves)

  private def matrix(rows: Seq[(Long, Double, Boolean, Seq[String])]): Seq[(String, Double)] = {
    val g = gridTotals(rows)
    val leaves = Map(
      "base_42.balance" -> g("base_42"), "base_11.balance" -> g("base_11"),
      "tax_10_5.balance" -> g("tax_10_5"), "tax_31_5.balance" -> g("tax_31_5"),
      "tax_11.balance" -> g("tax_11"), "tax_neg_10.balance" -> g("tax_neg_10"))
    val s = sections(leaves)
    // the display tree in SEQUENCE order (:628-637 creates the lines out
    // of order; sequence 1..10 governs), '' cells are 0.0
    Seq(
      ("Base", s("Base")), ("Base 42%", g("base_42")), ("Base 11%", g("base_11")),
      ("Total Base", s("Base")),
      ("Tax", s("Tax")), ("Tax 42%", s("tax_42.balance")),
      ("Tax 10.5%", g("tax_10_5")), ("Tax 31.5%", g("tax_31_5")),
      ("Total Tax 42%", s("tax_42.balance")),
      ("Tax 11%", g("tax_11")), ("Tax -10%", g("tax_neg_10")),
      ("Total Tax", s("Tax")),
      ("Tax difference (42%-11%)", s("TaxDifference"))).map(t => (t._1, r2(t._2)))
  }

  test("invoice: factor splits and the minus-expression grid (reference :762-784)") {
    assert(matrix(invoiceLines) == Seq(
      ("Base", 200.0), ("Base 42%", 100.0), ("Base 11%", 100.0),
      ("Total Base", 200.0),
      ("Tax", 57.2), ("Tax 42%", 42.0),
      ("Tax 10.5%", 10.5), ("Tax 31.5%", 31.5),
      ("Total Tax 42%", 42.0),
      ("Tax 11%", 11.0), ("Tax -10%", 4.2),
      ("Total Tax", 57.2),
      ("Tax difference (42%-11%)", 31.0)))
  }

  test("a full refund books the minus expressions and zeroes every line (reference :794-819)") {
    assert(matrix(invoiceLines ++ refundLines).forall(_._2 == 0.0))
  }
}
