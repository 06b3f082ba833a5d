package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden matrix transcribed from the REFERENCE'S OWN EC sales report
  * test (account_reports/tests/test_account_sales_report_generic.py:
  * 29-94): intra-community sales per partner, restricted to lines taxed
  * with an ELIGIBLE tax — percent-type with a zero rate; fixed-type and
  * nonzero-rate taxes are ignored — with the VAT number split into its
  * country prefix and number, and a grand total. */
class GoldenSalesReportSpec extends AnyFunSuite with SparkSpec {

  test("eligible zero-percent taxes only, per partner with VAT split (reference :83-94)") {
    val s = spark; import s.implicits._
    // :70-79 — (partner, vat, tax amount_type, tax amount, price)
    val lines = Seq(
      ("Partner A", "FR23334175221", "percent", 0.0, 100.0),
      ("Partner A", "FR23334175221", "percent", 0.0, 200.0),
      ("Partner A", "FR23334175221", "percent", 0.0, 300.0),
      ("Partner B", "BE0477472701", "percent", 0.0, 100.0),
      ("Partner A", "FR23334175221", "percent", 0.0, 400.0),
      ("Partner B", "BE0477472701", "percent", 0.0, 500.0),
      ("Partner B", "BE0477472701", "fixed", 0.0, 700.0),   // ignored: fixed
      ("Partner B", "BE0477472701", "percent", 10.0, 700.0)) // ignored: rate
      .toDF("partner", "vat", "amount_type", "tax_amount", "price")
    val rows = lines
      .filter(col("amount_type") === "percent" && col("tax_amount") === 0.0)
      .groupBy(col("partner"), col("vat"))
      .agg(sum(col("price")).as("amount"))
      .orderBy(col("partner"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1).take(2), r.getString(1).drop(2),
        r.getDouble(2)))
    assert(rows == Seq(
      ("Partner A", "FR", "23334175221", 1000.0),
      ("Partner B", "BE", "0477472701", 600.0)))
    assert(rows.map(_._4).sum == 1600.0)
  }
}
