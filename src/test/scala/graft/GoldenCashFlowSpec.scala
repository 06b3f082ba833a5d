package graft

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.report.CashFlowStatement

/** Golden matrices transcribed from the REFERENCE'S OWN cash-flow tests
  * (account_reports/tests/test_cash_flow_report.py tricky cases 1-2) —
  * the reconciliation-based flow attribution:
  *
  *  - a payment move's counterpart account nets its partials against its
  *    balance, so an overpayment surfaces as a customer advance;
  *  - reconciled outside moves contribute their other lines at the
  *    move-level paid percentage (partial payments re-valuate the whole
  *    move);
  *  - reconciliations between two payment moves change nothing;
  *  - partials dated beyond the report window are invisible until the
  *    window covers them.
  *
  * Fixtures mirror the reference's moves line by line, with partials
  * enumerated the way Odoo's FIFO reconciliation produces them (amount,
  * debit line, credit line, max date). '' cells are 0.0. */
class GoldenCashFlowSpec extends AnyFunSuite with SparkSpec {

  /** (line_id, move_id, account, atype, tag, date, balance). */
  private def linesDF(rows: Seq[(Long, Long, String, String, String, String, Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("line_id", "move_id", "account", "atype", "tag", "d", "balance")
      .withColumn("d", org.apache.spark.sql.functions.col("d").cast("timestamp"))
  }

  /** (debit_id, credit_id, amount, max date). */
  private def partialsDF(rows: Seq[(Long, Long, Double, String)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("debit_id", "credit_id", "amount", "max_d")
      .withColumn("max_d", org.apache.spark.sql.functions.col("max_d").cast("timestamp"))
  }

  /** Render the 17-row statement in layout order. */
  private def matrix(lines: DataFrame, partials: DataFrame,
                     from: String, to: String): Seq[(String, Double)] = {
    val r = CashFlowStatement.compute(lines, partials, Seq("bank"),
      LocalDate.parse(from), LocalDate.parse(to))
    CashFlowStatement.Layout.map { case (id, _, name) => (name, r.sections(id)) }
  }

  private val names = CashFlowStatement.Layout.map(_._3)
  private def expect(vals: Double*): Seq[(String, Double)] = names.zip(vals)

  // -------------------------------------------------------------------
  // test_cash_flow_tricky_case_1 (:429-611)
  // -------------------------------------------------------------------
  test("multiple payments, multiple receivable lines, advances, late entries (reference :429-611)") {
    // invoice (:439-451): two receivable lines, a no-tag and an operating
    // counterpart; NOT a payment move (no liquidity line)
    val invoice = Seq(
      (1L, 1L, "rec1", "asset_receivable", null, "2016-01-01", 345.0),
      (2L, 1L, "rec1", "asset_receivable", null, "2016-01-01", 805.0),
      (3L, 1L, "no_tag", "asset_current", null, "2016-01-01", -150.0),
      (4L, 1L, "operating", "asset_current", "operating", "2016-01-01", -1000.0))
    // payment_1 (:453-464): 20% of the invoice
    val payment1 = Seq(
      (5L, 2L, "rec1", "asset_receivable", null, "2016-02-01", -230.0),
      (6L, 2L, "bank", "asset_cash", null, "2016-02-01", 230.0))
    val p1 = Seq((1L, 5L, 230.0, "2016-02-01"))

    // first snapshot (:467-485): 20% of each counterpart line
    assert(matrix(linesDF(invoice ++ payment1), partialsDF(p1),
      "2016-01-01", "2017-01-01") == expect(
      0.0, 230.0, 200.0, 0.0, 200.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 30.0, 30.0, 0.0, 230.0))

    // payment_2 (:488-498): same amount but TWO partials, one per
    // receivable line (345-230=115 left on line 1, 115 consumed of line 2)
    val payment2 = Seq(
      (7L, 3L, "rec1", "asset_receivable", null, "2016-03-01", -230.0),
      (8L, 3L, "bank", "asset_cash", null, "2016-03-01", 230.0))
    val p2 = p1 ++ Seq((1L, 7L, 115.0, "2016-03-01"), (2L, 7L, 115.0, "2016-03-01"))
    assert(matrix(linesDF(invoice ++ payment1 ++ payment2), partialsDF(p2),
      "2016-01-01", "2017-01-01") == expect(
      0.0, 460.0, 400.0, 0.0, 400.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 60.0, 60.0, 0.0, 460.0))

    // payment_3 (:522-532): residual (690) + 1000 overpayment -> the
    // 1000 surfaces as an advance from customers
    val payment3 = Seq(
      (9L, 4L, "rec1", "asset_receivable", null, "2016-04-01", -1690.0),
      (10L, 4L, "bank", "asset_cash", null, "2016-04-01", 1690.0))
    val p3 = p2 ++ Seq((2L, 9L, 690.0, "2016-04-01"))
    val all3 = invoice ++ payment1 ++ payment2 ++ payment3
    assert(matrix(linesDF(all3), partialsDF(p3),
      "2016-01-01", "2017-01-01") == expect(
      0.0, 2150.0, 2000.0, 1000.0, 1000.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 150.0, 150.0, 0.0, 2150.0))

    // invoice_2 (:557-566) dated past the report window, reconciled with
    // payment_3 -> invisible at date_to 2017-01-01 (:570-588)...
    val invoice2 = Seq(
      (11L, 5L, "rec1", "asset_receivable", null, "2018-01-01", 1000.0),
      (12L, 5L, "operating", "asset_current", "operating", "2018-01-01", -1000.0))
    val p4 = p3 :+ ((11L, 9L, 1000.0, "2018-01-01"))
    val all4 = all3 ++ invoice2
    assert(matrix(linesDF(all4), partialsDF(p4),
      "2016-01-01", "2017-01-01") == expect(
      0.0, 2150.0, 2000.0, 1000.0, 1000.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 150.0, 150.0, 0.0, 2150.0))

    // ...and the advance resolves to operating income once the window
    // reaches 2018-01-01 (:592-610)
    assert(matrix(linesDF(all4), partialsDF(p4),
      "2016-01-01", "2018-01-01") == expect(
      0.0, 2150.0, 2000.0, 0.0, 2000.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 150.0, 150.0, 0.0, 2150.0))
  }

  // -------------------------------------------------------------------
  // test_cash_flow_tricky_case_2 (:612-745)
  // -------------------------------------------------------------------
  test("multiple receivable accounts, multi-liquidity-move reconciliations (reference :612-745)") {
    // liquidity_move_1 (:620-632)
    val liq1 = Seq(
      (1L, 1L, "rec1", "asset_receivable", null, "2016-01-01", 800.0),
      (2L, 1L, "rec3", "asset_receivable", null, "2016-01-01", -250.0),
      (3L, 1L, "no_tag", "asset_current", null, "2016-01-01", -250.0),
      (4L, 1L, "bank", "asset_cash", null, "2016-01-01", -300.0))
    assert(matrix(linesDF(liq1), partialsDF(Nil),
      "2016-01-01", "2017-01-01") == expect(
      0.0, -300.0, -550.0, -550.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 250.0, 250.0, 0.0, -300.0))

    // misc move (:655-667) reconciled on rec1 at 800/1000 of that line —
    // valuing the whole move at 800/4000 = 20%
    val misc = Seq(
      (5L, 2L, "rec1", "asset_receivable", null, "2016-02-01", -1000.0),
      (6L, 2L, "no_tag", "asset_current", null, "2016-02-01", -500.0),
      (7L, 2L, "financing", "asset_current", "financing", "2016-02-01", 4500.0),
      (8L, 2L, "rec2", "asset_receivable", null, "2016-02-01", -3000.0))
    val p1 = Seq((1L, 5L, 800.0, "2016-02-01"))
    assert(matrix(linesDF(liq1 ++ misc), partialsDF(p1),
      "2016-01-01", "2017-01-01") == expect(
      0.0, -300.0, 2650.0, 2650.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, -3600.0, 0.0, -3600.0, 650.0, 650.0, 0.0, -300.0))

    // liquidity_move_2 (:692-702) + rec2 reconciliation: the paid
    // percentage rises to 3800/4000 = 95%
    val liq2 = Seq(
      (9L, 3L, "rec2", "asset_receivable", null, "2016-03-01", 3200.0),
      (10L, 3L, "rec3", "asset_receivable", null, "2016-03-01", 200.0),
      (11L, 3L, "financing", "asset_current", "financing", "2016-03-01", -400.0),
      (12L, 3L, "bank", "asset_cash", null, "2016-03-01", -3000.0))
    val p2 = p1 :+ ((9L, 8L, 3000.0, "2016-03-01"))
    val all = liq1 ++ misc ++ liq2
    assert(matrix(linesDF(all), partialsDF(p2),
      "2016-01-01", "2017-01-01") == expect(
      0.0, -3300.0, -150.0, -150.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, -3875.0, 400.0, -4275.0, 725.0, 725.0, 0.0, -3300.0))

    // reconciling rec3 BETWEEN the two liquidity moves changes nothing
    // (:726-744)
    val p3 = p2 :+ ((10L, 2L, 200.0, "2016-03-01"))
    assert(matrix(linesDF(all), partialsDF(p3),
      "2016-01-01", "2017-01-01") == expect(
      0.0, -3300.0, -150.0, -150.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, -3875.0, 400.0, -4275.0, 725.0, 725.0, 0.0, -3300.0))
  }

  // -------------------------------------------------------------------
  // test_cash_flow_tricky_case_3 (:747-831): reconciliation on a
  // non-receivable account; a payment move dated past the window drops
  // out of the payment set (and its partial with it).
  // -------------------------------------------------------------------
  test("non-receivable reconciliation with a late payment move (reference :747-831)") {
    val lines = Seq(
      (1L, 1L, "no_tag", "asset_current", null, "2016-01-01", -500.0),
      (2L, 1L, "financing", "asset_current", "financing", "2016-01-01", 500.0),
      (3L, 2L, "bank", "asset_cash", null, "2016-01-01", 1000.0),
      (4L, 2L, "financing", "asset_current", "financing", "2016-01-01", -500.0),
      (5L, 2L, "financing", "asset_current", "financing", "2016-01-01", -500.0),
      (6L, 3L, "bank", "asset_cash", null, "2016-02-01", -500.0),
      (7L, 3L, "financing", "asset_current", "financing", "2016-02-01", 500.0))
    val partials = Seq((2L, 4L, 500.0, "2016-01-01"), (7L, 5L, 500.0, "2016-02-01"))
    // window up to 2016-01-01 (:790-808): move_3 is not a payment move
    // yet, half the financing credits stay unreconciled -> cash in 500
    assert(matrix(linesDF(lines), partialsDF(partials),
      "2016-01-01", "2016-01-01") == expect(
      0.0, 1000.0, 0.0, 0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 500.0, 500.0, 0.0, 500.0, 500.0, 0.0, 1000.0))
    // window through 2016-02-01 (:812-830): both payment moves' financing
    // legs net out, only the reconciled-move no_tag remains
    assert(matrix(linesDF(lines), partialsDF(partials),
      "2016-01-01", "2016-02-01") == expect(
      0.0, 500.0, 0.0, 0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 500.0, 500.0, 0.0, 500.0))
  }

  // -------------------------------------------------------------------
  // test_cash_flow_tricky_case_4 / _5 (:831-931): the paid percentage is
  // signed — a 1000 partial against a NET-DEBIT 3000 account must value
  // the move at -1/3, not +1/3 (and the mirrored credit case).
  // -------------------------------------------------------------------
  test("signed paid percentage on mixed-sign reconciled accounts (reference :831-931)") {
    val lines4 = Seq(
      (1L, 1L, "no_tag", "asset_current", null, "2016-01-01", -3000.0),
      (2L, 1L, "financing", "asset_current", "financing", "2016-01-01", 5000.0),
      (3L, 1L, "financing", "asset_current", "financing", "2016-01-01", -1000.0),
      (4L, 1L, "financing", "asset_current", "financing", "2016-01-01", -1000.0),
      (5L, 2L, "bank", "asset_cash", null, "2016-01-01", -1000.0),
      (6L, 2L, "financing", "asset_current", "financing", "2016-01-01", 1000.0))
    assert(matrix(linesDF(lines4), partialsDF(Seq((6L, 3L, 1000.0, "2016-01-01"))),
      "2016-01-01", "2016-01-01") == expect(
      0.0, -1000.0, 0.0, 0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -1000.0, 0.0, -1000.0, -1000.0))
    val lines5 = Seq(
      (1L, 1L, "no_tag", "asset_current", null, "2016-01-01", 3000.0),
      (2L, 1L, "financing", "asset_current", "financing", "2016-01-01", -5000.0),
      (3L, 1L, "financing", "asset_current", "financing", "2016-01-01", 1000.0),
      (4L, 1L, "financing", "asset_current", "financing", "2016-01-01", 1000.0),
      (5L, 2L, "bank", "asset_cash", null, "2016-01-01", 1000.0),
      (6L, 2L, "financing", "asset_current", "financing", "2016-01-01", -1000.0))
    assert(matrix(linesDF(lines5), partialsDF(Seq((3L, 6L, 1000.0, "2016-01-01"))),
      "2016-01-01", "2016-01-01") == expect(
      0.0, 1000.0, 0.0, 0.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1000.0, 1000.0, 0.0, 1000.0))
  }

  // -------------------------------------------------------------------
  // test_cash_flow_tricky_case_6 (:933-1007): additional lines on
  // liquidity moves; the outside move's two receivable accounts net to a
  // zero move total, so only the reconciled amounts themselves count.
  // -------------------------------------------------------------------
  test("bank fees on liquidity moves with a zero-total outside move (reference :933-1007)") {
    val lines = Seq(
      (1L, 1L, "bank", "asset_cash", null, "2016-01-01", 3000.0),
      (2L, 1L, "investing", "asset_current", "investing", "2016-01-01", -1000.0),
      (3L, 1L, "rec2", "asset_receivable", null, "2016-01-01", -2000.0),
      (4L, 2L, "bank", "asset_cash", null, "2016-01-01", -3000.0),
      (5L, 2L, "no_tag", "asset_current", null, "2016-01-01", 1000.0),
      (6L, 2L, "rec1", "asset_receivable", null, "2016-01-01", 2000.0),
      (7L, 3L, "bank", "asset_cash", null, "2016-01-01", 1000.0),
      (8L, 3L, "no_tag", "asset_current", null, "2016-01-01", 1000.0),
      (9L, 3L, "rec2", "asset_receivable", null, "2016-01-01", -2000.0),
      (10L, 4L, "bank", "asset_cash", null, "2016-01-01", -1000.0),
      (11L, 4L, "investing", "asset_current", "investing", "2016-01-01", -1000.0),
      (12L, 4L, "rec1", "asset_receivable", null, "2016-01-01", 2000.0),
      (13L, 5L, "rec1", "asset_receivable", null, "2016-01-01", -4000.0),
      (14L, 5L, "rec2", "asset_receivable", null, "2016-01-01", 4000.0))
    val partials = Seq(
      (6L, 13L, 2000.0, "2016-01-01"), (12L, 13L, 2000.0, "2016-01-01"),
      (14L, 3L, 2000.0, "2016-01-01"), (14L, 9L, 2000.0, "2016-01-01"))
    assert(matrix(linesDF(lines), partialsDF(partials),
      "2016-01-01", "2016-01-01") == expect(
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
      2000.0, 2000.0, 0.0, 0.0, 0.0, 0.0, -2000.0, 0.0, -2000.0, 0.0))
  }

  // -------------------------------------------------------------------
  // test_cash_flow_tricky_case_7 (:1009-1061): a reconciled liquidity
  // account — partials between two payment moves' BANK lines are ignored.
  // -------------------------------------------------------------------
  test("cross-reconciled liquidity account between payment moves (reference :1009-1061)") {
    val lines = Seq(
      (1L, 1L, "bank", "asset_cash", null, "2016-01-01", 3000.0),
      (2L, 1L, "financing", "asset_current", "financing", "2016-01-01", -1000.0),
      (3L, 1L, "rec2", "asset_receivable", null, "2016-01-01", -2000.0),
      (4L, 2L, "bank", "asset_cash", null, "2016-01-01", -1500.0),
      (5L, 2L, "no_tag", "asset_current", null, "2016-01-01", 500.0),
      (6L, 2L, "rec1", "asset_receivable", null, "2016-01-01", 1000.0))
    assert(matrix(linesDF(lines), partialsDF(Seq((1L, 4L, 1500.0, "2016-01-01"))),
      "2016-01-01", "2016-01-01") == expect(
      0.0, 1500.0, 1000.0, 1000.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 1000.0, 1000.0, 0.0, -500.0, 0.0, -500.0, 1500.0))
  }

  // -------------------------------------------------------------------
  // test_cash_flow_tricky_case_8 / _9 (:1063-1169): partial double
  // reconciliation against zero-total accounts of a zero-total move.
  // -------------------------------------------------------------------
  test("partial double reconciliation against a zero-total move (reference :1063-1169)") {
    val lines8 = Seq(
      (1L, 1L, "bank", "asset_cash", null, "2016-01-01", -100.0),
      (2L, 1L, "rec2", "asset_receivable", null, "2016-01-01", 900.0),
      (3L, 1L, "no_tag", "asset_current", null, "2016-01-01", -400.0),
      (4L, 1L, "financing", "asset_current", "financing", "2016-01-01", -400.0),
      (5L, 2L, "no_tag", "asset_current", null, "2016-01-01", 500.0),
      (6L, 2L, "no_tag", "asset_current", null, "2016-01-01", -500.0),
      (7L, 2L, "financing", "asset_current", "financing", "2016-01-01", 500.0),
      (8L, 2L, "financing", "asset_current", "financing", "2016-01-01", -500.0))
    val partials8 = Seq((5L, 3L, 400.0, "2016-01-01"), (7L, 4L, 400.0, "2016-01-01"))
    assert(matrix(linesDF(lines8), partialsDF(partials8),
      "2016-01-01", "2016-01-01") == expect(
      0.0, -100.0, -900.0, -900.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, 400.0, 400.0, 0.0, 400.0, 400.0, 0.0, -100.0))
    val lines9 = Seq(
      (1L, 1L, "bank", "asset_cash", null, "2016-01-01", 100.0),
      (2L, 1L, "rec2", "asset_receivable", null, "2016-01-01", -900.0),
      (3L, 1L, "no_tag", "asset_current", null, "2016-01-01", 400.0),
      (4L, 1L, "financing", "asset_current", "financing", "2016-01-01", 400.0),
      (5L, 2L, "no_tag", "asset_current", null, "2016-01-01", -500.0),
      (6L, 2L, "no_tag", "asset_current", null, "2016-01-01", 500.0),
      (7L, 2L, "financing", "asset_current", "financing", "2016-01-01", -500.0),
      (8L, 2L, "financing", "asset_current", "financing", "2016-01-01", 500.0))
    val partials9 = Seq((3L, 5L, 400.0, "2016-01-01"), (4L, 7L, 400.0, "2016-01-01"))
    assert(matrix(linesDF(lines9), partialsDF(partials9),
      "2016-01-01", "2016-01-01") == expect(
      0.0, 100.0, 900.0, 900.0, 0.0, 0.0, 0.0,
      0.0, 0.0, 0.0, -400.0, 0.0, -400.0, -400.0, 0.0, -400.0, 100.0))
  }

  test("a null account type dispatches through the tag/sign fallback, never aborts") {
    // code-review regression (r14): the single-collect refactor briefly
    // read atype through Option.get — a counterpart line on an account
    // with no enumerated type must land in unclassified, not crash
    val lines = Seq(
      (1L, 1L, "bank", "asset_cash", null, "2016-01-01", 100.0),
      (2L, 1L, "weird", null, null, "2016-01-01", -100.0))
    val r = CashFlowStatement.compute(linesDF(lines), partialsDF(Nil),
      Seq("bank"), LocalDate.parse("2016-01-01"), LocalDate.parse("2016-12-31"))
    assert(r.sections("unclassified_activities_cash_in") == 100.0)
    assert(r.sections("net_increase") == 100.0)
  }
}
