package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.report.Handlers

/** Golden matrices transcribed from the REFERENCE'S OWN bank
  * reconciliation report tests
  * (account_reports/tests/test_reconciliation_report.py).
  *
  * Semantics pinned:
  *  - the journal's book balance = every statement line dated up to the
  *    report date, reconciled or not;
  *  - the "Including Unreconciled ..." sections list the unreconciled
  *    statement lines split by sign; "Outstanding ..." the not-yet-
  *    matched payments split by sign (an outbound payment is a negative
  *    receipt regardless of partner type);
  *  - every section is windowed by the report date
  *    (test_reconciliation_change_date shows lines entering the report
  *    one day at a time).
  *
  * Sublines here render in (date, label) order; the reference's first
  * matrix lists them in creation order, so its rows are transcribed
  * re-sorted with values untouched. */
class GoldenReconciliationSpec extends AnyFunSuite with SparkSpec {

  /** Statement lines: (move label, date, amount, reconciled). */
  private def statements(rows: Seq[(String, String, Double, Boolean)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("move", "d", "amount", "reconciled")
  }
  /** Payments: (move label, date, amount signed, outstanding). */
  private def payments(rows: Seq[(String, String, Double, Boolean)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("move", "d", "amount", "outstanding")
  }

  private case class Row(name: String, date: String, amount: Double)

  /** Render the report layout (:133-169 shape) as of `asOf`. */
  private def render(st: DataFrame, pay: DataFrame, asOf: String,
                     account: String): Seq[Row] = {
    def window(df: DataFrame) = df.filter(col("d") <= asOf)
      .orderBy(col("d"), col("move"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
    val stRows = window(st)
    val payRows = window(pay).filter(_._4)
    def disp(d: String) = {
      val p = d.split("-"); s"${p(1)}/${p(2)}/${p(0)}"
    }
    def section(title: String, rows: Seq[(String, String, Double, Boolean)]): Seq[Row] =
      if (rows.isEmpty) Nil
      else Seq(Row(title, "", rows.map(_._3).sum)) ++
        rows.map(r => Row(r._1, disp(r._2), r._3)) :+
        Row(s"Total $title", "", rows.map(_._3).sum)
    val gl = stRows.map(_._3).sum
    val unrec = stRows.filterNot(_._4)
    val balanceBlock =
      Seq(Row(s"Balance of $account", disp(asOf), gl)) ++
        section("Including Unreconciled Bank Statement Receipts", unrec.filter(_._3 > 0)) ++
        section("Including Unreconciled Bank Statement Payments", unrec.filter(_._3 < 0)) :+
        Row(s"Total Balance of $account", disp(asOf), gl)
    val outBlock =
      if (payRows.isEmpty) Nil
      else Seq(Row("Outstanding Payments/Receipts", "", payRows.map(_._3).sum)) ++
        section("(+) Outstanding Receipts", payRows.filter(_._3 > 0)) ++
        section("(-) Outstanding Payments", payRows.filter(_._3 < 0)) :+
        Row("Total Outstanding Payments/Receipts", "", payRows.map(_._3).sum)
    balanceBlock ++ outBlock
  }

  // :37-114 — two statements (600/-500 in 2014; 100/200/-300/-400 in
  // 2015, the 100 and -300 reconciled against payments 1 and 2) and four
  // payments (the inbound 150 / outbound 250 reconciled; the outbound
  // 350 and inbound 450 outstanding — partner TYPE does not flip signs)
  private def fixtureSt = statements(Seq(
    ("BNKKK/2014/00001", "2014-12-31", 600.0, false),
    ("BNKKK/2014/00002", "2014-12-31", -500.0, false),
    ("BNKKK/2015/00001", "2015-01-01", 100.0, true),
    ("BNKKK/2015/00002", "2015-01-02", 200.0, false),
    ("BNKKK/2015/00003", "2015-01-03", -300.0, true),
    ("BNKKK/2015/00004", "2015-01-04", -400.0, false)))
  private def fixturePay = payments(Seq(
    ("PBNKKK/2015/00001", "2015-01-01", 150.0, false),
    ("PBNKKK/2015/00002", "2015-01-02", -250.0, false),
    ("PBNKKK/2015/00003", "2015-01-03", -350.0, true),
    ("PBNKKK/2015/00004", "2015-01-04", 450.0, true)))

  test("single currency as of 2016-01-02 (reference :136-169, sublines date-sorted)") {
    assert(render(fixtureSt, fixturePay, "2016-01-02", "101405 Bank") == Seq(
      Row("Balance of 101405 Bank", "01/02/2016", -300.0),
      Row("Including Unreconciled Bank Statement Receipts", "", 800.0),
      Row("BNKKK/2014/00001", "12/31/2014", 600.0),
      Row("BNKKK/2015/00002", "01/02/2015", 200.0),
      Row("Total Including Unreconciled Bank Statement Receipts", "", 800.0),
      Row("Including Unreconciled Bank Statement Payments", "", -900.0),
      Row("BNKKK/2014/00002", "12/31/2014", -500.0),
      Row("BNKKK/2015/00004", "01/04/2015", -400.0),
      Row("Total Including Unreconciled Bank Statement Payments", "", -900.0),
      Row("Total Balance of 101405 Bank", "01/02/2016", -300.0),
      Row("Outstanding Payments/Receipts", "", 100.0),
      Row("(+) Outstanding Receipts", "", 450.0),
      Row("PBNKKK/2015/00004", "01/04/2015", 450.0),
      Row("Total (+) Outstanding Receipts", "", 450.0),
      Row("(-) Outstanding Payments", "", -350.0),
      Row("PBNKKK/2015/00003", "01/03/2015", -350.0),
      Row("Total (-) Outstanding Payments", "", -350.0),
      Row("Total Outstanding Payments/Receipts", "", 100.0)))

    // the same fixture through the real 6-line summary handler (q113's
    // machinery) — section totals must agree with the rendered report
    val summary = Handlers.Reconciliation.compute(fixtureSt, fixturePay)
      .collect().toSeq.map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(summary == Seq(
      ("balance_gl", 6L, -300.0),
      ("plus_unreconciled_statements", 2L, 800.0),
      ("less_unreconciled_statements", 2L, -900.0),
      ("plus_outstanding_payments", 1L, 450.0),
      ("less_outstanding_payments", 1L, -350.0),
      // unexplained = book balance minus the reconciled statement sum
      ("unexplained_difference", 0L, -100.0)))
  }

  test("empty statements and payments give six zeroed lines") {
    val summary = Handlers.Reconciliation.compute(statements(Nil), payments(Nil))
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(summary == Seq(
      (1L, "balance_gl", 0L, 0.0),
      (2L, "plus_unreconciled_statements", 0L, 0.0),
      (3L, "less_unreconciled_statements", 0L, 0.0),
      (4L, "plus_outstanding_payments", 0L, 0.0),
      (5L, "less_outstanding_payments", 0L, 0.0),
      (6L, "unexplained_difference", 0L, 0.0)))
  }

  // :301-390 — the date window drives every section
  test("changing the report date moves lines in and out (reference :342-390)") {
    val st = statements(Seq(
      ("BNK1/2019/00001", "2019-01-01", 10.0, false),
      ("BNK1/2019/00002", "2019-01-02", 20.0, false),
      ("BNK1/2019/00003", "2019-01-03", 30.0, false),
      ("BNK1/2019/00004", "2019-01-04", -40.0, false),
      ("BNK1/2019/00005", "2019-01-05", 50.0, false),
      ("BNK1/2019/00006", "2019-01-06", 60.0, false)))
    val pay = payments(Seq(("PBNK1/2019/00001", "2019-01-03", 1000.0, true)))

    assert(render(st, pay, "2019-01-01", "101404 Bank") == Seq(
      Row("Balance of 101404 Bank", "01/01/2019", 10.0),
      Row("Including Unreconciled Bank Statement Receipts", "", 10.0),
      Row("BNK1/2019/00001", "01/01/2019", 10.0),
      Row("Total Including Unreconciled Bank Statement Receipts", "", 10.0),
      Row("Total Balance of 101404 Bank", "01/01/2019", 10.0)))

    assert(render(st, pay, "2019-01-04", "101404 Bank") == Seq(
      Row("Balance of 101404 Bank", "01/04/2019", 20.0),
      Row("Including Unreconciled Bank Statement Receipts", "", 60.0),
      Row("BNK1/2019/00001", "01/01/2019", 10.0),
      Row("BNK1/2019/00002", "01/02/2019", 20.0),
      Row("BNK1/2019/00003", "01/03/2019", 30.0),
      Row("Total Including Unreconciled Bank Statement Receipts", "", 60.0),
      Row("Including Unreconciled Bank Statement Payments", "", -40.0),
      Row("BNK1/2019/00004", "01/04/2019", -40.0),
      Row("Total Including Unreconciled Bank Statement Payments", "", -40.0),
      Row("Total Balance of 101404 Bank", "01/04/2019", 20.0),
      Row("Outstanding Payments/Receipts", "", 1000.0),
      Row("(+) Outstanding Receipts", "", 1000.0),
      Row("PBNK1/2019/00001", "01/03/2019", 1000.0),
      Row("Total (+) Outstanding Receipts", "", 1000.0),
      Row("Total Outstanding Payments/Receipts", "", 1000.0)))
  }
}
